"""jsonql-style CLI parity (reference entry point #2,
``cc_net/jsonql.py:1338-1340``): `--`-separated pipe groups, the {field}
expression language, select/where/describe/split/shard over jsonl and
parquet."""

import json

import pytest

from cc_net_spark import jsonql_cli as cli


@pytest.fixture(scope="module")
def docs_jsonl(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("cli") / "docs.jsonl"
    rows = [
        {"doc_id": i, "lang": "en" if i % 3 == 0 else "de", "n_chars": 50 + i,
         "text": f"doc {i}"}
        for i in range(30)
    ]
    p.write_text("\n".join(json.dumps(r) for r in rows))
    return str(p)


def test_translate_expr():
    assert cli.translate_expr('{lang}=="en"') == '`lang`="en"'
    got = cli.translate_expr('{lang}=="en" and {n_chars}>=60')
    assert "`lang`" in got and "=" in got and "<>" not in got
    assert cli.translate_expr("{a}!={b}") == "`a`<>`b`"
    # dotted refs quote each segment (nested struct access, not a
    # top-level column literally named "meta.score")
    assert cli.translate_expr("{meta.score} >= 0.5") == "`meta`.`score` >= 0.5"
    # operators inside string literals are NOT rewritten
    assert cli.translate_expr('{t}=="a==b"') == '`t`="a==b"'
    assert cli.translate_expr("{t}!='x!=y'") == "`t`<>'x!=y'"


def test_where_on_nested_field(spark, tmp_path):
    import json as _json

    p = tmp_path / "nested.jsonl"
    p.write_text(
        "\n".join(
            _json.dumps({"doc_id": i, "meta": {"score": i / 10.0}}) for i in range(10)
        )
    )
    df, _, _ = cli.run(
        spark, ["where", "{meta.score} >= 0.5", "--", "select", "doc_id",
                "--file", str(p)]
    )
    assert sorted(r["doc_id"] for r in df.collect()) == [5, 6, 7, 8, 9]


def test_cli_argument_errors():
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        cli.run(None, ["select", "doc_id", "--file"])
    with _pytest.raises(SystemExit):
        cli.run(None, ["select", "doc_id"])  # no --file, no df
    with _pytest.raises(SystemExit):
        cli.apply_command(None, ["frobnicate"])


def test_where_select_pipeline(spark, docs_jsonl):
    df, out, pb = cli.run(
        spark,
        ["where", '{lang}=="en" and {n_chars}>=60', "--",
         "select", "doc_id", "n_chars", "--file", docs_jsonl],
    )
    rows = df.collect()
    assert df.columns == ["doc_id", "n_chars"]
    assert all(r["n_chars"] >= 60 for r in rows)
    assert {r["doc_id"] % 3 for r in rows} == {0}
    assert out is None and pb is None


def test_describe(spark, docs_jsonl):
    df, _, _ = cli.run(spark, ["describe", "lang", "text", "--file", docs_jsonl])
    got = {r["column"]: r for r in df.collect()}
    assert got["lang"]["n_present"] == 30 and got["lang"]["n_distinct"] == 2
    assert got["text"]["n_distinct"] == 30


def test_split_writes_partitioned_output(spark, docs_jsonl, tmp_path):
    out = str(tmp_path / "routed")
    cli.main(["split", "lang", "--file", docs_jsonl, "--output", out])
    routed = spark.read.parquet(out)
    assert set(r["lang"] for r in routed.select("lang").distinct().collect()) == {
        "en", "de",
    }
    # partition pruning works on the routed layout
    assert routed.filter("lang = 'en'").count() == 10


def test_shard_controls_output_files(spark, docs_jsonl, tmp_path):
    out = str(tmp_path / "sharded")
    cli.main(["shard", "3", "--file", docs_jsonl, "--output", out])
    import glob

    files = glob.glob(out + "/*.parquet")
    assert len(files) == 3
    assert spark.read.parquet(out).count() == 30


def test_module_cli_mine_end_to_end(spark, tmp_path):
    """`python -m cc_net_spark mine` — the reference's primary entry
    point (cc_net/__main__.py) — runs the default pipeline and writes
    the split-by-lang docs + minified metadata."""
    from cc_net_spark.__main__ import main as mod_main
    from cc_net_spark.sources import synth

    clips = synth.generate_clips(spark, 32, seed=42, with_audio=False)
    src = str(tmp_path / "in.parquet")
    clips.selectExpr("clip_id AS doc_id", "transcript AS raw_content").write.parquet(src)
    out = str(tmp_path / "mined")
    mod_main(["mine", "--input", src, "--output", out, "--id-col", "doc_id"])
    docs = spark.read.parquet(out + "/docs")
    meta = spark.read.parquet(out + "/metadata")
    assert docs.count() > 0 and meta.count() > 0
    assert "lang" in docs.columns and "bucket" in docs.columns
    assert "line_ids" in meta.columns


def test_module_cli_neardup_end_to_end(spark, tmp_path):
    """`python -m cc_net_spark neardup` — incremental near-dup over
    arriving shards, then the compaction maintenance subcommand."""
    import json as _json

    from cc_net_spark.__main__ import main as mod_main

    # letter-only vocabulary: digits collapse to '0' under
    # normalize_for_dedup, which would degenerate the shingle sets
    _l = "abcdefghijklmnopqrstuvwxyz"
    base = " ".join(f"w{_l[i // 26]}{_l[i % 26]}" for i in range(40))
    other = " ".join(f"x{_l[i // 26]}{_l[i % 26]}" for i in range(40))
    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "s0.json").write_text(
        _json.dumps({"clip_id": "a0", "transcript": base})
        + "\n"
        + _json.dumps({"clip_id": "a1", "transcript": other})
    )
    args = [
        "neardup", "--input", str(inp), "--state", str(tmp_path / "state"),
        "--output", str(tmp_path / "out"), "--checkpoint", str(tmp_path / "ckpt"),
    ]
    mod_main(args)
    (inp / "s1.json").write_text(
        _json.dumps({"clip_id": "b0", "transcript": base})
    )
    mod_main(args)  # resumes from checkpoint, processes only s1

    flags = {
        r["clip_id"]: r["is_near_dup"]
        for r in spark.read.parquet(str(tmp_path / "out" / "flags")).collect()
    }
    assert flags == {"a0": False, "a1": False, "b0": True}

    mod_main(["neardup", "--state", str(tmp_path / "state"), "--compact-upto", "2"])
    from cc_net_spark.sources.hadoop_fs import live_tree

    live = live_tree(spark, str(tmp_path / "state"))
    assert live.endswith("/v1")  # compacted in place: CURRENT flipped
    sigs = spark.read.parquet(f"{live}/sigs")
    assert sigs.count() == 3
    assert sigs.select("_batch_id").distinct().count() == 1


def test_histogram_reference_vectors(spark):
    """Ports the expectations of the reference's test_histogram
    (``cc_net/tests/test_jsonql.py:52-62``): numpy-histogram bin edges
    and counts, including the all-edges-inclusive rightmost bin."""
    data = [0.1, 0.1, 0.1, 0.1, 0.4, 0.4, 0.9, 0.9]
    df = spark.createDataFrame([(v,) for v in data], "pop double")
    rows = cli.histogram_df(df, "pop", bins=8).orderBy("bucket").collect()
    assert [r["n"] for r in rows] == [4, 0, 0, 2, 0, 0, 0, 2]
    assert [round(r["bin_lo"], 6) for r in rows] == [
        round(0.1 * x, 6) for x in range(1, 9)
    ]
    assert rows[-1]["bin_hi"] == 0.9

    data2 = [0, 0.1, 0.1, 0.1, 0.1, 0.4, 0.4, 0.8, 0.8, 1]
    df2 = spark.createDataFrame([(float(v),) for v in data2], "pop double")
    rows2 = cli.histogram_df(df2, "pop", bins=10).orderBy("bucket").collect()
    assert [r["n"] for r in rows2] == [1, 4, 0, 0, 2, 0, 0, 0, 2, 1]


def test_histogram_weighted_and_cumulative(spark):
    """display_stats' weighted + cumulative options
    (``cc_net/jsonql.py:801-826``): edges from values alone, weights
    summed per bin; cumulative running-sums (test_display_stats's
    cumulative expectations: [4, 6, 8] at bins 0/3/7)."""
    data = [0.1, 0.1, 0.1, 0.1, 0.4, 0.4, 0.9, 0.9]
    df = spark.createDataFrame([(v, 2.0 * i) for i, v in enumerate(data)],
                               "pop double, w double")
    rows = cli.histogram_df(df, "pop", bins=8, weight_col="w").orderBy("bucket").collect()
    # weights 0,2,4,6 | 8,10 | 12,14 summed into bins 0/3/7
    assert [r["n"] for r in rows] == [12.0, 0, 0, 18.0, 0, 0, 0, 26.0]

    cum = cli.histogram_df(df, "pop", bins=8, cumulative=True).orderBy("bucket").collect()
    assert [r["n"] for r in cum] == [4, 4, 4, 6, 6, 6, 6, 8]


def test_describe_labels(spark):
    """display_stats' top-label output (``cc_net/jsonql.py:829-838``):
    floor 5, long values are not labels, ratio = n / n_present."""
    rows = (
        [("en", "short")] * 6
        + [("de", "short")] * 5
        + [("fr", "short")] * 2          # below the floor of 5
        + [(None, "short")] * 3          # nulls are absent fields
        + [("en", "x" * 150)] * 2        # too long to be a label
    )
    df = spark.createDataFrame(rows, "lang string, note string")
    got = {
        (r["column"], r["label"]): (r["n"], r["ratio"])
        for r in cli.describe_labels(df).collect()
    }
    assert got[("lang", "en")] == (8, round(8 / 15, 6))
    assert got[("lang", "de")] == (5, round(5 / 15, 6))
    assert ("lang", "fr") not in got          # floor
    assert got[("note", "short")] == (16, round(16 / 18, 6))
    assert not any(c == "note" and len(l) > 100 for c, l in got)  # long skipped

    # top-N cutoff is deterministic: ties break label-asc
    many = spark.createDataFrame(
        [(f"l{i:03d}",) for i in range(30) for _ in range(5)], "lab string"
    )
    top10 = cli.describe_labels(many, top=10).collect()
    assert sorted(r["label"] for r in top10) == [f"l{i:03d}" for i in range(10)]


def test_cli_labels_and_histogram_verbs(spark, docs_jsonl):
    df, _, _ = cli.run(spark, ["labels", "lang", "--file", docs_jsonl])
    got = {r["label"]: r["n"] for r in df.collect()}
    assert got == {"en": 10, "de": 20}
    df2, _, _ = cli.run(
        spark, ["histogram", "n_chars", "bins=5", "cumulative", "--file", docs_jsonl]
    )
    rows = df2.orderBy("bucket").collect()
    assert [r["n"] for r in rows] == [6, 12, 18, 24, 30]  # cumulative


def test_translate_expr_full_surface():
    """The reference compile_expr clause forms (``cc_net/jsonql.py:
    600-624``) transliterated: doc examples, membership lists, null
    tests, python literals, len(), the --requires random idiom."""
    t = cli.translate_expr
    assert t("len({text}) > 100") == "length(`text`) > 100"  # doc example
    assert t("{length} > 100") == "`length` > 100"
    assert t("{lang}=='en'") == "`lang`='en'"
    assert t("{lang} in ['en', 'de']") == "`lang` in ('en', 'de')"
    assert t("{lang} not in ['en']") == "`lang` not in ('en')"
    assert t("{title} is None") == "`title` IS NULL"
    assert t("{title} is not None") == "`title` IS NOT NULL"
    # equality with None is a NULL TEST, not `= NULL` (which would
    # silently match zero rows)
    assert t("{flag} == True or {x} == None") == "`flag` = true or `x` IS NULL"
    assert t("{x} != None") == "`x` IS NOT NULL"
    assert t("random.random() < 0.5") == "rand() < 0.5"
    # rewrites never reach into string literals
    assert t("{t} == 'len(x) in [None]'") == "`t` = 'len(x) in [None]'"
    # chained boolean ops pass through
    got = t("{a} > 1 and {b} < 2 or not {c} == 3")
    assert got == "`a` > 1 and `b` < 2 or not `c` = 3"


def test_where_full_surface_executes(spark, docs_jsonl):
    df, _, _ = cli.run(
        spark,
        ["where", "{lang} in ['en'] and len({text}) > 4 and {doc_id} is not None",
         "--file", docs_jsonl],
    )
    rows = df.collect()
    assert len(rows) == 10 and all(r["lang"] == "en" for r in rows)
    # the random-sampling idiom parses and bounds correctly
    sampled, _, _ = cli.run(
        spark, ["where", "random.random() < 0.5", "--file", docs_jsonl]
    )
    assert 0 <= sampled.count() <= 30


# ---------------------------------------------------------------------------
# property tests: the {field} translation must never corrupt string
# literals and must always consume python-isms outside them
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_lit_text = st.text(
    alphabet=st.characters(
        codec="ascii", exclude_characters="'\"\\\n\r"
    ),
    max_size=12,
)
_field = st.from_regex(r"[a-z][a-z0-9_]{0,6}", fullmatch=True)


@st.composite
def _clauses(draw):
    kind = draw(st.sampled_from(["cmp", "inlist", "null", "len"]))
    f = draw(_field)
    if kind == "cmp":
        op = draw(st.sampled_from(["==", "!=", ">", "<=", ">=", "<"]))
        lit = draw(_lit_text)
        return f"{{{f}}} {op} '{lit}'", [lit]
    if kind == "inlist":
        lits = draw(st.lists(_lit_text, min_size=1, max_size=3))
        neg = draw(st.booleans())
        arr = ", ".join(f"'{x}'" for x in lits)
        return f"{{{f}}} {'not in' if neg else 'in'} [{arr}]", lits
    if kind == "null":
        neg = draw(st.booleans())
        return f"{{{f}}} {'is not' if neg else 'is'} None", []
    return f"len({{{f}}}) > {draw(st.integers(0, 999))}", []


@settings(max_examples=200, deadline=None)
@given(st.lists(_clauses(), min_size=1, max_size=4), st.data())
def test_translate_expr_properties(clauses, data):
    parts, all_lits = zip(*clauses)
    joiners = [
        data.draw(st.sampled_from([" and ", " or "]))
        for _ in range(len(parts) - 1)
    ]
    expr = parts[0]
    for j, p in zip(joiners, parts[1:]):
        expr += j + p
    out = cli.translate_expr(expr)
    # every string literal survives verbatim
    for lit in (x for lits in all_lits for x in lits):
        assert f"'{lit}'" in out
    # all python-isms consumed outside literals
    import re as _re

    stripped = _re.sub(r"'[^']*'", "", out)
    assert "[" not in stripped and "]" not in stripped
    assert "==" not in stripped and "!=" not in stripped
    assert "None" not in stripped
    assert not _re.search(r"\blen\(", stripped)
    # every field reference is backtick-quoted
    assert "{" not in stripped and "}" not in stripped
