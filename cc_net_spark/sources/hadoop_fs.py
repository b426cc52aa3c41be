"""Hadoop FileSystem helpers and the engine's one commit protocol.

Everything here is a METADATA operation through the JVM's Hadoop FS API:
no Spark jobs, no exception probing (a 1-row Spark write costs a whole
job; `spark.read.parquet(missing)` costs ~0.9 s of AnalysisException
machinery on first use, `FileSystem.exists` ~20 ms), and it works on any
supported scheme (file/s3a/hdfs/abfs) where a pathlib walk would mangle
the URI or misreport existence.

The commit protocol (the reference commits each output by writing a tmp
file and renaming it, ``cc_net/mine.py:221-234``):

* ``commit_small_text`` publishes a small file: write ``<f>.tmp``,
  delete ``<f>``, rename. ``read_committed`` rolls a crash between the
  delete and the rename forward (the complete ``.tmp`` IS the committed
  value), so a reader sees the old content or the new, never a mix —
  also where rename is copy+delete (a crash between the copy and the
  delete leaves ``<f>`` complete).
* a POINTER ROOT holds versioned trees ``<root>/v<N>`` and a one-line
  ``<root>/CURRENT`` naming the live one. ``live_tree`` resolves it,
  ``ensure_live_tree`` creates ``CURRENT -> v0`` on a root's first write,
  and ``publish_next`` writes the next version out of place, flips
  ``CURRENT`` with one small-file commit and deletes the old tree —
  no directory rename is ever part of a commit.

Every mutating call a commit makes goes through ``write_small_text``,
``fs_delete`` or ``fs_rename`` (and the helpers here call them by module
global), so a fault injector patches exactly these three.
"""

from __future__ import annotations

import re
from typing import Callable

from pyspark.sql import SparkSession

# "<scheme>:" or "<scheme>://<authority>" — the FileSystem cache key
_SCHEME = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*):(?://([^/]*))?")
_VERSION = re.compile(r"v\d+")


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any Hadoop-supported scheme. The Path class
    (a 1.8 ms py4j package walk), the Hadoop conf and one FileSystem per
    scheme + authority are looked up once per SparkContext."""
    sc = spark.sparkContext
    handles = getattr(sc, "_hadoop_fs_handles", None)
    if handles is None:
        handles = {
            "Path": spark._jvm.org.apache.hadoop.fs.Path,
            "conf": spark._jsc.hadoopConfiguration(),
        }
        sc._hadoop_fs_handles = handles
    jpath = handles["Path"](path)
    m = _SCHEME.match(path)
    key = (m.group(1).lower(), m.group(2) or "") if m else ("", "")
    fs = handles.get(key)
    if fs is None:
        fs = handles[key] = jpath.getFileSystem(handles["conf"])
    return fs, jpath


def read_small_text(spark: SparkSession, path: str) -> str | None:
    """Contents of a small text/JSON marker file, or None if absent."""
    fs, jpath = hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


# -- the three mutating calls ----------------------------------------------


def write_small_text(spark: SparkSession, path: str, content: str) -> None:
    """Create (overwrite) a small text file — not atomic on its own; a
    commit goes through ``commit_small_text``."""
    fs, jpath = hadoop_fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(content.encode()))
    finally:
        out.close()


def fs_delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    """Delete a file or tree; False if it was absent."""
    fs, jpath = hadoop_fs(spark, path)
    return fs.delete(jpath, recursive)


def fs_rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` to an absent ``dst``; raises if the FS refuses."""
    fs, jsrc = hadoop_fs(spark, src)
    _, jdst = hadoop_fs(spark, dst)
    if not fs.rename(jsrc, jdst):
        raise OSError(f"rename {src} -> {dst} failed")


# -- small-file commit -----------------------------------------------------


def commit_small_text(spark: SparkSession, path: str, content: str) -> None:
    """Atomically publish a small file: write ``<path>.tmp``, delete
    ``<path>``, rename. A crash before the delete leaves the old file;
    after it, only the complete ``.tmp``, which ``read_committed`` rolls
    forward."""
    write_small_text(spark, path + ".tmp", content)
    fs_delete(spark, path, False)
    fs_rename(spark, path + ".tmp", path)


def uncommit_small_text(spark: SparkSession, path: str) -> None:
    """Withdraw a committed small file. The ``.tmp`` goes first, so a
    crash in between leaves the old file rather than a stale ``.tmp`` to
    roll forward."""
    fs_delete(spark, path + ".tmp", False)
    fs_delete(spark, path, False)


def read_committed(
    spark: SparkSession, path: str, parse: Callable[[str], object] = str
):
    """``parse`` of the committed content of ``path``, or None if nothing
    is committed. A ``.tmp`` left without ``<path>`` is a commit that
    crashed between its delete and its rename: it is rolled forward. A
    ``.tmp`` that ``parse`` rejects (ValueError) is a first commit torn
    mid-write — never committed, so None. ``parse`` errors on the
    committed file itself propagate: corruption fails loudly."""
    text = read_small_text(spark, path)
    if text is not None:
        return parse(text)
    text = read_small_text(spark, path + ".tmp")
    if text is None:
        return None
    try:
        value = parse(text)
    except ValueError:
        return None
    try:
        fs_rename(spark, path + ".tmp", path)
    except OSError:
        pass  # a concurrent reader rolled it forward first
    return value


# -- pointer roots ---------------------------------------------------------


def _pointer(root: str) -> str:
    return root.rstrip("/") + "/CURRENT"


def live_tree(spark: SparkSession, root: str) -> str | None:
    """``<root>/v<N>`` named by ``<root>/CURRENT``, or None for a root
    nothing was committed to. Creates nothing. A corrupt pointer and a
    plain (pre-pointer) tree under ``root`` are refused loudly: both
    would otherwise resolve to an empty tree and silently restart the
    history kept there."""
    marker = _pointer(root)

    def parse(text: str) -> str:
        cur = text.strip()
        if not _VERSION.fullmatch(cur):
            raise ValueError(
                f"{marker} contains {cur!r} (expected v<N>) — refusing to "
                f"resolve a corrupt pointer to an empty tree"
            )
        return cur

    cur = read_committed(spark, marker, parse)
    if cur is not None:
        return f"{root.rstrip('/')}/{cur}"
    fs, jroot = hadoop_fs(spark, root)
    if fs.exists(jroot):
        for st in fs.listStatus(jroot):
            name = st.getPath().getName()
            if not (name.startswith((".", "CURRENT")) or _VERSION.fullmatch(name)):
                raise ValueError(
                    f"{root} holds a plain (non-pointer) tree ({name!r} "
                    f"without {marker}) — move its contents to {root}/v0 "
                    f"and write 'v0' to {marker}"
                )
    return None


def ensure_live_tree(spark: SparkSession, root: str) -> str:
    """``live_tree``, committing ``CURRENT -> v0`` on a root's first
    write (before anything is written under ``v0``)."""
    live = live_tree(spark, root)
    if live is None:
        commit_small_text(spark, _pointer(root), "v0")
        live = f"{root.rstrip('/')}/v0"
    return live


def publish_next(
    spark: SparkSession, root: str, write: Callable[[str, str], bool]
) -> bool:
    """Publish the next version of a pointer root: delete orphan
    ``v<N>`` trees, ``write(live, next)`` the next version out of place,
    flip ``CURRENT``, delete the old tree. ``write`` returns False to
    publish nothing (the sweep still ran). A crash before the flip
    leaves an orphan next tree, after it an orphan old one — readers
    never see either (they resolve through ``CURRENT``) and the next
    publish sweeps them. Single writer: run it while nothing else writes
    the root. Returns True iff a version was published."""
    live = live_tree(spark, root)
    if live is None:
        return False
    base, cur = live.rsplit("/", 1)
    fs, jroot = hadoop_fs(spark, base)
    for st in fs.listStatus(jroot):
        name = st.getPath().getName()
        if name != cur and _VERSION.fullmatch(name):
            fs_delete(spark, f"{base}/{name}")
    nxt = f"v{int(cur[1:]) + 1}"
    if not write(live, f"{base}/{nxt}"):
        return False
    commit_small_text(spark, _pointer(root), nxt)
    fs_delete(spark, live)
    return True
