"""Opportunistic scaling recorder: probe the box until a genuinely
unpinned bandwidth window appears, then run ONE interleaved geometry-B
rep pair (lo=1 executor x 1 core, hi=4 x 1) per healthy probe, appending
every leg to a JSONL artifact. Best-of per leg across the whole session
converges to the reproducible floor the weather permits.

The throttle on this VM is a token bucket that pins streaming bandwidth
to a quantized band (probes read exactly 0.85 or 1.28 GB/s at 8 procs)
for minutes-to-hours; unpinned windows read 7-28 GB/s. Probing costs
~5 s — the loop spends its time asleep, letting credits recover, and
only pays the ~4 min rep pair when the probe says the window is real.

Usage: python scripts/window_recorder.py [max_minutes] [out.jsonl]
Env: WR_MEMBW_MIN (default 4e9), WR_MAX_PAIRS (default 6),
     SPARK_GRAFT_SCALING_CLIPS (default 120000).
"""
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
os.chdir(REPO)
sys.path.insert(0, REPO)
import bench

MAX_MIN = float(sys.argv[1]) if len(sys.argv) > 1 else 90.0
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/window_recorder.jsonl"
MEMBW_MIN = float(os.environ.get("WR_MEMBW_MIN", "4e9"))
# storm floor, matching bench.wait_for_window's recalibration: quiet-box
# spin drifted ~2.6e8 -> ~1.8e8 ops/s while walls stayed healthy, so the
# old 2.2e8 default would sleep forever in perfectly good windows
SPIN_MIN = float(os.environ.get("WR_SPIN_MIN", "1.5e8"))
MAX_PAIRS = int(os.environ.get("WR_MAX_PAIRS", "6"))
N = int(os.environ.get("SPARK_GRAFT_SCALING_CLIPS", "120000"))
CLIPS = os.environ.get("CLIPS_PATH", "/tmp/geom_b_rec_clips/clips.parquet")
LO, HI = 1, 4

if not os.path.exists(os.path.join(CLIPS, "_SUCCESS")):
    s0 = bench.make_spark(8)
    try:
        from cc_net_spark.sources import synth

        synth.generate_clips(
            s0, N, seed=42, with_audio=False, size_scale=3,
            partitions=64,
        ).write.mode("overwrite").parquet(CLIPS)
    finally:
        s0.stop()

env = dict(
    os.environ,
    SPARK_GRAFT_SCALE_MODE="executors",
    SPARK_GRAFT_EXEC_CORES="1",
    SPARK_GRAFT_SCALING_CLIPS=str(N),
)


def leg(cores: int) -> dict | None:
    p = subprocess.run(
        [sys.executable, "bench.py", "--leg", str(cores), CLIPS],
        capture_output=True, text=True, env=env,
    )
    if p.returncode != 0:
        print(f"leg {cores} failed: {p.stderr[-500:]}", flush=True)
        return None
    return json.loads(p.stdout.strip().splitlines()[-1])


legs: dict[int, list[dict]] = {LO: [], HI: []}
# seed from the artifact's prior legs so a relaunch — e.g. hi-only via
# WR_LO_SAMPLES=0 — aggregates best-of over the whole artifact instead
# of crashing on an empty leg. Seeds must match THIS launch's
# configuration (same filter discipline as bench.archived_scaling_floor:
# a faster int_ids / keep_shingles / AQE-off / thread-mode / recall-
# failed leg in the same file must not pollute the floors).
_want = {
    "mode": "executors",
    "exec_cores": 1,
    "keep_shingles": env.get("SPARK_GRAFT_KEEP_SHINGLES", "0") == "1",
    "int_ids": env.get("SPARK_GRAFT_INT_IDS", "0") == "1",
    "aqe": env.get("SPARK_GRAFT_AQE", "true").lower()
    not in ("0", "false", "no"),
}
# (live value, value assumed when absent), as in
# bench.archived_scaling_floor: a leg recorded with smaller rows, the
# staged shape or cached signatures must not seed this session's floors
_want_shape = {
    "size_scale": (3, 3),
    "fused": (True, True),
    # pre-round-5 legs are all unigram-SimHash workloads (absence = 1)
    "simhash_ngram": (int(env.get("SPARK_GRAFT_SIMHASH_NGRAM", "3")), 1),
    "cache_sig": (False, False),
}
if os.path.exists(OUT):
    with open(OUT) as f:
        for line in f:
            try:
                r = json.loads(line).get("leg")
            except Exception:
                continue
            if (
                r
                and r.get("n") == N
                and r.get("cores") in (LO, HI)
                and all(r.get(k) == v for k, v in _want.items())
                and all(
                    r.get(k, dflt) == v
                    for k, (v, dflt) in _want_shape.items()
                )
                and isinstance(r.get("seconds"), (int, float))
                and (r.get("dup_pair_recall") or 0.0) >= 0.99
            ):
                legs[r["cores"]].append(r)
    print(json.dumps({"seeded": {c: len(v) for c, v in legs.items()}}),
          flush=True)
t_end = time.time() + MAX_MIN * 60
pairs = 0
with open(OUT, "a") as f:
    while time.time() < t_end and pairs < MAX_PAIRS:
        spin = bench.spin_rate(8, 2.0)
        membw = bench.membw_rate(8, 2.0)
        probe = {"ts": round(time.time()), "spin": round(spin),
                 "membw": round(membw),
                 "healthy": spin >= SPIN_MIN and membw >= MEMBW_MIN}
        print(json.dumps(probe), flush=True)
        f.write(json.dumps({"probe": probe}) + "\n")
        f.flush()
        if not probe["healthy"]:
            time.sleep(180)
            continue
        # Default: SYMMETRIC interleaved pairs. Hi-only sampling after a
        # pinned lo floor saves ~60% of each pair's budget BUT is
        # structurally biased (min() over many hi draws vs a frozen lo —
        # the round-4 ADVICE finding; the lo floor also drifted ~8%
        # across box eras, so it is not the constant the optimization
        # assumed). Opt back in with WR_LO_SAMPLES=<n> for budget-
        # constrained hunts; the per-leg sample counts stay visible in
        # the artifact either way.
        lo_done = len(legs[LO]) >= int(
            os.environ.get("WR_LO_SAMPLES", "1000000000")
        )
        plan = ([HI] if lo_done else [LO, HI]) * int(
            os.environ.get("WR_HI_PER_PAIR", "1") if lo_done else 1
        )
        recs = []
        for cores in plan:
            r = leg(cores)
            if r is None:
                break
            recs.append((cores, r))
            print(json.dumps({"cores": cores, "sec": r["seconds"],
                              "membw": r["membw_bytes_per_sec"],
                              "recall": r["dup_pair_recall"]}), flush=True)
        if len(recs) == len(plan):  # full-plan merge only (no orphan sample)
            for cores, r in recs:
                legs[cores].append(r)
                f.write(json.dumps({"leg": r}) + "\n")
            f.flush()
            pairs += 1
            if legs[LO] and legs[HI]:
                lo = min(r["seconds"] for r in legs[LO])
                hi = min(r["seconds"] for r in legs[HI])
                eff = (lo / hi) / (HI / LO)
                print(json.dumps({"pairs": pairs, "lo_best": lo,
                                  "hi_best": hi,
                                  "raw_eff": round(eff, 3)}), flush=True)

if legs[LO] and legs[HI]:
    lo = min(r["seconds"] for r in legs[LO])
    hi = min(r["seconds"] for r in legs[HI])
    clo = min(r["control_seconds"] for r in legs[LO])
    chi = min(r["control_seconds"] for r in legs[HI])
    eff = (lo / hi) / (HI / LO)
    ceff = (clo / chi) / (HI / LO)
    summary = {
        "summary": {
            "n_clips": N, "pairs": pairs,
            "lo_best_s": lo, "hi_best_s": hi,
            "lo_cps": round(N / lo, 1), "hi_cps": round(N / hi, 1),
            "raw_eff": round(eff, 3), "control_eff": round(ceff, 3),
            "vs_control": round(eff / ceff, 3),
        }
    }
    print(json.dumps(summary), flush=True)
    with open(OUT, "a") as f:
        f.write(json.dumps(summary) + "\n")
else:
    print(json.dumps({"summary": None, "reason": "no healthy window"}))
