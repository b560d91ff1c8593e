"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line:  {"metric": ..., "value": N, "unit": "sec", "queries": {...}}.

Each query is forced to full execution with a noop sink (no driver collect
skew, no result materialization cost in the measurement).

Flags / env:
- ``--cold``: clear every cache/persist between ITERATIONS too (not just
  between queries), so the number is a cold-cache number.  Cold
  per-query values are the MEDIAN over iterations (cold runs vary ±40%
  on heavy persisting queries — r6 SCALING.md; a min-of-N cold is a
  lucky draw, the median is the representative cost).  Warm mode keeps
  min (steady-state plan cost).  A cold run refuses to start on a busy
  box (see LOAD_GATE and STEAL_GATE_PCT); SPARK_GRAFT_BENCH_FORCE=1 runs
  it anyway and tags ``box_state.gate``.
- ``--iters N``: iterations per query, a positive integer (default 2
  warm, 3 cold).  Flags are parsed before the start gates and the JVM
  start: an unknown flag or a bad value exits 2.
- SPARK_GRAFT_BENCH_QUERIES: comma-separated subset of the headline
  queries to run (default: all) — used for the sf10 spot-runs where only
  the scale-sensitive queries are re-measured.  An unknown name exits 2
  before Spark starts.
- SPARK_GRAFT_BENCH_PARTITIONS: shuffle partitions (default: the core
  count, at least 8).

Output contract (r7 — fixes the r6 ``parsed: null`` driver record): the
LAST stdout line is a COMPACT machine-readable JSON summary (the
headline series of ``headline_summary`` plus sf/cold/complete and the
box-state verdicts only — it must fit a caller that keeps only the
tail of stdout).  Everything else — per-iteration times, first-run times,
per-query shuffle bytes/spill, the build/serve split, error detail —
goes to a side file (``SPARK_GRAFT_BENCH_DETAIL`` path, default
``BENCH_DETAIL.json`` next to this script).

Shuffle accounting: every run also records per-query shuffle bytes
written/read and spill, summed over the stages the query executed
(from the JVM AppStatusStore — the same numbers the UI's stage page
shows).  A wall-time ratio can hide a shuffle-volume blow-up that local
NVMe absorbs but a 1000-executor network shuffle won't; the bytes make
the 10x scaling curve auditable at the data-movement level.  Metrics are
taken from the FIRST iteration of each query (caches are cleared between
queries, so iteration 1 is the honest plan cost; a warm second iteration
can legitimately shuffle less).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

# Cold medians on these two queries historically swing ±40% between
# iterations (heavy persisting Arrow-kernel queries — r8/r10 SCALING
# profiles); at the default 3 iterations the committed median can land
# anywhere in that envelope and round-over-round comparison needs prose
# adjudication.  Five iterations tighten the median enough that two
# consecutive cold runs agree within ~15% (measured r11).  Cold mode
# bumps ONLY these to max(iters, 5); warm mode (min-of-N) is unaffected.
FLAPPER_MIN_ITERS = {
    "faers_llr": 5,
    "faers_significant": 5,
    # r12 (VERDICT #5): solo-controlled at sf10 — spread 3.49 across 3
    # cold iterations (3.11/1.34/0.89: first-iteration warm-up on a
    # 2.3 MB-shuffle query whose absolute wall is ~1s, so fixed JVM
    # first-touch costs dominate the ratio); 5 iterations stabilize the
    # median.  j1_blacklist_anti's solo spread was 1.31 (<= 1.5) — noise
    # confirmed, not pinned.
    "w_distinct_windows": 5,
    # r14: three consecutive rounds of widening cold spread at sf1
    # (1.32 / 2.63 / 3.16) with BYTE-IDENTICAL 101.0 MB shuffles and
    # identical input bytes — a heavy-persisting MinHash fold whose
    # 3-iteration cold median lands anywhere in a 2x envelope.  Five
    # iterations stabilize it like the other flappers.  (The r14 sf1
    # suite artifact predates this entry and self-describes 3 effective
    # iterations.)
    "dedup_incremental_minhash": 5,
}

# Cold-run box-state gate: a timed cold bench started while the box is
# still busy (sibling Spark JVM, pytest teardown, another bench) measures
# contention, not the plan — r9/r10 both committed inflated artifacts
# that needed byte-level adjudication to exonerate.  The standing manual
# rule ("check uptime load < ~1 before any timed cold bench") is now
# code: --cold reads /proc/loadavg and REFUSES to start when the 1-min
# load exceeds LOAD_GATE, unless SPARK_GRAFT_BENCH_FORCE=1 (which tags
# the artifact "box_state.gate": "forced_loaded" so the number is
# machine-readably suspect).  The observed load is recorded into both
# the summary line and the detail file either way.
LOAD_GATE = 1.0

# Noisy-NEIGHBOR gate (VERDICT r13 #1): the load gate reads loadavg,
# which only counts THIS guest's runnable tasks — a hypervisor sibling
# shows up solely as STEAL time, and r13 committed a gate-green sf10
# suite whose first seven queries ran 2-19x inflated under a steal
# burst.  Two mechanisms, mirroring the load gate's start-check +
# artifact-label split:
#  - START: a 1-second /proc/stat bracket before the run REFUSES a
#    --cold bench when instantaneous steal exceeds STEAL_GATE_PCT
#    (SPARK_GRAFT_BENCH_FORCE=1 overrides; artifact tagged
#    "forced_steal").
#  - END: the whole-run steal average is judged against the same
#    threshold and recorded as box_state.steal_gate ("ok" /
#    "exceeded" / "unmeasured") — a burst that starts mid-run can't be
#    refused up front, but the committed artifact now convicts or
#    acquits itself instead of needing solo-control forensics.
# Threshold: the r13 adjudication measured 3.4% average steal on the
# visibly-slowed video solo and <0.5% on the clean solos — 2% splits
# those populations with margin.
STEAL_GATE_PCT = 2.0


def err_summary(exc: Exception) -> str:
    """Error text for the artifact's ``errors`` map — first line PLUS
    the Java root cause (VERDICT r15 #2a): for a Py4JJavaError the
    first line is the content-free wrapper ("An error occurred while
    calling oNNN.save.") and truncating there made the r15 warm flake
    undiagnosable from the committed artifact.  Prefer the JVM
    exception's own message; fall back to the DEEPEST ``Caused by:``
    line of the rendered stack (the root of the chain)."""
    lines = str(exc).splitlines() or [""]
    head = f"{type(exc).__name__}: {lines[0][:200]}"
    root = ""
    jexc = getattr(exc, "java_exception", None)
    if jexc is not None:
        try:
            root = (jexc.getMessage() or "").splitlines()[0]
        except Exception:  # noqa: BLE001 — diagnostics must not raise
            root = ""
    if not root:
        caused = [ln for ln in lines if ln.startswith("Caused by:")]
        if caused:
            root = caused[-1]
        elif len(lines) > 1 and lines[1].startswith(": "):
            root = lines[1][2:]
    if root and root not in head:
        head += f" | root: {root[:300]}"
    return head


def read_box_state() -> dict:
    """1/5/15-min load plus the runnable/total task counts from
    /proc/loadavg — enough to adjudicate 'was the box quiet' from the
    committed artifact alone."""
    try:
        parts = Path("/proc/loadavg").read_text().split()
        return {
            "load1": float(parts[0]),
            "load5": float(parts[1]),
            "load15": float(parts[2]),
            "tasks": parts[3],
        }
    except (OSError, IndexError, ValueError):  # non-Linux fallback
        la = os.getloadavg()
        return {"load1": la[0], "load5": la[1], "load15": la[2], "tasks": ""}


def read_cpu_ticks() -> dict | None:
    """Aggregate jiffies from /proc/stat's first line.  The load gate
    catches a busy GUEST, but on a shared host a noisy NEIGHBOR shows up
    only as STEAL time — CPU the hypervisor gave to someone else while
    this VM had runnable work (r13: a steal burst inflated the first
    seven queries of an otherwise gate-green sf10 suite 2-19x with
    byte-identical shuffles).  Bracketing the run makes that visible in
    the committed artifact instead of needing a transcript."""
    try:
        p = Path("/proc/stat").read_text().splitlines()[0].split()
        # user nice system idle iowait irq softirq steal
        vals = [int(x) for x in p[1:9]]
        return {
            "busy": vals[0] + vals[1] + vals[2] + vals[5] + vals[6],
            "idle": vals[3],
            "iowait": vals[4],
            "steal": vals[7],
        }
    except (OSError, IndexError, ValueError):
        return None


def steal_summary(t0: dict | None, t1: dict | None) -> dict | None:
    """steal/iowait as a share of total elapsed ticks across the run."""
    if not t0 or not t1:
        return None
    total = sum(t1.values()) - sum(t0.values())
    if total <= 0:
        return None
    return {
        "steal_pct": round(100.0 * (t1["steal"] - t0["steal"]) / total, 2),
        "iowait_pct": round(100.0 * (t1["iowait"] - t0["iowait"]) / total, 2),
    }

sys.path.insert(0, str(Path(__file__).resolve().parent))

from platform_etl_openfda_faers_spark.plans import benchmarks  # noqa: E402
from platform_etl_openfda_faers_spark.plans.metrics import (  # noqa: E402
    StageMetrics,
)
from platform_etl_openfda_faers_spark.session import get_spark  # noqa: E402


def _positive_int(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be at least 1, got {n}")
    return n


def _release(spark) -> None:
    """Drop every cached/persisted intermediate and hint a JVM GC.
    Between queries this stops one query's persists leaking memory
    pressure into the next (r3: ngram-jaccard timed 3x its isolated cost
    mid-suite); between cold iterations it keeps iteration 2+ off
    iteration 1's intermediates (the OS page cache is out of scope)."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def _refuse_or_force(box: dict, reason: str, tag: str) -> None:
    """Start gate of a ``--cold`` run on a busy box: exit 2 naming
    ``reason``, unless SPARK_GRAFT_BENCH_FORCE=1, which runs anyway and
    adds ``tag`` to ``box["gate"]``.  Labels accumulate, so a box both
    loaded and stealing reads ``forced_loaded+forced_steal``."""
    if os.environ.get("SPARK_GRAFT_BENCH_FORCE", "") in ("", "0"):
        print(
            f"REFUSING cold bench: {reason} — a busy box measures "
            "contention, not the plan.  Wait for the box to quiesce, or "
            "set SPARK_GRAFT_BENCH_FORCE=1 to run anyway (the artifact "
            f"will be tagged {tag}).",
            file=sys.stderr,
        )
        sys.exit(2)
    box["gate"] = tag if box["gate"] == "ok" else f"{box['gate']}+{tag}"


def headline_summary(
    timings: dict[str, float],
    build_serve: dict[str, dict],
    subset: list[str] | None,
) -> dict:
    """The series fields of the stdout line, from the per-query times.

    ``value``/``queries`` is the FROZEN legacy-20 series (comparable back
    to r5).  v2 (r10), v3 (r12) and v4 (r15) each add their extra members
    to the series before them, and a ``headline_vN`` block appears when at
    least one of its extras ran: the running ``value`` and the extras'
    own times (only those, so the line stays short enough for a caller
    that keeps only the tail of stdout).  A v-series total is never compared with a
    total from before its round.  From v4 on, a ``BUILD_SERVE`` member
    counts its SERVE-ONLY leg — the per-batch serving cost the series
    tracks; its one-time build stays in ``queries_build_serve`` — and the
    block lists every member's ``contrib``; a member whose split failed
    counts its full time and is named in ``serve_leg_missing``.  Every
    series names the members it should sum but could not (errored) in
    ``missing_members``, so a partial total is never compared silently
    (VERDICT r15 #2b).  An explicit-subset run sums what ran, names its
    queries under ``subset`` and has no series blocks: its ``value`` is
    not legacy-comparable (r10 ADVICE)."""
    legacy = (
        timings
        if subset
        else {n: t for n, t in timings.items() if n in benchmarks.HEADLINE}
    )
    total = sum(legacy.values())
    out: dict = {
        "metric": "headline-queries wall time",
        "value": round(total, 3),
        "unit": "sec",
        "queries": legacy,
    }
    if subset:
        out["subset"] = subset
        return out
    members = list(benchmarks.HEADLINE)
    missing = [n for n in members if n not in timings]
    if missing:
        out["missing_members"] = missing
    series = (
        (2, benchmarks.HEADLINE_V2_EXTRA),
        (3, benchmarks.HEADLINE_V3_EXTRA),
        (4, benchmarks.HEADLINE_V4_EXTRA),
    )
    for version, extras in series:
        members += extras
        extra = {n: t for n, t in timings.items() if n in extras}
        legs = {
            n: build_serve.get(n, {}).get("serve_only_s")
            for n in extra
            if version >= 4 and n in benchmarks.BUILD_SERVE
        }
        leg_missing = [n for n, leg in legs.items() if leg is None]
        contrib = {
            n: t if legs.get(n) is None else legs[n] for n, t in extra.items()
        }
        total += sum(contrib.values())
        if not extra:
            continue
        block: dict = {"value": round(total, 3), "extra_queries": extra}
        if version >= 4:
            block["contrib"] = {n: round(v, 3) for n, v in contrib.items()}
        if leg_missing:
            block["serve_leg_missing"] = leg_missing
        missing = [n for n in members if n not in timings]
        if missing:
            block["missing_members"] = missing
        out[f"headline_v{version}"] = block
    return out


def main() -> None:
    parser = argparse.ArgumentParser(
        description="Time the headline queries; print one JSON line."
    )
    parser.add_argument(
        "--cold", action="store_true",
        help="clear caches between iterations too; report the median",
    )
    # warm: min over iterations (steady-state plan cost, not first-run
    # JIT / codegen / GC noise).  cold: median (see module docstring).
    parser.add_argument(
        "--iters", type=_positive_int,
        help="iterations per query (default 2 warm, 3 cold)",
    )
    args = parser.parse_args()
    cold = args.cold
    iters = args.iters or (3 if cold else 2)
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "")
    names = [
        *benchmarks.HEADLINE,
        *benchmarks.HEADLINE_V2_EXTRA,
        *benchmarks.HEADLINE_V3_EXTRA,
        *benchmarks.HEADLINE_V4_EXTRA,
    ]
    if subset:
        wanted = [q.strip() for q in subset.split(",") if q.strip()]
        unknown = [q for q in wanted if q not in benchmarks.SPARK_QUERIES]
        if unknown:
            # rejected before the load gates and the JVM start
            print(f"unknown bench queries: {unknown}", file=sys.stderr)
            sys.exit(2)
        names = wanted
    else:
        # CPU-storm queries run LAST in the full suite (r12 measured the
        # v3 extras at 1.4-1.9x solo cost from running behind
        # multimodal_video_dedup's decode storm — totals are
        # order-independent, per-query numbers are not).  Explicit
        # subsets keep the caller's order.
        storm = [n for n in benchmarks.RUN_LAST if n in names]
        names = [n for n in names if n not in storm] + storm
    box = read_box_state()
    ticks0 = read_cpu_ticks()
    # the load gate only applies to --cold runs; a warm artifact must not
    # read as gate-approved ("ok" would mean "not checked" there, the one
    # reading the field must never invite) — label warm runs distinctly
    box["gate"] = "ok" if cold else "ungated_warm"
    if cold and box["load1"] > LOAD_GATE:
        _refuse_or_force(
            box, f"1-min load {box['load1']} > {LOAD_GATE}", "forced_loaded"
        )
    if cold:
        # 1-second steal probe before committing to a timed run (see
        # STEAL_GATE_PCT above) — the bracket is instantaneous-ish, so
        # it catches an ALREADY-RAGING neighbor, not one that arrives
        # mid-run (that's what the end-of-run steal_gate label is for)
        probe0 = read_cpu_ticks()
        time.sleep(1.0)
        start_steal = steal_summary(probe0, read_cpu_ticks())
        box["steal_start"] = start_steal
        if start_steal and start_steal["steal_pct"] > STEAL_GATE_PCT:
            _refuse_or_force(
                box,
                f"start-probe steal {start_steal['steal_pct']}% > "
                f"{STEAL_GATE_PCT}%",
                "forced_steal",
            )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # shuffle partitions default to the core count; at larger scale
    # factors set SPARK_GRAFT_BENCH_PARTITIONS to size partitions to the
    # DATA (the r7 faers_llr sf10 profile measured 1.7x wall from 32 ->
    # 128: multiple waves pack the cores through stage tails and smaller
    # per-task aggregate state stays cache-resident) — the same rule a
    # real cluster applies, where partitions follow bytes, not cores.
    parts = os.environ.get(
        "SPARK_GRAFT_BENCH_PARTITIONS", str(max(int(cpus), 8))
    )
    spark = get_spark(
        "bench",
        master=f"local[{cpus}]",
        conf={
            "spark.sql.shuffle.partitions": parts,
            "spark.ui.enabled": "false",
            "spark.driver.memory": "16g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/codegen paths once so per-query numbers measure the plan,
    # not first-call JIT
    benchmarks.SPARK_QUERIES["a2_distinct_rows"](spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()

    metrics = StageMetrics(spark)
    timings: dict[str, float] = {}
    all_iters: dict[str, list[float]] = {}
    firsts: dict[str, float] = {}
    shuffle: dict[str, dict[str, int]] = {}
    errors: dict[str, str] = {}
    for name in names:
        fn = benchmarks.SPARK_QUERIES[name]
        runs: list[float] = []
        # one failing query must not sink the whole bench (r3: a single
        # analysis error -> rc=1 -> no official number for the round)
        q_iters = max(iters, FLAPPER_MIN_ITERS.get(name, 0)) if cold else iters
        try:
            for i in range(q_iters):
                if cold and i:
                    _release(spark)
                if i == 0:
                    metrics.snapshot()
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                if i == 0:
                    firsts[name] = round(dt, 3)
                    shuffle[name] = metrics.delta()
                runs.append(dt)
            # statistics.median averages the middle pair on even --iters;
            # the old upper-middle pick biased even-count cold numbers high
            rep = statistics.median(runs) if cold else min(runs)
            timings[name] = round(rep, 3)
            all_iters[name] = [round(r, 3) for r in runs]
        except Exception as exc:  # noqa: BLE001 — report and continue
            errors[name] = err_summary(exc)
        finally:
            _release(spark)

    # build-vs-serve split (VERDICT r12 #4): for registry queries that
    # deliberately time a one-time index BUILD plus the per-batch SERVE
    # (self-contained determinism), also measure each leg alone so the
    # committed artifact self-describes the split — the build-dominated
    # total otherwise reads as a superlinear serving path.  Build runs
    # once (timed); serve reuses that index across its iterations with
    # the same cold-cache discipline as the main loop.
    build_serve: dict[str, dict] = {}
    for name, (build_fn, serve_fn) in benchmarks.BUILD_SERVE.items():
        if name not in timings:
            continue
        try:
            _release(spark)
            t0 = time.time()
            idx = build_fn(spark, sf_dir)
            build_s = round(time.time() - t0, 3)
            serve_runs: list[float] = []
            for _ in range(iters):
                _release(spark)
                t0 = time.time()
                serve_fn(spark, sf_dir, idx).write.format("noop").mode(
                    "overwrite"
                ).save()
                serve_runs.append(time.time() - t0)
            rep = statistics.median(serve_runs) if cold else min(serve_runs)
            build_serve[name] = {
                "build_s": build_s,
                "serve_only_s": round(rep, 3),
                "serve_iters_s": [round(r, 3) for r in serve_runs],
            }
        except Exception as exc:  # noqa: BLE001 — the split is auxiliary
            errors[f"{name}__build_serve"] = err_summary(exc)
        finally:
            _release(spark)

    # whole-run steal/iowait share (hypervisor contention the load gate
    # cannot see) — recorded into box_state so the committed artifact
    # self-describes noisy-neighbor windows
    # The key is ALWAYS written (ADVICE r13): null means "the
    # /proc/stat bracket failed", absence means "pre-r14 artifact" —
    # the artifact self-describes not-measured vs measured-zero.
    cpu_run = steal_summary(ticks0, read_cpu_ticks())
    box["cpu_run"] = cpu_run
    # end-of-run steal verdict against the same threshold the start
    # probe enforces — a mid-run burst can't be refused, but it can be
    # convicted in the committed artifact (VERDICT r13 #1)
    if cpu_run is None:
        box["steal_gate"] = "unmeasured"
    elif cpu_run["steal_pct"] > STEAL_GATE_PCT:
        box["steal_gate"] = "exceeded"
    else:
        box["steal_gate"] = "ok"

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # iteration spread (max/min) per query — the uniform-inflation /
    # flapper adjudication, readable from the artifact instead of prose.
    # FLAPPER_MIN_ITERS queries exclude iteration 1 in cold mode (their
    # extra iterations exist precisely because iteration 1 is JVM
    # first-touch warm-up on a ~1s query — r12 committed a 3.08 "spread"
    # that was 100% warm-up; the raw all-iterations ratio stays in the
    # detail file as queries_spread_all for adjudication).
    def _spread_core(n: str, rs: list[float]) -> list[float]:
        if cold and n in FLAPPER_MIN_ITERS and len(rs) >= 3:
            return rs[1:]
        return rs

    spread = {
        n: round(max(core) / min(core), 3)
        for n, rs in all_iters.items()
        if rs and min(core := _spread_core(n, rs)) > 0
    }
    spread_all = {
        n: round(max(rs) / min(rs), 3)
        for n, rs in all_iters.items()
        if rs and min(rs) > 0
    }
    # full detail to a side file (r7: folding shuffle_bytes/queries_first
    # into the summary line overflowed the driver's tail window in r6 and
    # cost the round its official wall time — keep the stdout line compact)
    detail = {
        "sf": sf_val,
        "cold": cold,
        "iters": iters,
        "shuffle_partitions": int(parts),
        "box_state": box,
        "queries": timings,
        "queries_iters": all_iters,
        # per-query EFFECTIVE iteration counts (FLAPPER_MIN_ITERS bumps
        # some queries above the base "iters" in cold mode) — the
        # artifact is self-describing instead of recoverable only by
        # counting queries_iters
        "queries_effective_iters": {n: len(rs) for n, rs in all_iters.items()},
        "queries_first": firsts,
        "queries_spread": spread,
        "queries_spread_all": spread_all,
        "spread_policy": (
            "flapper queries (FLAPPER_MIN_ITERS) exclude iteration 1 from "
            "queries_spread in cold mode; queries_spread_all is the raw "
            "all-iterations ratio"
        ),
        # actual run order — per-query numbers are position-aware
        # (CPU-storm queries are scheduled last in full-suite runs)
        "run_order": names,
        "shuffle_bytes": shuffle,
        "complete": not errors,
    }
    if build_serve:
        detail["queries_build_serve"] = build_serve
    if errors:
        detail["errors"] = errors
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        str(Path(__file__).resolve().parent / "BENCH_DETAIL.json"),
    )
    Path(detail_path).write_text(json.dumps(detail, indent=1))
    print(f"detail -> {detail_path}", file=sys.stderr)
    out = headline_summary(timings, build_serve, names if subset else None)
    # a partial total is NOT comparable to a complete one (a failing slow
    # query would read as a speedup) — flag it loudly; the start gate and
    # the end-of-run steal verdict are part of the number, not a footnote
    # (full triple, probe and cpu_run live in the detail file)
    out.update(
        sf=sf_val,
        cold=cold,
        complete=not errors,
        box_state={
            "load1": box["load1"],
            "gate": box["gate"],
            "steal_gate": box["steal_gate"],
        },
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
