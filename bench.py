"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line:  {"metric": ..., "value": N, "unit": "sec", "queries": {...}}.

Each query is forced to full execution with a noop sink (no driver collect
skew, no result materialization cost in the measurement).

Flags / env:
- ``--cold`` (or SPARK_GRAFT_BENCH_COLD=1): clear every cache/persist
  between ITERATIONS too (not just between queries), so the number is a
  cold-cache number.  Cold per-query values are the MEDIAN over
  iterations (cold runs vary ±40% on heavy persisting queries — r6
  SCALING.md; a min-of-N cold is a lucky draw, the median is the
  representative cost).  Warm mode keeps min (steady-state plan cost).
- ``--iters N`` (or SPARK_GRAFT_BENCH_ITERS): iterations per query
  (default 2 warm, 3 cold).
- SPARK_GRAFT_BENCH_QUERIES: comma-separated subset of the headline
  queries to run (default: all) — used for the sf10 spot-runs where only
  the scale-sensitive queries are re-measured.  An unknown name exits 2
  before Spark starts.

Output contract (r7 — fixes the r6 ``parsed: null`` driver record): the
LAST stdout line is a COMPACT machine-readable JSON summary
(metric/value/unit/queries/sf/cold/complete only — it must fit the
driver's tail-capture window).  Everything else — per-iteration times,
first-run times, per-query shuffle bytes/spill, error detail — goes to a
side file (``SPARK_GRAFT_BENCH_DETAIL`` path, default
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


# Auto-promotion threshold for the rule below: a cold per-query
# iteration spread (max/min) above this in TWO consecutive committed
# suites at the same SF promotes the query into the flapper set.
FLAPPER_AUTO_SPREAD = 2.0
FLAPPER_AUTO_ITERS = 5


def auto_promoted_flappers(sf_dir: str) -> dict[str, dict]:
    """General flapper rule (VERDICT r14 #6): any query whose cold
    ``queries_spread`` exceeded ``FLAPPER_AUTO_SPREAD`` in the TWO most
    recent committed cold suites at this scale factor is promoted to
    ``FLAPPER_AUTO_ITERS`` minimum cold iterations automatically —
    heavy-persisting folds on this box flap structurally, and the manual
    per-round judge/builder ping-pong (faers_llr r8,
    dedup_incremental_minhash r14) is now the mechanical rule's first
    instances.  Returns {query: {"rounds": [r, r'], "spreads": [s, s']}}
    — recorded verbatim in the detail artifact as
    ``flapper_auto_promoted`` so the promotion is self-describing.

    Evidence source: the committed ``BENCH_DETAIL_r{N}_sf{X}.json``
    cold-suite artifacts in the repo root (the files the judge already
    reads); a query must appear with spread > threshold in BOTH of the
    two most recent rounds that have a cold suite at this SF."""
    import re

    tag = "sf" + sf_dir.rstrip("/").rsplit("sf", 1)[-1].replace(".", "")
    per_round: dict[int, dict] = {}
    root = Path(__file__).resolve().parent
    # current + previous round's suites live in the repo root; older
    # rounds move to artifacts/r{NN}/ at round close (BASELINE.md
    # retention policy) — scan both so the two-round evidence window
    # survives the rotation
    # ARTIFACTS FIRST, repo root second: per_round is keyed by round
    # number and later reads overwrite, so mid-rotation (the same
    # round's suite present in BOTH places) the repo-root copy — the
    # authoritative, most recently committed one — wins deterministically
    # instead of depending on scan order (ADVICE r15 low)
    candidates = list(
        root.glob(f"artifacts/r*/BENCH_DETAIL_r*_{tag}.json")
    ) + list(root.glob(f"BENCH_DETAIL_r*_{tag}.json"))
    for p in candidates:
        m = re.fullmatch(r"BENCH_DETAIL_r(\d+)_" + re.escape(tag) + r"\.json",
                         p.name)
        if not m:
            continue  # solo/dial/probe artifacts carry extra name parts
        try:
            d = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if d.get("cold") and isinstance(d.get("queries_spread"), dict):
            per_round[int(m.group(1))] = d["queries_spread"]
    if len(per_round) < 2:
        return {}
    r_prev, r_last = sorted(per_round)[-2:]
    a, b = per_round[r_prev], per_round[r_last]
    return {
        q: {"rounds": [r_prev, r_last], "spreads": [a[q], b[q]]}
        for q in sorted(set(a) & set(b))
        if a[q] > FLAPPER_AUTO_SPREAD
        and b[q] > FLAPPER_AUTO_SPREAD
        and q not in FLAPPER_MIN_ITERS
    }


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


def main() -> None:
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "")
    # legacy-20 + the v2 extras (r10): the summary keeps "value"/"queries"
    # as the FROZEN legacy set (cross-round comparable back to r5) and
    # adds a "headline_v2" block with the extended total + extra timings
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
    cold = "--cold" in sys.argv or os.environ.get(
        "SPARK_GRAFT_BENCH_COLD", ""
    ) not in ("", "0")
    box = read_box_state()
    ticks0 = read_cpu_ticks()
    # the load gate only applies to --cold runs; a warm artifact must not
    # read as gate-approved ("ok" would mean "not checked" there, the one
    # reading the field must never invite) — label warm runs distinctly
    box["gate"] = "ok" if cold else "ungated_warm"
    if cold and box["load1"] > LOAD_GATE:
        if os.environ.get("SPARK_GRAFT_BENCH_FORCE", "") in ("", "0"):
            print(
                f"REFUSING cold bench: 1-min load {box['load1']} > "
                f"{LOAD_GATE} — a loaded box measures contention, not the "
                "plan.  Wait for the box to quiesce, or set "
                "SPARK_GRAFT_BENCH_FORCE=1 to run anyway (the artifact "
                "will be tagged forced_loaded).",
                file=sys.stderr,
            )
            sys.exit(2)
        box["gate"] = "forced_loaded"
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
            if os.environ.get("SPARK_GRAFT_BENCH_FORCE", "") in ("", "0"):
                print(
                    f"REFUSING cold bench: start-probe steal "
                    f"{start_steal['steal_pct']}% > {STEAL_GATE_PCT}% — a "
                    "noisy hypervisor neighbor measures contention, not "
                    "the plan.  Wait for the box to quiesce, or set "
                    "SPARK_GRAFT_BENCH_FORCE=1 (the artifact will be "
                    "tagged forced_steal).",
                    file=sys.stderr,
                )
                sys.exit(2)
            # accumulate gate labels — a box that is BOTH loaded and
            # stealing keeps both provenance tags in the artifact
            # (previously 'forced_steal' overwrote 'forced_loaded')
            box["gate"] = (
                "forced_steal"
                if box["gate"] == "ok"
                else box["gate"] + "+forced_steal"
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
    # effective flapper set = manual pins + the mechanical two-round
    # spread rule (cold mode only — warm min-of-N doesn't flap)
    auto_flap = auto_promoted_flappers(sf_dir) if cold else {}
    flapper_iters = dict(FLAPPER_MIN_ITERS)
    flapper_iters.update({q: FLAPPER_AUTO_ITERS for q in auto_flap})
    if auto_flap:
        print(
            f"flapper auto-promotion: {sorted(auto_flap)} exceed "
            f"{FLAPPER_AUTO_SPREAD}x cold spread in two consecutive "
            f"committed suites -> min {FLAPPER_AUTO_ITERS} iterations",
            file=sys.stderr,
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

    # warm: min over iterations (steady-state plan cost, not first-run
    # JIT / codegen / GC noise).  cold: median (see module docstring).
    if "--iters" in sys.argv:
        iters = int(sys.argv[sys.argv.index("--iters") + 1])
    else:
        iters = int(
            os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3" if cold else "2")
        )
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
        q_iters = max(iters, flapper_iters.get(name, 0)) if cold else iters
        try:
            for i in range(q_iters):
                if cold and i:
                    # cold mode: iteration 2+ must not ride iteration 1's
                    # persisted intermediates or OS-warm JVM buffers we
                    # control; page cache is out of scope (no root drop)
                    spark.catalog.clearCache()
                    spark.sparkContext._jvm.System.gc()
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
            # cached/persisted intermediates from one query otherwise leak
            # memory pressure into the next (r3: ngram-jaccard timed 3x its
            # isolated cost mid-suite); JVM GC hint clears humongous refs
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()

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
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            t0 = time.time()
            idx = build_fn(spark, sf_dir)
            build_s = round(time.time() - t0, 3)
            serve_runs: list[float] = []
            for _ in range(iters):
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()
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
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()

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
        if cold and n in flapper_iters and len(rs) >= 3:
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
            "flapper queries (FLAPPER_MIN_ITERS + flapper_auto_promoted) "
            "exclude iteration 1 from queries_spread in cold mode; "
            "queries_spread_all is the raw all-iterations ratio"
        ),
        # the mechanical promotion rule's evidence (VERDICT r14 #6):
        # {query: {rounds: [r, r'], spreads: [s, s']}} from the two most
        # recent committed cold suites at this SF
        "flapper_auto_promoted": auto_flap,
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
    # explicit-subset spot runs keep the old whole-result contract; only
    # the default full-suite run splits legacy vs v2-extra
    legacy = (
        timings
        if subset
        else {n: t for n, t in timings.items() if n in benchmarks.HEADLINE}
    )
    extra = (
        {}
        if subset
        else {
            n: t
            for n, t in timings.items()
            if n in benchmarks.HEADLINE_V2_EXTRA
        }
    )
    extra3 = (
        {}
        if subset
        else {
            n: t
            for n, t in timings.items()
            if n in benchmarks.HEADLINE_V3_EXTRA
        }
    )
    extra4 = (
        {}
        if subset
        else {
            n: t
            for n, t in timings.items()
            if n in benchmarks.HEADLINE_V4_EXTRA
        }
    )
    out = {
        "metric": "headline-queries wall time",
        "value": round(sum(legacy.values()), 3),
        "unit": "sec",
        "queries": legacy,
        "sf": sf_val,
        "cold": cold,
        # a partial total is NOT comparable to a complete one (a failing
        # slow query would read as a speedup) — flag it loudly
        "complete": not errors,
        # box state at start: 1-min load + gate verdict (full triple in
        # the detail/summary files) — "was the box quiet" is part of the
        # number, not a footnote
        # start gate + end-of-run steal verdict (full triple, probe and
        # cpu_run detail live in the detail/summary files)
        "box_state": {
            "load1": box["load1"],
            "gate": box["gate"],
            "steal_gate": box["steal_gate"],
        },
    }
    if subset:
        # an explicit-subset spot run's "value" is NOT legacy-comparable;
        # mark the artifact itself so downstream round-over-round
        # comparisons can mechanically exclude it (r10 ADVICE)
        out["subset"] = names

    def _missing(*member_sets) -> list[str]:
        """Members a series total SHOULD sum but can't (errored) — a
        partial v-series total silently compared across rounds misled
        the r15 warm anchor (VERDICT r15 #2b); every block now names
        its absences so a reader/diff tool can exclude it mechanically."""
        want = [n for s in member_sets for n in s]
        return [n for n in want if n not in timings]

    legacy_missing = [] if subset else _missing(benchmarks.HEADLINE)
    if legacy_missing:
        out["missing_members"] = legacy_missing
    if extra:
        # the v2 total sums the legacy set AND the family representatives;
        # only the four extra per-query timings are repeated here (the
        # stdout line must stay inside the driver's tail-capture window)
        out["headline_v2"] = {
            "value": round(sum(legacy.values()) + sum(extra.values()), 3),
            "extra_queries": extra,
        }
        m = _missing(benchmarks.HEADLINE, benchmarks.HEADLINE_V2_EXTRA)
        if m:
            out["headline_v2"]["missing_members"] = m
    if extra3:
        # v3 (r12): v2 plus the r11/r12 family representatives — a frozen
        # cross-round series from r12 on, never compared to pre-r12 totals
        out["headline_v3"] = {
            "value": round(
                sum(legacy.values()) + sum(extra.values())
                + sum(extra3.values()),
                3,
            ),
            "extra_queries": extra3,
        }
        m = _missing(
            benchmarks.HEADLINE,
            benchmarks.HEADLINE_V2_EXTRA,
            benchmarks.HEADLINE_V3_EXTRA,
        )
        if m:
            out["headline_v3"]["missing_members"] = m
    if extra4:
        # v4 (r15, VERDICT r14 #4): v3 plus the r13-r15 family
        # representatives — first measured in r15, never compared to
        # pre-r15 totals.  The two BUILD_SERVE members contribute their
        # SERVE-ONLY leg (per-batch serving cost — the thing the series
        # should track; their one-time build legs stay in
        # queries_build_serve); if a serve split failed, the full query
        # time is used and the member is named in serve_leg_missing.
        v4_contrib: dict[str, float] = {}
        leg_missing: list[str] = []
        for n, t in extra4.items():
            if n in benchmarks.BUILD_SERVE:
                leg = build_serve.get(n, {}).get("serve_only_s")
                if leg is None:
                    leg_missing.append(n)
                    v4_contrib[n] = t
                else:
                    v4_contrib[n] = leg
            else:
                v4_contrib[n] = t
        out["headline_v4"] = {
            "value": round(
                sum(legacy.values()) + sum(extra.values())
                + sum(extra3.values()) + sum(v4_contrib.values()),
                3,
            ),
            "extra_queries": extra4,
            "contrib": {n: round(v, 3) for n, v in v4_contrib.items()},
        }
        if leg_missing:
            out["headline_v4"]["serve_leg_missing"] = leg_missing
        m = _missing(
            benchmarks.HEADLINE,
            benchmarks.HEADLINE_V2_EXTRA,
            benchmarks.HEADLINE_V3_EXTRA,
            benchmarks.HEADLINE_V4_EXTRA,
        )
        if m:
            out["headline_v4"]["missing_members"] = m
    # committed-artifact form (SPARK_GRAFT_BENCH_SUMMARY=path): the
    # summary ENRICHED with full box state, per-query iteration spreads,
    # and per-query shuffle-byte totals — so the "byte-identical shuffles,
    # uniform inflation" adjudication is machine-checkable from the
    # committed BENCH_LOCAL_* file alone.  stdout stays compact (driver
    # tail-capture window, r7 contract).
    summary_path = os.environ.get("SPARK_GRAFT_BENCH_SUMMARY", "")
    if summary_path:
        enriched = {
            **out,
            "box_state": box,
            "iters": iters,
            "queries_effective_iters": {
                n: len(rs) for n, rs in all_iters.items()
            },
            "queries_spread": spread,
            "run_order": names,
            "shuffle_bytes": shuffle,
        }
        if build_serve:
            enriched["queries_build_serve"] = build_serve
        Path(summary_path).write_text(json.dumps(enriched, indent=1))
        print(f"summary -> {summary_path}", file=sys.stderr)
    print(json.dumps(out))


# Whole-run steal share above which --retry-until-clean convicts an
# attempt even though the 2% hard gate passed: the r15 adjudication
# measured ~1.5% integrated steal inflating cold totals ~10% — runs in
# the 1-2% band are gate-green but not comparison-grade.
RETRY_STEAL_PCT = 1.0


def retry_until_clean(max_attempts: int) -> int:
    """Self-retrying cold-suite driver (VERDICT r15 #8): re-run the
    bench as a SUBPROCESS (a fresh JVM per attempt — cold means cold)
    until the committed artifact is comparison-grade, keeping every
    convicted attempt under a suffixed name so the retry history stays
    auditable.  An attempt is convicted when:

    - the bench refused to start (load/steal start gate, exit 2) — no
      artifact; wait for the box to decay and try again;
    - ``box_state.steal_gate`` == "exceeded" (the 2% hard gate); or
    - whole-run steal > ``RETRY_STEAL_PCT`` (gate-green but inflated —
      the r13-r15 rounds all lost adjudication time to this band).

    Convicted artifacts are renamed ``*_steal_exceeded_a<k>.json`` (the
    name the round protocol already treats as self-convicting); the
    clean attempt keeps the caller's configured paths.  This replaces
    the manual probe-run-rename-retry loop two of three r15 suites
    needed."""
    import subprocess

    args = [a for a in sys.argv[1:]]
    i = args.index("--retry-until-clean")
    del args[i : i + 2]
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        str(Path(__file__).resolve().parent / "BENCH_DETAIL.json"),
    )
    summary_path = os.environ.get("SPARK_GRAFT_BENCH_SUMMARY", "")
    for attempt in range(1, max_attempts + 1):
        # wait out obvious guest-side load before burning an attempt
        for _ in range(40):
            if read_box_state()["load1"] <= LOAD_GATE:
                break
            time.sleep(15)
        proc = subprocess.run(
            [sys.executable, str(Path(__file__).resolve()), *args]
        )
        if proc.returncode == 2:  # start gate refused — nothing written
            print(
                f"retry-until-clean: attempt {attempt} refused by the "
                "start gate; waiting for the box to quiesce",
                file=sys.stderr,
            )
            time.sleep(120)
            continue
        if proc.returncode != 0:
            return proc.returncode  # real failure, not contention
        try:
            box = json.loads(Path(detail_path).read_text())["box_state"]
        except (OSError, ValueError, KeyError):
            print(
                "retry-until-clean: bench exited 0 but the detail "
                f"artifact at {detail_path} is unreadable",
                file=sys.stderr,
            )
            return 1
        run_steal = (box.get("cpu_run") or {}).get("steal_pct")
        clean = box.get("steal_gate") == "ok" and (
            run_steal is None or run_steal <= RETRY_STEAL_PCT
        )
        if clean:
            print(
                f"retry-until-clean: attempt {attempt} clean "
                f"(steal {run_steal}%)",
                file=sys.stderr,
            )
            return 0
        for p in (detail_path, summary_path):
            if p and Path(p).exists():
                Path(p).rename(
                    p[: -len(".json")] + f"_steal_exceeded_a{attempt}.json"
                    if p.endswith(".json")
                    else p + f"_steal_exceeded_a{attempt}"
                )
        print(
            f"retry-until-clean: attempt {attempt} convicted "
            f"(steal_gate={box.get('steal_gate')}, run steal "
            f"{run_steal}%) — artifacts kept under _steal_exceeded_a"
            f"{attempt}; retrying",
            file=sys.stderr,
        )
        time.sleep(60)
    print(
        f"retry-until-clean: no clean run in {max_attempts} attempts",
        file=sys.stderr,
    )
    return 3


if __name__ == "__main__":
    if "--retry-until-clean" in sys.argv:
        sys.exit(
            retry_until_clean(
                int(sys.argv[sys.argv.index("--retry-until-clean") + 1])
            )
        )
    main()
