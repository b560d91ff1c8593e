"""End-to-end benchmark of the FAERS pipeline, ``plans.pipeline.run``.

Usage (from the repository root)::

    python3 faersbench/run.py --workload faers_release --seed 1 --seconds 12 --trace 0

Each invocation is one closed-loop client on one ``local[nproc]``
SparkSession: a run starts only after the previous one has finished.  The
inputs are generated from ``--seed`` (``gen.py``) and cached per
(workload, seed) under ``.faersbench-work/``; generation is outside every
metric.  Every run's outputs are checked against a DuckDB oracle
(``oracle.py``); a run that raises or fails a check counts in ``failed``.

``--trace 0`` measures, in this order:

- ``setup_s``: build the SparkSession (starting the JVM) and finish a
  trivial first job.  Measured once per run: each further JVM start
  would add as much again (about 9 s on a 4-core Xeon VM) to every run;
- ``first_run_s``: the first ``pipeline.run`` in the fresh JVM, the cost a
  monthly batch pays;
- ``pipeline_s``: median wall time of the warm ``pipeline.run`` calls,
  from config to all outputs written.  At least one is made, and another
  while it is expected to end within ``--seconds`` of the first's start;
- ``peak_rss_mb``: peak resident memory of the JVM plus its Python workers.

``--trace 1`` makes the same set-up, first and warm runs, then one
traced run (``tracing.py``) that reports the per-layer metrics, and checks
that the traced run's significant pairs equal the timed run's.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; a detail file with box state,
every run time and the spans goes to ``.faersbench-work/results/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

import procs

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".faersbench-work"
PACKAGE = "platform_etl_openfda_faers_spark"
CACHED_CORPORA = 6


@dataclass(frozen=True)
class Workload:
    shape: dict
    permutations: int
    meddra: bool
    sampling: bool
    outputs: tuple[str, ...]


WORKLOADS = {
    # The production shape at a small size, with every layer on: MedDRA
    # codes, the stratified sample (which reads the JSON a second time) and
    # the writers.  CSV is left out: pipeline.run with sampling plus csv
    # raises UNSUPPORTED_DATA_TYPE_FOR_DATASOURCE on the nested patient
    # struct of the sampled raw reports.  JSON output is left out to keep a
    # run short; mc_heavy writes it.
    "faers_release": Workload(
        shape=dict(reports=20_000, files=8, drugs=1_000, reactions=1_500,
                   reactions_per_report=(1, 6), drugs_per_report=(1, 5)),
        permutations=100, meddra=True, sampling=True, outputs=("parquet",)),
    # Few reports but many reactions per drug and 1000 permutations: the
    # Monte-Carlo kernel is the largest layer and reading does little.
    "mc_heavy": Workload(
        shape=dict(reports=8_000, files=4, drugs=300, reactions=4_000,
                   reactions_per_report=(4, 12), drugs_per_report=(1, 3),
                   zipf=0.9),
        permutations=1000, meddra=False, sampling=False,
        outputs=("parquet", "json")),
}


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def ensure_data(name: str, w: Workload, seed: int) -> Path:
    """Generated corpus for (workload, seed), made once and then reused."""
    from gen import FORMAT_VERSION, Shape, generate

    root = WORK / "data"
    target = root / f"{name}-{seed}"
    meta = target / "meta.json"
    if meta.is_file() and json.loads(meta.read_text())["format_version"] == FORMAT_VERSION:
        return target
    tmp = root / f".{name}-{seed}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(target, ignore_errors=True)
    generate(tmp, Shape(**w.shape), seed)
    tmp.rename(target)
    corpora = sorted((d for d in root.iterdir() if not d.name.startswith(".")),
                     key=lambda d: d.stat().st_mtime)
    for old in corpora[:-CACHED_CORPORA]:
        shutil.rmtree(old, ignore_errors=True)
    return target


def session_conf(nproc: int) -> dict[str, str]:
    """The engine defaults sized to the machine: no UI or console progress,
    two shuffle partitions per core, Spark's local files and JVM temp files
    inside the work directory, and a 2 GiB driver heap committed up front.
    A heap left to grow makes the JVM's resident size depend on when G1
    expands it (1.6-2.6 GiB across identical runs); a fixed heap leaves
    ``peak_rss_mb`` to move with non-heap and Python-worker memory."""
    return {
        "spark.driver.memory": "2g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(2 * nproc),
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}",
    }


def start_session(nproc: int):
    """(session, seconds to build it and finish a trivial first job)."""
    from platform_etl_openfda_faers_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("faersbench", master=f"local[{nproc}]", conf=session_conf(nproc))
    spark.range(1000).count()
    setup_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, setup_s


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def engine_config(w: Workload, data: Path, out: Path):
    from platform_etl_openfda_faers_spark.config import (
        EngineConfig,
        FdaConfig,
        MonteCarloConfig,
        SamplingConfig,
    )

    return EngineConfig(fda=FdaConfig(
        fda_data=str(data / "fda"),
        chembl_drugs=str(data / "chembl.jsonl"),
        blacklist=str(data / "blacklist.txt"),
        meddra_path=str(data / "meddra") if w.meddra else None,
        outputs=w.outputs,
        output_path=str(out),
        montecarlo=MonteCarloConfig(permutations=w.permutations),
        sampling=SamplingConfig(enabled=w.sampling),
    ))


class Runner:
    """Timed ``pipeline.run`` calls, each followed by the output check."""

    def __init__(self, spark, config, oracle, w: Workload) -> None:
        self.spark, self.config, self.oracle, self.w = spark, config, oracle, w
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.digest: str | None = None
        self.peak_rss_mb = 0.0

    def run(self, group: str) -> float | None:
        from platform_etl_openfda_faers_spark.operators.cache import unpersist_cached
        from platform_etl_openfda_faers_spark.plans import pipeline

        self.attempted += 1
        self.spark.sparkContext.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            result = pipeline.run(self.spark, self.config)
            elapsed = time.perf_counter() - t0
            unpersist_cached(result)
            self.spark.catalog.clearCache()
        except Exception:  # a failed run is counted, the benchmark goes on
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return None
        finally:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.peak_rss_mb = max(self.peak_rss_mb, procs.peak_rss_mb(self.jvm_pid))
        problems = self.oracle.check(Path(self.config.fda.output_path), self.w.sampling)
        digest = self.oracle.digest(Path(self.config.fda.output_path))
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            problems.append("significant pairs differ from the first run")
        if problems:
            self.failed += 1
            self.errors.extend(problems)
            return None
        return elapsed

    def warm_runs(self, seconds: float) -> list[float]:
        """At least one warm run, then more while the next is expected to
        end within ``seconds`` of the start."""
        warm: list[float] = []
        deadline = time.perf_counter() + seconds
        for i in range(3 * max(1, int(seconds))):
            t0 = time.perf_counter()
            elapsed = self.run(f"faersbench-warm-{i}")
            if elapsed is not None:
                warm.append(elapsed)
            # stop when another run as long as this one would end past the
            # window; a run that keeps failing gets three attempts
            now = time.perf_counter()
            if (warm or i >= 2) and now + (now - t0) > deadline:
                break
        return warm


def main() -> int:
    args = parse_args()
    if not (ROOT / PACKAGE).is_dir() or not (ROOT / "bench.py").is_file():
        print(f"faersbench: {PACKAGE}/ and bench.py must sit next to "
              f"{HERE.name}/; run from a full checkout", file=sys.stderr)
        return 2
    for d in ("tmp", "spark-local", "results"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    # Python workers unpickle the Monte-Carlo UDF by module path, so the
    # package must be importable in them: they inherit this environment.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # no hsperfdata files in /tmp from the launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path[:0] = [str(ROOT), str(HERE)]

    from bench import read_box_state, read_cpu_ticks, steal_summary
    from oracle import Oracle

    name, w = args.workload, WORKLOADS[args.workload]
    nproc = os.cpu_count() or 1
    data = ensure_data(name, w, args.seed)
    oracle = Oracle(data, meddra=w.meddra)
    out = WORK / "out" / name
    box = {"nproc": nproc, "start": read_box_state()}
    ticks0 = read_cpu_ticks()

    spark, setup_s = start_session(nproc)
    detail: dict = {"workload": name, "seed": args.seed, "trace": args.trace,
                    "setup_s": setup_s}
    try:
        runner = Runner(spark, engine_config(w, data, out), oracle, w)
        first = runner.run("faersbench-first")
        warm = runner.warm_runs(args.seconds)
        pipeline_s = statistics.median(warm) if warm else float("nan")
        detail.update(first_run_s=first, warm_s=warm)
        metrics: dict[str, tuple[float, str]]
        if args.trace == 0:
            metrics = {
                "setup_s": (setup_s, "s"),
                "first_run_s": (first if first is not None else float("nan"), "s"),
                "pipeline_s": (pipeline_s, "s"),
                "peak_rss_mb": (runner.peak_rss_mb, "MiB"),
            }
        else:
            metrics = traced(spark, runner, engine_config(w, data, out.with_name(
                f"{name}-traced")), pipeline_s, detail)
    finally:
        stop_session(spark)

    box["end"] = read_box_state()
    box["steal"] = steal_summary(ticks0, read_cpu_ticks())
    detail.update(box=box, attempted=runner.attempted, failed=runner.failed,
                  errors=runner.errors)
    finite = all(math.isfinite(v) for v, _ in metrics.values())
    correct = runner.failed == 0 and not runner.errors and finite
    tag = f"{name}-{args.seed}-trace{args.trace}"
    (WORK / "results" / f"{tag}.json").write_text(json.dumps(detail, indent=1))

    steal = box["steal"] or {}
    print(f"faersbench {tag}: nproc={nproc} load1={box['start']['load1']} "
          f"steal_pct={steal.get('steal_pct')} warm_runs={len(warm)}")
    for key, (value, unit) in metrics.items():
        print(f"  {key} = {value} {unit}")
    print(f"  error_rate = {runner.failed}/{runner.attempted}  "
          f"check: {'ok' if correct else 'FAILED'}")
    for err in runner.errors:
        print(f"  error: {err.strip()}", file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v if math.isfinite(v) else 0.0, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


def traced(spark, runner: Runner, config, pipeline_s: float,
           detail: dict) -> dict[str, tuple[float, str]]:
    """One traced run after the timed ones, writing to its own output
    directory and checked like them; its per-layer metrics."""
    import tracing

    timed = tracing.group_stats(spark, "faersbench-warm-0")
    out = Path(config.fda.output_path)
    tracer = tracing.Tracer(spark, out.name)
    runner.attempted += 1
    counts = tracing.traced_run(spark, config, tracer)
    tracing.add_self_times(tracer.spans)
    detail["spans"] = tracer.spans
    problems = runner.oracle.check(out, runner.w.sampling)
    if runner.oracle.digest(out) != runner.digest:
        problems.append("traced run's significant pairs differ from the timed run's")
    if problems:
        runner.failed += 1
        runner.errors.extend(problems)
    return tracing.per_layer_metrics(tracer.spans, counts, timed, pipeline_s,
                                     config.fda.montecarlo.permutations, out)


if __name__ == "__main__":
    sys.exit(main())
