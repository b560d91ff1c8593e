"""The traced run: the pipeline's layers called one by one from outside,
with a span per call and the counters of the work each call caused.

``traced_run`` calls the public functions ``plans.pipeline.run`` calls, in
the same order and with the same arguments, and materialises each layer
boundary with a ``noop`` write so a layer's execution lands in its own span.
Where the pipeline persists, the traced run persists too; it also persists
the contingency table before the MedDRA join, so that ``contingency`` and
``meddra`` are timed apart.  Two probes are added that the pipeline does
not run: one action that counts rows at the flatten, blacklist and ChEMBL
boundaries, and ``critical_values`` materialised alone, to compare its
Python CPU with the same kernel inside ``monte_carlo_filter``.

Each span records name, start, end, parent and run id.  Spans are kept in
memory and written out by the caller; a span's self time is its duration
minus its children's.  Counters per span come from the JVM
``AppStatusStore`` (the source ``plans.metrics.StageMetrics`` reads), found
through a job group set for the span; Python-worker CPU comes from
``/proc``; py4j calls are counted by wrapping the gateway client.  The
tracer's own py4j traffic is not counted.

Between two traced runs of one seed the counts (jobs, stages, tasks, rows,
bytes, files, py4j calls) repeat exactly; times, CPU seconds and the ratios
built from them vary.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from pathlib import Path

from py4j import protocol as proto
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from platform_etl_openfda_faers_spark.config import EngineConfig
from platform_etl_openfda_faers_spark.operators import (
    contingency,
    drugmap,
    filters,
    flatten,
    meddra,
    montecarlo,
    sampling,
)
from platform_etl_openfda_faers_spark.operators.cache import cached_deps
from platform_etl_openfda_faers_spark.sources import readers, writers

import procs

_RELEASE = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME
OPERATOR_MODULES = ("flatten.", "filters.", "drugmap.", "contingency.",
                    "meddra.", "montecarlo.", "sampling.")


class Py4jCounter:
    """Counts py4j commands sent through one gateway client while
    ``active``; installed for the life of a ``with`` block.  Object
    releases are not counted: Python's garbage collector sends them at
    times unrelated to the call that is running."""

    def __init__(self, client) -> None:
        self.client = client
        self.calls = 0
        self.active = False

    def __enter__(self) -> "Py4jCounter":
        send = self.client.send_command

        def counting(command, *args, **kwargs):
            if self.active and not command.startswith(_RELEASE):
                self.calls += 1
            return send(command, *args, **kwargs)

        self.client.send_command = counting
        return self

    def __exit__(self, *exc) -> None:
        del self.client.send_command


def group_stats(spark: SparkSession, group: str) -> dict:
    """Jobs, completed stages and tasks, and stage metrics summed over the
    jobs that ran under job group ``group``."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
           "input_bytes": 0, "shuffle_bytes": 0, "spill_bytes": 0}
    seen: set[int] = set()
    for job in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job)
        for sid in (info.stageIds if info else ()):
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if str(st.status()) != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["run_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["input_bytes"] += st.inputBytes()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled() + st.memoryBytesSpilled()
    return out


class Tracer:
    """Records spans for one traced run."""

    def __init__(self, spark: SparkSession, run_id: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.jvm_pid = self.sc._gateway.proc.pid
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.py4j = Py4jCounter(self.sc._gateway._gateway_client)

    def _open(self, name: str, kind: str) -> dict:
        span = {"run": self.run_id, "id": len(self.spans), "name": name,
                "kind": kind, "parent": self._stack[-1]["id"] if self._stack else None}
        self.spans.append(span)
        self._stack.append(span)
        span["start"] = time.perf_counter()
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        span["dur_s"] = span["end"] - span["start"]
        self._stack.pop()

    @contextmanager
    def layer(self, name: str):
        span = self._open(name, "layer")
        try:
            yield span
        finally:
            self._close(span)

    @contextmanager
    def _leaf(self, name: str, kind: str, python_cpu: bool = False):
        group = f"{self.run_id}/{len(self.spans)}"
        self.sc.setJobGroup(group, name)
        cpu0 = procs.python_worker_cpu_s(self.jvm_pid) if python_cpu else 0.0
        span = self._open(name, kind)
        try:
            yield span
        finally:
            self._close(span)
            if python_cpu:
                span["python_cpu_s"] = procs.python_worker_cpu_s(self.jvm_pid) - cpu0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            span.update(group_stats(self.spark, group))

    def call(self, name: str, fn, *args, probe: bool = False, **kwargs):
        """Time one call into the engine; probes are not the pipeline's."""
        with self._leaf(name, "probe" if probe else "call") as span:
            before = self.py4j.calls
            self.py4j.active = not probe
            try:
                result = fn(*args, **kwargs)
            finally:
                self.py4j.active = False
                span["py4j_calls"] = self.py4j.calls - before
        return result

    def exec(self, name: str, df: DataFrame, python_cpu: bool = False) -> None:
        """Materialise ``df`` with a noop write, counting its rows."""
        obs = Observation(name)
        with self._leaf(name, "exec", python_cpu) as span:
            noop(df.observe(obs, F.count(F.lit(1)).alias("rows")))
        span["rows"] = obs.get["rows"]

    def count_chain(self, name: str, chain) -> list[int]:
        """One probe action counting rows at each step of ``chain``: a list
        of functions, each taking the previous step's output."""
        observations, df = [], None
        for i, step in enumerate(chain):
            obs = Observation(f"{name}.{i}")
            df = step(df).observe(obs, F.count(F.lit(1)).alias("rows"))
            observations.append(obs)
        with self._leaf(name, "probe"):
            noop(df)
        return [o.get["rows"] for o in observations]


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def traced_run(spark: SparkSession, config: EngineConfig, tracer: Tracer) -> dict:
    """Run the pipeline layer by layer under ``tracer``; return the probe
    counts.  Writes the same outputs as ``pipeline.run`` would."""
    fda = config.fda
    persist = StorageLevel.MEMORY_AND_DISK
    with tracer.py4j, tracer.layer("traced_run"):
        with tracer.layer("readers.fda"):
            reports = tracer.call("readers.load_fda_reports",
                                  readers.load_fda_reports, spark, fda.fda_data)
            tracer.exec("readers.fda.parse", reports)
        with tracer.layer("readers.aux"):
            drug_list = tracer.call("readers.load_chembl_drug_list",
                                    readers.load_chembl_drug_list, spark,
                                    fda.chembl_drugs)
            tracer.exec("readers.chembl.parse", drug_list)
            blacklist = tracer.call("readers.load_blacklist",
                                    readers.load_blacklist, spark, fda.blacklist)
            tracer.exec("readers.blacklist.parse", blacklist)
            meddra_pt = meddra_llt = None
            if fda.meddra_path:
                meddra_pt = tracer.call(
                    "readers.load_meddra_preferred_terms",
                    readers.load_meddra_preferred_terms, spark,
                    f"{fda.meddra_path}/MedAscii/pt.asc")
                tracer.exec("readers.meddra_pt.parse", meddra_pt)
                meddra_llt = tracer.call(
                    "readers.load_meddra_low_level_terms",
                    readers.load_meddra_low_level_terms, spark,
                    f"{fda.meddra_path}/MedAscii/llt.asc")
                tracer.exec("readers.meddra_llt.parse", meddra_llt)

        with tracer.layer("pairs"):
            flat = tracer.call("flatten.explode_reports",
                               flatten.explode_reports, reports)
            kept = tracer.call("filters.anti_join_blacklist",
                               filters.anti_join_blacklist, flat, blacklist)
            pairs = tracer.call("drugmap.map_to_chembl",
                                drugmap.map_to_chembl, kept, drug_list)
            counts = tracer.count_chain("pairs.counts", [
                lambda _: flatten.explode_reports(reports),
                lambda df: filters.anti_join_blacklist(df, blacklist),
                lambda df: drugmap.map_to_chembl(df, drug_list),
            ])

        with tracer.layer("contingency"):
            table = tracer.call("contingency.contingency_llr",
                                contingency.contingency_llr, pairs,
                                cache_input=True)
            (cached_pairs,) = cached_deps(table)
            tracer.exec("pairs.exec", cached_pairs)
            table = table.persist(persist)
            tracer.exec("contingency.exec", table)

        with tracer.layer("meddra"):
            if meddra_pt is not None:
                stage1 = tracer.call("meddra.add_meddra_codes",
                                     meddra.add_meddra_codes, table,
                                     meddra_pt, meddra_llt)
            else:
                stage1 = tracer.call("meddra.stub_meddra_code",
                                     meddra.stub_meddra_code, table)
            stage1 = stage1.persist(persist)
            tracer.exec("meddra.exec", stage1)

        mc = fda.montecarlo
        with tracer.layer("montecarlo"):
            critvals = tracer.call("montecarlo.critical_values",
                                   montecarlo.critical_values, stage1,
                                   permutations=mc.permutations,
                                   percentile=mc.percentile, seed=mc.seed,
                                   probe=True)
            tracer.exec("montecarlo.critical_values.exec", critvals,
                        python_cpu=True)
            result = tracer.call("montecarlo.monte_carlo_filter",
                                 montecarlo.monte_carlo_filter, stage1,
                                 permutations=mc.permutations,
                                 percentile=mc.percentile, seed=mc.seed)
            result = result.persist(persist)
            tracer.exec("montecarlo.exec", result, python_cpu=True)

        out = fda.output_path
        with tracer.layer("writers"):
            tracer.call("writers.write_outputs", writers.write_outputs,
                        stage1, list(fda.outputs), f"{out}/agg_by_chembl")
            tracer.call("writers.write_outputs", writers.write_outputs,
                        result, list(fda.outputs), f"{out}/agg_critval_drug")

        if fda.sampling.enabled:
            samp = fda.sampling
            with tracer.layer("sampling"):
                ids = tracer.call("sampling.stratified_sample_ids",
                                  sampling.stratified_sample_ids, result, pairs,
                                  fraction=samp.fraction, seed=samp.seed)
                sampled_clean = tracer.call("sampling.sample_clean_rows",
                                            sampling.sample_clean_rows, pairs, ids)
                sampled_raw = tracer.call("sampling.sample_raw_reports",
                                          sampling.sample_raw_reports, reports,
                                          sampled_clean)
                tracer.exec("sampling.clean.exec", sampled_clean)
                tracer.exec("sampling.raw.exec", sampled_raw)
            with tracer.layer("writers"):
                tracer.call("writers.write_outputs", writers.write_outputs,
                            sampled_clean, list(fda.outputs),
                            f"{out}/sampled_clean")
                tracer.call("writers.write_outputs", writers.write_outputs,
                            sampled_raw, list(fda.outputs),
                            f"{out}/sampled_raw_reports")
    spark.catalog.clearCache()
    return {"flatten_rows": counts[0], "antijoin_rows": counts[1],
            "drugmap_rows": counts[2]}


def _spans(spans: list[dict], name: str | None = None, kind: str | None = None,
           prefix: tuple[str, ...] | None = None) -> list[dict]:
    return [s for s in spans
            if (name is None or s["name"] == name)
            and (kind is None or s["kind"] == kind)
            and (prefix is None or s["name"].startswith(prefix))]


def _under(spans: list[dict], layer: str) -> list[dict]:
    """Leaf spans whose parent is a layer span named ``layer``."""
    ids = {s["id"] for s in _spans(spans, layer, "layer")}
    return [s for s in spans if s["parent"] in ids]


def add_self_times(spans: list[dict]) -> None:
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["dur_s"]
    for s in spans:
        s["self_s"] = s["dur_s"] - child_s.get(s["id"], 0.0)


def _files(root: Path) -> tuple[int, int]:
    """(data files, bytes) under ``root``, leaving out Spark's markers."""
    n = size = 0
    for p in root.rglob("*"):
        if p.is_file() and not p.name.startswith(("_", ".")):
            n += 1
            size += p.stat().st_size
    return n, size


def per_layer_metrics(spans: list[dict], counts: dict, timed: dict,
                      pipeline_s: float, permutations: int,
                      out: Path) -> dict[str, tuple[float, str]]:
    """The benchmark's per-layer metrics, as name -> (value, unit).

    ``timed`` holds the job counters of a timed ``pipeline.run`` in the same
    process; layers a workload does not run report 0."""
    def one(name: str) -> dict:
        (s,) = _spans(spans, name)
        return s

    def total(rows: list[dict], key: str) -> float:
        return sum(s.get(key, 0) for s in rows)

    fda = _under(spans, "readers.fda")
    pairs, table, stage1 = one("pairs.exec"), one("contingency.exec"), one("meddra.exec")
    cv, mc = one("montecarlo.critical_values.exec"), one("montecarlo.exec")
    samp = _spans(spans, kind="exec", prefix=("sampling.",))
    files, size = _files(out)
    return {
        "readers.fda_s": (total(_spans(spans, "readers.fda"), "dur_s"), "s"),
        "readers.fda_jobs": (total(fda, "jobs"), "count"),
        "readers.fda_input_bytes": (total(fda, "input_bytes"), "bytes"),
        "readers.aux_s": (total(_spans(spans, "readers.aux"), "dur_s"), "s"),
        "driver.construct_s": (total(_spans(spans, kind="call", prefix=OPERATOR_MODULES), "dur_s"), "s"),
        "driver.py4j_calls": (total(_spans(spans, kind="call"), "py4j_calls"), "count"),
        "spark.jobs": (timed["jobs"], "count"),
        "spark.stages": (timed["stages"], "count"),
        "spark.tasks": (timed["tasks"], "count"),
        "flatten.rows_out": (counts["flatten_rows"], "rows"),
        "filters.blacklist_dropped": (counts["flatten_rows"] - counts["antijoin_rows"], "rows"),
        "drugmap.match_ratio": (counts["drugmap_rows"] / counts["antijoin_rows"], "ratio"),
        "pairs.exec_s": (pairs["dur_s"], "s"),
        "pairs.cpu_s": (pairs["cpu_s"], "s"),
        "contingency.exec_s": (table["dur_s"], "s"),
        "contingency.cpu_s": (table["cpu_s"], "s"),
        "contingency.shuffle_bytes": (table["shuffle_bytes"], "bytes"),
        "contingency.spill_bytes": (table["spill_bytes"], "bytes"),
        "contingency.stages": (table["stages"], "count"),
        "contingency.rows_out": (table["rows"], "rows"),
        "montecarlo.exec_s": (mc["dur_s"], "s"),
        "montecarlo.tasks": (mc["tasks"], "count"),
        "montecarlo.parallelism": (mc["run_s"] / mc["dur_s"], "ratio"),
        "montecarlo.python_cpu_s": (cv["python_cpu_s"], "s"),
        "montecarlo.filter_python_cpu_s": (mc["python_cpu_s"], "s"),
        "montecarlo.cells_per_s": (permutations * stage1["rows"] / mc["dur_s"], "1/s"),
        "meddra.exec_s": (stage1["dur_s"], "s"),
        "sampling.exec_s": (total(samp, "dur_s"), "s"),
        "sampling.input_bytes": (total(samp, "input_bytes"), "bytes"),
        "writers.s": (total(_spans(spans, "writers"), "dur_s"), "s"),
        "writers.bytes": (size, "bytes"),
        "writers.files": (files, "count"),
        "trace.overhead_s": (one("traced_run")["dur_s"] - pipeline_s, "s"),
    }
