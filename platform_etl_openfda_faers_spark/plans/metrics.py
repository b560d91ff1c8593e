"""Runtime stage-metric deltas (shuffle bytes, spill, input volume).

Wraps the JVM ``AppStatusStore`` — the same numbers the Spark UI's stage
page shows — so callers can assert DATA MOVEMENT, not just wall time or
static plan shape.  A plan audit proves the plan has one Exchange; only a
runtime byte count proves that Exchange moved 2 MB and not 20 GB.  Used
by ``bench.py`` (per-query ``shuffle_bytes`` in the bench JSON), the
per-stage table of ``tools/profile_query.py`` and the runtime audits in
``tests/test_plan_audits.py``.

Driver-local and read-only: one py4j call per snapshot, no listener
registration, works with the UI disabled.
"""

from __future__ import annotations

# delta() key -> AppStatusStore StageData accessor
_BYTES = {"shuffle_write": "shuffleWriteBytes", "shuffle_read": "shuffleReadBytes",
          "spill_disk": "diskBytesSpilled", "spill_mem": "memoryBytesSpilled",
          "input_bytes": "inputBytes"}


class StageMetrics:
    """Delta-based collector: ``snapshot()`` before a job, then
    ``stage_rows()`` / ``delta()`` (their byte sums) over the stages that
    ran in between."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._jvm = sc._jvm
        self._quantiles = sc._gateway.new_array(self._jvm.double, 0)
        self._seen: set[int] = set()

    def _stages(self):
        empty = self._jvm.java.util.ArrayList()
        it = self._store.stageList(
            empty, False, False, self._quantiles, empty
        ).iterator()
        while it.hasNext():
            yield it.next()

    def snapshot(self) -> None:
        self._seen = {st.stageId() for st in self._stages()}

    def stage_rows(self):
        """One dict per stage run since ``snapshot()``: tasks, executor
        run/CPU time, shuffle read/write, spill, input bytes and name."""
        for st in self._stages():
            if st.stageId() not in self._seen:
                yield {"stage": st.stageId(), "tasks": st.numCompleteTasks(),
                       "run_s": st.executorRunTime() / 1e3,
                       "cpu_s": st.executorCpuTime() / 1e9,
                       **{k: getattr(st, f)() for k, f in _BYTES.items()},
                       "name": str(st.name())}

    def delta(self) -> dict[str, int]:
        rows = list(self.stage_rows())
        return {k: sum(r[k] for r in rows) for k in _BYTES}
