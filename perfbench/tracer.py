"""Spans around the benchmark's calls into the engine, plus Spark-side counters.

Every call the benchmark makes into an engine layer runs inside
:meth:`Tracer.span`.  A span always records its wall time, so the untraced
run and the traced run time their operations the same way.  Only with
tracing on does a span also

* put the call in its own Spark job group (its jobs are labelled with the
  layer name),
* remember the range of Spark job ids the call submitted (taken from the
  DAG scheduler's job counter, so jobs started from the engine's own
  threads are counted too), and
* clear and read the Python UDF profiler around the call
  (``spark.sql.pyspark.udf.profiler=perf``).

Job and stage metrics are resolved by :meth:`Tracer.resolve`, which the
caller runs after an operation has ended, outside its timed region, and
before ``spark.ui.retainedStages`` can evict the stages.  Bookkeeping of a
call happens just outside its own start and end; the time it takes is
charged to the enclosing operation (``overhead_s``) and subtracted from that
operation's wall.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

MB = 1 << 20


class Tracer:
    def __init__(self, spark, enabled: bool, t0: float):
        self.spark = spark
        self.enabled = enabled
        self.t0 = t0
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._unresolved: list[dict] = []
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    # -- spans ---------------------------------------------------------------
    def _job_counter(self) -> int:
        return int(self._jsc.dagScheduler().numTotalJobs())

    def _udf_seconds(self) -> float:
        results = self.spark._profiler_collector._perf_profile_results
        return float(sum(stats.total_tt for stats in results.values()))

    @contextmanager
    def span(self, name: str, op: int | None = None, call: bool = True):
        """Time one call into a layer (``call=True``) or one operation made
        of such calls (``call=False``, no Spark bookkeeping of its own).
        Yields the span record; callers may add fields."""
        traced = self.enabled and call
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "overhead_s": 0.0,
            "call": call,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        booked = 0.0
        if traced:
            b0 = time.perf_counter()
            self._sc.setJobGroup(f"perfbench-{rec['id']}", name)
            self.spark.profile.clear(type="perf")
            rec["first_job"] = self._job_counter()
            booked += time.perf_counter() - b0
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            rec["start"] = start - self.t0
            rec["end"] = end - self.t0
            rec["wall_s"] = end - start
            self._stack.pop()
            if traced:
                b0 = time.perf_counter()
                rec["end_job"] = self._job_counter()
                rec["udf_s"] = self._udf_seconds()
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
                self._unresolved.append(rec)
                booked += time.perf_counter() - b0
            if rec["parent"] is not None:
                self.spans[rec["parent"]]["overhead_s"] += booked + rec["overhead_s"]

    def net_wall(self, rec: dict) -> float:
        """A span's wall minus the tracer's bookkeeping of the calls in it."""
        return rec["wall_s"] - rec["overhead_s"]

    # -- Spark counters ------------------------------------------------------
    def resolve(self) -> None:
        """Attach jobs, stages, executor time, shuffle and spill to every
        span that ended since the last call.  Runs outside timed regions."""
        if not self._unresolved:
            return
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        for rec in self._unresolved:
            stage_ids: set[int] = set()
            jobs = 0
            for job_id in range(rec["first_job"], rec["end_job"]):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                jobs += 1
                stage_ids.update(int(s) for s in info.stageIds)
            totals = dict.fromkeys(
                ("stages", "executor_s", "executor_cpu_s", "shuffle_read_mb",
                 "shuffle_write_mb", "spill_mb"), 0.0,
            )
            for sid in sorted(stage_ids):
                attempts = self._store.stageData(
                    sid, False, None, False, self._no_quantiles
                )
                ran = False
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    ran = True
                    totals["executor_s"] += sd.executorRunTime() / 1e3
                    totals["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    totals["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                    totals["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                    totals["spill_mb"] += sd.diskBytesSpilled() / MB
                totals["stages"] += int(ran)
            rec["jobs"] = jobs
            rec.update(totals)
            rec["stages"] = int(rec["stages"])
        self._unresolved = []

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh, indent=1)
