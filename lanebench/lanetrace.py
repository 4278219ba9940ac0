"""Outside-in layer trace for the lane benchmark.

Spans are recorded around the calls the benchmark makes into each layer's
public entry point, never inside the package:

    request
      operators.build        the registry lane function (Python plan
                             construction; eager analysis; build-time jobs)
        catalog.load_table   every table read the lane makes
      catalyst.plan          ``queryExecution().executedPlan()``
      exec.collect           ``DataFrame.collect()``

Jobs and stages are attributed to spans by id windows read from the Spark
status store between spans (one closed-loop client, so the ids issued
between two reads belong to the span those reads bracket). Spans are kept
in memory and written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import time

from lanemetrics import attribute, self_time, union_length

PHASES = ("analysis", "optimization", "planning")


def _opt_date_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusStore:
    """Reads of the driver's AppStatusStore through py4j."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        gw = spark.sparkContext._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store reflects all jobs that have finished."""
        self._sc.listenerBus().waitUntilEmpty()

    def _stages(self):
        # full arity: the one-argument overload does not resolve via py4j
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def marks(self) -> tuple[int, int]:
        """(newest job id, newest stage id); both lists are newest-first."""
        self.drain()
        jobs = self._store.jobsList(None)
        stages = self._stages()
        return (
            jobs.apply(0).jobId() if jobs.size() else -1,
            stages.apply(0).stageId() if stages.size() else -1,
        )

    def stages(self, after: int) -> list[dict]:
        """Every attempt of every stage with id > ``after``."""
        out = []
        it = self._stages().iterator()
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= after:
                break
            out.append(
                {
                    "id": sid,
                    "skipped": s.status().toString() == "SKIPPED",
                    "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                    "failed_tasks": s.numFailedTasks(),
                    "run_s": s.executorRunTime() / 1e3,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1e3,
                    "input_bytes": s.inputBytes(),
                    "output_bytes": s.outputBytes(),
                    "shuffle_read_bytes": s.shuffleReadBytes(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "spill_bytes": s.diskBytesSpilled(),
                    "start": _opt_date_s(s.submissionTime()),
                    "end": _opt_date_s(s.completionTime()),
                }
            )
        return out

    def storage(self) -> tuple[int, float]:
        """(cached blocks held, memory they use in MiB) over every
        persisted or locally checkpointed RDD."""
        blocks = mem = 0
        it = self._store.rddList(True).iterator()
        while it.hasNext():
            r = it.next()
            blocks += r.numCachedPartitions()
            mem += r.memoryUsed()
        return blocks, mem / 2**20


def planning_phases_ms(df, since_s: float) -> dict[str, float]:
    """Catalyst phase durations of ``df``'s QueryExecution that started at
    or after ``since_s`` (epoch seconds): a frame planned before the request
    began contributes zero."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in PHASES:
        opt = phases.get(name)
        ms = 0.0
        if opt.isDefined():
            p = opt.get()
            # the JVM clock reads whole milliseconds
            if p.startTimeMs() >= since_s * 1000 - 1:
                ms = float(p.durationMs())
        out[name] = ms
    return out


class Tracer:
    """Records one span tree per request and derives its layer numbers."""

    def __init__(self):
        self.store = None
        self.spans: list[dict] = []
        self._req = None
        self._loads: list[dict] = []
        self._own: list[tuple[float, float]] = []

    def _marks(self) -> tuple[int, int]:
        """Status-store marks; the time they take is the tracer's own and is
        kept out of self and gap times."""
        t0 = time.time()
        m = self.store.marks()
        self._own.append((t0, time.time()))
        return m

    def bind(self, spark) -> None:
        """Read the status store of ``spark`` (again after a restart)."""
        self.store = StatusStore(spark)

    def wrap_load_table(self, load_table):
        """Wrapper for ``catalog.load_table`` that records a child span per
        call while a request is being traced and is a pass-through
        otherwise."""

        @functools.wraps(load_table)
        def traced(spark, sf_dir, name):
            if self._req is None:
                return load_table(spark, sf_dir, name)
            before = self._marks()
            t0 = time.time()
            try:
                return load_table(spark, sf_dir, name)
            finally:
                t1 = time.time()
                after = self._marks()
                self._loads.append(
                    {"table": name, "t0": t0, "t1": t1, "jobs": after[0] - before[0]}
                )

        return traced

    def request(self, req_id: int, lane: str, build, df=None):
        """Run one traced request. ``build`` makes the DataFrame (cold) or is
        None when ``df`` was prepared ahead. Returns (layer numbers, the
        DataFrame, its collected rows)."""
        st = self.store
        self._req = req_id
        self._loads, self._own = [], []
        spans = []
        blocks0, _ = st.storage()
        m0 = self._marks()
        t0 = time.time()
        try:
            if build is not None:
                b0 = time.time()
                df = build()
                b1 = time.time()
                m1 = self._marks()
                spans.append(("operators.build", b0, b1, m0, m1))
            else:
                m1 = m0
            p0 = time.time()
            df._jdf.queryExecution().executedPlan()
            p1 = time.time()
            phases = planning_phases_ms(df, t0)
            m2 = self._marks()
            spans.append(("catalyst.plan", p0, p1, m1, m2))
            c0 = time.time()
            rows = df.collect()
            c1 = t1 = time.time()
            m3 = self._marks()
            spans.append(("exec.collect", c0, c1, m2, m3))
        finally:
            self._req = None
        blocks1, mem1 = st.storage()

        marks = [(name, a[1], b[1]) for name, _, _, a, b in spans]
        stages = st.stages(m0[1])
        by_span = attribute((s["id"] for s in stages), marks)
        stage_of = {s["id"]: [] for s in stages}
        for s in stages:
            stage_of[s["id"]].append(s)
        jobs = {name: b[0] - a[0] for name, _, _, a, b in spans}

        def stage_sum(name, key):
            return sum(x[key] for i in by_span.get(name, ()) for x in stage_of[i])

        def ran(name):
            return [x for i in by_span.get(name, ()) for x in stage_of[i] if not x["skipped"]]

        load_iv = [(x["t0"], x["t1"]) for x in self._loads]
        busy = [(x["start"], x["end"]) for x in stages if x["start"] and x["end"]]
        out = {
            "trace.request_s": t1 - t0,
            "catalog.load_table_ms": 1e3 * union_length(load_iv),
            "catalog.load_table_jobs": sum(x["jobs"] for x in self._loads),
            "operators.build_s": b1 - b0 if build else 0.0,
            "operators.build_self_s": self_time(b0, b1, load_iv + self._own) if build else 0.0,
            "operators.build_jobs": jobs.get("operators.build", 0),
            "operators.build_stages": len(ran("operators.build")),
            "catalyst.analysis_ms": phases["analysis"],
            "catalyst.optimization_ms": phases["optimization"],
            "catalyst.planning_ms": phases["planning"],
            "catalyst.plan_s": p1 - p0,
            "exec.collect_s": c1 - c0,
            "exec.jobs": jobs["exec.collect"],
            "exec.stages": len(ran("exec.collect")),
            "exec.tasks": stage_sum("exec.collect", "tasks"),
            "exec.skipped_stages": len(by_span["exec.collect"]) - len(ran("exec.collect")),
            "exec.failed_tasks": stage_sum("exec.collect", "failed_tasks"),
            "exec.executor_run_s": stage_sum("exec.collect", "run_s"),
            "exec.executor_cpu_s": stage_sum("exec.collect", "cpu_s"),
            "exec.gc_s": stage_sum("exec.collect", "gc_s"),
            "exec.shuffle_write_bytes": stage_sum("exec.collect", "shuffle_write_bytes"),
            "exec.shuffle_read_bytes": stage_sum("exec.collect", "shuffle_read_bytes"),
            "exec.spill_bytes": stage_sum("exec.collect", "spill_bytes"),
            "driver.gap_s": self_time(t0, t1, busy + self._own),
            "driver.collect_rows": len(rows),
            "sources.input_bytes": sum(x["input_bytes"] for x in stages),
            "sources.output_bytes": sum(x["output_bytes"] for x in stages),
            "storage.blocks_held": blocks1,
            "storage.blocks_added": blocks1 - blocks0,
            "storage.memory_used_mb": mem1,
        }
        self.spans.append(
            {"req": req_id, "lane": lane, "span": "request", "parent": None, "t0": t0, "t1": t1}
        )
        for name, s0, s1, a, b in spans:
            self.spans.append(
                {
                    "req": req_id,
                    "lane": lane,
                    "span": name,
                    "parent": "request",
                    "t0": s0,
                    "t1": s1,
                    "jobs": b[0] - a[0],
                    "stage_ids": by_span.get(name, []),
                }
            )
        for x in self._loads:
            self.spans.append(
                {"req": req_id, "lane": lane, "span": "catalog.load_table",
                 "parent": "operators.build", **x}
            )
        return out, df, rows

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
