"""Lane benchmark: one closed-loop client running registry lanes at sf0.1.

    python3 lanebench/run.py --workload relational_cold --seed 1 --seconds 15 --trace 0

One process per run, ``local[<cores>]`` with cores from the CPU affinity
mask (what ``nproc`` prints). A request is one lane execution: the lane's
registry function is called with only ``(spark, sf_dir)`` and its result is
collected and checked. The seed sets only the order of lanes within each
pass. Set-up (session build and, for a prepared workload, building and
planning every frame) is repeated SETUP_REPS times, restarting the
SparkContext in between; the first repetition also counts process start,
imports and the JVM launch. ``setup_s`` is their median. WARMUP_PASSES
untimed passes follow, then whole passes run until ``--seconds`` have
gone.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` pairs every
request with a traced one and prints the per-layer metrics of the traced
requests plus the tracing overhead; spans go to ``.lanebench/out/``.

Human-readable context goes to stdout as ``#`` lines; the last line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. See
``lanebench/README.md`` for why each workload exists.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from statistics import median  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

from lanemetrics import pass_total, percentile, samples_beyond, tail_reportable  # noqa: E402

# the bench scale factor's testdata (TESTDATA.md)
SF_DIR = "/root/testdata/sf0.1"
SETUP_REPS = 5
# the JIT is still compiling through the first request of each lane; the
# second pass brings the multi-second lanes close to their steady state
WARMUP_PASSES = 2
TAIL_PCT = 90

RELATIONAL = (
    "agg_avg_max",
    "group_filter",
    "join3_agg",
    "describe",
    "corr",
    "group_count",
    "flagship_regional_revenue",
)


@dataclass(frozen=True)
class Workload:
    lanes: tuple[str, ...]
    profile: str  # session.get_session profile
    prepared: bool  # build + plan each frame once in set-up; requests only collect


WORKLOADS = {
    "relational_cold": Workload(RELATIONAL, "micro", prepared=False),
    "relational_prepared": Workload(RELATIONAL, "micro", prepared=True),
    "iterative_dml": Workload(
        ("dedup_connected_components", "delta_merge_audit"), "scale", prepared=False
    ),
}

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "throughput_rpm": "1/min",
}

PER_LAYER = {
    "catalog.load_table_ms": "ms",
    "catalog.load_table_jobs": "count",
    "operators.build_s": "s",
    "operators.build_self_s": "s",
    "operators.build_jobs": "count",
    "operators.build_stages": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "catalyst.plan_s": "s",
    "exec.collect_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.skipped_stages": "count",
    "exec.failed_tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.busy_ratio": "ratio",
    "driver.gap_s": "s",
    "driver.collect_rows": "count",
    "sources.input_bytes": "bytes",
    "sources.output_bytes": "bytes",
    "storage.blocks_held": "count",
    "storage.blocks_added": "count",
    "storage.memory_used_mb": "MiB",
    "trace.request_s": "s",
    "trace.overhead_pct": "%",
}


def say(msg: str) -> None:
    print(f"# {msg}", flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_gib() -> int:
    """A sixth of physical RAM, between 1 and 4 GiB: sf0.1 needs little
    heap, and the box may be shared."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(1, min(4, ram // 6 // 2**30))


def pin_environment(work: str) -> None:
    """Keep every file the run writes under ``work`` and let Python workers
    import the package whatever the working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(tmp, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_gib()}g"
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {java_opts} pyspark-shell"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")


def oracle_fingerprints(lanes, oracles: dict[str, str]) -> tuple[dict[str, str], dict[str, float]]:
    """Expected fingerprint per lane: the DuckDB oracle where running it is
    cheap, else the pinned value in ``expected_fingerprints.json`` (taken
    from the same oracle, or from the reference run of a rows-only lane).
    Also returns the oracle's median time per lane (the same-run DuckDB
    control; context only)."""
    from contextlib import closing

    import duckdb

    from big_data_analytics_machine_learning_poc_spark.oracle import fingerprint, register_views

    with open(os.path.join(HERE, "expected_fingerprints.json")) as f:
        pinned = json.load(f)
    expected, control = {}, {}
    with closing(duckdb.connect()) as con:
        register_views(con, SF_DIR)
        for lane in lanes:
            if lane in pinned:
                expected[lane] = pinned[lane]
                continue
            times = []
            for _ in range(3):
                t = time.perf_counter()
                cur = con.execute(oracles[lane])
                rows = cur.fetchall()
                times.append(time.perf_counter() - t)
            expected[lane] = fingerprint([d[0] for d in cur.description], rows)
            control[lane] = median(times)
    return expected, control


def proc_mib(pid: int | str, field: str) -> float:
    """A ``Vm*`` line of ``/proc/<pid>/status``, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no {field} for pid {pid}")


class Bench:
    def __init__(self, wl: Workload, seed: int, trace: bool):
        self.wl, self.seed, self.trace = wl, seed, trace
        self.n_cores = cores()
        self.attempted = self.failed = 0
        self.spark = None
        self.frames: dict = {}
        self.tracer = None
        self.req_id = 0

    # -- set-up --------------------------------------------------------
    def load_registry(self):
        if self.trace:
            from big_data_analytics_machine_learning_poc_spark import catalog

            from lanetrace import Tracer

            self.tracer = Tracer()
            # before the operator modules import it by name
            catalog.load_table = self.tracer.wrap_load_table(catalog.load_table)
        import __spark_entry__

        reg = __spark_entry__._registry(window_first=False)
        self.queries = {lane: reg.queries[lane] for lane in self.wl.lanes}
        self.oracles = reg.oracles

    def start_session(self):
        from big_data_analytics_machine_learning_poc_spark.session import get_session

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_session("lanebench", cpus=self.n_cores, profile=self.wl.profile)
        if self.tracer is not None:
            self.tracer.bind(self.spark)
        self.frames = {}
        if self.wl.prepared:
            for lane, fn in self.queries.items():
                df = fn(self.spark, SF_DIR)
                df._jdf.queryExecution().executedPlan()
                self.frames[lane] = df

    # -- requests ------------------------------------------------------
    def request(self, lane: str, traced: bool) -> tuple[float | None, dict | None]:
        """One checked lane execution. Returns (latency or None on failure,
        layer numbers when traced)."""
        from big_data_analytics_machine_learning_poc_spark.oracle import fingerprint

        self.attempted += 1
        self.req_id += 1
        fn, layers = self.queries[lane], None
        try:
            if traced:
                build = None if self.wl.prepared else (lambda: fn(self.spark, SF_DIR))
                layers, df, rows = self.tracer.request(
                    self.req_id, lane, build, self.frames.get(lane)
                )
                dt = layers["trace.request_s"]
            else:
                t = time.perf_counter()
                df = self.frames[lane] if self.wl.prepared else fn(self.spark, SF_DIR)
                rows = df.collect()
                dt = time.perf_counter() - t
            got = fingerprint(df.columns, [tuple(r) for r in rows])
        except Exception:  # noqa: BLE001 — a failed request is counted, the run goes on
            self.failed += 1
            print(f"request {lane} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None, None
        if got != self.expected[lane]:
            self.failed += 1
            print(f"request {lane}: fingerprint {got} != expected {self.expected[lane]}", file=sys.stderr)
            return None, None
        return dt, layers

    def setup(self) -> list[float]:
        reps = []
        for i in range(SETUP_REPS):
            r0 = T_START if i == 0 else time.perf_counter()
            oracle_s = 0.0
            if i == 0:
                self.load_registry()
                t = time.perf_counter()
                self.expected, self.control = oracle_fingerprints(self.wl.lanes, self.oracles)
                oracle_s = time.perf_counter() - t
            self.start_session()
            reps.append(time.perf_counter() - r0 - oracle_s)
        t = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            for lane in self.wl.lanes:
                self.request(lane, traced=False)
        self.warmup_s = time.perf_counter() - t
        return reps

    # -- timed run -----------------------------------------------------
    def run(self, seconds: float):
        """Closed loop of whole passes until ``seconds`` have gone. Whole
        passes keep the lane mix, and so ``throughput_rpm``, independent of
        where the deadline falls."""
        rng = random.Random(self.seed)
        lat = {lane: [] for lane in self.wl.lanes}
        layers = {lane: [] for lane in self.wl.lanes}
        done = 0
        t0 = time.perf_counter()
        for n_pass in itertools.count():
            if n_pass and time.perf_counter() - t0 >= seconds:
                return lat, layers, done, time.perf_counter() - t0
            # traced runs pair each request with an untraced one, in
            # alternating order, so JIT drift cancels out of the overhead
            modes = ((False, True), (True, False))[n_pass % 2] if self.trace else (False,)
            for lane in rng.sample(self.wl.lanes, len(self.wl.lanes)):
                for traced in modes:
                    dt, lay = self.request(lane, traced)
                    if dt is None:
                        continue
                    done += 1
                    if traced:
                        layers[lane].append(lay)
                    else:
                        lat[lane].append(dt)

    def memory(self) -> dict[str, float]:
        """Driver memory in MiB, context only: both processes' peak RSS and
        the JVM heap still live after a full GC at the end of the run."""
        jvm = self.spark.sparkContext._gateway.jvm
        jvm.java.lang.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        return {
            "python_peak_rss": proc_mib("self", "VmHWM"),
            "jvm_peak_rss": proc_mib(jvm.java.lang.ProcessHandle.current().pid(), "VmHWM"),
            "jvm_live_heap": heap.getUsed() / 2**20,
        }

    def close(self):
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def box_info(spark, wl: Workload, seed: int) -> dict:
    import duckdb
    import pyspark

    def conf(key):
        return spark.conf.get(key)

    return {
        "cores": cores(),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": conf("spark.sql.shuffle.partitions"),
        "aqe": conf("spark.sql.adaptive.enabled"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "profile": wl.profile,
        "seed": seed,
        "sf_dir": SF_DIR,
        "versions": {
            "python": platform.python_version(),
            "spark": spark.version,
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
        },
    }


def layer_totals(layers: dict[str, list[dict]], untraced: float, n_cores: int) -> dict[str, float]:
    """Per metric: sum over lanes of the lane's median per request, like
    ``pass_s``. The two ratios are taken from those sums."""
    keys = layers[next(iter(layers))][0]
    out = {k: pass_total({lane: [r[k] for r in rs] for lane, rs in layers.items()}) for k in keys}
    out["exec.busy_ratio"] = out["exec.executor_run_s"] / (out["exec.collect_s"] * n_cores)
    out["trace.overhead_pct"] = 100 * (out["trace.request_s"] / untraced - 1)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    if not os.path.isdir(SF_DIR):
        raise SystemExit(f"testdata not found at {SF_DIR}")

    work = os.path.join(REPO, ".lanebench")
    pin_environment(work)
    load0 = os.getloadavg()
    bench = Bench(wl, args.seed, bool(args.trace))
    try:
        reps = bench.setup()
        info = box_info(bench.spark, wl, args.seed)
        lat, layers, done, elapsed = bench.run(args.seconds)
        mem = bench.memory()
        if bench.tracer is not None:
            out = os.path.join(work, "out")
            os.makedirs(out, exist_ok=True)
            bench.tracer.write(os.path.join(out, f"spans_{args.workload}_seed{args.seed}.jsonl"))
    finally:
        bench.close()
        shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    info["loadavg_start"] = [round(x, 2) for x in load0]
    info["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    say("box " + json.dumps(info, sort_keys=True))

    if any(not xs for xs in lat.values()) or (bench.trace and any(not xs for xs in layers.values())):
        say("a lane completed no timed request; no metrics")
        print(json.dumps({"correct": False, "attempted": bench.attempted, "failed": bench.failed, "metrics": {}}))
        return 1

    n_min = min(len(xs) for xs in lat.values())
    say("memory (MiB) " + " ".join(f"{k}={v:.1f}" for k, v in mem.items()))
    say(f"set-up reps (s): {[round(r, 3) for r in reps]}; warm-up {bench.warmup_s:.3f} s")
    for lane, xs in lat.items():
        say(f"lane {lane}: n={len(xs)} median={median(xs):.4f}s p90={percentile(xs, TAIL_PCT):.4f}s")
    if tail_reportable(n_min, TAIL_PCT):
        say(f"pass_p90_s {pass_total(lat, lambda xs: percentile(xs, TAIL_PCT)):.4f} s")
    else:
        say(
            f"pass_p90_s omitted: fewest samples per lane {n_min}, "
            f"{samples_beyond(n_min, TAIL_PCT)} beyond p90 (needs 10)"
        )
    if bench.control:
        say(f"duckdb control (context only): pass {sum(bench.control.values()):.4f} s over {len(bench.control)} lanes")
    say(
        f"checks {bench.attempted}, failed {bench.failed}, "
        f"failed_ratio {bench.failed / bench.attempted:.4f} ratio"
    )

    if bench.trace:
        per = layer_totals(layers, pass_total(lat), bench.n_cores)
        metrics = {k: {"value": per[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        values = {
            "setup_s": median(reps),
            "pass_s": pass_total(lat),
            "throughput_rpm": done / elapsed * 60,
        }
        metrics = {k: {"value": values[k], "unit": END_TO_END[k]} for k in END_TO_END}
    for k, m in metrics.items():
        say(f"{k} {m['value']:.6g} {m['unit']}")
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
