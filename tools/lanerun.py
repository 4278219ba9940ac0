"""One registry pass at one scale factor: one JSONL record per lane.

    python tools/lanerun.py SF_DIR [lane ...] [--runs N] [--out FILE]

Every gate in tools/gates.py is a pure check over these records, so a
round close executes each lane once per scale factor instead of once per
gate (BigDebug's model: record each execution once, answer every question
from the record). Lanes run from the RAW registry in module registration
order: the instrumented driver wrapper pre-collects fingerprint-window
lanes at sf0.01, which shifts captured plans, and the driver-window order
rotates every round while lane timings are neighbourhood-sensitive — a
record must not depend on which window a lane sits in.

Per lane, in one ``get_session`` with ``session.default_cpus()`` cores:

1. build under ``capture_subtrees()`` and, before any execution, read the
   non-atomic output fields, the plan lint, exchange counts and table scan
   counts over the returned plan plus every pre-barrier subtree;
2. run N times (run 1 collects the frame built in step 1; later runs build
   anew): wall time of build + collect, row count, fingerprint, and the
   status-store job window;
3. compare run 1's rows with the DuckDB oracle when the lane has one
   (sidecar ``DIAG/compare_<lane>[@sf].json``; the sf0.01 gate sidecars
   carry no suffix).

Storage is released after every run with ``unpersist_all(blocking=True)``:
each run builds fresh checkpoints, so the release changes nothing a later
run computes, and a long shared-JVM pass measures each lane as a short
session would instead of drifting late lanes 2-4x (r12 postmortem).
Default output: ``.lanerun/<sf>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import duckdb
from pyspark.sql import types as T

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from big_data_analytics_machine_learning_poc_spark import oracle, session  # noqa: E402
from big_data_analytics_machine_learning_poc_spark.functions import ckpt  # noqa: E402
from big_data_analytics_machine_learning_poc_spark.plans import barrier, budget, lint  # noqa: E402

GATE_SF = "sf0.01"


def nonatomic_fields(schema) -> list[str]:
    """Names+types of top-level fields the driver's pandas canonicalizer
    cannot hash (nested Spark types and UDTs like VectorUDT): a lane
    surfacing one crashes the driver before it records a row count."""
    bad = []
    for f in schema.fields:
        dt = f.dataType
        if isinstance(dt, (T.ArrayType, T.MapType, T.StructType, T.UserDefinedType)):
            bad.append(f"{f.name}:{dt.simpleString()}")
    return bad


def _err(e: Exception) -> str:
    return f"{type(e).__name__}: {str(e)[:300]}"


def _newest_job(spark) -> int:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.size() else -1


def _jobs_after(spark, mark: int) -> list[list]:
    """[job id, duration ms] of every job with id > ``mark``."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    out = []
    it = sc.statusStore().jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        if j.jobId() <= mark:
            break
        sub, end = j.submissionTime(), j.completionTime()
        done = sub.isDefined() and end.isDefined()
        out.append([j.jobId(), end.get().getTime() - sub.get().getTime() if done else None])
    return out[::-1]


def run_lane(spark, con, name: str, fn, sql: str | None, sf_dir: str, runs: int) -> dict:
    """Execute one lane ``runs`` times and return its record."""
    rec: dict = {"lane": name, "sf_dir": sf_dir, "oracle": sql is not None, "runs": []}
    try:
        mark = _newest_job(spark)
        t0 = time.perf_counter()
        with barrier.capture_subtrees() as subtrees:
            df = fn(spark, sf_dir)
        build_s = time.perf_counter() - t0
        violations, allowed = lint.lint_query(name, df, subtrees)
        rec.update(
            nonatomic=nonatomic_fields(df.schema),
            lint=sorted(violations),
            lint_allowed=sorted(allowed),
            exchanges=budget.lane_exchange_counts(df, subtrees),
            scans=budget.table_scan_counts(df, subtrees),
            reused=df._jdf.queryExecution().executedPlan().toString().count("ReusedExchange"),
        )
    except Exception as e:  # noqa: BLE001 — a lane's failure is its record
        rec["error"] = _err(e)
        ckpt.unpersist_all(spark, blocking=True)
        return rec
    rows = None
    for i in range(runs):
        try:
            if i:
                mark = _newest_job(spark)
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                build_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            got = [tuple(r) for r in df.collect()]
            wall = build_s + time.perf_counter() - t0
            run = {"s": round(wall, 4), "rows": len(got), "fp": oracle.fingerprint(df.columns, got)}
            run["jobs"] = _jobs_after(spark, mark)
        except Exception as e:  # noqa: BLE001
            rec["runs"].append({"error": _err(e)})
            break
        finally:
            ckpt.unpersist_all(spark, blocking=True)
        rec["runs"].append(run)
        if rows is None:
            rows, cols = got, df.columns
    if rows is not None and sql is not None:
        sf = os.path.basename(sf_dir.rstrip("/"))
        sidecar = name + ("" if sf == GATE_SF else f"@{sf}")
        try:
            rec["oracle_problems"] = oracle.compare_rows(cols, rows, con, sql, sidecar=sidecar)
        except Exception as e:  # noqa: BLE001
            rec["oracle_problems"] = [_err(e)]
    return rec


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("lanes", nargs="*", help="subset of lane names (default: all)")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    reg = entrymod._registry(window_first=False)
    unknown = sorted(set(args.lanes) - set(reg.queries))
    if unknown:
        # a typo'd name silently matching nothing would pass every gate
        print(f"ERROR unknown lane names: {unknown}", file=sys.stderr)
        return 2
    names = args.lanes or list(reg.queries)
    out = args.out or os.path.join(
        REPO, ".lanerun", os.path.basename(args.sf_dir.rstrip("/")) + ".jsonl"
    )
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)

    cpus = session.default_cpus()
    spark = session.get_session("lanerun", cpus=cpus)
    con = duckdb.connect()
    oracle.register_views(con, args.sf_dir)
    try:
        with open(out, "w") as f:
            for i, name in enumerate(names, 1):
                loadavg = [round(x, 2) for x in os.getloadavg()]
                rec = run_lane(
                    spark, con, name, reg.queries[name], reg.oracles.get(name),
                    args.sf_dir, args.runs,
                )
                rec.update(cpus=cpus, loadavg=loadavg)
                f.write(json.dumps(rec) + "\n")
                f.flush()
                last = rec["runs"][-1] if rec["runs"] else rec
                status = last.get("error") or f"{last['s']:.2f}s {last['rows']} rows"
                print(f"[{i}/{len(names)}] {name}: {status}", file=sys.stderr)
    finally:
        con.close()
        spark.stop()
    print(f"{len(names)} records -> {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
