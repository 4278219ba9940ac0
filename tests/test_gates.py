"""The round-close gates (tools/gates.py) are pure functions over lane
records; these pin their verdicts on synthetic records, so a gate's
pass/fail rule cannot drift without a failing test."""

from __future__ import annotations

import json
import subprocess
import sys

from tools import gates


def _rec(lane, *, oracle=True, error=None, runs=None, **fields):
    r = {"lane": lane, "sf_dir": "sfX", "cpus": 4, "loadavg": [0.7], "oracle": oracle}
    if error:
        r["error"] = error
    r["runs"] = runs if runs is not None else [{"s": 1.0, "rows": 3, "fp": "a", "jobs": []}]
    r.update(fields)
    return r


def _times(*secs, rows=1):
    return [{"s": s, "rows": rows, "fp": "a", "jobs": []} for s in secs]


def _verdicts(rows):
    return {name: status for status, name, _ in rows}


def _ex(shuffle, broadcast=0):
    return {"shuffle": shuffle, "broadcast": broadcast, "reused": 0}


def test_budget_grew_shrank_new_lost():
    ledger = {
        "same": _ex(2),
        "grew": _ex(1),
        "shrank": _ex(3),
        "join3_agg": _ex(0, 2),
        "unpinned": _ex(0, 2),
    }
    records = [
        _rec("same", exchanges=_ex(2)),
        _rec("grew", exchanges=_ex(2)),
        _rec("shrank", exchanges=_ex(1)),
        _rec("brand_new", exchanges=_ex(5)),
        # a pinned star join losing a broadcast fails; any other lane may
        _rec("join3_agg", exchanges=_ex(0, 1)),
        _rec("unpinned", exchanges=_ex(0, 1)),
        _rec("broken", error="ValueError: boom"),
    ]
    assert _verdicts(gates.budget(records, ledger)) == {
        "same": "ok",
        "grew": "GREW",
        "shrank": "shrank",
        "brand_new": "new",
        "join3_agg": "LOST",
        "unpinned": "ok",
        "broken": "ERR",
    }


def test_budget_ledger_keeps_errored_lanes_and_refuses_unledgered_errors():
    ledger = {"kept": _ex(2), "gone_from_registry": _ex(1)}
    records = [
        _rec("kept", error="boom"),  # errored, has a prior entry: keeps it
        _rec("fresh", exchanges=_ex(3)),
    ]
    merged, missing = gates.budget_ledger(records, ledger, {"kept", "fresh"})
    assert merged == {"fresh": _ex(3), "kept": _ex(2)}
    assert missing == []

    # errored with NO prior entry: the ledger would miss it -> refuse
    records.append(_rec("unledgered", error="boom"))
    _, missing = gates.budget_ledger(records, ledger, {"kept", "fresh", "unledgered"})
    assert missing == ["unledgered"]


def test_stability_drift_vs_tolerated():
    drift = [{"s": 1, "rows": 3, "fp": fp, "jobs": []} for fp in ("a", "b")]
    records = [
        _rec("stable", oracle=False, runs=_times(1, 1)),
        _rec("drifts", oracle=False, runs=drift),
        _rec("agg_kll_value_quantiles", oracle=False, runs=drift),
        _rec("errs", oracle=False, runs=[{"error": "RuntimeError: x"}]),
        _rec("oracle_lane_drifts", oracle=True, runs=drift),  # not a rows-only lane
    ]
    assert "agg_kll_value_quantiles" in gates._TOLERATED
    assert _verdicts(gates.stability(records)) == {
        "stable": "ok",
        "drifts": "DRIFT",
        "agg_kll_value_quantiles": "tolerated",
        "errs": "ERR",
    }


def test_oracle_problems_rows_only_and_errors():
    records = [
        _rec("green", oracle_problems=[]),
        _rec("red", oracle_problems=["rowcount spark=3 oracle=4"]),
        _rec("rows_only", oracle=False),
        _rec("empty_rows_only", oracle=False, runs=[{"s": 1, "rows": 0, "fp": "e", "jobs": []}]),
        _rec("build_err", error="boom"),
        _rec("run_err", runs=[{"error": "boom"}]),
    ]
    assert _verdicts(gates.oracle(records)) == {
        "green": "pass",
        "red": "FAIL",
        "rows_only": "rows",
        "empty_rows_only": "FAIL",
        "build_err": "FAIL",
        "run_err": "FAIL",
    }


def test_lint_schema_scans_verdicts():
    records = [
        _rec("clean", lint=[], lint_allowed=[], nonatomic=[], scans={"orders": 1}, reused=0),
        _rec("allowed", lint=[], lint_allowed=["nested_loop"], nonatomic=[], scans={}, reused=0),
        _rec("bad", lint=["global_sort"], lint_allowed=[], nonatomic=["v:vector"],
             scans={"documents": 5, "orders": 1}, reused=2),
        _rec("broken", error="boom"),
    ]
    assert _verdicts(gates.lint(records)) == {
        "clean": "ok", "allowed": "allow", "bad": "BAD", "broken": "ERR"}
    assert _verdicts(gates.schema(records)) == {
        "clean": "ok", "allowed": "ok", "bad": "BAD", "broken": "ERR"}
    # advisory: lanes at or over the threshold and errors are notes only
    assert _verdicts(gates.scans(records)) == {
        "clean": "ok", "allowed": "ok", "bad": "scans", "broken": "err"}
    assert next(gates.scans(records))[1] == "bad"  # worst lane first


def test_perf_floor_and_tolerance():
    baseline = {"fast": {"median_s": 0.01}, "steady": {"median_s": 1.0},
                "was_error": {"error": "x"}}
    records = [
        # 0.5 s vs a 0.01 s pin: under the 0.2 s floor x 3 -> not slow
        _rec("fast", runs=_times(9.0, 0.5, 0.5, 0.5)),
        # run 1 is the warm-up: a slow one-shot alone never flags
        _rec("steady", runs=_times(30.0, 2.9, 3.0, 2.9)),
        _rec("new_lane", runs=_times(50.0, 50.0)),
        _rec("was_error", runs=_times(50.0, 50.0)),
    ]
    assert _verdicts(gates.perf(records, baseline, retry=None)) == {
        "fast": "ok", "steady": "ok", "new_lane": "ok", "was_error": "ok"}
    assert gates.median_s(records[1]) == 2.9
    slow = [_rec("fast", runs=_times(1.0, 0.61, 0.61, 0.61))]
    assert _verdicts(gates.perf(slow, baseline, retry=None)) == {"fast": "SLOW"}


def test_perf_retry_recovered_confirmed_and_errored():
    baseline = {n: {"median_s": 1.0} for n in ("recovers", "confirmed", "retry_errs", "steady")}
    records = [
        _rec(n, runs=_times(1.0, 5.0, 5.0, 5.0)) for n in ("recovers", "confirmed", "retry_errs")
    ] + [_rec("steady", runs=_times(1.0, 1.0, 1.0, 1.0)), _rec("erred", runs=[{"error": "x"}])]
    asked = []

    def retry(lanes):
        asked.append(lanes)
        return [
            _rec("recovers", runs=_times(1.0, 1.1, 1.1, 1.1)),
            _rec("confirmed", runs=_times(1.0, 4.0, 4.0, 4.0)),
            _rec("retry_errs", runs=[{"error": "RuntimeError: died"}]),
        ]

    rows = list(gates.perf(records, baseline, retry=retry))
    assert asked == [["confirmed", "recovers", "retry_errs"]]  # flagged lanes only
    assert _verdicts(rows) == {
        "recovers": "recovered",
        "confirmed": "SLOW",
        "retry_errs": "ERR",
        "steady": "ok",
        "erred": "ERR",
    }
    assert "errored on retry" in dict((n, d) for _, n, d in rows)["retry_errs"]


def test_perf_subset_write_baseline_merges():
    """A lane SUBSET merges into the existing baseline instead of
    truncating it to the subset (the dropped-lanes hazard class from
    ADVICE r5 #4)."""
    prior = {
        "cpus": 4,
        "runs": 3,
        "sf_dir": "sfX",
        "loadavg_start": [0.5],
        "lanes": {
            "kept_lane": {"median_s": 1.0, "oneshot_s": 2.0, "rows": 1},
            "swept_lane": {"median_s": 9.0, "oneshot_s": 9.0, "rows": 1},
        },
    }
    records = [_rec("swept_lane", runs=_times(2.5, 1.5, 1.4, 1.6))]
    merged = gates.perf_baseline(records, prior)
    assert set(merged["lanes"]) == {"kept_lane", "swept_lane"}
    assert merged["lanes"]["swept_lane"] == {"median_s": 1.5, "oneshot_s": 2.5, "rows": 1}
    assert merged["lanes"]["kept_lane"]["median_s"] == 1.0
    assert merged["loadavg_start"] == [0.7]
    assert merged["runs"] == 3 and merged["sf_dir"] == "sfX"


def test_gates_cli_fails_on_red_and_on_empty_records(tmp_path):
    path = tmp_path / "r.jsonl"
    path.write_text(json.dumps(_rec("red", oracle_problems=["value mismatch"])) + "\n")
    cmd = [sys.executable, "tools/gates.py", "oracle", str(path)]
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=gates.REPO)
    assert proc.returncode == 1 and "FAIL" in proc.stdout
    path.write_text("")
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=gates.REPO)
    assert proc.returncode == 1 and "no records" in proc.stdout
