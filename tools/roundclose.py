"""One-command round-close battery (promotes the README checklist from
prose to a tool, so no step can be silently omitted under time pressure).

    python tools/roundclose.py       # full battery, ordered, exit != 0 on any red

benchfloor first, while the machine is quiet; then ONE registry pass per
scale factor (tools/lanerun.py: sf0.01 x2 runs for the plan gates and run
stability, sf0.1 x4 runs for perf, sf0.001 x1 for the schema guard); then
every tools/gates.py check over those records; then pytest. Each step is a
subprocess so one step's Spark session (or crash) can't contaminate the
next. A summary lands in ``DIAG/roundclose_summary.json`` with per-step exit
codes, durations, and the last line of output — the artifact a verdict can
quote directly.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PASSES = {"sf0.01": 2, "sf0.1": 4, "sf0.001": 1}
CHECKS = [("lint", "sf0.01"), ("budget", "sf0.01"), ("schema", "sf0.001"),
          ("stability", "sf0.01"), ("oracle", "sf0.001"), ("oracle", "sf0.01"),
          ("oracle", "sf0.1"), ("perf", "sf0.1"), ("scans", "sf0.01")]


def main() -> int:
    py = sys.executable
    records = {sf: os.path.join(REPO, ".lanerun", f"{sf}.jsonl") for sf in PASSES}
    steps = [("benchfloor", [py, "tools/benchfloor.py"])]
    for sf, runs in PASSES.items():
        argv = [py, "tools/lanerun.py", f"/root/testdata/{sf}", "--runs", str(runs)]
        steps.append((f"lanerun-{sf}", argv + ["--out", records[sf]]))
    steps += [(f"{check}-{sf}", [py, "tools/gates.py", check, records[sf]]) for check, sf in CHECKS]
    steps.append(("pytest", [py, "-m", "pytest", "tests/", "-q"]))

    results: dict[str, dict] = {}
    failed: list[str] = []
    for name, argv in steps:
        t0 = time.time()
        proc = subprocess.run(argv, cwd=REPO, capture_output=True, text=True, check=False)
        dur = round(time.time() - t0, 1)
        # last non-blank stdout line is each tool's own summary; a step that
        # reports on stderr (pytest collection errors, crashes before any
        # print) would otherwise leave an empty/misleading summary in the
        # artifact a verdict quotes (ADVICE r6) — fall back to stderr and
        # persist a stderr tail for failed steps
        lines = [ln for ln in proc.stdout.splitlines() if ln.strip()] or [
            ln for ln in proc.stderr.splitlines() if ln.strip()] or [""]
        results[name] = {"exit": proc.returncode, "sec": dur, "summary": lines[-1]}
        if proc.returncode:
            results[name]["stderr_tail"] = proc.stderr[-2000:]
            failed.append(name)  # keep going: a round close wants the FULL red list
        print(f"{'FAIL' if proc.returncode else 'ok  '}  {name:16s} [{dur:7.1f}s]  {lines[-1]}")
    out = {"failed": failed, "steps": results, "loadavg": list(os.getloadavg())}
    with open(os.path.join(REPO, "DIAG", "roundclose_summary.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"\n{'ALL GREEN' if not failed else 'RED: ' + ', '.join(failed)}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
