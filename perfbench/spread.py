#!/usr/bin/env python3
"""Run one workload once per seed and report each end-to-end metric's
run-to-run spread against its bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload tail_follow --seeds 1 10

The spread is the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median. Raw
results go to ``.perfbench_out/spread-<workload>-<first>-<last>.json``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.stats import spread  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs=2, metavar=("FIRST", "LAST"), required=True)
    args = ap.parse_args(argv)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    results = []
    for seed in range(args.seeds[0], args.seeds[1] + 1):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t = time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              text=True, timeout=600)
        run_s = time.monotonic() - t
        last = json.loads(proc.stdout.strip().splitlines()[-1])
        results.append({"seed": seed, "rc": proc.returncode, "run_s": run_s, **last})
        print(f"seed {seed}: rc={proc.returncode} correct={last['correct']} {run_s:.0f} s "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()), flush=True)
    out = ROOT / ".perfbench_out" / f"spread-{args.workload}-{args.seeds[0]}-{args.seeds[1]}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(results, indent=1))
    ok = all(r["rc"] == 0 and r["correct"] for r in results)
    print(f"{'metric':<20}{'median':>12}{'spread':>9}{'bound':>7}")
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        sp = spread(vals) if len(vals) >= 2 else float("nan")
        gated = m["name"] != "setup_s"
        flag = "" if not gated else ("ok" if sp <= m["bound"] / 3 else "WIDE" if sp <= m["bound"] else "OVER")
        ok = ok and (not gated or sp <= m["bound"])
        print(f"{m['name']:<20}{statistics.median(vals):>12.4g}{sp:>9.3f}{m['bound']:>7}  {flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
