"""Run the benchmark once per seed and collect the result records.

    python3 perfbench/sweep.py --workload skew_ckpt --seeds 1-10 --out a.jsonl

Runs are sequential, one process at a time, untraced, with
``run_seconds`` from ``BENCHMARK.json``. The records go to ``--out`` for
``compare.py``.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    with open(ROOT / "BENCHMARK.json") as fh:
        seconds = json.load(fh)["run_seconds"]
    failures = 0
    for seed in seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, str(ROOT / "perfbench" / "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        record = next((ln for ln in lines if ln.startswith("record ")), None)
        if proc.returncode or record is None:
            failures += 1
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            continue
        with open(args.out, "a") as fh:
            fh.write(record[len("record "):] + "\n")
        print(f"seed {seed}: {lines[-1]}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
