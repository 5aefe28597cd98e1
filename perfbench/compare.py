"""Summarise one run set, or compare two, from result records.

    python3 perfbench/compare.py set_a.jsonl              # medians, spreads
    python3 perfbench/compare.py set_a.jsonl set_b.jsonl  # B against A

A run set is a JSONL file of result records, as ``sweep.py`` writes them
(or ``.perfbench/results/records.jsonl``). For every workload and
end-to-end metric it prints the median, the quartiles and the spread (the
distance between the quartiles as a share of the median). Given two sets it
also prints B's change against A and whether that stays within the
metric's bound. Two sets whose inputs differ are not compared: for each
workload, both must hold the same (seed, input content hash) pairs.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def load(path) -> list[dict]:
    records = []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line.startswith("record "):
                line = line[len("record "):]
            if line.startswith("{"):
                rec = json.loads(line)
                if rec.get("trace") == 0 and "metrics" in rec:
                    records.append(rec)
    return records


def by_workload(records: list[dict]) -> dict:
    out: dict = {}
    for rec in records:
        out.setdefault(rec["workload"], []).append(rec)
    return out


def input_fingerprints(records: list[dict]) -> list:
    return sorted((r["seed"], r["input"]["content_hash"]) for r in records)


def summary(values: list[float]) -> dict:
    if len(values) < 2:
        v = values[0]
        return {"n": 1, "median": v, "q1": v, "q3": v, "spread": 0.0}
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"n": len(values), "median": statistics.median(values),
            "q1": q1, "q3": q3, "spread": (q3 - q1) / statistics.median(values)}


def metric_specs() -> list[dict]:
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)["end_to_end"]


def compare(a: list[dict], b: list[dict] | None) -> tuple[list[str], bool]:
    """Report lines, and whether every compared metric is within bound."""
    lines, ok = [], True
    sets_a, sets_b = by_workload(a), by_workload(b or [])
    for workload, recs in sorted(sets_a.items()):
        other = sets_b.get(workload)
        if b is not None:
            if other is None:
                raise SystemExit(f"workload {workload} missing from set B")
            if input_fingerprints(recs) != input_fingerprints(other):
                raise SystemExit(
                    f"refusing to compare {workload}: the run sets' input "
                    "fingerprints differ (different seeds or generator)")
        for spec in metric_specs():
            name = spec["name"]
            sa = summary([r["metrics"][name] for r in recs])
            line = (f"{workload:12s} {name:12s} n={sa['n']:2d} "
                    f"median={sa['median']:.4g} q1={sa['q1']:.4g} "
                    f"q3={sa['q3']:.4g} spread={sa['spread']:.3f} "
                    f"(bound {spec['bound']})")
            if other is not None:
                sb = summary([r["metrics"][name] for r in other])
                change = sb["median"] / sa["median"] - 1
                worse = -change if spec["better"] == "higher" else change
                within = worse <= spec["bound"]
                ok &= within
                line += (f" | B median={sb['median']:.4g} "
                         f"spread={sb['spread']:.3f} change={change:+.3f} "
                         f"{'ok' if within else 'WORSE THAN BOUND'}")
            lines.append(line)
    return lines, ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("set_a")
    ap.add_argument("set_b", nargs="?")
    args = ap.parse_args(argv)
    a = load(args.set_a)
    b = load(args.set_b) if args.set_b else None
    lines, ok = compare(a, b)
    print("\n".join(lines))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
