"""Interleaved A/B of perfbench/run.py between two checkouts.

    python scripts/ab_perfbench.py PARENT CHANGE --workload lookup_single \
        --seeds 1,2,3 --pairs 10 [--seconds 5] [--trace 0] [--raw FILE]

PARENT and CHANGE are the roots of two checkouts.  Pair i runs seed
seeds[i % len(seeds)] once in each, PARENT first on even pairs and
CHANGE first on odd ones, each run as `python3 perfbench/run.py` from
its own root (so each side benchmarks its own code with its own
perfbench/).  Only the last line of a run's stdout is read: the JSON
object perfbench prints.

Printed, one markdown table: per metric, each side's median [q1, q3],
the pairs each side won (by the direction CHANGE's BENCHMARK.json gives
the metric; ties count for neither; metrics it does not list get no
wins), and whether the medians differ by more than PARENT's
interquartile range.  Below it, every run that was not `correct`, that
failed operations or that printed no JSON.  --raw appends each run's
JSON line, tagged with its side, seed and pair, to FILE.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

SIDES = ("parent", "change")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True,
                    help="comma-separated; pair i runs seeds[i % len]")
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--raw", type=Path, help="append each run's JSON line here")
    return ap.parse_args(argv)


def run_once(root: Path, workload: str, seed: int, seconds: float,
             trace: int) -> dict | None:
    """One perfbench run in `root`: its last stdout line as JSON, or None
    when it printed none."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def directions(root: Path) -> dict[str, str]:
    """{metric: "lower" | "higher"} from a checkout's BENCHMARK.json."""
    path = root / "BENCHMARK.json"
    if not path.is_file():
        return {}
    spec = json.loads(path.read_text())
    return {m["name"]: m["better"]
            for kind in ("end_to_end", "per_layer") for m in spec.get(kind, [])}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3); one value is its own quartiles."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def value(run: dict | None, metric: str) -> float | None:
    m = (run or {}).get("metrics", {}).get(metric)
    return None if m is None else m["value"]


def report(runs: list[dict], better: dict[str, str]) -> list[str]:
    """The markdown table and the list of bad runs, as lines."""
    metrics = []
    for r in runs:
        for side in SIDES:
            for k in (r[side] or {}).get("metrics", {}):
                if k not in metrics:
                    metrics.append(k)
    out = ["| metric | parent median [q1, q3] | change median [q1, q3] "
           "| pairs won parent / change | gap > parent IQR |",
           "|---|---|---|---|---|"]
    for k in metrics:
        cells, stats = [], {}
        for side in SIDES:
            vals = [v for v in (value(r[side], k) for r in runs) if v is not None]
            if not vals:
                cells.append("-")
                continue
            q1, med, q3 = stats[side] = quartiles(vals)
            cells.append(f"{med:.4g} [{q1:.4g}, {q3:.4g}]")
        wins = [0, 0]
        sign = {"lower": -1, "higher": 1}.get(better.get(k))
        for r in runs:
            a, b = value(r["parent"], k), value(r["change"], k)
            if sign is None or a is None or b is None or a == b:
                continue
            wins[(b - a) * sign > 0] += 1
        won = f"{wins[0]} / {wins[1]}" if sign else "-"
        gap = "-"
        if len(stats) == 2:
            q1, med, q3 = stats["parent"]
            gap = "yes" if abs(stats["change"][1] - med) > q3 - q1 else "no"
        out.append(f"| {k} | {cells[0]} | {cells[1]} | {won} | {gap} |")
    bad = []
    for r in runs:
        for side in SIDES:
            res = r[side]
            if res is None:
                bad.append(f"pair {r['pair']} seed {r['seed']} {side}: no JSON line")
            elif not res.get("correct") or res.get("failed"):
                bad.append(f"pair {r['pair']} seed {r['seed']} {side}: "
                           f"correct={res.get('correct')} "
                           f"failed={res.get('failed')}/{res.get('attempted')}")
    out.append("")
    out.append(f"{len(runs)} pairs; runs not correct or with failed "
               f"operations: {len(bad)}")
    out.extend(bad)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    seeds = [int(s) for s in args.seeds.split(",")]
    roots = {"parent": args.parent.resolve(), "change": args.change.resolve()}
    runs = []
    for i in range(args.pairs):
        seed = seeds[i % len(seeds)]
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        row = {"pair": i, "seed": seed, "first": order[0]}
        for side in order:
            row[side] = run_once(roots[side], args.workload, seed,
                                 args.seconds, args.trace)
            if args.raw:
                with args.raw.open("a") as fh:
                    fh.write(json.dumps({"side": side, "pair": i, "seed": seed,
                                         "result": row[side]}) + "\n")
        runs.append(row)
        print(f"pair {i} seed {seed} done ({order[0]} first)",
              file=sys.stderr, flush=True)
    print("\n".join(report(runs, directions(roots["change"]))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
