"""A/A check: two sets of benchmark runs of the same tree, compared by metric.

    python3 perfbench/aa.py --runs 10 [--sets 2] [--workloads em_chain sweep_ops]

Each run is one ``run.py --trace 0`` process with its own seed; runs of the
two sets alternate, so drift on the machine reaches both alike. For every
end-to-end metric and workload it prints each set's median, quartiles and
spread (quartile distance over median), the same over both sets together,
and whether the sets agree: every spread but ``setup_s``'s within the
metric's bound, and the medians apart by at most the bound. ``--sets 1``
prints one set's figures. Raw results go to
``perfbench/out/aa-<time>.json``; the exit code is 1 if any pair disagrees.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def run_once(workload: str, seed: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(BENCH["run_seconds"]), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10, help="runs per set and workload")
    ap.add_argument("--sets", type=int, choices=(1, 2), default=2)
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in BENCH["workloads"]])
    ap.add_argument("--seed0", type=int, default=1000)
    args = ap.parse_args(argv)

    results: dict[str, list[list[dict]]] = {w: [[] for _ in range(args.sets)]
                                             for w in args.workloads}
    for i in range(args.runs):
        for s in range(args.sets):
            for w in args.workloads:
                seed = args.seed0 + s * args.runs + i
                res = run_once(w, seed)
                results[w][s].append(res)
                print(f"[{time.strftime('%H:%M:%S')}] set {s + 1} {w} seed {seed}: "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                      flush=True)

    out = HERE / "out" / f"aa-{time.strftime('%Y%m%d-%H%M%S')}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(results, indent=1))

    ok = True
    heads = [f"set{s + 1}" for s in range(args.sets)] + (["all"] if args.sets == 2 else [])
    print(f"\n{'workload':10} {'metric':16} "
          + " ".join(f"{h + ' median [q1, q3] spread':>36}" for h in heads)
          + "  bound  verdict")
    for w, sets in results.items():
        bad_runs = sum(r["failed"] for rs in sets for r in rs)
        for m in BENCH["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cols, medians, verdict = [], [], []
            groups = sets if len(sets) == 1 else [*sets, [r for rs in sets for r in rs]]
            for k, rs in enumerate(groups):
                q1, med, q3 = quartiles([r["metrics"][name]["value"] for r in rs])
                spread = (q3 - q1) / med if med else float("inf")
                cols.append(f"{med:12.5g} [{q1:.5g}, {q3:.5g}] {spread:6.1%}")
                medians.append(med)
                if name != "setup_s" and spread > bound:
                    verdict.append(f"spread>bound ({'all' if k == len(sets) else k + 1})")
            medians = medians[:len(sets)]
            if len(medians) == 2 and abs(medians[1] - medians[0]) > bound * abs(medians[0]):
                verdict.append("medians differ")
            ok &= not verdict
            print(f"{w:10} {name:16} " + " ".join(f"{c:>36}" for c in cols)
                  + f"  {bound:5.2f}  {', '.join(verdict) or 'agree'}")
        print(f"{w:10} failed runs: {bad_runs}")
        ok &= bad_runs == 0
    print(f"raw results: {out.relative_to(ROOT)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
