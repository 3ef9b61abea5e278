"""A/A steadiness check: run the benchmark on several seeds, twice, on
the same code, and compare the two sets against the bounds in
``BENCHMARK.json``.

    # one set of runs per workload, one run per seed, saved as JSON
    python3 perfbench/aa.py collect --out .perfbench_aa/a.json --seeds 10
    python3 perfbench/aa.py collect --out .perfbench_aa/b.json --seeds 10
    # per workload and end-to-end metric: spread of each set, and drift
    # of the second median from the first
    python3 perfbench/aa.py compare .perfbench_aa/a.json .perfbench_aa/b.json

The spread of a set is the distance between its first and third
quartiles (``statistics.quantiles(values, n=4)``) as a share of its
median.  A metric passes when both spreads are within its bound and
the second median is not worse than the first by more than the bound.
``compare`` also flags spreads above a third of the bound, the margin
a steady benchmark should keep.  ``compare`` accepts a single file as
well, to check the spreads of one set.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def collect(args) -> int:
    spec = _spec()
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    first = args.first_seed
    out: dict[str, list] = {}
    failed = 0
    for wl in workloads:
        out[wl] = []
        for seed in range(first, first + args.seeds):
            cmd = [*spec["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace",
                   str(args.trace)]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                  text=True, timeout=args.timeout)
            wall = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines else None
            if proc.returncode != 0 or result is None:
                failed += 1
                print(f"{wl} seed {seed}: exit {proc.returncode}\n"
                      f"{proc.stderr[-2000:]}", file=sys.stderr)
                continue
            metrics = {k: v["value"] for k, v in result["metrics"].items()}
            info = next((json.loads(line)["info"] for line in lines[-2:-1]
                         if line.startswith('{"info"')), {})
            out[wl].append({"seed": seed, "correct": result["correct"],
                            "failed": result["failed"], "wall_s": wall,
                            "info": info, **metrics})
            print(f"{wl} seed {seed}: wall={wall:.1f}s "
                  f"steal={info.get('cpu_steal_share', 0):.3f} " + ", ".join(
                f"{k}={v:.4g}" for k, v in metrics.items()), flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    return 1 if failed else 0


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def compare(args) -> int:
    spec = _spec()
    sets = []
    for path in args.files:
        with open(path) as f:
            sets.append(json.load(f))
    bad = 0
    print(f"{'workload':8} {'metric':14} {'bound':>6} "
          + " ".join(f"{'spread' + str(i + 1):>8}" for i in range(len(sets)))
          + (f" {'drift':>8}" if len(sets) == 2 else "") + "  verdict")
    for wl in [w["name"] for w in spec["workloads"]]:
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            runs = [[r[name] for r in s.get(wl, []) if name in r]
                    for s in sets]
            if any(len(v) < 2 for v in runs):
                print(f"{wl:8} {name:14} too few runs")
                bad += 1
                continue
            spreads = [spread(v) for v in runs]
            notes = []
            if any(s > bound for s in spreads):
                notes.append("SPREAD>BOUND")
                bad += 1
            elif any(s > bound / 3 for s in spreads):
                notes.append("spread>bound/3")
            drift_txt = ""
            if len(sets) == 2:
                m1, m2 = (statistics.median(v) for v in runs)
                worse = (m2 - m1) / m1 if m["better"] == "lower" \
                    else (m1 - m2) / m1
                drift_txt = f" {worse:8.3f}"
                if worse > bound:
                    notes.append("DRIFT>BOUND")
                    bad += 1
            print(f"{wl:8} {name:14} {bound:6.3f} "
                  + " ".join(f"{s:8.3f}" for s in spreads) + drift_txt
                  + "  " + (", ".join(notes) or "ok"))
    return 1 if bad else 0


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = parser.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect", help="run every workload on N seeds")
    c.add_argument("--out", required=True)
    c.add_argument("--seeds", type=int, default=10)
    c.add_argument("--first-seed", type=int, default=1)
    c.add_argument("--workloads", nargs="*")
    c.add_argument("--trace", type=int, choices=(0, 1), default=0)
    c.add_argument("--timeout", type=float, default=180)
    p = sub.add_parser("compare", help="spreads and drift of result sets")
    p.add_argument("files", nargs="+")
    args = parser.parse_args()
    return collect(args) if args.cmd == "collect" else compare(args)


if __name__ == "__main__":
    sys.exit(main())
