"""Steadiness of one workload's end-to-end metrics.

    python3 benchmark/steady.py --workload backlog --seeds 1,2 --runs 5
    python3 benchmark/steady.py --workload live --seeds 1-10 --runs 1

Runs ``run.py`` ``--runs`` times on each seed (one after another, never in
parallel) and prints, for every end-to-end metric, the median and the
spread between the quartiles as a share of the median -- per seed and
over all runs -- next to the metric's bound in ``BENCHMARK.json``, and the
same for the unbounded wall-time figures (``wall.*``). The quartiles are
``statistics.quantiles(values, n=4)``. A run that fails or reports
``correct: false`` stops the command.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b) + 1)) if b else [int(a)]
    return out


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seconds", type=int, default=None)
    args = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    by_seed, shares = {}, set()
    for seed in seeds_of(args.seeds):
        for _ in range(args.runs):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                   args.workload, "--seed", str(seed), "--seconds", str(seconds),
                   "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.exit("run failed (seed %d):\n%s" % (seed, p.stderr[-2000:]))
            res = json.loads(lines[-1])
            if not res["correct"]:
                sys.exit("incorrect output (seed %d):\n%s" % (seed, p.stdout[-2000:]))
            shares.add(res["failed"] / res["attempted"])
            vals = {k: v["value"] for k, v in res["metrics"].items()}
            # the unbounded wall-time figures, shown beside the metrics
            for line in lines:
                if line.startswith("wall "):
                    vals.update({"wall." + k: v
                                 for k, v in json.loads(line[5:]).items()})
            by_seed.setdefault(seed, []).append(vals)
            print("seed %d: %s" % (seed, json.dumps(by_seed[seed][-1])), flush=True)
    runs = [r for rs in by_seed.values() for r in rs]
    print("\n%-22s %12s %8s %8s  %s" % ("metric", "median", "spread", "bound",
                                         "per-seed median/spread"))
    for name in runs[0]:
        vals = [r[name] for r in runs]
        per = ["%d: %.4g/%.3f" % (s, statistics.median([r[name] for r in rs]),
                                  spread([r[name] for r in rs]) if len(rs) > 1 else 0.0)
               for s, rs in by_seed.items()]
        print("%-22s %12.5g %8.3f %8s  %s" % (
            name, statistics.median(vals), spread(vals) if len(vals) > 1 else 0.0,
            bounds.get(name, "-"), "  ".join(per)))
    print("failed share: %s" % sorted(shares))


if __name__ == "__main__":
    main()
