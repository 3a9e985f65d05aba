"""Steadiness check: two sets of runs of the same checkout.

    python3 perfbench/steady.py --seeds 1-10 [--workloads relational,curation]

Runs ``run.py`` once per (set, workload, seed) and reports, per workload
and end-to-end metric, each set's median and quartiles, the spread
(quartile distance over median) and whether the two sets agree within
the bound in ``BENCHMARK.json``: every spread within the bound, and the
two medians no further apart than the bound, in either direction. Each
run's host steal seconds (from ``/proc/stat``, over its timed passes)
sits next to its numbers, so a slow run caused by the host shows as
such. ``--out FILE`` also writes every run's result as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = 2


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=False)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        return {"workload": workload, "seed": seed, "error": out.stderr[-2000:]}
    detail, result = json.loads(lines[-2])["detail"], json.loads(lines[-1])
    return {"workload": workload, "seed": seed, **result, "passes": detail["passes"],
            "steal_s": sum(p["steal_s"] for p in detail["passes"]),
            "values": {k: v["value"] for k, v in result["metrics"].items()}}


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def main() -> int:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    runs = []
    for s in range(SETS):
        for w in args.workloads.split(","):
            for seed in seeds(args.seeds):
                r = {"set": s, **one_run(w, seed, bench["run_seconds"])}
                runs.append(r)
                if args.out:
                    with open(args.out, "w") as fh:
                        json.dump(runs, fh, indent=1)
                vals = " ".join(f"{k}={v:.3f}" for k, v in r.get("values", {}).items())
                print(f"set {s} {w:13s} seed {seed:3d} steal {r.get('steal_s', 0):6.2f}s "
                      f"{vals or 'FAILED'} ok={r.get('correct')} failed={r.get('failed')}/{r.get('attempted')}",
                      flush=True)
    agree = True
    for w in args.workloads.split(","):
        sets = [[r for r in runs if r["set"] == s and r["workload"] == w and "values" in r]
                for s in range(SETS)]
        if any(len(rs) < 2 for rs in sets) or any(not r["correct"] for rs in sets for r in rs):
            print(f"{w}: incomplete or incorrect runs")
            agree = False
            continue
        shares = {sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs) for rs in sets}
        agree &= len(shares) == 1
        for metric, bound in bounds.items():
            stats = [summary([r["values"][metric] for r in rs]) for rs in sets]
            drift = stats[1]["median"] / stats[0]["median"] - 1
            ok = all(st["spread"] <= bound for st in stats) and abs(drift) <= bound
            agree &= ok
            cols = "  ".join(f"med {st['median']:8.3f} [{st['q1']:.3f}, {st['q3']:.3f}] spread {st['spread']:.3f}"
                             for st in stats)
            print(f"{w:13s} {metric:8s} bound {bound:.2f}  {cols}  drift {drift:+.3f}  "
                  f"{'ok' if ok else 'OUT OF BOUND'}")
        print(f"{w:13s} failed share per set: {sorted(shares)}")
    print("sets agree" if agree else "sets DISAGREE")
    return 0 if agree else 1


if __name__ == "__main__":
    sys.exit(main())
