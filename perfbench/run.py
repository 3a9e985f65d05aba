"""Benchmark command: one run of one workload in a fresh process.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 5 --trace 0

Builds the seed's inputs once (``gen.py``, not timed), starts
``worker.py`` in a new process group with the engine's environment,
relays its output and stops every process it left behind. The last
stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is the run's detail (per-pass wall,
CPU and host steal seconds, check results).

Run from the root of a checkout of the program (the directory holding
``piper_spark/``). Inputs, Spark scratch space and temp files stay
under ``perfbench/.data/``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, ".data")
TIMEOUT_S = 170


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            fields = raw[raw.rindex(")") + 2 :].split()
            if fields[0] != "Z" and int(fields[2]) == pgid:
                return True
    return False


def stop_group(pgid: int) -> None:
    """TERM, then KILL, every process left in the group; wait until none
    is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "piper_spark", "session.py")):
        print(f"no program to measure: {ROOT}/piper_spark is missing", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import gen
    from worker import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    input_dir = gen.ensure(DATA, args.seed, WORKLOADS[args.workload][0])

    scratch = {d: os.path.join(DATA, d) for d in ("spark-local", "tmp")}
    for d in scratch.values():
        os.makedirs(d, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_SF_DIR=input_dir,
        SPARK_LOCAL_DIRS=scratch["spark-local"],
        TMPDIR=scratch["tmp"],
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={scratch['tmp']} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        PYTHONDONTWRITEBYTECODE="1",
    )
    cfg = {
        "workload": args.workload, "input_dir": input_dir, "seconds": args.seconds,
        "trace": bool(args.trace),
    }
    # A TERM or INT to this process still stops the worker's group.
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda signum, _frame: sys.exit(128 + signum))
    cfg["t_spawn"] = time.monotonic()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
        cwd=scratch["tmp"], env=env, stdout=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"run exceeded {TIMEOUT_S} s", file=sys.stderr)
        out = None
    finally:
        stop_group(proc.pid)
        proc.wait()
    lines = [ln for ln in (out or "").splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        print(f"worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
