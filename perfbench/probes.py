"""Measurement from outside the program: process-tree CPU, host steal,
spans around the public functions of ``piper_spark`` modules, and
Spark's status store read per job group.

Nothing here edits program code. Spans come from rebinding module
attributes to timing wrappers while a traced pass runs, and the
originals are put back afterwards.
"""

from __future__ import annotations

import functools
import inspect
import os
import sys
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- /proc

def _stat(pid: str) -> tuple[int, str, float] | None:
    """(ppid, comm, utime+stime+cutime+cstime in s) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # f[0] is field 3 (state): ppid is field 4, utime..cstime 14..17.
    return int(f[1]), comm, sum(int(x) for x in f[11:15]) / _TICK


def tree_cpu(root: int) -> dict[str, float]:
    """CPU seconds of `root` and its descendants, split into the client
    (root), the JVM (``java``) and everything else (Python workers).

    Each process counts its own and its reaped children's time, so
    workers that exit inside an interval are still counted."""
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                procs[int(pid)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _c, _t) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out = {"client": 0.0, "jvm": 0.0, "py_worker": 0.0}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid not in procs:
            continue
        _pp, comm, t = procs[pid]
        part = "client" if pid == root else "jvm" if comm == "java" else "py_worker"
        out[part] += t
        todo.extend(kids.get(pid, ()))
    return out


def host_steal_s() -> float:
    """Cumulative steal time of the whole host, from /proc/stat."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / _TICK


# ---------------------------------------------------------------- spans

#: Layers reported as self time; every other wrapped module is
#: attributed to the nearest listed prefix, else to "other".
LAYERS = (
    "session", "operators", "functions.dedup", "functions.text",
    "functions.lsh", "functions.similarity", "functions.graphs",
    "pipelines", "sources",
)
WRAPPED_PACKAGES = ("session", "operators", "functions", "sources", "pipelines")


def layer_of(module: str) -> str:
    rel = module.removeprefix("piper_spark.")
    for layer in LAYERS:
        if rel == layer or rel.startswith(layer + "."):
            return layer
    return "other"


@dataclass
class Span:
    name: str
    layer: str
    start: float
    parent: int
    key: str
    pass_no: int
    end: float = 0.0
    child_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


@dataclass
class Tracer:
    """Spans kept in memory; `stack` holds indices of open spans."""

    spans: list[Span] = field(default_factory=list)
    stack: list[int] = field(default_factory=list)
    key: str = ""
    pass_no: int = 0

    def open(self, name: str, layer: str) -> int:
        parent = self.stack[-1] if self.stack else -1
        self.spans.append(Span(name, layer, time.perf_counter(), parent, self.key, self.pass_no))
        self.stack.append(len(self.spans) - 1)
        return self.stack[-1]

    def close(self, idx: int) -> None:
        span = self.spans[idx]
        span.end = time.perf_counter()
        self.stack.pop()
        if span.parent >= 0:
            self.spans[span.parent].child_s += span.dur


#: The tracer spans are recorded into; None outside a traced pass (and
#: always None in Spark's Python workers, which import this module
#: fresh if a wrapper is ever shipped to them).
ACTIVE: Tracer | None = None


def _wrap(fn, layer: str):
    name = f"{fn.__module__}.{fn.__qualname__}"

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tracer = ACTIVE
        if tracer is None:
            return fn(*args, **kwargs)
        idx = tracer.open(name, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            tracer.close(idx)

    return wrapper


def _traceable(obj, module: str) -> bool:
    """Plain public functions defined in `module`. UDF objects (which
    carry ``evalType``/``returnType``) and generators are left alone."""
    return (
        inspect.isfunction(obj)
        and obj.__module__ == module
        and not obj.__name__.startswith("_")
        and not hasattr(obj, "evalType")
        and not hasattr(obj, "returnType")
        and not inspect.isgeneratorfunction(obj)
    )


class Instrumentation:
    """Wraps the public functions of the program's layer modules and
    rebinds EVERY ``piper_spark`` module attribute that refers to one,
    so ``from x import f`` call sites are timed too."""

    def __init__(self) -> None:
        self.wrappers: dict[int, tuple[object, object]] = {}
        for modname, mod in list(sys.modules.items()):
            rel = modname.removeprefix("piper_spark.")
            if modname == rel or not rel.startswith(WRAPPED_PACKAGES):
                continue
            for attr, obj in vars(mod).items():
                if _traceable(obj, modname):
                    self.wrappers[id(obj)] = (obj, _wrap(obj, layer_of(modname)))
        self.sites: list[tuple[object, str, object, object]] = []
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("piper_spark") or mod is None:
                continue
            for attr, obj in list(vars(mod).items()):
                hit = self.wrappers.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self.sites.append((mod, attr, obj, hit[1]))

    def wrapped(self, fn):
        hit = self.wrappers.get(id(fn))
        return hit[1] if hit is not None and hit[0] is fn else fn

    def install(self) -> None:
        for mod, attr, _orig, wrapper in self.sites:
            setattr(mod, attr, wrapper)

    def uninstall(self) -> None:
        for mod, attr, orig, _wrapper in self.sites:
            setattr(mod, attr, orig)


# ---------------------------------------------------------- Spark stores

STAGE_FIELDS = {
    # StageData accessor -> (metric, scale to s or MB)
    "executorRunTime": ("spark.executor_run_s", 1e-3),
    "executorCpuTime": ("spark.executor_cpu_s", 1e-9),
    "jvmGcTime": ("spark.gc_s", 1e-3),
    "shuffleWriteBytes": ("spark.shuffle_write_mb", 1e-6),
    "shuffleReadBytes": ("spark.shuffle_read_mb", 1e-6),
    "inputBytes": ("spark.input_mb", 1e-6),
    "numTasks": ("spark.tasks", 1),
}


def drain_listener(sc) -> None:
    """Wait until the status listener has seen every finished job."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def group_metrics(sc, group: str) -> dict[str, float]:
    """Jobs, stages and stage totals of one job group."""
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    out = {"jobs": 0.0, "spark.stages": 0.0}
    out.update({m: 0.0 for m, _s in STAGE_FIELDS.values()})
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info is not None else ():
            try:
                stage = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a skipped stage never ran
                continue
            out["spark.stages"] += 1
            for acc, (metric, scale) in STAGE_FIELDS.items():
                out[metric] += getattr(stage, acc)() * scale
    return out


def cache_state(sc) -> tuple[int, float]:
    """(persisted RDDs still registered, MB they hold)."""
    jsc = sc._jsc
    held = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
    return int(jsc.getPersistentRDDs().size()), held / 1e6
