"""One benchmark run in a fresh process: set up, warm up, time whole
passes over the workload's keys, check the outputs, print the result.

Started by ``run.py``; not meant to be run by hand. Its argument is a
JSON object with the workload, input directory, run length, trace flag
and the monotonic time at which ``run.py`` started this process.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

import checks
import probes as tr

#: Workload -> (input directory name under the seed's data, keys).
WORKLOADS = {
    "relational": ("sf0.1", ["tpch_q1", "tpch_q5", "tpch_q6", "tpch_q18"]),
    "curation": ("sf0.1", ["dedup_minhash", "dedup_lsh_cosine", "sim_ann_ivf", "graph_bfs", "pipeline_video_curate"]),
    "curation_10x": ("x10", ["dedup_minhash"]),
}

#: Timed passes per run, at least; a run reports their median. The JIT
#: is still compiling over the first passes after the warm-up: the
#: first timed pass costs up to 1.5x the later ones, by an amount that
#: varies from run to run, and a burst of host steal can slow any one
#: pass. The median leaves out the first pass and a single slowed one;
#: more passes do not fit the time budget (see README.md).
MIN_PASSES = 3


SESSION_CALLS = ("fan_out", "eager_fill", "row_count", "table")

#: Per-layer metrics of a traced run, with their units.
PER_LAYER = {
    "registry.build_s": "s", "spark.action_s": "s",
    "trace.wall_s": "s", "trace.remainder_s": "s",
    "trace.untraced_wall_s": "s", "trace.overhead_pct": "%",
    "session.get_spark_s": "s", "session.warmup_s": "s",
    **{f"session.{fn}_{m}": u for fn in SESSION_CALLS for m, u in (("s", "s"), ("calls", "count"))},
    **{f"{layer}.self_s": "s" for layer in tr.LAYERS},
    "spark.build_jobs": "count", "spark.action_jobs": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.task_wait_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.input_mb": "MB",
    "cache.persisted_left": "count", "cache.stored_mb": "MB",
    "proc.client_cpu_s": "s", "proc.jvm_cpu_s": "s", "proc.py_worker_cpu_s": "s",
}


def run_pass(spark, queries, keys, sf_dir, pass_no, inst=None) -> dict:
    """One pass: build each key with its registered callable, execute it
    into the noop sink, clear the cache. With `inst`, the pass is traced
    and also returns its per-layer metrics."""
    sc = spark.sparkContext
    traced = inst is not None
    layer: dict[str, float] = {}
    per_key: dict[str, float] = {}
    failed = 0
    if traced:
        inst.install()
        tr.ACTIVE = tracer = tr.Tracer(pass_no=pass_no)
    cpu0, steal0, t0 = tr.tree_cpu(os.getpid()), tr.host_steal_s(), time.perf_counter()
    try:
        for key in keys:
            fn = inst.wrapped(queries[key]) if traced else queries[key]
            k0 = time.perf_counter()
            try:
                if traced:
                    tracer.key = key
                    sc.setJobGroup(f"p{pass_no}/{key}/build", key)
                b0 = time.perf_counter()
                df = fn(spark, sf_dir)
                b1 = time.perf_counter()
                if traced:
                    sc.setJobGroup(f"p{pass_no}/{key}/action", key)
                df.write.format("noop").mode("overwrite").save()
                a1 = time.perf_counter()
                if traced:
                    _add(layer, "registry.build_s", b1 - b0)
                    _add(layer, "spark.action_s", a1 - b1)
                    _key_store_metrics(sc, f"p{pass_no}/{key}", layer)
            except Exception:  # noqa: BLE001 — a failing key is counted, the run goes on
                traceback.print_exc()
                failed += 1
            spark.catalog.clearCache()
            per_key[key] = time.perf_counter() - k0
    finally:
        if traced:
            inst.uninstall()
            tr.ACTIVE = None
            sc.setLocalProperty("spark.jobGroup.id", None)
    wall = time.perf_counter() - t0
    cpu1, steal1 = tr.tree_cpu(os.getpid()), tr.host_steal_s()
    out = {
        "traced": traced, "wall_s": wall, "failed": failed, "per_key": per_key,
        "cpu_s": sum(cpu1.values()) - sum(cpu0.values()),
        "cpu_parts": {part: cpu1[part] - cpu0[part] for part in cpu1},
        "steal_s": steal1 - steal0,
    }
    if traced:
        for part, v in out["cpu_parts"].items():
            layer[f"proc.{part}_cpu_s"] = v
        _span_metrics(tracer, layer)
        layer["trace.wall_s"] = wall
        layer["trace.remainder_s"] = wall - layer["registry.build_s"] - layer["spark.action_s"]
        out["layer"] = layer
        out["spans"] = [vars(span) for span in tracer.spans]
    return out


def _add(d: dict, k: str, v: float) -> None:
    d[k] = d.get(k, 0.0) + v


def _key_store_metrics(sc, group: str, layer: dict) -> None:
    """Status-store totals of one key's build and action job groups, and
    the persisted RDDs its action left registered."""
    tr.drain_listener(sc)
    left, mb = tr.cache_state(sc)
    _add(layer, "cache.persisted_left", left)
    _add(layer, "cache.stored_mb", mb)
    for phase in ("build", "action"):
        m = tr.group_metrics(sc, f"{group}/{phase}")
        _add(layer, f"spark.{phase}_jobs", m.pop("jobs"))
        for k, v in m.items():
            _add(layer, k, v)


def _span_metrics(tracer, layer: dict) -> None:
    for name in tr.LAYERS:
        layer.setdefault(f"{name}.self_s", 0.0)
    for fn in SESSION_CALLS:
        layer.setdefault(f"session.{fn}_s", 0.0)
        layer.setdefault(f"session.{fn}_calls", 0.0)
    for span in tracer.spans:
        if span.layer in tr.LAYERS:
            _add(layer, f"{span.layer}.self_s", span.self_s)
        fn = span.name.removeprefix("piper_spark.session.")
        if fn in SESSION_CALLS:
            _add(layer, f"session.{fn}_s", span.dur)
            _add(layer, f"session.{fn}_calls", 1)
    layer["spark.task_wait_s"] = layer["spark.executor_run_s"] - layer["spark.executor_cpu_s"]


def main() -> int:
    cfg = json.loads(sys.argv[1])
    t_spawn = cfg["t_spawn"]
    input_name, keys = WORKLOADS[cfg["workload"]]
    sf_dir = cfg["input_dir"]

    from piper_spark import registry
    from piper_spark.session import get_spark

    t = time.monotonic()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = time.monotonic() - t
    queries = registry.all_queries()

    # Warm-up: a pass that also captures every key's output for the
    # checks. It fills the engine's lazy caches (table plans, row
    # counts, fitted models) and triggers codegen and the JIT, so their
    # first cost lands in setup_s and not in the timed passes.
    t = time.monotonic()
    outputs, failed = {}, 0
    for key in keys:
        try:
            outputs[key] = queries[key](spark, sf_dir).toPandas()
        except Exception:  # noqa: BLE001
            traceback.print_exc()
            failed += 1
        spark.catalog.clearCache()
    warmup_s = time.monotonic() - t
    setup_s = time.monotonic() - t_spawn

    # Timed region: whole passes, at least MIN_PASSES, until `seconds`
    # have been measured. Traced runs interleave untraced (U) and traced
    # (T) passes as U T T U, so both sides see the same JIT warmth.
    inst = tr.Instrumentation() if cfg["trace"] else None
    pattern = (False, True, True, False) if inst else (False,)
    passes, elapsed = [], 0.0
    while elapsed < cfg["seconds"] or len(passes) < MIN_PASSES or len(passes) % len(pattern):
        traced = pattern[len(passes) % len(pattern)]
        p = run_pass(spark, queries, keys, sf_dir, len(passes), inst if traced else None)
        passes.append(p)
        elapsed += p["wall_s"]
        failed += p["failed"]
    t = time.monotonic()
    spark.stop()
    stop_s = time.monotonic() - t
    cache = os.path.join(os.path.dirname(sf_dir), "expected", input_name)
    errors = checks.check(keys, sf_dir, outputs, planted=input_name == "x10", cache_dir=cache)
    check_s = time.monotonic() - t - stop_s
    untraced = [p for p in passes if not p["traced"]]
    med = statistics.median
    if inst:
        traced_passes = [p["layer"] for p in passes if p["traced"]]
        metrics = {k: med([lp[k] for lp in traced_passes]) for k in traced_passes[0]}
        metrics["session.get_spark_s"] = get_spark_s
        metrics["session.warmup_s"] = warmup_s
        metrics["trace.untraced_wall_s"] = med([p["wall_s"] for p in untraced])
        metrics["trace.overhead_pct"] = 100 * (metrics["trace.wall_s"] / metrics["trace.untraced_wall_s"] - 1)
        metrics = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
        # The spans of every traced pass, written once the run is over.
        spans_path = os.path.join(os.path.dirname(sf_dir), f"spans-{cfg['workload']}.json")
        with open(spans_path, "w") as fh:
            json.dump([sp for p in passes if p["traced"] for sp in p["spans"]], fh)
    else:
        metrics = {
            "wall_s": {"value": med([p["wall_s"] for p in untraced]), "unit": "s"},
            "cpu_s": {"value": med([p["cpu_s"] for p in untraced]), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    detail = {
        "workload": cfg["workload"], "input_dir": sf_dir, "keys": keys,
        "get_spark_s": get_spark_s, "warmup_s": warmup_s, "setup_s": setup_s,
        "stop_s": stop_s, "check_s": check_s,
        "passes": [{k: p[k] for k in ("traced", "wall_s", "cpu_s", "cpu_parts", "steal_s", "failed", "per_key")}
                   for p in passes],
        "checks": {k: (v or "ok") for k, v in errors.items()},
    }
    print(json.dumps({"detail": detail}))
    correct = not any(errors.values())
    print(json.dumps({
        "correct": correct,
        "attempted": len(keys) * (1 + len(passes)),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
