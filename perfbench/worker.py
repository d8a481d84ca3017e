"""Spark side of one benchmark run; ``run.py`` launches it as its own
process with the repository root on PYTHONPATH, so the engine's Python
workers import the package no matter where the benchmark was started.

Usage: python worker.py CONFIG.json   (written by run.py)

Sequence: start the session, build the workload's session-scoped caches,
run one untimed pass that checks every query against its oracle digest,
the workload's untimed warm-up passes, forced like the timed ones, then
timed passes until the configured seconds are spent (at least
``min_passes`` of each kind), then tear down. Timed query runs are forced
with the noop sink; per-call operator pins are released after each query.
A traced run makes as many traced as untraced passes, ordered
U T T U U T ... so that neither kind always runs on the warmer system.
"""

from __future__ import annotations

import contextlib
import importlib.util
import json
import os
import platform
import random
import sys
import time
from collections import defaultdict


def _persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _cpu_s() -> dict:
    """Machine-wide CPU seconds from /proc/stat: busy (user, nice, system,
    irq, softirq) and steal, the time the hypervisor kept a runnable CPU
    of the machine waiting while it ran something else."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    return {"busy": (v[0] + v[1] + v[2] + v[5] + v[6]) / hz, "steal": v[7] / hz}


def _cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(r.memSize() + r.diskSize() for r in infos)


def main(cfg_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    root = cfg["root"]
    sys.path.insert(0, root)

    import pyspark

    from mobilityduck_spark import queries as Q
    from mobilityduck_spark.session import get_spark
    from perfbench import oracle
    from perfbench.trace import SparkStats, Tracer, no_span
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[cfg["workload"]]
    data_dir = cfg["data_dir"]
    work = cfg["work_dir"]
    registry = Q.queries()
    fns = {n: registry[n] for n in wl.queries}
    phases = {"imported": time.time() - cfg["spawned_at"]}

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
    })
    session_start_s = time.perf_counter() - t0
    phases["session"] = time.time() - cfg["spawned_at"]
    sc = spark.sparkContext
    stats = SparkStats(spark)
    tracer = Tracer() if cfg["trace"] else None

    # ---- set-up: session-scoped caches
    if tracer:
        tracer.install()
        tracer.active, tracer.run = True, "setup"
    wl.setup(spark, data_dir, tracer.span if tracer else no_span)
    setup_s = phases["setup"] = time.time() - cfg["spawned_at"]
    setup_layers = {}
    if tracer:
        tracer.active = False
        tracer.uninstall()
        setup_layers = {
            f"{name}_s": sum(sp.end - sp.start for sp in tracer.spans
                             if sp.run == "setup" and sp.name == name)
            for name in ("berlinmod.warm", "sources.temporal")
        }
    baseline_rdds = _persistent(spark)

    rng = random.Random(cfg["seed"])

    def order() -> list[str]:
        names = list(wl.queries)
        rng.shuffle(names)
        return names

    # ---- untimed oracle pass; it is also each query's first, cold run
    failures, attempted = [], 0
    digests = cfg["digests"]
    for name in order():
        attempted += 1
        try:
            df = fns[name](spark, data_dir)
            cols = sorted(df.columns)
            rows = [tuple(r[c] for c in cols) for r in df.collect()]
            got = oracle.digest(cols, rows)
            want = {k: digests[name][k] for k in ("cols", "rows", "digest")}
            if got != want:
                failures.append({"query": name, "phase": "oracle",
                                 "error": f"got {got} want {want}"})
        except Exception as e:  # a raising query is a failed run, not a crash
            failures.append({"query": name, "phase": "oracle", "error": repr(e)})
        Q.release_operator_caches()

    phases["oracle"] = time.time() - cfg["spawned_at"]

    # ---- timed passes
    def run_pass(k: int, traced: bool) -> dict:
        span = tracer.span if traced else no_span
        pause = tracer.paused if traced else contextlib.nullcontext
        if traced:
            tracer.install()
            stats.wait()
            stats.new_executions()  # skip the untraced passes' executions
            tracer.active = True
        jobs0, stages0 = stats.counters()
        busy0 = _cpu_s()["busy"]
        wall, steal, runs, layers = 0.0, 0.0, [], defaultdict(float)
        for i, name in enumerate(order()):
            if traced:
                tracer.run = run_id = f"p{k}.{i}.{name}"
                sc.setJobGroup(f"{run_id}.build", name)
                j0, s0 = stats.counters()
                j1 = None  # set once the build returns
                calls0, py4j_s0 = tracer.py4j_calls, tracer.py4j_s
            err, t_built = None, None
            steal0 = _cpu_s()["steal"]
            t_start = time.perf_counter()
            try:
                with span(f"queries.{name}", "queries"):
                    df = fns[name](spark, data_dir)
                t_built = time.perf_counter()
                if traced:
                    layers["py4j.calls"] += tracer.py4j_calls - calls0
                    layers["py4j.s"] += tracer.py4j_s - py4j_s0
                    j1 = stats.counters()[0]
                    sc.setJobGroup(f"{run_id}.exec", name)
                with span("exec.noop", "exec"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # counted as a failed query run
                err = repr(e)
            t_done = time.perf_counter()
            steal1 = _cpu_s()["steal"]
            t_built = t_built or t_done
            with pause():
                pinned, cached = _persistent(spark), _cached_bytes(spark)
            steal2 = _cpu_s()["steal"]
            t_rel = time.perf_counter()
            with span("cache.release", "cache"):
                Q.release_operator_caches()
            t_end = time.perf_counter()
            steal += (steal1 - steal0) + (_cpu_s()["steal"] - steal2)
            wall += (t_done - t_start) + (t_end - t_rel)
            with pause():
                runs.append({
                    "query": name, "s": t_done - t_start,
                    "steal_s": steal1 - steal0,
                    "build_s": t_built - t_start, "exec_s": t_done - t_built,
                    "release_s": t_end - t_rel, "error": err,
                    "pinned_rdds": pinned, "cached_bytes": cached,
                    "leaked_rdds": _persistent(spark) - baseline_rdds,
                })
                if traced:
                    stats.wait()
                    j2, s2 = stats.counters()
                    layers["queries.build_jobs"] += (j2 if j1 is None else j1) - j0
                    for key, v in stats.stages(s0, s2).items():
                        layers[key] += v
                    for key, v in stats.sql(stats.new_executions()).items():
                        layers[key] += v
        jobs1, stages1 = stats.counters()
        out = {"traced": traced, "wall_s": wall, "steal_s": steal,
               "busy_s": _cpu_s()["busy"] - busy0, "runs": runs,
               "jobs": jobs1 - jobs0, "stages": stages1 - stages0}
        if traced:
            tracer.active = False
            tracer.uninstall()
            layers.update(tracer.layer_totals(
                {f"p{k}.{i}.{r['query']}" for i, r in enumerate(runs)}))
            out["layers"] = dict(layers)
        return out

    # ---- untimed warm-up passes: the oracle pass collects, the timed passes
    # write to the noop sink, so that path gets its own warm-up; the JVM
    # keeps compiling for several passes after the first
    warm = [run_pass(-1 - i, False) for i in range(cfg["warmup_passes"])]
    phases["warmup"] = time.time() - cfg["spawned_at"]

    passes = []
    t_begin = time.perf_counter()
    min_passes = cfg["min_passes"] * (2 if tracer else 1)
    while (len(passes) < min_passes or (tracer and len(passes) % 2)
           or time.perf_counter() - t_begin < cfg["seconds"]):
        passes.append(run_pass(len(passes),
                               bool(tracer) and len(passes) % 4 in (1, 2)))
    for phase, ps in (("warmup", warm), ("timed", passes)):
        attempted += sum(len(p["runs"]) for p in ps)
        failures += [{"query": r["query"], "phase": phase, "error": r["error"]}
                     for p in ps for r in p["runs"] if r["error"]]

    phases["timed"] = time.time() - cfg["spawned_at"]

    # ---- teardown through __spark_entry__.release_caches(), the documented one
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(root, "__spark_entry__.py"))
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    entry.release_caches()
    teardown_left = _persistent(spark)
    phases["teardown"] = time.time() - cfg["spawned_at"]

    result = {
        "versions": {
            "spark": pyspark.__version__,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        },
        "master": sc.master,
        "session_start_s": session_start_s,
        "phases": phases,
        "setup_s": setup_s,
        "setup_layers": setup_layers,
        "baseline_rdds": baseline_rdds,
        "teardown_left_rdds": teardown_left,
        "attempted": attempted,
        "failures": failures,
        "passes": passes,
    }
    if tracer:
        tracer.dump(cfg["spans_path"])
    with open(cfg["result_path"], "w") as f:
        json.dump(result, f)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])
