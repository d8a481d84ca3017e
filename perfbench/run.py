"""Repository benchmark: one command, one workload, one JSON result line.

Usage (from anywhere; paths resolve from this file):

    python3 perfbench/run.py --workload temporal --seed 1 --seconds 20 --trace 0

Steps: verify the committed input tables against their checksums, compute
the DuckDB oracle digests once per dataset checksum (untimed), then launch worker.py as a separate Spark process
and turn what it measured into metrics. ``--trace 0`` prints the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` its per-layer metrics.
Every run also writes a full record under perfbench/records/. The run fails
(exit 1, "correct": false) when any query raises or disagrees with its
oracle.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import signal
import statistics
import subprocess
import sys
import time
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKER_TIMEOUT_S = 170


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def host_tag() -> str:
    return f"{platform.node()}/{platform.machine()}"


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def source_digest() -> str:
    """sha256 of the engine's Python sources, for checkouts without git."""
    h = hashlib.sha256()
    paths = sorted(glob.glob(os.path.join(ROOT, "mobilityduck_spark", "**", "*.py"),
                             recursive=True))
    for p in paths + [os.path.join(ROOT, "__spark_entry__.py")]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop whatever the worker left running in its process group (the
    Spark JVM, Python workers) and wait until the group is empty."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def launch(cfg: dict, work: str) -> dict:
    cfg_path = os.path.join(work, f"config-{os.getpid()}.json")
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
        "SPARK_GRAFT_CPUS": str(cfg["spark_cores"]),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
    })
    cfg["spawned_at"] = time.time()
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
        cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
        start_new_session=True)
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_group(proc)
        proc.wait()
        os.remove(cfg_path)
    if code != 0:
        raise RuntimeError(f"worker exited with {code}")
    with open(cfg["result_path"]) as f:
        out = json.load(f)
    os.remove(cfg["result_path"])
    return out


def undisturbed(wall: float, steal: float) -> float:
    """Wall time less the steal time the machine saw in the same interval:
    the time the hypervisor kept a runnable CPU of the machine waiting.
    The workloads are overhead-bound chains of py4j calls and small Spark
    jobs, so a stolen slice stalls the chain and adds to the wall time one
    for one; on a quiet host steal is near zero and the two agree. Steal
    that lands on parallel tasks costs less than that, so at most half the
    interval is taken off: under extreme contention a run reads slow, never
    impossibly fast."""
    return max(wall - steal, wall / 2)


def end_to_end(res: dict) -> tuple[dict, dict]:
    """Every timing is ``undisturbed``; the record keeps the raw wall times
    and the steal.

    Latencies are summarized per query first: each query's median over
    the timed passes, then the median and the slowest of those. The
    workloads' queries differ ~10x in latency, so a median over all raw
    samples would fall in the gap between the fast and the slow ones and
    jump with the ranking of a few samples."""
    plain = [p for p in res["passes"] if not p["traced"]]
    by_query: dict[str, list[float]] = {}
    for p in plain:
        for r in p["runs"]:
            by_query.setdefault(r["query"], []).append(
                undisturbed(r["s"], r["steal_s"]))
    per_query = {q: statistics.median(v) for q, v in by_query.items()}
    failed = len(res["failures"])
    values = {
        "setup_s": res["setup_s"],
        "pass_s": statistics.median(
            undisturbed(p["wall_s"], p["steal_s"]) for p in plain),
        "query_p50_s": statistics.median(per_query.values()),
        "query_tail_s": max(per_query.values()),
        "ok_frac": 1.0 - failed / res["attempted"],
        "cache_mb": max(r["cached_bytes"] for p in plain for r in p["runs"]) / 1e6,
    }
    info = {"passes": len(plain),
            "raw_pass_s": statistics.median(p["wall_s"] for p in plain),
            "query_samples": sum(len(v) for v in by_query.values()),
            "query_median_s": per_query,
            "query_tail": "slowest per-query median",
            "fail_frac": failed / res["attempted"]}
    return values, info


def per_layer(res: dict, spark_cores: int) -> dict:
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    per_pass = []
    for p in traced:
        runs = p["runs"]
        lay = dict(p["layers"])
        lay["queries.build_s"] = sum(r["build_s"] for r in runs)
        lay["exec.s"] = sum(r["exec_s"] for r in runs)
        lay["exec.jobs"] = p["jobs"]
        lay["exec.stages"] = p["stages"]
        lay["exec.core_util"] = lay.get("exec.executor_run_s", 0.0) / (
            (lay["queries.build_s"] + lay["exec.s"]) * spark_cores)
        lay["cache.pinned_rdds"] = max(r["pinned_rdds"] for r in runs)
        lay["cache.leaked_rdds"] = max(r["leaked_rdds"] for r in runs)
        lay["cache.release_s"] = sum(r["release_s"] for r in runs)
        per_pass.append(lay)
    keys = set().union(*per_pass)
    out = {k: statistics.median(lay.get(k, 0.0) for lay in per_pass) for k in keys}
    out.update(res["setup_layers"])
    out["session.start_s"] = res["session_start_s"]
    out["cache.teardown_left_rdds"] = res["teardown_left_rdds"]
    out["trace.pass_s"] = statistics.median(
        undisturbed(p["wall_s"], p["steal_s"]) for p in traced)
    out["trace.untraced_pass_s"] = statistics.median(
        undisturbed(p["wall_s"], p["steal_s"]) for p in plain)
    out["trace.overhead_s"] = out["trace.pass_s"] - out["trace.untraced_pass_s"]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # sf0.001 inputs and a single timed pass, for the smoke test
    ap.add_argument("--scale", choices=("bench", "smoke"), default="bench")
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "mobilityduck_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isfile(os.path.join(ROOT, "BENCHMARK.json"))):
        print(f"perfbench: no engine checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from mobilityduck_spark import queries as Q

    from perfbench import dataset, oracle
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)

    work = os.path.join(HERE, ".work")
    records = os.path.join(HERE, "records")
    os.makedirs(work, exist_ok=True)
    os.makedirs(records, exist_ok=True)
    data_dir = dataset.path(args.scale)
    checksum = dataset.verify(data_dir)
    digests = oracle.cached_digests(
        os.path.join(work, f"oracle-{checksum[:16]}.json"), data_dir,
        dataset.TABLES, {n: Q.oracle_sql()[n] for n in wl.queries})

    stamp = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%S%fZ")
    name = f"{args.workload}-t{args.trace}-seed{args.seed}-{stamp}"
    cpus = cpu_count()
    # Spark task slots: half the CPUs, so that the Python driver, py4j, the
    # pandas-UDF workers and the JVM's compiler and GC threads do not queue
    # behind the tasks; the workloads are overhead-bound and run as fast on
    # half the slots, and wall times then track the program, not the
    # scheduler
    spark_cores = max(1, cpus // 2)
    # timed passes of each kind: three for the end-to-end medians; a traced
    # run reports no bounded metric, so two of each kind, ordered U T T U so
    # that the tracing overhead is not measured against a colder system
    min_passes = 1 if args.scale == "smoke" else 2 if args.trace else 3
    cfg = {
        "root": ROOT, "workload": wl.name, "seed": args.seed,
        "seconds": args.seconds, "trace": bool(args.trace),
        "min_passes": min_passes, "cpus": cpus, "spark_cores": spark_cores,
        "warmup_passes": 1 if args.scale == "smoke" else wl.warmup_passes,
        "data_dir": data_dir, "work_dir": work, "digests": digests,
        "result_path": os.path.join(work, f"result-{os.getpid()}.json"),
        "spans_path": os.path.join(records, f"{name}.spans.jsonl"),
    }
    res = launch(cfg, work)

    e2e, info = end_to_end(res)
    group = "per_layer" if args.trace else "end_to_end"
    layers = per_layer(res, spark_cores) if args.trace else None
    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared[group]}
    correct = not res["failures"]
    record = {
        "workload": wl.name, "queries": list(wl.queries), "seed": args.seed,
        "trace": args.trace, "seconds": args.seconds, "scale": args.scale,
        "cpus": cpus, "spark_cores": spark_cores, "host": host_tag(),
        "master": res["master"],
        "versions": res["versions"], "dataset": dataset.SCALES[args.scale],
        "dataset_checksum": checksum, "git_commit": git_commit(),
        "source_digest": source_digest(), "time_utc": stamp,
        "correct": correct, "attempted": res["attempted"],
        "failures": res["failures"], "end_to_end": e2e, **info,
        "per_layer": layers,
        "passes": [{k: p[k] for k in ("traced", "wall_s", "steal_s", "busy_s",
                                      "jobs", "stages")}
                   for p in res["passes"]],
        "phases_s": res["phases"],
        "runs": [dict(r, traced=p["traced"]) for p in res["passes"]
                 for r in p["runs"]],
    }
    with open(os.path.join(records, f"{name}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    for m, v in metrics.items():
        print(f"{wl.name} {m} = {v['value']:.6g} {v['unit']}", file=sys.stderr)
    for fail in res["failures"]:
        print(f"FAILED {fail['query']} ({fail['phase']}): {fail['error'][:300]}",
              file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": len(res["failures"]), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
