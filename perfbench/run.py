"""KG-construction benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload kg_microbatch --seed 1 \\
        --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the repository root.  ``--trace 0`` times operations untraced
for ``--seconds`` (and at least the workload's ``min_ops``) and reports
the end-to-end metrics; ``--trace 1`` runs one operation traced twice
on the same input and reports the per-layer metrics (see
perfbench/README.md).  Every operation is checked against the
``gaia_ref`` oracle.  The last stdout line is ``{"correct", "attempted",
"failed", "metrics"}``; the line before it stamps the host and source.
``--workload all`` runs each workload in its own process and prints a
table instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# the program under test; a checkout without it fails here, before any
# result is printed
import gaia_spark.plans.pipeline  # noqa: E402,F401
import pyspark  # noqa: E402

from perfbench import procstat, trace  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

END_TO_END = {"setup_s": "s", "cpu_ms_per_doc": "ms"}
RUN_LEVEL = {"catalog.write_s": "s", "catalog.bytes_written": "bytes",
             "catalog.resume_s": "s", "trace.unattributed_s": "s",
             "trace.overhead_s": "s", "run.peak_rss_mb": "MB"}
#: the most of a traced operation's wall that may go unattributed: the
#: time before its first layer is entered (reading inputs)
MAX_UNATTRIBUTED = 0.15


def _session_env(run_dir: str, traced: bool) -> None:
    """Keep every file Spark and its workers write inside ``run_dir``;
    turn the event log on for traced runs only."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}
    if traced:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + log_dir})
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = json.dumps(conf)


def _attempt(fn) -> tuple[dict | None, str | None]:
    try:
        return fn(), None
    except Exception:  # an operation that raises is a failed operation
        return None, traceback.format_exc()


def _check(wl, spark, arg, out, err) -> list[str]:
    if err is not None:
        return [err]
    try:
        return wl.check(spark, arg, out)
    except Exception:
        return [traceback.format_exc()]
    finally:
        if out is not None:
            wl.cleanup(out)


def run_untraced(wl, spark, args_iter, seconds: float) -> dict:
    """Closed loop: operations back to back until ``seconds`` have
    elapsed and at least ``wl.min_ops`` operations have run."""
    ops = []
    c0 = procstat.cpu_ticks()
    start = time.perf_counter()
    for arg in args_iter:
        s0, cpu0 = procstat.cpu_ticks(), procstat.tree_cpu_s()
        t0 = time.perf_counter()
        out, err = _attempt(lambda: wl.run(spark, arg))
        wall = time.perf_counter() - t0
        ops.append({"arg": arg, "wall_s": wall, "out": out, "err": err,
                    "cpu_s": procstat.tree_cpu_s() - cpu0,
                    "steal_pct": procstat.cpu_window(
                        s0, procstat.cpu_ticks())["steal_pct"]})
        if (len(ops) >= wl.min_ops
                and time.perf_counter() - start >= seconds):
            break
    cpu = procstat.cpu_window(c0, procstat.cpu_ticks())
    errors = [_check(wl, spark, op["arg"], op["out"], op["err"])
              for op in ops]
    # the first min_ops operations are the same inputs in every run of
    # a seed, however many more the window holds
    head = ops[:wl.min_ops]
    walls = [op["wall_s"] for op in ops]
    return {
        "errors": errors,
        "walls": walls,
        "stamp": {
            "op_cpu_s": [op["cpu_s"] for op in ops],
            "op_steal_pct": [op["steal_pct"] for op in ops],
            "docs_per_s": wl.op_docs * len(ops) / sum(walls),
        },
        "metrics": {
            "cpu_ms_per_doc": 1e3 * sum(op["cpu_s"] for op in head)
                              / (wl.op_docs * len(head)),
        },
        "cpu": cpu,
    }


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def run_traced(wl, spark, arg) -> dict:
    """The same operation twice, traced.  The first gives the layer
    figures; the second must repeat every count."""
    tracer = trace.Tracer(spark)
    ops, errors, walls = [], [], []
    c0 = procstat.cpu_ticks()
    for tag in ("T1", "T2"):
        with procstat.RssSampler() as rss, tracer.traced_op(tag) as op:
            t0 = time.perf_counter()
            out, err = _attempt(lambda: wl.run(spark, arg))
            walls.append(time.perf_counter() - t0)
        op.peak_rss_bytes = rss.peak_bytes
        op.rows = tracer.count_rows(op) if err is None else {}
        op.counts = tracer.job_counts(op)
        if out and "out" in out:   # kg_catalog
            op.resume_s = out["resume_s"]
            op.bytes_written = _dir_bytes(out["out"])
        ops.append(op)
        errors.append(_check(wl, spark, arg, out, err))
    cpu = procstat.cpu_window(c0, procstat.cpu_ticks())
    return {"ops": ops, "errors": errors, "walls": walls, "cpu": cpu,
            "stamp": {}}


def layer_metrics(traced: dict, folded: dict,
                  layers: tuple[str, ...]) -> tuple[dict, list[str]]:
    """Per-layer metrics of the first traced operation, and the trace
    self-check failures: counts must repeat in the second; in each, self
    times plus unattributed must add up to the operation wall timed
    around the call, unattributed time must stay a small share of it,
    and every layer in ``layers`` must have been entered."""
    t1, t2 = traced["ops"]
    problems = []

    def layer_values(op, layer):
        return {"self_s": op.self_s.get(layer, 0.0),
                "rows_out": op.rows.get(layer, 0),
                **op.counts[layer], **folded.get(op.group(layer), {})}

    m = {}
    for layer in trace.LAYERS:
        v1, v2 = layer_values(t1, layer), layer_values(t2, layer)
        for name in trace.LAYER_METRICS:
            m[f"{layer}.{name}"] = v1.get(name, 0)
            if name in trace.COUNT_METRICS and v1[name] != v2[name]:
                problems.append(f"{layer}.{name} differs between the "
                                f"traced runs: {v1[name]} vs {v2[name]}")
    for op, wall in zip((t1, t2), traced["walls"]):
        parts = sum(op.self_s.values())
        if abs(parts - wall) > 0.01 * wall:
            problems.append(f"{op.tag}: layer self times + unattributed = "
                            f"{parts:.6f} s, operation wall {wall:.6f} s")
        lost = op.self_s.get(trace.UNATTRIBUTED, 0.0)
        if lost > MAX_UNATTRIBUTED * wall:
            problems.append(f"{op.tag}: {lost:.3f} s of {wall:.3f} s is "
                            f"not attributed to a layer")
        for layer in layers:
            if op.self_s.get(layer, 0.0) <= 0:
                problems.append(f"{op.tag}: layer {layer} was never entered")
    m["catalog.write_s"] = t1.catalog_write_s
    m["catalog.bytes_written"] = t1.bytes_written
    m["catalog.resume_s"] = t1.resume_s
    m["trace.unattributed_s"] = t1.self_s.get(trace.UNATTRIBUTED, 0.0)
    m["trace.overhead_s"] = t1.overhead_s
    m["run.peak_rss_mb"] = t1.peak_rss_bytes / 2 ** 20
    return m, problems


def run_one(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    run_dir = os.path.join(ROOT, "perfbench", ".run", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return _run_one(WORKLOADS[workload](seed, run_dir), seed, seconds,
                        traced, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _stop_spark(spark) -> None:
    """Stop the session, then its JVM (which pyspark leaves running
    until this process exits) and the JVM's Python workers, and wait
    until every process this run started has ended."""
    from pyspark import SparkContext
    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            try:
                gateway.shutdown()
            finally:
                SparkContext._gateway = SparkContext._jvm = None
                proc = gateway.proc
                proc.stdin.close()   # the JVM exits on EOF on its stdin
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        procstat.reap_descendants(timeout_s=30)


def _run_one(wl, seed, seconds, traced, run_dir) -> dict:
    args_iter = wl.inputs()
    _session_env(run_dir, traced)
    procstat.become_subreaper()
    from gaia_spark.session import get_spark

    # set-up is charged in CPU seconds, like the operations: its wall
    # time follows the host's CPU steal (see perfbench/README.md)
    t0, cpu0 = time.perf_counter(), procstat.tree_cpu_s()
    spark = None
    try:
        spark = get_spark("perfbench", cpus=procstat.nproc())
        spark.sparkContext.setLogLevel("ERROR")
        wl.warm_up(spark)
        setup_wall_s = time.perf_counter() - t0
        setup_s = procstat.tree_cpu_s() - cpu0
        if traced:
            res = run_traced(wl, spark, next(args_iter))
        else:
            res = run_untraced(wl, spark, args_iter, seconds)
    finally:
        _stop_spark(spark)
    errors = res["errors"]
    failed = sum(1 for e in errors if e)
    for e in (e for errs in errors for e in errs):
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    if traced:
        metrics, problems = layer_metrics(
            res, trace.fold_event_log(os.path.join(run_dir, "eventlog")),
            wl.layers)
        for p in problems:
            print(f"TRACE CHECK FAILED: {p}", file=sys.stderr)
        units = {f"{layer}.{name}": unit for layer in trace.LAYERS
                 for name, unit in trace.LAYER_METRICS.items()}
        units.update(RUN_LEVEL)
    else:
        metrics, problems = dict(res["metrics"], setup_s=setup_s), []
        units = END_TO_END
    stamp = {
        "workload": wl.name, "seed": seed, "trace": int(traced),
        "nproc": procstat.nproc(), **res["cpu"],
        "git_commit": procstat.git_commit(ROOT),
        "pyspark": pyspark.__version__,
        "setup_s": setup_s, "setup_wall_s": setup_wall_s,
        "op_walls_s": res["walls"], **res["stamp"],
        "ops": len(errors), "fail_ratio": failed / len(errors),
    }
    return {
        "stamp": stamp,
        "result": {
            "correct": failed == 0 and not problems,
            "attempted": len(errors),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u}
                        for k, u in units.items()},
        },
    }


def _print_result(out: dict) -> None:
    st = out["stamp"]
    for k, v in out["result"]["metrics"].items():
        print(f"{st['workload']:<14} {k:<34} {v['value']:>16.6g} {v['unit']}")
    if "docs_per_s" in st:
        print(f"{st['workload']:<14} {'docs_per_s (wall, ungated)':<34} "
              f"{st['docs_per_s']:>16.6g} docs/s")
    print(f"{st['workload']:<14} {'fail_ratio':<34} "
          f"{st['fail_ratio']:>16.6g} "
          f"({out['result']['failed']}/{out['result']['attempted']} ops)")
    print(json.dumps({"stamp": out["stamp"]}))
    print(json.dumps(out["result"]))


def run_all(seed: int, seconds: float, traced: bool) -> int:
    """Each workload in its own process; print every metric by name."""
    ok = True
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(int(traced))],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-2]))
        if proc.returncode != 0 or not lines:
            print(f"{name}: exited {proc.returncode}", file=sys.stderr)
            ok = False
        else:
            ok = ok and json.loads(lines[-1])["correct"]
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(WORKLOADS) + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="untraced measuring window (at least one operation)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if a.workload == "all":
        return run_all(a.seed, a.seconds, bool(a.trace))
    _print_result(run_one(a.workload, a.seed, a.seconds, bool(a.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
