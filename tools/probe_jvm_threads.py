"""Attribute JVM CPU to thread groups during the KG pipeline job.

The instrumented scaling probe (tools/bench_scaling.py) shows the
4->16-core efficiency loss is EXTRA CPU, not idling: jvm core-seconds
~3x and python core-seconds +38% on the same input.  This probe finds
where those cycles go:

- a sampler thread walks /proc/<jvm>/task/*/stat every 2 s and keeps
  the last-seen cumulative CPU per tid; at the end tids are aggregated
  by thread-name prefix (digits stripped), so short-lived threads are
  still counted at their final sample;
- python worker pids are tracked the same way (daemon-forked workers
  churn, so end-of-job snapshots undercount them — sampling keeps the
  CPU of every worker that ever lived >= one sample interval);
- worker churn itself is reported (distinct worker pids seen vs cores).

    taskset -ac 0-15 python tools/probe_jvm_threads.py 400000 16
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TICK = os.sysconf("SC_CLK_TCK")


def _read_stat(path: str) -> tuple[str, float] | None:
    try:
        with open(path + "/stat") as f:
            raw = f.read()
        with open(path + "/comm") as f:
            name = f.read().strip()
        parts = raw.rsplit(")", 1)[1].split()
        return name, (int(parts[11]) + int(parts[12])) / TICK
    except OSError:
        return None


class Sampler(threading.Thread):
    """last-seen cumulative CPU per (kind, id, name), sampled at 2 Hz."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.stop_flag = False
        self.jvm_tids: dict[int, tuple[str, float]] = {}
        self.py_pids: dict[int, tuple[str, float]] = {}
        self.me = os.getpid()

    def run(self) -> None:
        while not self.stop_flag:
            jvm_pids = []
            for pid in os.listdir("/proc"):
                if not pid.isdigit() or int(pid) == self.me:
                    continue
                got = _read_stat(f"/proc/{pid}")
                if got is None:
                    continue
                name, cpu = got
                if name == "java":
                    jvm_pids.append(int(pid))
                elif name.startswith("python"):
                    self.py_pids[int(pid)] = (name, cpu)
            for jp in jvm_pids:
                try:
                    tids = os.listdir(f"/proc/{jp}/task")
                except OSError:
                    continue
                for tid in tids:
                    got = _read_stat(f"/proc/{jp}/task/{tid}")
                    if got is not None:
                        self.jvm_tids[int(tid)] = got
            time.sleep(2.0)

    def report(self) -> dict:
        groups: dict[str, float] = {}
        for name, cpu in self.jvm_tids.values():
            key = re.sub(r"[-# ]*\d+$", "", name) or name
            groups[key] = groups.get(key, 0.0) + cpu
        top = dict(sorted(groups.items(), key=lambda kv: -kv[1])[:16])
        py_total = sum(cpu for _, cpu in self.py_pids.values())
        return {
            "jvm_thread_groups_cpu_s": {k: round(v, 1)
                                        for k, v in top.items()},
            "jvm_total_cpu_s": round(sum(groups.values()), 1),
            "python_total_cpu_s": round(py_total, 1),
            "python_pids_seen": len(self.py_pids),
        }


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    os.environ.setdefault("SPARK_GRAFT_SENTS", "10-60")
    from bench import corpus_dir
    cdir = corpus_dir(n_docs)

    from gaia_spark.session import get_spark
    from gaia_spark.operators.mentions import tag_flat
    from gaia_spark.plans.pipeline import build_triples_df

    spark = get_spark("jvmthreads", cpus=cpus, shuffle_partitions=2 * cpus)
    spark.sparkContext.setLogLevel("ERROR")
    pages = spark.read.parquet(f"{cdir}/pages.parquet")
    kb_e = spark.read.parquet(f"{cdir}/kb_entities.parquet")
    kb_a = spark.read.parquet(f"{cdir}/kb_aliases.parquet")
    tag_flat(pages.limit(256).repartition(2 * cpus),  # warmup
             kinds="sa").count()

    sampler = Sampler()
    baseline_wait = 4.0
    sampler.start()
    time.sleep(baseline_wait)  # capture post-warmup cumulative baselines
    base = sampler.report()

    t0 = time.perf_counter()
    n = build_triples_df(spark, pages, kb_e, kb_a).count()
    wall = time.perf_counter() - t0
    time.sleep(3.0)  # let the sampler take a final snapshot
    sampler.stop_flag = True
    end = sampler.report()

    delta = {
        k: round(end["jvm_thread_groups_cpu_s"].get(k, 0.0)
                 - base["jvm_thread_groups_cpu_s"].get(k, 0.0), 1)
        for k in end["jvm_thread_groups_cpu_s"]
    }
    print("JVMTHREADS " + json.dumps({
        "cpus": cpus, "n_docs": n_docs, "triples": n,
        "wall_secs": round(wall, 1),
        "jvm_cpu_s_by_thread_group": dict(
            sorted(delta.items(), key=lambda kv: -kv[1])),
        "jvm_total_cpu_s": round(end["jvm_total_cpu_s"]
                                 - base["jvm_total_cpu_s"], 1),
        "python_total_cpu_s": round(end["python_total_cpu_s"]
                                    - base["python_total_cpu_s"], 1),
        "python_pids_seen": end["python_pids_seen"],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
