"""Where do the extra 16-core CPU cycles go? GC log + JVM/Python CPU split.

    taskset -ac 0-15 python tools/probe_gc.py 1000000 16 /tmp/gc16.log
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TICK = os.sysconf("SC_CLK_TCK")


def proc_cpu() -> dict:
    """{pid: (name, utime_s, stime_s)} for every live process."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
                name = open(f"/proc/{pid}/comm").read().strip()
            out[int(pid)] = (name, int(parts[11]) / TICK,
                             int(parts[12]) / TICK)
        except OSError:
            continue
    return out


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    gclog = sys.argv[3] if len(sys.argv) > 3 else f"/tmp/gc{cpus}.log"
    os.environ.setdefault("SPARK_GRAFT_SENTS", "10-60")
    from bench import corpus_dir
    cdir = corpus_dir(n_docs)

    from gaia_spark.session import get_spark
    from gaia_spark.operators.mentions import tag_flat

    extra = {"spark.driver.extraJavaOptions":
             f"-Xlog:gc*:file={gclog}:time,uptime"}
    if os.environ.get("SPARK_GRAFT_ARROW_BATCH"):
        extra["spark.sql.execution.arrow.maxRecordsPerBatch"] = \
            os.environ["SPARK_GRAFT_ARROW_BATCH"]
    spark = get_spark(
        "gcprobe", cpus=cpus, shuffle_partitions=2 * cpus,
        extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    pages = spark.read.parquet(f"{cdir}/pages.parquet")
    tag_flat(pages.limit(256).repartition(2 * cpus),  # warmup
             kinds="sa").count()

    nparts = 2 * spark.sparkContext.defaultParallelism
    c0 = proc_cpu()
    t0 = time.perf_counter()
    tag_flat(pages.repartition(nparts, "url"), kinds="sa").count()
    wall = time.perf_counter() - t0
    c1 = proc_cpu()

    agg: dict[str, list] = {}
    for pid, (name, u1, s1) in c1.items():
        u0, s0 = c0.get(pid, (name, 0.0, 0.0))[1:]
        kind = ("jvm" if name == "java"
                else "python" if name.startswith("python") else "other")
        a = agg.setdefault(kind, [0.0, 0.0])
        a[0] += u1 - u0
        a[1] += s1 - s0
    # GC CPU from the unified log: sum of "gc,cpu" lines (real * workers
    # isn't logged; use User+Sys per collection)
    gc_user = gc_sys = 0.0
    pauses = 0
    try:
        for line in open(gclog):
            m = re.search(r"User=([\d.]+)s Sys=([\d.]+)s", line)
            if m:
                gc_user += float(m.group(1))
                gc_sys += float(m.group(2))
                pauses += 1
    except OSError:
        pass
    print("GCPROBE " + json.dumps({
        "cpus": cpus, "wall_secs": round(wall, 1),
        "cpu_secs": {k: {"user": round(v[0], 1), "sys": round(v[1], 1)}
                     for k, v in sorted(agg.items())},
        "gc_collections": pauses,
        "gc_cpu_secs": round(gc_user + gc_sys, 1)}))
    spark.stop()


if __name__ == "__main__":
    main()
