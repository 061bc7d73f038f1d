"""Decompose the tag stage's scaling: shuffle vs Arrow vs kernel vs
checkpoint, with per-pinned-core busy%% sampled around each phase.

    taskset -ac 0-15 python tools/probe_tag.py 1000000 16
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def cpu_busy(cpus: int):
    """(busy_ticks, total_ticks) summed over cpu0..cpu{cpus-1}."""
    busy = tot = 0
    with open("/proc/stat") as f:
        for line in f:
            if not line.startswith("cpu") or line.startswith("cpu "):
                continue
            idx = int(line.split()[0][3:])
            if idx >= cpus:
                continue
            v = list(map(int, line.split()[1:]))
            tot += sum(v)
            busy += sum(v) - v[3] - v[4]
    return busy, tot


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    os.environ.setdefault("SPARK_GRAFT_SENTS", "10-60")
    from bench import corpus_dir
    cdir = corpus_dir(n_docs)

    from gaia_spark.session import get_spark
    from gaia_spark.operators.mentions import tag_flat

    spark = get_spark("tagprobe", cpus=cpus, shuffle_partitions=2 * cpus)
    spark.sparkContext.setLogLevel("ERROR")
    pages = spark.read.parquet(f"{cdir}/pages.parquet")
    tag_flat(pages.limit(256).repartition(2 * cpus),  # warmup
             kinds="sa").count()

    nparts = 2 * spark.sparkContext.defaultParallelism
    out: dict[str, dict] = {}

    def phase(name, fn):
        b0, t0 = cpu_busy(cpus)
        w0 = time.perf_counter()
        fn()
        w = time.perf_counter() - w0
        b1, t1 = cpu_busy(cpus)
        util = (b1 - b0) / max(1, t1 - t0)
        out[name] = {"secs": round(w, 1), "busy_pct": round(100 * util, 1)}
        print(f"# {name}: {w:.1f}s busy={100*util:.1f}%", flush=True)

    rep = lambda: pages.repartition(nparts, "url")

    def identity(it):
        yield from it

    phase("scan_only", lambda: pages.count())
    phase("shuffle", lambda: rep().count())
    phase("shuffle_arrow", lambda: rep().mapInPandas(
        identity, schema=pages.schema).count())
    phase("tag_count", lambda: tag_flat(rep(), kinds="sa").count())
    phase("tag_ckpt", lambda: tag_flat(rep(), kinds="sa").localCheckpoint())
    print("TAGPROBE " + json.dumps(
        {"cpus": cpus, "n_docs": n_docs, "phases": out}))
    spark.stop()


if __name__ == "__main__":
    main()
