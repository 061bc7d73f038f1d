"""Two-cluster-size scaling probe (north_rule: efficiency ≥ 0.8).

No real cluster exists in this sandbox, so N vs 4N executors is
evidenced as local[8] vs local[32] (driver instruction): the SAME KG
pipeline job over the SAME cached corpus, each size in a fresh JVM
subprocess, throughput measured after JVM+Python-worker warmup.

    python tools/bench_scaling.py [n_docs] [n_lo] [n_hi] [repeats]

n_lo/n_hi are the two core counts (default 4 and 4*n_lo); ``repeats``
(default 1) runs each leg that many times in fresh JVMs and keeps the
MINIMUM wall time — on a shared/noisy VM interference only ever adds
time, so min-of-k is the least-biased estimator of the machine's true
rate (repeat count is recorded in the output).  Prints one JSON line
and appends a markdown row to BENCH/SCALING.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from gaia_spark.session import get_spark
from gaia_spark.plans.pipeline import build_triples_df
from gaia_spark.operators.mentions import tag_flat

def cpu_ticks():
    with open("/proc/stat") as f:
        v = list(map(int, f.readline().split()[1:]))
    # (total, idle+iowait, steal) — steal>0 means a noisy co-tenant VM
    return (sum(v), v[3] + v[4], v[7] if len(v) > 7 else 0)

TICK = os.sysconf("SC_CLK_TCK")

def proc_cpu():
    # {{pid: (comm, cpu_s, reaped_child_cpu_s)}} for every live process:
    # diffing two snapshots around the timed job splits CPU-seconds into
    # the JVM (comm=java) vs the Python workers — wall-vs-CPU then
    # separates "cores idled" (scheduling loss) from "cores ran slower"
    # (clock/bandwidth loss), which wall time alone cannot.  cutime/
    # cstime (reaped children) matter: pyspark worker processes are
    # killed on idle timeout once their stage ends, so a job whose LAST
    # stages are JVM-only loses the tag-stage workers from the end
    # snapshot — their CPU survives only in the daemon's child counters.
    out = {{}}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{{pid}}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{{pid}}/comm") as f:
                name = f.read().strip()
            out[int(pid)] = (name,
                             (int(parts[11]) + int(parts[12])) / TICK,
                             (int(parts[13]) + int(parts[14])) / TICK)
        except OSError:
            continue
    return out

cpus = int(os.environ["SPARK_GRAFT_CPUS"])
cdir = os.environ["SPARK_GRAFT_CORPUS"]
spark = get_spark("scaling", cpus=cpus, shuffle_partitions=2 * cpus)
spark.sparkContext.setLogLevel("ERROR")
pages = spark.read.parquet(f"{{cdir}}/pages.parquet")
kb_e = spark.read.parquet(f"{{cdir}}/kb_entities.parquet")
kb_a = spark.read.parquet(f"{{cdir}}/kb_aliases.parquet")
# warmup: JVM + python workers + lexicon import
tag_flat(pages.limit(256).repartition(2 * cpus), kinds="sa").count()
c0 = cpu_ticks()
p0 = proc_cpu()
t0 = time.perf_counter()
n = build_triples_df(spark, pages, kb_e, kb_a).count()
dt = time.perf_counter() - t0
p1 = proc_cpu()
c1 = cpu_ticks()
tot = max(1, c1[0] - c0[0])
agg = {{}}
for pid, (name, own1, kids1) in p1.items():
    own0, kids0 = p0.get(pid, (name, 0.0, 0.0))[1:]
    kind = ("jvm" if name == "java"
            else "python" if name.startswith("python") else "other")
    agg[kind] = (agg.get(kind, 0.0)
                 + (own1 - own0) + (kids1 - kids0))
work = agg.get("jvm", 0.0) + agg.get("python", 0.0)
print("RESULT " + json.dumps({{"cpus": cpus, "secs": round(dt, 2),
                               "triples": n,
                               "steal_pct": round(100 * (c1[2] - c0[2]) / tot, 2),
                               "host_busy_cores": round(
                                   (1 - (c1[1] - c0[1]) / tot) * os.cpu_count(), 1),
                               "cpu_secs": {{k: round(v, 1)
                                             for k, v in sorted(agg.items())}},
                               "util_pct": round(100 * work / (dt * cpus), 1)}}))
spark.stop()
"""


def run_one(cpus: int, cdir: str) -> dict:
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_CORPUS=cdir)
    # pin the WHOLE process tree (JVM + Python workers) to exactly
    # `cpus` hardware cores — the faithful N-core-executor proxy.
    # Unpinned, a local[4] leg borrows extra cores for JVM shuffle /
    # Arrow / GC threads (measured host-busy 4.5 cores on a "4-core"
    # leg), flattering the small leg and corrupting the N->4N ratio.
    cmd = [sys.executable, "-c", RUNNER.format(repo=REPO)]
    if os.environ.get("SPARK_GRAFT_PIN", "1") == "1":
        cmd = ["taskset", "-ac", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(
        cmd, env=env, capture_output=True, text=True, check=True,
        cwd=REPO)
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT line:\n{out.stdout}\n{out.stderr}")


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_lo = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    n_hi = int(sys.argv[3]) if len(sys.argv) > 3 else 4 * n_lo
    repeats = int(sys.argv[4]) if len(sys.argv) > 4 else 1
    sys.path.insert(0, REPO)
    # default to the realistic page-length profile (10-60 sentences ≈
    # Common-Crawl) so probe rows are comparable round-over-round; the
    # short fixture (1-20) must be asked for explicitly.  Two r3 rows
    # were accidentally measured on the short fixture when this
    # defaulted from the ambient env — the profile is now recorded in
    # every output row.
    os.environ.setdefault("SPARK_GRAFT_SENTS", "10-60")
    sents = os.environ["SPARK_GRAFT_SENTS"]
    from bench import corpus_dir
    cdir = corpus_dir(n_docs)

    best: dict[int, dict] = {}
    for r in range(repeats):
        for cpus in (n_lo, n_hi):
            got = run_one(cpus, cdir)
            if cpus not in best or got["secs"] < best[cpus]["secs"]:
                best[cpus] = got
            print(f"# leg {cpus} run {r + 1}/{repeats}: {got['secs']}s "
                  f"(steal {got.get('steal_pct', '?')}%, host busy "
                  f"{got.get('host_busy_cores', '?')} cores, util "
                  f"{got.get('util_pct', '?')}%, cpu "
                  f"{got.get('cpu_secs', '?')})", flush=True)
    t_lo, t_hi = best[n_lo]["secs"], best[n_hi]["secs"]
    d_lo, d_hi = n_docs / t_lo, n_docs / t_hi
    eff = (d_hi / d_lo) / (n_hi / n_lo)
    result = {
        "n_docs": n_docs, "sents": sents, "cores": [n_lo, n_hi],
        f"local{n_lo}_secs": t_lo,
        f"local{n_lo}_docs_per_sec": round(d_lo, 1),
        f"local{n_hi}_secs": t_hi,
        f"local{n_hi}_docs_per_sec": round(d_hi, 1),
        "speedup": round(t_lo / t_hi, 2),
        "scaling_efficiency": round(eff, 3),
        "triples": best[n_hi]["triples"],
        "repeats": repeats,
        # interference fingerprint of the kept (fastest) legs: on a
        # shared VM steal>~2% or host_busy far above the leg's own
        # core count means a co-tenant stole the denominator — rerun.
        "steal_pct": [best[n_lo].get("steal_pct"),
                      best[n_hi].get("steal_pct")],
        "host_busy_cores": [best[n_lo].get("host_busy_cores"),
                            best[n_hi].get("host_busy_cores")],
        # CPU accounting of the kept legs: util_pct ~100 on BOTH legs
        # with higher cpu_secs on the big leg = cores ran slower
        # (clock/bandwidth, hardware ceiling); util_pct dropping on the
        # big leg = cores idled (scheduling / stragglers / serial code).
        "util_pct": [best[n_lo].get("util_pct"),
                     best[n_hi].get("util_pct")],
        "cpu_secs": [best[n_lo].get("cpu_secs"),
                     best[n_hi].get("cpu_secs")],
    }
    print(json.dumps(result))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    path = os.path.join(REPO, "BENCH", "SCALING.md")
    new = not os.path.exists(path)
    pinned = ("pinned" if os.environ.get("SPARK_GRAFT_PIN", "1") == "1"
              else "UNPINNED")
    with open(path, "a") as f:
        if new:
            f.write("# Scaling probe: local[N] vs local[4N] "
                    "(N vs 4N executors proxy)\n\n"
                    "| when | kernel | docs | cores | T(N) s | T(4N) s "
                    "| eff | interference |\n"
                    "|---|---|---|---|---|---|---|---|\n")
        f.write(f"| probe | {pinned} | {n_docs} s{sents} | {n_lo}->{n_hi} "
                f"| {t_lo} | {t_hi} | {round(eff, 3)} "
                f"| steal {result['steal_pct']}%, host-busy "
                f"{result['host_busy_cores']} cores, util "
                f"{result['util_pct']}%, cpu {result['cpu_secs']}, "
                f"min-of-{repeats} |\n")


if __name__ == "__main__":
    main()
