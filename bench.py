"""Benchmark harness — one JSON line on stdout.

Headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS], plus the KG-construction pipeline over a
deterministic synthetic corpus (docs/sec is the BASELINE.json metric).

    {"metric": "...", "value": N, "unit": "sec",
     "queries": {...}, "sf": ..., "kg_docs_per_sec": ...}

The synthetic corpus is cached under .bench/ (gitignored) so repeated
runs — and the local[8]-vs-local[32] scaling probe in
tools/bench_scaling.py — time Spark, not the Python generator.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
KG_DOCS = int(os.environ.get("SPARK_GRAFT_KG_DOCS", "50000"))


def corpus_dir(n: int, seed: int = 42,
               sents: tuple[int, int] | None = None) -> str:
    """Synthesize (once) and cache the pages corpus for the KG bench.

    $SPARK_GRAFT_SENTS="lo-hi" sets the per-page sentence range
    (default 1-20 = the short-page fixture; 10-60 ≈ realistic
    Common-Crawl page length).
    """
    if sents is None:
        lo, hi = os.environ.get("SPARK_GRAFT_SENTS", "1-20").split("-")
        sents = (int(lo), int(hi))
    suffix = "" if sents == (1, 20) else f"_s{sents[0]}-{sents[1]}"
    out = os.path.join(REPO, ".bench", f"corpus_{n}_{seed}{suffix}")
    marker = os.path.join(out, "pages.parquet")
    if not os.path.exists(marker):
        from gaia_synth.corpus import write_corpus
        write_corpus(out, n, seed, sents)
    return out


def main() -> None:
    from gaia_spark.session import get_spark
    import __spark_entry__ as entrymod

    cdir = corpus_dir(KG_DOCS)
    spark = get_spark("bench", cpus=CPUS,
                      shuffle_partitions=max(CPUS, 16))

    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}

    def cpu_ticks():
        # (total, idle+iowait, steal) jiffies — SCALING.md discipline:
        # publish how contended the box was, don't cherry-pick a
        # quiet-window sample silently
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        v = [int(x) for x in parts]
        return (sum(v), v[3] + v[4], v[7] if len(v) > 7 else 0)

    def timed(name: str, fn, reps: int = 1) -> float:
        runs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            runs.append(round(time.perf_counter() - t0, 3))
        if reps > 1:
            spreads[name] = runs
        timings[name] = min(runs)
        return timings[name]

    # warm the JVM and the Python-worker pool (incl. the gaia_ref
    # lexicon import) so the first timed query isn't charged for
    # per-worker startup
    spark.range(1000).selectExpr("sum(id)").collect()
    from gaia_spark.operators.mentions import tag_flat
    warm = spark.read.parquet(os.path.join(cdir, "pages.parquet")).limit(256)
    tag_flat(warm.repartition(2 * CPUS), kinds="sa").count()

    qs = entrymod.queries()
    headline = [
        "rel_pricing_summary",      # scan + hash agg
        "rel_nation_volume",        # 5-way star join
        "rel_top_revenue_orders",   # join + global top-k
        "rel_self_join_pairs",      # blocked theta self-join
        "rel_window_topk_per_group",  # window top-k
        "text_quality",             # regex-heavy column kernel
        "dedup_exact",              # md5 groupBy dedup
        "dedup_minhash_lsh",        # minhash + LSH + verify
        "ann_cosine_topk",          # brute-force ANN
        "media_meta",               # binary plumbing
    ]
    c0 = cpu_ticks()
    for name in headline:
        fn = qs[name]
        timed(name, lambda f=fn: f(spark, SF_DIR).count(), reps=2)
    headline_total = round(sum(timings.values()), 3)

    # breadth: EVERY registered query gets a per-round timing so
    # regressions are visible per operator, not just on the headline
    # set (kg_* entries synthesize their own small corpus internally).
    # The kg_* queries share one cached triples build; materialize it
    # as its own TIMED entry first so whichever kg query sorts first
    # (kg_event_coref) isn't charged for the corpus build it happens
    # to trigger.
    timed("kg_synth_triples_warm",
          lambda: entrymod._synth_triples(spark).count())
    for name in sorted(qs):
        if name in timings:
            continue
        fn = qs[name]
        timed(name, lambda f=fn: f(spark, SF_DIR).count())

    # KG pipeline: full T1→T13 over the cached corpus, docs/sec
    def run_kg():
        from pyspark.sql import functions as F  # noqa: F401
        from gaia_spark.plans.pipeline import build_triples_df
        pages = spark.read.parquet(os.path.join(cdir, "pages.parquet"))
        kb_e = spark.read.parquet(os.path.join(cdir, "kb_entities.parquet"))
        kb_a = spark.read.parquet(os.path.join(cdir, "kb_aliases.parquet"))
        n = build_triples_df(spark, pages, kb_e, kb_a).count()
        assert n > 0

    kg_secs = timed("kg_pipeline", run_kg, reps=3)
    c1 = cpu_ticks()
    tot_ticks = max(1, c1[0] - c0[0])
    steal_pct = round(100 * (c1[2] - c0[2]) / tot_ticks, 2)
    busy_cores = round((1 - (c1[1] - c0[1]) / tot_ticks)
                       * (os.cpu_count() or CPUS), 1)

    # single-node comparison point: the reference-equivalent single-core
    # oracle over the same generator (BASELINE.md: the reference
    # publishes no numbers, so this measured rate IS the baseline)
    import time as _t
    from gaia_ref.oracle import run_oracle
    from gaia_synth.corpus import gen_pages
    _pages = gen_pages(1000)
    _t0 = _t.perf_counter()
    run_oracle(_pages)
    oracle_rate = round(1000 / (_t.perf_counter() - _t0), 2)

    print(json.dumps({
        "metric": "headline_queries_total",
        # value keeps its r01 definition (headline set + kg_pipeline)
        # so round-over-round totals stay comparable; `queries` now
        # carries EVERY registered query's timing
        "value": round(headline_total + kg_secs, 3),
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "cpus": CPUS,
        "kg_docs": KG_DOCS,
        "kg_docs_per_sec": round(KG_DOCS / kg_secs, 2),
        "single_core_oracle_docs_per_sec": oracle_rate,
        # reproducibility: headline = min-of-2, kg_pipeline = min-of-3
        # (same process); every multi-rep query's full spread is
        # published, plus steal/CPU accounting for the timed window —
        # a contended sample is visible, not silently averaged in
        "method": "min-of-2 headline / min-of-3 kg, spread published",
        "spread": spreads,
        "steal_pct": steal_pct,
        "busy_cores_avg": busy_cores,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
