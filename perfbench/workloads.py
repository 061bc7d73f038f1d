"""The benchmark's workloads: inputs, warm-up, one operation, its check.

Both run in one driver process at ``local[nproc]`` with one client
thread (a closed loop: the next operation starts when the last returns).

* ``kg_microbatch`` — one operation is one disjoint 1,000-doc batch with
  its own parquet input through ``build_triples_df``, collected.
* ``kg_catalog`` — one operation is ``run_pipeline`` over a 1,000-page
  corpus into a fresh catalog, then the same submission again with
  resume on.  This is the spark-submit path, where every submission is a
  fresh driver: set-up only starts the JVM and the Python workers, and
  the operation pays its own query compilation, as a submission does.
"""

from __future__ import annotations

import itertools
import os
import shutil
import time

from perfbench.inputs import TRIPLE_KEY, Corpus
from perfbench.trace import LAYERS

#: per-page sentence range of every corpus (the short-page fixture)
SENTS = (1, 20)


def _triple_errors(rows: list[tuple], golden: set) -> list[str]:
    got = set(rows)
    errs = []
    if len(rows) != len(got):
        errs.append(f"{len(rows) - len(got)} duplicate triple rows")
    if got != golden:
        errs.append(f"triples differ from the oracle: {len(got - golden)} "
                    f"extra, {len(golden - got)} missing of {len(golden)}")
    return errs


class MicroBatch:
    name = "kg_microbatch"
    op_docs = 1000
    #: batches generated per seed; the window stops early if it runs out
    max_batches = 8
    #: operations every untraced run times, whatever its window
    min_ops = 2
    warm_docs = 250
    #: the layers one operation enters (see perfbench/trace.py)
    layers = ("mentions", "linking.link", "linking.nil", "canonicalize.map",
              "canonicalize.triples")

    def __init__(self, seed: int, run_dir: str):
        self.corpus = Corpus(self.name, seed, self.op_docs,
                             self.max_batches, SENTS)
        self.warm = Corpus(self.name + "-warm", seed, self.warm_docs, 1,
                           SENTS)

    def inputs(self):
        """Build the inputs; returns the operation arguments in order."""
        self.corpus.build()
        self.warm.build()
        return iter(range(self.max_batches))

    def _triples(self, spark, part_dir: str) -> list[tuple]:
        from gaia_spark.plans.pipeline import build_triples_df
        read = spark.read.parquet
        df = build_triples_df(
            spark, read(os.path.join(part_dir, "pages.parquet")),
            read(os.path.join(part_dir, "kb_entities.parquet")),
            read(os.path.join(part_dir, "kb_aliases.parquet")))
        return [tuple(r) for r in df.select(*TRIPLE_KEY).collect()]

    def warm_up(self, spark) -> None:
        self._triples(spark, self.warm.part_dir(0))

    def run(self, spark, arg: int) -> dict:
        """The timed operation; returns what ``check`` needs."""
        return {"rows": self._triples(spark, self.corpus.part_dir(arg))}

    def check(self, spark, arg: int, out: dict) -> list[str]:
        return _triple_errors(out["rows"],
                              self.corpus.golden(arg)["triples"])

    def cleanup(self, out: dict) -> None:
        pass


class CatalogRun:
    name = "kg_catalog"
    op_docs = 1000
    warm_docs = 64
    stages = 8
    layers = LAYERS
    min_ops = 1

    def __init__(self, seed: int, run_dir: str):
        self.corpus = Corpus(self.name, seed, self.op_docs, 1, SENTS)
        self.warm = Corpus(self.name + "-warm", seed, self.warm_docs, 1,
                           SENTS)
        self.run_dir = run_dir
        self._n = 0

    def inputs(self):
        self.corpus.build()
        self.warm.build()
        # the same corpus every time, each time into a fresh catalog
        return itertools.repeat(0)


    def warm_up(self, spark) -> None:
        """Start the JVM's first job and the Python workers (with the
        tagger's lexicons imported), as any submission does."""
        from gaia_spark.operators.mentions import tag_flat
        spark.range(1000).selectExpr("sum(id)").collect()
        pages = spark.read.parquet(
            os.path.join(self.warm.part_dir(0), "pages.parquet"))
        tag_flat(pages.repartition(spark.sparkContext.defaultParallelism),
                 kinds="sa").count()

    def run(self, spark, arg: int) -> dict:
        from gaia_spark.plans.pipeline import run_pipeline
        self._n += 1
        out = os.path.join(self.run_dir, f"catalog_{self._n:03d}")
        corpus_dir = self.corpus.part_dir(arg)
        first = run_pipeline(spark, corpus_dir, out)
        t1 = time.perf_counter()
        again = run_pipeline(spark, corpus_dir, out)
        return {"out": out, "first": first, "again": again,
                "resume_s": time.perf_counter() - t1}

    def check(self, spark, arg: int, out: dict) -> list[str]:
        from gaia_spark.catalog import Catalog
        golden = self.corpus.golden(arg)
        cat = Catalog(out["out"])
        errs = []
        if len(out["first"]) != self.stages or any(
                m["skipped"] for m in out["first"].values()):
            errs.append("cold submit did not run all stages")
        if len(out["again"]) != self.stages or not all(
                m["skipped"] for m in out["again"].values()):
            errs.append("resubmit did not skip all stages")
        texts = dict(cat.read(spark, "pages_text").select("url", "text")
                     .collect())
        if texts != golden["texts"]:
            bad = sum(texts.get(u) != t for u, t in golden["texts"].items())
            errs.append(f"pages_text differs from the oracle on {bad} urls "
                        f"({len(texts)} read, {len(golden['texts'])} "
                        f"expected)")
        rows = [tuple(r) for r in cat.read(spark, "triples")
                .select(*TRIPLE_KEY).collect()]
        return errs + _triple_errors(rows, golden["triples"])

    def cleanup(self, out: dict) -> None:
        shutil.rmtree(out["out"], ignore_errors=True)


WORKLOADS = {w.name: w for w in (MicroBatch, CatalogRun)}
