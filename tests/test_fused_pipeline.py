"""Fused fast path (build_triples_df) must equal the oracle exactly.

The checkpointed run_pipeline is covered by test_pipeline_e2e; this
guards the tag_flat fusion (extract+tag+coref+assertions in one Arrow
pass) and the hybrid connected-components path.
"""

import os

import pytest

from gaia_spark.plans.pipeline import build_triples_df

TRIPLE_KEY = ["url", "sent_id", "subj", "pred", "obj",
              "subj_type", "obj_type", "conf"]


@pytest.fixture(scope="module")
def fused_triples(spark, corpus_dir):
    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    kb_e = spark.read.parquet(
        os.path.join(corpus_dir, "kb_entities.parquet"))
    kb_a = spark.read.parquet(
        os.path.join(corpus_dir, "kb_aliases.parquet"))
    return build_triples_df(spark, pages, kb_e, kb_a)


def test_fused_equals_oracle(spark, fused_triples, oracle_result):
    got = {tuple(r) for r in fused_triples.select(*TRIPLE_KEY).collect()}
    want = {
        (t["url"], t["sent_id"], t["subj"], t["pred"], t["obj"],
         t["subj_type"], t["obj_type"], t["conf"])
        for t in oracle_result["triples"]
    }
    assert got == want


def test_fused_lang_column_matches_input(spark, fused_triples, corpus_dir):
    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    langs = {r.url: r.lang for r in pages.select("url", "lang").collect()}
    assert all(langs[r.url] == r.lang
               for r in fused_triples.select("url", "lang").collect())


def test_checkpoint_block_format_is_result_invariant(
        spark, corpus_dir, fused_triples, monkeypatch):
    """Fan-in checkpoints default to SERIALIZED blocks (bandwidth-vs-
    CPU trade, gaia_spark/checkpoint.py); the deserialized opt-out
    (SPARK_GRAFT_CKPT_SER=0) must never change a single output row."""
    monkeypatch.setenv("SPARK_GRAFT_CKPT_SER", "0")
    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    kb_e = spark.read.parquet(
        os.path.join(corpus_dir, "kb_entities.parquet"))
    kb_a = spark.read.parquet(
        os.path.join(corpus_dir, "kb_aliases.parquet"))
    got = build_triples_df(spark, pages, kb_e, kb_a)
    assert ({tuple(r) for r in got.select(*TRIPLE_KEY).collect()}
            == {tuple(r) for r in
                fused_triples.select(*TRIPLE_KEY).collect()})


def test_recrawled_duplicate_urls_do_not_multiply_triples(
        spark, corpus_dir, fused_triples):
    """Crawl corpora carry recrawls (duplicate urls).  The final
    lang re-attach join must collapse pages to one row per url first,
    or every triple of a recrawled page silently duplicates."""
    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    kb_e = spark.read.parquet(
        os.path.join(corpus_dir, "kb_entities.parquet"))
    kb_a = spark.read.parquet(
        os.path.join(corpus_dir, "kb_aliases.parquet"))
    recrawled = pages.union(pages.limit(5))  # 5 urls appear twice
    got = build_triples_df(spark, recrawled, kb_e, kb_a)
    base = fused_triples
    assert got.count() == base.count()
    assert got.groupBy("url", "sent_id", "subj", "pred", "obj").count() \
              .filter("count > 1").count() == 0


def test_mention_slice_equals_oracle(spark, corpus_dir, oracle_result):
    """The 'm' row family is the resolved-mentions table graph_nodes
    consumes: it must equal the oracle's mention rows, nominals
    resolved (antecedent fine type and link key) or dropped."""
    from gaia_ref.extract import norm_surface
    from gaia_spark.operators.mentions import flat_mentions, tag_flat

    key = ["url", "sent_id", "begin", "end", "surface", "coarse", "fine",
           "nominal", "link_norm"]
    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    got = sorted(tuple(r) for r in flat_mentions(
        tag_flat(pages, kinds="m")).select(*key).collect())
    want = sorted(
        (m["url"], m["sent_id"], m["begin"], m["end"], m["surface"],
         m["coarse"], m["fine"], m["nominal"],
         norm_surface(m["ante_surface"]))
        for m in oracle_result["mentions"])
    assert got == want
    assert any(nominal for *_, nominal, _ln in got)
