"""Per-operator unit tests on micro-fixtures (SURVEY.md §5.2.2)."""

import pytest
from pyspark.sql import functions as F

from gaia_ref.gazetteer import alias_rows, kb_rows
from gaia_spark.operators.extract import extract_pages
from gaia_spark.operators.graph import connected_components
from gaia_spark.operators.linking import (
    alias_dictionary,
    canonicalize_mentions,
    link_mentions,
    nil_clusters,
)
from gaia_spark.operators.mentions import (
    flat_mentions,
    flat_surfaces,
    tag_flat,
)


def _pages_df(spark, rows):
    return spark.createDataFrame(
        rows, schema="url string, warc_ts timestamp, html binary, "
                     "text string, lang string")


def _mentions(df):
    return flat_mentions(tag_flat(df, kinds="m", from_text=True))


def _surfaces(df):
    return flat_surfaces(tag_flat(df, kinds="s", from_text=True)).distinct()


def _kb(spark):
    kb_e = spark.createDataFrame(
        kb_rows(), schema="entity_id string, canonical_name string, "
                          "entity_type string, fine_type string, "
                          "popularity double")
    kb_a = spark.createDataFrame(
        alias_rows(), schema="alias_norm string, entity_id string")
    return kb_e, kb_a


def test_extract_pages_drops_html_and_recomputes_text(spark):
    df = _pages_df(spark, [
        ("u1", None, b"<p>A &amp; B</p>", "stale text", "en")])
    out = extract_pages(df)
    assert "html" not in out.columns
    assert out.collect()[0].text == "A & B"


def test_tagger_outputs(spark):
    df = _pages_df(spark, [
        ("u1", None, None,
         "Viktor Orlov , head of Helios Energy , visited Warsaw .", "en")])
    ms = _mentions(df).orderBy("pos").collect()
    assert [(m.surface, m.coarse, m.pos) for m in ms] == [
        ("Viktor Orlov", "PER", 0), ("Helios Energy", "ORG", 1),
        ("Warsaw", "GPE", 2)]


def test_coref_resolves_and_drops(spark):
    df = _pages_df(spark, [
        ("u1", None, None,
         "Helios Energy is based in Berlin .\n"
         "The company opened an office in Madrid .\n"
         "The president visited Kyiv .", "en")])
    ms = _mentions(df).collect()
    rows = {(r.surface, r.fine, r.link_norm, r.nominal) for r in ms}
    # nominal 'The company' inherits Helios Energy's identity
    assert ("The company", "ORG.Company", "helios energy", True) in rows
    # 'The president' has no PER antecedent → dropped; `pos` is taken
    # before the drop, so Kyiv keeps its tag-time position 1
    assert not any(s == "The president" for s, *_ in rows)
    assert [r.pos for r in ms if r.surface == "Kyiv"] == [1]


def test_tag_flat_rejects_unknown_kinds(spark):
    df = _pages_df(spark, [("u1", None, None, "Orlov visited Kyiv .", "en")])
    # 't'/'g' were trigger/gap families: a stale caller must fail loudly
    # rather than silently get no rows of those kinds
    with pytest.raises(ValueError, match="'gt'"):
        tag_flat(df, kinds="mtga", from_text=True)
    with pytest.raises(ValueError):
        tag_flat(df, kinds="", from_text=True)


def test_alias_dictionary_disambiguation(spark):
    kb_e, kb_a = _kb(spark)
    best = {(r.alias_norm, r.alias_coarse): r.entity_id
            for r in alias_dictionary(kb_e, kb_a).collect()}
    assert best[("columbia", "ORG")] == "Q2013"
    assert best[("columbia", "GPE")] == "Q3011"
    assert best[("ibm", "ORG")] == "Q2002"


def test_link_mentions_broadcast_plan(spark):
    """The alias join must be a broadcast hash join (SURVEY.md §7 M2)."""
    kb_e, kb_a = _kb(spark)
    df = _pages_df(spark, [("u1", None, None,
                            "Orlov visited Kyiv .", "en")])
    linked = link_mentions(_surfaces(df), kb_e, kb_a)
    plan = linked._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    got = {(r.link_norm, r.entity_id) for r in linked.collect()}
    assert got == {("orlov", "Q1001"), ("kyiv", "Q3001")}


def test_nil_clustering_spark_matches_oracle(spark):
    from gaia_ref.oracle import nil_cluster_ids
    df = _pages_df(spark, [
        ("u1", None, None, "Zorian Balaban visited Kyiv .", "en"),
        ("u2", None, None, "Balaban met with Mira Holzmann .", "en"),
        ("u3", None, None, "Kestrel Logistics is based in Lviv .", "en"),
        ("u4", None, None, "Petrova works for Kestrel .", "en"),
    ])
    kb_e, kb_a = _kb(spark)
    linked = link_mentions(_surfaces(df), kb_e, kb_a)
    nil = nil_clusters(linked)
    got = {(r.coarse, r.link_norm): r.nil_id for r in nil.collect()}
    want = nil_cluster_ids(set(got.keys()))
    assert got == want
    canon = canonicalize_mentions(linked, nil)
    assert canon.filter(F.col("canonical").isNull()).count() == 0


def test_connected_components_chain_and_isolated(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string")
    nodes = spark.createDataFrame([("z",)], "node string")
    comps = {r.node: r.component
             for r in connected_components(edges, nodes=nodes).collect()}
    assert comps == {"a": "a", "b": "a", "c": "a",
                     "x": "x", "y": "x", "z": "z"}


def test_containment_col_matches_python_kernel(spark):
    """The JVM column expression for shingle containment must equal the
    shared gaia_ref kernel on short, padded, overlapping, and empty
    surfaces (the per-row pandas UDF it replaced used the kernel
    directly)."""
    from gaia_ref.minhashing import char_shingles, shingle_containment
    from gaia_spark.operators.linking import _containment_col
    import pyspark.sql.functions as F
    cases = [
        ("kestrel", "kestrel logistics"),
        ("ab", "ab"), ("a", "b"), ("", "abc"), ("", ""),
        ("acme corp", "acme corporation"),
        ("xyz", "zyx"),
    ]
    df = spark.createDataFrame(cases, "n1 string, n2 string")
    got = {(r.n1, r.n2): r.c for r in df.withColumn(
        "c", _containment_col(F.col("n1"), F.col("n2"))).collect()}
    for a, b in cases:
        want = shingle_containment(char_shingles(a), char_shingles(b))
        assert abs(got[(a, b)] - want) < 1e-12, (a, b, got[(a, b)], want)
