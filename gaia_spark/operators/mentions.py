"""T2/T3/T5/T7 + per-doc T6/T8/T9 — the one per-document tagger.

``tag_flat`` is a single Arrow-batched ``mapInPandas`` pass per document
(SURVEY.md §2.2 T2: "iterator-of-batches … deterministic, vectorized
gazetteer+rule tagger").  It reads the heavy text column exactly once
and runs tagging, nominal coreference (the oracle's
``resolve_nominals``) and relation/event extraction (the oracle's
``extract_doc_assertions``) over it, so every per-document stage is
oracle-exact by construction.  The cross-document stages (T4 linking,
T4b NIL, T11 canonicalization) stay relational and consume its rows.
"""

from __future__ import annotations

from collections.abc import Iterator
from itertools import groupby

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from gaia_ref.tagging import tag_document

# One row per mention/surface/assertion with a `kind` discriminator.
# Nested ARRAY<STRUCT> columns are 5-10× more expensive to build on the
# pandas→Arrow boundary than flat nullable columns, and the first thing
# every consumer does is explode them anyway — so the kernel emits
# pre-exploded rows and consumers just filter on `kind`.
#
# Assertions ('a' rows) are T6/T8/T9 computed per document inside the
# same pass: relation/event extraction needs only the doc's own
# resolved mentions plus a static pattern table, so running it where
# the document already lives avoids re-shuffling every mention row
# through (url, sent_id) joins.
TAG_FLAT_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("kind", StringType(), False),   # 'm' | 's' | 'a'
    StructField("sent_id", IntegerType(), False),
    StructField("pos", IntegerType(), True),
    StructField("begin", IntegerType(), True),
    StructField("end", IntegerType(), True),
    StructField("surface", StringType(), True),
    StructField("coarse", StringType(), True),
    StructField("fine", StringType(), True),
    StructField("nominal", BooleanType(), True),
    StructField("link_norm", StringType(), True),
    StructField("conf", DoubleType(), True),
    StructField("pred", StringType(), True),
    StructField("obj_norm", StringType(), True),
    StructField("obj_coarse", StringType(), True),
    StructField("obj_fine", StringType(), True),
    # carried through from the input when it has a `lang` column
    # (null otherwise): lets canonical_triples keep T12's language
    # tag WITHOUT the full-corpus lang_map join + sort-merge that a
    # post-hoc re-attach costs (at 10^12 docs that join is the single
    # most expensive non-kernel stage)
    StructField("lang", StringType(), True),
])

#: the row families ``tag_flat`` can emit
KINDS = "msa"

_FLAT_COLS = [f.name for f in TAG_FLAT_SCHEMA.fields]
_FLAT_COLS_NOLANG = _FLAT_COLS[:-1]
_PAD = (None, None, None, None, None)  # conf..obj_fine for non-'a' rows


def _flat_rows(url: str, text: str, kinds: str) -> list[tuple]:
    """One tag_document + resolve_nominals call serves every family."""
    from gaia_ref.extract import norm_surface
    from gaia_ref.oracle import extract_doc_assertions, resolve_nominals

    pre = tag_document(text or "")
    resolved = resolve_nominals(pre[0])
    rows = []
    if "m" in kinds:
        # `pos`: the mention's rank by begin among ALL its sentence's
        # mentions, i.e. before unresolved nominals are dropped
        ordered = sorted(pre[0], key=lambda m: (m.sent_id, m.begin))
        pos = {id(m): i
               for _, sent in groupby(ordered, key=lambda m: m.sent_id)
               for i, m in enumerate(sent)}
        for m, a in resolved:
            rows.append((url, "m", m.sent_id, pos[id(m)], m.begin, m.end,
                         m.surface, m.coarse, a.fine, m.nominal,
                         norm_surface(a.surface)) + _PAD)
    if "s" in kinds:
        # per-doc-distinct resolved surface pairs, skinny: the ONLY
        # mention-derived input the fast path needs (linking/NIL/
        # canonicalization run over the surface vocabulary)
        surfs = sorted({
            (m.coarse, norm_surface(a.surface)) for m, a in resolved
        })
        for coarse, ln in surfs:
            rows.append((url, "s", 0, None, None, None, None, coarse,
                         None, None, ln) + _PAD)
    if "a" in kinds:
        rels, evts = extract_doc_assertions(
            text, pretagged=pre, preresolved=resolved)
        for r in rels + evts:
            a, b = r["subj_m"], r["obj_m"]
            rows.append((url, "a", r["sent_id"], None, None, None, None,
                         a.coarse, a.fine, None, norm_surface(a.surface),
                         r["conf"], r["pred"], norm_surface(b.surface),
                         b.coarse, b.fine))
    return rows


def _tag_flat_batches(kinds: str, from_text: bool, with_lang: bool):
    import numpy as np

    from gaia_ref.extract import extract_text

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list[tuple] = []
            lens: list[int] = []
            if from_text:
                for u, t in zip(pdf["url"], pdf["text"]):
                    r = _flat_rows(u, t or "", kinds)
                    rows.extend(r)
                    lens.append(len(r))
            else:
                for u, h in zip(pdf["url"], pdf["html"]):
                    r = _flat_rows(u, extract_text(h), kinds)
                    rows.extend(r)
                    lens.append(len(r))
            out = pd.DataFrame(rows, columns=_FLAT_COLS_NOLANG)
            # vectorized per-doc lang fan-out — no per-row Python
            out["lang"] = (
                np.repeat(pdf["lang"].to_numpy(), lens)
                if with_lang else None)
            yield out

    return run


def tag_flat(pages: DataFrame, kinds: str,
             from_text: bool = False) -> DataFrame:
    """Fused T1+T2+T5+T6/T8 emitting pre-exploded rows.

    ``kinds`` selects the emitted row families, any of 'm'entions
    (the resolved-mentions table), 's'urfaces (per-doc-distinct
    linking keys) and 'a'ssertions.  The pipeline fast path emits
    only "sa", cutting the Arrow/shuffle row volume ~60%.

    ``from_text=True`` consumes an already-extracted ``text`` column
    (e.g. the checkpointed pages_text table) instead of re-extracting
    from ``html``.
    """
    bad = "".join(sorted(set(kinds) - set(KINDS)))
    if bad or not kinds:
        raise ValueError(
            f"tag_flat: kinds={kinds!r} has unknown row kinds {bad!r}; "
            f"pass a non-empty subset of {KINDS!r}")
    src = "text" if from_text else "html"
    with_lang = "lang" in pages.columns
    cols = ["url", src] + (["lang"] if with_lang else [])
    return pages.select(*cols).mapInPandas(
        _tag_flat_batches(kinds, from_text, with_lang),
        schema=TAG_FLAT_SCHEMA)


def flat_mentions(flat: DataFrame) -> DataFrame:
    """kind='m' slice == the resolved-mentions table (with link_norm)."""
    return flat.filter(F.col("kind") == "m").select(
        "url", "sent_id", "pos", "begin", "end", "surface", "coarse",
        "fine", "nominal", "link_norm")


def flat_surfaces(flat: DataFrame) -> DataFrame:
    """kind='s' slice: per-doc-distinct (coarse, link_norm) pairs."""
    return flat.filter(F.col("kind") == "s").select("coarse", "link_norm")


def flat_assertions(flat: DataFrame, with_lang: bool = False) -> DataFrame:
    """kind='a' slice == relation∪event rows in the assertion schema
    consumed by canonical_triples (subj side from coarse/fine/link_norm).

    ``with_lang=True`` keeps the carried page language so downstream
    canonicalization needs no corpus-wide lang re-attach join."""
    return flat.filter(F.col("kind") == "a").select(
        "url", "sent_id",
        F.col("link_norm").alias("subj_norm"),
        F.col("coarse").alias("subj_coarse"),
        F.col("fine").alias("subj_fine"),
        "pred", "obj_norm", "obj_coarse", "obj_fine", "conf",
        *(["lang"] if with_lang else []))

