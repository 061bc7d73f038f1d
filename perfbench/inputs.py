"""Seeded benchmark inputs and their oracle goldens, cached on disk.

Every input is a pure function of (seed, docs, sentence range): the
corpus comes from ``gaia_synth.corpus`` and the golden triples/texts from
``gaia_ref.oracle.run_oracle`` over the very parquet rows the program
reads.  Both are cached under ``perfbench/.cache`` so they are built
outside the timed region and outside ``setup_s``; goldens are built
lazily, only for the inputs a run actually processed.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq

from gaia_ref.oracle import run_oracle
from gaia_synth.corpus import write_corpus

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         ".cache")

#: the triple columns the oracle and the engine are compared on
TRIPLE_KEY = ("url", "sent_id", "subj", "pred", "obj",
              "subj_type", "obj_type", "conf")


class Corpus:
    """``n_parts`` disjoint slices of one seeded corpus, one parquet each.

    Part ``i`` holds pages ``[i*part_docs, (i+1)*part_docs)`` of
    ``write_corpus(docs=n_parts*part_docs, seed, sents)``; every part dir
    holds ``pages.parquet`` plus the (seed-independent) KB tables, so it
    is a complete ``run_pipeline`` corpus dir on its own.
    """

    def __init__(self, name: str, seed: int, part_docs: int, n_parts: int,
                 sents: tuple[int, int]):
        self.seed, self.part_docs, self.n_parts = seed, part_docs, n_parts
        self.sents = sents
        self.root = os.path.join(
            CACHE_DIR, f"{name}-s{seed}-d{part_docs}x{n_parts}"
                       f"-r{sents[0]}-{sents[1]}")

    def part_dir(self, i: int) -> str:
        return os.path.join(self.root, f"part_{i:03d}")

    def build(self) -> None:
        done = os.path.join(self.root, "_DONE")
        if os.path.exists(done):
            return
        shutil.rmtree(self.root, ignore_errors=True)
        full = os.path.join(self.root, "_full")
        write_corpus(full, self.part_docs * self.n_parts, self.seed,
                     self.sents)
        pages = pq.read_table(os.path.join(full, "pages.parquet"))
        for i in range(self.n_parts):
            d = self.part_dir(i)
            os.makedirs(d)
            pq.write_table(pages.slice(i * self.part_docs, self.part_docs),
                           os.path.join(d, "pages.parquet"),
                           row_group_size=2000)
            for kb in ("kb_entities.parquet", "kb_aliases.parquet"):
                shutil.copyfile(os.path.join(full, kb), os.path.join(d, kb))
        shutil.rmtree(full)
        open(done, "w").close()

    def golden(self, i: int) -> dict:
        """{"texts": {url: text}, "triples": set of TRIPLE_KEY tuples}."""
        path = os.path.join(self.part_dir(i), "golden.json")
        if not os.path.exists(path):
            pages = pq.read_table(
                os.path.join(self.part_dir(i), "pages.parquet"),
                columns=["url", "html", "lang"]).to_pylist()
            res = run_oracle(pages)
            blob = {"texts": res["texts"],
                    "triples": [[t[k] for k in TRIPLE_KEY]
                                for t in res["triples"]]}
            with open(path + ".tmp", "w") as f:
                json.dump(blob, f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            blob = json.load(f)
        return {"texts": blob["texts"],
                "triples": {tuple(t) for t in blob["triples"]}}

