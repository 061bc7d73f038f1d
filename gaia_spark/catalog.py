"""Checkpoint catalog: replace-by-run_id tables, per-partition lineage,
stage-hash resume (north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

The reference's resume model is "success = output file exists"
(/root/reference/README.md:114) with full re-runs otherwise; ours
(SURVEY.md §2.5) replaces that with content-addressed stages:

- every stage write lands in ``<root>/<table>/data_<run_id>/`` and a
  ``_CURRENT`` pointer is swapped atomically (os.replace) — a killed
  run never corrupts the readable table, re-running never
  double-appends (idempotent replace-by-run_id).
- a manifest records the stage_hash = sha1(stage name, input hashes,
  config, code version); ``has()`` lets the pipeline SKIP stages whose
  inputs didn't change (kill → re-run resumes after the last completed
  stage).
- lineage rows are per OUTPUT partition: (stage, run_id, part_id,
  url_min, url_max, out_rows, ts) — the url range + counts demanded by
  the north_star, computed with one groupBy(spark_partition_id()).

On a real cluster this module is the seam where Iceberg slots in, and
the seam is now LIVE code, not a comment: when an iceberg-spark-runtime
jar is supplied (SPARK_GRAFT_ICEBERG_JAR — session.get_spark configures
the ``gaia_ice`` hadoop catalog automatically), ``Catalog.write``
switches to native ``df.writeTo(tbl).createOrReplace()`` with spec
``(*partition_by, bucket(16, url))`` and ``read`` serves
``spark.table(...)``, while manifest/pointer/stage-hash resume stay
identical (tests/test_iceberg.py).  This sandbox is offline with no
jar, so the parquet-directory emulation below is what actually runs
here.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Bump whenever any stage's OUTPUT SCHEMA or semantics change: the
# stage hash is (stage, CODE_VERSION, config, input hashes), so without
# a bump a resume after upgrading would silently accept checkpoints
# written in the old format.  "2": tagged stage moved from nested-array
# TAGGED_SCHEMA to flat TAG_FLAT_SCHEMA; linked stage moved to distinct
# surfaces.  "3": TAG_FLAT_SCHEMA gained `lang` and triples switched to
# lang-carried-through-tagger semantics (min over producing copies) —
# resuming over a v2 output dir must rebuild `tagged`, not crash on the
# missing column or serve old-semantics triples.  "4": TAG_FLAT_SCHEMA
# (the `tagged` table) lost the five trigger/gap-only columns
# fine_event, left_types, right_types, phrase, begins_with_comma.
CODE_VERSION = "4"


#: Spark catalog name configured by session.get_spark when an Iceberg
#: runtime jar is supplied via SPARK_GRAFT_ICEBERG_JAR.
ICEBERG_CATALOG = "gaia_ice"


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg SparkCatalog is loadable on the session's
    JVM classpath AND the gaia_ice catalog is configured (both happen
    automatically in session.get_spark when the runtime jar env var is
    set).  Callers fall back to the parquet emulation otherwise, so
    dropping a jar into the environment upgrades every Catalog.write
    with no code change."""
    try:
        spark.conf.get(f"spark.sql.catalog.{ICEBERG_CATALOG}")
    except Exception:
        return False
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def stage_hash(stage: str, *inputs: str, config: str = "") -> str:
    h = hashlib.sha1()
    for part in (stage, CODE_VERSION, config, *inputs):
        h.update(part.encode("utf-8"))
        h.update(b"\x00")
    return h.hexdigest()


def input_fingerprint(path: str) -> str:
    """Cheap content fingerprint of an external input file/dir."""
    h = hashlib.sha1()
    if os.path.isdir(path):
        names = sorted(
            os.path.join(r, f)
            for r, _d, fs in os.walk(path) for f in fs
        )
    else:
        names = [path]
    for n in names:
        st = os.stat(n)
        h.update(f"{n}|{st.st_size}|{int(st.st_mtime)}".encode())
    return h.hexdigest()


class Catalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _pointer(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_CURRENT")

    def current_manifest(self, name: str) -> dict | None:
        ptr = self._pointer(name)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            run_id = f.read().strip()
        mpath = os.path.join(self._tdir(name), f"data_{run_id}",
                             "_MANIFEST.json")
        if not os.path.exists(mpath):
            return None
        with open(mpath) as f:
            return json.load(f)

    def has(self, name: str, shash: str) -> bool:
        m = self.current_manifest(name)
        return bool(m and m.get("stage_hash") == shash)

    def data_path(self, name: str) -> str:
        m = self.current_manifest(name)
        if m is None:
            raise FileNotFoundError(f"no current data for table {name}")
        return os.path.join(self._tdir(name), f"data_{m['run_id']}")

    # -- IO ---------------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        name: str,
        shash: str,
        run_id: str,
        partition_by: list[str] | None = None,
        lineage_key: str = "url",
        metrics: dict | None = None,
    ) -> dict:
        """Atomic replace-by-run_id write + per-partition lineage rows.

        The manifest's ``metrics`` block records the stage's wall time
        (write + lineage aggregation, measured here — the action runs
        inside this call) merged with any caller-provided counters:
        the north_rule's per-stage metrics record.
        """
        import time
        t0 = time.perf_counter()
        tdir = self._tdir(name)
        os.makedirs(tdir, exist_ok=True)
        final = os.path.join(tdir, f"data_{run_id}")
        tmp = os.path.join(tdir, f"_tmp_{run_id}")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)

        spark = df.sparkSession
        if iceberg_available(spark):
            return self._write_iceberg(
                df, name, shash, run_id, partition_by, lineage_key,
                metrics, t0)

        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)

        out = spark.read.parquet(tmp)
        key = lineage_key if lineage_key in out.columns else None
        agg = [F.count(F.lit(1)).alias("out_rows")]
        if key:
            agg += [F.min(key).alias("key_min"), F.max(key).alias("key_max")]
        else:
            agg += [F.lit(None).cast("string").alias("key_min"),
                    F.lit(None).cast("string").alias("key_max")]
        lineage_rows = [
            {"stage": name, "run_id": run_id, "part_id": r["part_id"],
             "key_min": r["key_min"], "key_max": r["key_max"],
             "out_rows": r["out_rows"]}
            for r in out.groupBy(
                F.spark_partition_id().alias("part_id")).agg(*agg).collect()
        ]
        total = sum(r["out_rows"] for r in lineage_rows)
        manifest = {
            "table": name, "run_id": run_id, "stage_hash": shash,
            "rows": total, "n_partitions": len(lineage_rows),
            "created": dt.datetime.now(dt.timezone.utc).isoformat(),
            "metrics": {
                "elapsed_sec": round(time.perf_counter() - t0, 3),
                **(metrics or {}),
            },
            "lineage": lineage_rows,
        }
        with open(os.path.join(tmp, "_MANIFEST.json"), "w") as f:
            json.dump(manifest, f)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.replace(tmp, final)
        ptr_tmp = self._pointer(name) + f".{run_id}"
        with open(ptr_tmp, "w") as f:
            f.write(run_id)
        os.replace(ptr_tmp, self._pointer(name))
        # drop superseded data dirs (keep current only)
        for d in os.listdir(tdir):
            if d.startswith("data_") and d != f"data_{run_id}":
                shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
        return manifest

    def _ice_table(self, name: str) -> str:
        ns = "g_" + hashlib.sha1(
            os.path.abspath(self.root).encode()).hexdigest()[:10]
        return f"{ICEBERG_CATALOG}.{ns}.{name}"

    def _write_iceberg(self, df, name, shash, run_id, partition_by,
                       lineage_key, metrics, t0):
        """Native Iceberg write: atomic replace + snapshots come from
        the table format itself (`writeTo(...).createOrReplace()`),
        spec = (*partition_by, bucket(16, lineage_key)) — the
        (lang, bucket(url)) layout the north_rule's input hint implies.
        The file-based manifest/pointer still records stage_hash +
        per-partition lineage so `has()`/resume semantics are IDENTICAL
        across both storage backends."""
        import time
        tbl = self._ice_table(name)
        spark = df.sparkSession
        w = df.writeTo(tbl).using("iceberg")
        spec = [F.col(c) for c in (partition_by or [])]
        if lineage_key and lineage_key in df.columns:
            spec.append(F.bucket(16, lineage_key))
        if spec:
            w = w.partitionedBy(spec[0], *spec[1:])
        w.createOrReplace()

        out = spark.table(tbl)
        key = lineage_key if lineage_key in out.columns else None
        agg = [F.count(F.lit(1)).alias("out_rows")]
        if key:
            agg += [F.min(key).alias("key_min"), F.max(key).alias("key_max")]
        else:
            agg += [F.lit(None).cast("string").alias("key_min"),
                    F.lit(None).cast("string").alias("key_max")]
        lineage_rows = [
            {"stage": name, "run_id": run_id, "part_id": r["part_id"],
             "key_min": r["key_min"], "key_max": r["key_max"],
             "out_rows": r["out_rows"]}
            for r in out.groupBy(
                F.spark_partition_id().alias("part_id")).agg(*agg).collect()
        ]
        manifest = {
            "table": name, "run_id": run_id, "stage_hash": shash,
            "storage": "iceberg", "iceberg_table": tbl,
            "rows": sum(r["out_rows"] for r in lineage_rows),
            "n_partitions": len(lineage_rows),
            "created": dt.datetime.now(dt.timezone.utc).isoformat(),
            "metrics": {
                "elapsed_sec": round(time.perf_counter() - t0, 3),
                **(metrics or {}),
            },
            "lineage": lineage_rows,
        }
        final = os.path.join(self._tdir(name), f"data_{run_id}")
        os.makedirs(final, exist_ok=True)
        with open(os.path.join(final, "_MANIFEST.json"), "w") as f:
            json.dump(manifest, f)
        ptr_tmp = self._pointer(name) + f".{run_id}"
        with open(ptr_tmp, "w") as f:
            f.write(run_id)
        os.replace(ptr_tmp, self._pointer(name))
        return manifest

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        m = self.current_manifest(name)
        if m and m.get("storage") == "iceberg":
            return spark.table(m["iceberg_table"])
        return spark.read.parquet(self.data_path(name))

    # -- bucketed tables ----------------------------------------------------

    def write_bucketed(self, df: DataFrame, name: str,
                       bucket_key: str, n_buckets: int = 16,
                       sort_by: str | None = None) -> str:
        """Bucketed managed table for CO-LOCATED joins.

        Two tables bucketed on the same key with the same bucket count
        join with ZERO exchanges: each task zips bucket i with bucket
        i.  This is the 100 TB answer to any join that repeats across
        runs (triples ⋈ node stats, edges ⋈ ranks per PageRank
        iteration, pair re-verification against postings): pay the
        shuffle ONCE at write time, never at read time.  Plain
        ``spark.read.parquet`` cannot express this — bucket metadata
        lives in the table catalog, hence ``saveAsTable``.  Returns the
        table identifier (``gaia_b_<name>``).

        Kept separate from the run_id checkpoint tables: bucketed
        tables are the long-lived, re-joined artifacts; checkpoints
        are per-run.
        """
        tbl = f"gaia_b_{name}"
        path = os.path.join(os.path.abspath(self.root),
                            f"bucketed_{name}")
        spark = df.sparkSession
        # external table rooted under THIS catalog (not the session
        # warehouse), so a stale location from a killed run can't
        # collide and rm -rf of the catalog root cleans everything
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        if os.path.exists(path):
            shutil.rmtree(path)
        w = (df.write.mode("overwrite").format("parquet")
             .option("path", path)
             .bucketBy(n_buckets, bucket_key)
             .sortBy(sort_by or bucket_key))
        w.saveAsTable(tbl)
        return tbl

    def lineage(self, spark: SparkSession) -> DataFrame:
        """All current tables' per-partition lineage as one DataFrame."""
        rows = []
        for name in sorted(os.listdir(self.root)):
            m = self.current_manifest(name)
            if m:
                for r in m["lineage"]:
                    rows.append((m["table"], m["run_id"], m["stage_hash"],
                                 r["part_id"], r["key_min"], r["key_max"],
                                 r["out_rows"], m["created"]))
        return spark.createDataFrame(
            rows,
            schema="stage string, run_id string, stage_hash string, "
                   "part_id int, key_min string, key_max string, "
                   "out_rows long, created string",
        )

    def vacuum(self, grace_seconds: float = 3600.0) -> dict[str, list[str]]:
        """Remove killed-run debris across all tables: ``_tmp_*``
        staging dirs and ``data_*`` generations not referenced by
        _CURRENT.

        ``write`` already drops superseded generations eagerly on its
        pointer swap — but only for the table IT writes.  A killed
        run leaves debris (a half-written ``_tmp_x``, or a completed
        ``data_x`` whose pointer swap never happened) on tables a
        RESUME then skips forever, so an explicit GC is the only
        thing that ever reclaims them.  Safe by the same atomicity
        argument as write's own cleanup: anything other than the
        _CURRENT generation is unreferenced.  Tables without a valid
        _CURRENT pointer are skipped entirely (never guess what a
        broken table should keep).

        An in-flight writer in ANOTHER process is indistinguishable
        from killed-run debris by name alone, so dirs modified within
        ``grace_seconds`` (default 1 h) are left untouched — a live
        ``_tmp_*`` stage is always younger than that, while genuinely
        orphaned debris ages past it.  ``grace_seconds=0`` restores
        the single-process everything-goes behavior for tests.

        → {table: [removed dir names]}, for the operator's log.
        """
        import shutil
        import time

        now = time.time()
        removed: dict[str, list[str]] = {}
        for name in sorted(os.listdir(self.root)):
            tdir = self._tdir(name)
            if not os.path.isdir(tdir):
                continue
            m = self.current_manifest(name)
            if m is None:
                continue
            cur = f"data_{m['run_id']}"
            for d in sorted(os.listdir(tdir)):
                if d == cur:
                    continue
                if d.startswith("_tmp_") or d.startswith("data_"):
                    path = os.path.join(tdir, d)
                    try:
                        age = now - os.path.getmtime(path)
                    except OSError:
                        continue  # racing removal — nothing to do
                    if age < grace_seconds:
                        continue
                    shutil.rmtree(path)
                    removed.setdefault(name, []).append(d)
        return removed
