"""Catalog-aware table IO: Iceberg ``writeTo`` when available, parquet
warehouse fallback.

North-rule parity: the reference deployment stores graph tables and
per-superstep checkpoints "in Iceberg". This environment ships no
Iceberg runtime jar (bare pyspark), so the layer activates the
DataFrameWriterV2 ``writeTo(catalog.namespace.table)`` path only when an
Iceberg catalog is configured on the session
(``spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog``);
otherwise an equivalent parquet warehouse (one directory per table +
atomic JSON meta markers) provides the same API. Enabling real Iceberg
is deploy-time configuration only —

    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<v> \
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.lake.type=hadoop \
      --conf spark.sql.catalog.lake.warehouse=<path> ...

— no engine code changes. All callers (GraphTables.write/read, the
``RoundStore`` round checkpoints) go through this layer.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def detect_iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of the first configured Iceberg catalog on the session, or
    None. Detection is conf-based (``spark.sql.catalog.<name>`` set to
    an Iceberg catalog class) so it is safe when no jars are present."""
    try:
        items = spark.sparkContext.getConf().getAll()
    except Exception:  # pragma: no cover - defensive
        return None
    for k, v in items:
        if (
            k.startswith("spark.sql.catalog.")
            and k.count(".") == 3
            and "iceberg" in str(v).lower()
        ):
            return k.rsplit(".", 1)[-1]
    return None


def _sanitize(part: str) -> str:
    return re.sub(r"[^A-Za-z0-9_]", "_", part)


@dataclass
class TableStore:
    """One logical warehouse: named tables + named JSON meta markers.

    - Iceberg mode (catalog detected): tables live at
      ``<catalog>.<namespace>.<sanitized name>`` via DataFrameWriterV2;
      meta markers are appended to a ``<namespace>._meta`` table keyed
      by name (the marker row IS the commit — Iceberg appends are
      atomic, mirroring the fallback's atomic rename).
    - Fallback mode: tables are parquet dirs under ``root``; meta
      markers are ``<root>/<name>/_META.json`` written via atomic
      os.replace.
    """

    spark: SparkSession
    root: str
    catalog: str | None = field(default="auto")

    def __post_init__(self) -> None:
        if self.catalog == "auto":
            self.catalog = detect_iceberg_catalog(self.spark)
        self.namespace = _sanitize(self.root.strip("/")) or "planar"

    # ------------------------------------------------------------- tables
    def _ident(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{_sanitize(name)}"

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _fallback_table(self, name: str) -> str:
        # session-catalog identifier for bucketed external tables
        return f"planar_{self.namespace}_{_sanitize(name)}"

    def write(
        self,
        df: DataFrame,
        name: str,
        mode: str = "overwrite",
        bucket_by: str | None = None,
        num_buckets: int = 32,
        sort_by: str | None = None,
    ) -> None:
        """``bucket_by`` hash-buckets the table on that column so later
        equi-joins/aggs on it are ZERO-EXCHANGE (Spark reads bucketing
        from table metadata; both sides of a bucketed self-join
        sort-merge with no shuffle — asserted in tests/test_storage.py).
        At 100 TB this is the difference between re-shuffling the edge
        table per query and shuffling it once at ingest."""
        if self.catalog:
            self.spark.sql(
                f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}"
            )
            writer = df.writeTo(self._ident(name))
            if bucket_by is not None and mode == "overwrite":
                from pyspark.sql import functions as F

                writer = writer.partitionedBy(
                    F.bucket(num_buckets, F.col(bucket_by))
                )
            if mode == "overwrite":
                writer.createOrReplace()
            else:
                writer.append()
        elif bucket_by is not None:
            # bucketing metadata lives in the session catalog, so the
            # fallback registers an EXTERNAL table at the store path
            (
                df.write.mode(mode)
                .option("path", self._path(name))
                .bucketBy(num_buckets, bucket_by)
                .sortBy(sort_by or bucket_by)
                .format("parquet")
                .saveAsTable(self._fallback_table(name))
            )
        else:
            # an earlier bucketed write of the SAME name registered a
            # session-catalog entry over this path; writing plain
            # parquet now would leave that entry — with now-wrong
            # bucketing metadata — shadowing the fresh layout in read()
            tbl = self._fallback_table(name)
            try:
                if self.spark.catalog.tableExists(tbl):
                    self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            except Exception:  # pragma: no cover - catalog probe only
                pass
            df.write.mode(mode).parquet(self._path(name))

    def read(self, name: str, schema: StructType | None = None) -> DataFrame:
        """Table ``name``. A parquet read infers the schema with one
        Spark job unless the caller passes the ``schema`` it wrote."""
        if self.catalog:
            return self.spark.read.table(self._ident(name))
        # prefer the catalog entry (carries bucketing metadata) when the
        # table was written bucketed; a persistent metastore keeps the
        # entry across sessions, the default in-memory catalog only for
        # this session (later sessions fall back to the plain parquet
        # read — correct, just without the no-shuffle join guarantee)
        tbl = self._fallback_table(name)
        try:
            if self.spark.catalog.tableExists(tbl):
                return self.spark.table(tbl)
        except Exception:  # pragma: no cover - catalog probe only
            pass
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self._path(name))

    def partition_lineage(self, name: str, max_files: int = 4096) -> dict:
        """Per-partition lineage of a written table: one record per data
        file (= one write partition) with its row count and byte size.

        North-rule parity: "checkpoints per-partition frontier state,
        lineage, and convergence metrics". The record is built WITHOUT a
        Spark job — fallback mode reads parquet footers driver-side
        (pyarrow), Iceberg mode queries the catalog's own ``.files``
        metadata table (a metadata-only scan of the current snapshot).
        Cost is O(#files) driver work, so the file list is capped at
        ``max_files`` entries (totals always cover every file).
        """
        files: list[dict] = []
        total_rows = 0
        total_bytes = 0
        n = 0
        if self.catalog:
            try:
                rows = (
                    self.spark.sql(
                        "SELECT file_path, record_count, file_size_in_bytes "
                        f"FROM {self._ident(name)}.files"
                    ).collect()
                )
            except Exception:
                return {"mode": "iceberg", "available": False}
            for r in rows:
                n += 1
                total_rows += int(r["record_count"])
                total_bytes += int(r["file_size_in_bytes"])
                if len(files) < max_files:
                    files.append(
                        {
                            "file": os.path.basename(r["file_path"]),
                            "rows": int(r["record_count"]),
                            "bytes": int(r["file_size_in_bytes"]),
                        }
                    )
            mode = "iceberg"
        else:
            import pyarrow.parquet as pq

            d = self._path(name)
            if not os.path.isdir(d):
                return {"mode": "parquet", "available": False}
            for entry in sorted(os.listdir(d)):
                if not entry.endswith(".parquet"):
                    continue
                fp = os.path.join(d, entry)
                rows_in_file = pq.ParquetFile(fp).metadata.num_rows
                n += 1
                total_rows += rows_in_file
                total_bytes += os.path.getsize(fp)
                if len(files) < max_files:
                    files.append(
                        {
                            "file": entry,
                            "rows": rows_in_file,
                            "bytes": os.path.getsize(fp),
                        }
                    )
            mode = "parquet"
        return {
            "mode": mode,
            "available": True,
            "num_files": n,
            "total_rows": total_rows,
            "total_bytes": total_bytes,
            "truncated": n > len(files),
            "files": files,
        }

    # --------------------------------------------------------------- meta
    def write_meta(self, name: str, meta: dict) -> None:
        """Atomically mark ``name`` complete with the given metadata."""
        if self.catalog:
            row = [(name, json.dumps(meta), float(time.time()))]
            df = self.spark.createDataFrame(
                row, schema="name string, meta_json string, wall_ts double"
            )
            ident = self._ident("_meta")
            # Create-if-missing, then ALWAYS append. Never fall back to
            # createOrReplace on a failed append: a transient append
            # failure (concurrent-commit conflict, IO blip) must surface
            # — replacing the shared _meta table with a single row would
            # destroy every run's completion markers and break resume.
            # CREATE TABLE IF NOT EXISTS is also safe under concurrent
            # writers, unlike probing with a blanket try/except.
            self.spark.sql(
                f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}"
            )
            self.spark.sql(
                f"CREATE TABLE IF NOT EXISTS {ident} "
                "(name STRING, meta_json STRING, wall_ts DOUBLE)"
            )
            df.writeTo(ident).append()
            return
        d = self._path(name)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, "_META.json.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(d, "_META.json"))

    def read_meta(self, name: str) -> dict | None:
        if self.catalog:
            from pyspark.sql import functions as F

            try:
                rows = (
                    self.read("_meta")
                    .where(F.col("name") == name)
                    .orderBy(F.col("wall_ts").desc())
                    .limit(1)
                    .collect()
                )
            except Exception:
                return None
            return json.loads(rows[0]["meta_json"]) if rows else None
        p = os.path.join(self._path(name), "_META.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def drop(self, name: str) -> None:
        """Delete a table (and its catalog entry, if any). Safe to call
        on a name that was never written — used by round retention."""
        if self.catalog:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._ident(name)}")
            return
        tbl = self._fallback_table(name)
        try:
            if self.spark.catalog.tableExists(tbl):
                self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        except Exception:  # pragma: no cover - catalog probe only
            pass
        p = self._path(name)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)

    def retract_meta(self, name: str) -> None:
        """Withdraw ``name``'s completion marker — the inverse of
        write_meta, called BEFORE its tables are deleted so a crash
        mid-retention can never leave a completed marker pointing at
        half-deleted tables. Fallback: remove ``_META.json``; Iceberg:
        DELETE the name's rows (an atomic Iceberg commit). Physical
        deletion — not a tombstone append — keeps the _meta table and
        every list_meta_names scan bounded by the LIVE rounds instead
        of growing with every round ever written (r7 ADVICE medium:
        per-batch streaming-WCC maintenance cost must not scale with
        run age)."""
        if self.catalog:
            ident = self._ident("_meta")
            safe = name.replace("'", "''")
            self.spark.sql(
                f"DELETE FROM {ident} WHERE name = '{safe}'"
            )
            return
        p = os.path.join(self._path(name), "_META.json")
        if os.path.exists(p):
            os.remove(p)

    def list_meta_names(self, prefix: str) -> list[str]:
        """Names of all completed markers under ``prefix``.

        Catalog mode resolves the newest row per name and its completed
        flag in ONE Spark job (max_by over wall_ts); a retracted or
        incomplete name is never listed, matching the filesystem
        fallback's semantics. ``RoundStore`` (graph/superstep.py) relies
        on this: one listing of its ``<kernel>/<run_id>/round=NNNNN``
        markers is its whole resume scan (no per-round ``read_meta``),
        and the newest round's meta is the only one it reads.
        Checkpoints in the older ``step=NNNNN`` layout are not read."""
        if self.catalog:
            from pyspark.sql import functions as F

            try:
                rows = (
                    self.read("_meta")
                    .where(F.col("name").startswith(prefix))
                    .groupBy("name")
                    .agg(F.max_by("meta_json", "wall_ts").alias("mj"))
                    .collect()
                )
            except Exception:
                return []
            return [
                r["name"]
                for r in rows
                if json.loads(r["mj"]).get("completed", False)
            ]
        base = self._path(prefix)
        if not os.path.isdir(base):
            return []
        out = []
        for entry in os.listdir(base):
            if os.path.exists(os.path.join(base, entry, "_META.json")):
                out.append(f"{prefix}/{entry}")
        return out
