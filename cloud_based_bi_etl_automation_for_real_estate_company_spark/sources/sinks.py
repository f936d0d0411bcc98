"""Batch sinks & bulk loads (S6/S10/S11).

- S10: the reference bulk-loads a one-time CRM support-DB export into
  `action_history` via the psql CLI (reference README.md:146–147) —
  here a schema-declared CSV/Parquet load into the silver zone.
- S11: Power BI Import-mode refresh 8×/day (reference README.md:511–513)
  becomes gold-table materialization: recompute → overwrite parquet →
  re-register views. Readers see pruned columnar gold instead of an
  in-memory VertiPaq copy.
- S6: the SQLite `INSERT OR REPLACE` sink (Lead_Ingestion_CRM_SQLite.py:
  141–148) — for JDBC parity a thin `df.write.jdbc` wrapper; the
  idiomatic path is upsert_merge + parquet (operators.snapshot).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def bulk_load_csv(
    spark: SparkSession, path: str, schema: StructType, header: bool = True
) -> DataFrame:
    """S10 — schema-declared CSV bulk load (no inference pass: one scan,
    malformed rows NULL out per-column under the permissive parser)."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def materialize_gold(
    df: DataFrame,
    path: str,
    view_name: str | None = None,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """S11 — gold refresh: publish ``df`` in place as the whole table
    and re-register its view. Every caller passes the full table, so
    the overwrite is whole-table (static) whatever the session's
    partition-overwrite mode: a partition absent from ``df`` — an
    account whose leads were all deleted — is removed, not kept
    stale. Returns the published table read back from ``path``.

    The refresh is not read-isolated: the old table is deleted before
    the write job runs (and that job includes computing ``df``), so a
    concurrent reader sees a missing or partial table for the whole
    job, and a failed refresh leaves the table missing. Tables that
    need old-or-new reads publish through
    ``operators.generations.publish_generation`` instead."""
    spark = df.sparkSession
    writer = df.write.mode("overwrite").option("partitionOverwriteMode", "static")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    out = spark.read.parquet(path)
    if view_name:
        out.createOrReplaceTempView(view_name)
    return out


def compact(
    spark: SparkSession, in_path: str, out_path: str, target_files: int
) -> DataFrame:
    """Small-files compaction — the operational counterpart of a
    micro-batch sink: thousands of per-batch files kill scan planning
    and NameNode/listing at scale. Rewrites the dataset into
    ``target_files`` outputs via coalesce (no shuffle: partitions are
    merged, not redistributed). Writes to a NEW directory; callers swap
    directories atomically (rename) so concurrent readers never see a
    half-compacted table."""
    df = spark.read.parquet(in_path)
    df.coalesce(target_files).write.mode("overwrite").parquet(out_path)
    return spark.read.parquet(out_path)


def write_jdbc(
    df: DataFrame, url: str, table: str, mode: str = "append", **options: str
) -> None:
    """S6 — JDBC table sink for parity with the reference's SQL sinks.
    (Untestable in this container — no database — but the call shape is
    the whole surface.)"""
    df.write.mode(mode).options(**options).jdbc(url, table)
