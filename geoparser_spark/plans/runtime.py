"""Partitioning, skew handling, lineage manifests, checkpoint-resume.

Replaces the reference's hand-rolled batch-state machinery:
  * resume  — ``rows_processed = GetIndexSize(core)`` offset counter
              (reference: geoparser_app/views.py:322-339) becomes a
              per-partition manifest table; the done set is collected
              to the driver and the rest selected by a part_id filter.
  * skew    — the reference has none (a mega-document stalls its
              sequential loop, views.py:357); here mega-docs are split
              into chunk rows, processed, and reassembled in order.
  * metrics — per-partition lineage rows (rows_in/out, checksum,
              wall_ms) instead of a polled progress fraction
              (views.py:229-245).

Design notes for the 10^12-doc scale point:
  * ``part_id`` is a LOGICAL partition: pmod(xxhash64(doc_id), n).
    It is a pure function of the data, so resume is well-defined across
    cluster sizes, Spark versions and physical partitionings.
  * Output is written ``partitionBy(part_id)`` with dynamic partition
    overwrite: re-processing a partition atomically replaces its files,
    so a crash between data-write and manifest-write is idempotent.
    (On Iceberg this maps to snapshot-isolated REPLACE of the same
    partition; the parquet fallback keeps tests hermetic.)
  * checksum is order-insensitive (sum of per-doc hashes) so it is
    stable under any task scheduling.
"""

from __future__ import annotations

import logging
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_LOGICAL_PARTS = 256

_log = logging.getLogger(__name__)


# --------------------------------------------------------------- skew

def salted_repartition(df: DataFrame, num_partitions: int,
                       key: str | tuple[str, ...] = "doc_id",
                       seed: int = 42) -> DataFrame:
    """Deterministic uniform spread of rows across partitions keyed by
    a hash of (key..., seed) — not round-robin (which depends on input
    order) and not plain key-hash ranges (which can collide hot).
    Used before the extract stage (SURVEY.md §4.2).

    The exchange buckets on the 64-bit hash itself: pre-reducing it to
    ``pmod(hash, n)`` would leave n distinct values for Spark to hash
    into n buckets again, and their collisions empty about a third of
    the partitions."""
    keys = (key,) if isinstance(key, str) else key
    salt = F.xxhash64(*(F.col(k) for k in keys), F.lit(seed))
    return df.repartition(num_partitions, salt)


def split_mega_docs(docs: DataFrame, max_spans: int = 64) -> DataFrame:
    """Explode mega-documents (the 0.1%-of-docs / 100-1000x-median skew
    fixture) into chunk rows of <= max_spans spans each, so no single
    task inherits an entire mega-doc.  Pure SQL: sequence + slice.

    Spans are sorted by ``offset`` BEFORE chunking: the extract kernel
    sorts only within its chunk, so chunk concatenation equals the
    global offset order only if the split respected it — array order is
    untrusted data (SURVEY.md §4.2), and a doc whose spans arrive
    offset-shuffled would otherwise reassemble wrong.  (For spans with
    EQUAL offsets the relative order is unspecified, matching the
    stable-sort caveat documented on extract_doc_spans_cols.)

    Output: (doc_id, chunk_id, n_chunks, spans).  Reassemble with
    :func:`reassemble_chunks` after a per-chunk stage."""
    # the offset-sorted array is bound as lambda variable `sp` so the
    # sort runs once per doc, not once per chunk slice (Catalyst
    # projection collapse would inline a derived column into every leg)
    chunks_expr = F.expr(
        f"""transform(array(
              array_sort(spans, (l, r) ->
                CASE WHEN coalesce(l.offset, 0) < coalesce(r.offset, 0) THEN -1
                     WHEN coalesce(l.offset, 0) > coalesce(r.offset, 0) THEN 1
                     ELSE 0 END)), sp ->
              transform(
                sequence(0, CAST(greatest(ceil(size(sp) / {max_spans}), 1) AS INT) - 1),
                c -> slice(sp, c * {max_spans} + 1, {max_spans})))[0]"""
    )
    return docs.select("doc_id", chunks_expr.alias("_chunks")).select(
        "doc_id",
        F.posexplode("_chunks").alias("chunk_id", "spans"),
        F.size("_chunks").alias("n_chunks"),
    )


def reassemble_chunks(extracted_chunks: DataFrame) -> DataFrame:
    """(doc_id, chunk_id, spans) → (doc_id, spans) with chunk arrays
    concatenated in chunk order and ``order`` re-densified 0..n-1.
    collect_list order is shuffle-nondeterministic, so chunk_id rides
    inside the collected struct and we array_sort on it — never rely on
    implicit row order (SURVEY.md §4.2)."""
    flat = (
        extracted_chunks.groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("chunk_id"), F.col("spans")))
                    ),
                    lambda s: s["spans"],
                )
            ).alias("spans_raw")
        )
    )
    return flat.select(
        "doc_id",
        F.transform(
            "spans_raw",
            lambda s, i: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                i.alias("order"),
            ),
        ).alias("spans"),
    )


# ------------------------------------------------------ lineage/resume

def with_part_id(df: DataFrame, key: str = "doc_id",
                 n_parts: int = DEFAULT_LOGICAL_PARTS) -> DataFrame:
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64(F.col(key)), F.lit(n_parts)).cast("int")
    )


def _spans_checksum_col() -> F.Column:
    # order-insensitive per-partition checksum over (doc_id, span hash)
    return F.sum(
        F.xxhash64(F.col("doc_id"), F.to_json(F.struct("spans"))).cast("decimal(38,0)")
    ).cast("string")


def _read_ref(spark: SparkSession, ref: str) -> DataFrame:
    from geoparser_spark.sources.catalog import is_catalog_ref, strip_catalog_prefix

    if is_catalog_ref(ref):
        return spark.table(strip_catalog_prefix(ref))
    return spark.read.parquet(ref)


def _write_partitioned(df: DataFrame, ref: str) -> None:
    """Write partitioned-by-part_id output to a parquet path (classic
    writer, dynamic partition overwrite) or a catalog table (v2 writer:
    overwritePartitions — on Iceberg this is a snapshot-isolated
    REPLACE of just the touched partitions; the session catalog's
    parquet tables give the same dynamic-overwrite semantics)."""
    from geoparser_spark.sources.catalog import is_catalog_ref, strip_catalog_prefix

    if is_catalog_ref(ref):
        tbl = strip_catalog_prefix(ref)
        if df.sparkSession.catalog.tableExists(tbl):
            try:
                # true v2 catalogs (Iceberg): snapshot-isolated dynamic
                # partition replace
                df.writeTo(tbl).overwritePartitions()
            except Exception:
                # session-catalog parquet tables are v1: same dynamic
                # semantics via insertInto under partitionOverwriteMode
                # = dynamic (set by resumable_stage)
                df.write.mode("overwrite").insertInto(tbl)
        else:
            df.writeTo(tbl).using("parquet").partitionedBy(F.col("part_id")).create()
        return
    df.write.mode("overwrite").partitionBy("part_id").parquet(ref)


def _append_ref(df: DataFrame, ref: str) -> None:
    from geoparser_spark.sources.catalog import is_catalog_ref, strip_catalog_prefix

    if is_catalog_ref(ref):
        tbl = strip_catalog_prefix(ref)
        if df.sparkSession.catalog.tableExists(tbl):
            try:
                df.writeTo(tbl).append()
            except Exception:  # v1 session-catalog table
                df.write.insertInto(tbl)
        else:
            df.writeTo(tbl).using("parquet").create()
        return
    df.write.mode("append").parquet(ref)


#: what Spark raises for a manifest that holds no committed rows yet: a
#: missing path or table, or a directory with no data files (a crash
#: during the first manifest append leaves only ``_temporary/``)
_MISSING_REF_CONDITIONS = (
    "PATH_NOT_FOUND", "TABLE_OR_VIEW_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def read_done_parts(spark: SparkSession, manifest_dir: str) -> DataFrame:
    """Manifest partitions already completed (any run_id — restartable
    across job submissions, like the reference's resume offset but
    partition-grained).

    Only a manifest that holds no committed rows yet — a missing path
    or catalog table, or a directory without data files — reads as
    "nothing done".  Any other failure (an unreadable or corrupt
    manifest) raises: treating it as empty would rerun every partition
    and append a second 'done' row for each.

    "Nothing done" is an empty ``spark.range``: a JVM-only plan, so a
    first run's done-set read starts no Python worker (an empty
    ``spark.createDataFrame`` is a Python-backed scan)."""
    from pyspark.errors import AnalysisException

    try:
        m = _read_ref(spark, manifest_dir)
    except AnalysisException as e:
        if e.getCondition() not in _MISSING_REF_CONDITIONS:
            raise
        return spark.range(0).select(F.col("id").cast("int").alias("part_id"))
    return (
        m.where(F.col("status") == "done")
        .select(F.col("partition_id").alias("part_id"))
        .distinct()
    )


def _parts_filter(done: list[int], todo: list[int]) -> F.Column | None:
    """``part_id`` predicate selecting the todo partitions, written with
    whichever of the two lists is shorter; None when nothing is done."""
    if not done:
        return None
    if len(done) < len(todo):
        return ~F.col("part_id").isin(done)
    return F.col("part_id").isin(todo)


def resumable_stage(
    spark: SparkSession,
    docs: DataFrame,
    stage: Callable[[DataFrame], DataFrame],
    output_dir: str,
    manifest_dir: str | None = None,
    run_id: str = "run-0",
    n_parts: int = DEFAULT_LOGICAL_PARTS,
    key: str = "doc_id",
) -> DataFrame:
    """Run ``stage`` over only the not-yet-done logical partitions of
    ``docs``; write results partitioned by part_id; append 'done'
    manifest rows with lineage metrics.  Returns the full output
    DataFrame (all completed partitions).

    The done set (at most ``n_parts`` ints) is collected to the driver
    once.  When every partition is done the written output is returned
    as is: no source scan, no stage, no write, no manifest rows.
    Otherwise the todo rows are a plain ``part_id`` filter, so building
    the stage's plan executes nothing.

    Crash-safety: data is written with dynamic partition overwrite
    BEFORE its manifest rows are appended.  A crash in between leaves
    orphan data that the next run simply overwrites — at-least-once
    per partition, exactly-once in the output."""
    manifest_dir = manifest_dir or os.path.join(output_dir + "_manifest")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    done_set = {r.part_id for r in read_done_parts(spark, manifest_dir).collect()}
    done_parts = [p for p in range(n_parts) if p in done_set]
    todo_parts = [p for p in range(n_parts) if p not in done_set]
    _log.info(
        "resumable_stage %s: %d of %d logical partitions done, %d to do%s",
        output_dir, len(done_parts), n_parts, len(todo_parts),
        "" if todo_parts else " (short-circuit: nothing to run)")
    if not todo_parts:
        return _read_ref(spark, output_dir).drop("part_id")
    pending = _parts_filter(done_parts, todo_parts)

    todo = with_part_id(docs, key, n_parts)
    if pending is not None:
        todo = todo.where(pending)

    rows_in = todo.groupBy("part_id").agg(F.count("*").alias("rows_in"))
    t0 = time.monotonic()
    out = with_part_id(stage(todo.drop("part_id")), key, n_parts)
    _write_partitioned(out, output_dir)
    wall_ms = int((time.monotonic() - t0) * 1000)

    # the part_id predicate prunes the output's partition directories;
    # the inner join keeps only partitions this run's input holds
    written = _read_ref(spark, output_dir)
    if pending is not None:
        written = written.where(pending)
    manifest = (
        written.groupBy("part_id")
        .agg(
            F.count("*").alias("rows_out"),
            _spans_checksum_col().alias("checksum"),
        )
        .join(rows_in, "part_id")
        .select(
            F.lit(run_id).alias("run_id"),
            "part_id",
            F.lit("done").alias("status"),
            "rows_in",
            "rows_out",
            "checksum",
            F.lit(wall_ms).alias("wall_ms"),
        )
        .withColumnRenamed("part_id", "partition_id")
    )
    _append_ref(manifest, manifest_dir)
    return _read_ref(spark, output_dir).drop("part_id")
