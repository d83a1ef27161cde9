"""Staging-table IO — SURVEY.md §2.1 S7–S12 re-expressed on files.

The reference lands into SQL Server tables; this engine lands into
partitioned parquet (Delta-ready: the write modes map 1:1 onto Delta
operations when its jars are present — gated behind import-try since
the v1 image ships without them). JDBC remains available for real
SQL Server targets via ``write_jdbc``.

Scale notes: every writer takes ``partition_by`` — staging tables
should partition on ingest date (etl_date) so retention deletes and
incremental reads prune partitions instead of scanning 100 TB.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.incremental import retention_filter
from ..operators.merge import append_dedup, merge_upsert

try:  # Delta is optional — not in the v1 image.
    from delta.tables import DeltaTable  # type: ignore

    HAS_DELTA = True
except Exception:  # pragma: no cover
    DeltaTable = None
    HAS_DELTA = False


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S7 — inter-stage parquet scan (columnar, pushdown-capable)."""
    return spark.read.parquet(path)


def table_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence probe (works for local/HDFS/object stores) —
    avoids try/except-on-read, which logs a spurious ERROR stack."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def local_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """A one-partition frame of a few driver-side ``rows`` (tuples in
    ``schema`` field order), built through Arrow.

    ``createDataFrame(<list>)`` parallelizes pickled rows through a
    PythonRDD, so every action on it starts Python-worker tasks over
    ``defaultParallelism`` partitions (~0.5 s for a one-row append on
    local[4]; ~0.17 s this way). The Arrow table is shipped to the JVM
    directly, keeps ``schema`` (types and nullability) exactly, and the
    single partition writes one file per append. Naive datetimes are
    read as UTC, the engine's convention (session time zone UTC)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    names = schema.names
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema).coalesce(1)


def write_append(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """S8/S10 'append' — ``to_sql(if_exists='append')`` analogue."""
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_replace(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """S10 'replace' (drop+recreate) — full overwrite incl. schema."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_truncate_insert(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """S10 'truncate_insert' — TRUNCATE keeps the table definition and
    reloads (database.py:184-210). On files this is overwrite with the
    existing schema contract enforced by the caller's align step."""
    write_replace(df, path, partition_by)


def append_with_pk_rejection(
    spark: SparkSession, incoming: DataFrame, path: str, keys: list[str]
) -> int:
    """Incremental append, PK duplicates rejected (left-anti against the
    landed table) — tiktok_shop_staging_loader.py:144-149 semantics.
    Returns rows actually appended.

    The anti-joined plan is eagerly materialized ONCE via
    localCheckpoint before the count + write — previously count() and
    write() each executed the full extract→conform→anti-join plan, a
    2x cost per cycle at 100 TB."""
    existing = spark.read.parquet(path) if table_exists(spark, path) else None
    fresh = incoming if existing is None else append_dedup(existing, incoming, keys)
    fresh = fresh.localCheckpoint(eager=True)
    n = fresh.count()
    if n:
        fresh.write.mode("append").parquet(path)
    return n


def upsert_parquet(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    keys: list[str],
    order_col: str = "etl_updated_at",
    partition_by: list[str] | None = None,
    incoming_materialized: bool = False,
) -> None:
    """S11 MERGE upsert onto a parquet staging table.

    Uses Delta ``MERGE INTO`` when available (partition-pruned, the
    100 TB path). The parquet fallback has two modes:

    - ``partition_by`` given: PARTITION-SCOPED merge — read only the
      partitions the incoming batch touches (partition pruning on the
      scan), merge, and dynamic-partition-overwrite exactly those
      partitions. Untouched partitions' files are never read or
      rewritten, so the per-cycle cost is O(touched partitions), not
      O(table) — the 100x-safe parquet path. CONTRACT: partition
      columns must be stable per key (a key never moves partitions);
      a key that changed partition value would leave its old row
      behind. Staging tables partitioned on a key-derived date (e.g.
      order date, not etl_date) satisfy this.
    - no ``partition_by``: union + last-writer-wins over the whole
      table, eagerly materialized via localCheckpoint so overwriting
      the path we just read is safe. Acceptable for small staging
      tables only.
    """
    if HAS_DELTA and DeltaTable is not None and DeltaTable.isDeltaTable(spark, path):
        cond = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(incoming.alias("s"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return
    if not table_exists(spark, path):
        w = incoming.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        return
    existing = spark.read.parquet(path)
    if partition_by:
        import functools
        import operator

        # Touched-partition values: bounded by partitions-per-batch
        # (metadata-scale), not rows — safe to collect. The incoming
        # plan executes for the value collect AND inside the merge, so
        # it is materialized once here — unless the caller already did
        # (incoming_materialized, e.g. the cycle runner's checkpoint),
        # in which case a second copy would just double block storage.
        if not incoming_materialized:
            incoming = incoming.localCheckpoint(eager=True)
        touched = incoming.select(*partition_by).dropDuplicates().collect()
        if not touched:
            return
        pred = functools.reduce(
            operator.or_,
            [
                functools.reduce(
                    operator.and_,
                    [F.col(c).eqNullSafe(F.lit(row[c])) for c in partition_by],
                )
                for row in touched
            ],
        )
        scoped = existing.filter(pred)  # partition pruning: only touched files
        merged = merge_upsert(scoped, incoming, keys, order_col).localCheckpoint(
            eager=True
        )
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(path)
        )
        return
    merged = merge_upsert(existing, incoming, keys, order_col).localCheckpoint(eager=True)
    merged.write.mode("overwrite").parquet(path)


def apply_retention(
    spark: SparkSession,
    path: str,
    ts_col: str,
    retention_days: int,
    now: dt.datetime | None = None,
) -> int:
    """S12 retention delete; returns rows removed
    (misa_crm_loader.py:384-427). On a date-partitioned layout this
    becomes a partition drop — O(partitions), not O(rows)."""
    df = spark.read.parquet(path)
    total = df.count()
    kept = retention_filter(df, ts_col, retention_days, now).localCheckpoint(eager=True)
    n_kept = kept.count()
    kept.write.mode("overwrite").parquet(path)
    return total - n_kept


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed (and optionally sorted) managed-table write — the
    co-located-join layout: two tables bucketed on the same key with the
    same bucket count join WITHOUT a shuffle (both sides already hash-
    partitioned on disk), and sorted buckets skip the sort phase of
    sort-merge join. This is the Spark replacement for the reference's
    secondary indexes on join/filter keys (SURVEY §4: physical-index
    row) and the bucketing slot called out in SCALE.md for the
    lineitem ⋈ orders flagship at 100 TB.
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:  # external table (warehouse dir is a static conf)
        w = w.option("path", path)
    w.saveAsTable(table_name)


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    bits: int = 16,
    num_files: int = 32,
) -> None:
    """Z-order-clustered parquet write — multi-dimensional data
    skipping for plain parquet, the layout half of
    ``operators/skew.zorder_key``.

    Rows are range-partitioned AND sorted by the interleaved Morton
    key, so each output file covers a compact hyper-rectangle of the
    key space: a selective predicate on ANY z-ordered dimension then
    touches a small fraction of files/row-groups (parquet min/max
    stats + pushed filters skip the rest). This is what Delta/Iceberg
    ``OPTIMIZE ZORDER BY`` does, expressed with stock Spark writes —
    the right layout when queries filter on several independent
    columns and bucketing can only serve one join key. One range
    shuffle (sampled boundaries) per write; ``num_files`` sizes the
    output for the ~128 MB-file sweet spot at the target scale.
    ``zorder_cols`` must already be non-negative ints < 2^bits (bucket
    or bin them first — see zorder_key's contract).
    """
    from ..operators.skew import zorder_key

    key = zorder_key(zorder_cols, bits)
    (
        df.withColumn("_zkey", key)
        .repartitionByRange(num_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 1000,
    properties: dict[str, str] | None = None,
) -> None:
    """S8 JDBC sink — the reference's chunked ``to_sql``/pyodbc
    executemany with batch 1000 (misa_crm_loader.py:181-205,
    config/production.py:28) maps to the JDBC writer's batchsize."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .mode(mode)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def write_csv(df: DataFrame, path: str) -> None:
    """S14 — CSV export (utf-8 is Spark's default; the reference's
    utf-8-sig BOM was an Excel-compat detail)."""
    df.write.mode("overwrite").option("header", "true").csv(path)


def write_xlsx(df: DataFrame, path: str, sheet: str = "Sheet1",
               max_rows: int = 100_000) -> int:
    """S14 — single-sheet .xlsx export via stdlib zipfile (xlsx is a
    zip of XML parts; no Excel library needed). The reference exports
    flattened orders to xlsx for MANUAL inspection
    (docs/tiktok_shop_api_fixed.ipynb cell 25, RequestsAPI_MISA_CRM
    cell 18) — a driver-side, human-scale artifact by nature, so this
    deliberately collects (capped at ``max_rows``; exceeding the cap
    raises rather than silently truncating a hand-check file). All
    values land as inline strings (NULL → empty cell), which is what a
    hand-check needs; typed analytics exports stay parquet/CSV.
    Returns the number of data rows written."""
    import re
    import zipfile
    from xml.sax.saxutils import escape, quoteattr

    # XML 1.0 forbids most control characters even escaped; a scraped
    # text field containing \x03 would otherwise corrupt the sheet.
    _ctrl = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f]")

    def _xml_text(v) -> str:
        return escape(_ctrl.sub("", str(v)))

    head = df.limit(max_rows + 1).collect()
    if len(head) > max_rows:
        raise ValueError(
            f"write_xlsx: result exceeds max_rows={max_rows}; xlsx is for "
            "human-scale inspection — export parquet/CSV instead, or raise "
            "the cap explicitly"
        )
    cols = df.columns

    def row_xml(r: int, values: list) -> str:
        cells = []
        for v in values:
            if v is None:
                cells.append("<c t=\"inlineStr\"><is><t/></is></c>")
            else:
                cells.append(
                    f"<c t=\"inlineStr\"><is><t xml:space=\"preserve\">"
                    f"{_xml_text(v)}</t></is></c>"
                )
        return f"<row r=\"{r}\">" + "".join(cells) + "</row>"

    rows_xml = [row_xml(1, cols)] + [
        row_xml(i + 2, [row[c] for c in cols]) for i, row in enumerate(head)
    ]
    sheet_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/'
        'spreadsheetml/2006/main"><sheetData>'
        + "".join(rows_xml)
        + "</sheetData></worksheet>"
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-'
        'package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        "</Types>"
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/'
        'relationships"><Relationship Id="rId1" Type="http://schemas.'
        'openxmlformats.org/officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/'
        'main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/'
        f'relationships"><sheets><sheet name={quoteattr(_ctrl.sub("", sheet))} '
        'sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/'
        'relationships"><Relationship Id="rId1" Type="http://schemas.'
        'openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>'
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/worksheets/sheet1.xml", sheet_xml)
    return len(head)


def _parquet_files(path: str) -> list[str]:
    return [
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    ]


def _rewrite_in_place(
    path: str,
    who: str,
    target_file_mb: int,
    rewrite: Callable[[str, int, list[str]], dict[str, int]],
) -> dict[str, int]:
    """The one in-place rewrite of a local parquet table.
    ``rewrite(tmp, n_out, part_cols)`` writes the new table into
    ``<path>._compact_tmp`` and returns its stats: ``n_out`` files of
    ``target_file_mb`` fit the table's bytes, and ``part_cols`` are the
    ``k=v`` directory columns of its files, in layout order. Two renames
    then swap it in through ``<path>._compact_old``.

    A crash at any step leaves a state a plain rerun heals: on entry, a
    table found only in ``._compact_old`` is renamed back BEFORE the
    leftovers are removed. Single writer, no concurrent readers during
    the swap (the write_replace contract); local paths only — remote
    tables use their format's compaction (Delta OPTIMIZE)."""
    if "://" in path:
        raise ValueError(
            f"{who} handles local paths only, got {path!r}; use the table "
            "format's compaction (e.g. Delta OPTIMIZE) on remote filesystems"
        )
    path = path.rstrip("/")
    tmp, old = path + "._compact_tmp", path + "._compact_old"
    if not os.path.exists(path) and os.path.isdir(old):
        os.rename(old, path)
    for stale in (tmp, old):
        shutil.rmtree(stale, ignore_errors=True)
    files = _parquet_files(path)
    if not files:
        raise ValueError(f"{who}: no parquet files under {path!r}")
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))  # ceil
    part_cols = [
        d.split("=", 1)[0]
        for d in os.path.relpath(os.path.dirname(files[0]), path).split(os.sep)
        if "=" in d
    ]
    stats = rewrite(tmp, n_out, part_cols)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    after = _parquet_files(path)
    return {"files_before": len(files), "files_after": len(after), **stats}


def compact_parquet(
    spark: SparkSession, path: str, target_file_mb: int = 128
) -> dict[str, int]:
    """Compact a small-files parquet table in place: rewrite with file
    counts sized from the table's actual bytes (``target_file_mb`` per
    output file, the usual 128 MB HDFS/S3 sweet spot), keeping the
    table's partition layout — the partition columns are read from the
    ``k=v`` directories of its files, so later partitioned appends stay
    visible to Spark's partition discovery.

    Incremental micro-batch appends (the reference's 10-minute cycles)
    produce one-file-per-cycle tables whose scan cost at 100 TB is
    dominated by file-open overhead and tiny row groups; periodic
    compaction is the standard fix (cf. Delta OPTIMIZE). The rewrite
    stages through a temp directory and swaps it in with two renames;
    if a crash interrupts the swap, rerunning ``compact_parquet``
    restores the table and finishes the compaction. LOCAL filesystem
    paths only, single writer (see ``_rewrite_in_place``). Returns
    ``{"files_before": n, "files_after": m, "rows": r}``; the input is
    scanned exactly once (the row count is read from the compacted
    output's footers, not a pre-pass).
    """

    def rewrite(tmp: str, n_out: int, part_cols: list[str]) -> dict[str, int]:
        writer = spark.read.parquet(path).repartition(n_out).write.mode("overwrite")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(tmp)
        # count from the compacted output's metadata — a few large files,
        # no second scan of the fragmented input
        return {"rows": spark.read.parquet(tmp).count()}

    return _rewrite_in_place(path, "compact_parquet", target_file_mb, rewrite)
