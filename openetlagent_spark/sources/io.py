"""Sources and sinks.

Reference scan: CSV only, with per-column dtype overrides from the
declared schema (app/main.py:361-394; non-CSV raises NotImplementedError
at 369-370).  This engine extends the scan to csv/json/parquet — lazy
``spark.read`` with the declared StructType so Catalyst gets pushdown
and pruning against the source.

Reference sinks (app/main.py:432-480): schema-ordered column projection
(443-455; missing declared columns skipped with a warning), then
csv/parquet writers, and a JSON sink with a specific shape — a single
array of row objects, dates serialized ``%Y-%m-%d`` (464-470).  The JSON
sink here reproduces that shape when ``json_array=True`` (single file,
driver-composed — only sensible for small outputs) and otherwise writes
standard Spark JSON-lines, the scalable form.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import Column, DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import FileDefinition
from ..types import schema_to_struct

logger = logging.getLogger(__name__)


def visible_files(spark: SparkSession, path: str):
    """``(fs, statuses)`` of the data files Spark's file readers would
    scan under ``path`` (a file, a flat directory or a glob), in the order
    CSV header inference reads them: largest first, as
    ``FileSourceScanExec`` packs splits.  Names in a directory starting
    ``_`` or ``.`` (``_SUCCESS``, ``.crc`` files) are skipped, as Spark's
    file index does.  ``None`` when the path does not exist, names a
    hidden file itself or holds a subdirectory (partition discovery): the
    caller leaves those to Spark."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    matched = fs.globStatus(hpath)
    if not matched:
        return None
    files = []
    for st in matched:
        if st.getPath().getName()[:1] in ("_", "."):
            return None
        for s in fs.listStatus(st.getPath()) if st.isDirectory() else [st]:
            if s.getPath().getName()[:1] in ("_", "."):
                continue
            if s.isDirectory():
                return None
            files.append(s)
    files.sort(key=lambda s: s.getPath().toString())
    files.sort(key=lambda s: -s.getLen())
    return fs, files


def _first_nonempty_line(spark: SparkSession, fs, status) -> str | None:
    """First line of one file that is not empty after SQL ``trim`` (which
    strips spaces only), the filter Spark's header inference applies;
    read through Hadoop, so compressed files decode with its codecs."""
    jvm = spark._jvm
    hpath = status.getPath()
    codec = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(
        spark._jsc.hadoopConfiguration()).getCodec(hpath)
    stream = fs.open(hpath)
    try:
        if codec is not None:
            stream = codec.createInputStream(stream)
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, jvm.java.nio.charset.StandardCharsets.UTF_8))
        while True:
            line = reader.readLine()
            if line is None or line.strip(" "):
                return line
    finally:
        stream.close()


def _parse_csv_header(spark: SparkSession, line: str) -> list[str]:
    """Column names from a header line, exactly as Spark's CSV header
    inference makes them: its univocity parser under the default CSV
    options, then ``CSVUtils.makeSafeHeader`` (an empty name becomes
    ``_c<i>``; a duplicate, case-insensitive unless
    ``spark.sql.caseSensitive``, becomes ``<name><i>``).  Both run in the
    driver JVM."""
    jvm = spark._jvm
    csv_pkg = jvm.org.apache.spark.sql.execution.datasources.csv
    opts_map = jvm.java.util.HashMap()
    opts_map.put("header", "true")
    opts = jvm.org.apache.spark.sql.catalyst.csv.CSVOptions(
        jvm.org.apache.spark.api.python.PythonUtils.toScalaMap(opts_map),
        True, spark.conf.get("spark.sql.session.timeZone"))
    row = jvm.com.univocity.parsers.csv.CsvParser(opts.asParserSettings()).parseLine(line)
    case_sensitive = spark.conf.get("spark.sql.caseSensitive", "false") == "true"
    return list(csv_pkg.CSVUtils.makeSafeHeader(row, case_sensitive, opts))


def read_csv_header(spark: SparkSession, path: str) -> list[str] | None:
    """The column names ``spark.read.option("header", True).csv(path)``
    infers, read on the driver without a Spark job.  ``None`` when the
    path is missing or partitioned, so the caller defers to Spark (which
    names the missing path in its error)."""
    found = visible_files(spark, path)
    if found is None:
        return None
    fs, files = found
    for status in files:
        line = _first_nonempty_line(spark, fs, status)
        if line is not None:
            return _parse_csv_header(spark, line)
    return []


def read_parquet_on_driver(spark: SparkSession, path: str):
    """Every row of a SMALL parquet table (a store's meta, centroid or
    codebook layer) as one ``pyarrow.Table``, read on the driver: the
    visible files' bytes come through the session's Hadoop
    ``FileSystem`` and ``pyarrow.parquet`` decodes them, so the read
    launches no Spark job (``spark.read.parquet(path).collect()`` costs a
    schema-inference job plus the collect).  Int, double and array
    values are the ones that collect returns; rows keep file order,
    which Spark does not promise either.  Raises ``FileNotFoundError``
    when the path is missing, hidden or partitioned, and ``ValueError``
    when it holds no data file (Spark's ``UNABLE_TO_INFER_SCHEMA``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    found = visible_files(spark, path)
    if found is None:
        raise FileNotFoundError(
            f"[PATH_NOT_FOUND] parquet table {path}: the path is missing, "
            "hidden or partitioned"
        )
    fs, files = found
    if not files:
        raise ValueError(f"parquet table {path}: no data files to read")
    tables = []
    for status in files:
        stream = fs.open(status.getPath())
        try:
            data = bytes(stream.readAllBytes())
        finally:
            stream.close()
        tables.append(pq.read_table(pa.BufferReader(data)))
    return pa.concat_tables(tables, promote_options="default")


def read_csv_with_declared_schema(spark: SparkSession, path: str, struct: "T.StructType") -> DataFrame:
    """CSV scan binding the declared schema BY NAME via the header row.

    Passing an explicit schema to Spark's CSV reader binds it by
    POSITION — silently misaligned data whenever the declared column
    order differs from the file's.  The reference's Polars scan applies
    dtype overrides by name (app/main.py:381), so name-binding is the
    parity-correct semantics.  Declared-but-absent columns warn (the
    reference's drift warning, app/main.py:383-390); extra file columns
    are kept as strings.

    The header is read on the driver (``read_csv_header``), so the scan
    launches no Spark job; Spark's own header inference is a job."""
    header = read_csv_header(spark, path)
    reader = spark.read.option("header", True)
    if header is not None:
        reader = reader.schema(T.StructType([T.StructField(c, T.StringType()) for c in header]))
    raw = reader.csv(path)
    declared = {f.name: f.dataType for f in struct.fields}
    missing = [c for c in declared if c not in raw.columns]
    if missing:
        logger.warning("scan %s: declared columns missing from CSV: %s", path, missing)
    cols = []
    for f in struct.fields:
        if f.name not in raw.columns:
            continue
        src = F.col(f.name)
        if isinstance(f.dataType, T.DateType):
            cols.append(F.to_date(src, "yyyy-MM-dd").alias(f.name))
        else:
            cols.append(src.cast(f.dataType).alias(f.name))
    extra_names = [c for c in raw.columns if c not in declared]
    if extra_names:
        logger.warning(
            "scan %s: CSV columns not in declared schema kept as strings: %s", path, extra_names
        )
    return raw.select(*cols, *[F.col(c) for c in extra_names])


def scan_data(spark: SparkSession, fd: FileDefinition) -> DataFrame:
    """Lazy scan with the declared schema.  Warns on schema/file column
    drift like the reference (app/main.py:383-390) — the check uses only
    file metadata / header, no full read."""
    struct = schema_to_struct(fd.file_schema.logical_types())
    if fd.format == "csv":
        df = read_csv_with_declared_schema(spark, fd.path, struct)
    elif fd.format == "json":
        df = spark.read.schema(struct).json(fd.path)
    elif fd.format in ("parquet", "orc"):
        # Both are columnar self-describing formats: scan, warn on
        # declared-schema drift, project/cast to the declared columns
        # (column pruning reaches the file reader either way).
        df = spark.read.parquet(fd.path) if fd.format == "parquet" else spark.read.orc(fd.path)
        declared = set(struct.fieldNames())
        actual = set(df.columns)
        if declared - actual:
            logger.warning(
                "scan %s: declared columns missing from file: %s", fd.path, sorted(declared - actual)
            )
        # Project/cast to the declared schema where present.
        df = df.select(
            *[F.col(f.name).cast(f.dataType) for f in struct.fields if f.name in actual]
        )
    elif fd.format == "text":
        # Raw corpus ingestion: one row per line, the 100 TB text-dump
        # entry path.  The declared schema names the line column — it
        # must declare exactly one string column (anything else is a
        # spec bug, not drift, so it raises rather than warns).
        names = struct.fieldNames()
        if len(names) != 1 or not isinstance(struct.fields[0].dataType, T.StringType):
            raise ValueError(
                "text input needs a declared schema with exactly one string "
                f"column (the line column); got {names}"
            )
        df = spark.read.text(fd.path).select(F.col("value").alias(names[0]))
    elif fd.format == "binary":
        # Opaque media ingestion (images/audio/video payloads) via
        # Spark's binaryFile source: path, modificationTime, length,
        # content.  Declared columns project from those four by name
        # (missing ones warn, parquet-style); `content` feeds the
        # multimodal mapInPandas stages, and maxPartitionBytes governs
        # scan granularity — no shuffle anywhere.
        df = spark.read.format("binaryFile").load(fd.path)
        declared = list(struct.fieldNames())
        actual = set(df.columns)
        missing = [c for c in declared if c not in actual]
        if missing:
            logger.warning(
                "scan %s: declared columns not produced by binaryFile "
                "(available: %s): %s", fd.path, sorted(actual), missing
            )
        present = [f for f in struct.fields if f.name in actual]
        if not present:
            raise ValueError(
                f"binary input: none of the declared columns {declared} are "
                f"binaryFile columns {sorted(actual)}"
            )
        # cast to the declared types like the parquet/orc branch — a
        # declared `length: integer` must not silently stay LONG
        df = df.select(*[F.col(f.name).cast(f.dataType) for f in present])
    else:
        raise NotImplementedError(f"Unsupported input format: {fd.format}")
    return df


def _ordered_projection(df: DataFrame, fd: FileDefinition) -> DataFrame:
    """Schema-ordered save-time projection; missing declared columns are
    skipped with a warning, extra columns silently dropped
    (reference: app/main.py:443-455).  When NO declared column is
    present the reference logs an error and writes the empty selection;
    Spark's file sinks reject zero-column frames, so raise the same
    error instead of silently writing an undeclared schema."""
    declared = list(fd.file_schema.columns)
    present = [c for c in declared if c in df.columns]
    for c in declared:
        if c not in df.columns:
            logger.warning("save: declared output column '%s' missing from result; skipping", c)
    if not present:
        logger.error(
            "save: no declared output column present in result (declared=%s, result=%s)",
            declared,
            df.columns,
        )
        raise ValueError(
            f"save: none of the declared output columns {declared} are present in the "
            f"result columns {df.columns}"
        )
    return df.select(*present)


def save_data(
    df: DataFrame,
    fd: FileDefinition,
    *,
    single_file: bool = False,
    json_array: bool = False,
    partition_by: list[str] | None = None,
) -> None:
    """Write with schema-ordered projection.

    ``single_file`` coalesces to one partition (small outputs / parity
    with the reference's one-file CSVs); default is parallel many-file
    output, the scalable form.  ``partition_by`` produces a
    hive-partitioned layout (e.g. by date/category) so downstream scans
    get partition pruning — the 100 TB sink shape.
    """
    out = _ordered_projection(df, fd)
    if partition_by:
        missing = [c for c in partition_by if c not in df.columns]
        if missing:
            raise ValueError(f"save: partition_by columns {missing} not in result columns {df.columns}")
        # Partition columns must survive the declared-schema projection.
        out = df.select(
            *[c for c in out.columns if c not in partition_by], *partition_by
        )
    if fd.format not in ("csv", "parquet", "orc", "json"):
        raise NotImplementedError(f"Unsupported output format: {fd.format}")
    if fd.format == "json" and json_array:
        _write_json_array(out, fd.path)
        return
    writer_df = out.coalesce(1) if single_file and not partition_by else out
    writer = writer_df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    _save(writer, fd.format, fd.path)


def _save(writer: DataFrameWriter, fmt: str, path: str) -> None:
    """The sinks' one write form: ``format(fmt)``, plus a header row
    for CSV."""
    if fmt == "csv":
        writer = writer.option("header", True)
    writer.format(fmt).save(path)


def write_compacted(
    df: DataFrame,
    path: str,
    *,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
) -> None:
    """Small-file-safe sink: ``rebalance`` hint + AQE choose the output
    partition count at RUNTIME from actual shuffle statistics (target
    size = ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, 64 MB
    default) — the standard cure for the 100 TB small-files problem,
    where a filtered/skewed plan otherwise lands thousands of KB-sized
    files (or one executor writes one giant file).  Unlike a static
    ``repartition(n)``, no size estimate is needed and skewed
    partitions are split.  With ``partition_by``, rebalancing on the
    partition columns additionally co-locates each hive partition's
    rows into whole files instead of every task writing a sliver of
    every partition."""
    if fmt not in ("parquet", "orc", "json", "csv"):
        raise NotImplementedError(f"Unsupported compacted output format: {fmt}")
    cols = [F.col(c) for c in (partition_by or [])]
    out = df.hint("rebalance", *cols) if cols else df.hint("rebalance")
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    _save(writer, fmt, path)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    *,
    fmt: str = "parquet",
    num_files: int | None = None,
) -> None:
    """Range-sorted data layout: ``repartitionByRange`` on ``sort_cols``
    (files own DISJOINT key ranges — sampled range boundaries, skew
    split across files) + ``sortWithinPartitions`` (row groups inside
    each file are sorted too).  Parquet footers then carry tight,
    non-overlapping min/max stats per file AND per row group, so a scan
    filtered on the sort key prunes everything outside its range —
    file-level skipping from the driver, row-group skipping in the
    reader.  This is the single-dimension data-clustering pattern
    (the z-order degenerate case) that turns a 100 TB full scan into a
    touch of the few files covering the predicate's key range; on time-
    keyed event data it is the standard layout for time-window queries.
    ``num_files`` pins the file count (e.g. for compaction targets);
    default lets Spark use spark.sql.shuffle.partitions.

    Evidence: tests/test_sorted_layout.py reads the written footers
    with pyarrow and asserts disjoint per-file ranges and >80 %
    row-group skip for a narrow predicate vs an unsorted write."""
    if fmt not in ("parquet", "orc"):
        raise NotImplementedError(f"Unsupported sorted output format: {fmt}")
    cols = [F.col(c) for c in sort_cols]
    out = (
        df.repartitionByRange(num_files, *cols)
        if num_files
        else df.repartitionByRange(*cols)
    )
    _save(out.sortWithinPartitions(*cols).write.mode("overwrite"), fmt, path)


def write_zorder(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    *,
    fmt: str = "parquet",
    num_files: int | None = None,
    bits: int = 8,
) -> None:
    """Multi-dimension z-order clustering: interleave the bits of
    per-column quantile-bucket ids into one Morton code, then range-
    partition + sort on that code.  Each output file then covers a
    small, bounded range in EVERY z-ordered dimension at once, so
    footer min/max stats prune scans filtered on ANY of the columns —
    the layout behind "OPTIMIZE ZORDER BY" in lakehouse engines, and
    the multi-dim generalization of ``write_sorted`` (which clusters
    one dimension perfectly and the others not at all).

    Scale shape: ONE ``approxQuantile`` pass computes all columns'
    2^bits bucket boundaries (bounded driver result, ~(2^bits)*ncols
    doubles); bucket lookup is a JVM array-filter expression per row;
    the only shuffle is the final range partitioning on the code.
    Quantile (not uniform min/max) binning keeps buckets balanced
    under skew, so no file degenerates into owning the whole range.
    Columns must be numeric / timestamp (cast to double); nulls land
    in bucket 0.  Evidence: tests/test_sorted_layout.py asserts per-
    file footer ranges are bounded in both dimensions and quantifies
    row-group skipping vs a hash layout for single-column and 2-D box
    predicates."""
    if fmt not in ("parquet", "orc"):
        raise NotImplementedError(f"Unsupported zorder output format: {fmt}")
    if not (1 <= bits <= 10):
        raise ValueError(f"zorder bits must be in [1, 10], got {bits}")
    ncols = len(zorder_cols)
    if ncols < 1:
        raise ValueError("write_zorder needs at least one column")
    nbins = 1 << bits
    probs = [i / nbins for i in range(1, nbins)]
    doubled = df.select(
        *[F.col(c).cast("double").alias(f"_q{i}") for i, c in enumerate(zorder_cols)]
    )
    # 1% relative error is plenty for LAYOUT boundaries (they only steer
    # which file a row lands in, never query results) and keeps the
    # Greenwald-Khanna sketch state small on wide scans.
    all_bounds = doubled.approxQuantile(
        [f"_q{i}" for i in range(ncols)], probs, 0.01
    )

    def _searchsorted(dcol: Column, uniq: list[float], lo: int, hi: int) -> Column:
        """Balanced binary-search when-tree: the count of boundaries at
        or below the value, resolved in ⌈log2⌉ comparisons per row.  A
        flat indicator-sum chain costs len(uniq) comparisons per row —
        and the bucket expression is consumed once per interleave bit,
        so at 8 bits the flat form evaluates ~8×255 comparisons per row
        per dimension.  NULLs fail every >= test and fall through to
        bucket 0, same as the indicator-sum form."""
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(
            dcol >= F.lit(float(uniq[mid])), _searchsorted(dcol, uniq, mid + 1, hi)
        ).otherwise(_searchsorted(dcol, uniq, lo, mid))

    # Materialize each dimension's bucket id as a real column FIRST: the
    # interleave below references the bucket once per bit, and an alias
    # boundary (withColumn) makes those references attribute reads
    # instead of `bits` inlined copies of the search tree (Catalyst's
    # CollapseProject declines to inline non-cheap aliases used more
    # than once, so the boundary holds).
    tagged = df
    bucket_names: list[str] = []
    for ci, (col_name, bounds) in enumerate(zip(zorder_cols, all_bounds)):
        uniq = sorted(set(bounds))  # ≤ nbins-1 boundaries → bucket < 2^bits
        dcol = F.col(col_name).cast("double")
        bucket = _searchsorted(dcol, uniq, 0, len(uniq))
        # Low-cardinality columns dedupe to few boundaries, leaving the
        # HIGH bits of the bucket id always zero — the dimension would
        # then only occupy the least-significant interleave positions
        # and never influence which file a row lands in.  Rescale so
        # the max bucket hits 2^bits-1 and every dimension contends for
        # the significant bits equally.
        if uniq and len(uniq) < nbins - 1:
            bucket = F.floor(bucket * (nbins - 1) / len(uniq)).cast("int")
        name = f"_x_zbucket{ci}"
        tagged = tagged.withColumn(name, bucket.cast("int"))
        bucket_names.append(name)
    zparts = []
    for ci in range(ncols):
        b = F.col(bucket_names[ci])
        for bit in range(bits):
            zparts.append(
                F.shiftleft(
                    F.shiftright(b, bit).bitwiseAND(F.lit(1)),
                    bit * ncols + ci,
                )
            )
    zcode = zparts[0]
    for p in zparts[1:]:
        zcode = zcode.bitwiseOR(p)
    tagged = tagged.withColumn("_x_zorder", zcode).drop(*bucket_names)
    out = (
        tagged.repartitionByRange(num_files, "_x_zorder")
        if num_files
        else tagged.repartitionByRange("_x_zorder")
    )
    out = out.sortWithinPartitions("_x_zorder").drop("_x_zorder")
    _save(out.write.mode("overwrite"), fmt, path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    *,
    path: str | None = None,
) -> None:
    """Write a bucketed parquet table (hash-bucketed on ``bucket_cols``).

    The co-located-join scale path: two tables bucketed on the same key
    with the same bucket count join WITHOUT a shuffle (Catalyst sees the
    compatible output partitioning).  Bucketing requires the table
    catalog, so this writes via saveAsTable — by default into the
    session warehouse (on a cluster, the metastore-backed lakehouse
    path); pass ``path`` to create an EXTERNAL table whose data lives
    under a caller-managed directory instead (the harness points this
    at its garbage-collected scratch area so repeated invocations
    cannot grow the shared warehouse without bound)."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(
        num_buckets, *bucket_cols
    ).sortBy(*bucket_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def _write_json_array(df: DataFrame, path: str) -> None:
    """Reference JSON shape: one file holding an indented array of row
    objects, dates as %Y-%m-%d strings (app/main.py:464-470).  Collects —
    use only for small outputs; large outputs use JSON-lines."""
    import json
    from datetime import date, datetime

    rows = [r.asDict(recursive=True) for r in df.collect()]
    for row in rows:
        for k, v in row.items():
            if isinstance(v, datetime):
                row[k] = v.isoformat()
            elif isinstance(v, date):
                row[k] = v.strftime("%Y-%m-%d")
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump(rows, f, indent=2)


def rebalance_scan(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Spread a narrow scan across the cluster when the file layout
    under-parallelizes CPU-bound downstream work.

    Parquet splits at row-group boundaries, so a table written as few
    files with one row group each scans as that many tasks NO MATTER the
    executor count — and every per-row transform downstream of the scan
    (shingling, tokenization, media decode, similarity math) inherits
    that parallelism until the first shuffle.  This helper round-robins
    the rows up to the session's default parallelism, but ONLY when the
    scan is narrower than that target: on a 100 TB input laid out as
    thousands of splittable files the condition is false and this is a
    free no-op, while on a compacted/small input it trades one shuffle of
    the (by assumption small) input for full-width compute.

    Use it between the scan and expensive map-side work; do NOT use it
    before a groupBy/join (the shuffle would duplicate work the
    aggregation's own exchange already does).
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def write_sized(
    df: DataFrame,
    path: str,
    *,
    fmt: str = "parquet",
    target_mb: float = 128.0,
    sample_rows: int = 2000,
    representative: bool = False,
) -> int:
    """Small-file compaction: rewrite a table into files sized near
    ``target_mb`` — the maintenance pass every long-lived 100 TB table
    needs (streaming sinks and fine-grained partitions accrete
    kilobyte-scale files whose per-file open/footer/task overhead
    eventually dominates scans).

    Sizing is measured, not guessed: a bounded probe writes through the
    real encoder (same format, compression, encodings) to a scratch
    dir, giving encoded-bytes-per-row; the file count is then
    ``ceil(total_rows / rows_per_file)``, laid out with a round-robin
    ``repartition(n)`` so every file lands within ~1 task of the
    target.  Probe sizes are read back through the session's Hadoop
    FileSystem — NOT the driver's local filesystem — so the
    measurement works identically when the default FS is HDFS/S3 (and
    a zero-byte probe raises instead of silently degenerating the
    sizing).  Returns the file count.

    ``representative=False`` (default) probes the table HEAD
    (``limit``) — bounded cost, but biased when row size correlates
    with position; ``representative=True`` draws a seeded Bernoulli
    sample instead — unbiased, at the cost of one full input scan for
    the probe.  Pick by how much you trust the head.

    Sibling of :func:`write_compacted` (the AQE ``rebalance`` sink,
    which targets the session's advisory partition size from runtime
    stats): use that when the session-wide 64 MB advisory target is
    right; use this when the caller needs an EXPLICIT per-table byte
    target decoupled from session config.  Plain-vanilla sizing is
    deliberately layout-destroying (round robin evens out skew); to
    size AND cluster, use :func:`write_sorted` / :func:`write_zorder`
    with ``num_files`` from the same arithmetic."""
    import math
    import tempfile
    import uuid

    if target_mb <= 0:
        raise ValueError(f"write_sized target_mb must be positive, got {target_mb}")
    if sample_rows <= 0:
        raise ValueError(f"write_sized sample_rows must be positive, got {sample_rows}")
    if fmt not in ("parquet", "orc", "json", "csv"):
        raise NotImplementedError(f"Unsupported sized output format: {fmt}")

    total = df.count()
    if total == 0:
        _save(df.write.mode("overwrite"), fmt, path)
        return 0
    if representative:
        frac = min(1.0, sample_rows / total)
        probe = df.sample(withReplacement=False, fraction=frac, seed=42)
        n_probe = probe.count()  # Bernoulli draw: size not known a priori
        if n_probe == 0:
            probe, n_probe = df.limit(min(sample_rows, total)), min(sample_rows, total)
    else:
        n_probe = min(sample_rows, total)
        probe = df.limit(n_probe)

    spark = df.sparkSession
    scratch = f"{tempfile.gettempdir()}/ela_sized_probe_{uuid.uuid4().hex[:12]}"
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(scratch)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        _save(probe.coalesce(1).write.mode("overwrite"), fmt, scratch)
        probe_bytes = sum(
            st.getLen()
            for st in fs.listStatus(jpath)
            if not st.getPath().getName().startswith(("_", "."))
        )
    finally:
        fs.delete(jpath, True)
    if probe_bytes <= 0:
        raise RuntimeError(
            f"write_sized probe wrote no measurable bytes under {scratch} — "
            "refusing to size blindly"
        )
    bytes_per_row = probe_bytes / n_probe
    rows_per_file = max(int((target_mb * 1024 * 1024) / bytes_per_row), 1)
    n_files = max(math.ceil(total / rows_per_file), 1)
    _save(df.repartition(n_files).write.mode("overwrite"), fmt, path)
    return n_files
