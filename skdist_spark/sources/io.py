"""Format-agnostic read/write helpers — the source/sink surface.

One entry point per direction; format-specific options centralized so
every pipeline stage reads/writes through the same tuned path:

- parquet: the default interchange + storage format (columnar,
  predicate pushdown, column pruning);
- orc: same posture as parquet where the warehouse is ORC-based;
- csv / json(l): ingest formats — header/schema handling and
  compression defaults set here; these are SCAN-ONLY formats (no
  pushdown beyond partition pruning), so pipelines should land them
  into parquet early (``convert_to_parquet``);
- partitioned writes: ``partition_by`` produces hive-style directory
  partitioning (enables partition pruning on read);
- bucketed writes: ``bucket_by`` pre-shuffles into N buckets on the
  join/agg key so repeated joins on that key skip the shuffle
  (saveAsTable path, needs a metastore-backed table name).

At 100 TB, the defaults that matter: snappy parquet (splittable,
cheap to decode), maxRecordsPerFile bounds file sizes for downstream
parallelism, and partition columns chosen with bounded cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

READ_FORMATS = ("parquet", "orc", "csv", "json")

_CSV_READ_OPTS = {"header": "true", "inferSchema": "false", "mode": "PERMISSIVE"}
_WRITE_COMPRESSION = {"parquet": "snappy", "orc": "zlib", "csv": "gzip", "json": "gzip"}


def read_source(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: str | None = None,
    **options: str,
) -> DataFrame:
    """Read ``path`` in ``fmt``. Pass an explicit DDL ``schema`` for
    csv/json in production paths — schema inference is a full extra
    scan and non-deterministic under dirty data."""
    if fmt not in READ_FORMATS:
        raise ValueError(f"unknown format {fmt!r}; known: {READ_FORMATS}")
    reader = spark.read
    if fmt == "csv":
        for k, v in _CSV_READ_OPTS.items():
            reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt == "csv":
        reader = reader.option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.format(fmt).load(path)


def write_sink(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int = 5_000_000,
    bloom_filter_cols: list[str] | None = None,
    bloom_filter_ndv: int = 1_000_000,
    **options: str,
) -> None:
    """Write ``df`` to ``path`` in ``fmt`` with scale-safe defaults
    (splittable compression, bounded file sizes, optional hive-style
    partitioning).

    ``bloom_filter_cols`` (parquet only) writes a bloom filter per
    listed column into every file footer: point-lookup predicates on
    high-cardinality NON-sorted columns (ids, hashes) can then skip
    whole row groups that min/max stats can't — min/max is useless on
    a column the layout wasn't clustered by, which is exactly where a
    bloom filter earns its ~1 byte/value.  ``bloom_filter_ndv`` sizes
    the filter (expected distinct values per row group).
    """
    if fmt not in READ_FORMATS:
        raise ValueError(f"unknown format {fmt!r}; known: {READ_FORMATS}")
    if bloom_filter_cols and fmt != "parquet":
        raise ValueError("bloom_filter_cols is parquet-only")
    writer = (
        df.write.mode(mode)
        .option("compression", _WRITE_COMPRESSION[fmt])
        .option("maxRecordsPerFile", str(max_records_per_file))
    )
    if fmt == "csv":
        writer = writer.option("header", "true")
    for col in bloom_filter_cols or []:
        writer = writer.option(f"parquet.bloom.filter.enabled#{col}", "true").option(
            f"parquet.bloom.filter.expected.ndv#{col}", str(bloom_filter_ndv)
        )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.format(fmt).save(path)


def read_with_quarantine(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: str,
    quarantine_path: str | None = None,
) -> DataFrame:
    """Dead-letter ingest: parse csv/json against an explicit schema,
    split off rows that don't parse, and land the raw malformed lines
    in ``quarantine_path`` for replay — production ingest never drops
    dirty data silently and never fails the whole job for one bad row.

    PERMISSIVE mode + ``columnNameOfCorruptRecord`` keeps the raw text
    of any unparseable row; the split is one scan (the quarantine
    write and the clean return share the parsed frame).  Returns the
    CLEAN rows (schema columns only).
    """
    from pyspark.sql import functions as F

    if fmt not in ("csv", "json"):
        raise ValueError("quarantine ingest supports csv/json (parquet is typed)")
    corrupt = "_corrupt_record"
    reader = (
        spark.read.schema(f"{schema}, {corrupt} string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
    )
    if fmt == "csv":
        reader = reader.option("header", "true")
    df = reader.format(fmt).load(path)
    # Spark requires caching/materializing the frame before the corrupt
    # column is queryable standalone (documented limitation); route
    # through a persisted split so both halves come from one scan
    df = df.persist()
    try:
        bad = df.where(F.col(corrupt).isNotNull()).select(F.col(corrupt).alias("raw"))
        if quarantine_path is not None:
            bad.write.mode("overwrite").text(quarantine_path)
        clean = df.where(F.col(corrupt).isNull()).drop(corrupt)
        # materialize the clean rows before unpersisting the scan
        clean = clean.localCheckpoint()
    finally:
        df.unpersist()
    return clean


def parquet_bloom_offsets(spark: SparkSession, file_path: str) -> dict[str, int]:
    """Footer probe: bloom-filter offset per column of one parquet
    file's first row group (-1 = no bloom filter written).  Reads only
    footer metadata via the JVM parquet reader — the verification hook
    for ``write_sink(bloom_filter_cols=...)``."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(file_path)
    infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(jpath, conf)
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
    try:
        out: dict[str, int] = {}
        rgs = reader.getFooter().getBlocks()
        if rgs.size() == 0:
            return out
        cols = rgs.get(0).getColumns()
        for i in range(cols.size()):
            cc = cols.get(i)
            out[".".join(cc.getPath().toArray())] = cc.getBloomFilterOffset()
        return out
    finally:
        reader.close()


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a BUCKETED managed table: rows pre-shuffled
    into ``n_buckets`` by ``bucket_cols`` (and optionally sorted within
    buckets), so later equi-joins / aggregations on those columns read
    co-located buckets instead of shuffling — the standard answer to
    "this fact table is joined on the same key every day".
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def convert_to_parquet(
    spark: SparkSession,
    src_path: str,
    src_fmt: str,
    dest_path: str,
    schema: str | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """Land a scan-only ingest format (csv/json) into parquet so every
    downstream read gets pushdown + pruning."""
    write_sink(
        read_source(spark, src_path, src_fmt, schema=schema),
        dest_path,
        "parquet",
        partition_by=partition_by,
    )


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Ingest opaque binary assets (images/audio/video) as a DataFrame
    of (path, modificationTime, length, content binary) via Spark's
    binaryFile source — the entry point of the multimodal pipeline
    (operators.multimodal consumes the ``content`` column).

    Files are NOT splittable; parallelism = file count, so at 100 TB
    the asset store should hold many medium files, not few huge ones.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def z_value(cols: list[str], bits: int = 16):
    """Morton (z-order) value: bit-interleave the low ``bits`` of the
    given non-negative integer columns into one clustering key — a
    single fold expression, JVM-codegen, no UDF."""
    from pyspark.sql import functions as F

    n = len(cols)
    terms = " + ".join(
        f"shiftleft(shiftright(cast({c} as bigint), i) & 1L, {n} * i + {j})"
        for j, c in enumerate(cols)
    )
    return F.expr(f"aggregate(sequence(0, {bits - 1}), 0L, (acc, i) -> acc + ({terms}))")


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through Spark's Hadoop filesystem layer, so it
    answers correctly for any URI the session can read (s3a://,
    hdfs://, file:/) — a driver-local ``os.path.exists`` is always
    False for remote storage, which at 100 TB is the normal case."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
    order_col: str | None = None,
) -> None:
    """CDC-style MERGE (upsert by key) into a hive-partitioned parquet
    table, without a table format.

    Only the partitions present in ``updates`` are read and rewritten:
    existing rows whose key collides with an update are replaced, new
    keys are appended, and every untouched partition's files are left
    byte-identical (dynamic partition overwrite). ``order_col`` breaks
    ties WITHIN the update batch (highest wins) — the standard CDC
    latest-record rule; with no order_col the update batch must be
    key-unique.

    At 100 TB this is maintenance cost proportional to the touched
    partitions, not the table — the batch face of the streaming
    continuous-aggregate sink (stream_rollup_maintenance).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if order_col is not None:
        w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
        updates = (
            updates.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )

    if not _hadoop_path_exists(spark, target_path):
        updates.write.partitionBy(partition_col).parquet(target_path)
        return

    touched = [r[0] for r in updates.select(partition_col).distinct().collect()]
    existing = spark.read.parquet(target_path).where(
        F.col(partition_col).isin(touched)
    )
    # align the update batch to the target schema (extra columns such
    # as the order_col tiebreaker are metadata, not payload)
    updates = updates.select(*existing.columns)
    survivors = existing.join(
        updates.select(*key_cols), key_cols, "left_anti"
    )
    # materialize BEFORE the overwrite: Spark cannot overwrite files a
    # lazy plan is still set to read (self-overwrite hazard)
    merged = survivors.unionByName(updates).localCheckpoint()

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy(partition_col).parquet(target_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def hilbert_value(x_col: str, y_col: str, bits: int = 16):
    """2-D Hilbert curve index of two non-negative integer columns —
    strictly better locality than the Morton value (every unit step
    along the curve moves to a spatially ADJACENT cell; z-order jumps
    across the domain at power-of-two seams), so file bounding boxes
    come out tighter for the same file count.

    The classic xy2d bit walk is a stateful loop (each level rotates /
    flips the remaining coordinates), expressed here as one `aggregate`
    fold over bit levels with a (d, x, y) struct accumulator — pure
    JVM codegen, no UDF, same execution shape as z_value.
    """
    from pyspark.sql import functions as F

    n = 1 << bits  # full grid size; flips reflect within it
    rx = "IF((acc.x & shiftleft(1L, i)) > 0, 1L, 0L)"
    ry = "IF((acc.y & shiftleft(1L, i)) > 0, 1L, 0L)"
    return F.expr(
        f"""aggregate(
          sequence({bits - 1}, 0, -1),
          named_struct('d', 0L, 'x', CAST({x_col} AS BIGINT), 'y', CAST({y_col} AS BIGINT)),
          (acc, i) -> named_struct(
            'd', acc.d + shiftleft(1L, 2 * i) * ((3 * {rx}) ^ {ry}),
            'x', IF({ry} = 0,
                    IF({rx} = 1, {n - 1}L - acc.y, acc.y),
                    acc.x),
            'y', IF({ry} = 0,
                    IF({rx} = 1, {n - 1}L - acc.x, acc.x),
                    acc.y)),
          acc -> acc.d)"""
    )


def hilbert_d_np(x, y, bits: int = 16):
    """Vectorized numpy replay of the ``hilbert_value`` xy2d bit walk —
    the same integer recurrence level by level (rx/ry bit tests, d
    accumulation, swap+flip rotation), so the result is bit-identical
    to the SQL fold for any non-negative int64 inputs within ``bits``
    bits.  Exists because Catalyst higher-order functions are
    CodegenFallback (interpreted per row x per level, with a struct
    allocation per step): the measured wall of the 16-level fold over
    600k rows was ~6.4 s warm, vs milliseconds for this walk over the
    same rows as two int64 arrays (guide §4.2: hand whole batches to
    vectorized native code)."""
    import numpy as np

    x = np.asarray(x, dtype=np.int64).copy()
    y = np.asarray(y, dtype=np.int64).copy()
    d = np.zeros_like(x)
    n1 = (1 << bits) - 1
    for i in range(bits - 1, 0 - 1, -1):
        rx = (x >> i) & 1
        ry = (y >> i) & 1
        d += (1 << (2 * i)) * ((3 * rx) ^ ry)
        swap = ry == 0
        flip = swap & (rx == 1)
        nx = np.where(swap, np.where(flip, n1 - y, y), x)
        ny = np.where(swap, np.where(flip, n1 - x, x), y)
        x, y = nx, ny
    return d


def hilbert_order_by(
    df: DataFrame, x_col: str, y_col: str, num_files: int, bits: int = 16
) -> DataFrame:
    """Cluster a frame along the 2-D Hilbert curve (range-partition +
    sort on the Hilbert index): the higher-locality alternative to
    ``zorder_by`` for two-dimensional layouts. Columns must be
    non-negative integers fitting in ``bits`` bits."""
    h = hilbert_value(x_col, y_col, bits)
    return (
        df.withColumn("__h", h)
        .repartitionByRange(num_files, "__h")
        .sortWithinPartitions("__h")
        .drop("__h")
    )


def zorder_by(df: DataFrame, cols: list[str], num_files: int, bits: int = 16) -> DataFrame:
    """Cluster a frame for multi-dimensional locality: range-partition +
    sort by the Morton value of ``cols`` so parquet file/row-group
    min-max spans stay narrow on EVERY listed column — scans filtering
    any of them prune most files (the Delta/Iceberg OPTIMIZE ZORDER
    pattern, expressed with plain Spark primitives).

    Columns must be non-negative integers fitting in ``bits`` bits;
    scale/offset continuous domains first.
    """
    z = z_value(cols, bits)
    return (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def _list_partition_files(spark: SparkSession, path: str):
    """(partition_dir -> [(file_path, bytes)]) through the Hadoop FS
    layer (works for any URI the session can read, not just local)."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    out: dict[str, list[tuple[str, int]]] = {}
    for part in fs.listStatus(root):
        if not part.isDirectory():
            continue
        pdir = part.getPath().getName()
        if "=" not in pdir:  # not a hive partition dir
            continue
        files = [
            (f.getPath().toString(), int(f.getLen()))
            for f in fs.listStatus(part.getPath())
            if f.getPath().getName().endswith(".parquet")
        ]
        out[pdir] = files
    return out


def compact_partitions(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict[str, tuple[int, int]]:
    """Small-file compaction for a hive-partitioned parquet table: the
    maintenance job every long-lived 100 TB table needs, because
    streaming sinks and frequent CDC merges accrete files far below
    the scan-efficient size (manifest bloat, per-file open cost,
    undersized row groups).

    Each partition holding at least ``min_files`` files below
    ``target_bytes`` on average is rewritten into
    ceil(partition_bytes / target_bytes) files via dynamic partition
    overwrite — untouched partitions stay byte-identical, so cost is
    proportional to the FRAGMENTED data, not the table.  Returns
    {partition_dir: (files_before, files_after)} for observability.
    """
    import math

    from pyspark.sql import functions as F

    report: dict[str, tuple[int, int]] = {}
    parts = _list_partition_files(spark, path)
    todo = {}
    for pdir, files in parts.items():
        total = sum(b for _, b in files)
        if len(files) >= min_files and total / len(files) < target_bytes:
            todo[pdir] = (len(files), max(1, math.ceil(total / target_bytes)))
    if not todo:
        return report
    col, _ = next(iter(todo)).split("=", 1)
    values = [pdir.split("=", 1)[1] for pdir in todo]
    # one read of only the fragmented partitions; per-partition
    # repartition to the computed file count keeps output sizes near
    # target regardless of partition skew
    frames = []
    for pdir, (before, n_files) in todo.items():
        value = pdir.split("=", 1)[1]
        sub = (
            spark.read.parquet(path)
            .where(F.col(col).cast("string") == value)
            .repartition(n_files)
        )
        frames.append(sub)
        report[pdir] = (before, n_files)
    from functools import reduce

    merged = reduce(lambda a, b: a.unionByName(b), frames).localCheckpoint()
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy(col).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return report


def parquet_stats_report(
    spark: SparkSession,
    path: str,
    columns: "list[str] | None" = None,
) -> DataFrame:
    """File-level parquet statistics report: one row per (file, column)
    with row-group count, row count, byte size, and the column's
    min/max across row groups — the observability face of layout
    clustering (``zorder_by``/``hilbert_order_by``): narrow per-file
    min/max ranges are what make engine data-skipping effective, and
    this report shows whether a table actually has them.

    The file list is distributed and each task reads only FOOTERS via
    pyarrow (no data pages), so the report costs O(files), not
    O(bytes) — runnable against a 100 TB table.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    files = [
        r.file_path
        for r in spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(path)
        .select(F.col("path").alias("file_path"))
        .collect()
    ]
    cols = columns

    def gen(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for fp in pdf["file_path"]:
                local = fp[len("file:"):] if fp.startswith("file:") else fp
                meta = pq.ParquetFile(local).metadata
                names = cols if cols is not None else list(meta.schema.names)
                idx = {meta.schema.names[i]: i for i in range(len(meta.schema.names))}
                for name in names:
                    if name not in idx:
                        continue
                    lo = hi = None
                    for rg in range(meta.num_row_groups):
                        st = meta.row_group(rg).column(idx[name]).statistics
                        if st is None or not st.has_min_max:
                            lo = hi = None
                            break
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
                    out.append(
                        (
                            local.rsplit("/", 1)[-1],
                            name,
                            meta.num_row_groups,
                            meta.num_rows,
                            meta.serialized_size,
                            str(lo) if lo is not None else None,
                            str(hi) if hi is not None else None,
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "file", "column", "n_row_groups", "n_rows",
                    "footer_bytes", "min_value", "max_value",
                ],
            )

    fdf = spark.createDataFrame([(f,) for f in files], "file_path string").repartition(
        max(1, min(len(files), 32))
    )
    return fdf.mapInPandas(
        gen,
        schema=(
            "file string, column string, n_row_groups long, n_rows long, "
            "footer_bytes long, min_value string, max_value string"
        ),
    )


def insert_overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in ``df``, leaving every other partition of the target untouched —
    the idempotent daily-backfill write ("re-land 2024-03-05" without
    clobbering the rest of the table).

    Uses Spark's native ``partitionOverwriteMode=dynamic`` so the
    swap is per-partition-directory and atomic at the file-commit
    level; the conf is set per-write and restored, never leaked into
    the session.  At 100 TB this is THE pattern that avoids
    read-modify-write of the full table for an incremental re-land.
    """
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    try:
        spark.conf.set(key, "dynamic")
        (
            df.write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(path)
        )
    finally:
        spark.conf.set(key, prev)


def read_merged_schema(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: union the schemas of every parquet file
    under ``path`` (``mergeSchema=true``) so files written before a
    column existed surface it as NULL instead of failing the scan —
    the forward-compatible read for tables that gained columns over
    time.  Footer-only work: no data pass happens to build the merged
    schema."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def scan_skipping_report(
    spark: SparkSession,
    path: str,
    column: str,
    lo=None,
    hi=None,
) -> DataFrame:
    """Data-skipping SIMULATION for the predicate ``lo <= column <= hi``
    (either bound optional): per file, how many ROW GROUPS (and rows /
    bytes) a min/max-pruning scan would skip — the number that tells
    you whether re-clustering (zorder_by / hilbert_order_by /
    insert-time sort) is worth it BEFORE rewriting 100 TB.

    A row group is skippable when its stats prove no row can match:
    stats.max < lo or stats.min > hi.  Footer-only distributed work,
    O(files) like parquet_stats_report; groups without min/max stats
    count as unskippable (the engine must read them too).
    """
    import pandas as pd
    from pyspark.sql import functions as F

    files = [
        r.file_path
        for r in spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(path)
        .select(F.col("path").alias("file_path"))
        .collect()
    ]

    def gen(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for fp in pdf["file_path"]:
                local = fp[len("file:"):] if fp.startswith("file:") else fp
                meta = pq.ParquetFile(local).metadata
                idx = {
                    meta.schema.names[i]: i
                    for i in range(len(meta.schema.names))
                }
                if column not in idx:
                    continue
                n_g = n_skip = rows = rows_skip = by = by_skip = 0
                for rg in range(meta.num_row_groups):
                    g = meta.row_group(rg)
                    c = g.column(idx[column])
                    st = c.statistics
                    n_g += 1
                    rows += g.num_rows
                    by += g.total_byte_size
                    skippable = False
                    if st is not None and st.has_min_max:
                        if lo is not None and st.max < lo:
                            skippable = True
                        if hi is not None and st.min > hi:
                            skippable = True
                    if skippable:
                        n_skip += 1
                        rows_skip += g.num_rows
                        by_skip += g.total_byte_size
                out.append(
                    (
                        local.rsplit("/", 1)[-1],
                        n_g,
                        n_skip,
                        rows,
                        rows_skip,
                        by,
                        by_skip,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "file",
                    "row_groups",
                    "skipped_groups",
                    "rows",
                    "skipped_rows",
                    "bytes",
                    "skipped_bytes",
                ],
            )

    fdf = spark.createDataFrame([(f,) for f in files], "file_path string")
    return fdf.mapInPandas(
        gen,
        schema=(
            "file string, row_groups long, skipped_groups long, rows long,"
            " skipped_rows long, bytes long, skipped_bytes long"
        ),
    ).orderBy("file")


# ---- z-order layout audit (registry face of zorder_by / z_value) --------

# 16-bit Morton spread as four shift-or-mask stages (the classic
# "spread bits" closed form) — pure BIGINT arithmetic both engines
# share, so the layout is a deterministic function of the data and the
# DuckDB oracle reproduces every file assignment bit-for-bit.
_Z_SPREAD_STAGES = ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555))
ZORDER_FILES_LOG2 = 6  # 64 key-space files
_Z_PRED_LO, _Z_PRED_HI = 100, 300  # the audited pruning predicate on x


def spread_bits_sql(col: str, engine: str) -> str:
    """SQL for interleave-ready bit spreading of a 16-bit value:
    bit i of ``col`` moves to bit 2i.  ``engine`` picks the shift
    spelling ('spark': shiftleft; 'duck': ``<<``)."""
    shl = (
        (lambda a, n: f"shiftleft({a}, {n})")
        if engine == "spark"
        else (lambda a, n: f"({a} << {n})")
    )
    e = f"(CAST({col} AS BIGINT) & 65535)"
    for sh, mask in _Z_SPREAD_STAGES:
        e = f"(({e} | {shl(e, sh)}) & {mask})"
    return e


def morton_sql(x: str, y: str, engine: str) -> str:
    """Portable 2-D Morton (z-order) key: x on even bits, y on odd —
    the same bit layout as the ``z_value`` fold API."""
    ysh = (
        f"shiftleft({spread_bits_sql(y, engine)}, 1)"
        if engine == "spark"
        else f"({spread_bits_sql(y, engine)} << 1)"
    )
    return f"({spread_bits_sql(x, engine)} | {ysh})"


def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering audit over lineitem — ORACLE-BACKED: cluster
    on (part key, ship date) via the portable Morton key, split the
    key space into 64 equal files (top 6 bits — deterministic, unlike
    ``repartitionByRange``'s sampled boundaries, so both engines build
    the SAME layout), and report per-file row counts + min/max spans
    of BOTH dimensions plus whether a ship-window scan with
    ``x BETWEEN 100 AND 300`` must read the file.

    This is the registry face of ``zorder_by``/``z_value``: the
    min/max spans are exactly what parquet writes as file stats, so
    narrow spans on EVERY listed dimension == multi-column data
    skipping (the Delta/Iceberg OPTIMIZE ZORDER posture).  One scan,
    one bounded groupBy (64 groups); at 100 TB the same expression is
    the sort key of a real clustered write (``zorder_by``), and this
    audit reads only file stats.
    """
    from pyspark.sql import functions as F

    from .catalog import load_table

    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_partkey").cast("bigint").alias("rx"),
        F.expr("CAST(datediff(l_shipdate, DATE'1992-01-01') AS BIGINT)").alias("ry"),
    )
    bounds = li.agg(
        F.min("rx").alias("x0"), F.max("rx").alias("x1"),
        F.min("ry").alias("y0"), F.max("ry").alias("y1"),
    )
    # deterministic integer min-max scaling onto the full 16-bit grid
    # (the raw domains don't fill 16 bits, which would collapse the
    # top-bit file split); DIV/greatest keep it exact on both engines
    x = "((rx - x0) * 65535 DIV greatest(x1 - x0, 1))"
    y = "((ry - y0) * 65535 DIV greatest(y1 - y0, 1))"
    z = morton_sql(x, y, "spark")
    return (
        li.crossJoin(F.broadcast(bounds))
        .select(
            F.expr(f"CAST({z} >> {32 - ZORDER_FILES_LOG2} AS INT)").alias("file_id"),
            F.expr(f"CAST({x} AS INT)").alias("x"),
            F.expr(f"CAST({y} AS INT)").alias("y"),
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
        .withColumn(
            "scan_for_x_pred",
            ~((F.col("max_x") < _Z_PRED_LO) | (F.col("min_x") > _Z_PRED_HI)),
        )
        .orderBy("file_id")
    )


def _zorder_oracle_sql() -> str:
    x = "((rx - x0) * 65535 // greatest(x1 - x0, 1))"
    y = "((ry - y0) * 65535 // greatest(y1 - y0, 1))"
    z = morton_sql(x, y, "duck")
    return f"""
        WITH raw AS (
            SELECT CAST(l_partkey AS BIGINT) AS rx,
                   CAST(date_diff('day', DATE '1992-01-01', l_shipdate) AS BIGINT) AS ry
            FROM lineitem
        ), bounds AS (
            SELECT MIN(rx) AS x0, MAX(rx) AS x1, MIN(ry) AS y0, MAX(ry) AS y1
            FROM raw
        ), keyed AS (
            SELECT CAST(({z} >> {32 - ZORDER_FILES_LOG2}) AS INT) AS file_id,
                   CAST({x} AS INT) AS x, CAST({y} AS INT) AS y
            FROM raw, bounds
        )
        SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
               MIN(x) AS min_x, MAX(x) AS max_x,
               MIN(y) AS min_y, MAX(y) AS max_y,
               NOT (MAX(x) < {_Z_PRED_LO} OR MIN(x) > {_Z_PRED_HI})
                 AS scan_for_x_pred
        FROM keyed GROUP BY file_id ORDER BY file_id
    """


QUERIES = {"zorder_layout": zorder_layout}
ORACLE_SQL = {"zorder_layout": _zorder_oracle_sql()}


def hilbert_duck_sql(inner: str, keep: str, bits: int = 16) -> str:
    """DuckDB face of ``hilbert_value``: the stateful xy2d bit walk
    unrolled into one SELECT per level (named-column chaining, no
    expression blowup).  ``inner`` must yield ``keep`` columns plus
    BIGINT ``x`` and ``y``; the result adds BIGINT ``d`` and replicates
    the Spark fold's full-grid flips exactly."""
    n1 = (1 << bits) - 1
    q = f"SELECT {keep}, 0::BIGINT AS d, x, y FROM ({inner})"
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx = f"(CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
        q = f"""SELECT {keep},
            d + ({1 << (2 * i)}::BIGINT) * xor(3 * {rx}, {ry}) AS d,
            CASE WHEN {ry} = 0
                 THEN (CASE WHEN {rx} = 1 THEN {n1} - y ELSE y END)
                 ELSE x END AS x,
            CASE WHEN {ry} = 0
                 THEN (CASE WHEN {rx} = 1 THEN {n1} - x ELSE x END)
                 ELSE y END AS y
        FROM ({q})"""
    return q


def hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout audit over lineitem — ORACLE-BACKED, the
    higher-locality sibling of ``zorder_layout``: same deterministic
    16-bit grid scaling and 64-way key-space file split, but clustered
    along the Hilbert curve (every unit step is spatially adjacent, so
    each file is one contiguous curve segment with a compact bounding
    box — z-order jumps across power-of-two seams).

    The Spark side runs the ``hilbert_value`` aggregate-fold (JVM
    codegen); the oracle replays the identical bit walk unrolled into
    16 SQL stages — the first cross-engine pin of the curve itself.
    Output schema matches zorder_layout so the two audits compare
    span tightness file-for-file.
    """
    from pyspark.sql import functions as F

    from .catalog import load_table

    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_partkey").cast("bigint").alias("rx"),
        F.expr("CAST(datediff(l_shipdate, DATE'1992-01-01') AS BIGINT)").alias("ry"),
    )
    bounds = li.agg(
        F.min("rx").alias("x0"), F.max("rx").alias("x1"),
        F.min("ry").alias("y0"), F.max("ry").alias("y1"),
    )
    scaled = li.crossJoin(F.broadcast(bounds)).select(
        F.expr("(rx - x0) * 65535 DIV greatest(x1 - x0, 1)").alias("hx"),
        F.expr("(ry - y0) * 65535 DIV greatest(y1 - y0, 1)").alias("hy"),
    )

    # the curve walk runs vectorized per Arrow batch (hilbert_d_np is
    # the bit-identical numpy replay of the hilbert_value fold — the
    # HOF fold is CodegenFallback, i.e. interpreted per row x level:
    # measured 6.4 s warm over 600k rows vs ~0.5 s for this path), and
    # each batch pre-aggregates to <= 64 (file_id, stats) partial rows
    # (guide §2.3: aggregate before the shuffle) — the final groupBy
    # merges bounded partials, so shuffle volume is O(batches x files),
    # never O(rows).  n_rows via SUM of partial counts and min/max of
    # partial bounds are the same integers the per-row aggregation
    # produced.
    def _partials(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = pdf["hx"].to_numpy(dtype=np.int64)
            y = pdf["hy"].to_numpy(dtype=np.int64)
            d = hilbert_d_np(x, y, 16)
            fid = (d >> (32 - ZORDER_FILES_LOG2)).astype(np.int32)
            g = pd.DataFrame(
                {
                    "file_id": fid,
                    "x": x.astype(np.int32),
                    "y": y.astype(np.int32),
                }
            ).groupby("file_id")
            yield pd.DataFrame(
                {
                    "file_id": np.asarray(list(g.groups), dtype=np.int32),
                    "n_rows": g["x"].size().to_numpy(dtype=np.int64),
                    "min_x": g["x"].min().to_numpy(dtype=np.int32),
                    "max_x": g["x"].max().to_numpy(dtype=np.int32),
                    "min_y": g["y"].min().to_numpy(dtype=np.int32),
                    "max_y": g["y"].max().to_numpy(dtype=np.int32),
                }
            )

    return (
        scaled.mapInPandas(
            _partials,
            schema=(
                "file_id int, n_rows long, min_x int, max_x int,"
                " min_y int, max_y int"
            ),
        )
        .groupBy("file_id")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.min("min_x").alias("min_x"),
            F.max("max_x").alias("max_x"),
            F.min("min_y").alias("min_y"),
            F.max("max_y").alias("max_y"),
        )
        .withColumn(
            "scan_for_x_pred",
            ~((F.col("max_x") < _Z_PRED_LO) | (F.col("min_x") > _Z_PRED_HI)),
        )
        .orderBy("file_id")
    )


def _hilbert_oracle_sql() -> str:
    scaled = """
        SELECT (rx - x0) * 65535 // greatest(x1 - x0, 1) AS x,
               (ry - y0) * 65535 // greatest(y1 - y0, 1) AS y,
               (rx - x0) * 65535 // greatest(x1 - x0, 1) AS px,
               (ry - y0) * 65535 // greatest(y1 - y0, 1) AS py
        FROM (SELECT CAST(l_partkey AS BIGINT) AS rx,
                     CAST(date_diff('day', DATE '1992-01-01', l_shipdate) AS BIGINT) AS ry
              FROM lineitem),
             (SELECT MIN(CAST(l_partkey AS BIGINT)) AS x0,
                     MAX(CAST(l_partkey AS BIGINT)) AS x1,
                     MIN(CAST(date_diff('day', DATE '1992-01-01', l_shipdate) AS BIGINT)) AS y0,
                     MAX(CAST(date_diff('day', DATE '1992-01-01', l_shipdate) AS BIGINT)) AS y1
              FROM lineitem)
    """
    walked = hilbert_duck_sql(scaled, "px, py")
    return f"""
        SELECT CAST(d >> {32 - ZORDER_FILES_LOG2} AS INT) AS file_id,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               MIN(CAST(px AS INT)) AS min_x, MAX(CAST(px AS INT)) AS max_x,
               MIN(CAST(py AS INT)) AS min_y, MAX(CAST(py AS INT)) AS max_y,
               NOT (MAX(CAST(px AS INT)) < {_Z_PRED_LO}
                    OR MIN(CAST(px AS INT)) > {_Z_PRED_HI}) AS scan_for_x_pred
        FROM ({walked})
        GROUP BY CAST(d >> {32 - ZORDER_FILES_LOG2} AS INT)
        ORDER BY file_id
    """


QUERIES["hilbert_layout"] = hilbert_layout
ORACLE_SQL["hilbert_layout"] = _hilbert_oracle_sql()
