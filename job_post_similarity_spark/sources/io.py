"""Scans and sinks (SURVEY.md §2.1, S1-S5).

The reference's sources are CSV + .npy side-car matrices
(app/preprocess_data.py:9-22, app/generate_embeddings.py:52-68).
Here everything is a table: parquet by default (columnar, predicate
pushdown, column pruning at the scan), CSV for reference-format
fidelity. The .npy embedding matrix + positionally-aligned id list
becomes a single ``(id, embedding array<float>)`` table — the
alignment bugs the reference guards against (app/main.py:93-94,
app/vector_search.py:137-139) cannot exist.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S5/S1: parquet scan. Catalyst pushes filters + prunes columns."""
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """S1: CSV scan (reference: app/preprocess_data.py:9-22).

    Explicit schema preferred — inferSchema costs an extra pass and is
    nondeterministic across files; the reference's all-string inference
    (pandas object dtype) is matched by passing a all-string schema.
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "false")  # all columns string
    return reader.csv(path)


def schema_peek(spark: SparkSession, path: str, fmt: str = "parquet") -> list[str]:
    """S3: header-only probe (reference: notebook cell 0 pd.read_csv(nrows=0)).

    Reads footer/header metadata only — no data scan.
    """
    if fmt == "parquet":
        return spark.read.parquet(path).columns
    return spark.read.option("header", "true").csv(path).columns


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table, normalizing the embedding column.

    Embeddings are cast to ``array<double>`` once at the scan so every
    downstream arithmetic op is double-precision (matches the DuckDB
    oracle, which promotes list elements to double).
    """
    # Session-independence for sessions not built by our factory (e.g.
    # the round driver's own SparkSession): timestamp rendering, year()
    # extraction, and timestamp-vs-string-literal comparisons all
    # follow the session TZ, while the parquet timestamps (and DuckDB's
    # view of them) are naive — they only agree in UTC. Runtime conf,
    # same pattern as nanosAsLong below.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # older driver testdata wrote events.ts as TIMESTAMP(NANOS),
        # which Spark can only read as long; set the legacy conf here
        # (it is a runtime conf) so sessions not built by our factory
        # read that format too — harmless for timestamp[us] files
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "embeddings":
        df = df.withColumn("embedding", F.col("embedding").cast("array<double>"))
    ts_type = dict(df.dtypes).get("ts")
    if name == "events" and ts_type == "bigint":
        # TIMESTAMP(NANOS) parquet read via nanosAsLong: ns → µs timestamp
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif name == "events" and ts_type == "timestamp_ntz":
        # timestamp[us] parquet (no UTC adjustment) infers as NTZ;
        # normalize to TimestampType — the session TZ is pinned UTC
        # above, so the wall clock is preserved and every downstream
        # operator sees one canonical ts type across testdata vintages
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    dynamic_overwrite: bool = False,
) -> None:
    """Parquet sink. At 100 TB scale: partition by a low-cardinality key
    (date/source) so downstream scans prune partitions.

    ``dynamic_overwrite=True`` switches overwrite to DYNAMIC partition
    mode for this write: only partitions present in ``df`` are
    replaced, the rest of the lake is untouched — the incremental
    backfill/update pattern (static mode, Spark's default, would drop
    EVERY existing partition first). Scoped per-write via the
    DataFrameWriter option, not a session-wide conf flip."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if dynamic_overwrite:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S4: CSV sink (reference: df.to_csv at app/main.py:272).

    ``single_file=True`` coalesces to 1 partition for byte-level
    fidelity with the reference's single-CSV output — only for small
    results (the pair list), never for table-scale data.
    """
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", "true").csv(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    out_path: str | None = None,
) -> str:
    """Lake maintenance: rewrite a parquet dataset into ~target-sized
    files. Small-file proliferation (streaming appends, per-batch
    writes) degrades scan parallelism and NameNode/listing pressure at
    scale; periodic compaction is the standard fix.

    Sizes by actual on-disk bytes; writes to ``out_path`` (or
    ``<path>__compacted``) then the caller swaps — never rewrites in
    place, so a failed compaction can't lose data.
    """
    import glob

    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    total_mb = sum(os.path.getsize(f) for f in files) / (1024 * 1024)
    n_files = max(1, int(total_mb / target_file_mb) + (total_mb % target_file_mb > 0))
    out = out_path or (path.rstrip("/") + "__compacted")
    spark.read.parquet(path).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(out)
    return out


def cached_stage(
    spark: SparkSession, path: str, compute, fmt: str = "parquet"
) -> DataFrame:
    """Stage memoization: compute-and-write iff the output is absent.

    Mirrors the reference's file-existence caching between pipeline
    stages (app/main.py:110,130,177) with parquet checkpoints.

    A stage computed by this call is read back under the schema it was
    written with: ``spark.read.parquet`` would launch a schema-inference
    job, and the explicit schema reads back identical (file sources
    force every field nullable, as inference does). A stage that
    already exists keeps inference.
    """
    success = os.path.join(path, "_SUCCESS")
    if os.path.exists(success):
        return spark.read.parquet(path)
    df = compute()
    df.write.mode("overwrite").parquet(path)
    return spark.read.schema(df.schema).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 8,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a hash-BUCKETED (and within-bucket sorted)
    parquet table — the co-location primitive for repeated large-table
    joins: two tables bucketed by the same key into the same bucket
    count join with ZERO shuffle on either side (the scan itself
    reports the hash partitioning to the planner).

    At 100 TB this is the difference between re-shuffling a fact
    table on every join and paying the shuffle ONCE at write time —
    the same trade the streaming signature store makes
    (streaming/stream_ops.py). ``sortBy`` makes the merge join
    sort-free too. Catalog-backed (``saveAsTable``): bucketing
    metadata lives in the metastore, so a fresh session picks the
    layout up by table name.
    """
    w = df.write.format("parquet").mode(mode)
    if path is not None:
        w = w.option("path", path)
    w.bucketBy(num_buckets, bucket_col).sortBy(bucket_col).saveAsTable(table)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: str | list[str],
    how: str = "inner",
) -> DataFrame:
    """Join two catalog tables previously written with
    ``write_bucketed`` on their bucket key. With matching bucket
    counts the plan is a shuffle-free sort-merge join (assert: no
    ``Exchange hashpartitioning`` in the plan — tests do). Broadcast
    is disabled for this join so the co-location actually exercises
    (a broadcast would also avoid the shuffle, but only while one
    side fits in memory — bucketing is the any-size path).
    """
    left = spark.table(left_table).hint("merge")
    right = spark.table(right_table).hint("merge")
    return left.join(right, on, how)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
) -> DataFrame:
    """Read newline-delimited JSON — the lingua franca of LLM training
    corpora (one document object per line).

    Pass ``schema`` (DDL string) whenever it is known: schemaless JSON
    reads cost a FULL extra pass over the data just to infer types,
    and at 100 TB that doubles the scan bill. With a schema the read
    is single-pass and Catalyst prunes unreferenced fields during
    parsing. Malformed lines land in nulls (PERMISSIVE), matching
    ``preprocess.parse_json_fields``.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, single_file: bool = False) -> None:
    """Write newline-delimited JSON (one object per row). Column types
    serialize per Spark's JSON rules (timestamps ISO-8601, arrays as
    JSON arrays). ``single_file`` coalesces to one part — export
    convenience only; keep the default for anything large."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — the other columnar lake format (Hive-lineage
    warehouses). Same pushdown/pruning properties as parquet; Spark's
    native vectorized ORC reader handles it without extra packages."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (snappy by default, like the parquet sink)."""
    df.write.mode(mode).orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema: T.StructType | None = None,
) -> DataFrame:
    """XML scan — Spark 4's NATIVE xml data source (the spark-xml
    package folded into core). ``row_tag`` names the repeating
    element; explicit ``schema`` preferred for the same reasons as
    CSV (inference costs a pass and is nondeterministic across
    files). Feeds/exports and legacy enterprise dumps are the use
    case — columnar formats remain the lake default."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(
    df: DataFrame,
    path: str,
    row_tag: str = "row",
    root_tag: str = "rows",
    mode: str = "overwrite",
) -> None:
    """XML sink (native Spark 4 writer)."""
    (
        df.write.mode(mode)
        .format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .save(path)
    )


def morton_key(col_a, col_b, bits: int = 16):
    """Z-order (Morton) key of two integer columns as a pure JVM
    column expression: bit ``i`` of each input lands at output bits
    ``2i`` / ``2i+1``, so sorting by the key clusters rows that are
    close in BOTH dimensions. Inputs are masked to ``bits`` low bits
    (non-negative keys assumed — mask first, so negative values
    degrade to their low bits rather than poisoning the sign).

    The expression is ``2*bits`` shift-and-mask terms OR'd together —
    whole-stage-codegen folds it into straight-line JVM code; no UDF.
    """
    a = (F.col(col_a) if isinstance(col_a, str) else col_a).cast("long")
    b = (F.col(col_b) if isinstance(col_b, str) else col_b).cast("long")
    mask = (1 << bits) - 1
    a = a.bitwiseAND(F.lit(mask))
    b = b.bitwiseAND(F.lit(mask))
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def morton_key_sql(col_a: str, col_b: str, bits: int = 16) -> str:
    """ANSI-SQL rendering of ``morton_key`` (same shift-and-mask
    terms) so oracles can compute the identical integer key."""
    mask = (1 << bits) - 1
    # every term fully parenthesized: bitwise <<, >>, &, | share one
    # precedence level (left-assoc) in several engines, so an unwrapped
    # `a << 10 | b << 11` would parse as `((a << 10) | b) << 11`
    terms = []
    for i in range(bits):
        terms.append(f"(((({col_a} & {mask}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({col_b} & {mask}) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


def write_zordered(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    bits: int = 16,
    num_files: int = 8,
) -> None:
    """Z-order-clustered parquet write: range-partition and sort by
    the Morton key of two filter columns, WITHOUT materializing the
    key into the data.

    Why it matters at 100 TB: parquet readers skip files/row-groups
    whose min/max column stats exclude the predicate. A sort on one
    column makes only that column's stats selective; sorting on the
    interleaved key bounds every file to a small rectangle in BOTH
    dimensions, so point/range filters on either column prune most
    files (the Delta/Iceberg OPTIMIZE ZORDER layout, done with plain
    open-source Spark primitives). ``repartitionByRange`` samples the
    key distribution, so skew in the raw keys does not skew files.
    """
    z = morton_key(cols[0], cols[1], bits)
    (
        df.repartitionByRange(num_files, z)
        .sortWithinPartitions(z)
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_files(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_mb: int = 128,
) -> int:
    """Small-file compaction — the data-lake maintenance job that
    keeps a 100 TB table scannable: streaming sinks and per-partition
    writers leave thousands of KB-sized parquet files, and every
    downstream scan then pays one task + one footer read per file.
    Rewrites ``src_path`` into ``ceil(total_bytes / target)`` files
    at ``dst_path`` and returns that file count.

    Sizing comes from the filesystem listing (no data pass);
    ``repartition(n)`` is one round-robin shuffle — the rewrite cost
    is the data size, the win is every future scan. Compact into a
    NEW path and swap atomically (the crash-safe move-aside pattern
    compact_signature_store already uses for its bucketed lake).
    """
    import math
    import os

    total = 0
    for root, _dirs, files in os.walk(src_path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(src_path)
    df.repartition(n_files).write.mode("overwrite").parquet(dst_path)
    return n_files


def read_text_lines(
    spark: SparkSession,
    path: str,
    with_file: bool = False,
) -> DataFrame:
    """Line-delimited raw-text source: one row per line in ``value``
    (the ingest format of most web-crawl/text dumps before any
    schema exists). ``with_file=True`` adds ``source_file`` — the
    provenance column a curation pipeline carries through to
    attribute survivors back to their dump shard. Splittable scan:
    line boundaries are found per HDFS block, so a 100 TB dump
    parallelizes without a repartition."""
    df = spark.read.text(path)
    if with_file:
        df = df.withColumn(
            "source_file", F.input_file_name()
        )
    return df


def write_text_lines(df: DataFrame, path: str, column: str = "value") -> None:
    """Inverse of ``read_text_lines``: one line per row from a single
    string column."""
    df.select(F.col(column).cast("string").alias("value")).write.mode(
        "overwrite"
    ).text(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
) -> DataFrame:
    """Binary-file source (``binaryFile`` format): one row per file
    with ``(path, modificationTime, length, content binary)`` — the
    ingestion edge of the multimodal family (image/audio/video
    payloads land here, then flow through
    ``operators.multimodal.decode_features`` etc. as opaque binary +
    typed metadata). ``glob`` filters by pattern
    (e.g. ``*.png``). Driver lists files, executors read contents —
    at 100 TB pair with ``spark.sql.files.maxPartitionBytes`` so
    many small payloads pack into one task."""
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    return r.load(path)


def read_csv_robust(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Error-tolerant CSV scan: PERMISSIVE mode with an explicit
    corrupt-record column — malformed rows land whole in
    ``corrupt_col`` (other fields null) instead of killing the job or
    silently vanishing (DROPMALFORMED). The ingest contract for
    crawled/third-party dumps at 100 TB: the pipeline quarantines
    ``corrupt_col IS NOT NULL`` rows to a dead-letter table and the
    clean rows flow on, one scan, no retry loop.

    The schema is REQUIRED (corrupt-record capture needs a schema to
    disagree with) and ``corrupt_col`` is appended to it here.
    """
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    return (
        spark.read.option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(full)
        .csv(path)
    )


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: union the schemas of every parquet file
    under ``path`` (``mergeSchema``) — columns added by newer writers
    surface as nulls on old files instead of being silently dropped
    (the default reads ONE random footer). The lake-evolution
    contract: additive columns are safe; type CHANGES still fail the
    merge loudly, which is the correct failure. Costs a footer read
    per file at planning — at 100 TB keep evolved tables compacted or
    carry the merged schema in a catalog instead."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def calendar_table(
    spark: SparkSession,
    start: str,
    end: str,
) -> DataFrame:
    """Date-dimension generator: one row per day in [start, end]
    (ISO strings) with the standard warehouse attributes — the
    conformed dimension time-series joins hang off. Generated from
    ``spark.range`` over epoch days (no driver loop), weekday via
    the engine-portable epoch-day formula (``seasonality_profile``'s
    trick). Columns: date, year, quarter, month, day, iso_dow,
    is_weekend, year_month.
    """
    from datetime import date

    d0 = date.fromisoformat(start)
    d1 = date.fromisoformat(end)
    n = (d1 - d0).days + 1
    if n <= 0:
        raise ValueError(f"empty calendar range {start}..{end}")
    base = spark.range(n).select(
        F.date_add(F.lit(start).cast("date"), F.col("id").cast("int"))
        .alias("date")
    )
    epoch_day = F.datediff(F.col("date"), F.lit("1970-01-01").cast("date"))
    iso_dow = F.pmod(epoch_day + F.lit(3), F.lit(7)) + F.lit(1)
    return base.select(
        "date",
        F.year("date").alias("year"),
        F.quarter("date").alias("quarter"),
        F.month("date").alias("month"),
        F.dayofmonth("date").alias("day"),
        iso_dow.cast("int").alias("iso_dow"),
        (iso_dow >= 6).alias("is_weekend"),
        F.date_format("date", "yyyy-MM").alias("year_month"),
    )


def observed_stage(
    df: DataFrame,
    name: str,
    counters: dict[str, "F.Column"] | None = None,
):
    """Attach observable metrics to a pipeline stage (Spark's
    ``Observation`` API): row count plus any caller-supplied
    aggregate expressions are collected as a side effect of whatever
    action the caller already runs — at 100 TB the alternative
    (separate ``count()``/``agg()`` actions per stage) re-scans the
    input once per metric, while observed metrics ride the existing
    job for free.

    Returns ``(df, observation)``; read ``observation.get`` AFTER an
    action has run on the returned frame. Typical use: per-stage
    row-count accounting in the curation funnel, null-rate
    monitoring on ingest.
    """
    from pyspark.sql import Observation

    metrics = {"n_rows": F.count(F.lit(1))}
    if counters:
        metrics.update(counters)
    obs = Observation(name)
    out = df.observe(obs, *[v.alias(k) for k, v in metrics.items()])
    return out, obs
