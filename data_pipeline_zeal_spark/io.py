"""Fixture / table IO helpers.

Keeps scans declarative (``spark.read.parquet``) so Catalyst can push filters
and prune columns down to the parquet footers; never materializes eagerly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import FIXTURE_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Parquet file size that compaction and the streaming upsert sink's
#: small-file folding grow files toward.
TARGET_FILE_BYTES = 128 * 1024 * 1024

#: Columns stored as TIMESTAMP(NANOS) in the fixture parquet.  Spark reads
#: them as long (``spark.sql.legacy.parquet.nanosAsLong``); we convert to
#: microsecond timestamps with integer division (`div`), matching DuckDB's
#: nanos→micros truncation.
NANO_TS_COLS: dict[str, list[str]] = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _ensure_read_confs(spark: SparkSession) -> None:
    """Make fixture reads correct on ANY session, not just ``get_spark()``'s.

    Both confs are runtime-settable SQL confs; callers (driver harnesses,
    notebooks) often hand us a vanilla ``SparkSession`` that lacks them:

    * ``nanosAsLong`` — fixtures that store TIMESTAMP(NANOS), which Spark
      rejects by default (PARQUET_TYPE_ILLEGAL); read as long and convert
      below with integer division (nano epochs overflow double precision).
    * ``inferTimestampNTZ`` off — fixtures that store TIMESTAMP(MICROS,
      isAdjustedToUTC=false) would otherwise load as TIMESTAMP_NTZ, which
      rejects numeric casts (epoch arithmetic) and diverges from the
      reference's tz-aware UTC event time; with inference off they load as
      the session-UTC instant with identical wall-clock values, exactly
      what the DuckDB oracle sees reading the same naive parquet micros.
    * UTC session timezone — the reference stamps UTC end-to-end and the
      DuckDB oracle reads naive/UTC parquet timestamps.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


#: inferred-schema cache keyed on the parquet path's (mtime_ns, size) —
#: METADATA caching only (the catalog role SCALE.md prescribes for
#: production tables): schema inference re-reads footers on every
#: spark.read.parquet call, measured ~90 ms of driver time per
#: load_table at sf0.1 (~400 calls over a full bench suite ≈ 35 s of
#: pure fixed cost, guide §6 file-listing/planning).  A stale file is
#: detected by the stat key; values are never cached.
_SCHEMA_CACHE: dict = {}


def _fixture_schema(spark: SparkSession, path: str):
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        return None
    hit = _SCHEMA_CACHE.get(key)
    if hit is None:
        hit = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = hit
    return hit


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one fixture table (nano-timestamps normalized)."""
    _ensure_read_confs(spark)
    path = table_path(sf_dir, name)
    schema = _fixture_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    for c in NANO_TS_COLS.get(name, []):
        if c in df.columns and isinstance(df.schema[c].dataType, T.LongType):
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    return df


def _parse_bytes(v: str) -> int:
    """Parse a Spark size conf ("128MB", "134217728b", "1g") to bytes."""
    s = v.strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("tb", 1 << 40), ("k", 1 << 10), ("m", 1 << 20),
                      ("g", 1 << 30), ("t", 1 << 40), ("b", 1)):
        if s.endswith(suffix):
            s, mult = s[: -len(suffix)], m
            break
    return int(s) * mult


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Arrow-backed local DataFrame: same contents and schema as
    ``spark.createDataFrame(rows, schema)`` but planned as a JVM-only
    ``LocalTableScan`` instead of ``Scan ExistingRDD`` over pickled rows.

    The classic list-input path ships every partition through a Python
    worker at SCAN time (optimization guide §4 — the JVM<->Python
    boundary): measured on this box, each of the 32 default slices pays
    ~0.2 s of worker round-trip, so ``coalesce(1)`` over such a relation
    serializes them into one ~7 s task, and even the parallel form costs
    ~1 s per action.  Converting driver-side to ONE pyarrow table makes
    the scan pure JVM (~0.05 s), which matters because model frames
    (centroids, codebooks, probe batches) and eagerly-materialized
    results are re-scanned by joins, writes and the bench's noop force.

    Value fidelity is pinned by tests/test_local_frame.py: ints/floats
    (incl. NaN), strings, arrays, structs, decimals, timestamps
    (session-UTC), dates, binary and NULLs collect identically to the
    classic path.  Any conversion surprise falls back to
    ``spark.createDataFrame`` (coalesced to one partition so callers
    that rely on single-file staging — ``commit_write``'s local model
    commits — keep their layout on the fallback path too).
    """
    from collections.abc import Mapping

    if not isinstance(schema, T.StructType):
        schema = T._parse_datatype_string(schema)
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        names = schema.fieldNames()
        if len(set(names)) != len(names):
            # dict-shaped conversion would silently drop duplicates
            raise ValueError("duplicate column names")

        def _as_dict(r):
            # Row first (has asDict), then plain mappings BY KEY —
            # zip(names, dict) would silently pair names with the
            # dict's KEYS (r14 advice); sequences must match the schema
            # width exactly or from_pylist would null-fill/truncate
            # where the classic path raises.
            if hasattr(r, "asDict"):
                return r.asDict(recursive=True)
            if isinstance(r, Mapping):
                return dict(r)
            if len(r) != len(names):
                raise ValueError(
                    f"row width {len(r)} != schema width {len(names)}"
                )
            return dict(zip(names, r))

        data = [_as_dict(r) for r in rows]
        tbl = pa.Table.from_pylist(data, schema=to_arrow_schema(schema))
        df = spark.createDataFrame(tbl)
        # paranoia: the arrow path must reproduce the declared schema
        # exactly (nullable flags can differ harmlessly; types must not)
        if [f.dataType for f in df.schema.fields] != [
            f.dataType for f in schema.fields
        ]:
            raise ValueError("arrow schema drift")
        return df
    except Exception:
        return spark.createDataFrame(rows, schema).coalesce(1)


def scale_partitions(
    df: DataFrame, bytes_per_task: int = 32 * 1024 * 1024, floor: int = 1
) -> int:
    """Partition count derived from the optimizer's SIZE estimate — the
    scale-adaptive target for frames that feed ITERATIVE model-bounded
    jobs (distributed trainers).  Core-count-derived repartitioning
    (``defaultParallelism``) schedules ``cores`` tiny tasks per
    iteration on a 1 MB fixture — measured as the r14 anti-scaling
    signature (8-core runs beat 32-core) — while a 100 TB input yields
    thousands of partitions from the same rule.  Metadata-only, like
    :func:`with_min_parallelism`'s split estimate."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return floor
    return max(floor, -(-size // max(bytes_per_task, 1)))


def with_min_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition only if the scan would yield fewer splits than cores.

    Small single-file inputs (like the local fixtures) produce one parquet
    split, serializing CPU-bound per-row work; at production scale the scan
    already has thousands of splits and this is a no-op (no shuffle added).

    The split estimate is metadata-only — leaf-file count from the plan and
    the optimizer's size estimate over ``files.maxPartitionBytes`` — NOT an
    ``df.rdd`` probe: touching ``.rdd`` forces Python-side RDD lineage
    creation on every query, gratuitous at scale where this guard no-ops."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file source (rate, range, in-memory)
        return df
    if n_files == 0:
        return df
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        max_bytes = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
        )
        est_splits = max(n_files, -(-size // max(max_bytes, 1)))
    except Exception:
        est_splits = n_files
    if est_splits < target:
        return df.repartition(target)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or FIXTURE_TABLES)}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each fixture table as a temp view for ``spark.sql`` use."""
    for name in FIXTURE_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Run ANSI SQL over the fixture tables (the engine's ad-hoc query
    entry — Catalyst replaces the reference's template loader + Postgres,
    reference ``utils/infrastructure/query_loader.py:6-11``)."""
    register_views(spark, sf_dir)
    return spark.sql(query)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    max_records_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Batch parquet sink with layout control: hive-style partition
    directories (downstream reads get partition pruning for free) and a
    per-file record cap so a skewed partition writes many splittable files
    instead of one multi-GB straggler."""
    writer = df.write.mode(mode).option(
        "maxRecordsPerFile", str(max_records_per_file)
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def read_evolved(
    spark: SparkSession, path: str, expected: list[str] | None = None
) -> DataFrame:
    """Schema-evolution-safe parquet read for an append-only table whose
    writers added columns over time: ``mergeSchema`` unions every file
    footer's schema (old files surface new columns as NULL), and
    ``expected`` appends typed NULL columns that NO file carries yet — so
    a reader deployed ahead of its writers still compiles.

    Cost note: schema merging reads every footer at planning time (a
    driver-side listing pass, not a data scan); production tables should
    pin the merged schema in a catalog and pass it via ``.schema(...)``
    instead — this helper is the bridge until that exists.  ``expected``
    entries are ``name:type`` strings (Spark DDL types)."""
    df = spark.read.option("mergeSchema", "true").parquet(path)
    for spec in expected or []:
        name, _, dtype = spec.partition(":")
        if name not in df.columns:
            df = df.withColumn(name, F.lit(None).cast(dtype or "string"))
    return df


def _recover_compaction(path: str) -> None:
    """Roll back or finish a compaction swap of THIS table that crashed
    mid-rename: a stale sibling staging dir ``<path>.__compact_tmp`` is
    removed; ``<path>.__compact_old`` with no live ``<path>`` is renamed
    back (the crash hit between the two renames), while one whose live
    table exists is a completed swap that crashed before cleanup and is
    removed.  Scoped strictly to this table's two sibling names — never
    walks the parent tree, so concurrent compactions of sibling tables
    are untouched."""
    import os
    import shutil

    tmp = f"{path}.__compact_tmp"
    old = f"{path}.__compact_old"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    if os.path.isdir(old):
        if os.path.exists(path):
            shutil.rmtree(old)
        else:
            os.rename(old, path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    max_concurrency: int = 8,
) -> dict:
    """Small-file compaction — the table-maintenance pass every
    continuously-ingested parquet table needs: streaming micro-batches and
    fine-grained partition writes leave thousands of KB-sized files whose
    per-file open/footer cost eventually dominates scans.

    Hive-partitioned layouts are PRESERVED: every leaf directory holding
    parquet files is rewritten (coalesce to ceil(leaf_bytes /
    target_file_bytes) files — no shuffle, compaction only merges) into a
    SIBLING staging root ``<path>.__compact_tmp`` that mirrors the leaf
    structure, and the whole table swaps in with ONE two-rename exchange
    at the root.  Staging never lives inside the table, so concurrent
    readers cannot ingest half-written files or misparse staging dirs as
    ``key=value`` partitions, and nested leaves (files at the root AND in
    subdirectories) rewrite independently with no ancestor-rename hazard.
    Leaf rewrites run concurrently on a small driver thread pool (Spark
    schedules the jobs in parallel), bounding the serial-job latency a
    1000-partition table would otherwise pay.  :func:`_recover_compaction`
    runs first and rolls back (or finishes) a swap a previous crash left
    half-done — the same recovery contract as the idempotent streaming
    parquet sink.  Listing is driver-side ``os.walk``; on a real object
    store the same numbers come from the store's listing API.

    Returns ``{"files_before", "files_after", "bytes", "partitions"}``
    summed over the leaves (``partitions`` = total output file budget).
    """
    import os
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    _recover_compaction(path)
    leaves: dict[str, list[int]] = {}
    for root, _, files in os.walk(path):
        sizes = [
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        ]
        if sizes:
            leaves[os.path.relpath(root, path)] = sizes
    if not leaves:
        return {"files_before": 0, "files_after": 0, "bytes": 0, "partitions": 0}
    files_before = sum(len(s) for s in leaves.values())
    total_bytes = sum(sum(s) for s in leaves.values())
    tmp_root = f"{path}.__compact_tmp"

    def rewrite(rel: str) -> int:
        n_out = max(1, -(-sum(leaves[rel]) // target_file_bytes))  # ceil div
        # reading the LEAF directory keeps partition values in the path,
        # untouched and never re-inferred into the data files
        df = spark.read.parquet(os.path.join(path, rel))
        df.coalesce(int(n_out)).write.mode("overwrite").parquet(
            os.path.join(tmp_root, rel)
        )
        return int(n_out)

    # the root leaf (rel ".") writes tmp_root itself with overwrite, which
    # would clobber nested leaves written before it — do it first, alone
    ordered = sorted(leaves, key=lambda r: (r != ".", r))
    n_total = 0
    if ordered and ordered[0] == ".":
        n_total += rewrite(".")
        ordered = ordered[1:]
    if ordered:
        with ThreadPoolExecutor(min(max_concurrency, len(ordered))) as ex:
            n_total += sum(ex.map(rewrite, ordered))
    old = f"{path}.__compact_old"
    os.rename(path, old)
    os.rename(tmp_root, path)
    shutil.rmtree(old)
    files_after = sum(
        1
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": total_bytes,
        "partitions": int(n_total),
    }


def load_wire_events(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of wire-format JSONL event dumps (one JSON object per
    line — the Kafka topic's serialization): offline replay/backfill of a
    topic archive through the same permissive parse + bad-record drop as
    the streaming path."""
    from .streaming.pipeline import parse_events

    return parse_events(spark.read.text(path).select(F.col("value").alias("raw")))


def read_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    predicates: list[str] | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """JDBC source (reference S6: the API's pooled Postgres reads).

    For parallel reads pass ``partition_column`` + bounds (Spark issues one
    range-partitioned query per partition) or explicit ``predicates``;
    a bare read is a single-connection scan — fine for the aggregate table
    (small), wrong for facts."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    if predicates:
        return spark.read.jdbc(url, table, predicates=predicates)
    return reader.load()


def load_csv_events(
    spark: SparkSession, path: str, keep_corrupt: bool = False
) -> DataFrame:
    """Batch CSV ingestion of event dumps with the SAME bad-record
    contract as the wire parse (`streaming.pipeline.parse_events`,
    reference ``kafka_consumer.py:104-107``): PERMISSIVE mode captures
    unparseable lines in ``_corrupt_record`` instead of failing the job,
    and rows missing required fields are dropped.

    ``keep_corrupt=True`` returns the raw parse INCLUDING the corrupt
    column so a DQ audit (`operators.quality`) can count and quarantine
    bad lines before the drop — at 100 TB the audit and the load share
    one scan.  Two Spark caveats for that audit, both parser-level: plans
    referencing ONLY ``_corrupt_record`` are rejected
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and corruption is detected at
    parse time of PROJECTED columns only (CSV column pruning), so the
    quarantine pass must materialize all columns (cache or select *).
    CSV splits per file block, so parallelism follows input size with no
    extra knobs."""
    from pyspark.sql import types as T

    from .schemas import EVENT_WIRE_SCHEMA

    csv_schema = T.StructType(
        EVENT_WIRE_SCHEMA.fields
        + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    raw = (
        spark.read.format("csv")
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]")
        .schema(csv_schema)
        .load(path)
    )
    if keep_corrupt:
        return raw
    return raw.filter(
        F.col("_corrupt_record").isNull()
        & F.col("event_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("timestamp").isNotNull()
    ).drop("_corrupt_record")


def write_training_shards(
    documents: DataFrame, path: str, n_shards: int = 8, mode: str = "overwrite"
) -> None:
    """Materialize the deterministic global shuffle to disk: one
    ``shard=N`` directory per training shard, rows stored in their
    reproducible shuffle order (``corpus.shuffle_shards`` assignment) —
    the "shuffle once, read sequentially forever" export a training run
    consumes.

    One shard-keyed exchange (each task sorts only its own ~1/n of the
    corpus: shard + position are computed from md5, so a rerun or
    backfill writes byte-identical order) and a partitioned parquet
    write; no global sort, no single-reducer stage."""
    from .operators.corpus import shuffle_shards

    assignment = shuffle_shards(documents, n_shards=n_shards)
    (
        documents.join(assignment, "doc_id")
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "position")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )
