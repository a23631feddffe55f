"""Table sources: parquet loaders for the driver testdata layout
(TESTDATA.md: region nation customer supplier part orders lineitem events
documents embeddings — one parquet per table, sf directories).

The reference has no I/O at all (data arrives as in-memory/dask arrays,
SURVEY.md §2.4) — sources are part of our Spark-native surface.

Gotcha handled here: the driver's ``events.parquet`` stores
``timestamp[ns]`` (INT64 TIMESTAMP(NANOS)), which Spark refuses to read
natively (PARQUET_TYPE_ILLEGAL).  With
``spark.sql.legacy.parquet.nanosAsLong=true`` (set in session.py) the column
arrives as BIGINT nanos and we cast to a microsecond timestamp at scan time —
a column expression, not a driver-side materialization, so it holds at any
scale.  DuckDB truncates ns→us the same way, keeping oracle parity exact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# columns stored as timestamp[ns] in driver parquet → read as long, cast
_NANOS_TS_COLS = {"events": ["ts"]}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table, normalizing timestamps to TIMESTAMP.

    The driver testdata has shipped ``events.ts`` in two encodings across
    rounds: INT64 TIMESTAMP(NANOS) (arrives as BIGINT nanos under
    ``nanosAsLong``) and naive ``timestamp[us]`` (arrives as TIMESTAMP_NTZ,
    which cannot cast to DOUBLE / feed ``unix_micros`` / carry a watermark in
    Spark 4).  Both are normalized here — once, at the scan — so every
    downstream operator sees one canonical type.  Session tz is pinned UTC,
    so the NTZ→TIMESTAMP cast is instant-preserving and DuckDB parity holds.
    """
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANOS_TS_COLS.get(name, []):
        if col in df.columns and dict(df.dtypes).get(col) == "bigint":
            # integer FLOOR division, all in int64: `/ 1000` would round-trip
            # through a double and lose precision (epoch nanos exceed 2^53),
            # and a bare `div` truncates toward ZERO, putting pre-epoch
            # nanos 1us late (r9 review) — subtracting pmod (always >= 0)
            # first makes the div exact and floor-consistent
            df = df.withColumn(
                col,
                F.timestamp_micros(
                    F.expr(f"(`{col}` - pmod(`{col}`, 1000)) div 1000")
                ),
            )
    # NTZ -> TIMESTAMP via the shared canonicalizer (dtypes.normalize_time)
    # so the cast logic and its UTC-pinning rationale live in ONE place
    from ..dtypes import normalize_time

    return normalize_time(df, *df.columns)


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register all tables as temp views for spark.sql() use."""
    for n, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(n)


def read_source(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options,
) -> DataFrame:
    """Generic batch source: parquet/orc/csv/json/text.

    Columnar formats (parquet/orc) get predicate pushdown + column pruning
    from Catalyst for free; for csv/json pass an explicit ``schema`` —
    schema inference reads the data twice and (for json) blocks pushdown.
    Common options forwarded verbatim (e.g. ``header=True``,
    ``recursiveFileLookup=True``, ``pathGlobFilter="*.parquet"``).
    """
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt == "csv":
        reader = reader.option("inferSchema", "true").option("header", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def read_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    max_files_per_trigger: int | None = None,
    **options,
) -> DataFrame:
    """File-based streaming source for the ``streaming`` module: new files
    landing under ``path`` become micro-batches.  Streaming file sources
    REQUIRE an explicit schema (no inference on unbounded input);
    ``max_files_per_trigger`` bounds per-batch work for backfill bursts.
    """
    if schema is None:
        raise ValueError("streaming sources require an explicit schema")
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    fmt: str = "parquet",
    output_mode: str = "append",
    partition_by: tuple[str, ...] = (),
    available_now: bool = False,
    processing_time: str | None = None,
    **options,
):
    """Streaming file sink: continuously land query results as
    ``fmt`` files under ``path`` (exactly-once via the write-ahead
    ``checkpoint`` directory — REQUIRED: without it a restarted query
    re-emits or drops batches).

    File sinks only support ``output_mode="append"``; aggregations
    therefore need a watermark so windows can finalize (use
    ``streaming.windowed_reduce``'s watermark argument, not complete
    mode).  ``available_now=True`` drains the current input and stops —
    the batch-backfill trigger; ``processing_time`` (e.g. ``"5 minutes"``)
    sets a fixed micro-batch cadence.  ``partition_by`` hive-partitions
    the output for downstream pruning, same as :func:`save_table`.
    Returns the started ``StreamingQuery`` (caller owns
    ``awaitTermination``).
    """
    writer = (
        df.writeStream.format(fmt)
        .outputMode(output_mode)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for k, v in options.items():
        writer = writer.option(k, v)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def save_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
    sort_by: tuple[str, ...] = (),
    max_records_per_file: int | None = None,
    **options,
) -> None:
    """Sink: write a result as parquet/orc/csv/json, optionally
    hive-partitioned by key columns.

    ``partition_by`` on a low-cardinality key gives downstream queries
    partition PRUNING (a filter on the key skips whole directories);
    ``sort_by`` sorts WITHIN each output task before writing, which
    clusters values so parquet row-group min/max statistics become
    selective — a range filter on a sorted column then skips most
    row groups at scan time (the poor man's Z-order; for one sort key it
    is optimal data skipping, no table format required).
    ``max_records_per_file`` caps file sizes so a skewed partition doesn't
    produce one giant file.  For a layout that also removes the aggregation
    shuffle, see :func:`~dask_groupby_spark.plans.bucket_table`.
    """
    if sort_by:
        # the file writer REQUIRES ordering on partition columns; sorting
        # by (partition_by, sort_by) satisfies it, otherwise Spark inserts
        # its own partition-column-only SortExec on top and the sort_by
        # clustering is lost whenever that sort spills
        df = df.sortWithinPartitions(*partition_by, *sort_by)
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 512,
    fmt: str = "parquet",
    sort_by: tuple[str, ...] = (),
) -> tuple[int, int]:
    """Small-files compaction: rewrite a fragmented table directory into
    ~``target_file_mb``-sized files.

    Streaming sinks and per-batch appends (``stream_ingest_dedup``,
    ``mode="append"`` sketch tables…) leave thousands of KB-sized files;
    at scan time each costs an open + footer read + seek, and the
    scheduler pays one task minimum per file — on object stores the
    request overhead dominates long before 100 TB.  Periodic compaction
    is the standard fix.

    Sizes come from the Hadoop FileSystem API (works for any scheme the
    session can read).  The data is read once, repartitioned to
    ``ceil(bytes / target)`` (``coalesce`` — no shuffle — when shrinking
    the partition count; a full repartition only when growing it), written
    to a temp sibling directory, then swapped in via delete + rename.
    The swap is NOT atomic on object stores without atomic rename —
    run compaction when no reader races the swap, or use a table format
    with snapshot isolation for that guarantee.  Operates on FLAT
    directories; compact a hive-partitioned table per partition
    directory, or the rewrite would inline the partition columns and
    lose the layout.  ``sort_by`` re-sorts within the new files (see
    :func:`save_table`).

    Returns ``(n_files_before, n_files_after)``.
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(conf)
    # heal a crash-interrupted previous swap — BOTH stems: the parked
    # data is the same live path regardless of which maintenance op
    # crashed, and healing only our own sibling would leave upsert-crash
    # wreckage to strand this call (and vice versa)
    _recover_interrupted_swap(fs, jvm, path, "__compact")
    _recover_interrupted_swap(fs, jvm, path, "__upsert")
    summary = fs.getContentSummary(jpath)
    n_before = int(summary.getFileCount())
    total_bytes = int(summary.getLength())
    n_parts = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))

    df = spark.read.format(fmt).load(path)
    cur = df.rdd.getNumPartitions()
    df = df.coalesce(n_parts) if n_parts <= cur else df.repartition(n_parts)
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)

    tmp = path.rstrip("/") + "__compact_tmp"
    old = path.rstrip("/") + "__compact_old"
    jtmp = jvm.org.apache.hadoop.fs.Path(tmp)
    jold = jvm.org.apache.hadoop.fs.Path(old)
    df.write.format(fmt).mode("overwrite").save(tmp)
    # crash-safe swap order: park the original FIRST, then move the new
    # copy in, then drop the parked one — a crash at any point leaves the
    # data recoverable under one of the three paths (delete-then-rename
    # would lose the live path entirely if the process died in between)
    if not fs.rename(jpath, jold):
        raise IOError(f"rename {path} -> {old} failed; new data is at {tmp}")
    if not fs.rename(jtmp, jpath):
        fs.rename(jold, jpath)  # roll back
        raise IOError(f"rename {tmp} -> {path} failed; original restored")
    fs.delete(jold, True)
    n_after = int(fs.getContentSummary(jpath).getFileCount())
    return n_before, n_after


def _recover_interrupted_swap(fs, jvm, path: str, stem: str) -> None:
    """Heal a crash inside the park → move → drop swap sequence that
    :func:`compact_table` / :func:`upsert_table` use (``stem`` is
    ``"__compact"`` or ``"__upsert"``).  Without this, a crash landing
    between the two renames leaves the live path MISSING with the real
    data parked at ``<path><stem>_old`` — and the next upsert call's
    missing-target → first-write branch would then silently drop the
    original table (ADVICE r6 #1, silent data loss).

    States and their recovery (the swap is: write tmp → rename path→old
    → rename tmp→path → delete old):

    - ``old`` exists, ``path`` exists: the swap COMPLETED and only the
      final cleanup delete was missed → drop ``old`` (and any stale
      ``tmp``), else the next park rename would collide with it.
    - ``old`` exists, ``path`` missing: crash mid-swap → ROLL BACK:
      restore ``old`` to ``path`` and drop the orphaned ``tmp``.  The
      interrupted call never returned success, so discarding its merged
      temp is the at-most-once outcome; the caller's fresh ``updates``
      re-apply on the healed table.
    - only ``tmp`` exists: crash during the temp write → harmless, the
      next ``mode("overwrite")`` replaces it.
    """
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    jold = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + stem + "_old")
    jtmp = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + stem + "_tmp")
    if not fs.exists(jold):
        return
    if fs.exists(jpath):
        fs.delete(jold, True)
    else:
        if not fs.rename(jold, jpath):
            raise IOError(
                f"recovery rename {path}{stem}_old -> {path} failed; "
                "original data is parked at the _old path — recover manually"
            )
    if fs.exists(jtmp):
        fs.delete(jtmp, True)


def upsert_table(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: "tuple[str, ...] | list[str] | str",
    fmt: str = "parquet",
) -> None:
    """MERGE-style upsert into a persisted flat table: rows of
    ``updates`` REPLACE target rows with the same key tuple, new keys
    append — the maintenance primitive for persisted MinHash indexes,
    sketch tables, and any slowly-changing dimension, without a table
    format dependency.

    Plan: target LEFT ANTI join the updates' distinct keys (AQE
    broadcasts the key set when it fits) ∪ updates, written to a temp
    sibling and swapped in with the same crash-safe park → move → drop
    sequence as :func:`compact_table` (same non-atomic-rename caveat on
    object stores — don't race readers).  The target is read ONCE,
    during the temp write; a missing target path degrades to a plain
    first write.  ``updates`` must be unique per key (pre-aggregate
    otherwise — which duplicate would win is undefined, as in SQL
    MERGE).  Schemas must match by name.
    """
    ks = [keys] if isinstance(keys, str) else list(keys)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(conf)
    # heal any crash-interrupted previous swap BEFORE the missing-target
    # check — otherwise the first-write branch below destroys the parked
    # original (ADVICE r6 #1).  BOTH stems: a compact-crash leaves the
    # same live path missing, and treating it as a first write would
    # lose the data parked at __compact_old just the same
    _recover_interrupted_swap(fs, jvm, path, "__upsert")
    _recover_interrupted_swap(fs, jvm, path, "__compact")
    if not fs.exists(jpath):
        updates.write.format(fmt).mode("overwrite").save(path)
        return
    target = spark.read.format(fmt).load(path)
    missing = set(ks) - set(target.columns)
    if missing:
        raise ValueError(f"key columns {sorted(missing)} not in target table")
    from ..core import nullsafe_join

    # null-SAFE key match: an updates row keyed NULL must REPLACE the
    # target's NULL-key row, not append next to it (plain `on=ks` anti
    # join keeps the target row because NULL = NULL is not TRUE)
    kept = nullsafe_join(target, updates.select(*ks).distinct(), ks, how="left_anti")
    merged = kept.unionByName(updates.select(*target.columns))

    tmp = path.rstrip("/") + "__upsert_tmp"
    old = path.rstrip("/") + "__upsert_old"
    jtmp = jvm.org.apache.hadoop.fs.Path(tmp)
    jold = jvm.org.apache.hadoop.fs.Path(old)
    merged.write.format(fmt).mode("overwrite").save(tmp)
    if not fs.rename(jpath, jold):
        raise IOError(f"rename {path} -> {old} failed; new data is at {tmp}")
    if not fs.rename(jtmp, jpath):
        fs.rename(jold, jpath)
        raise IOError(f"rename {tmp} -> {path} failed; original restored")
    fs.delete(jold, True)


def extract_json_fields(
    df: DataFrame,
    col: str,
    fields: dict,
    drop: bool = False,
) -> DataFrame:
    """Schema-on-read for a semi-structured JSON string column (event
    payloads, crawler metadata — the `events.props` shape): pull typed
    fields out with JVM-side path extraction, no Python in the loop.

    ``fields`` maps output column name → ``"$.path"`` or
    ``("$.path", "cast_type")`` (e.g. ``{"k": ("$.k", "bigint"),
    "tag": "$.meta.tag"}``).  Untyped fields stay STRING
    (``get_json_object`` semantics); missing paths / malformed JSON /
    NULL input give NULL — the standard lenient schema-on-read contract,
    so a bad payload never fails the pipeline (pair with
    ``validate.check_rules`` to COUNT them).  ``drop=True`` removes the
    raw column after extraction.

    Plan: pure map-side projection (one codegen'd JSON parse per
    referenced path) — zero shuffle at any scale; at 100 TB prefer
    extracting once into materialized columns (this function + a
    ``save_table``) over re-parsing JSON in every downstream query.
    """
    out = df
    for name, spec in fields.items():
        if isinstance(spec, str):
            path, cast = spec, None
        else:
            path, cast = spec
        c = F.get_json_object(F.col(col), path)
        if cast is not None:
            c = c.cast(cast)
        out = out.withColumn(name, c)
    if drop and col not in fields:
        # an output field named like the raw column has REPLACED it via
        # withColumn — dropping would delete the extracted value (r9 review)
        out = out.drop(col)
    return out
