"""Table sinks (OP-sink-delta / OP-sink-partitioned) + catalog ops.

The reference materializes every layer as a full-overwrite managed
Delta table, optionally partitioned by a date column
(/root/reference/02_silver/02_silver_transform.py:29-37,
/root/reference/03_gold/03_gold_aggregate.py:24-31). Here: Delta when
the runtime has it, Parquet otherwise (identical layout semantics).

The medallion refresh (:func:`..plans.pipeline.run_pipeline`) writes
no partition directories: each table with a date column has its rows
sorted by the date inside each file, so every dashboard's BETWEEN
predicate prunes on the row groups' and files' min/max statistics
(Delta Lake, VLDB'20, trades fine-grained partitions for statistics
plus clustering the same way). A date directory pays off only once one
date's rows fill a file (``spark.sql.files.maxPartitionBytes``,
128 MB); at the largest generated scale (sf1) the densest table holds
under 1 MB a date, so no workload here reaches that point.
``write_table``'s explicit ``partition_by`` stays for callers that
know their sizes.

The table-format behaviors themselves — atomic versioned commits,
schema enforcement/evolution, time travel, log-level partition
pruning, MERGE, vacuum — are implemented and tested against the open
Delta transaction-log protocol in :mod:`.deltalog` (this runtime has
no delta-spark package). That API is explicit opt-in, not this
function's fallback: a mini-log table keeps removed files on disk for
time travel, so plain ``spark.read.parquet(path)`` readers of
pipeline output would see stale rows if it were the default sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _delta_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.spark.sql.delta.DeltaLog")
        return True
    except Exception:
        return False


def write_table(
    df: DataFrame,
    path: str,
    partition_by: str | list[str] | None = None,
    mode: str = "overwrite",
    fmt: str | None = None,
) -> int | None:
    """Full-overwrite materialization, optionally partitioned.

    Idempotent overwrite is the pipeline's fault-tolerance story
    (rerun any layer in order) — same as the reference's
    ``mode("overwrite")`` + ``overwriteSchema`` everywhere.

    ``fmt="minidelta"`` routes through the in-repo Delta-protocol
    transaction log (:mod:`.deltalog`): versioned atomic commits,
    overwrite-schema evolution, time travel and CDF on the pipeline
    outputs — the managed-Delta sink contract
    (01_bronze_ingest.py:34, 02_silver_transform.py:29-37) when the
    delta-spark runtime is absent. Readers must then go through
    :func:`read_table` with the same fmt (the log, not a directory
    listing, defines the active file set); the call returns the
    table version it committed. The other sinks return None.
    """
    cols = [partition_by] if isinstance(partition_by, str) else list(partition_by or [])
    if fmt == "minidelta":
        from .deltalog import MiniDeltaTable

        return MiniDeltaTable(df.sparkSession, path).write(
            df,
            mode=mode,
            partition_by=cols or None,
            # the reference writes overwriteSchema=true on every
            # overwrite; mirror that blanket opt-in
            overwrite_schema=(mode == "overwrite"),
        )
    fmt = fmt or ("delta" if _delta_available(df.sparkSession) else "parquet")
    writer = df.write.format(fmt).mode(mode)
    if fmt == "delta":
        writer = writer.option("overwriteSchema", "true")
    if cols:
        writer = writer.partitionBy(*cols)
    writer.save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: str | list[str],
    n_buckets: int,
    sort_cols: str | list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table write: pre-shuffles once at write time so
    every later equi-join/aggregation on the bucket key runs with NO
    exchange (and, with ``sort_cols``, no sort) — the co-located-join
    layout for fact-fact joins at 100 TB, where the repeated shuffle of
    the big side is the dominant cost. Bucket both sides with the same
    key and bucket count; tests/test_bucketing.py asserts the
    shuffle-free plan.

    Bucketing requires ``saveAsTable`` (bucket metadata lives in the
    catalog, not the parquet files); Delta ignores Hive bucketing, so
    this writes parquet explicitly.
    """
    bcols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    writer = (
        df.write.format("parquet").mode(mode).bucketBy(n_buckets, *bcols)
    )
    if sort_cols:
        scols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        writer = writer.sortBy(*scols)
    writer.saveAsTable(table)


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Read a table written by :func:`write_table`. ``schema`` is the
    schema the writer wrote, when the caller knows it: a parquet read
    then skips schema inference, the job that reads a file footer
    before the query starts. Delta reads (either log) ignore it: the
    log holds the schema, and delta-spark refuses a read schema."""
    if fmt == "minidelta":
        from .deltalog import MiniDeltaTable

        return MiniDeltaTable(spark, path).read()
    fmt = fmt or ("delta" if _delta_available(spark) else "parquet")
    reader = spark.read.format(fmt)
    if schema is not None and fmt == "parquet":
        reader = reader.schema(schema)
    return reader.load(path)


def list_tables(spark: SparkSession, schema: str | None = None) -> list[str]:
    """OP-catalog-list (SHOW TABLES, 01_bronze_ingest.py:43): a real
    ``SHOW TABLES IN <schema>`` metastore round-trip when a schema is
    named (the reference's namespace enumeration), the session
    catalog's listing otherwise."""
    if schema:
        # SHOW TABLES IN <db> also lists the session's TEMP VIEWS
        # (isTemporary=true, empty namespace) — those are not part of
        # the named schema, so a workspace with registered views would
        # otherwise leak into every database listing
        return sorted(
            r["tableName"]
            for r in spark.sql(f"SHOW TABLES IN {schema}").collect()
            if not r["isTemporary"]
        )
    return [t.name for t in spark.catalog.listTables()]


def peek(df: DataFrame, n: int = 5) -> list:
    """OP-peek: bounded preview (df.limit(n) display idiom)."""
    return df.limit(n).collect()


def table_counts(tables: dict[str, DataFrame]) -> dict[str, int]:
    """OP-count: the silver summary-count loop
    (02_silver_transform.py:261-273)."""
    return {name: df.count() for name, df in tables.items()}
