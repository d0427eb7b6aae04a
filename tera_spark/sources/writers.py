"""Graph sinks — K1/K2 (SURVEY.md §2.1).

Production target is partitioned Iceberg tables (north_star); this sandbox
has no Iceberg jars, so the writer dispatches: Iceberg ``writeTo`` when the
session has a catalog configured, parquet layout otherwise — same paths,
same partitioning spec, so pipeline code is identical in both worlds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        return bool(spark.conf.get("spark.sql.catalog.tera", None))
    except Exception:
        return False


def bucket_expr(col: str, n: int) -> Column:
    """The hash-bucket id of ``col``: ``pmod(xxhash64(col), n)``."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n)).cast("int")


def cluster_buckets(df: DataFrame, n: int) -> DataFrame:
    """Cluster ``df`` by its ``_bucket`` column (values ``0..n-1``) for a
    ``partitionBy("_bucket")`` write: ONE shuffle into
    ``min(n, defaultParallelism)`` partitions — one write task per core,
    not one per bucket (32 reduce tasks on 4 cores were mostly per-task
    overhead at stage sizes). A row goes to partition ``_bucket mod
    width`` (``repartitionById``), so each ``_bucket=i`` directory still
    gets exactly one file per write and every task writes the same number
    of buckets. Hashing the bucket ids instead (``repartition(width,
    "_bucket")``) puts 5/7/10/10 of 32 buckets on 4 tasks: run_pipeline
    at ~477k turns on 4 cores then took 63–65 s warm against 49–53 s with
    32 tasks. Downstream dedups keyed on ``["_bucket", …]`` ride this same
    exchange (Catalyst recognizes the partitioning, test_plans), so
    dedup + clustering + write is a single shuffle. The width is numbered
    on purpose: an unnumbered ``repartition("_bucket")`` is coalesced by
    AQE to one task at small sizes, which measured slower than one task
    per core."""
    width = min(n, df.sparkSession.sparkContext.defaultParallelism)
    return df.repartitionById(width, F.col("_bucket"))


def bucketize(df: DataFrame, n: int, col: str) -> DataFrame:
    """Materialize the hash-bucket column ``bucket_expr(col, n)`` and
    cluster rows by it (``cluster_buckets``)."""
    return cluster_buckets(df.withColumn("_bucket", bucket_expr(col, n)), n)


def write_table(
    df: DataFrame,
    path_or_table: str,
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, str] | None = None,
    mode: str = "overwrite",
    pre_bucketed: bool = False,
) -> None:
    """Write a stage table. With Iceberg: ``writeTo(...).partitionedBy(
    bucket(N, col))``. Parquet fallback: hash-bucket column materialized
    explicitly (``pmod(xxhash64(col), N)``) and used as the partition dir —
    the same co-location property (all rows of one conv_id land in one
    bucket) with plain files. ``pre_bucketed``: ``df`` already went through
    ``bucketize`` (carries ``_bucket``, clustered) — write directly."""
    spark = df.sparkSession
    if _iceberg_available(spark):
        if pre_bucketed:
            df = df.drop("_bucket")
        writer = df.writeTo(f"tera.{path_or_table}")
        if bucket_by:
            n, col = bucket_by
            writer = writer.partitionedBy(F.bucket(n, col))
        elif partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.createOrReplace()
        return
    if pre_bucketed:
        df.write.mode(mode).partitionBy("_bucket").parquet(path_or_table)
    elif bucket_by:
        n, col = bucket_by
        df = bucketize(df, n, col)
        df.write.mode(mode).partitionBy("_bucket").parquet(path_or_table)
    elif partition_by:
        df.write.mode(mode).partitionBy(*partition_by).parquet(path_or_table)
    else:
        df.write.mode(mode).parquet(path_or_table)


def materialize_graph(graph: DataFrame, path: str, fused_dedup: bool = False) -> None:
    """Materialize a triples DataFrame partitioned BY PREDICATE — the
    layout the read path wants: every Q1-Q14 pattern starts by slicing on
    ``predicate`` (SURVEY.md §2.8), so each edge-table scan becomes a
    partition-pruned read instead of a full-graph filter. Predicate
    cardinality is small (schema-sized), so this creates dozens of
    partitions, not millions.

    ``fused_dedup=True``: the input still needs set-semantics dedup (A1) —
    fold it into THIS write's shuffle instead of paying a separate
    hash(s,p,o) exchange upstream (same trick as the pipeline stage write,
    run.py): cluster by (predicate, _b) where ``_b = hash(s,p,o) % n`` is
    functionally determined by the dedup keys, then dropDuplicates with
    the cluster columns prefixed onto the keys so Catalyst reuses the
    exchange. One shuffle total, and every output task holds few
    predicates, so the file count is ~(tasks-per-predicate), not
    (tasks × predicates)."""
    if fused_dedup:
        n = graph.sparkSession.sparkContext.defaultParallelism
        g = graph.withColumn(
            "_b",
            F.pmod(F.xxhash64("subject", "predicate", "object"), F.lit(n)).cast("int"),
        )
        g = g.repartition(n, "predicate", "_b")
        g = g.dropDuplicates(["predicate", "_b", "subject", "object"]).drop("_b")
        g.write.mode("overwrite").partitionBy("predicate").parquet(path)
        return
    graph.write.mode("overwrite").partitionBy("predicate").parquet(path)


def read_graph(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    return df.select("subject", "predicate", "object", "obj_is_literal")


def read_table(
    spark: SparkSession, path_or_table: str, schema: StructType | None = None
) -> DataFrame:
    """Read a stage table back, ``_bucket`` dropped. ``schema``: the schema
    the caller just wrote (``_bucket`` included) — given it, the parquet
    read skips footer schema inference, which is a Spark job of its own.
    Iceberg tables carry their schema and ignore it."""
    if _iceberg_available(spark):
        return spark.read.table(f"tera.{path_or_table}")
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path_or_table)
    return df.drop("_bucket") if "_bucket" in df.columns else df
