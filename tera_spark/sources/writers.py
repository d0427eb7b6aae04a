"""Graph sinks — K1/K2 (SURVEY.md §2.1).

Plain parquet layout: every pipeline table is a directory with one
``_bucket=i`` level (``bucket_expr``), clustered by ``cluster_buckets``.
The one writer of that layout is ``pipeline/run.py write_bucketed``;
this module holds its two building blocks, the predicate-partitioned
graph sink and the read-back.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


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
    per core.

    Each bucket file still has a cost of its own: its directory, its
    ``.crc`` sidecar and their metadata calls. Warm on 4 vCPUs (kgbench
    seed 1's 18,534-row ``triples``, 12 writes of each shape), a 32-bucket
    write's write stage took 0.53 s of executor time (0.48 s wall), and
    the same rows as 4 unpartitioned files 0.11 s (0.23 s wall): about
    15 ms of executor time per extra file. That is with the fork-free
    ``file://`` FileSystem ``session.get_spark`` registers; the stock one
    forked ``chmod`` for each file, sidecar and directory, and the same
    writes took 1.37 s against 0.19 s, about 42 ms per extra file."""
    width = min(n, df.sparkSession.sparkContext.defaultParallelism)
    return df.repartitionById(width, F.col("_bucket"))


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
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """Read a bucketed table back, ``_bucket`` dropped. ``schema``: the
    schema the caller just wrote (``_bucket`` included) — given it, the
    parquet read skips footer schema inference, which is a Spark job of
    its own."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    return df.drop("_bucket") if "_bucket" in df.columns else df
