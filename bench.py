"""Benchmark harness (driver contract): headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Timing forces full materialization with the noop sink (count() would let
Catalyst prune the expensive projections). The KG pipeline runs over the
deterministic synthetic transcript corpus and reports turns/sec — the
north-rule throughput metric. Scaling evidence (N vs 4N cores) lives in
tools/scaling_bench.py → BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, name: str, make_df) -> tuple[float, dict | None]:
    """Seconds to build and fully materialize ``make_df()``, and the Spark
    breakdown of the jobs it started, by description (``obs.breakdown``;
    its own jobs are described ``bench:<name>``, a library plan's nodes
    ``<label>:<node>``). The store is read and the checkpoints it takes
    are released after the clock stops, so no leaf runs beside another's
    pinned blocks and neither is timed."""
    from tera_spark.checkpoints import checkpoint_scope
    from tera_spark.obs import breakdown

    since_ms = int(time.time() * 1000)
    spark.sparkContext.setJobDescription(f"bench:{name}")
    try:
        with checkpoint_scope():
            t0 = time.time()
            _noop(make_df())
            secs = round(time.time() - t0, 3)
    finally:
        spark.sparkContext.setJobDescription(None)
    return secs, breakdown(spark, since_ms)


def _cpu_stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _cpu_window(a: list[int], b: list[int]) -> dict:
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d) or 1
    return {n: round(100 * v / tot, 1) for n, v in zip(names, d)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from pyspark.sql import functions as F

    from tera_spark.entry_queries import QUERIES
    from tera_spark.session import get_spark

    spark = get_spark("tera_spark_bench", cores=cores, shuffle_partitions=cores)

    # Steady-state discipline (same as BENCH/BASELINE.md's scaling runs):
    # one full-width warm-up job before the timed region so JVM/codegen/
    # python-daemon startup is paid once, outside every query's timing.
    spark.range(0, 10_000_000, 1, cores).select(F.sum("id")).collect()

    # q14_endpoint_star times the READ path over the materialized graph
    # (construct-once / query-many — the design the entry documents). The
    # construction itself is timed here explicitly and reported as
    # graph_materialize_sec instead of silently riding whichever query
    # first misses the cache; the emission cost also shows up in the
    # headline as t9/t10.
    from tera_spark.entry_queries import materialized_effects

    t0 = time.time()
    materialized_effects(spark, sf_dir)
    mat_secs = round(time.time() - t0, 3)

    stat0 = _cpu_stat()

    headline = [
        "t9_tests_triples",
        "t10_results_triples",
        "q14_endpoint_star",
        "q14_endpoint_relational",
        "a_tpch_q1",
        "w2_top1_per_group",
        "cc_components",
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "ann_topk_cosine",
        "text_quality",
        "text_bigram_lm",
        "graph_pagerank",
        "ev_sessionize",
        "curation_dsir_weights",
        "dedup_semantic",
        "text_bm25_topk",
        "dedup_resolve_clusters",
        "graph_triangles",
    ]
    # Steady-state per query: each query runs twice and the WARM run is the
    # headline number (first-run codegen/broadcast/page-cache cost is paid
    # once per plan and reported separately as queries_cold/cold_total_sec).
    # Rationale: the engine's design point is construct-once/query-many at
    # 100 TB, where per-plan one-time cost is noise; and on this shared
    # microVM the warm number is far more window-stable (measured: first
    # q14_star run 16.9s, second 9.3s, third 6.2s in the same window).
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    # per leaf, the Spark breakdown of the run its headline number is from
    breakdowns: dict[str, dict | None] = {}

    def run(name: str, leaf) -> None:
        cold[name], _ = _timed(spark, name, leaf)
        # the warm (second) run IS the headline, even if the cold run
        # happened to be faster — keeps the metric definition identical
        # to its documentation and to BASELINE.md's "fastest WARM run"
        timings[name], breakdowns[name] = _timed(spark, name, leaf)

    for name in headline:
        run(name, partial(QUERIES[name], spark, sf_dir))

    # KG pipeline throughput (turns/sec) over synthetic transcripts —
    # distributed generator (per-conv seeded, parallelism-invariant) at a
    # corpus size where throughput reflects dataflow, not JVM fixed cost
    from tera_spark.fixtures.transcripts import lexicon_spark_df, transcripts_spark_df_dist
    from tera_spark.pipeline.kg import kg_pipeline_triples

    n_convs = int(os.environ.get("TERA_BENCH_CONVS", "20000"))
    transcripts = transcripts_spark_df_dist(spark, n_convs=n_convs).cache()
    n_turns = transcripts.count()
    lexicon = lexicon_spark_df(spark)
    run("kg_pipeline", partial(kg_pipeline_triples, transcripts, lexicon))
    kg_secs = timings["kg_pipeline"]

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf),
                "kg_turns": n_turns,
                "kg_turns_per_sec": round(n_turns / kg_secs, 1) if kg_secs else None,
                "cores": cores,
                "graph_materialize_sec": mat_secs,
                "queries_cold": cold,
                "cold_total_sec": round(sum(cold.values()), 3),
                # {leaf: {job description: obs.FIELDS}} of the timed runs
                # (null where the status store had already evicted jobs)
                "queries_breakdown": breakdowns,
                # /proc/stat window over the whole bench: this shared microVM
                # swings identical runs 2x between host windows (see
                # BENCH/BASELINE.md) — idle%/steal% here says which kind of
                # window THIS run landed in
                "hostcpu": _cpu_window(stat0, _cpu_stat()),
            }
        )
    )


if __name__ == "__main__":
    main()
