"""Incremental-maintenance scale probe: apply a fresh conversation batch
to a completed base run and compare against recomputing from scratch over
the union. Appends a ``mode="incremental"`` record to
BENCH/scaling_runs.jsonl (write_report surfaces it in BENCH/BASELINE.md).

Usage::

    python tools/incremental_probe.py [base_convs] [delta_convs] [cores]

Defaults: 600000 base convs (the 5.7M-turn criterion corpus, reused from
/dev/shm if present), 60000 delta convs (disjoint id range), local[32].
The delta is materialized to parquet first so generation cost is outside
every timed region; each timed region is a single run (an ingest batch is
applied once — there is no warm second chance in production).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SHM = "/dev/shm/tera_scaling"
HISTORY = os.path.join(REPO, "BENCH", "scaling_runs.jsonl")


def main() -> None:
    base_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 600000
    delta_convs = int(sys.argv[2]) if len(sys.argv) > 2 else 60000
    cores = int(sys.argv[3]) if len(sys.argv) > 3 else 32

    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(SHM, "localdir"))
    from pyspark.sql import functions as F

    from tera_spark.fixtures.transcripts import lexicon_spark_df, transcripts_spark_df_dist
    from tera_spark.pipeline.incremental import compact, read_live, run_pipeline_incremental
    from tera_spark.pipeline.run import run_pipeline
    from tera_spark.session import get_spark

    spark = get_spark("incremental_probe", cores=cores, shuffle_partitions=cores)
    spark.range(0, cores * 1000, 1, cores * 2).selectExpr("sum(id)").collect()
    # Prepared ONCE outside every timed region: a production ingest daemon
    # (and streaming/extract_stream.stream_kg_ingest) prepares the lexicon
    # once and applies many batches — per-batch lexicon prep is not part of
    # either steady-state cost being compared.
    from tera_spark.pipeline.link import prepare_lexicon

    lex = prepare_lexicon(lexicon_spark_df(spark))

    base_src = os.path.join(SHM, f"transcripts_{base_convs}")
    if not os.path.exists(os.path.join(base_src, "_SUCCESS")):
        transcripts_spark_df_dist(spark, n_convs=base_convs, parts=64).write.mode(
            "overwrite"
        ).parquet(base_src)
    delta_src = os.path.join(SHM, f"transcripts_delta_{base_convs}_{delta_convs}")
    if not os.path.exists(os.path.join(delta_src, "_SUCCESS")):
        transcripts_spark_df_dist(
            spark, n_convs=delta_convs, id_start=base_convs, parts=16
        ).write.mode("overwrite").parquet(delta_src)

    base = spark.read.parquet(base_src)
    delta = spark.read.parquet(delta_src)
    n_base = base.count()
    n_delta = delta.count()

    out = os.path.join(SHM, "inc_probe_base")
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    run_pipeline(spark, base, lex, out)
    base_secs = time.time() - t0

    t0 = time.time()
    res = run_pipeline_incremental(spark, delta, lex, out, batch_id="probe")
    inc_secs = time.time() - t0
    # per-phase breakdown (rows_out == -1 are the internal _phase markers)
    phases = {
        m["stage"].split("@")[0].lstrip("_"): m["seconds"]
        for m in res.metrics
        if m["rows_out"] == -1
    }
    # summed per-part seconds: a batch writes its queued parts at once, so
    # this can exceed the wall those writes took
    writes = round(
        sum(m["seconds"] for m in res.metrics if m["rows_out"] >= 0), 2
    )

    # compaction: the amortized fold of the delta batch into the base
    t0 = time.time()
    compact(spark, out)
    compact_secs = time.time() - t0

    # from-scratch recompute over the union — what the incremental path saves
    out_full = os.path.join(SHM, "inc_probe_full")
    shutil.rmtree(out_full, ignore_errors=True)
    t0 = time.time()
    run_pipeline(spark, base.unionByName(delta), lex, out_full)
    full_secs = time.time() - t0

    # correctness spot-check: same table sizes as the from-scratch union run
    # (read through the live view — exact pre-compact too; here post-compact
    # it also proves the fold preserved the tables)
    counts = {}
    for t in ("triples", "nodes", "edges"):
        a = read_live(spark, out, t).count()
        b = spark.read.parquet(os.path.join(out_full, t)).count()
        counts[t] = (a, b)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(out_full, ignore_errors=True)

    rec = {
        "mode": "incremental",
        "cores": cores,
        "base_turns": n_base,
        "delta_turns": n_delta,
        "base_seconds": round(base_secs, 2),
        "incremental_seconds": round(inc_secs, 2),
        "compact_seconds": round(compact_secs, 2),
        "full_recompute_seconds": round(full_secs, 2),
        "counts_match": all(a == b for a, b in counts.values()),
        "counts": {t: list(v) for t, v in counts.items()},
        "inc_phases": phases,
        "inc_write_seconds": writes,
        "ts": int(time.time()),
    }
    with open(HISTORY, "a") as fh:
        fh.write(json.dumps(rec) + "\n")
    print(json.dumps(rec))


if __name__ == "__main__":
    main()
