"""spark-submit entry point for the KG-construction pipeline.

Usage::

    spark-submit --py-files tera_spark.zip -m tera_spark.pipeline.driver \\
        --transcripts <path-or-synth:N> --out /data/kg_run1 [--cores 8]

``--transcripts synth:N`` generates the deterministic synthetic corpus with
N conversations (no external data); otherwise the argument is a parquet
path of (conv_id, turn_idx, role, text, tool, ts).
"""

from __future__ import annotations

import argparse
import json
import shutil
import time


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--transcripts", default=None)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--force", action="store_true")
    ap.add_argument(
        "--append", action="store_true",
        help="treat --transcripts as a NEW batch to merge into the existing "
        "pipeline output at --out (incremental maintenance: per-turn stages "
        "run only on the batch; the batch commits as delta files, the base "
        "is never rewritten). Already-seen conversations are dropped.",
    )
    ap.add_argument(
        "--batch-id", default=None,
        help="lineage/metrics scope for --append (<stage>@<batch-id>); "
        "defaults to a content hash of the batch's conversation ids, so "
        "distinct batches never collide and retries reuse the same id",
    )
    ap.add_argument(
        "--forget", default=None,
        help="comma-separated conversation ids to FORGET (right-to-be-"
        "forgotten): removes every effect of those conversations from the "
        "pipeline output at --out as one atomic delta batch "
        "(pipeline/forget.py), then exits. Unknown ids are a no-op.",
    )
    ap.add_argument(
        "--compact", action="store_true",
        help="fold all committed delta batches into the base tables "
        "(amortized rewrite; bounds merge-on-read cost), then exit",
    )
    ap.add_argument(
        "--repeat", type=int, default=1,
        help="pipeline runs; reports the fastest (steady-state timing — a "
        "long-lived production job pays JIT/python-worker spawn once)",
    )
    args = ap.parse_args(argv)

    if args.compact:
        from tera_spark.pipeline.incremental import compact
        from tera_spark.session import get_spark as _gs

        spark = _gs("tera_spark_compact", cores=args.cores)
        t0 = time.time()
        tables = compact(spark, args.out)
        print(json.dumps({"compacted": tables, "seconds": round(time.time() - t0, 2)}))
        return
    if args.forget:
        from tera_spark.fixtures.transcripts import lexicon_spark_df as _lex
        from tera_spark.pipeline.forget import run_pipeline_forget
        from tera_spark.session import get_spark as _gs

        spark = _gs("tera_spark_forget", cores=args.cores)
        ids = [c.strip() for c in args.forget.split(",") if c.strip()]
        t0 = time.time()
        res = run_pipeline_forget(spark, ids, _lex(spark), args.out, batch_id=args.batch_id)
        print(
            json.dumps(
                {
                    "forgotten": ids,
                    "seconds": round(time.time() - t0, 2),
                    "stages_run": res.stages_run,
                    "stages_skipped": res.stages_skipped,
                    "metrics": res.metrics,
                }
            )
        )
        return
    if not args.transcripts:
        ap.error("--transcripts is required unless --compact or --forget")

    from tera_spark.fixtures.transcripts import (
        lexicon_spark_df,
        transcripts_spark_df,
        transcripts_spark_df_dist,
    )
    from tera_spark.pipeline.run import run_pipeline
    from tera_spark.session import get_spark

    spark = get_spark("tera_spark_pipeline", cores=args.cores)
    if args.transcripts.startswith("synth:"):
        n = int(args.transcripts.split(":", 1)[1])
        # small corpora use the byte-stable sequential generator (golden
        # tests); large ones generate distributed (per-conv seeded)
        gen = transcripts_spark_df if n <= 5000 else transcripts_spark_df_dist
        transcripts = gen(spark, n_convs=n)
    else:
        transcripts = spark.read.parquet(args.transcripts)
    lexicon = lexicon_spark_df(spark)

    # Steady-state timing discipline (same as tools/scaling_bench.py): on a
    # multi-executor master, executor JVMs pretouch their pinned heaps at
    # boot and register only once heap init finishes — poll registration so
    # that storm lands outside the timed window; then one full-width job so
    # every executor has JIT'd, forked its python daemon, and touched the
    # shuffle service before anything is timed. Boot cost is a fixed
    # constant; at the design-point corpus it is noise, so it is excluded
    # rather than amortized.
    sc = spark.sparkContext
    master = sc.master or ""
    if master.startswith("local-cluster["):
        want = int(master.split("[", 1)[1].split(",")[0])
        deadline = time.time() + 600
        while time.time() < deadline:
            # block-manager count includes the driver → workers + 1 when up
            if sc._jsc.sc().getExecutorMemoryStatus().size() >= want + 1:
                break
            time.sleep(1)
    width = sc.defaultParallelism
    spark.range(0, width * 1000, 1, width * 2).selectExpr("sum(id)").collect()
    n_turns = transcripts.count()

    if args.append:
        from tera_spark.pipeline.incremental import run_pipeline_incremental

        t0 = time.time()
        res = run_pipeline_incremental(
            spark, transcripts, lexicon, args.out, batch_id=args.batch_id
        )
        wall = time.time() - t0
        print(
            json.dumps(
                {
                    "turns": n_turns,
                    "seconds": round(wall, 2),
                    "turns_per_sec": round(n_turns / wall, 1),
                    "stages_run": res.stages_run,
                    "stages_skipped": res.stages_skipped,
                    "metrics": res.metrics,
                }
            )
        )
        return

    best = None
    for i in range(max(1, args.repeat)):
        if i:
            # clear the previous run's stage checkpoints — otherwise the
            # resume logic would skip every stage and the repeat would
            # "measure" a no-op
            shutil.rmtree(args.out, ignore_errors=True)
        t0 = time.time()
        res = run_pipeline(spark, transcripts, lexicon, args.out, force=args.force)
        wall = time.time() - t0
        if best is None or wall < best[0]:
            best = (wall, res)
    wall, res = best
    print(
        json.dumps(
            {
                "turns": n_turns,
                "seconds": round(wall, 2),
                "turns_per_sec": round(n_turns / wall, 1),
                "stages_run": res.stages_run,
                "stages_skipped": res.stages_skipped,
                "metrics": res.metrics,
            }
        )
    )


if __name__ == "__main__":
    main()
