"""Seeded end-to-end benchmark of tera_spark's transcript → KG path.

    python3 kgbench/run.py --workload build --seed 1 --seconds 32 --trace 0

Each run starts one Spark session on local[<nproc>] and drives the public
entry points as a closed loop (one caller, each call waited for):

1. ``pipeline.run.run_pipeline`` from scratch over a seeded corpus;
2. rounds of four access queries (``operators.query_api`` and
   ``operators.sparql``) over ``read_live(..., "triples")``, until
   ``--seconds`` have passed since 1 began and at least MIN_ROUNDS have run
   after WARMUP_ROUNDS.

Then it checks every output and prints one JSON line. ``--trace 1`` makes
the same calls inside spans and prints the per-layer metrics instead. See
kgbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Turn counts are exact (inputs.make_corpus), so throughput compares across
# seeds. At this size run_pipeline's wall is mostly per-job latency: 1.2k
# and 3k turns took the same 28 s on local[4].
CORPUS_TURNS = 3000
# The first round in a JVM pays plan and code-generation warm-up (about
# 1.4x a later round); it is answered and checked but not in the medians.
# Query latency is a per-layer metric only (see kgbench/README.md), so the
# rounds are few: enough to check every kind of answer several times.
WARMUP_ROUNDS = 1
MIN_ROUNDS = 6
# link_heavy grows the 52-label fixture lexicon with this many seeded decoys
WORKLOADS = {
    "build": {"decoys": 0, "gate_pr": True},
    "link_heavy": {"decoys": 12000, "gate_pr": False},
}
STAGES = ["mentions", "linked", "refcounts", "canonical_map", "triples", "ent_index", "nodes", "edges"]
QUERY_KINDS = ["type", "label", "turn_mentions", "comention"]
# gates of tests/test_pipeline.py::test_triple_pr_against_planted_truth
MIN_PR = 0.95
MIN_VERBATIM_RECALL = 0.99
_SPARK_UNITS = {
    "jobs": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "exec_run_s": "s",
    "shuffle_write_mb": "MB",
    "busy_share": "ratio",
}


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def main() -> int:
    args = _parse()
    work = os.path.join(ROOT, ".kgbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep every file Spark and Python write inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # JVM temp files (native-library extraction, artifact dirs) and no
    # hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        x
        for x in (
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:+PerfDisableSharedMem",
        )
        if x
    )
    os.environ.setdefault("TERA_SPARK_DRIVER_MEM", "2g")
    sys.path.insert(0, ROOT)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args: argparse.Namespace, work: str) -> int:
    from spans import Tracer, cpu_stat, cpu_window, peak_rss_mb

    cfg = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))  # what nproc prints
    tracer = Tracer(args.trace == 1, f"{args.workload}-{args.seed}", cores)
    stat0 = cpu_stat()
    t_setup = time.time()
    with tracer.span("setup.session"):
        from pyspark.sql import functions as F

        from tera_spark.session import get_spark

        spark = get_spark(
            "kgbench",
            cores=cores,
            shuffle_partitions=cores,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
    gateway = spark.sparkContext._gateway
    try:
        with tracer.span("setup.warmup"):
            spark.range(0, 500_000, 1, cores).select(F.sum("id")).collect()
        with tracer.span("setup.inputs"):
            inputs = _make_inputs(spark, args.seed, cfg["decoys"], work)
        setup_s = time.time() - t_setup
        result = _timed(spark, tracer, inputs, args.seconds, work)
        checks = _check(spark, inputs["corpus"], result, cfg["gate_pr"])
        layers = _layers(spark, tracer, inputs, result) if tracer.enabled else {}
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        rss = peak_rss_mb([os.getpid(), jvm_pid])
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    host = cpu_window(stat0, cpu_stat())
    if tracer.enabled:
        spans_dir = os.path.join(os.path.dirname(work), "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.write(os.path.join(spans_dir, f"{tracer.run_id}.jsonl"))
        metrics = layers
    else:
        metrics = {
            "build_turns_per_s": (CORPUS_TURNS / result["build_s"], "turns/s"),
            "mention_precision": (checks["precision"], "ratio"),
            "mention_recall": (checks["recall"], "ratio"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (rss, "MB"),
        }
    # a call fails if it raises or fails its check: each wrong answer is one
    # failed query, and any failed check of the built graph fails the build
    build_ok = all(ok for name, ok in checks["ok"].items() if name != "queries")
    failed = result["failed"] + checks["wrong_answers"] + (not build_ok)
    # detail line: what each check saw, and the host CPU window of this run
    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "checks": checks["ok"],
                "verbatim_recall": checks["verbatim_recall"],
                "round_ms": [round(x, 1) for x in result["round_ms"]],
                "hostcpu": host,
            }
        )
    )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": result["attempted"],
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def _make_inputs(spark, seed: int, decoys: int, work: str) -> dict:
    """Generate, write to parquet, and read back: the program sees files."""
    from pyspark.sql import functions as F

    from inputs import make_corpus, make_lexicon, query_rounds

    corpus = make_corpus(seed, CORPUS_TURNS)
    d = os.path.join(work, "inputs")
    os.makedirs(d)
    frames = {}
    for name, pdf in (("transcripts", corpus.transcripts), ("lexicon", make_lexicon(decoys))):
        path = os.path.join(d, f"{name}.parquet")
        pdf.to_parquet(path, coerce_timestamps="us", allow_truncated_timestamps=True)
        frames[name] = spark.read.parquet(path)
    frames["transcripts"] = frames["transcripts"].withColumn("turn_idx", F.col("turn_idx").cast("int"))
    frames["corpus"] = corpus
    frames["rounds"] = query_rounds(seed, corpus, 1000)
    return frames


def _query(g, kind: str, arg: str):
    """One access query as a lazy DataFrame; building it is the compile."""
    from tera_spark.constants import NS_KG
    from tera_spark.operators import query_api
    from tera_spark.operators.sparql import query_graph

    if kind == "type":
        return query_api.query_type(g, NS_KG + arg)
    if kind == "label":
        return query_api.query_label(g, arg)
    prefixes = {"kg": NS_KG}
    if kind == "turn_mentions":
        return query_graph(
            g, f"SELECT ?t ?e WHERE {{ ?t kg:partOf <{NS_KG}conv/{arg}> . ?t kg:mentions ?e }}",
            prefixes,
        )
    return query_graph(
        g,
        f"SELECT ?c (COUNT(?t) AS ?n) WHERE {{ ?t kg:mentions <{arg}> . "
        "?t kg:mentions ?c . ?c a kg:Chemical } GROUP BY ?c",
        prefixes,
    )


def _timed(spark, tracer, inputs: dict, seconds: float, work: str) -> dict:
    from tera_spark.pipeline.incremental import read_live
    from tera_spark.pipeline.run import run_pipeline

    out = os.path.join(work, "kg")
    r: dict = {
        "out": out, "failed": 0, "attempted": 1,
        "round_ms": [], "query_ms": [], "compile_ms": [], "answers": [],
        "timed_from": 0,  # index of the first query after the warm-up rounds
    }
    t_start = time.time()
    with tracer.span("build"):
        r["build"] = run_pipeline(spark, inputs["transcripts"], inputs["lexicon"], out)
    r["build_s"] = time.time() - t_start
    t0 = time.time()
    with tracer.span("read_live"):
        g = read_live(spark, out, "triples")
    r["read_live_s"] = time.time() - t0
    for rnd in inputs["rounds"]:
        if len(r["round_ms"]) == WARMUP_ROUNDS:
            r["timed_from"] = len(r["query_ms"])
        if len(r["round_ms"]) >= WARMUP_ROUNDS + MIN_ROUNDS and time.time() - t_start >= seconds:
            break
        t_round = time.time()
        for kind, arg in rnd:
            r["attempted"] += 1
            t0 = time.time()
            try:
                with tracer.span("query"):
                    df = _query(g, kind, arg)
                    t1 = time.time()
                    rows = [tuple(x) for x in df.collect()]
            except Exception:  # a failed query is counted, the loop goes on
                print(f"query {kind}({arg}) failed", file=sys.stderr)
                traceback.print_exc()
                r["failed"] += 1
                continue
            r["query_ms"].append((time.time() - t0) * 1000)
            r["compile_ms"].append((t1 - t0) * 1000)
            r["answers"].append((kind, arg, rows))
        r["round_ms"].append((time.time() - t_round) * 1000)
    return r


def _check(spark, corpus, result: dict, gate_pr: bool) -> dict:
    """Planted-truth precision/recall of the mention triples; the graph
    holds exactly the corpus's conversations; every query answer equals the
    same question answered in pandas over the collected triples."""
    from tera_spark.constants import NS_KG, RDF_TYPE, RDFS_LABEL
    from tera_spark.pipeline.incremental import read_live

    tri = read_live(spark, result["out"], "triples").toPandas()
    ok: dict[str, bool] = {}

    m = tri[(tri.predicate == NS_KG + "mentions") & tri.object.str.match(r"^(cas|taxon):")]
    prefix = NS_KG + "turn/"
    pred = set()
    for s, o in zip(m.subject, m.object):
        conv, idx = s[len(prefix):].rsplit("/", 1)
        pred.add((conv, int(idx), o))
    t = corpus.truth
    truth = set(zip(t.conv_id, t.turn_idx.astype(int), t.entity))
    v = t[t.verbatim]
    verbatim = set(zip(v.conv_id, v.turn_idx.astype(int), v.entity))
    tp = len(pred & truth)
    precision = tp / max(len(pred), 1)
    recall = tp / max(len(truth), 1)
    verbatim_recall = len(pred & verbatim) / max(len(verbatim), 1)
    ok["verbatim_recall"] = verbatim_recall >= MIN_VERBATIM_RECALL
    if gate_pr:
        ok["precision"] = precision >= MIN_PR
        ok["recall"] = recall >= MIN_PR

    typed = tri[tri.predicate == RDF_TYPE]
    live_convs = set(typed.subject[typed.object == NS_KG + "Conversation"])
    ok["conversations"] = live_convs == {NS_KG + "conv/" + c for c in corpus.transcripts.conv_id}

    mentions = tri[tri.predicate == NS_KG + "mentions"]
    part_of = tri[tri.predicate == NS_KG + "partOf"]
    chemicals = set(typed.subject[typed.object == NS_KG + "Chemical"])
    wrong = 0
    for kind, arg, rows in result["answers"]:
        if kind == "type":
            want = {(s,) for s in typed.subject[typed.object == NS_KG + arg]}
        elif kind == "label":
            want = {(s,) for s in tri.subject[(tri.predicate == RDFS_LABEL) & (tri.object == arg)]}
        elif kind == "turn_mentions":
            turns = set(part_of.subject[part_of.object == NS_KG + "conv/" + arg])
            sel = mentions[mentions.subject.isin(turns)]
            want = set(zip(sel.subject, sel.object))
        else:
            turns = set(mentions.subject[mentions.object == arg])
            sel = mentions[mentions.subject.isin(turns) & mentions.object.isin(chemicals)]
            want = {(c, int(n)) for c, n in sel.groupby("object").subject.count().items()}
        wrong += set(rows) != want or len(set(rows)) != len(rows)
    ok["queries"] = wrong == 0
    return {
        "ok": ok, "wrong_answers": wrong,
        "precision": precision, "recall": recall, "verbatim_recall": verbatim_recall,
    }


def _layers(spark, tracer, inputs: dict, result: dict) -> dict:
    """Per-layer metrics of a traced run, name → (value, unit)."""
    from spans import dir_mb

    from tera_spark.pipeline.incremental import read_live
    from tera_spark.pipeline.link import prepare_lexicon

    out: dict[str, tuple[float, str]] = {}
    for s in tracer.spans:
        if s["name"].startswith("setup."):
            out[s["name"] + "_s"] = (s["end"] - s["start"], "s")
    out["traced.build_s"] = (result["build_s"], "s")
    out["traced.query_round_ms"] = (statistics.median(result["round_ms"][WARMUP_ROUNDS:]), "ms")

    stage_s = {m["stage"]: m["seconds"] for m in result["build"].metrics}
    for st in STAGES:
        out[f"stage.{st}.s"] = (stage_s[st], "s")
        out[f"stage.{st}.mb"] = (dir_mb(os.path.join(result["out"], st)), "MB")
    out["alias_edges.rows"] = (float(read_live(spark, result["out"], "alias_edges").count()), "count")

    counts = {
        r["link_method"]: r["count"]
        for r in read_live(spark, result["out"], "linked").groupBy("link_method").count().collect()
    }
    # shares of term mentions, the rows the linker decides; "rule" rows
    # (codes, quantities) pass through it
    methods = ("exact", "fuzzy", "provisional")
    total = sum(counts.get(m, 0) for m in methods) or 1
    for method in methods:
        out[f"link.{method}_share"] = (counts.get(method, 0) / total, "ratio")
    # a direct call: run_pipeline overlaps lexicon preparation with other jobs
    t0 = time.time()
    with tracer.span("link.prepare"):
        prepared = prepare_lexicon(inputs["lexicon"])
    out["link.prepare_s"] = (time.time() - t0, "s")
    prepared.release()

    out["read_live.s"] = (result["read_live_s"], "s")
    timed = result["timed_from"]
    kinds = [a[0] for a in result["answers"][timed:]]
    for kind in QUERY_KINDS:
        ms = [q for q, k in zip(result["query_ms"][timed:], kinds) if k == kind]
        out[f"query.{kind}.ms"] = (statistics.median(ms), "ms")
    out["query.compile_ms"] = (statistics.median(result["compile_ms"][timed:]), "ms")

    for span in ("build", "query"):
        for k, v in tracer.spark_totals(spark, span).items():
            out[f"{span}.{k}"] = (v, _SPARK_UNITS[k])
    out["trace.self_s"] = (tracer.self_s, "s")
    return out


if __name__ == "__main__":
    sys.exit(main())
