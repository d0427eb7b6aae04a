"""Interleaved A/B of two source trees — the BENCH/BASELINE.md same-window
discipline. Four modes:

  leaves  single registry queries (entry_queries.QUERIES) over
          $SPARK_GRAFT_SF_DIR (default sf0.1), noop sink.
  kg      the bench.py kg_pipeline block: extract → link → canonical map
          → triples, noop sink.
  staged  run_pipeline (pipeline/run.py), every stage written to parquet
          and the transcripts read from parquet — the production shape
          and the scaling-criterion one.
  maintain  a base run_pipeline over n_base fixture conversations (built
          untimed), then a timed apply of k new conversations
          (pipeline/incremental.py) and a timed forget of m base ones
          (pipeline/forget.py) on it.

Each (tree, rep) is one subprocess: a fresh JVM on
local[$SPARK_GRAFT_CPUS], one full-width warm-up job, then a cold and a
warm run; the WARM number is reported, matching bench.py's headline.
maintain reports the apply and the forget, each run once per subprocess.
Trees alternate inside one host window so host drift hits both equally,
and which tree runs first alternates too (A B, B A, A B, ...).

Usage:
  python tools/bench_ab.py leaves TREE_A TREE_B reps q1 [q2 ...]
  python tools/bench_ab.py kg     TREE_A TREE_B reps [n_convs, default 20000]
  python tools/bench_ab.py staged TREE_A TREE_B reps [n_convs, default 200000]
  python tools/bench_ab.py maintain TREE_A TREE_B reps [n_base k m, default 30 4 3]
"""

from __future__ import annotations

import json
import subprocess
import sys

PRELUDE = r"""
import json, os, shutil, sys, tempfile, time
sys.path.insert(0, sys.argv[1])
os.chdir(sys.argv[1])
from pyspark.sql import functions as F
from tera_spark.session import get_spark

cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
spark = get_spark("bench_ab", cores=cores, shuffle_partitions=cores)
spark.range(0, 10_000_000, 1, cores).select(F.sum("id")).collect()
"""

LEAVES = r"""
from tera_spark.entry_queries import QUERIES

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
out = {}
for name in sys.argv[2:]:
    fn = QUERIES[name]
    t0 = time.time(); fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    cold = time.time() - t0
    t0 = time.time(); fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    out[name] = {"cold": round(cold, 3), "warm": round(time.time() - t0, 3)}
print("ABRESULT " + json.dumps(out))
"""

KG = r"""
from tera_spark.fixtures.transcripts import lexicon_spark_df, transcripts_spark_df_dist
from tera_spark.operators.canonical import canonical_mapping
from tera_spark.operators.triples import replace_entities
from tera_spark.pipeline.extract import extract_mentions
from tera_spark.pipeline.kg import build_triples
from tera_spark.pipeline.link import link_mentions

transcripts = transcripts_spark_df_dist(spark, n_convs=int(sys.argv[2])).cache()
transcripts.count()
lexicon = lexicon_spark_df(spark)

def once():
    t0 = time.time()
    mentions = extract_mentions(transcripts)
    linked, alias_edges = link_mentions(mentions, lexicon)
    triples = replace_entities(
        build_triples(transcripts, linked, deduplicate=False),
        canonical_mapping(alias_edges),
    )
    triples.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)

cold = once()
warm = once()
print("ABRESULT " + json.dumps({"kg": {"cold": cold, "warm": warm}}))
"""

STAGED = r"""
from tera_spark.fixtures.transcripts import lexicon_spark_df, transcripts_spark_df_dist
from tera_spark.pipeline.run import run_pipeline

base = tempfile.mkdtemp(prefix="ab_staged_", dir="/dev/shm")
src = os.path.join(base, "transcripts")
transcripts_spark_df_dist(spark, n_convs=int(sys.argv[2])).write.mode("overwrite").parquet(src)
t = spark.read.parquet(src)
n = t.count()
lexicon = lexicon_spark_df(spark)

def once(tag):
    t0 = time.time()
    run_pipeline(spark, t, lexicon, os.path.join(base, tag))
    return round(time.time() - t0, 3)

cold = once("run_cold")
warm = once("run_warm")
shutil.rmtree(base, ignore_errors=True)
print("ABRESULT " + json.dumps(
    {"staged": {"cold": cold, "warm": warm, "turns": n,
                "warm_tps": round(n / warm, 1)}}))
"""

MAINTAIN = r"""
from tera_spark.fixtures.transcripts import lexicon_spark_df, transcripts_spark_df
from tera_spark.pipeline.forget import run_pipeline_forget
from tera_spark.pipeline.incremental import run_pipeline_incremental
from tera_spark.pipeline.run import run_pipeline

n_base, k, m = (int(x) for x in sys.argv[2:5])
# the test fixture's shape (tests/test_pipeline.py), grown by the k applied
t_all = transcripts_spark_df(spark, n_convs=n_base + k, hot_convs=1, hot_factor=10).cache()
convs = sorted(r[0] for r in t_all.select("conv_id").distinct().collect())
lexicon = lexicon_spark_df(spark)
out = tempfile.mkdtemp(prefix="ab_maintain_", dir="/dev/shm")
run_pipeline(spark, t_all.filter(F.col("conv_id").isin(convs[:n_base])), lexicon, out)
t0 = time.time()
run_pipeline_incremental(spark, t_all.filter(F.col("conv_id").isin(convs[n_base:])), lexicon, out)
apply_s = round(time.time() - t0, 3)
t0 = time.time()
run_pipeline_forget(spark, convs[:m], lexicon, out)
forget_s = round(time.time() - t0, 3)
shutil.rmtree(out, ignore_errors=True)
print("ABRESULT " + json.dumps({"maintain": {"apply": apply_s, "forget": forget_s}}))
"""

# mode: (child body, default child args, subprocess timeout in seconds,
#        the timed keys of its result that the summary compares)
MODES = {
    "leaves": (LEAVES, [], 900, []),
    "kg": (KG, ["20000"], 1800, ["warm"]),
    "staged": (STAGED, ["200000"], 3600, ["warm"]),
    "maintain": (MAINTAIN, ["30", "4", "3"], 1800, ["apply", "forget"]),
}


def run_tree(mode: str, tree: str, args: list[str]) -> dict:
    body, _, timeout, _ = MODES[mode]
    p = subprocess.run(
        [sys.executable, "-c", PRELUDE + body, tree, *args],
        capture_output=True, text=True, timeout=timeout,
    )
    for line in p.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    raise RuntimeError(f"no result from {tree}: {p.stderr[-2000:]}")


def med(xs: list) -> float:
    xs = sorted(xs)
    return xs[len(xs) // 2] if len(xs) % 2 else (xs[len(xs) // 2 - 1] + xs[len(xs) // 2]) / 2


def main():
    mode, tree_a, tree_b, reps, *args = sys.argv[1:]
    if mode not in MODES:
        sys.exit(f"mode must be one of {sorted(MODES)}, not {mode!r}")
    args = args or MODES[mode][1]
    rows = []
    for i in range(int(reps)):
        pair = (("A", tree_a), ("B", tree_b))
        for label, tree in pair if i % 2 == 0 else pair[::-1]:
            r = run_tree(mode, tree, args)
            rows.append((label, r))
            if mode == "leaves":
                print(f"rep{i} {label}: " + " ".join(
                    f"{q}={r[q]['warm']}" for q in args), flush=True)
            else:
                print(json.dumps({"rep": i, "tree": label, **r[mode]}), flush=True)
    if mode == "leaves":
        for q in args:
            a = sorted(r[q]["warm"] for lbl, r in rows if lbl == "A")
            b = sorted(r[q]["warm"] for lbl, r in rows if lbl == "B")
            print(f"{q}: A(median {med(a)}, {a}) vs B(median {med(b)}, {b}) "
                  f"ratio B/A={med(b)/med(a):.3f}")
        return
    for key in MODES[mode][3]:
        a = sorted(r[mode][key] for lbl, r in rows if lbl == "A")
        b = sorted(r[mode][key] for lbl, r in rows if lbl == "B")
        print(json.dumps({
            f"A_{key}": a, f"B_{key}": b, "A_median": med(a), "B_median": med(b),
            "ratio_B_over_A": round(med(b) / med(a), 3) if med(a) else None,
        }))


if __name__ == "__main__":
    main()
