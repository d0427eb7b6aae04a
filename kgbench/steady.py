"""Steadiness record: run every workload once per seed, interleaved, and
report each end-to-end metric's median and spread across the seeds, where
spread = (Q3 − Q1) ÷ median with quartiles from
``statistics.quantiles(values, n=4)``. Each run carries its /proc/stat host
window (idle and steal shares), so a noisy window shows next to its numbers.

Every untraced run is followed by a traced run of the same workload and
seed; the difference of their medians is the tracing overhead.
``--untraced`` skips the traced runs, for a second set that only checks the
spreads.

    python3 kgbench/steady.py --seeds 1-10 --out kgbench/steadiness.json

Bounds come from BENCHMARK.json; a spread at or above a third of its bound
is flagged (``setup_s`` is exempt from the spread rule).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from run import CORPUS_TURNS, WARMUP_ROUNDS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _run(wl: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{wl} seed {seed} trace {trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    return {
        "workload": wl, "seed": seed, "trace": trace, "wall_s": round(wall, 1),
        "correct": result["correct"], "attempted": result["attempted"],
        "failed": result["failed"], "hostcpu": detail["hostcpu"],
        "round_ms": detail["round_ms"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
    }


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--untraced", action="store_true", help="skip the traced runs and the overhead report")
    ap.add_argument("--out", help="write the per-run record and summary here as JSON")
    args = ap.parse_args()

    runs = []
    for seed in _seeds(args.seeds):
        for wl in args.workloads:
            for trace in (0,) if args.untraced else (0, 1):
                try:
                    run = _run(wl, seed, args.seconds, trace)
                except RuntimeError as exc:
                    print(exc, file=sys.stderr)
                    return 1
                runs.append(run)
                print(json.dumps(run), flush=True)

    summary = {}
    for wl in args.workloads:
        mine = [r for r in runs if r["workload"] == wl and r["trace"] == 0]
        traced = [r for r in runs if r["workload"] == wl and r["trace"] == 1]
        summary[wl] = {}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]] for r in mine]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            summary[wl][m["name"]] = {
                "median": med, "q1": q1, "q3": q3, "spread": round(spread, 4),
                "bound": m["bound"],
                "flag": m["name"] != "setup_s" and spread >= m["bound"] / 3,
            }
        print(f"{wl}: " + ", ".join(
            f"{k} {v['median']:.4g} spread {v['spread']:.3f}{' !' if v['flag'] else ''}"
            for k, v in summary[wl].items()
        ))
        print(f"{wl}: all correct = {all(r['correct'] for r in mine + traced)}, "
              f"wall median {statistics.median(r['wall_s'] for r in mine):.1f} s untraced")
        if not traced:
            continue
        build_s = statistics.median(CORPUS_TURNS / r["metrics"]["build_turns_per_s"] for r in mine)
        round_ms = statistics.median(statistics.median(r["round_ms"][WARMUP_ROUNDS:]) for r in mine)
        summary[wl]["tracing_overhead"] = {
            "build_s": statistics.median(r["metrics"]["traced.build_s"] for r in traced) - build_s,
            "query_round_ms": statistics.median(r["metrics"]["traced.query_round_ms"] for r in traced)
            - round_ms,
            "trace.self_s": statistics.median(r["metrics"]["trace.self_s"] for r in traced),
        }
        print(f"{wl}: tracing overhead " + ", ".join(
            f"{k} {v:+.3f}" for k, v in summary[wl]["tracing_overhead"].items()
        ) + f"; wall median {statistics.median(r['wall_s'] for r in traced):.1f} s traced")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"runs": runs, "summary": summary}, fh, indent=1)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
