#!/usr/bin/env python3
"""Write the committed per-layer profile of one workload.

    python3 perfbench/layer_profile.py --workload crawl_head --seed 7

Runs the workload twice on the same seed, untraced and traced, and writes
perfbench/profiles/<workload>.json with the traced run's per-layer metrics,
the share of the layer time each layer group takes, the attributed shares of
task time and the tracing overhead (traced over untraced first-operation
time, minus one).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Layer groups for the time shares. Parse side: what grows with pages
# fetched. Fixed cost: what every round pays whatever it fetched (the sinks
# count once, by their concurrent wall time).
PARSE_SIDE = ("extract.s", "urlnorm.s", "dedup.s")
FIXED_COST = (
    "robots.s", "politeness.s", "seen.bloom_build_s", "seen.bloom_merge_s",
    "seen.probe_s", "seen.anti_join_s", "round.writes_s", "checkpoint.commit_s",
    "checkpoint.compact_s", "checkpoint.vacuum_s", "checkpoint.load_s",
)
OTHER = ("fetch.s",)


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout.strip().split("\n")
    return {"detail": json.loads(out[-2]), "result": json.loads(out[-1])}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=5)
    args = ap.parse_args()

    plain = _run(args.workload, args.seed, args.seconds, 0)
    traced = _run(args.workload, args.seed, args.seconds, 1)
    layers = {k: v["value"] for k, v in traced["result"]["metrics"].items()}
    # the traced run times one operation: compare it with the untraced
    # run's first, which follows the same warmup
    op_plain = plain["detail"]["ops"][0]["s"]
    op_traced = traced["detail"]["ops"][0]["s"]
    parse = sum(layers[k] for k in PARSE_SIDE)
    fixed = sum(layers[k] for k in FIXED_COST)
    total = parse + fixed + sum(layers[k] for k in OTHER)
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "profile": traced["detail"]["profile"],
        "corpus_key": traced["detail"]["corpus_key"],
        "probe_pre": traced["detail"]["probe_pre"],
        "probe_post": traced["detail"]["probe_post"],
        "op_s_untraced": op_plain,
        "op_s_traced": op_traced,
        "tracing_overhead": op_traced / op_plain - 1,
        "attributed_ratio": layers["round.attributed_ratio"],
        "materialize_task_share": layers["round.materialize_task_share"],
        "span_task_share": layers["round.span_task_share"],
        "shares": {
            "note": "share of the summed layer seconds of one round: the "
                    "staged replay for the layers inside materialize, the "
                    "committed round it was reconciled with for the sinks "
                    "and checkpoint calls",
            "parse_side": parse / total if total else 0.0,
            "fixed_cost": fixed / total if total else 0.0,
            "stages_per_1k_pages": layers["round.stages"]
            / max(layers["politeness.scheduled"], 1) * 1000,
        },
        "layers": layers,
        "replay": traced["detail"]["replay"],
        "ops_untraced": plain["detail"]["ops"],
        "ops_traced": traced["detail"]["ops"],
        "extra_ops_traced": traced["detail"]["extra_ops"],
        "ref_op": traced["detail"]["ref_op"],
    }
    os.makedirs(os.path.join(HERE, "profiles"), exist_ok=True)
    path = os.path.join(HERE, "profiles", f"{args.workload}.json")
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True, default=str)
        f.write("\n")
    print(path)


if __name__ == "__main__":
    main()
