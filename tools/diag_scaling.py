"""Event-log scaling diagnosis: where does wall time go at N cores?

Runs the full pipeline once at --cores on a pre-materialized corpus with
Spark event logging on, then parses the event log into a stage timeline:

- per stage: callsite, #tasks, wall span, sum(task time), max task (skew),
  effective parallelism = sum(task)/span;
- timeline gaps with NO running stage = driver-only time (planning, codegen,
  broadcast builds, py4j round-trips) — the serial floor that caps N->4N
  scaling (Amdahl).

Usage: python tools/diag_scaling.py --cores 16 --corpus /tmp/scaling_corpus_240000
"""

from __future__ import annotations

import argparse
import os
import sys
import time

from eventlog import iter_events, stage_scopes

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run_job(
    cores: int, corpus: str, evdir: str, shuffle_mult: int = 2, aqe_tune: bool = False
) -> float:
    from entity_resolution_spark.plans.pipeline import PipelineConfig, resolve
    from entity_resolution_spark.session import get_spark

    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": evdir,
    }
    if aqe_tune:
        # finer AQE granularity: split skewed join partitions well below the
        # 256m default and stop coalescing back to coarse partitions — the
        # scoring stage straggler is a skewed pair-join partition
        conf.update({
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32m",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64m",
        })
    spark = get_spark(
        "diag",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores * shuffle_mult, 8),
        extra_conf=conf,
    )
    repo_files = spark.read.parquet(corpus)
    t0 = time.monotonic()
    out = resolve(spark, repo_files, PipelineConfig())
    out["clusters"].select("cluster_id").distinct().count()
    wall = time.monotonic() - t0
    spark.stop()
    return wall


def parse_eventlog(evdir: str) -> dict:
    stages: dict[tuple, dict] = {}
    app_start = app_end = None
    for ev in iter_events(evdir):
        k = ev.get("Event")
        if k == "SparkListenerApplicationStart":
            app_start = ev["Timestamp"]
        elif k == "SparkListenerApplicationEnd":
            app_end = ev["Timestamp"]
        elif k == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            key = (si["Stage ID"], si["Stage Attempt ID"])
            st = stages.setdefault(key, {"task_sum_ms": 0, "task_max_ms": 0})
            details = si.get("Details", "")
            frame = next(
                (
                    ln.strip()
                    for ln in details.split("\n")
                    if "/entity_resolution_spark/" in ln
                ),
                "",
            )
            # distinctive physical-operator scopes (python/arrow stages stand out)
            scope_s = ",".join(
                s for s in stage_scopes(si)
                if any(t in s for t in (
                    "Arrow", "Python", "Aggregate", "Join", "Window", "Scan",
                    "Checkpoint", "Generate",
                ))
            )[:60]
            st.update(
                name=(si["Stage Name"].split(" at ")[0] + " [" + scope_s + "] "
                      + frame)[:150],
                n_tasks=si["Number of Tasks"],
                submit=si.get("Submission Time"),
                complete=si.get("Completion Time"),
            )
        elif k == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            ti = ev.get("Task Info", {})
            dur = (ti.get("Finish Time", 0) or 0) - (ti.get("Launch Time", 0) or 0)
            st = stages.setdefault(
                key,
                {"name": "?", "n_tasks": 0, "submit": None, "complete": None,
                 "task_sum_ms": 0, "task_max_ms": 0},
            )
            st["task_sum_ms"] += dur
            st["task_max_ms"] = max(st["task_max_ms"], dur)
    # busy intervals -> gaps
    iv = sorted(
        (s["submit"], s["complete"])
        for s in stages.values()
        if s["submit"] and s["complete"]
    )
    merged = []
    for a, b in iv:
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    busy = sum(b - a for a, b in merged) / 1000.0
    span = ((app_end or merged[-1][1]) - (app_start or merged[0][0])) / 1000.0
    gaps = span - busy
    return {"stages": stages, "busy_s": busy, "gap_s": gaps, "span_s": span}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--corpus", default="/tmp/scaling_corpus_240000")
    ap.add_argument("--evdir", default=None)
    ap.add_argument("--parse-only", action="store_true")
    ap.add_argument("--shuffle-mult", type=int, default=2)
    ap.add_argument("--aqe-tune", action="store_true")
    args = ap.parse_args()
    evdir = args.evdir or f"/tmp/evlog_{args.cores}"
    os.makedirs(evdir, exist_ok=True)
    if not args.parse_only:
        wall = run_job(args.cores, args.corpus, evdir, args.shuffle_mult, args.aqe_tune)
        print(f"wall={wall:.1f}s", file=sys.stderr)
    rep = parse_eventlog(evdir)
    print(
        f"app span {rep['span_s']:.1f}s  stage-busy {rep['busy_s']:.1f}s  "
        f"driver-gaps {rep['gap_s']:.1f}s"
    )
    rows = sorted(
        rep["stages"].values(),
        key=lambda s: -((s["complete"] or 0) - (s["submit"] or 0)),
    )
    print(f"{'span_s':>8} {'tasks':>6} {'sum_s':>9} {'max_s':>7} {'par':>5}  name")
    for s in rows[:40]:
        if not (s["submit"] and s["complete"]):
            continue
        spn = (s["complete"] - s["submit"]) / 1000.0
        if spn < 0.4:
            continue
        par = (s["task_sum_ms"] / 1000.0) / spn if spn else 0.0
        print(
            f"{spn:8.1f} {s['n_tasks']:6d} {s['task_sum_ms']/1000.0:9.1f} "
            f"{s['task_max_ms']/1000.0:7.1f} {par:5.1f}  {s['name']}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
