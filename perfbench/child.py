"""One Spark session of a benchmark run; run.py starts it.

Prints JSON lines on stdout: {"event": "ready"} once the session has run
one trivial job, then {"event": "result", ...} after a closed loop of
passes (the next starts when the previous ends) that runs for --seconds
from the start of the first, cold pass, and at least that one pass.
With --trace 1 the session writes a Spark event log, runs at least one
cut and one uncut warm pass after the cold one, and the result carries
the per-layer numbers of its traced passes.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

import pandas as pd


def emit(obj) -> None:
    print(json.dumps(obj), flush=True)


def _load_inputs(spark, work: str) -> tuple[dict, dict]:
    with open(os.path.join(work, "inputs.json"), encoding="utf-8") as fh:
        inp = json.load(fh)
    with open(os.path.join(work, "truth.json"), encoding="utf-8") as fh:
        truth = json.load(fh)
    for key in ("table_dict", "lang_map"):
        if inp.get(key) is not None:
            inp[key] = spark.createDataFrame(pd.DataFrame(inp[key]))
    return inp, truth


def _one_pass(spark, run_pass, check, inp, truth, out_dir, tracer, pass_id):
    """(wall seconds or None if the pass failed, problems)."""
    t0 = time.perf_counter()
    tracer.begin_pass(pass_id)
    try:
        out = run_pass(spark, inp, out_dir, tracer)
        wall = time.perf_counter() - t0
        problems = check(out, truth)
    except Exception:
        tracer.abort()
        wall, problems = None, [traceback.format_exc(limit=3)]
    if tracer.enabled and wall is not None:
        wall = tracer.pass_wall(pass_id)
    spark.catalog.clearCache()
    return (None if problems else wall), problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    from redo_log_parser_spark.session import get_spark

    confs = {"spark.local.dir": os.path.join(args.work, "spark-local")}
    if args.trace:
        from spans import EVENT_LOG_CONFS

        log_dir = os.path.join(args.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update(EVENT_LOG_CONFS, **{"spark.eventLog.dir": "file://" + log_dir})
    spark = get_spark("perfbench", master=f"local[{args.cores}]", confs=confs)
    spark.range(1).count()
    emit({"event": "ready"})

    from spans import Tracer, layer_metrics, read_event_log
    from workloads import PASSES

    run_pass, check = PASSES[args.workload]
    inp, truth = _load_inputs(spark, args.work)
    out_dir = os.path.join(args.work, "out")
    plain = Tracer()
    tracer = Tracer(spark.sparkContext) if args.trace else plain
    passes, problems = [], []

    def step(tr, pass_id):
        wall, bad = _one_pass(spark, run_pass, check, inp, truth, out_dir, tr, pass_id)
        passes.append({"id": pass_id, "traced": tr.enabled, "wall_s": wall})
        problems.extend(bad)

    t_end = time.perf_counter() + args.seconds
    step(plain, 0)
    pass_id = 1
    # a traced run alternates cut and uncut passes so the uncut ones give
    # the tracing overhead in the same session
    while (args.trace and pass_id < 3) or time.perf_counter() < t_end:
        step(tracer if args.trace and pass_id % 2 == 1 else plain, pass_id)
        pass_id += 1

    result = {
        "event": "result",
        "passes": passes,
        "problems": problems[:10],
        "confs": {k: v for k, v in spark.sparkContext.getConf().getAll()
                  if k.startswith(("spark.sql", "spark.driver.memory", "spark.master",
                                   "spark.local", "spark.eventLog", "spark.ui"))},
    }
    spark.stop()
    if args.trace:
        (log,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        groups = read_event_log(log)
        traced = [p["id"] for p in passes if p["traced"] and p["wall_s"] is not None]
        per_pass = [layer_metrics(tracer, groups, i, args.cores) for i in traced]
        layers = {k: statistics.median(m[k] for m in per_pass)
                  for k in per_pass[0]} if per_pass else {}
        untraced = [p["wall_s"] for p in passes[1:]
                    if not p["traced"] and p["wall_s"] is not None]
        if layers and untraced:
            layers["trace.untraced_pass_s"] = statistics.median(untraced)
            layers["trace.overhead_ratio"] = (
                layers["trace.pass_s"] / layers["trace.untraced_pass_s"])
        result["layers"] = layers
        result["spans"] = tracer.spans
        result["unattributed_jobs"] = groups.get(None, {}).get("jobs", 0)
    emit(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
