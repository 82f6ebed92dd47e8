#!/usr/bin/env python
"""Interleaved min-of-N probe for bench queries across scale factors.

The host shows DRAM-phase drift that can swing isolated readings 2-7×
(BENCH/BASELINE.md), so cross-scale factors and A/B deltas are only
meaningful when the trials INTERLEAVE inside one session (PLANS §14
discipline). This harness runs each (query, sf_dir) cell once per
round, rounds repeated --trials times, and reports per-cell min +
all trials:

    python jobs/interleaved_probe.py --queries multimodal_ann \
        --sf /root/repo/testdata_sf1 /root/repo/testdata_sf10 --trials 3

Used for round-5 VERDICT items 2 (multimodal_ann sf10 factor) and 7
(per-query noise envelopes).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from redo_log_parser_spark.session import usable_cores  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", nargs="+", required=True)
    ap.add_argument("--sf", nargs="+", required=True)
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--cpus", default=str(usable_cores()))
    args = ap.parse_args()

    from bench import _spark, headline_queries

    spark = _spark(args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = headline_queries()
    unknown = [q for q in args.queries if q not in qs]
    assert not unknown, f"unknown queries {unknown}; have {sorted(qs)}"

    cells: dict[str, dict[str, list[float]]] = {
        q: {sf: [] for sf in args.sf} for q in args.queries
    }
    # warm-up pass per cell (JIT, codegen, file listing)
    for q in args.queries:
        for sf in args.sf:
            qs[q](spark, sf).count()
            spark.catalog.clearCache()
    for trial in range(args.trials):
        for q in args.queries:
            for sf in args.sf:
                t0 = time.monotonic()
                qs[q](spark, sf).count()
                dt = time.monotonic() - t0
                spark.catalog.clearCache()
                cells[q][sf].append(round(dt, 3))
                print(f"trial {trial} {q} {sf}: {dt:.3f}s",
                      file=sys.stderr, flush=True)
    out = {
        q: {
            sf: {"min": min(ts), "trials": ts}
            for sf, ts in bysf.items()
        }
        for q, bysf in cells.items()
    }
    for q, bysf in out.items():
        mins = [bysf[sf]["min"] for sf in args.sf]
        if len(mins) == 2 and mins[0] > 0:
            out[q]["factor_min_over_min"] = round(mins[1] / mins[0], 2)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
