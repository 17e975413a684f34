#!/usr/bin/env python3
"""Tiny-scale self-check of the benchmark harness.

    python3 perfbench/selfcheck.py

In one Spark session, at the "tiny" scale (10k pages, 2k items, a few
seconds per run), runs every workload twice:
- untraced: no operation may fail, and exactly the end-to-end metrics
  are reported;
- traced, with one deliberately wrong expected value: exactly one
  operation must fail, exactly the per-layer metrics are reported,
  no Spark job is left unlabelled, and the pipeline stages' layers sum
  to within 5% of their wall time.
Exits 0 when every check holds.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import common
    from perfbench.run import END_TO_END, WORKLOADS, per_layer_spec, run

    common.prepare_process(common.nproc())
    spark = common.start_spark("perfbench-selfcheck", common.nproc())
    problems = []
    try:
        for wl in WORKLOADS:
            for trace in (False, True):
                out = run(wl, seed=7, seconds=3, trace=trace,
                          scale_name="tiny", wrong_expected=trace,
                          spark=spark)["result"]
                m = out["metrics"]
                want = ({n for n, _ in per_layer_spec()} if trace
                        else {n for n, *_ in END_TO_END})
                tag = f"{wl} trace={int(trace)}"
                print(f"{tag}: attempted={out['attempted']} "
                      f"failed={out['failed']}", file=sys.stderr)
                if set(m) != want:
                    problems.append(f"{tag}: metric names differ by "
                                    f"{sorted(set(m) ^ want)}")
                if out["failed"] != int(trace) or out["attempted"] < 2:
                    problems.append(f"{tag}: failed={out['failed']} of "
                                    f"{out['attempted']}")
                if trace and m["trace.unlabelled_jobs"]["value"]:
                    problems.append(f"{tag}: unlabelled Spark jobs")
                if trace and wl == "pipeline" \
                        and m["pipeline.layer_gap_frac"]["value"] > 0.05:
                    problems.append(f"{tag}: stage layers miss "
                                    f"{m['pipeline.layer_gap_frac']}")
    finally:
        common.stop_spark(spark)
    for p in problems:
        print("FAIL", p, file=sys.stderr)
    print("selfcheck", "failed" if problems else "ok", file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
