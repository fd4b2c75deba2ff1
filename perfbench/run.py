#!/usr/bin/env python3
"""CDC benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload {tail,serve} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The run generates its change-event log
from the seed with ``rook_spark.cdc.fixtures.generate_events``, drives
the engine through its public API (``CdcEngine``, ``LakeTable``,
``InvertedIndex``), and gates the final table against the DuckDB replay
oracle. Everything it writes stays under ``.perfbench_work/`` (removed at
the end) and ``.perfbench_out/`` (reports and span dumps) in the
repository root.

Output: the next-to-last stdout line is the full report (every metric
the workload defines, with units and sample counts, the set-up
breakdown, oracle results, errors); the last line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (same names on
every workload):

- ``setup_s``: Spark session start + log generation + table preload
  (serve: through the index sink) + untimed warm-up, measured once.
- ``epoch_s_p50``: median epoch latency (tail: the streaming trigger;
  serve: the ``CdcEngine.replay`` call).
- ``latency_s_p50``: median of what the workload's user waits for. On
  tail it is the report's ``freshness_s_p50``: from a chunk's scheduled
  release to the ``committed_at`` of the snapshot that applied it. On
  serve it is the report's ``read_mix_s_p50``: one pass over the read
  mix.
- ``peak_rss_mb``: peak RSS of this Python driver plus the Spark JVM.
  The JVM's 1 GB heap is committed and touched at start, so the metric
  moves with the memory outside the heap.
- ``space_amp``: bytes of the files the final snapshot references over
  bytes of the final state's payload columns.

The report line also has ``*_p90`` values, each timing's raw samples
and, on serve, each read kind's latency (``read_<kind>_s_*``); a run
has far fewer than the hundred samples a p90 with ten samples beyond it
needs, so only medians are in the result line. Failed operations
(epochs, reads, the oracle gate) are counted in ``failed`` out of
``attempted``; their ratio is the report's ``error_rate``.

With ``--trace 1`` the run wraps each layer's entry points in spans
(``spans.py``) and the metrics are the per-layer ones (``layers.py``).
The report then also gives the tracing overhead against the last
``--trace 0`` run of the same workload, seed and seconds, if one was made
in this checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# end-to-end metric -> the report metric it is, per workload
E2E = {
    "setup_s": ("s", {}),
    "epoch_s_p50": ("s", {}),
    "latency_s_p50": ("s", {"tail": "freshness_s_p50", "serve": "read_mix_s_p50"}),
    "peak_rss_mb": ("MB", {}),
    "space_amp": ("ratio", {}),
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["tail", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # fail before doing any work when the program is not importable
    import duckdb  # noqa: F401
    import pyspark  # noqa: F401

    import rook_spark.cdc.engine  # noqa: F401
    from common import start_session, stop_session
    from layers import layer_metrics
    from spans import Tracer, attribute_spark, install_layer_spans, spark_activity
    from workloads import WORKLOADS, Run

    tag = f"{args.workload}-seed{args.seed}-s{args.seconds}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    spark = None
    try:
        spark, session_s = start_session(work)
        tracer = Tracer() if args.trace else None
        if tracer is not None:
            install_layer_spans(tracer)
        run = Run(spark, args.seed, args.seconds, work, tracer)
        WORKLOADS[args.workload](run)
        parts = run.setup_parts
        setup_s = session_s + parts["gen_s"] + parts["prep_s"] + parts.get("warmup_s", 0.0)
        run.metric("setup_s", setup_s, "s", 1)
        run.metric("error_rate", run.failed / max(run.attempted, 1), "ratio", run.attempted)
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "metrics": run.metrics, "samples": run.samples,
            "checks": run.checks,
            "setup": {"session_s": session_s, **parts},
            "timed_s": run.extra.get("timed_s"), "errors": run.errors[:20],
            "persisted_rdds": run.extra.get("persisted_rdds"),
            "peak_rss_mb": run.extra.get("peak_rss_mb"),
        }
        if tracer is not None:
            tracer.unwrap_all()
            jobs, stages = spark_activity(spark)
            attribute_spark(tracer.spans, jobs, stages)
            tracer.dump(os.path.join(out_dir, f"{tag}-spans.json"))
            layers = layer_metrics(run, tracer.spans, run.extra.get("obs_fallbacks", 0))
            report["layers"] = layers
            report["trace_overhead"] = _overhead(out_dir, tag, run)
            metrics = layers
        else:
            with open(os.path.join(out_dir, f"{tag}-trace0.json"), "w") as fh:
                json.dump(report, fh)
            metrics = {name: {"value": run.metrics[of.get(args.workload, name)]["value"],
                              "unit": unit}
                       for name, (unit, of) in E2E.items()}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(report, default=str))
    correct = bool(run.checks) and all(c["ok"] for c in run.checks.values())
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


def _overhead(out_dir: str, tag: str, run) -> dict | None:
    """Traced vs untraced timed-region wall time and epoch median, against
    the untraced report of the same workload, seed and seconds."""
    path = os.path.join(out_dir, f"{tag}-trace0.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        base = json.load(fh)
    traced_epoch = run.metrics["epoch_s_p50"]["value"]
    base_epoch = base["metrics"]["epoch_s_p50"]["value"]
    return {
        "timed_s_ratio": run.extra["timed_s"] / base["timed_s"],
        "epoch_s_p50_ratio": traced_epoch / base_epoch,
    }


if __name__ == "__main__":
    sys.exit(main())
