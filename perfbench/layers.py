"""Per-layer metrics of a traced run, computed from its spans.

Each metric is named ``<module>.<quantity>`` after the module that owns
the layer; times are seconds summed over the timed window, counts are
whole numbers. A layer a workload does not exercise reports 0. The
end-to-end metric each one should move (and on which workload) is noted
beside it.
"""

from __future__ import annotations

import os

from spans import SpanIndex

PER_LAYER = [
    # -> epoch_s_p50 on serve and tail
    ("cdc.engine.replay_s", "s"), ("cdc.engine.epochs", "count"),
    # -> epoch_s_p50 and latency_s_p50 (freshness) on tail; a fallback is
    # a second pass over an epoch's input, so it should stay 0
    ("cdc.apply.apply_batch_s", "s"), ("cdc.apply.spark_jobs", "count"),
    ("cdc.apply.obs_fallbacks", "count"),
    # -> epoch_s_p50 on tail and serve
    ("cdc.apply.shuffle_write_bytes", "bytes"), ("cdc.apply.tasks", "count"),
    ("cdc.apply.task_s", "s"), ("cdc.apply.gc_s", "s"),
    # -> space_amp, and epoch_s_p50 on tail
    ("lake.table.output_bytes", "bytes"), ("lake.table.files_written", "count"),
    ("lake.table.write_amp", "ratio"),
    # -> epoch_s_p50 on tail
    ("lake.table.merge_mor_s", "s"), ("lake.table.snapshot_calls", "count"),
    ("lake.table.snapshot_s", "s"),
    # -> epoch_s_p90 and freshness_s_p90 on tail, read_mix_s on serve
    ("lake.table.compact_s", "s"), ("lake.table.compactions", "count"),
    # -> latency_s_p50 (read_mix_s) on serve
    ("lake.table.read_s", "s"), ("lake.table.row_count_s", "s"),
    ("lake.table.changes_s", "s"), ("lake.table.read_input_bytes", "bytes"),
    ("lake.table.delta_depth_max", "count"),
    # -> epoch_s_p50 on tail, latency_s_p50 (read_mix_s) on serve
    ("lake.metastore.read_calls", "count"), ("lake.metastore.read_blob_calls", "count"),
    ("lake.metastore.commit_s", "s"), ("lake.metastore.put_blob_bytes", "bytes"),
    # -> latency_s_p50 (freshness) on tail
    ("sources.trigger_s", "s"), ("sources.latest_offset_s", "s"),
    ("sources.wal_commit_s", "s"), ("sources.backlog_files_max", "count"),
    ("sources.generator_late_s_max", "s"),
    # -> epoch_s_p50 on serve; the index is a copy-on-write table, so its
    # merge is the workloads' only LakeTable.merge (copy-on-write) path
    ("cdc.fulltext.sink_s", "s"), ("cdc.fulltext.merge_s", "s"),
    ("cdc.fulltext.spark_jobs", "count"),
    # -> latency_s_p50 (read_mix_s) on serve
    ("cdc.fulltext.lookup_s", "s"),
    # whole session, for counts that must repeat exactly between runs;
    # persisted RDDs left after the run are cache leaks (the engine
    # persists each epoch's input while sinks are attached)
    ("spark.jobs", "count"), ("spark.tasks", "count"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.persisted_rdds", "count"),
]

_UNITS = dict(PER_LAYER)


def _payload_bytes_of_events(files: list[str]) -> int:
    """Bytes of the after-image payload strings the applied events carry
    (the write-amplification denominator)."""
    if not files:
        return 0
    import duckdb

    from rook_spark.cdc.fixtures import DECOY_TABLE, IGNORED_SERVER_ID

    listing = ", ".join(f"'{f}'" for f in files)
    con = duckdb.connect()
    try:
        return int(con.execute(f"""
            SELECT coalesce(sum(strlen(after.repo) + strlen(after.path)
                   + strlen(after.commit) + strlen(after.lang)
                   + strlen(after.content)), 0)
            FROM read_parquet([{listing}])
            WHERE after IS NOT NULL AND table_name <> '{DECOY_TABLE}'
              AND server_id <> {IGNORED_SERVER_ID}""").fetchone()[0])
    finally:
        con.close()


def layer_metrics(run, spans: list[dict], obs_fallbacks: int) -> dict[str, dict]:
    t0, t1 = run.extra["window"]
    window = [s for s in spans if t0 <= s["start"] <= t1]
    ix = SpanIndex(window)
    tables = [os.path.abspath(p) for p in run.extra["table_dirs"]]
    out: dict[str, float] = {}

    def on_main(name: str, **kw) -> list[dict]:
        """Calls on the replicated table (not the full-text index)."""
        return [s for s in ix.named(name, **kw)
                if os.path.abspath(s["attrs"].get("path", "")) in tables]

    epochs = ix.named("cdc.engine.replay")
    out["cdc.engine.replay_s"] = sum(ix.self_time(s) for s in epochs)
    out["cdc.engine.epochs"] = len(epochs)

    applies = ix.named("cdc.apply.apply_batch")
    out["cdc.apply.apply_batch_s"] = ix.duration(applies)
    out["cdc.apply.spark_jobs"] = ix.total(applies, "jobs")
    out["cdc.apply.obs_fallbacks"] = obs_fallbacks
    out["cdc.apply.shuffle_write_bytes"] = ix.total(applies, "shuffle_write_bytes")
    out["cdc.apply.tasks"] = ix.total(applies, "tasks")
    out["cdc.apply.task_s"] = ix.total(applies, "task_ms") / 1000.0
    out["cdc.apply.gc_s"] = ix.total(applies, "gc_ms") / 1000.0

    out["lake.table.merge_mor_s"] = ix.duration(on_main("lake.table.merge_mor"))
    compacts = on_main("lake.table.compact")
    out["lake.table.compact_s"] = ix.duration(compacts)
    out["lake.table.compactions"] = len(compacts)
    snaps = ix.named("lake.table.snapshot")
    out["lake.table.snapshot_calls"] = len(snaps)
    out["lake.table.snapshot_s"] = ix.duration(snaps)

    # data files the main table gained during the timed window
    n_files = n_bytes = 0
    for table in tables:
        for root, _, files in os.walk(table):
            for f in files:
                p = os.path.join(root, f)
                if f.endswith(".parquet") and t0 <= os.path.getmtime(p) <= t1 + 1.0:
                    n_files += 1
                    n_bytes += os.path.getsize(p)
    out["lake.table.files_written"] = n_files
    out["lake.table.output_bytes"] = n_bytes
    payload = _payload_bytes_of_events(run.extra.get("applied_files", []))
    out["lake.table.write_amp"] = n_bytes / payload if payload else 0.0

    reads = ix.named("bench.serve.read.point") + ix.named("bench.serve.read.hot_agg")
    counts = ix.named("bench.serve.read.row_count")
    changes = ix.named("bench.serve.read.changes")
    out["lake.table.read_s"] = ix.duration(reads)
    out["lake.table.row_count_s"] = ix.duration(counts)
    out["lake.table.changes_s"] = ix.duration(changes)
    out["lake.table.read_input_bytes"] = ix.total(reads + counts + changes, "input_bytes")
    out["lake.table.delta_depth_max"] = max(run.extra.get("delta_depth") or [0])

    out["lake.metastore.read_calls"] = len(ix.named("lake.metastore.read"))
    out["lake.metastore.read_blob_calls"] = len(ix.named("lake.metastore.read_blob"))
    out["lake.metastore.commit_s"] = ix.duration(ix.named("lake.metastore.commit"))
    out["lake.metastore.put_blob_bytes"] = sum(
        s["attrs"].get("bytes", 0) for s in ix.named("lake.metastore.put_blob"))

    progress = run.extra.get("progress", {})
    first_timed = run.extra.get("first_timed_batch", 0)
    timed_prog = [p for b, p in progress.items() if b >= first_timed]
    out["sources.trigger_s"] = sum(p["duration_ms"].get("triggerExecution", 0)
                                   for p in timed_prog) / 1000.0
    out["sources.latest_offset_s"] = sum(p["duration_ms"].get("latestOffset", 0)
                                         for p in timed_prog) / 1000.0
    out["sources.wal_commit_s"] = sum(p["duration_ms"].get("walCommit", 0)
                                      for p in timed_prog) / 1000.0
    out["sources.backlog_files_max"] = max(run.extra.get("backlog_files") or [0])
    out["sources.generator_late_s_max"] = max(run.extra.get("generator_late_s") or [0.0])

    sinks = ix.named("cdc.fulltext.sink")
    out["cdc.fulltext.sink_s"] = ix.duration(sinks)
    out["cdc.fulltext.merge_s"] = ix.duration(ix.named("lake.table.merge", under="cdc.fulltext.sink"))
    out["cdc.fulltext.spark_jobs"] = ix.total(sinks, "jobs")
    out["cdc.fulltext.lookup_s"] = ix.duration(ix.named("bench.serve.read.lookup"))

    out["spark.jobs"] = sum(s["self_counters"]["jobs"] for s in window)
    out["spark.tasks"] = sum(s["self_counters"]["tasks"] for s in window)
    out["spark.shuffle_write_bytes"] = sum(s["self_counters"]["shuffle_write_bytes"]
                                           for s in window)
    out["spark.persisted_rdds"] = run.extra.get("persisted_rdds", 0)
    return {k: {"value": out[k], "unit": _UNITS[k]} for k, _ in PER_LAYER}
