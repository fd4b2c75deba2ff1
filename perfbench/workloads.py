"""The CDC workloads: ``tail`` and ``serve``.

Each workload builds its inputs from the seed, sets up (session start,
log generation, table preparation, untimed warm-up), runs a fixed amount
of work sized from ``--seconds``, and gates the final table against the
DuckDB oracle outside the timed region.
Work is sized, not time-boxed, so one seed always does the same work and
the traced run's counts repeat exactly.

Sizes are set for a 4-vCPU host, where an epoch of either workload costs
about a second of fixed Spark work whatever its size; the nominal
durations below convert ``--seconds`` into a number of work units at
roughly the speed of that host. Every run's samples have the same mix
of compacting and plain merge-on-read epochs: tail times whole
compaction periods, so its medians fall on plain epochs; serve's cycles
start and end on a compacting epoch, so its epoch median is a
compacting epoch and its read-mix median a pass at delta depth 0.
"""

from __future__ import annotations

import glob
import os
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext

from common import (LOG_SHAPE, fresh_dir, jvm_pid, oracle_gate, peak_rss_mb,
                    snapshot_file_bytes, timing)

N_BUCKETS = 16
N_SOURCE_PARTITIONS = 8  # generate_events' source-partition count


class Run:
    """State one workload run shares with the harness."""

    def __init__(self, spark, seed: int, seconds: int, work: str, tracer=None):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict[str, dict] = {}   # every metric of the report line
        self.samples: dict[str, list[float]] = {}
        self.checks: dict[str, dict] = {}
        self.setup_parts: dict[str, float] = {}
        self.extra: dict[str, object] = {}

    @contextmanager
    def timed(self, workload: str):
        """The timed region: its wall-clock window bounds the spans the
        per-layer metrics count, and the engine's observation-fallback
        counter is read on both sides of it."""
        from rook_spark.cdc import apply

        fallbacks = apply.OBS_FALLBACKS["count"]
        t0 = time.time()
        with _span(self, f"bench.{workload}.timed"):
            yield
        self.extra["window"] = (t0, time.time())
        self.extra["obs_fallbacks"] = apply.OBS_FALLBACKS["count"] - fallbacks

    def metric(self, name: str, value: float, unit: str, n: int | None = None) -> None:
        self.metrics[name] = {"value": value, "unit": unit, "n": n}

    def timed_metric(self, name: str, values: list[float]) -> None:
        self.samples[name] = values
        t = timing(values)
        self.metric(f"{name}_p50", t["p50"], "s", t["n"])
        self.metric(f"{name}_p90", t["p90"], "s", t["n"])

    def attempt(self, fn, what: str):
        """Run one operation, counting it as attempted and, if it raises,
        as failed (the error is kept for the report)."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — a failed op is a data point
            self.failed += 1
            self.errors.append(f"{what}: {type(exc).__name__}: {exc}"[:500])
            return None

    def final_state(self, table, log_files: list[str]) -> None:
        """Peak memory (read before the oracle runs in this process), the
        oracle gate over ``log_files``, space amplification and the
        persisted-RDD count, all outside the timed region."""
        driver, jvm = peak_rss_mb([os.getpid()]), peak_rss_mb([jvm_pid()])
        self.metric("peak_rss_mb", driver + jvm, "MB")
        self.extra["peak_rss_mb"] = {"driver": driver, "jvm": jvm}
        self.attempted += 1
        res = self.checks["final_state"] = oracle_gate(table, log_files, self.work)
        if not res["ok"]:
            self.failed += 1
        self.metric("space_amp", snapshot_file_bytes(table) / res["payload_bytes"], "ratio")
        self.extra["persisted_rdds"] = len(self.spark.sparkContext._jsc.getPersistentRDDs())


def _generate(run: Run, n_events: int, parts: list[tuple[str, int]]) -> list[list[str]]:
    """Generate the seeded log once and write it as offset-ordered chunk
    files of about equal size; ``parts`` assigns consecutive runs of
    ``files`` of them to each directory, in offset order. Returns each
    part's file list."""
    from rook_spark.cdc.fixtures import generate_events, order_files_for_tail

    # spark.range splits offsets into contiguous partitions, so writing one
    # file per partition gives offset-ordered chunks without a range shuffle
    n_files = sum(n for _, n in parts)
    ev = generate_events(run.spark, n_events, seed=run.seed, num_partitions=n_files,
                         **LOG_SHAPE)
    staged = os.path.join(run.work, "generated")
    ev.write.parquet(staged)
    order_files_for_tail(staged)
    files = _chunks(staged)
    out = []
    for path, n in parts:
        os.makedirs(path, exist_ok=True)
        moved = []
        for f in files[:n]:
            dst = os.path.join(path, os.path.basename(f))
            os.rename(f, dst)
            moved.append(dst)
        files = files[n:]
        out.append(moved)
    return out


def _chunks(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "chunk-*.parquet")))


def _engine(run: Run, path: str, n_buckets: int = N_BUCKETS, **kw):
    from rook_spark.cdc.engine import CdcEngine
    from rook_spark.cdc.fixtures import IGNORED_SERVER_ID

    return CdcEngine(run.spark, path, n_buckets=n_buckets, **kw).ignoring_servers(IGNORED_SERVER_ID)


def _prepare(run: Run, build):
    """Build the starting state, timing it as the ``prep_s`` part of set-up."""
    t0 = time.perf_counter()
    state = build()
    run.setup_parts["prep_s"] = time.perf_counter() - t0
    return state


def _span(run: Run, name: str):
    if run.tracer is None:
        return nullcontext()
    return run.tracer.span(name)


# -------------------------------------------------------------------- tail

TAIL_PRELOAD = 4_000
TAIL_CHUNK = 250
# a compaction every 4th trigger: a minority of the samples, and the one
# trigger it delays (the next chunk waits for it) is a minority too
TAIL_COMPACT_DEPTH = 4
# the preload leaves every bucket at delta depth 1, so the warm-up's last
# chunk brings the first (cold) compaction and the timed region starts
# on a fresh compaction period
TAIL_WARMUP_CHUNKS = TAIL_COMPACT_DEPTH - 1
# one chunk released every 2.5 s (100 events/s): an epoch takes ~1.4 s
# and a compacting one ~3.2 s on a 4-vCPU host, so the schedule offers
# about three quarters of the closed-loop capacity and a stall delays
# only the chunk behind it
TAIL_INTERVAL_S = 2.5
TAIL_DRAIN_TIMEOUT_S = 60.0


class _Progress:
    """StreamingQueryListener that keeps every trigger's progress (the
    query's own recentProgress keeps only the last 100)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.by_batch: dict[int, dict] = {}
        self.cond = threading.Condition()

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows <= 0:
                    return
                with outer.cond:
                    outer.by_batch[p.batchId] = {
                        "rows": p.numInputRows,
                        "duration_ms": dict(p.durationMs),
                        "seen_at": time.time(),
                    }
                    outer.cond.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = L()

    def wait_for(self, batch_id: int, deadline: float) -> bool:
        with self.cond:
            while batch_id not in self.by_batch:
                left = deadline - time.time()
                if left <= 0:
                    return False
                self.cond.wait(min(left, 0.5))
            return True

    def processed(self) -> int:
        with self.cond:
            return len(self.by_batch)


def tail(run: Run) -> None:
    """Streaming tail: a merge-on-read table preloaded with the head of
    the log; the rest arrives as chunk files released on an open-loop
    schedule (one per TAIL_INTERVAL_S) and tailed by CdcEngine.stream,
    one file per trigger. Freshness is timed from each chunk's scheduled
    release, so a stall also delays the chunk behind it."""
    from rook_spark.sources import read_events_parquet

    period_s = TAIL_COMPACT_DEPTH * TAIL_INTERVAL_S
    n_timed = TAIL_COMPACT_DEPTH * max(1, round(run.seconds / period_s))
    n_chunks = TAIL_WARMUP_CHUNKS + n_timed
    n_events = TAIL_PRELOAD + n_chunks * TAIL_CHUNK
    pre_dir = os.path.join(run.work, "preload")
    staged = os.path.join(run.work, "chunks")
    t0 = time.perf_counter()
    pre_files, chunk_files = _generate(
        run, n_events, [(pre_dir, TAIL_PRELOAD // TAIL_CHUNK), (staged, n_chunks)])
    run.setup_parts["gen_s"] = time.perf_counter() - t0

    def build():
        eng = _engine(run, fresh_dir(os.path.join(run.work, "table")), write_mode="mor",
                      compact_depth=TAIL_COMPACT_DEPTH, n_source_partitions=N_SOURCE_PARTITIONS)
        eng.replay(read_events_parquet(run.spark, pre_dir))
        return eng

    eng = _prepare(run, build)
    progress = _Progress()
    run.spark.streams.addListener(progress.listener)
    src = fresh_dir(os.path.join(run.work, "source"))
    ckpt = os.path.join(run.work, "checkpoint")
    released: list[str] = []

    def release(i: int) -> None:
        dst = os.path.join(src, os.path.basename(chunk_files[i]))
        os.rename(chunk_files[i], dst)
        now = time.time()
        os.utime(dst, (now, now))
        released.append(dst)

    t_warm = time.perf_counter()
    query = eng.stream(src, ckpt, max_files_per_trigger=1)
    try:
        # closed-loop warm-up: next chunk only after the previous applied
        for i in range(TAIL_WARMUP_CHUNKS):
            release(i)
            if not progress.wait_for(i, time.time() + TAIL_DRAIN_TIMEOUT_S):
                raise RuntimeError(f"warm-up chunk {i} not applied")
        run.setup_parts["warmup_s"] = time.perf_counter() - t_warm

        due, late, backlog = [], [], []
        run.extra["first_timed_batch"] = TAIL_WARMUP_CHUNKS
        with run.timed("tail"):
            t_start = time.time()
            for j in range(n_timed):
                t_due = t_start + j * TAIL_INTERVAL_S
                pause = t_due - time.time()
                if pause > 0:
                    time.sleep(pause)
                release(TAIL_WARMUP_CHUNKS + j)
                late.append(max(0.0, time.time() - t_due))
                due.append(t_due)
                backlog.append(TAIL_WARMUP_CHUNKS + j + 1 - progress.processed())
            last = n_chunks - 1
            drained = progress.wait_for(last, time.time() + TAIL_DRAIN_TIMEOUT_S)
            t_end = time.time()
    finally:
        query.stop()
        run.spark.streams.removeListener(progress.listener)
    if query.exception() is not None:
        run.errors.append(f"stream: {query.exception()}"[:500])

    table = eng.target()
    committed = {
        int(r["batch_id"]): float(r["committed_at"])
        for r in table.history().where("op = 'merge-mor'").collect()
        if r["run_id"] == os.path.abspath(ckpt)
    }
    fresh, trig = [], []
    for j in range(n_timed):
        b = TAIL_WARMUP_CHUNKS + j
        run.attempted += 1
        p = progress.by_batch.get(b)
        if b not in committed or p is None:
            run.failed += 1
            continue
        fresh.append(committed[b] - due[j])
        trig.append(p["duration_ms"].get("triggerExecution", 0) / 1000.0)
    if not drained:
        run.errors.append("stream did not drain within the timeout")
    run.extra["timed_s"] = t_end - t_start
    run.extra["progress"] = {b: progress.by_batch[b] for b in sorted(progress.by_batch)}
    run.extra["generator_late_s"] = late
    run.extra["backlog_files"] = backlog
    run.timed_metric("epoch_s", trig)
    run.timed_metric("freshness_s", fresh)
    run.metric("generator_late_s_max", max(late), "s", len(late))
    run.metric("generator_late_s_p50", statistics.median(late), "s", len(late))
    run.final_state(table, pre_files + released)
    run.extra["table_dirs"] = [table.path]
    run.extra["applied_files"] = released[TAIL_WARMUP_CHUNKS:]


# ------------------------------------------------------------------- serve

SERVE_PRELOAD = 500
SERVE_SLICE = 500
# a small table: four buckets, one per core, for the table and the index
SERVE_BUCKETS = 4
# a compaction every other epoch. The preload (a plain epoch, cold)
# leaves delta depth 1; the warm-up's first epoch reaches depth 2 and
# compacts, a read-mix pass follows at depth 0, and its second epoch is
# plain again. The timed cycles then alternate compacting epochs
# followed by reads at depth 0 and plain epochs followed by reads at
# depth 1, every kind of step having run warm at least once.
SERVE_COMPACT_DEPTH = 2
SERVE_WARMUP_SLICES = 2
# one cycle (a sink epoch and a read-mix pass) on a 4-vCPU host; the
# sink's fan-out costs about 4 s per epoch whatever the slice size
NOMINAL_CYCLE_S = 7.0
HOT_REPO = "repo-0000"   # the power-law head of generate_events
READS = ("point", "hot_agg", "row_count", "changes", "lookup")


def _probe_keys(files: list[str]) -> list[tuple[str, str]]:
    """For each log file, a key whose last event in that file is an
    insert or update of the tracked table (so it exists after the file
    is applied): the point-lookup and index-lookup target."""
    import duckdb

    from rook_spark.cdc.fixtures import DECOY_TABLE, IGNORED_SERVER_ID

    keys = []
    con = duckdb.connect()
    try:
        for f in files:
            row = con.execute(f"""
                WITH ev AS (
                  SELECT "offset", op, coalesce(after.repo, before.repo) AS repo,
                         coalesce(after.path, before.path) AS path
                  FROM read_parquet('{f}')
                  WHERE table_name <> '{DECOY_TABLE}' AND server_id <> {IGNORED_SERVER_ID}),
                last AS (
                  SELECT repo, path, arg_max(op, "offset") AS op, max("offset") AS o
                  FROM ev GROUP BY repo, path)
                SELECT repo, path FROM last WHERE op <> 'D' ORDER BY o DESC LIMIT 1
            """).fetchone()
            keys.append((row[0], row[1]))
    finally:
        con.close()
    return keys


def _read_mix(table, idx, key: tuple[str, str], v_from: int) -> list[tuple[str, object]]:
    """The serve read mix as (name, thunk) pairs; each thunk runs one
    read to completion and raises if its result is wrong."""
    from pyspark.sql import functions as F

    repo, path = key
    token = os.path.basename(path).split(".")[0]

    def point():
        rows = (table.read(ranges={"repo": (repo, repo), "path": (path, path)})
                .where((F.col("repo") == repo) & (F.col("path") == path)).collect())
        if len(rows) != 1:
            raise AssertionError(f"point read of {key} gave {len(rows)} rows")

    def hot_agg():
        (table.read(columns=["lang"]).where(F.col("repo") == HOT_REPO)
         .groupBy("lang").count().collect())

    def row_count():
        if table.row_count() <= 0:
            raise AssertionError("empty table")

    def changes():
        table.changes(v_from).count()

    def lookup():
        docs = {(r["repo"], r["path"]) for r in idx.lookup(token).collect()}
        if key not in docs:
            raise AssertionError(f"token {token!r} misses {key}")

    return list(zip(READS, (point, hot_agg, row_count, changes, lookup)))


def serve(run: Run) -> None:
    """Closed-loop client over a small merge-on-read table with the
    InvertedIndex full-text sink attached: each cycle replays a
    SERVE_SLICE-event epoch, then makes one pass over a fixed read mix
    (key point lookup, hot-repo aggregate, row_count(), changes() over
    the last epoch, index lookup). An untimed warm-up (two sink epochs,
    the first of which compacts, and a read-mix pass) runs every kind of
    timed step once; there are at least three cycles, so delta depth
    rises and falls within every run."""
    from rook_spark.cdc.fulltext import InvertedIndex
    from rook_spark.sources import read_events_parquet

    n_cycles = max(3, round(run.seconds / NOMINAL_CYCLE_S))
    n_slices = SERVE_WARMUP_SLICES + n_cycles
    n_events = SERVE_PRELOAD + n_slices * SERVE_SLICE
    pre_dir = os.path.join(run.work, "preload")
    slices_dir = os.path.join(run.work, "slices")
    t0 = time.perf_counter()
    pre_files, slices = _generate(
        run, n_events, [(pre_dir, SERVE_PRELOAD // SERVE_SLICE), (slices_dir, n_slices)])
    warm, timed = slices[:SERVE_WARMUP_SLICES], slices[SERVE_WARMUP_SLICES:]
    # keys[0] is read in the warm-up, keys[i + 1] in cycle i
    keys = _probe_keys(warm[:1] + timed)
    run.setup_parts["gen_s"] = time.perf_counter() - t0

    def build():
        # the sink is attached before the preload: the index is built by
        # the same incremental path the timed epochs use
        idx = InvertedIndex(run.spark, os.path.join(run.work, "index"), n_buckets=SERVE_BUCKETS)
        eng = _engine(run, os.path.join(run.work, "table"), n_buckets=SERVE_BUCKETS,
                      write_mode="mor", compact_depth=SERVE_COMPACT_DEPTH,
                      n_source_partitions=N_SOURCE_PARTITIONS)
        eng.with_sink("fulltext_index", idx.sink(), when="before")
        eng.replay(read_events_parquet(run.spark, pre_dir))
        return eng, idx

    eng, idx = _prepare(run, build)
    t_warm = time.perf_counter()
    v_before = eng.target().current_version()
    eng.replay(read_events_parquet(run.spark, warm[0]))
    for _, read in _read_mix(eng.target(), idx, keys[0], v_before):
        read()
    eng.replay(read_events_parquet(run.spark, warm[1]))
    run.setup_parts["warmup_s"] = time.perf_counter() - t_warm

    reads: dict[str, list[float]] = {k: [] for k in READS}
    replay_s: list[float] = []
    pass_s: list[float] = []
    depth: list[int] = []
    t_timed = time.perf_counter()
    with run.timed("serve"):
        for i, path in enumerate(timed):
            v_before = eng.target().current_version()
            t_ep = time.perf_counter()
            with _span(run, "bench.serve.replay"):
                run.attempt(lambda path=path: eng.replay(read_events_parquet(run.spark, path)),
                            f"replay slice {i}")
            replay_s.append(time.perf_counter() - t_ep)
            table = eng.target()
            if run.tracer is not None:
                snap = table.snapshot()
                depth.append(max((len(fs) for fs in snap.deltas.values()), default=0))
            t_pass = time.perf_counter()
            for name, read in _read_mix(table, idx, keys[i + 1], v_before):
                t_rd = time.perf_counter()
                with _span(run, f"bench.serve.read.{name}"):
                    run.attempt(read, f"read {name} cycle {i}")
                reads[name].append(time.perf_counter() - t_rd)
            pass_s.append(time.perf_counter() - t_pass)
    run.extra["timed_s"] = time.perf_counter() - t_timed
    run.timed_metric("epoch_s", replay_s)
    run.timed_metric("read_mix_s", pass_s)
    for name, v in reads.items():
        run.timed_metric(f"read_{name}_s", v)
    run.extra["delta_depth"] = depth
    table = eng.target()
    run.final_state(table, pre_files + slices)
    run.extra["table_dirs"] = [table.path]
    run.extra["applied_files"] = timed


WORKLOADS = {"tail": tail, "serve": serve}
