"""Session, filesystem, statistics and correctness-gate helpers shared by
the workloads."""

from __future__ import annotations

import os
import shutil
import statistics
import time

# seeded change-event log shared by every workload: 200 repos x 20k
# paths, power-law repo skew, 60/30/10 insert/update/delete, 5% decoy
# table and 5% ignored-server events (generate_events defaults)
LOG_SHAPE = {"n_repos": 200, "paths_per_repo": 20_000}


def start_session(work: str):
    """One Spark driver that uses every core of the host, with all its
    scratch space inside ``work``. Returns (spark, seconds it took)."""
    t0 = time.perf_counter()
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    # every JVM the session starts (launcher and driver) keeps its temp
    # files in the run's directory and writes no /tmp/hsperfdata entry
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={local}"
    # a 1 GB heap, committed and touched at start: the workloads' tables
    # are small, and a heap that never resizes keeps the JVM's peak RSS
    # from depending on when G1 grows it, so peak RSS moves with the
    # memory outside the heap (driver, Arrow buffers, metaspace, threads)
    os.environ["ROOK_SPARK_DRIVER_MEM"] = "1g"
    from rook_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{os.cpu_count() or 1}]",
        extra_conf={
            # the carriage-return progress bar corrupts line-based output
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": "-Xms1g -XX:+AlwaysPreTouch",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep every job/stage of a run for span attribution
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000",
            "spark.sql.ui.retainedExecutions": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the session started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a stuck JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=10)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(pids: list[int | None]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def pct(values: list[float], q: float) -> float:
    """q-th percentile (0-100) by linear interpolation."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def timing(values: list[float]) -> dict:
    """Median, 90th percentile and sample count of a list of timings."""
    return {
        "p50": statistics.median(values) if values else float("nan"),
        "p90": pct(values, 90),
        "n": len(values),
    }


def snapshot_file_bytes(table) -> int:
    """Bytes of every data file the table's current snapshot references."""
    snap = table.snapshot()
    files = [f for fs in snap.buckets.values() for f in fs]
    files += [f for fs in snap.deltas.values() for f in fs]
    total = 0
    for f in files:
        p = f if os.path.isabs(f) else os.path.join(table.path, f)
        total += os.path.getsize(p)
    return total


def oracle_gate(table, log_files: list[str], work: str) -> dict:
    """Row-by-row comparison of the table's final state with the DuckDB
    replay oracle over exactly the applied log files, rows hashed as
    (repo, path, commit, lang, sha256(content)). Also returns the bytes
    of the expected state's payload columns (the space-amplification
    denominator; equal to the table's when the gate passes)."""
    import duckdb
    from pyspark.sql import functions as F

    from rook_spark.cdc.fixtures import oracle_final_state_sql

    got_dir = os.path.join(work, "gate-table")
    (table.read()
     .select("repo", "path", "commit", "lang", F.sha2("content", 256).alias("h"))
     .write.mode("overwrite").parquet(got_dir))
    listing = ", ".join(f"'{f}'" for f in log_files)
    oracle = oracle_final_state_sql("__LOG__").replace(
        "read_parquet('__LOG__')", f"read_parquet([{listing}])")
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb-tmp')}'")
        con.execute(f"CREATE TABLE state AS {oracle}")
        con.execute("CREATE VIEW want AS SELECT repo, path, commit, lang, "
                    "sha256(content) AS h FROM state")
        con.execute(f"CREATE VIEW got AS SELECT * FROM read_parquet('{got_dir}/*.parquet')")
        n_want = con.execute("SELECT count(*) FROM want").fetchone()[0]
        n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
        missing = con.execute(
            "SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)"
        ).fetchone()[0]
        extra = con.execute(
            "SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)"
        ).fetchone()[0]
        payload = con.execute(
            "SELECT sum(strlen(repo) + strlen(path) + strlen(commit) + strlen(lang)"
            " + strlen(content)) FROM state").fetchone()[0]
    finally:
        con.close()
    return {"ok": missing == 0 and extra == 0 and n_want > 0,
            "rows_oracle": n_want, "rows_table": n_got,
            "missing": missing, "extra": extra, "payload_bytes": int(payload or 0)}
