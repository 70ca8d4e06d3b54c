#!/usr/bin/env python3
"""Multi-JVM correctness evidence under ``local-cluster`` masters.

Two modes, each printing ONE JSON line (used by the slow-lane tests in
tests/test_local_cluster.py and runnable standalone for round
evidence):

``parity <sf_dir> <q1,q2,...>``
    Run the named registered queries under ``local-cluster[3,4,3072]``
    (real executor JVMs, real serialized shuffle) and compare row
    count / column names / order-insensitive canonical values against
    the DuckDB oracle — the SAME gate the driver applies single-JVM.

``killtest <sf_dir> <query>``
    Run the query once clean, then re-run it while SIGKILLing one
    executor JVM mid-job (verified: the kill lands while the job has
    active stages, and the executor process is gone). The standalone
    worker respawns the executor, lost shuffle/task state is
    recomputed, and the result must be IDENTICAL to the clean run.
    This is the fault-tolerance shape of a 1000-executor cluster:
    losing an executor must cost retries, never correctness.

Exit code 0 with {"ok": true} on success.
"""

from __future__ import annotations

import json
import math
import os
import re
import signal
import subprocess
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

MASTER = os.environ.get("SPARK_LC_MASTER", "local-cluster[3,4,3072]")

_LC_RE = re.compile(r"^local-cluster\[\s*\d+\s*,\s*\d+\s*,\s*(\d+)\s*\]$")


def _lc_mem_mb(master: str, default: int) -> int:
    """Per-worker memory MB from a ``local-cluster[n,c,mem]`` master.
    Any other master shape (``local[8]``, ``spark://...``) falls back
    to ``default`` — naive ``rsplit(',')`` parsing on ``local[8]``
    used to yield the nonsense executor memory ``'local[8m'`` and a
    confusing session failure."""
    m = _LC_RE.match(master.strip())
    return int(m.group(1)) if m else default


def _canon(val):
    if val is None:
        return ("\x00null",)
    if isinstance(val, float):
        if math.isnan(val):
            return ("nan",)
        return (repr(round(val, 9)),)
    return (str(val),)


def _frame_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(_canon(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], canon


def _get_spark(app, extra=None):
    from travel_data_ingestion_spark.session import get_spark

    conf = {
        "spark.executor.memory": f"{_lc_mem_mb(MASTER, 3072)}m",
        "spark.driver.memory": "6g",
        "spark.sql.shuffle.partitions": "12",
    }
    conf.update(extra or {})
    return get_spark(app_name=app, master=MASTER, extra_conf=conf)


def _executor_pids() -> set[int]:
    out = subprocess.run(
        ["ps", "-eo", "pid,args"], capture_output=True, text=True
    ).stdout
    pids = set()
    for line in out.splitlines():
        if "CoarseGrainedExecutorBackend" in line:
            pids.add(int(line.split(None, 1)[0]))
    return pids


def parity(sf_dir: str, names: list[str]) -> dict:
    import duckdb

    from travel_data_ingestion_spark.queries import TABLES, member_queries

    spark = _get_spark("lc-parity")
    specs = member_queries()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    failures = []
    ran = 0
    for name in names:
        spec = specs[name]
        sdf = spec.fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        ran += 1
        if spec.oracle is None:
            continue
        orc = con.execute(spec.oracle)
        ocols = [d[0] for d in orc.description]
        orows = orc.fetchall()
        if sorted(scols) != sorted(ocols):
            failures.append(f"{name}: columns differ")
            continue
        if len(srows) != len(orows):
            failures.append(
                f"{name}: rows {len(srows)} != {len(orows)}")
            continue
        _, s_canon = _frame_key(scols, [[r[c] for c in scols] for r in srows])
        _, o_canon = _frame_key(ocols, orows)
        if s_canon != o_canon:
            failures.append(f"{name}: value mismatch")
    execs = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1
    spark.stop()
    return {"ok": not failures, "mode": "parity", "ran": ran,
            "executors": execs, "failures": failures, "master": MASTER}


def killtest(sf_dir: str, name: str) -> dict:
    from travel_data_ingestion_spark.queries import member_queries

    spark = _get_spark("lc-killtest")
    sc = spark.sparkContext
    spec = member_queries()[name]

    def run_once():
        df = spec.fn(spark, sf_dir)
        cols = df.columns
        rows = df.collect()
        return _frame_key(cols, [[r[c] for c in cols] for r in rows])

    clean = run_once()
    before = _executor_pids()

    state = {"killed": None, "active_when_killed": False}

    def assassin():
        # wait until the job is actually running, then kill one executor
        deadline = time.time() + 120
        tracker = sc.statusTracker()
        while time.time() < deadline:
            if tracker.getActiveJobsIds():
                pids = sorted(_executor_pids() & before)
                if pids:
                    os.kill(pids[0], signal.SIGKILL)
                    state["killed"] = pids[0]
                    state["active_when_killed"] = bool(
                        tracker.getActiveJobsIds())
                    return
            time.sleep(0.05)

    t = threading.Thread(target=assassin, daemon=True)
    t.start()
    wounded = run_once()
    t.join(timeout=130)

    # the kill must have landed mid-job, and the executor must be gone
    gone = state["killed"] is not None and state["killed"] not in _executor_pids()
    identical = wounded == clean
    spark.stop()
    return {
        "ok": bool(state["killed"]) and state["active_when_killed"]
        and gone and identical,
        "mode": "killtest", "query": name, "killed_pid": state["killed"],
        "active_when_killed": state["active_when_killed"],
        "executor_gone": gone, "result_identical": identical,
        "master": MASTER,
    }


def skewtest() -> dict:
    """AQE skew-join splitting, observed live under real multi-JVM
    shuffle: a 95%-hot key through a forced sort-merge join (broadcast
    disabled) with test-scaled skew thresholds. Asserts (a) the final
    adaptive plan actually split the skewed partition (the
    AQEShuffleRead reports ``skewed``), and (b) the join result is
    exactly right — AQE splitting must never change semantics."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    spark = _get_spark(
        "lc-skewtest",
        extra={
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                "1m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512k",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        },
    )
    n_big, n_keys = 2_000_000, 1_000
    big = spark.range(n_big).select(
        F.when(F.col("id") % 20 != 0, F.lit(7))
        .otherwise(F.pmod(F.col("id"), F.lit(n_keys)))
        .alias("k"),
        F.concat(F.lit("payload_"), F.col("id")).alias("p"),
    )
    dim = spark.range(n_keys).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("d")
    )
    joined = big.join(dim, "k")
    # materialize the join's OWN query execution (a .count() would run
    # a different query and leave this plan un-executed/un-adapted)
    got = joined._jdf.queryExecution().toRdd().count()
    buf = io.StringIO()
    with redirect_stdout(buf):
        joined.explain()
    plan = buf.getvalue()
    split = "skew=true" in plan or "skewed" in plan
    expect = n_big  # every big row matches exactly one dim row
    spark.stop()
    return {"ok": split and got == expect, "mode": "skewtest",
            "rows": got, "expected": expect, "skew_split_observed": split,
            "master": MASTER}


def ingestkill(workdir: str) -> dict:
    """Exactly-once batch ingestion under executor loss: 120 landing
    CSVs land through ``ingest_all`` (one ``FileDetail`` for
    ``transactions*.csv``, one bronze write per file) while one executor
    JVM is SIGKILLed during a job. The ledger's reserved load_ids and the
    dynamic-overwrite bronze writes must make the retried work
    invisible: bronze business rows, per-file lineage and the ingestion
    ledger must all match a clean run exactly, with every file
    SUCCESS."""
    import glob

    from travel_data_ingestion_spark.catalog import Warehouse
    from travel_data_ingestion_spark.config import FileDetail
    from travel_data_ingestion_spark.ingest import ingest_all

    landing = os.path.join(workdir, "landing")
    os.makedirs(landing, exist_ok=True)
    for i in range(120):
        path = os.path.join(landing, f"transactions_{i:03d}.csv")
        with open(path, "w") as f:
            f.write("country,date,name,type,amount,comments\n")
            for r in range(25):
                f.write(
                    f"Japan,2026-02-{(r % 28) + 1:02d},merchant_{i}_{r},"
                    f"Hotel,{(i * 25 + r) % 450 + 10}.25,note {i}-{r}\n"
                )
    detail = FileDetail(1, landing, "transactions*.csv", "bronze",
                        "transactions", "csv")

    spark = _get_spark("lc-ingestkill")

    def ingest(tag):
        wh = Warehouse(os.path.join(workdir, f"wh_{tag}"))
        wh.init()
        ingest_all(spark, wh, {"transactions": detail})
        bronze = wh.read(spark, "bronze", "transactions")
        # wall-clock lineage legitimately differs between runs;
        # exactly-once is judged on the business rows + per-file lineage
        # multiset
        cols = [c for c in bronze.columns
                if c not in ("_ingestion_time", "load_id", "row_id")]
        rows = sorted(
            tuple(str(r[c]) for c in cols) for r in bronze.collect()
        )
        logs = wh.read(spark, "admin", "ingestion_logs").collect()
        ledger = sorted((r.file_name, r.target_table, r.status) for r in logs)
        succeeded = {r.file_name for r in logs if r.status == "SUCCESS"}
        return rows, ledger, len(succeeded)

    clean = ingest("clean")
    before = _executor_pids()
    state = {"killed": None, "active_when_killed": False}

    def assassin():
        deadline = time.time() + 120
        tracker = spark.sparkContext.statusTracker()
        while time.time() < deadline:
            if tracker.getActiveJobsIds():
                pids = sorted(_executor_pids() & before)
                if pids:
                    os.kill(pids[0], signal.SIGKILL)
                    state["killed"] = pids[0]
                    state["active_when_killed"] = bool(
                        tracker.getActiveJobsIds())
                    return
            time.sleep(0.02)

    t = threading.Thread(target=assassin, daemon=True)
    t.start()
    wounded = ingest("kill")
    t.join(timeout=130)
    gone = (state["killed"] is not None
            and state["killed"] not in _executor_pids())
    identical = wounded == clean
    n_files = len(glob.glob(os.path.join(landing, "*.csv")))
    all_success = wounded[2] == n_files
    spark.stop()
    return {
        "ok": bool(state["killed"]) and state["active_when_killed"]
        and gone and identical and all_success,
        "mode": "ingestkill", "killed_pid": state["killed"],
        "active_when_killed": state["active_when_killed"],
        "executor_gone": gone, "result_identical": identical,
        "all_success": all_success,
        "rows": len(wounded[0]), "ledger_rows": len(wounded[1]),
        "landing_files": n_files, "master": MASTER,
    }


def _total_spill(spark) -> tuple[int, int]:
    """(memoryBytesSpilled, diskBytesSpilled) summed over all stages of
    this application, via the documented REST monitoring API (the same
    numbers the UI's stage table shows)."""
    import urllib.request

    sc = spark.sparkContext
    url = (f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
           f"?status=complete")
    with urllib.request.urlopen(url, timeout=30) as resp:
        stages = json.load(resp)
    mem = sum(s.get("memoryBytesSpilled", 0) for s in stages)
    disk = sum(s.get("diskBytesSpilled", 0) for s in stages)
    return mem, disk


def spilltest(sf_dir: str, names: list[str], mult: int = 1) -> dict:
    """Deliberate memory-pressure probe: run shuffle-heavy queries
    under executors tightened until the shuffle/aggregation path
    SPILLS (nonzero memoryBytesSpilled), and require the results to
    stay value-identical to the DuckDB oracle. At 100 TB every big
    aggregation and bucket join runs beyond executor memory — this
    proves the spill path completes correctly instead of assuming it.

    The session is deliberately hostile: small executor JVMs (the
    master's per-worker MB, default 1200), a low spark.memory.fraction
    so execution memory is scarce, and FEW shuffle partitions so each
    partition decisively overflows what's left. sf0.1 per-task shuffle
    volumes fit even 800 MB executors (measured r14: zero spill), so
    ``mult`` replicates the corpus first (tools/replicate_sf.py,
    density documents + key-shifted TPC-H) to make data >> memory
    actually true; the DuckDB oracle runs on the SAME scaled dir.
    Completion + nonzero spill + oracle-equal values is the claim.
    """
    import duckdb

    from tools.replicate_sf import replicate_tables
    from travel_data_ingestion_spark.queries import TABLES, member_queries

    master = os.environ.get("SPARK_LC_SPILL_MASTER",
                            "local-cluster[2,4,1200]")
    mem_mb = _lc_mem_mb(master, 1200)
    from travel_data_ingestion_spark.session import get_spark

    spark = get_spark(
        app_name="lc-spilltest",
        master=master,
        extra_conf={
            "spark.executor.memory": f"{mem_mb}m",
            "spark.driver.memory": "6g",
            # scarce execution memory + big partitions -> guaranteed
            # overflow through the UnsafeExternalSorter spill path
            "spark.memory.fraction": "0.2",
            "spark.sql.shuffle.partitions": "4",
            # keep AQE from re-coalescing the few partitions we forced
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            # the REST monitoring API is the spill-metric source
            "spark.ui.enabled": "true",
        },
    )
    if mult > 1:
        scaled = os.environ.get("SPARK_LC_SPILL_DIR", "/tmp/lc_spill_scaled")
        replicate_tables(spark, sf_dir, scaled, mult, density=True)
        sf_dir = scaled
    specs = member_queries()
    con = duckdb.connect()
    for t in TABLES:
        src = f"{sf_dir}/{t}.parquet"
        # Spark writes the replicated tables as parquet DIRECTORIES;
        # DuckDB needs the part-file glob for those
        pat = f"{src}/*.parquet" if os.path.isdir(src) else src
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')"
        )
    failures = []
    per_query = {}
    for name in names:
        spec = specs[name]
        m0, d0 = _total_spill(spark)
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as exc:  # OOM/kill shows up here
            failures.append(f"{name}: {type(exc).__name__}: {exc}")
            continue
        elapsed = round(time.time() - t0, 2)
        m1, d1 = _total_spill(spark)
        per_query[name] = {
            "sec": elapsed,
            "memory_spilled_mb": round((m1 - m0) / 2**20, 1),
            "disk_spilled_mb": round((d1 - d0) / 2**20, 1),
            "rows": len(srows),
        }
        if spec.oracle is None:
            continue
        orc = con.execute(spec.oracle)
        ocols = [d[0] for d in orc.description]
        orows = orc.fetchall()
        if sorted(scols) != sorted(ocols) or len(srows) != len(orows):
            failures.append(f"{name}: shape mismatch under pressure")
            continue
        _, s_canon = _frame_key(scols, [[r[c] for c in scols] for r in srows])
        _, o_canon = _frame_key(ocols, orows)
        if s_canon != o_canon:
            failures.append(f"{name}: value mismatch under pressure")
    total_mem = sum(q["memory_spilled_mb"] for q in per_query.values())
    total_disk = sum(q["disk_spilled_mb"] for q in per_query.values())
    spark.stop()
    if mult > 1 and not os.environ.get("SPARK_LC_SPILL_KEEP"):
        import shutil

        shutil.rmtree(sf_dir, ignore_errors=True)
    return {
        "ok": not failures and total_mem > 0,
        "mode": "spilltest", "master": master, "mult": mult,
        "memory_spilled_mb": round(total_mem, 1),
        "disk_spilled_mb": round(total_disk, 1),
        "queries": per_query, "failures": failures,
    }


def main() -> None:
    mode = sys.argv[1]
    if mode == "parity":
        out = parity(sys.argv[2], sys.argv[3].split(","))
    elif mode == "killtest":
        out = killtest(sys.argv[2], sys.argv[3])
    elif mode == "ingestkill":
        out = ingestkill(sys.argv[2])
    elif mode == "spilltest":
        out = spilltest(sys.argv[2], sys.argv[3].split(","),
                        int(sys.argv[4]) if len(sys.argv) > 4 else 1)
    else:
        out = skewtest()
    print(json.dumps(out))
    sys.exit(0 if out["ok"] else 1)


if __name__ == "__main__":
    main()
