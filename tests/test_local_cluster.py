"""Multi-JVM evidence tier (slow lane) — closes SCALE.md §9's honest
weak spot: before round 13, every measurement in this repo ran on ONE
JVM (``local[32]``), where "shuffle" is an in-process memory copy.
``local-cluster[N,C,M]`` launches N REAL executor JVM processes with
real serialized+compressed shuffle blocks, real broadcast
distribution, and real task (de)serialization — the execution shape
of a multi-node cluster minus the network fabric.

Every test shells out to tools/lc_check.py in a SUBPROCESS: a pytest
session already holds a local-mode SparkContext (session fixture),
and one JVM cannot host two masters. The tier checks correctness
only; no timing is taken under local-cluster.

- parity: the 9 headline bench queries + the LSH dedup + connected-
  components cluster queries run under 3 executor JVMs and must pass
  the SAME DuckDB value-hash gate the driver applies single-JVM.
- executor loss: one executor JVM is SIGKILLed mid-job (the harness
  verifies the kill landed while stages were active and the process
  is gone); the standalone worker respawns it, Spark recomputes the
  lost shuffle state, and the result must be byte-identical to the
  clean run. Losing an executor costs retries, never correctness.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LC_CHECK = os.path.join(REPO, "tools", "lc_check.py")
SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.slow


def _run(args, timeout):
    env = dict(os.environ)
    # the subprocess must not inherit a master override meant for us
    env.pop("SPARK_MASTER", None)
    last = None
    for attempt in range(2):
        r = subprocess.run(
            [sys.executable, LC_CHECK, *args],
            capture_output=True, text=True, timeout=timeout, env=env,
            cwd=REPO,
        )
        line = (r.stdout.strip().splitlines()[-1]
                if r.stdout.strip() else "{}")
        try:
            out = json.loads(line)
        except json.JSONDecodeError:
            out = {}
        if r.returncode == 0 and out.get("ok") is True:
            return out
        last = (r, out)
        # an infrastructure death with EMPTY stdout (standalone-master
        # startup races under heavy box load) retries once; a real
        # mismatch (ok=false JSON on stdout) fails immediately
        if r.stdout.strip():
            break
    r, out = last
    raise AssertionError(
        f"lc_check {args[0]} failed: stdout={r.stdout[-2000:]} "
        f"stderr={r.stderr[-2000:]}"
    )


def test_bench9_and_dedup_parity_under_local_cluster():
    names = ",".join(
        [
            "q01_pricing_summary", "q03_top_revenue_orders",
            "q05_region_nation_revenue", "d06_pivot_sum_case",
            "e02_dedup_row_number", "j02_sessionization",
            "dd01_exact_dedup", "t02_quality_score",
            "sim01_knn_bruteforce", "dd03_minhash_lsh_pairs",
            "dd06_dedup_clusters",
            # Python-kernel queries (mapInPandas importing the package
            # on executor workers — the spark.executorEnv.PYTHONPATH
            # export this tier forced into session.py)
            "t15_html_extract", "mm01_media_features",
        ]
    )
    out = _run(["parity", SF_DIR, names], timeout=900)
    assert out["executors"] == 3
    assert out["ran"] == 13


def test_executor_loss_mid_query_is_recovered():
    out = _run(
        ["killtest", os.environ.get("LC_KILL_SF_DIR", "/root/testdata/sf0.01"),
         "dd06_dedup_clusters"],
        timeout=900,
    )
    assert out["active_when_killed"] is True
    assert out["executor_gone"] is True
    assert out["result_identical"] is True


def test_aqe_skew_join_splits_under_real_shuffle():
    # a 95%-hot key through a forced sort-merge join with test-scaled
    # skew thresholds: the final adaptive plan must report the skewed
    # partition as split AND the join result must be exactly right
    out = _run(["skewtest", "-"], timeout=600)
    assert out["skew_split_observed"] is True
    assert out["rows"] == out["expected"] == 2_000_000


def test_batch_ingest_exactly_once_under_executor_loss(tmp_path):
    # 120 landing CSVs land through ingest_all (one bronze write per
    # file) while one executor JVM is SIGKILLed during a job; business
    # rows, per-file lineage, and the ingestion ledger must match a
    # clean run exactly, every file SUCCESS (the A-07 ledger's reserved
    # load_ids + per-load_id overwrites must make retried work
    # invisible)
    out = _run(["ingestkill", str(tmp_path)], timeout=900)
    assert out["active_when_killed"] is True
    assert out["executor_gone"] is True
    assert out["result_identical"] is True
    assert out["all_success"] is True
    assert out["rows"] == 120 * 25


def test_shuffle_heavy_queries_complete_and_spill_under_memory_pressure():
    # the deliberate memory-pressure probe (the one failure mode no
    # other test exercises): the shuffle-heaviest queries run under
    # tight executor JVMs with scarce execution memory
    # (spark.memory.fraction=0.2, 4 fat shuffle partitions) over an
    # 8x-replicated sf0.1 corpus (density documents + key-shifted
    # TPC-H; sf0.1 alone fits even 800 MB executors — measured) — the
    # list includes dd03 (r14 verdict ask #3: the LC probes show it is
    # the heaviest shuffler with the widest straggler tail; its
    # LSH-band joins are the likeliest real-scale spill path) — the
    # probe requires NONZERO memoryBytesSpilled (the pressure was
    # real, the spill path actually ran) AND oracle-equal values on
    # the SAME scaled dir (the spill path is correct). At 100 TB every
    # one of these operators runs beyond executor memory; this proves
    # the overflow path instead of assuming it.
    out = _run(
        ["spilltest",
         os.environ.get("LC_SPILL_SF_DIR", "/root/testdata/sf0.1"),
         "q05_region_nation_revenue,dd04_simhash,t12_crossdoc_span_dedup,"
         "dd03_minhash_lsh_pairs,mm03_phash_dedup",
         os.environ.get("LC_SPILL_MULT", "8")],
        timeout=1800,
    )
    assert out["memory_spilled_mb"] > 0
    assert out["failures"] == []
