"""SparkSession factory tuned for this engine.

Design notes for scale (100 TB target, tested on local[N]):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and runtime join-strategy demotion all matter far more at 1000
  executors than locally.
- shuffle.partitions is sized to cores locally; on a real cluster this is
  overridden (AQE's coalesce makes the initial number less critical).
- UTC session timezone: parity with the DuckDB oracle (naive UTC
  timestamps) and with the reference's TIMESTAMP_NTZ silver columns
  (reference sql/silver_google_timeline.sql:4-5).
- dynamic partition overwrite: the idempotent silver sink rewrites only
  the load_id partitions it touches (reference utils.py:12-46 semantics).
- Arrow enabled: all pandas interchange (createDataFrame/toPandas and
  pandas UDFs) goes through Arrow batches, never row pickling.
- One JIT policy for the engine's JVMs (``JIT_OPTIONS``): HotSpot's C2
  tier-4 thresholds at 10x the JDK 17 defaults (5000 / 600 / 15000 /
  40000 for invocation / min-invocation / compile / back-edge). A
  pipeline run is short and starts in a fresh JVM, and most of what C2
  compiles there is Catalyst rule code and Janino-generated stage
  classes that run a few hundred times and are never needed again; on
  the etl_bulk bench the C2 compiler thread alone took ~10 of the cold
  pass's 33 JVM CPU seconds. With the higher thresholds that code stays
  on C1, and code that stays hot still reaches C2 (Kohn, Leis and
  Neumann, "Adaptive Execution of Compiled Queries", ICDE 2018: on
  short queries compile latency dominates, so spend optimizing-compiler
  time only on code that proves hot). Measured with perfbench
  (``--trace 0 --seconds 10``, 4 vCPU, JDK 17.0.20, parent and change
  interleaved with alternating order; medians, etl_bulk over 12 pairs,
  analytic_9q over 10; the change won every CPU pair):

  ============  =================  =======  ===========
  workload      metric             default  tier-4 x10
  ============  =================  =======  ===========
  etl_bulk      work_cpu_s         54.6 s   38.4 s
  etl_bulk      unit wall          20.6 s   21.1 s
  etl_bulk      setup_s            0.676 s  0.661 s
  analytic_9q   work_cpu_s         17.9 s   13.5 s
  analytic_9q   fastest-pass wall  6.04 s   6.54 s
  analytic_9q   setup_s            1.77 s   1.72 s
  ============  =================  =======  ===========

  The CPU saving costs some wall time where the JVM is already warm:
  the median pair puts etl_bulk's no-op re-run 9% and its dashboard
  page 16% slower, and the analytic pass 7% (most likely because hot
  code now runs longer in C1's profiling tier before C2 takes it).
  Measured the same way and rejected: C1 only
  (``-XX:TieredStopAtLevel=1``) halves the CPU but costs the analytic
  pass 26% wall; tier-4 x30 or x100 cost it 16% and 28%;
  ``-XX:CompileThresholdScaling=4`` also delays C1 and saves nothing on
  the analytic bench; ``-XX:CICompilerCount=2`` likewise.
  The policy is set as ``spark.driver.defaultJavaOptions`` and
  ``spark.executor.defaultJavaOptions``, which Spark puts before the
  ``extraJavaOptions``, so a caller's own JVM options (``extra_conf``)
  still apply. The driver option takes effect only when ``get_spark``
  launches the JVM; under ``spark-submit`` the driver JVM already
  exists, and only the executor option applies.
- Each generated class is compiled once per JVM
  (``CODEGEN_CACHE_ENTRIES``). Spark keeps the Janino-compiled classes
  of whole-stage and expression codegen in one JVM-wide cache of
  ``spark.sql.codegen.cache.maxEntries`` entries, 100 by default, split
  into 4 segments that each evict their least recently used entry. The
  9 bench queries alone generate more than that, so every pass of the
  analytic bench recompiled ~75 classes and ran the new copies in the
  interpreter and C1 again, where the tier-4 x10 policy above keeps
  them longest. One pass over the 123 member queries at sf0.001
  compiles 1,891-1,893 distinct classes and a repeat pass 30-36 more
  (members whose generated code differs run to run); 4096 entries hold
  them with room to spare. The conf is static, so it is set in the builder;
  the cache takes its size when the JVM first generates code and keeps
  it for the life of the JVM. An executor JVM sizes its own cache from
  the SQL confs Spark propagates with the first task that generates
  code: under ``local-cluster[1,2,1024]``, a second pass of 128 fresh
  small plans recompiled 127 classes on the executor at 100 and none
  at 4096 (counted by a CSV metrics sink). Measured with perfbench
  (``--trace 0 --seconds 10``, 4 vCPU, parent and change interleaved
  with alternating order; analytic_9q over 12 pairs, etl_bulk over 10;
  medians, quartiles in brackets):

  ============  ==========  ===================  ===================
  workload      metric      cache 100            cache 4096
  ============  ==========  ===================  ===================
  analytic_9q   work_cpu_s  11.4 s (10.0, 12.8)  7.9 s (7.1, 8.7)
  analytic_9q   setup_s     1.62 s (1.40, 1.77)  1.53 s (1.23, 1.69)
  etl_bulk      work_cpu_s  25.7 s (23.7, 27.0)  24.5 s (23.2, 25.4)
  etl_bulk      setup_s     0.66 s (0.58, 0.73)  0.61 s (0.58, 0.67)
  ============  ==========  ===================  ===================

  analytic_9q won all 12 pairs; its timed passes after the first
  compile nothing at 4096 and 75-76 classes at 100. etl_bulk's cold
  pass and dashboard page share no plans, so it does not move.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


# C2 (tier-4) compile thresholds at 10x HotSpot's JDK 17 defaults; see
# the module docstring for why and what it measured.
JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000"
    " -XX:Tier4MinInvocationThreshold=6000"
    " -XX:Tier4CompileThreshold=150000"
    " -XX:Tier4BackEdgeThreshold=400000"
)

# Entries of Spark's JVM-wide cache of compiled generated classes
# (``spark.sql.codegen.cache.maxEntries``, default 100): room for the
# ~1,900 classes the query registry generates; see the module docstring.
CODEGEN_CACHE_ENTRIES = 4096


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory(physical_bytes: int | None = None) -> str:
    """The driver heap when SPARK_DRIVER_MEMORY is unset: 48g, or half of
    the machine's physical memory when that is less, so a local JVM
    never grows past the RAM it shares with Python and the OS."""
    if physical_bytes is None:
        physical_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48 << 10, physical_bytes // 2 >> 20)}m"


def session_token(spark: SparkSession) -> str:
    """Stable identity for a Python SparkSession wrapper, for keying
    driver-side memo caches. ``id(spark)`` is NOT usable for this:
    CPython recycles addresses after GC, so a new session allocated at a
    dead session's address would collide and the cache would hand back a
    DataFrame bound to the dead session. The token is stored as an
    attribute on the wrapper, so it dies with the object — a fresh
    wrapper can only ever miss, never falsely hit."""
    tok = getattr(spark, "_tdi_session_token", None)
    if tok is None:
        import uuid

        tok = uuid.uuid4().hex
        spark._tdi_session_token = tok
    return tok


def _export_pythonpath(effective_master: str) -> bool:
    """Whether to export the driver's repo root as
    spark.executorEnv.PYTHONPATH. Only correct when executors share
    the driver's filesystem: local / local-cluster masters (executor
    JVMs on this machine). On yarn/k8s/standalone-remote the driver's
    paths mean nothing on executors, so the export is skipped and
    --py-files/wheels is the documented shipping mechanism; a
    shared-filesystem standalone caller passes
    ``extra_conf={"spark.executorEnv.PYTHONPATH": ...}``."""
    return effective_master.startswith("local")


def get_spark(
    app_name: str = "travel_data_ingestion_spark",
    master: str | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        # local mode = driver-only: the driver heap is ALL the memory
        # (executors, broadcasts, shuffle). The 1g default OOMs the first
        # nontrivial broadcast at >=8x sf0.1 (measured via scale_probe).
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory())
        .config("spark.driver.defaultJavaOptions", JIT_OPTIONS)
        .config("spark.executor.defaultJavaOptions", JIT_OPTIONS)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Runtime bloom-filter join pruning (semi-join reduction): when a
        # shuffle join's build side is selective, inject a bloom filter of
        # its join keys into the probe side's scan, dropping non-matching
        # rows BEFORE the shuffle. At 100 TB this is the difference between
        # shuffling the full fact table and shuffling only rows that can
        # match. Default thresholds (10M creation / 10G application) are
        # cluster-appropriate; kept explicit so the policy is visible.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    )
    if master is not None:
        builder = builder.master(master)
    elif os.environ.get("SPARK_MASTER"):
        # explicit override (e.g. SPARK_MASTER=local-cluster[4,8,6144]
        # for the multi-JVM correctness tier — tools/lc_check.py,
        # SCALE.md §9)
        builder = builder.master(os.environ["SPARK_MASTER"])
    else:
        builder = builder.master(f"local[{cores}]")
    if os.environ.get("SPARK_EXECUTOR_MEMORY"):
        # only meaningful off local mode: local-mode executors live in
        # the driver heap, sized by SPARK_DRIVER_MEMORY above
        builder = builder.config(
            "spark.executor.memory", os.environ["SPARK_EXECUTOR_MEMORY"]
        )
    # Executor-side Python workers must import this package. In
    # local[*] they inherit the driver's sys.path; in local-cluster
    # the executor JVMs spawn their own workers ON THIS MACHINE, so
    # the repo root is exported explicitly. The export is gated on
    # masters whose executors share the driver's filesystem (local /
    # local-cluster) — on a real cluster the driver's paths mean
    # nothing on remote executors, and --py-files/wheels is the
    # documented shipping mechanism.
    effective_master = (
        master
        or os.environ.get("SPARK_MASTER")
        or f"local[{cores}]"
    )
    if _export_pythonpath(effective_master):
        repo_root = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__)))
        exec_pp = os.environ.get("PYTHONPATH", "")
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH",
            repo_root + (os.pathsep + exec_pp if exec_pp else ""),
        )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ensure_checkpoint_dir(spark)
    return spark


def _ensure_checkpoint_dir(spark: SparkSession) -> None:
    """Guarantee a RELIABLE checkpoint dir whenever one can be correct.

    The connected-components propagation (llm_dedup.propagate_min_labels)
    must truncate lineage every pass; without a checkpoint dir it falls
    back to ``localCheckpoint``, whose blocks live on executors — an
    executor loss mid-propagation on a real cluster kills the job. So:

    - ``SPARK_CHECKPOINT_DIR`` set -> use it (on a cluster this must be
      shared storage: HDFS/S3/NFS).
    - else, LOCAL master only -> a process-lifetime temp dir (single-JVM:
      driver-local disk IS reliable storage, and "executor loss" means
      the app died anyway).
    - else (real cluster, no env) -> leave unset: a driver-local temp
      path would be silently wrong (executors write checkpoint files on
      their own machines), so the propagation's documented
      localCheckpoint fallback is the lesser risk.
    """
    sc = spark.sparkContext
    try:
        if sc._jsc.sc().getCheckpointDir().isDefined():
            return
    except Exception:
        pass  # private-API drift: fall through and just set one
    ckpt = os.environ.get("SPARK_CHECKPOINT_DIR")
    if ckpt is None:
        if not sc.master.startswith("local"):
            return
        import atexit
        import shutil
        import tempfile

        ckpt = tempfile.mkdtemp(prefix="spark_graft_ckpt_")
        atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
    sc.setCheckpointDir(ckpt)


def truncate_lineage(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once and cut its lineage: every consumer reads
    the one copy, and an iterative loop's plan stops growing each pass
    (connected components, PageRank, BPE merges).

    Reliable ``checkpoint`` when the SparkContext has a checkpoint dir
    (``_ensure_checkpoint_dir`` sets one wherever one can be correct):
    executor loss then costs nothing. ``localCheckpoint`` otherwise,
    whose blocks live on the executors. The checkpoint files are not
    cleaned per query (``spark.cleaner.referenceTracking.cleanCheckpoints``
    stays off). Under a local master with no ``SPARK_CHECKPOINT_DIR``
    they sit in the process's temp dir, which ``_ensure_checkpoint_dir``
    deletes at exit; under ``SPARK_CHECKPOINT_DIR`` they stay until
    removed."""
    sc = df.sparkSession.sparkContext
    try:
        reliable = sc._jsc.sc().getCheckpointDir().isDefined()
    except Exception:
        reliable = False
    return df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=True)
