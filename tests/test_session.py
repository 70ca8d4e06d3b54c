"""get_spark policy pins: checkpoint-dir default (the reliable-lineage
truncation guarantee behind propagate_min_labels) and the configs the
cross-engine determinism rules depend on."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from travel_data_ingestion_spark.session import get_spark


def _ckpt_dir(spark):
    opt = spark.sparkContext._jsc.sc().getCheckpointDir()
    return opt.get() if opt.isDefined() else None


def test_checkpoint_dir_defaults_in_local_mode(spark):
    """Local master: get_spark must leave a checkpoint dir set so the
    CC propagation uses RELIABLE checkpoints, not localCheckpoint."""
    assert spark.sparkContext.master.startswith("local")
    assert _ckpt_dir(spark) is not None


def test_propagation_writes_reliable_checkpoints(spark):
    """propagate_min_labels under the default session actually lands
    checkpoint files in the configured dir (i.e. took the reliable
    branch), and converges to the right components."""
    from travel_data_ingestion_spark.queries.llm_dedup import propagate_min_labels

    ckpt = _ckpt_dir(spark).removeprefix("file:")

    def count_files():
        return sum(len(fs) for _, _, fs in os.walk(ckpt))

    before = count_files()
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    labels = {
        (r.node, r.label)
        for r in propagate_min_labels(pairs, "doc_a", "doc_b").collect()
    }
    assert labels == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    assert count_files() > before, "no checkpoint files written — fell back to localCheckpoint"


def test_env_override_wins(tmp_path, monkeypatch):
    """SPARK_CHECKPOINT_DIR is honored (the cluster-deployment path)."""
    from travel_data_ingestion_spark.session import _ensure_checkpoint_dir

    target = str(tmp_path / "ckpt")
    monkeypatch.setenv("SPARK_CHECKPOINT_DIR", target)
    s = get_spark(app_name="tests")
    # session is shared/session-scoped: simulate the unset->set transition
    # by calling the helper against a context whose dir we clear first.
    getattr(s.sparkContext._jsc.sc(), "checkpointDir_$eq")(
        s.sparkContext._jvm.scala.Option.apply(None)
    )
    _ensure_checkpoint_dir(s)
    got = _ckpt_dir(s)
    # Spark appends a per-context UUID subdir under the configured path.
    assert got is not None and "/ckpt/" in got + "/"
    # Restore a usable default for the rest of the session-scoped tests:
    # the dir must be CLEARED first — _ensure_checkpoint_dir early-
    # returns when one is set, so without the clear this test would
    # leave the shared context checkpointing into pytest's reclaimed
    # tmp_path for the remainder of the session.
    getattr(s.sparkContext._jsc.sc(), "checkpointDir_$eq")(
        s.sparkContext._jvm.scala.Option.apply(None)
    )
    monkeypatch.delenv("SPARK_CHECKPOINT_DIR")
    _ensure_checkpoint_dir(s)
    restored = _ckpt_dir(s)
    assert restored is not None and "/ckpt/" not in restored + "/"


def test_session_token_stable_and_per_wrapper(spark):
    """Memo caches key on session_token, not id(): stable across calls
    on one wrapper, distinct for a newSession() clone (own SQLConf), and
    bound to the object so a recycled address can never falsely hit."""
    from travel_data_ingestion_spark.session import session_token

    t1 = session_token(spark)
    assert t1 == session_token(spark)
    clone = spark.newSession()
    try:
        t2 = session_token(clone)
        assert t2 != t1
        assert t2 == session_token(clone)
    finally:
        pass  # clone shares the context; nothing to stop


def test_pythonpath_export_gated_on_shared_fs_masters(monkeypatch):
    """spark.executorEnv.PYTHONPATH carries DRIVER-LOCAL paths, so it
    is only exported for masters whose executors share the driver's
    filesystem (local / local-cluster); on yarn/k8s it would silently
    export meaningless paths, and --py-files/wheels is the documented
    mechanism (SPARK_EXPORT_PYTHONPATH=1 opts in for shared-FS
    standalone)."""
    from travel_data_ingestion_spark.session import _export_pythonpath

    monkeypatch.delenv("SPARK_EXPORT_PYTHONPATH", raising=False)
    assert _export_pythonpath("local[32]")
    assert _export_pythonpath("local-cluster[4,8,6144]")
    assert not _export_pythonpath("yarn")
    assert not _export_pythonpath("k8s://https://host:6443")
    assert not _export_pythonpath("spark://master:7077")
    monkeypatch.setenv("SPARK_EXPORT_PYTHONPATH", "1")
    assert _export_pythonpath("spark://master:7077")


def test_default_driver_memory_is_half_of_ram_up_to_48g():
    """Unset SPARK_DRIVER_MEMORY gives the driver half the machine's RAM,
    capped at 48g: a 16 GB machine gets 8g, not a 48g heap that can grow
    past physical memory."""
    from travel_data_ingestion_spark.session import default_driver_memory

    gib = 1 << 30
    assert default_driver_memory(16 * gib) == "8192m"
    assert default_driver_memory(96 * gib) == "49152m"
    assert default_driver_memory(512 * gib) == "49152m"
    here = int(default_driver_memory().removesuffix("m"))
    assert 0 < here <= 48 << 10


def test_jit_policy_in_effect_on_the_jvm(spark):
    """get_spark launches its JVM with the tier-4 (C2) thresholds at 10x
    HotSpot's defaults. Read back from the running JVM, not from the
    conf string: a flag that never reached the launcher reads as the
    default here. The executor option carries the same policy."""
    from travel_data_ingestion_spark.session import JIT_OPTIONS

    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    want = {
        "Tier4InvocationThreshold": "50000",
        "Tier4MinInvocationThreshold": "6000",
        "Tier4CompileThreshold": "150000",
        "Tier4BackEdgeThreshold": "400000",
    }
    got = {name: bean.getVMOption(name).getValue() for name in want}
    assert got == want
    flags = {f"-XX:{k}={v}" for k, v in want.items()}
    assert set(JIT_OPTIONS.split()) == flags
    conf = spark.sparkContext.getConf()
    for key in ("spark.driver.defaultJavaOptions", "spark.executor.defaultJavaOptions"):
        assert flags <= set(conf.get(key, "").split()), key


def test_codegen_cache_holds_the_working_set(spark):
    """get_spark sizes Spark's JVM-wide cache of compiled generated
    classes to CODEGEN_CACHE_ENTRIES, so a session that re-runs more
    distinct plans than the default cache holds (100) compiles each
    class once: the second pass adds nothing to the JVM's count of
    Janino compiles."""
    from travel_data_ingestion_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    ids = spark.range(8)
    n_plans = 128

    def compiled_in_a_pass():
        before = compiles.getCount()
        # fresh DataFrames each pass, as a dashboard builds them; each
        # constant is inlined in the generated code: one class per plan
        for k in range(n_plans):
            ids.select((F.col("id") * k + k).alias("y")).where(F.col("y") > k).collect()
        return compiles.getCount() - before

    assert compiled_in_a_pass() >= n_plans
    assert compiled_in_a_pass() == 0
