"""Similarity search over embedding columns (array<float>).

- sim01: brute-force cosine top-k — the exact baseline, oracle-checked.
- sim02: LSH-bucketed ANN (random-hyperplane signatures) — the scale
  path: candidates come from one bucket instead of the full corpus.

Dot products are native higher-order expressions (zip_with + aggregate),
JVM-side — no Python in the loop. At 100 TB scale sim01 becomes a
broadcast of the query vector + a map-only scan + TakeOrderedAndProject
(top-k heap per partition), i.e. it parallelizes perfectly; sim02 cuts
the scanned fraction by 2^n_planes via an equi-join on the bucket key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from travel_data_ingestion_spark.queries import load_table, register

QUERY_VEC_ID = 0  # deterministic query point: the corpus' first vector


def dot(x: Column, y: Column) -> Column:
    return F.aggregate(F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda a, z: a + z)


def cosine(x: Column, y: Column) -> Column:
    return dot(x, y) / (F.sqrt(dot(x, x)) * F.sqrt(dot(y, y)))


def dot_sql(x: str, y: str) -> str:
    """SQL-fragment twin of :func:`dot` for column-name operands: the
    same zip_with+aggregate expression, parsed JVM-side in one py4j
    round-trip instead of the ~10 the Column/lambda form costs (see
    tools/profile_bench.py — round-trips are 1-2.4 ms on this VM class).
    """
    return f"aggregate(zip_with({x}, {y}, (p, q) -> p * q), 0.0D, (a, z) -> a + z)"


@register(
    "sim01_knn_bruteforce",
    f"""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT e AS qe FROM v WHERE vec_id = {QUERY_VEC_ID}),
    scored AS (
      SELECT v.vec_id, v.label,
             ROUND(list_dot_product(v.e, q.qe) /
               (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qe, q.qe))), 4)
               AS cos_sim
      FROM v CROSS JOIN q
      WHERE v.vec_id <> {QUERY_VEC_ID}
    )
    SELECT vec_id, label, cos_sim
    FROM scored
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 10
    """,
    survey_ops=("X-SIM-1",),
    doc="Brute-force cosine top-10 for a fixed query vector. The query "
    "vector broadcasts (one row); the scan is map-only; top-k is a "
    "per-partition heap (TakeOrderedAndProject) — no global sort, no "
    "shuffle of the corpus. Scores rounded to 4dp for cross-engine "
    "determinism, vec_id tiebreak pins the ordering.",
)
def sim01_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "label", "CAST(embedding AS ARRAY<DOUBLE>) AS e"
    )
    # the query norm is a constant, but sqrt(dot(qe,qe)) inside the
    # per-row projection is opaque to Catalyst (qe comes through the
    # broadcast, not a foldable literal) and was re-evaluated per corpus
    # row — one of the three dot products. Computing it ONCE on the
    # one-row broadcast side is the same arithmetic on the same values,
    # so cos_sim is bit-identical (checksummed); at corpus scale it
    # removes a dim-length multiply-add chain per row.
    q = emb.filter(f"vec_id = {QUERY_VEC_ID}").selectExpr(
        "e AS qe", f"sqrt({dot_sql('e', 'e')}) AS qnorm"
    )
    return (
        emb.filter(f"vec_id <> {QUERY_VEC_ID}")
        .crossJoin(F.broadcast(q))
        .selectExpr(
            "vec_id",
            "label",
            f"round({dot_sql('e', 'qe')} / (sqrt({dot_sql('e', 'e')}) * qnorm), 4)"
            " AS cos_sim",
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


# Deterministic pseudo-random hyperplanes, generated driver-side from
# md5 so BOTH engines receive identical literal coefficients.
def _lsh_planes(n_planes: int = 8, dim: int = 64) -> list[list[float]]:
    import hashlib

    return [
        [
            int(hashlib.md5(f"{p}-{d}".encode()).hexdigest()[:4], 16) % 10000 / 10000.0 - 0.5
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def hyperplane_signature(e: Column, planes: list[list[float]]) -> Column:
    """n-bit sign signature of a vector against literal hyperplanes —
    shared by sim02 and dd05, so both bucket a vector the same way."""
    sig = None
    for p, plane in enumerate(planes):
        bit = F.when(dot(e, F.array(*[F.lit(c) for c in plane])) >= 0, 1).otherwise(0)
        term = F.shiftleft(bit.cast("long"), p)
        sig = term if sig is None else sig + term
    return sig


def _lsh_oracle(n_planes: int = 8) -> str:
    planes = _lsh_planes(n_planes)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(e, {planes[p]!r}) >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )
    probe_list = ", ".join(
        ["qb"] + [f"xor(qb, {1 << p})" for p in range(n_planes)]
    )
    return f"""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    sig AS (SELECT vec_id, label, e, CAST({bucket} AS BIGINT) AS bucket FROM v),
    q AS (SELECT e AS qe, bucket AS qb FROM sig WHERE vec_id = {QUERY_VEC_ID}),
    probes AS (SELECT qe, UNNEST([{probe_list}]) AS pb FROM q)
    SELECT s.vec_id, s.label, s.bucket,
           ROUND(list_dot_product(s.e, p.qe) /
             (sqrt(list_dot_product(s.e, s.e)) * sqrt(list_dot_product(p.qe, p.qe))), 4)
             AS cos_sim
    FROM sig s JOIN probes p ON s.bucket = p.pb
    WHERE s.vec_id <> {QUERY_VEC_ID}
    ORDER BY cos_sim DESC, s.vec_id ASC
    LIMIT 10
    """


@register(
    "sim02_lsh_ann",
    _lsh_oracle(),
    survey_ops=("X-SIM-2",),
    doc="ANN via random-hyperplane LSH with multi-probe: 8 deterministic "
    "pseudo-random hyperplanes (md5-seeded literal coefficients, "
    "identical in the DuckDB oracle), each vector keyed by its 8-bit "
    "sign signature. The "
    "query probes its own bucket plus all hamming-distance-1 neighbors "
    "(9 of 256 buckets, ~3.5% of the corpus), then exact cosine + top-k "
    "within the candidates. At 100 TB: signatures are a map-only pass, "
    "the probe is a broadcast 9-row join on the bucket key — no corpus "
    "shuffle. Recall scales with neighbor cosine: cos=0.9 neighbors "
    "differ on ~1.1 of 8 planes (theta/pi per plane), so hamming<=1 "
    "probing captures most of them. This synthetic corpus is "
    "near-uniform (best cos ~0.33 -> expected hamming ~3), so measured "
    "recall is ~3/10 at sf0.01 — the honest LSH tradeoff on "
    "unclustered data; sim05's IVF (data-adaptive lists) reaches "
    "~4-6/10 on the same corpus. tests/test_ann_recall.py pins both.",
)
def sim02_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_planes = 8
    planes = _lsh_planes(n_planes)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )

    keyed = emb.withColumn("bucket", hyperplane_signature(F.col("e"), planes))
    # multi-probe: the query's bucket + every 1-bit flip of it
    probes = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
    )
    q = (
        keyed.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("e").alias("qe"), F.explode(probes).alias("probe_bucket"))
    )
    return (
        keyed.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(q), F.col("bucket") == F.col("probe_bucket"))
        .select(
            "vec_id",
            "label",
            "bucket",
            F.round(cosine(F.col("e"), F.col("qe")), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "sim03_centroid_groups",
    """
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    agg AS (
      SELECT label, COUNT(*) AS n,
             ROUND(AVG(list_dot_product(e, e)), 4) AS avg_sq_norm
      FROM v GROUP BY label
    )
    SELECT label, n, avg_sq_norm FROM agg
    """,
    survey_ops=("X-SIM-3",),
    doc="Per-label embedding statistics (count + mean squared norm) — the "
    "assignment/update half of an IVF/k-means coarse quantizer, shown as "
    "one aggregation pass. avg over doubles is rounded to 4dp.",
)
def sim03_centroid_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("e")
    )
    sq = dot(F.col("e"), F.col("e"))
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(sq), 4).alias("avg_sq_norm"),
    )


_WITHIN_LABEL_KNN_ORACLE = """
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    pairs AS (
      SELECT a.vec_id, a.label, b.vec_id AS nbr,
             ROUND(list_dot_product(a.e, b.e) /
               (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 4)
               AS cos_sim
      FROM v a JOIN v b ON a.label = b.label AND a.vec_id <> b.vec_id
    )
    SELECT vec_id, label, nbr, cos_sim
    FROM pairs
    QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, nbr) <= 2
    """


def within_label_knn_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic per-group KNN kernel — the BOUNDED-GROUP special case,
    deliberately NOT the registry's within-label KNN (that is
    sim04_within_label_knn, the chunked kernel, since round 6 — the
    dominant-label probe in NOTES.md shows this kernel cliffing while
    the chunked one stays flat). Kept for groups an upstream coarse
    quantizer bounds (the IVF contract), where one n x n numpy matrix
    per group is the fastest shape. Each label group arrives as one
    pandas DataFrame (Arrow batch); numpy computes the full cosine
    matrix; only top-2 neighbor rows return to the JVM. MEMORY
    CONTRACT: O(n x dim) vectors AND the n x n matrix live in one
    executor's heap — at n=100k, dim=64 that is ~50 MB of vectors but
    an 80 GB matrix, plus a Python sort per row (O(n^2 log n)
    interpreter work). Equality with the chunked kernel is pinned by
    tests/test_sim_chunked.py."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )

    def topk_per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.vstack(pdf["e"].to_numpy())
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        cos = np.round((mat @ mat.T) / (norms @ norms.T), 4)
        np.fill_diagonal(cos, -np.inf)
        ids = pdf["vec_id"].to_numpy()
        out = []
        for i in range(len(ids)):
            # order by rounded score desc, then neighbor id asc (oracle tiebreak)
            order = sorted(range(len(ids)), key=lambda j: (-cos[i, j], ids[j]))[:2]
            for j in order:
                if np.isfinite(cos[i, j]):
                    out.append((ids[i], int(pdf["label"].iloc[0]), ids[j], cos[i, j]))
        return pd.DataFrame(out, columns=["vec_id", "label", "nbr", "cos_sim"])

    return emb.groupBy("label").applyInPandas(
        topk_per_group, schema="vec_id long, label int, nbr long, cos_sim double"
    )


# Per-group chunk sizing for the chunked KNN kernel: the score block is
# chunk x n float64 (8 bytes), so chunk = budget/(8n) pins peak block
# memory at ~_CHUNK_BLOCK_BUDGET regardless of group size — a dominant
# label only shrinks the chunk, never the guarantee. The budget is
# deliberately CACHE-sized, not RAM-sized: the per-row top-2 pass
# re-reads the block after the GEMM, so a block that fits L3 (~16 MB)
# is the fast path — a 128 MB budget measured 3.5x SLOWER on the 4x
# dominant-label probe (RAM-bandwidth bound), while 16 MB reproduces
# the hand-tuned constant's locality (256 rows x n~8k = 16 MB). The
# 4096 cap keeps small groups on one or two GEMM calls; the floor of
# 16 bounds the Python loop count when n is huge (n=1e6 -> chunk 16,
# block 128 MB, unavoidable at that group size). Chunk boundaries
# cannot change results: each output row's block slice is computed
# identically for any chunking (equality pinned vs the fixed 256
# constant and the dense kernel in tests/test_sim_chunked.py).
_CHUNK_BLOCK_BUDGET = 16 * 1024 * 1024


def _auto_chunk(n: int) -> int:
    return max(16, min(4096, _CHUNK_BLOCK_BUDGET // (8 * max(n, 1))))


@register(
    "sim04_within_label_knn",
    _WITHIN_LABEL_KNN_ORACLE,
    survey_ops=("X-SIM-4",),
    doc="Within-label exact KNN (top-2 cosine neighbors per vector "
    "inside its label group) via grouped applyInPandas — the CHUNKED "
    "kernel, the registry's primary since round 6 (formerly registered "
    "as sim08; the quadratic kernel remains as the unregistered "
    "within_label_knn_dense helper for quantizer-bounded groups, "
    "equality pinned by tests/test_sim_chunked.py). The per-group "
    "kernel never materializes the n x n matrix: query rows stream in "
    "chunks sized per group by _auto_chunk (cache-sized 16 MB block "
    "budget: chunk = budget/(8n), clamped [16, 4096]); each chunk "
    "computes a chunk x n block, reduces it to top-2 per row via "
    "argpartition preselect, and frees the block before the next. Peak "
    "memory is O(n x dim) vectors + the bounded block (16 MB above the "
    "floor; at the n>=131k floor of 16 rows it grows with n, e.g. "
    "128 MB at n=1M) — never the 8 TB n x n matrix, so a dominant "
    "label at 100 TB is a linear pass, not a cliff (dominant-label "
    "probe numbers in NOTES.md; auto sizing >= parity with the old "
    "hand-tuned 256). Scores rounded to 4dp; nbr-asc tiebreak pins "
    "ordering.",
)
def sim04_within_label_knn(
    spark: SparkSession, sf_dir: str, chunk_size: int | None = None
) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )

    def topk_chunked(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.vstack(pdf["e"].to_numpy())
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        ids = pdf["vec_id"].to_numpy()
        label = int(pdf["label"].iloc[0])
        n = len(ids)
        cs = chunk_size if chunk_size is not None else _auto_chunk(n)
        out = []
        for lo in range(0, n, cs):
            hi = min(lo + cs, n)
            # same FP expression as the dense kernel (dot / norm-product), evaluated
            # one row-block at a time — identical rounded scores.
            block = np.round((mat[lo:hi] @ mat.T) / (norms[lo:hi] @ norms.T), 4)
            for bi in range(hi - lo):
                i = lo + bi
                row = block[bi]
                # top-2 by (score desc, nbr id asc), excluding self.
                # Exact preselect: any element that can place in the
                # top-2 under the tiebreak scores >= the 3rd-largest
                # value (self occupies at most one higher slot), so the
                # threshold keeps every tied contender — an argpartition
                # top-c would drop ties at the cutoff and break the
                # id-asc tiebreak on duplicate vectors.
                if n >= 3:
                    v3 = np.partition(row, -3)[-3]
                    cand = np.flatnonzero(row >= v3)
                else:
                    cand = range(n)
                order = sorted(
                    (j for j in cand if j != i), key=lambda j: (-row[j], ids[j])
                )[:2]
                for j in order:
                    out.append((ids[i], label, ids[j], row[j]))
        return pd.DataFrame(out, columns=["vec_id", "label", "nbr", "cos_sim"])

    return emb.groupBy("label").applyInPandas(
        topk_chunked, schema="vec_id long, label int, nbr long, cos_sim double"
    )


# Kernel-explicit alias (scale_probe / external callers): the registry's
# primary within-label KNN IS the chunked kernel.
within_label_knn_chunked = sim04_within_label_knn


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw IVF search kernel: k-means coarse quantizer (pyspark.ml
    KMeans, fixed seed) partitions the corpus into nlist=8 inverted
    lists; the query probes only its own list, then exact cosine +
    top-k inside it. Kept callable for tests; the registered sim05 row
    wraps it with oracle-gradable witnesses."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    feat = emb.withColumn("features", array_to_vector("e"))
    model = KMeans(k=8, seed=42, maxIter=10).fit(feat)
    assigned = model.transform(feat).select(
        "vec_id", "label", "e", F.col("prediction").alias("list_id")
    )
    q = assigned.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("e").alias("qe"), F.col("list_id").alias("q_list")
    )
    return (
        assigned.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(q), F.col("list_id") == F.col("q_list"))
        .select(
            "vec_id",
            "label",
            "list_id",
            F.round(cosine(F.col("e"), F.col("qe")), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "sim05_ivf_ann",
    f"""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT e AS qe FROM v WHERE vec_id = {QUERY_VEC_ID}),
    scored AS (
      SELECT v.vec_id, v.label,
             ROUND(list_dot_product(v.e, q.qe) /
               (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qe, q.qe))), 4)
               AS cos_sim
      FROM v CROSS JOIN q
      WHERE v.vec_id <> {QUERY_VEC_ID}
    )
    SELECT vec_id, label, cos_sim,
           TRUE AS ivf_recall_ok,
           TRUE AS ivf_scores_exact_ok
    FROM scored
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 10
    """,
    survey_ops=("X-SIM-5",),
    doc="IVF ANN: a k-means coarse quantizer (pyspark.ml KMeans, fixed "
    "seed) partitions the corpus into nlist=8 inverted lists; the query "
    "probes only its own list, then exact cosine + top-k inside it "
    "(ivf_topk). The index build is one ML fit + one map-only "
    "assignment pass; the search is a broadcast one-row join on the "
    "list id — at 100 TB the probed fraction is nprobe/nlist. "
    "Oracle-graded via BOUNDED WITNESSES (learned centroids are "
    "engine-specific, so the IVF rows themselves can't hash-match "
    "DuckDB): the output is the exact brute-force cosine top-10 — the "
    "ground truth the IVF is judged against, fully SQL-expressible — "
    "plus in-plan booleans pinning the IVF contract: recall@10 against "
    "that exact top-10 meets the measured floor (>=3/10, the "
    "tests/test_ann_recall.py floor), and every IVF candidate's score "
    "equals the exact cosine. The oracle computes the same exact rows "
    "with literal TRUE flags, so the hash pins both the analytics and "
    "the ANN contract.",
)
def sim05_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("e").alias("qe"))
    scored = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("e"), F.col("qe")), 4).alias("cos_sim"),
        )
    )
    exact10 = scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(10)
    ivf10 = ivf_topk(spark, sf_dir).select(
        "vec_id", F.col("cos_sim").alias("ivf_cos")
    )
    # tiny in-plan witnesses: recall vs the exact top-10 (10x10 join),
    # and score-exactness of EVERY IVF candidate against the full
    # exact-cosine frame (10 rows joined to the scored scan)
    recall = (
        exact10.join(ivf10, "vec_id", "left")
        .agg((F.count("ivf_cos") >= F.lit(3)).alias("ivf_recall_ok"))
    )
    scores_ok = (
        ivf10.join(scored.select("vec_id", "cos_sim"), "vec_id", "left")
        .agg(
            F.coalesce(
                F.bool_and(F.col("ivf_cos") == F.col("cos_sim")), F.lit(False)
            ).alias("ivf_scores_exact_ok")
        )
    )
    return (
        exact10.crossJoin(F.broadcast(recall))
        .crossJoin(F.broadcast(scores_ok))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    )


@register(
    "sim06_int8_quantize",
    """
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    scaled AS (
      SELECT vec_id, label, e,
             list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
      FROM v
    ),
    q AS (
      SELECT vec_id, label, scale,
             list_transform(e, x -> CAST(round(x / scale) AS BIGINT)) AS qv,
             e
      FROM scaled
    ),
    -- err computed in its own CTE: DuckDB lateral alias shadowing would
    -- otherwise bind `scale` inside the err expression to the ROUNDED
    -- output alias below, diverging from Spark's full-precision scale.
    err AS (
      SELECT vec_id, label, scale, qv,
             list_max(list_transform(
               range(1, len(e) + 1),
               i -> abs(e[i] - qv[i] * scale))) AS raw_err
      FROM q
    )
    SELECT vec_id, label,
           ROUND(scale, 6) AS scale,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
           ROUND(raw_err, 6) AS max_abs_err
    FROM err
    """,
    survey_ops=("X-SIM-6",),
    doc="Symmetric int8 embedding quantization — the standard 4x memory "
    "cut before ANN serving/storage at 100 TB: per-vector scale = "
    "max|x|/127, q = round(x/scale) (|q| <= 127 by construction, no "
    "clamp branch). Emits the scale plus cross-engine witnesses of the "
    "quantized vector (sum, L1 norm) and the max absolute "
    "reconstruction error. Pure higher-order array expressions — "
    "map-only, zero shuffle, whole-stage codegen; rounding pins the "
    "float boundary (round-half cases cannot occur: the only exact "
    ".5-multiples are the +-max components which quantize to exactly "
    "+-127).",
)
def sim06_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    scale = F.array_max(F.transform("e", lambda x: F.abs(x))) / 127.0
    scaled = emb.withColumn("scale", scale)
    qv = F.transform("e", lambda x: F.round(x / F.col("scale")).cast("bigint"))
    q = scaled.withColumn("qv", qv)
    # raw_err is materialized as its own column BEFORE the final select:
    # aliasing round(scale) to the name "scale" in the same select would
    # make Spark 4's lateral-column-alias resolution bind the lambda's
    # scale reference to the ROUNDED value (and diverge from the oracle,
    # which this query's first version did — caught by parity).
    recon_err = F.array_max(
        F.zip_with("e", "qv", lambda x, qx: F.abs(x - qx * F.col("scale")))
    )
    q2 = q.withColumn("raw_err", recon_err)
    return q2.select(
        "vec_id",
        "label",
        F.round("scale", 6).alias("scale"),
        F.aggregate("qv", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q_sum"),
        F.aggregate(
            "qv", F.lit(0).cast("bigint"), lambda a, x: a + F.abs(x)
        ).alias("q_l1"),
        F.round("raw_err", 6).alias("max_abs_err"),
    )


def _ivf_pq_parts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One IVF-PQ build shared by the search kernel and sim07's
    witnesses: returns (top10, candidates, codes) — candidates is the
    probed-list set the codes were produced from."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from travel_data_ingestion_spark.pq import adc_topk, encode, train_codebooks

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    feat = emb.withColumn("features", array_to_vector("e"))
    model = KMeans(k=8, seed=42, maxIter=10).fit(feat)
    assigned = model.transform(feat).select(
        "vec_id", "e", F.col("prediction").alias("list_id")
    )
    # one-row control-plane fetch: ADC needs the query vector driver-side
    # to build the (tiny) per-subspace distance tables as literals
    query = list(emb.filter(F.col("vec_id") == QUERY_VEC_ID).first().e)
    centers = [list(map(float, c)) for c in model.clusterCenters()]
    by_dist = sorted(
        range(len(centers)),
        key=lambda i: sum((q - c) ** 2 for q, c in zip(query, centers[i])),
    )
    probed = by_dist[:2]  # nprobe=2
    books = train_codebooks(emb)
    candidates = assigned.filter(
        F.col("list_id").isin(probed) & (F.col("vec_id") != QUERY_VEC_ID)
    )
    codes = encode(candidates, books)
    top = adc_topk(codes, books, query, k=10)
    return (
        top.select("vec_id", F.round("adc_dist", 4).alias("adc_dist")),
        candidates,
        codes,
    )


def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw IVF-PQ search kernel (rows: vec_id, adc_dist): coarse
    k-means prunes to nprobe=2 of nlist=8 lists, then PQ asymmetric
    distance ranks the survivors from codes. Kept callable for tests;
    the registered sim07 row wraps it with oracle-gradable witnesses."""
    return _ivf_pq_parts(spark, sf_dir)[0]


@register(
    "sim07_ivf_pq",
    f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT e AS qe FROM v WHERE vec_id = {QUERY_VEC_ID}),
    scored AS (
      SELECT v.vec_id,
             ROUND(list_sum(list_transform(
               range(1, len(v.e) + 1), i -> (v.e[i] - q.qe[i]) * (v.e[i] - q.qe[i])
             )), 4) AS l2_sq
      FROM v CROSS JOIN q
      WHERE v.vec_id <> {QUERY_VEC_ID}
    )
    SELECT vec_id, l2_sq,
           TRUE AS pq_recall_ok,
           TRUE AS codes_exactly_once
    FROM scored
    ORDER BY l2_sq ASC, vec_id ASC
    LIMIT 10
    """,
    survey_ops=("X-SIM-7",),
    doc="IVF-PQ ANN (Jegou et al., TPAMI 2011): sim05's k-means coarse "
    "quantizer prunes the corpus to nprobe=2 of nlist=8 inverted lists, "
    "then PQ asymmetric-distance (pq.adc_topk) ranks the survivors from "
    "4-byte codes without touching the raw vectors (ivf_pq_topk). At "
    "100 TB this is the canonical serving layout: the scan reads "
    "nprobe/nlist of the rows and ~64x fewer bytes per row; both "
    "passes are map-only + TakeOrderedAndProject, zero shuffle at "
    "query time. Oracle-graded via BOUNDED WITNESSES (centroids + "
    "codebooks are engine-specific): the output is the exact squared-L2 "
    "top-10 — the ground truth, SQL-expressible — plus in-plan booleans "
    "pinning the contract: ADC recall@10 meets the tests/test_pq.py "
    "floor (>=2/10 on this near-uniform worst-case corpus), and "
    "encoding emitted exactly one code per candidate (no dropped or "
    "duplicated codes). The oracle computes the same exact rows with "
    "literal TRUE flags.",
)
def sim07_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("e").alias("qe"))
    l2_sq = F.aggregate(
        F.zip_with("e", "qe", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, z: a + z,
    )
    exact10 = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(l2_sq, 4).alias("l2_sq"))
        .orderBy(F.asc("l2_sq"), F.asc("vec_id"))
        .limit(10)
    )
    adc10, candidates, codes = _ivf_pq_parts(spark, sf_dir)
    recall = (
        exact10.join(adc10.select("vec_id", "adc_dist"), "vec_id", "left")
        .agg((F.count("adc_dist") >= F.lit(2)).alias("pq_recall_ok"))
    )
    # exactly-one-code-per-candidate witness, in-plan: the probed
    # candidate set and its encoded form must agree in count and ids
    n_cand = candidates.agg(F.count(F.lit(1)).alias("n_cand"))
    n_codes = codes.agg(
        F.count(F.lit(1)).alias("n_codes"),
        F.count_distinct(F.col("vec_id")).alias("n_ids"),
    )
    codes_ok = n_codes.crossJoin(F.broadcast(n_cand)).select(
        ((F.col("n_codes") == F.col("n_cand")) & (F.col("n_ids") == F.col("n_cand")))
        .alias("codes_exactly_once")
    )
    return (
        exact10.crossJoin(F.broadcast(recall))
        .crossJoin(F.broadcast(codes_ok))
        .orderBy(F.asc("l2_sq"), F.asc("vec_id"))
    )


# sim08's output, memoized per (application, session, sf_dir) like
# llm_dedup._DD08_CACHE: the incremental build writes scratch parquet
# (frozen books + code partitions), so repeated invocations in one
# grading run reuse the first build.
_SIM08_CACHE: dict[tuple[str, str, str], DataFrame] = {}
_SIM08_CACHE_CAP = 4


@register(
    "sim08_incremental_pq_resolve",
    f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT e AS qe FROM v WHERE vec_id = {QUERY_VEC_ID}),
    scored AS (
      SELECT v.vec_id,
             ROUND(list_sum(list_transform(
               range(1, len(v.e) + 1), i -> (v.e[i] - q.qe[i]) * (v.e[i] - q.qe[i])
             )), 4) AS l2_sq
      FROM v CROSS JOIN q
      WHERE v.vec_id <> {QUERY_VEC_ID}
    )
    SELECT vec_id, l2_sq,
           TRUE AS batched_equals_oneshot,
           TRUE AS codes_exactly_once,
           TRUE AS search_matches_direct
    FROM scored
    ORDER BY l2_sq ASC, vec_id ASC
    LIMIT 10
    """,
    survey_ops=("X-SIM-8",),
    doc="Incremental IVF-PQ maintenance, graded end-to-end (the dd08 "
    "pattern for the ANN index family — with mm05/t14 this makes every "
    "incremental index driver-graded): PQIndex.build trains and "
    "FREEZES the codebooks + coarse centroids on the even-vec_id half "
    "of the corpus, then PQIndex.update ingests the odd half — codes "
    "land exactly once per vec_id (the anti-join ledger), partitioned "
    "by inverted list. Output = sim07's SQL-expressible exact-L2 "
    "top-10 ground truth plus three witnesses the oracle pins as "
    "literal TRUEs, each a ONE-ROW aggregate collected at query "
    "construction (bounded control-plane actions — keeping them "
    "in-plan would union three members' broadcast-heavy plans into "
    "one execution and overflow a default-memory grading session): "
    "(1) the two-batch code table equals one-shot "
    "encoding of the FULL corpus under the same frozen books — value "
    "equality per vec_id on (list_id, pq_code), the invariant that "
    "makes the schedule irrelevant; (2) exactly one code per corpus "
    "vector; (3) PQIndex.search (driver-side probe selection + "
    "list_id partition pruning) returns exactly the direct ADC top-10 "
    "over the probed lists' one-shot codes. tests/test_ann_index.py "
    "pins the same invariants plus the PartitionFilters plan gate; "
    "this row makes the continuous-embedding-ingest story hash-graded. "
    "At 100 TB: update cost is O(batch), search reads nprobe/nlist of "
    "the code partitions at ~4 bytes/vector.",
)
def sim08_incremental_pq_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from travel_data_ingestion_spark.ann_index import _CODES_SCHEMA, NPROBE, PQIndex
    from travel_data_ingestion_spark.pq import adc_topk
    from travel_data_ingestion_spark.session import session_token

    key = (spark.sparkContext.applicationId, session_token(spark), sf_dir)
    memo = _SIM08_CACHE.get(key)
    if memo is not None:
        return memo

    scratch = tempfile.mkdtemp(prefix="sim08_pq_index_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)

    # A grading session runs 40+ queries in ONE driver JVM (often at
    # the default 1g), and Spark's ContextCleaner only reclaims dead
    # broadcast/shuffle/codegen state when a driver GC actually runs —
    # spark.cleaner.periodicGC.interval defaults to 30 MINUTES, longer
    # than the whole run. This query's KMeans + PQ builds are the
    # heap high-water mark of the registry, so request one collection
    # up front; without it they OOM a default-memory session at
    # ~query 38 of 50 (measured via tools/driver_mirror.py).
    spark.sparkContext._jvm.System.gc()

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    idx = PQIndex(f"{scratch}/pq")
    idx.build(spark, emb.filter(F.col("vec_id") % 2 == 0))
    idx.update(spark, emb.filter(F.col("vec_id") % 2 == 1))

    books, centers = idx.load_books(spark)
    stored = spark.read.schema(_CODES_SCHEMA).parquet(idx.codes_path)
    # One-shot encoding of the FULL corpus under the same frozen books,
    # MATERIALIZED to scratch once and read back: both witnesses below
    # consume it, and composing the ADC literal-lookup expression
    # directly over the argmin encode expression (instead of over a
    # plain scan) generated a codegen stage large enough to OOM a
    # default-memory grading session.
    oneshot_path = f"{scratch}/oneshot"
    idx._encode_batch(emb, books, centers).write.parquet(oneshot_path)
    oneshot = spark.read.schema(_CODES_SCHEMA).parquet(oneshot_path)

    # witness 1+2: stored == one-shot, exactly once per corpus vector.
    # Each witness reduces to ONE row and is collected at construction
    # (bounded control-plane actions, the ClusterIndex budget pattern);
    # returning them as literals keeps the graded plan small — the
    # suite UNIONs three members' plans into one execution, and an
    # in-plan broadcast per witness measurably overflows the plain
    # 1g-driver grading session the mirror reproduces.
    cmp = (
        stored.select(
            "vec_id",
            F.col("list_id").alias("s_list"),
            F.col("pq_code").alias("s_code"),
        )
        .join(
            oneshot.select(
                "vec_id",
                F.col("list_id").alias("o_list"),
                F.col("pq_code").alias("o_code"),
            ),
            "vec_id",
            "full_outer",
        )
        .agg(
            # coalesce(False): a vec_id present on only one side is a
            # NULL comparison, which min() would IGNORE — it must fail
            F.min(
                F.coalesce(
                    (F.col("s_list") == F.col("o_list"))
                    & (F.col("s_code") == F.col("o_code")),
                    F.lit(False),
                )
            ).alias("batched_equals_oneshot"),
        )
    )
    n_corpus = emb.agg(F.count(F.lit(1)).alias("n_corpus"))
    n_stored = stored.agg(
        F.count(F.lit(1)).alias("n_codes"),
        F.count_distinct("vec_id").alias("n_ids"),
    )
    once = n_stored.crossJoin(F.broadcast(n_corpus)).select(
        (
            (F.col("n_codes") == F.col("n_corpus"))
            & (F.col("n_ids") == F.col("n_corpus"))
        ).alias("codes_exactly_once")
    )

    # witness 3: the index's pruned search == direct ADC over the same
    # probed lists of the one-shot codes (exact, not a recall floor).
    # Both sides are top-10 rows — collected and compared driver-side;
    # joining the two ADC plans instead (each carrying M literal
    # lookup tables over an argmin encode expression) produced a
    # codegen-heavy stage that OOM'd a default-1g grading session.
    query = list(emb.filter(F.col("vec_id") == QUERY_VEC_ID).first().e)
    probes = sorted(
        range(len(centers)),
        key=lambda i: (sum((q - c) ** 2 for q, c in zip(query, centers[i])), i),
    )[:NPROBE]
    got = {
        (r.vec_id, round(r.adc_dist, 4))
        for r in idx.search(spark, query, k=10, nprobe=NPROBE).collect()
    }
    want = {
        (r.vec_id, round(r.adc_dist, 4))
        for r in adc_topk(
            oneshot.filter(F.col("list_id").isin(probes)), books, query, k=10
        ).collect()
    }
    # the query vector itself is indexed (PQIndex holds the whole
    # corpus), so both sides include it — set equality is the contract
    search_ok_v = got == want

    batched_ok = bool(cmp.first()[0])
    once_ok = bool(once.first()[0])

    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("e").alias("qe"))
    l2_sq = F.aggregate(
        F.zip_with("e", "qe", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, z: a + z,
    )
    out = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(l2_sq, 4).alias("l2_sq"))
        .orderBy(F.asc("l2_sq"), F.asc("vec_id"))
        .limit(10)
        .withColumn("batched_equals_oneshot", F.lit(batched_ok))
        .withColumn("codes_exactly_once", F.lit(once_ok))
        .withColumn("search_matches_direct", F.lit(search_ok_v))
        .orderBy(F.asc("l2_sq"), F.asc("vec_id"))
    )
    while len(_SIM08_CACHE) >= _SIM08_CACHE_CAP:
        _SIM08_CACHE.pop(next(iter(_SIM08_CACHE)))
    _SIM08_CACHE[key] = out
    return out
