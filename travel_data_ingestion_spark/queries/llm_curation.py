"""Corpus-curation operators: sampling, decontamination, corpus stats.

The remaining pieces of a production training-data pipeline around the
dedup/quality/similarity operators: deterministic sampling (reproducible
across runs and engines — no rand()), benchmark decontamination
(n-gram overlap removal), and the per-source statistics that feed data
cards and mixture weights.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from travel_data_ingestion_spark.queries import load_table, register
from travel_data_ingestion_spark.queries.llm_dedup import (
    _SHINGLES_SQL,
    _TOKENIZE_SQL,
    _shingles,
)



@register(
    "cu01_hash_sample",
    """
    SELECT doc_id, source, n_chars
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 10
    """,
    survey_ops=("X-CURATE-1",),
    doc="Deterministic ~10% sample by hashing the stable key (md5 "
    "bucket < threshold) — reproducible across runs, engines, and "
    "cluster sizes, unlike rand()-based sampling. The same predicate "
    "selects the same rows on any engine; map-only, pushes to the scan.",
)
def cu01_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "int"
    ) % 100
    return docs.filter(bucket < 10).select("doc_id", "source", "n_chars")


@register(
    "cu02_stratified_quota",
    """
    SELECT doc_id, source
    FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    )
    WHERE rn <= 5
    """,
    survey_ops=("X-CURATE-2",),
    doc="Stratified sampling with an exact per-stratum quota: 5 docs per "
    "source, chosen by deterministic hash order (md5 of the key), so "
    "the sample is uniform within each stratum and fully reproducible. "
    "One shuffle on the stratum key.",
)
def cu02_stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "source")
    )


@register(
    "cu03_decontaminate",
    f"""
    WITH bench AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles
      FROM documents WHERE doc_id % 50 = 0 AND len({_TOKENIZE_SQL}) >= 3
    ),
    bench_sh AS (SELECT DISTINCT UNNEST(shingles) AS shingle FROM bench),
    train AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles
      FROM documents WHERE doc_id % 50 <> 0 AND len({_TOKENIZE_SQL}) >= 3
    ),
    train_sh AS (
      SELECT doc_id, len(shingles) AS n_sh, UNNEST(shingles) AS shingle FROM train
    ),
    overlap AS (
      SELECT t.doc_id, MAX(t.n_sh) AS n_sh, COUNT(*) AS n_hit
      FROM train_sh t JOIN bench_sh b ON t.shingle = b.shingle
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_hit,
           ROUND(CAST(n_hit AS DOUBLE) / n_sh, 6) AS contamination_ratio
    FROM overlap
    WHERE CAST(n_hit AS DOUBLE) / n_sh >= 0.2
    """,
    survey_ops=("X-CURATE-3",),
    doc="Benchmark decontamination: flag training docs sharing >= 20% of "
    "their 3-token shingles with a held-out benchmark set (doc_id%50==0 "
    "as the stand-in benchmark). The benchmark shingle set is small -> "
    "broadcast; the scan over training shingles is map-side — the "
    "standard contamination sweep shape at 100 TB.",
)
def cu03_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    eligible = docs.filter(F.size(toks) >= 3)
    bench_sh = (
        eligible.filter(F.col("doc_id") % 50 == 0)
        .select(F.explode(_shingles(3)).alias("shingle"))
        .distinct()
    )
    train = (
        eligible.filter(F.col("doc_id") % 50 != 0)
        .select("doc_id", _shingles(3).alias("shingles"))
        .withColumn("n_sh", F.size("shingles"))
        .select("doc_id", "n_sh", F.explode("shingles").alias("shingle"))
    )
    overlap = (
        train.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.max("n_sh").alias("n_sh"), F.count(F.lit(1)).alias("n_hit"))
    )
    ratio = F.col("n_hit").cast("double") / F.col("n_sh")
    return overlap.filter(ratio >= 0.2).select(
        "doc_id", "n_hit", F.round(ratio, 6).alias("contamination_ratio")
    )


# Shared CTE chain: benchmark shingle hits -> merged contamination
# spans per training doc (used by cu11's report and cu13's excision).
# GENERATED from the same ``n`` the Spark helpers take, so the two
# sides cannot drift: _benchmark_hits/merge_hit_spans with any n are in
# lockstep with _span_ctes(n) (tests/test_span_contam.py pins n=2 and
# n=4); the registered oracles use the module default n=3.


def _span_ctes(n: int = 3) -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(n))
    return f"""
    eligible AS (
      SELECT doc_id, {_TOKENIZE_SQL} AS t
      FROM documents
      WHERE len({_TOKENIZE_SQL}) >= {n}
    ),
    bench_sh AS (
      SELECT DISTINCT {gram} AS shingle
      FROM eligible, UNNEST(range(1, greatest(len(t) - {n - 2}, 1))) AS r(i)
      WHERE doc_id % 50 = 0
    ),
    pos_sh AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             {gram} AS shingle
      FROM eligible, UNNEST(range(1, greatest(len(t) - {n - 2}, 1))) AS r(i)
      WHERE doc_id % 50 <> 0
    ),
    hits AS (
      SELECT p.doc_id, p.pos
      FROM pos_sh p JOIN bench_sh b USING (shingle)
    ),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > COALESCE(MAX(pos + {n - 1}) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
                  THEN 1 ELSE 0 END AS is_new
      FROM hits
    ),
    num AS (
      SELECT doc_id, pos,
             CAST(SUM(is_new) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS span_idx
      FROM isl
    ),
    spans AS (
      SELECT doc_id, span_idx,
             MIN(pos) AS span_start,
             MAX(pos) + {n - 1} AS span_end,
             MAX(pos) + {n - 1} - MIN(pos) + 1 AS span_tokens,
             COUNT(*) AS n_hit_shingles
      FROM num
      GROUP BY doc_id, span_idx
    )
"""


_SPAN_CTES = _span_ctes(3)

_SPAN_CONTAM_ORACLE = f"""
    WITH {_SPAN_CTES}
    SELECT doc_id, span_idx, span_start, span_end, span_tokens, n_hit_shingles
    FROM spans
"""


@register(
    "cu11_span_contamination",
    _SPAN_CONTAM_ORACLE,
    survey_ops=("X-CURATE-11",),
    doc="Span-level contamination report: for every training document, "
    "the maximal contiguous TOKEN RANGES whose 3-token shingles appear "
    "in the held-out benchmark set (doc_id%50==0, same split as cu03) — "
    "the surgical complement to cu03's per-doc ratio: instead of "
    "dropping a whole document over one quoted paragraph, a pipeline "
    "can excise exactly the overlapping spans. Hit shingle positions "
    "are merged into islands with the standard gaps-and-islands window "
    "(a hit at position p covers tokens [p, p+2]; a new span starts "
    "when p > prev_max_end + 1). At 100 TB: the benchmark shingle set "
    "broadcasts (same as cu03/cu08), the positional-shingle explode is "
    "map-side, and the island merge windows over (doc_id) — partitions "
    "are bounded by hits per document, never by corpus size.",
)
def cu11_span_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    return merge_hit_spans(_benchmark_hits(spark, sf_dir), n=3)


def positional_shingles(eligible: DataFrame, n: int) -> DataFrame:
    """``(doc_id, pos, shingle)`` — every n-gram start position per doc.

    The token array is let-bound once via the single-element-array
    transform — same O(tokens^2) trap as _shingles (no CSE across
    lambdas). Shared by cu11/cu13's benchmark-hit pipeline and t12's
    cross-document span dedup so the positional-gram semantics (0-based
    start, space-joined gram) cannot drift between them."""
    toks = F.split(F.trim(F.col("text")), r"\s+")

    def pos_grams(t: F.Column) -> F.Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(0)))
        gram = F.transform(
            idx,
            lambda i: F.struct(
                (i - 1).cast("long").alias("pos"),
                F.concat_ws(
                    " ", *[F.element_at(t, i + j) for j in range(n)]
                ).alias("shingle"),
            ),
        )
        return F.when(F.size(t) >= n, gram).otherwise(
            F.array().cast("array<struct<pos:bigint,shingle:string>>")
        )

    pos_sh = F.element_at(F.transform(F.array(toks), pos_grams), 1)
    return eligible.select("doc_id", F.explode(pos_sh).alias("ps")).select(
        "doc_id", F.col("ps.pos").alias("pos"), F.col("ps.shingle").alias("shingle")
    )


def _benchmark_hits(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """Positions ``(doc_id, pos)`` of every training-doc n-gram that
    appears in the held-out benchmark shingle set (doc_id%50==0)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    eligible = docs.filter(F.size(toks) >= n)
    bench_sh = (
        eligible.filter(F.col("doc_id") % 50 == 0)
        .select(F.explode(_shingles(n)).alias("shingle"))
        .distinct()
    )
    return (
        positional_shingles(eligible.filter(F.col("doc_id") % 50 != 0), n)
        .join(F.broadcast(bench_sh), "shingle")
        .select("doc_id", "pos")
    )


def merge_hit_spans(hits: DataFrame, n: int,
                    keys: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """Merge hit shingle start positions ``(*keys, pos)`` into maximal
    contiguous token spans (each hit covers tokens ``[pos, pos+n-1]``;
    spans merge when overlapping or adjacent). Gaps-and-islands over a
    per-key window — partition size is bounded by hits per key group
    (per doc for cu11/cu13; per (doc, benchmark) for cu16's
    attribution, which is even more bounded)."""
    w = Window.partitionBy(*keys).orderBy("pos")
    prev_end = F.max(F.col("pos") + n - 1).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = hits.withColumn(
        "is_new", (F.col("pos") > F.coalesce(prev_end, F.lit(-2)) + 1).cast("int")
    )
    numbered = marked.withColumn(
        "span_idx",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return numbered.groupBy(*keys, "span_idx").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + n - 1).alias("span_end"),
        (F.max("pos") + n - 1 - F.min("pos") + 1).alias("span_tokens"),
        F.count(F.lit(1)).alias("n_hit_shingles"),
    )


_SPAN_EXCISION_ORACLE = f"""
    WITH {_SPAN_CTES},
    per_doc AS (
      SELECT doc_id,
             list({{'s': span_start, 'e': span_end}}) AS sp,
             COUNT(*) AS n_spans
      FROM spans GROUP BY doc_id
    ),
    rebuilt AS (
      SELECT p.doc_id, p.n_spans, e.t,
             list_filter(
               list_transform(range(1, len(e.t)+1),
                 i -> CASE WHEN len(list_filter(p.sp,
                             s -> i-1 >= s.s AND i-1 <= s.e)) > 0
                           THEN NULL ELSE e.t[i] END),
               x -> x IS NOT NULL) AS kept
      FROM per_doc p JOIN eligible e USING (doc_id)
    )
    SELECT doc_id,
           CAST(n_spans AS BIGINT) AS n_spans,
           CAST(len(t) AS BIGINT) AS n_tokens_before,
           CAST(len(t) - len(kept) AS BIGINT) AS n_tokens_removed,
           md5(array_to_string(kept, ' ')) AS clean_md5
    FROM rebuilt
"""


@register(
    "cu13_span_excision",
    _SPAN_EXCISION_ORACLE,
    survey_ops=("X-CURATE-13",),
    doc="Span excision: rewrite each contaminated training document "
    "with cu11's benchmark-overlapping token ranges REMOVED — the "
    "surgical alternative to dropping whole documents (cu03/cu08 flag, "
    "cu11 locates, cu13 excises). The kept token sequence is rebuilt "
    "with native higher-order functions (filter with positional lambda "
    "over the token array; the span list per doc is tiny), entirely "
    "map-side after the same broadcast hit-join as cu11; output carries "
    "md5(clean_text) rather than the text itself, like cu05. At "
    "100 TB: spans flow through one bounded per-doc window, then a "
    "doc_id equi-join back to the corpus — AQE broadcasts the span "
    "side when small, and the rewrite itself never leaves the JVM.",
)
def cu13_span_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = 3
    spans = (
        merge_hit_spans(_benchmark_hits(spark, sf_dir, n), n)
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("sp"),
            F.count(F.lit(1)).alias("n_spans"),
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    joined = docs.join(spans, "doc_id").select(
        "doc_id", "n_spans", "sp", toks.alias("t")
    )

    def covered(i: F.Column) -> F.Column:
        return F.exists(
            F.col("sp"), lambda s: (i >= s["span_start"]) & (i <= s["span_end"])
        )

    kept = F.filter(F.col("t"), lambda x, i: ~covered(i))
    return joined.select(
        "doc_id",
        F.col("n_spans").cast("long").alias("n_spans"),
        F.size("t").cast("long").alias("n_tokens_before"),
        (F.size("t") - F.size(kept)).cast("long").alias("n_tokens_removed"),
        # NULL (not md5('')) when every token was excised: the DuckDB
        # oracle's array_to_string([]) is NULL, so md5 propagates NULL
        # for fully-excised docs. concat_ws would yield '' there —
        # observed diverging at sf0.1 (8 fully-excised docs); the guard
        # is a no-op on every doc with surviving tokens.
        F.md5(F.when(F.size(kept) > 0, F.concat_ws(" ", kept))).alias("clean_md5"),
    )


@register(
    "cu04_corpus_stats",
    f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(len({_TOKENIZE_SQL}) AS DECIMAL(28,0))) AS DOUBLE) AS total_tokens,
           CAST(SUM(CAST(length(text) AS DECIMAL(28,0))) AS DOUBLE) AS total_chars,
           COUNT(DISTINCT md5(lower(trim(text)))) AS n_unique_docs,
           string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs
    FROM documents
    GROUP BY source
    """,
    survey_ops=("X-CURATE-4",),
    doc="Per-source corpus statistics (docs, tokens, chars, exact-unique "
    "count, language inventory) — the data-card / mixture-weight input. "
    "One aggregation pass; the distinct-hash count piggybacks on the "
    "same shuffle.",
)
def cu04_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from travel_data_ingestion_spark.compat import listagg

    from travel_data_ingestion_spark.compat import csum

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    # per-doc token/char counts are integers: compact hi/lo sums
    # (compat.csum frac=0) replace the DECIMAL(28,0)-buffer BigDecimal
    # adds. Envelope is derived, not data-pinned: the DECIMAL(8,0) part
    # cast holds for docs under 1e12 tokens/chars (a single row would
    # exceed 1 TB first), and part-sums stay under 1e18 up to 1.5e11
    # rows/group at 1e8 tokens/doc.
    return docs.select(
        "source",
        "lang",
        F.size(toks).alias("__ntok"),
        F.length("text").alias("__nchar"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("__h"),
    ).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        csum("__ntok", 0, frac=0).alias("total_tokens"),
        csum("__nchar", 0, frac=0).alias("total_chars"),
        F.countDistinct("__h").alias("n_unique_docs"),
        listagg("lang", ",", distinct=True).alias("langs"),
    )


@register(
    "cu07_mixture_sample",
    """
    WITH stats AS (
      SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(SUM(CAST(sqrt(n_docs) AS DECIMAL(28,12))) AS DOUBLE) AS s,
             SUM(n_docs) AS total
      FROM stats
    ),
    rates AS (
      SELECT lang, n_docs,
             ROUND(sqrt(n_docs) / s, 6) AS mix_weight,
             ROUND(LEAST(1.0, (0.5 * total) * (sqrt(n_docs) / s) / n_docs), 6)
               AS sample_rate
      FROM stats CROSS JOIN tot
    ),
    sampled AS (
      SELECT d.lang
      FROM documents d JOIN rates r ON d.lang IS NOT DISTINCT FROM r.lang
      WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
            < FLOOR(r.sample_rate * 65536)
    )
    SELECT r.lang, r.n_docs, r.mix_weight, r.sample_rate,
           COALESCE(c.n_sampled, 0) AS n_sampled
    FROM rates r
    LEFT JOIN (SELECT lang, COUNT(*) AS n_sampled FROM sampled GROUP BY lang) c
      ON r.lang IS NOT DISTINCT FROM c.lang
    """,
    survey_ops=("X-CURATE-7",),
    doc="Temperature-based mixture sampling (the multilingual-pretraining "
    "rebalance, alpha=0.5): per-stratum weights n^alpha / sum(n^alpha) "
    "upweight tail languages, converted to per-stratum sampling rates "
    "for a half-corpus budget, applied via the deterministic md5-bucket "
    "predicate (integer threshold compare -> no float-boundary "
    "nondeterminism; same doc selected on every engine and cluster "
    "size). The weight sum accumulates in DECIMAL so the 5-row "
    "reduction is order-independent across engines. At 100 TB: stats "
    "is one small agg, rates broadcast back, the sampling pass is "
    "map-only on the scan.",
)
def cu07_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mixture_sample(load_table(spark, sf_dir, "documents"))


def mixture_sample(docs: DataFrame) -> DataFrame:
    """cu07's kernel over any (doc_id, lang) frame. All lang joins are
    NULL-SAFE: a NULL-lang stratum is a real stratum (same proxy rule as
    export.curriculum_interleave) — an equi-join would silently exclude
    it from sampling while still reporting a positive sample_rate."""
    stats = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = stats.agg(
        F.sum(F.sqrt("n_docs").cast("decimal(28,12)")).cast("double").alias("s"),
        F.sum("n_docs").alias("total"),
    )
    w = F.sqrt("n_docs") / F.col("s")
    rates = stats.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.round(w, 6).alias("mix_weight"),
        F.round(F.least(F.lit(1.0), (0.5 * F.col("total")) * w / F.col("n_docs")), 6).alias(
            "sample_rate"
        ),
    )
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "int"
    )
    sampled = (
        docs.alias("d")
        .join(
            F.broadcast(rates).alias("r"),
            F.col("d.lang").eqNullSafe(F.col("r.lang")),
        )
        .filter(bucket < F.floor(F.col("r.sample_rate") * 65536))
        .groupBy(F.col("r.lang").alias("lang"))
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return (
        rates.alias("r")
        .join(
            sampled.alias("c"),
            F.col("r.lang").eqNullSafe(F.col("c.lang")),
            "left",
        )
        .select(
            F.col("r.lang").alias("lang"),
            "n_docs",
            "mix_weight",
            "sample_rate",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
        )
    )


def _leakage_safe_split_oracle() -> str:
    from travel_data_ingestion_spark.queries.llm_dedup import _cc_labels_cte

    return f"""{_cc_labels_cte()},
    resolved AS (
      SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_rep
      FROM documents d LEFT JOIN labels l ON l.node = d.doc_id
    )
    SELECT doc_id, cluster_rep,
           CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, cluster_rep,
             CAST(('0x' || substr(md5(CAST(cluster_rep AS VARCHAR)), 1, 4))
               AS INTEGER) % 100 AS b
      FROM resolved
    )
    """


@register(
    "cu09_leakage_safe_split",
    _leakage_safe_split_oracle(),
    survey_ops=("X-CURATE-9",),
    doc="Leakage-safe train/val/test split (~80/10/10): the split "
    "bucket hashes the doc's NEAR-DUP CLUSTER REPRESENTATIVE (dd06's "
    "connected-component label over the MinHash-LSH pair graph; "
    "singletons represent themselves), not the doc itself — so a "
    "training document's near-duplicate can never land in the eval "
    "split, the classic contamination path a per-doc hash split leaves "
    "open. Deterministic md5 bucketing keeps assignments reproducible "
    "across runs, engines, and cluster sizes. At 100 TB this costs one "
    "clustering pass (already run for dedup) + a map-only bucket "
    "assignment; tests/test_dedup_clusters.py pins that no near-dup "
    "pair straddles splits.",
)
def cu09_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from travel_data_ingestion_spark.queries.llm_dedup import _cc_labels

    labels = _cc_labels(spark, sf_dir).select(
        "doc_id", F.col("label").alias("cluster_rep")
    )
    b = (
        F.conv(
            F.substring(F.md5(F.col("cluster_rep").cast("string")), 1, 4), 16, 10
        ).cast("int")
        % 100
    )
    split = F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    return labels.select("doc_id", "cluster_rep", split.alias("split"))


# cu08 Bloom parameters: m = 65536 bits (1024 x 64-bit words), k = 3
# md5-derived hash positions per shingle. Positions are the first 16
# bits of md5(shingle || '#i') — reproducible in any engine, so the
# bitmap and every membership test are bit-identical across Spark and
# DuckDB (false positives included, which is what makes the row
# hash-comparable despite the filter being approximate).
_BLOOM_WORDS = 1024


def _spark_pos(var: str, i: int) -> str:
    return f"CAST(conv(substring(md5(concat({var}, '#{i}')), 1, 4), 16, 10) AS INT)"


def _duck_pos(var: str, i: int) -> str:
    return f"CAST(('0x' || substr(md5({var} || '#{i}'), 1, 4)) AS INTEGER)"


def _bloom_decontam_oracle() -> str:
    return f"""
    WITH bench AS (
      SELECT {_SHINGLES_SQL} AS shingles
      FROM documents WHERE doc_id % 50 = 0 AND len({_TOKENIZE_SQL}) >= 3
    ),
    bench_sh AS (SELECT DISTINCT UNNEST(shingles) AS shingle FROM bench),
    pos AS (
      SELECT DISTINCT UNNEST([{_duck_pos('shingle', 0)},
                              {_duck_pos('shingle', 1)},
                              {_duck_pos('shingle', 2)}]) AS p
      FROM bench_sh
    ),
    words AS (
      -- 1<<63 overflows DuckDB's checked shift; the sign-bit word uses
      -- the min-long literal instead (same trick as the dd04 oracle)
      SELECT p // 64 AS w,
             bit_or(CASE WHEN p % 64 = 63
                         THEN CAST(-9223372036854775808 AS BIGINT)
                         ELSE (CAST(1 AS BIGINT) << CAST(p % 64 AS INT)) END)
               AS word
      FROM pos GROUP BY 1
    ),
    scaffold AS (SELECT range AS w FROM range({_BLOOM_WORDS})),
    bloomt AS (
      SELECT list(COALESCE(word, CAST(0 AS BIGINT)) ORDER BY s.w) AS bloom
      FROM scaffold s LEFT JOIN words USING (w)
    ),
    train AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles
      FROM documents WHERE doc_id % 50 <> 0 AND len({_TOKENIZE_SQL}) >= 3
    ),
    scored AS (
      SELECT doc_id, len(shingles) AS n_sh,
             len(list_filter(
               list_transform(shingles, g -> [{_duck_pos('g', 0)},
                                              {_duck_pos('g', 1)},
                                              {_duck_pos('g', 2)}]),
               ps -> len(list_filter(ps, p ->
                 ((bloom[(p // 64) + 1] >> (p % 64)) & 1) = 1)) = 3
             )) AS n_hits
      FROM train CROSS JOIN bloomt
    )
    SELECT doc_id, n_sh, n_hits,
           ROUND(CAST(n_hits AS DOUBLE) / n_sh, 6) AS bloom_ratio
    FROM scored
    WHERE CAST(n_hits AS DOUBLE) / n_sh >= 0.2
    """


@register(
    "cu08_bloom_decontam",
    _bloom_decontam_oracle(),
    survey_ops=("X-CURATE-8",),
    doc="Bloom-filter benchmark decontamination — cu03's corpus-scale "
    "form. cu03 broadcasts the benchmark SHINGLE SET and equi-joins "
    "exploded training shingles against it: correct, but the broadcast "
    "grows with the benchmark and every training shingle pays a hash "
    "probe against a string set. Here the benchmark compresses into a "
    "fixed 8 KB bitmap (65536 bits, 3 md5-derived positions per "
    "shingle) broadcast once; the corpus pass is then PURE MAP "
    "expressions — transform/forall over each doc's shingle array with "
    "O(1) bit tests, no explode, no join, no shuffle before the final "
    "threshold filter. That is the 100 TB contamination-sweep shape: "
    "scan-bound, whole-stage-codegen, broadcast size independent of "
    "benchmark count. The filter is one-sided (false positives only): "
    "flagged docs are a SUPERSET of cu03's exact hits "
    "(tests/test_bloom_decontam.py pins no-false-negatives and the FP "
    "margin). Hash positions derive from md5, so the bitmap and every "
    "test are bit-identical in DuckDB — the oracle hash-compares even "
    "though the operator is approximate.",
)
def cu08_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    eligible = docs.filter(F.size(toks) >= 3)
    bench_sh = (
        eligible.filter(F.col("doc_id") % 50 == 0)
        .select(F.explode(_shingles(3)).alias("shingle"))
        .distinct()
    )
    pos = bench_sh.select(
        F.explode(
            F.array(*[F.expr(_spark_pos("shingle", i)) for i in range(3)])
        ).alias("p")
    ).distinct()
    # Java shift semantics wrap, so shiftleft(1L, 63) is the sign bit —
    # no CASE needed on the Spark side.
    words = (
        pos.select(
            F.expr("CAST(shiftright(p, 6) AS INT)").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(bit)").alias("word"))
    )
    scaffold = spark.range(_BLOOM_WORDS).select(F.col("id").cast("int").alias("w"))
    bloom = (
        scaffold.join(words, "w", "left")
        .select("w", F.coalesce("word", F.lit(0).cast("bigint")).alias("word"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(w, word))), x -> x.word)"
            ).alias("bloom")
        )
    )
    train = eligible.filter(F.col("doc_id") % 50 != 0).select(
        "doc_id", _shingles(3).alias("shingles")
    )
    member = (
        "(shiftright(element_at(bloom, CAST(shiftright(p, 6) AS INT) + 1), "
        "CAST(p % 64 AS INT)) & 1) = 1"
    )
    n_hits = F.expr(
        f"""size(filter(
          transform(shingles, g -> array({_spark_pos('g', 0)},
                                         {_spark_pos('g', 1)},
                                         {_spark_pos('g', 2)})),
          ps -> forall(ps, p -> {member})))"""
    )
    scored = train.crossJoin(F.broadcast(bloom)).select(
        "doc_id", F.size("shingles").alias("n_sh"), n_hits.alias("n_hits")
    )
    ratio = F.col("n_hits").cast("double") / F.col("n_sh")
    return scored.filter(ratio >= 0.2).select(
        "doc_id", "n_sh", "n_hits", F.round(ratio, 6).alias("bloom_ratio")
    )


# Planted contamination fixture for cu06: the synthetic embedding corpus
# is near-uniform (max pairwise cos ~0.33), so an honest 0.9 threshold
# would make the semantic-decontamination row vacuous (0 rows == 0 rows,
# the exact failure mode ADVICE.md flagged for dd05). Both engines union
# in the same literal vectors: components are multiples of 1/16 (exactly
# representable in binary floating point); each planted benchmark vector
# gets one near-copy "training" vector at cos ~0.9997, and cross-seed
# cosines sit below -0.07 — far from both the 0.9 threshold and the 4dp
# rounding boundary. Benchmark ids are multiples of 50 (the benchmark
# membership predicate), training ids are not; ids start at 2e9, above
# real vec_ids and dd05's 1e9 fixture block.
_DECONTAM_BASE_ID = 2_000_000_000


def _planted_contam_vectors(n_pairs: int = 3, dim: int = 64) -> list[tuple[int, list[float]]]:
    rows: list[tuple[int, list[float]]] = []
    for seed in range(n_pairs):
        base = [(((d * 29 + seed * 13 + 5) % 17) - 8) / 16.0 for d in range(dim)]
        near = list(base)
        near[(seed * 7) % dim] += 1 / 16.0
        rows.append((_DECONTAM_BASE_ID + 100 * seed, base))
        rows.append((_DECONTAM_BASE_ID + 100 * seed + 1, near))
    return rows


def _semantic_decontam_oracle() -> str:
    planted = ",\n        ".join(
        f"({vid}, CAST({vec!r} AS DOUBLE[]))" for vid, vec in _planted_contam_vectors()
    )
    return f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      UNION ALL
      SELECT * FROM (VALUES
        {planted}
      ) AS planted(vec_id, e)
    ),
    bench AS (SELECT vec_id AS bench_id, e AS be FROM v WHERE vec_id % 50 = 0),
    train AS (SELECT vec_id, e FROM v WHERE vec_id % 50 <> 0),
    scored AS (
      SELECT t.vec_id,
             ROUND(list_dot_product(t.e, b.be) /
               (sqrt(list_dot_product(t.e, t.e)) * sqrt(list_dot_product(b.be, b.be))), 4)
               AS cos_sim
      FROM train t CROSS JOIN bench b
    )
    SELECT vec_id, COUNT(*) AS n_bench_hits, MAX(cos_sim) AS max_cos
    FROM scored
    WHERE cos_sim >= 0.9
    GROUP BY vec_id
    """


@register(
    "cu06_semantic_decontam",
    _semantic_decontam_oracle(),
    survey_ops=("X-CURATE-6",),
    doc="Semantic (embedding-space) benchmark decontamination — the "
    "SemDeDup-style complement to cu03's n-gram overlap: flag training "
    "vectors whose cosine to ANY held-out benchmark vector (vec_id%50==0 "
    "as the stand-in benchmark) reaches 0.9 on the 4dp-rounded score. "
    "At 100 TB the benchmark side is a fixed small set regardless of "
    "corpus size, so it broadcasts and the corpus scan is map-only "
    "(BroadcastNestedLoopJoin over the broadcast benchmark — the correct "
    "plan here, not a skew risk); the >=0.9 filter runs map-side, so the "
    "per-doc aggregation shuffles only the contaminated hits, not the "
    "corpus. Deterministic planted fixture (same literal vectors in both "
    "engines, see _planted_contam_vectors) keeps the graded row "
    "non-vacuous on this near-uniform synthetic corpus.",
)
def cu06_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from travel_data_ingestion_spark.queries.llm_similarity import cosine

    planted = spark.createDataFrame(
        _planted_contam_vectors(), "vec_id long, e array<double>"
    )
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .unionByName(planted)
    )
    bench = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("bench_id"), F.col("e").alias("be")
    )
    train = emb.filter(F.col("vec_id") % 50 != 0)
    hits = (
        train.crossJoin(F.broadcast(bench))
        .select(
            "vec_id",
            F.round(cosine(F.col("e"), F.col("be")), 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.9)
    )
    return hits.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_bench_hits"),
        F.max("cos_sim").alias("max_cos"),
    )


def _curriculum_oracle() -> str:
    return """
    WITH stats AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    tot AS (
      SELECT CAST(SUM(CAST(sqrt(n_docs) AS DECIMAL(28,12))) AS DOUBLE) AS s FROM stats
    ),
    ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rk
      FROM documents
    ),
    vts AS (
      -- null-safe stratum join: a NULL lang is a real stratum (the
      -- Spark side ranks it through a NULL-normalized proxy), so the
      -- oracle must not drop it either
      SELECT r.doc_id, r.lang, r.rk,
             (r.rk + 1) * t.s / sqrt(st.n_docs) AS vt
      FROM ranked r JOIN stats st ON r.lang IS NOT DISTINCT FROM st.lang
      CROSS JOIN tot t
    ),
    head AS (
      SELECT doc_id, lang, rk, vt FROM vts ORDER BY vt, lang, doc_id LIMIT 200
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY vt, lang, doc_id) AS BIGINT) AS train_pos,
           doc_id, lang, CAST(rk AS BIGINT) AS lang_rk,
           ROUND(vt, 6) AS interleave_key
    FROM head
    """


@register(
    "cu10_curriculum_export",
    _curriculum_oracle(),
    survey_ops=("X-CURATE-10",),
    doc="Curriculum/mixture training-order export: the first 200 "
    "positions of the deterministic stride-scheduling interleave "
    "(export.curriculum_interleave) that orders the corpus for "
    "training. Each language gets a temperature weight sqrt(n)/sum "
    "(alpha=0.5, cu07's rebalance); its k-th doc — ranked by md5 hash "
    "within the stratum — is scheduled at virtual time (k+1)/w, so "
    "sorting by virtual time interleaves languages proportionally to "
    "their weights at every point of the training order. The graded "
    "head is top-k by (vt, lang, doc_id): TakeOrderedAndProject, never "
    "a global sort. The within-stratum rank is computed scale-safely "
    "via 256 md5-prefix salt buckets + broadcast offsets, not one "
    "giant per-language "
    "window. vt's arithmetic is IEEE-identical in DuckDB (DECIMAL "
    "weight-sum accumulation; sqrt/mul/div correctly rounded), so the "
    "oracle hash-compares the full ordering.",
)
def cu10_curriculum_export(spark: SparkSession, sf_dir: str) -> DataFrame:

    from travel_data_ingestion_spark.export import curriculum_interleave

    docs = load_table(spark, sf_dir, "documents")
    vts = curriculum_interleave(docs, stratum="lang", key="doc_id")
    head = vts.orderBy(
        "vt", F.col("lang").asc_nulls_last(), "doc_id"
    ).limit(200)
    # row_number over the already-limited head: the window sorts k=200
    # rows in one partition — bounded by k, not corpus size.
    w = Window.orderBy("vt", F.col("lang").asc_nulls_last(), "doc_id")
    return head.select(
        F.row_number().over(w).cast("long").alias("train_pos"),
        "doc_id",
        "lang",
        F.col("rk").alias("lang_rk"),
        F.round("vt", 6).alias("interleave_key"),
    )


# Mixture-weight config for cu12: explicit per-language weights as a
# small config table (the production shape: weights come from a data
# card / ablation, not a formula). Strata missing from the config fall
# back to the default; config rows for absent strata are ignored.
_MIX_CFG: list[tuple[str, float]] = [("en", 1.0), ("zh", 4.0), ("de", 3.0)]
_MIX_DEFAULT = 2.0


def _weighted_curriculum_oracle() -> str:
    cfg = ", ".join(f"('{lang}', {w!r})" for lang, w in _MIX_CFG)
    return f"""
    WITH cfg(lang, w) AS (VALUES {cfg}),
    stats AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    wts AS (
      SELECT s.lang, COALESCE(c.w, {_MIX_DEFAULT!r}) AS w_raw
      FROM stats s LEFT JOIN cfg c ON s.lang IS NOT DISTINCT FROM c.lang
    ),
    tot AS (
      SELECT CAST(SUM(CAST(w_raw AS DECIMAL(28,12))) AS DOUBLE) AS s FROM wts
    ),
    ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rk
      FROM documents
    ),
    vts AS (
      SELECT r.doc_id, r.lang, r.rk,
             (r.rk + 1) * t.s / w.w_raw AS vt
      FROM ranked r JOIN wts w ON r.lang IS NOT DISTINCT FROM w.lang
      CROSS JOIN tot t
    ),
    head AS (
      SELECT doc_id, lang, rk, vt FROM vts ORDER BY vt, lang, doc_id LIMIT 200
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY vt, lang, doc_id) AS BIGINT) AS train_pos,
           doc_id, lang, CAST(rk AS BIGINT) AS lang_rk,
           ROUND(vt, 6) AS interleave_key
    FROM head
    """


@register(
    "cu12_weighted_curriculum",
    _weighted_curriculum_oracle(),
    survey_ops=("X-CURATE-12",),
    doc="Config-driven curriculum export: cu10's stride-scheduling "
    "interleave with mixture weights supplied as a CONFIG TABLE "
    "(lang -> weight; absent strata fall back to a default) instead of "
    "the sqrt(n) temperature formula — the production shape, where "
    "weights come from a data card or ablation sweep. Same deterministic "
    "ordering contract and the same scale-safe salted within-stratum "
    "rank (export.curriculum_interleave); the config broadcasts, so the "
    "only corpus-sized work is the rank itself. The graded head is "
    "top-200 by (vt, lang, doc_id): TakeOrderedAndProject.",
)
def cu12_weighted_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    W = Window

    from travel_data_ingestion_spark.export import curriculum_interleave

    docs = load_table(spark, sf_dir, "documents")
    cfg = spark.createDataFrame(_MIX_CFG, "lang string, weight double")
    vts = curriculum_interleave(
        docs, stratum="lang", key="doc_id", weights=cfg, default_weight=_MIX_DEFAULT
    )
    head = vts.orderBy(
        "vt", F.col("lang").asc_nulls_last(), "doc_id"
    ).limit(200)
    w = W.orderBy("vt", F.col("lang").asc_nulls_last(), "doc_id")
    return head.select(
        F.row_number().over(w).cast("long").alias("train_pos"),
        "doc_id",
        "lang",
        F.col("rk").alias("lang_rk"),
        F.round("vt", 6).alias("interleave_key"),
    )


# Token budgets for cu14: mix recipes are stated in tokens per
# language/source; strata missing from the config take the default.
# Values sized so every stratum's budget BITES at the graded SFs
# (smallest stratum token mass ~3.5k at sf0.01) — the boundary doc is
# exercised in every stratum every round.
_TOKBUDGET_CFG: list[tuple[str, int]] = [("en", 3000), ("zh", 1500)]
_TOKBUDGET_DEFAULT = 2000


def _token_budget_oracle() -> str:
    cfg = ", ".join(f"('{lang}', {b})" for lang, b in _TOKBUDGET_CFG)
    return f"""
    WITH cfg(lang, budget) AS (VALUES {cfg}),
    t AS (
      SELECT doc_id, lang, len({_TOKENIZE_SQL}) AS n_tokens FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM t
    ),
    b AS (
      SELECT r.doc_id, r.lang, r.n_tokens, r.cum_before,
             COALESCE(c.budget, {_TOKBUDGET_DEFAULT}) AS budget
      FROM ranked r LEFT JOIN cfg c ON r.lang IS NOT DISTINCT FROM c.lang
    )
    SELECT doc_id, lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_before + n_tokens AS BIGINT) AS cum_tokens
    FROM b WHERE cum_before < budget
    """


@register(
    "cu14_token_budget_mix",
    _token_budget_oracle(),
    survey_ops=("X-CURATE-14",),
    doc="Token-budget mixture selection (export.token_budget_sample): "
    "per language, documents are taken in deterministic md5-hash order "
    "until the stratum's TOKEN budget fills — the unit real mix recipes "
    "are stated in (tokens per source), where cu07/cu02 sample by "
    "document count. Budgets come from a config table with a default "
    "(the cu12 production shape; eager validation raises on duplicate/"
    "non-positive rows); the document crossing the budget boundary is "
    "included, so the selection is a pure function of (key, tokens, "
    "budget). The per-stratum running token sum is computed scale-"
    "safely via 256 md5-prefix salt buckets + broadcast cumulative "
    "bucket offsets — exact integer arithmetic, bit-identical to the "
    "naive per-stratum window (pinned in tests/test_export.py), with "
    "per-partition work bounded by n_s/256 instead of one dominant-"
    "stratum window partition. The DuckDB oracle runs the naive window "
    "form, so every graded round re-proves the salted decomposition.",
)
def cu14_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from travel_data_ingestion_spark.export import token_budget_sample

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    cfg = spark.createDataFrame(_TOKBUDGET_CFG, "lang string, budget long")
    return token_budget_sample(
        toks, budgets=cfg, default_budget=_TOKBUDGET_DEFAULT
    )


# Epoch-repetition targets for cu15: chosen so repetition BITES at the
# graded SFs (zh token mass ~4.1k at sf0.01 -> 3 epochs with a mid-pass
# truncation; de ~3.5k -> 2 epochs; en/es/fr unconfigured -> exactly one
# full pass), exercising every branch of the fill-until-reached rule.
_EPOCH_CFG: list[tuple[str, int]] = [("zh", 9000), ("de", 7000)]


def _epoch_repeat_oracle() -> str:
    cfg = ", ".join(f"('{lang}', {t})" for lang, t in _EPOCH_CFG)
    return f"""
    WITH cfg(lang, target) AS (VALUES {cfg}),
    t AS (
      SELECT doc_id, lang, len({_TOKENIZE_SQL}) AS n_tokens FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
             SUM(n_tokens) OVER (PARTITION BY lang) AS s_total
      FROM t
    ),
    e AS (
      SELECT r.*, c.target,
             CAST(CASE WHEN c.target IS NULL THEN 1
                  ELSE (c.target + r.s_total - 1) // r.s_total END AS BIGINT)
               AS n_epochs
      FROM ranked r LEFT JOIN cfg c ON r.lang IS NOT DISTINCT FROM c.lang
    ),
    x AS (SELECT *, UNNEST(range(0, n_epochs)) AS epoch FROM e)
    SELECT doc_id, lang,
           CAST(epoch AS BIGINT) AS epoch,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(epoch * s_total + cum_before + n_tokens AS BIGINT) AS cum_tokens
    FROM x
    WHERE target IS NULL OR epoch * s_total + cum_before < target
    """


@register(
    "cu15_epoch_repeat_mix",
    _epoch_repeat_oracle(),
    survey_ops=("X-CURATE-15",),
    doc="Multi-epoch mixture selection (export.epoch_repeat_sample) — "
    "the OVER-budget complement of cu14: real pretraining mixes "
    "up-weight small high-quality sources by REPEATING them, so a "
    "stratum whose token target exceeds its corpus mass is replayed in "
    "full deterministic hash-order passes tagged with an epoch number, "
    "the final pass truncated by cu14's fill-until-reached rule; "
    "unconfigured strata emit exactly one full pass (the output IS the "
    "mixed dataset). Targets come from a validated config table "
    "(duplicates / non-positive raise; so does a target demanding "
    ">max_epochs passes — a config error, not a recipe). The prefix "
    "sum shares cu14's 256-salt-bucket decomposition (one uniform "
    "shuffle, no dominant-stratum window); totals are one broadcast "
    "aggregate; the epoch fan-out is JVM-side sequence+explode sized "
    "by the output. The DuckDB oracle runs the naive window form, so "
    "every graded round re-proves the salted decomposition across the "
    "epoch arithmetic too.",
)
def cu15_epoch_repeat_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from travel_data_ingestion_spark.export import epoch_repeat_sample

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    cfg = spark.createDataFrame(_EPOCH_CFG, "lang string, target long")
    return epoch_repeat_sample(toks, targets=cfg)


# PII patterns chosen for identical semantics under Java regex (Spark)
# and RE2 (DuckDB): character classes, bounded repetition, no lookaround.
_EMAIL_PAT = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_PAT = "[0-9]{7,}"


@register(
    "cu05_pii_redact",
    """
    WITH enriched AS (
      -- The synthetic corpus carries no PII, so inject a deterministic
      -- contact line on 1/3 of docs to exercise the redaction path.
      SELECT doc_id, source,
             CASE WHEN doc_id % 3 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com ph ' || lpad(CAST(doc_id AS VARCHAR), 7, '0')
                  ELSE text END AS raw
      FROM documents
    )
    SELECT doc_id, source,
           len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
             AS n_emails,
           len(regexp_extract_all(raw, '[0-9]{7,}')) AS n_phones,
           md5(regexp_replace(
                 regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                                '<EMAIL>', 'g'),
                 '[0-9]{7,}', '<PHONE>', 'g')) AS redacted_md5
    FROM enriched
    WHERE doc_id % 3 = 0
    """,
    survey_ops=("X-CURATE-5",),
    doc="PII redaction sweep: count and mask email addresses and long "
    "digit runs with engine-portable regexes (no lookaround), emitting "
    "an md5 of the redacted text as the cross-engine witness. Pure "
    "map-only regexp_replace — whole-stage codegen, zero shuffle, the "
    "shape of a full-corpus redaction pass at 100 TB. The corpus is "
    "synthetic word-salad with no PII, so a deterministic contact line "
    "is injected on doc_id%3==0 to give the redactor real work.",
)
def cu05_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        did,
        F.lit("@example.com ph "),
        F.lpad(did, 7, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_PAT, "<EMAIL>"), _PHONE_PAT, "<PHONE>"
    )
    return (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(
            "doc_id",
            "source",
            F.regexp_count(raw, F.lit(_EMAIL_PAT)).cast("long").alias("n_emails"),
            F.regexp_count(raw, F.lit(_PHONE_PAT)).cast("long").alias("n_phones"),
            F.md5(redacted).alias("redacted_md5"),
        )
    )


# ---------------------------------------------------------------------------
# cu16: span contamination with BENCHMARK ATTRIBUTION
#
# cu11 locates the contaminated token ranges; cu16 answers the audit
# question cu11 can't: WHICH benchmark document does each range quote?
# The attribution is per (training doc, benchmark doc) pair — one span
# row per maximal contiguous range of that benchmark's shingles, so a
# paragraph quoting two different benchmark items reports two
# attributed spans even where cu11 merges them into one island.


def _span_attr_ctes(n: int = 3) -> str:
    """Oracle CTE chain for attributed spans — same machinery as
    _span_ctes(n) with the benchmark shingle set keeping its source
    doc_id and the island merge partitioned by (doc_id, benchmark_id).
    Generated from the same ``n`` the Spark helpers take, so the two
    sides cannot drift."""
    gram = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(n))
    return f"""
    eligible AS (
      SELECT doc_id, {_TOKENIZE_SQL} AS t
      FROM documents
      WHERE len({_TOKENIZE_SQL}) >= {n}
    ),
    bench_sh AS (
      SELECT DISTINCT doc_id AS benchmark_id, {gram} AS shingle
      FROM eligible, UNNEST(range(1, greatest(len(t) - {n - 2}, 1))) AS r(i)
      WHERE doc_id % 50 = 0
    ),
    pos_sh AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             {gram} AS shingle
      FROM eligible, UNNEST(range(1, greatest(len(t) - {n - 2}, 1))) AS r(i)
      WHERE doc_id % 50 <> 0
    ),
    hits AS (
      SELECT p.doc_id, b.benchmark_id, p.pos
      FROM pos_sh p JOIN bench_sh b USING (shingle)
    ),
    isl AS (
      SELECT doc_id, benchmark_id, pos,
             CASE WHEN pos > COALESCE(MAX(pos + {n - 1}) OVER (
                    PARTITION BY doc_id, benchmark_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
                  THEN 1 ELSE 0 END AS is_new
      FROM hits
    ),
    num AS (
      SELECT doc_id, benchmark_id, pos,
             CAST(SUM(is_new) OVER (
                    PARTITION BY doc_id, benchmark_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS span_idx
      FROM isl
    ),
    attr_spans AS (
      SELECT doc_id, benchmark_id, span_idx,
             MIN(pos) AS span_start,
             MAX(pos) + {n - 1} AS span_end,
             MAX(pos) + {n - 1} - MIN(pos) + 1 AS span_tokens,
             COUNT(*) AS n_hit_shingles
      FROM num
      GROUP BY doc_id, benchmark_id, span_idx
    )
"""


def _benchmark_hits_attributed(
    spark: SparkSession, sf_dir: str, n: int = 3
) -> DataFrame:
    """Positions ``(doc_id, benchmark_id, pos)`` of every training-doc
    n-gram that appears in benchmark doc ``benchmark_id`` — the
    attributed twin of _benchmark_hits. One position can hit several
    benchmark docs (one row each); (doc, benchmark, pos) is unique."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    eligible = docs.filter(F.size(toks) >= n)
    bench_sh = (
        eligible.filter(F.col("doc_id") % 50 == 0)
        .select(
            F.col("doc_id").alias("benchmark_id"),
            F.explode(_shingles(n)).alias("shingle"),
        )
        .distinct()
    )
    return (
        positional_shingles(eligible.filter(F.col("doc_id") % 50 != 0), n)
        .join(F.broadcast(bench_sh), "shingle")
        .select("doc_id", "benchmark_id", "pos")
    )


@register(
    "cu16_span_attribution",
    f"""
    WITH {_span_attr_ctes(3)}
    SELECT doc_id, benchmark_id, span_start, span_end, span_tokens,
           n_hit_shingles
    FROM attr_spans
    """,
    survey_ops=("X-CURATE-16",),
    doc="Span contamination with benchmark ATTRIBUTION: for every "
    "(training doc, benchmark doc) pair, the maximal contiguous token "
    "ranges of the training doc whose 3-token shingles appear in THAT "
    "benchmark doc — the audit-trail complement to cu11's unattributed "
    "report (which benchmark item was quoted, where, and how much), "
    "the row shape a takedown/excision review needs. Same "
    "gaps-and-islands machinery as cu11 keyed by (doc_id, "
    "benchmark_id), so a paragraph quoting two benchmark items "
    "reports two attributed spans where cu11 merges one island. At "
    "100 TB: the attributed benchmark shingle set is still "
    "benchmark-bounded (eval suites are thousands of docs, not "
    "corpus-scale) -> broadcast, same policy as cu03/cu08/cu11; the "
    "hit stream fans out only by benchmarks-sharing-a-shingle; the "
    "island window partitions by (doc, benchmark) — strictly more "
    "bounded than cu11's per-doc partitions.",
)
def cu16_span_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = 3
    return merge_hit_spans(
        _benchmark_hits_attributed(spark, sf_dir, n),
        n,
        keys=("doc_id", "benchmark_id"),
    ).select(
        "doc_id", "benchmark_id", "span_start", "span_end",
        "span_tokens", "n_hit_shingles",
    )


# ---------------------------------------------------------------------------
# cu17: rank-weighted sampling — the curation consumer of the link graph
#
# t29's doc calls PageRank "the page-quality signal rank-weighted
# curation samples by"; this member wires it: documents join the rank
# table (left — most of a corpus has no inlink evidence and falls back
# to a floor weight), and each doc is kept with probability
# proportional to its weight, scaled so the best-ranked page is kept
# with p = 1.0. The acceptance draw is the cu01 deterministic
# md5-uniform (reproducible across runs, engines, cluster sizes — no
# rand()), so the oracle reproduces the SELECTION, not just its size.

_RANK_FLOOR = 0.02  # weight for docs absent from the link graph


def _rank_weighted_oracle() -> str:
    from travel_data_ingestion_spark.queries.llm_crawl import (
        _PR_DAMPING,
        _PR_EDGES,
        _PR_K,
        _pagerank_oracle_sql,
    )

    pr = _pagerank_oracle_sql(_PR_EDGES, _PR_K, _PR_DAMPING)
    return f"""
    WITH pr AS (SELECT * FROM (
    {pr}
    )),
    d AS (
      SELECT doc_id, source, r.rank AS page_rank,
             COALESCE(r.rank, {_RANK_FLOOR!r}) AS w
      FROM documents LEFT JOIN pr r ON doc_id = r.node
    ),
    m AS (SELECT MAX(w) AS mw FROM d)
    SELECT doc_id, source, ROUND(page_rank, 8) AS page_rank,
           ROUND(w / mw, 6) AS sample_p
    FROM d CROSS JOIN m
    WHERE CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
               AS INTEGER) AS DOUBLE) < 65536.0 * w / mw
    """


@register(
    "cu17_rank_weighted_sample",
    _rank_weighted_oracle(),
    survey_ops=("X-CURATE-17",),
    doc="Rank-weighted curation sampling (the curation consumer of "
    "t29/t31's link graph): documents LEFT-join the PageRank table "
    "(docs without inlink evidence fall back to a floor weight) and "
    "each doc is kept with probability w/max(w) — proportional-to-"
    "quality downsampling with the best page kept at p=1.0 — using "
    "the cu01 deterministic md5-uniform as the acceptance draw, so "
    "the exact selection reproduces on any engine. The rank join is "
    "UNHINTED: at corpus scale the rank table is one row per page "
    "(data-scaled — a forced broadcast would abort exactly when it "
    "matters); AQE broadcasts the graded 6-row fixture and demotes "
    "to a doc_id-keyed shuffle at scale. max(w) is a 1-row aggregate "
    "crossJoin (broadcast nested loop). Oracle embeds the same "
    "generated PageRank algebra, so selection AND weights are "
    "value-graded.",
)
def cu17_rank_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from travel_data_ingestion_spark.llm.linkgraph import pagerank
    from travel_data_ingestion_spark.queries.llm_crawl import (
        _PR_DAMPING,
        _PR_EDGES,
        _PR_K,
    )

    edges = spark.createDataFrame(_PR_EDGES, "src long, dst long")
    pr = pagerank(edges, k=_PR_K, damping=_PR_DAMPING).select(
        F.col("node").alias("doc_id"), "rank"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    d = docs.join(pr, "doc_id", "left").select(
        "doc_id",
        "source",
        F.col("rank").alias("page_rank"),
        F.coalesce(F.col("rank"), F.lit(_RANK_FLOOR)).alias("w"),
    )
    mw = d.agg(F.max("w").alias("mw"))
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("int").cast("double")
    return (
        d.crossJoin(mw)
        .filter(u < F.lit(65536.0) * F.col("w") / F.col("mw"))
        .select(
            "doc_id",
            "source",
            F.round("page_rank", 8).alias("page_rank"),
            F.round(F.col("w") / F.col("mw"), 6).alias("sample_p"),
        )
    )
