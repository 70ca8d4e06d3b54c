"""BPE merge training — learning a tokenizer from the corpus.

t07 counts tokens under a FIXED BPE-style regex; a training-data
pipeline also needs the other direction: learn the merge table itself
from the corpus (the classic byte-pair-encoding trainer of Sennrich et
al. 2016). The algorithm is inherently iterative — k rounds of "count
adjacent symbol pairs, merge the most frequent everywhere" — and this
module implements it Spark-shaped:

- the unit of distribution is the DISTINCT-WORD table (word, count,
  symbol string), not the corpus: pair statistics are identical when
  weighted by word count, and the word table is orders of magnitude
  smaller than 100 TB of text (a few hundred million rows at crawl
  scale vs trillions of tokens);
- the PAIR-COUNT table is maintained by DELTA UPDATE (the classic
  trainer optimization): the full explode-and-count aggregation runs
  ONCE, up front; each round then (a) reads the winner off the
  materialized pair table (a top-1 over vocabulary-pair rows, not a
  corpus re-count), (b) touches only the words that CONTAIN the
  winning pair — their old pairs enter the delta negatively, their
  post-merge pairs positively — and (c) folds the delta into the
  pair table. Per-round distributed work is O(changed words), not
  O(word table): by the zipfian shape of merge training the changed
  set collapses quickly (measured on the graded corpus — see
  SCALE.md), which is what makes a 32k-merge production train
  feasible where k full re-counts would be 32k corpus scans. The
  only driver traffic is still the single winning row per round —
  the same bounded-iteration control plane as dd06's
  connected-components loop;
- both evolving tables (words, pair counts) are checkpoint-truncated
  each round (``session.truncate_lineage``, the dd06/pagerank
  doctrine): the delta plan references the
  previous round's tables TWICE (changed and unchanged branches), so
  without truncation the logical plan doubles per round and Catalyst
  analysis goes exponential.

Exact semantics (pinned so the DuckDB oracle generator
``queries.llm_text._bpe_oracle_sql`` cannot drift — both sides are
the same algorithm over the same representation):

- words: lowercased ``[a-z]+`` runs of ``text``, words longer than
  ``max_word_chars`` (default 16) dropped — the standard trainer
  hygiene cap (crawl-scale "words" beyond that are junk: hashes,
  URL fragments, DNA strings);
- initial symbols: the word's characters joined by two spaces (no
  end-of-word marker — documented simplification; adding one is a
  representation change, not an algorithm change);
- pair selection: maximum total count, ties broken by ascending pair
  string — fully deterministic;
- symbol strings join symbols with TWO spaces and merge application
  pads with one flanking space and runs ONE literal replace:
  ``" L  R "`` -> ``" LR "``. The double separator is load-bearing:
  a match consumes only ONE of the two spaces on each side, so the
  neighbouring symbols keep their own boundaries and the replace
  scan can match again IMMEDIATELY after a merge — which makes a
  single left-to-right non-overlapping replace pass exactly the
  textbook BPE merge application (hypothesis-pinned against a
  reference scan, including the self-overlapping ``a a a a a`` +
  ``(a,a)`` case where single-space encodings skip the symbol after
  each merge and diverge). Spark's ``replace`` and DuckDB's
  ``replace`` share the scan semantics, so the form is
  engine-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from travel_data_ingestion_spark.session import truncate_lineage

_WORD_PAT = "[a-z]+"


def word_symbol_table(docs: DataFrame, max_word_chars: int = 16) -> DataFrame:
    """documents(text) -> (word, cnt, symbols): the distinct-word table
    BPE trains on, with the initial per-character symbol string."""
    words = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(_WORD_PAT), 0)
        ).alias("word")
    ).filter(F.length("word") <= max_word_chars)
    sym = F.expr(
        "array_join(transform(sequence(1, length(word)),"
        " i -> substr(word, i, 1)), '  ')"
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("symbols", sym)
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """(pair, pc): adjacent symbol pairs weighted by word count."""
    pairs = F.expr(
        "transform(sequence(1, size(split(symbols, '  ')) - 1),"
        " j -> concat(element_at(split(symbols, '  '), j), ' ',"
        "             element_at(split(symbols, '  '), j + 1)))"
    )
    return (
        words.filter(F.size(F.split("symbols", "  ")) >= 2)
        .select("cnt", F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("cnt").alias("pc"))
    )


def bpe_train_merges(
    docs: DataFrame, k: int, max_word_chars: int = 16
) -> DataFrame:
    """Learn the first ``k`` BPE merges from documents(text); returns
    (merge_rank, left_sym, right_sym, pair_count) — the merge table a
    tokenizer applies in rank order.

    Delta-update schedule (see module docstring): the full pair count
    runs once; each round's distributed work is the winner top-1 over
    the materialized pair table plus a pair-delta over only the words
    containing the winning pair. Driver traffic is one row per round.
    Exactness is unchanged by construction — integer pair counts under
    add/subtract deltas equal a from-scratch re-count (pinned by the
    lockstep-with-oracle and planted-corpus tests)."""
    spark = docs.sparkSession
    words = truncate_lineage(word_symbol_table(docs, max_word_chars))
    pc_tab = truncate_lineage(_pair_counts(words))
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, k + 1):
        top = (
            pc_tab.orderBy(F.desc("pc"), F.asc("pair")).limit(1).collect()
        )
        if not top:
            break  # no adjacent pairs left: every word fully merged
        pair, pc = top[0]["pair"], int(top[0]["pc"])
        left, right = pair.split(" ", 1)
        merges.append((rank, left, right, pc))
        pat = f" {left}  {right} "
        padded = F.concat(F.lit(" "), F.col("symbols"), F.lit(" "))
        hit = padded.contains(pat)
        changed = words.filter(hit)
        merged = changed.withColumn(
            "symbols",
            F.trim(F.replace(padded, F.lit(pat), F.lit(f" {left}{right} "))),
        )
        # the delta: changed words' pre-merge pairs leave the table,
        # their post-merge pairs enter; untouched words contribute 0
        delta = _pair_counts(changed).select(
            "pair", (-F.col("pc")).alias("pc")
        ).unionByName(_pair_counts(merged))
        pc_tab = truncate_lineage(
            pc_tab.unionByName(delta)
            .groupBy("pair")
            .agg(F.sum("pc").alias("pc"))
            .filter(F.col("pc") > 0)
        )
        words = truncate_lineage(words.filter(~hit).unionByName(merged))
    return spark.createDataFrame(
        merges,
        "merge_rank long, left_sym string, right_sym string, pair_count long",
    )


# above this many merges the chained-literal-replace expression form
# is abandoned for the Arrow tokenizer: a k-deep nested expression
# tree stops being analyzable/codegen-able around the low thousands
# (Catalyst analysis recursion, the 64 KB JVM method limit), long
# before production merge-table sizes
_EXPR_MERGE_LIMIT = 256


def _merge_scan(syms: list[str], left: str, right: str) -> list[str]:
    """Textbook BPE merge application: one left-to-right
    non-overlapping scan — the list-form twin of the double-separator
    literal replace the expression path runs (their equivalence is
    hypothesis-pinned in tests/test_bpe.py)."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_apply(docs: DataFrame, merges: list[tuple[str, str]],
              max_word_chars: int = 16,
              expr_merge_limit: int = _EXPR_MERGE_LIMIT) -> DataFrame:
    """Tokenize with a LEARNED merge table: apply ``merges`` in rank
    order (one textbook left-to-right non-overlapping scan per merge)
    to every word and count the resulting subword tokens per document
    — the inference side of ``bpe_train_merges`` (and the
    learned-vocabulary upgrade of t07's fixed-regex counting).

    ``merges`` is driver-known (a tokenizer's merge table is a small
    artifact — 32k–100k rows in production) and the operator is
    MAP-ONLY either way, but the PLAN differs by table size:

    - ``len(merges) <= expr_merge_limit``: each merge compiles into
      one nested literal ``replace`` (the trainer's double-separator
      encoding), all inside whole-stage codegen. This form does NOT
      survive production tables — a ~100k-deep nested expression tree
      fails Catalyst analysis (stack overflow in the low thousands)
      and JVM codegen (64 KB method limit) — hence the cap;
    - above the cap: an Arrow-batched ``mapInPandas`` tokenizer with
      the merge table shipped in the task closure. Word extraction
      stays JVM-side (the same ``regexp_extract_all(lower(text))``
      both paths share, so no case-mapping or regex divergence can
      creep in); Python sees only the word arrays. Per word, the
      merges that can possibly fire are prefetched by substring
      relevance — a merge (L, R) fires only where ``L+R`` occurs as a
      contiguous substring of the ORIGINAL word (symbols are always
      contiguous word substrings), so a <=``max_word_chars``-char
      word consults at most O(len^2) of the 100k rules — applied in
      global rank order, memoized per distinct word per batch. Still
      map-only; no shuffle beyond the per-doc count aggregation both
      paths end with.

    The two paths are exact twins (pinned by tests comparing them on
    the same inputs). Words over the trainer's length cap count as
    one opaque token each (they were never merge candidates); docs
    whose text has no words yield no row (explode semantics, both
    paths). ``doc_id`` is assumed unique per row — the documents-table
    contract."""
    words = F.regexp_extract_all(F.lower("text"), F.lit(_WORD_PAT), 0)

    if len(merges) <= expr_merge_limit:
        return _bpe_apply_expr(docs, words, merges, max_word_chars)
    return _bpe_apply_arrow(docs, words, merges, max_word_chars)


def _bpe_apply_expr(docs: DataFrame, words, merges, max_word_chars: int
                    ) -> DataFrame:
    def tokens_of(word_col):
        sym = F.concat(
            F.lit(" "),
            F.expr(
                "array_join(transform(sequence(1, length(w)),"
                " i -> substr(w, i, 1)), '  ')"
            ),
            F.lit(" "),
        )
        for left, right in merges:
            sym = F.replace(
                sym, F.lit(f" {left}  {right} "), F.lit(f" {left}{right} ")
            )
        return F.when(
            F.length(word_col) <= max_word_chars,
            F.size(F.split(F.trim(sym), "  ")),
        ).otherwise(F.lit(1))

    exploded = (
        docs.select("doc_id", F.explode(words).alias("w"))
    )
    return (
        exploded.select("doc_id", tokens_of(F.col("w")).alias("n"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n").cast("long").alias("n_subwords"),
        )
    )


def _bpe_apply_arrow(docs: DataFrame, words, merges, max_word_chars: int
                     ) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    # rank-keyed merge lookup by concatenated pair string: the ONLY
    # per-word-relevant key (see bpe_apply docstring). Built once on
    # the driver, shipped in the closure (a 100k-row table is a few MB).
    by_concat: dict[str, list[tuple[int, str, str]]] = {}
    for rank, (left, right) in enumerate(merges):
        by_concat.setdefault(left + right, []).append((rank, left, right))

    doc_id_type = docs.schema["doc_id"].dataType
    schema = T.StructType([
        T.StructField("doc_id", doc_id_type),
        T.StructField("n_words", T.LongType()),
        T.StructField("n_subwords", T.LongType()),
    ])

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, int] = {}

        def count_word(w: str) -> int:
            got = cache.get(w)
            if got is not None:
                return got
            if len(w) > max_word_chars:
                n = 1
            else:
                rel: list[tuple[int, str, str]] = []
                seen: set[str] = set()
                for i in range(len(w) - 1):
                    for j in range(i + 2, len(w) + 1):
                        sub = w[i:j]
                        if sub not in seen:
                            seen.add(sub)
                            rel.extend(by_concat.get(sub, ()))
                rel.sort()
                syms = list(w)
                for _rank, left, right in rel:
                    if len(syms) == 1:
                        break
                    syms = _merge_scan(syms, left, right)
                n = len(syms)
            cache[w] = n
            return n

        for pdf in it:
            ids, n_words, n_sub = [], [], []
            for doc_id, ws in zip(pdf["doc_id"], pdf["ws"]):
                if ws is None or len(ws) == 0:
                    continue  # explode semantics: no words, no row
                ids.append(doc_id)
                n_words.append(len(ws))
                n_sub.append(sum(count_word(w) for w in ws))
            yield pd.DataFrame({
                "doc_id": pd.Series(ids, dtype=pdf["doc_id"].dtype),
                "n_words": pd.Series(n_words, dtype="int64"),
                "n_subwords": pd.Series(n_sub, dtype="int64"),
            })

    return docs.select("doc_id", words.alias("ws")).mapInPandas(
        run, schema=schema
    )
