"""Term-statistics relevance operators: TF-IDF, term search, n-gram LM
familiarity.

Training-data curation scores documents by how *retrievable* and how
*statistically typical* they are: TF-IDF surfaces each document's
characteristic terms, term search ranks documents against a query, and the
bigram familiarity score is the integer-exact skeleton of an n-gram
language-model quality filter (a doc whose word bigrams are globally rare
is gibberish or boilerplate; one whose bigrams are all corpus-typical is
fluent).  The reference has no text layer (its engine is media-only); these
extend SURVEY.md §2.7's relational layer.

Scale design:
- Tokenization and n-gram construction are JVM higher-order functions over
  the tokens array — narrow, codegen'd, no Python.
- ``(doc, term)`` term frequencies are one hash-shuffle with map-side
  partial aggregation; document frequencies come from a WINDOW count over
  that same relation partitioned by term (one more exchange, no
  self-join — the window-sum model ``bigram_familiarity`` pioneered).
- No self-joins anywhere: every corpus-statistics term (df, global bigram
  count) is a window aggregate over the already-shuffled relation.
- Cross-engine exactness: every emitted number is an integer or the result
  of a SINGLE IEEE double operation on integer operands (``tf/df``), so
  oracle hash equality does not depend on transcendental-function or
  summation-order parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from scanner_spark.functions import text


def _toks(col: Column) -> Column:
    """Non-empty whitespace tokens (the corpus-wide tokenizer contract —
    identical to text.tokens modulo empty-string guards)."""
    return F.filter(text.tokens(col), lambda x: x != F.lit(""))


def term_freqs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc, term, tf) — one shuffle, map-side combined."""
    return (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(_toks(F.col(text_col))).alias("term"),
        )
        .groupBy("doc", "term")
        .agg(F.count("*").alias("tf"))
    )


def tfidf_topk(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf-idf rank.

    The score is ``tf / df`` (term frequency over document frequency) — the
    idf factor ``1/df`` is monotone in the classic ``ln(N/df)``, so the
    RANKING is textbook tf-idf while the score stays a single exact IEEE
    division (integer tf, integer df), bit-equal in any engine.  Ties break
    on term text, so output is fully deterministic.

    Round-13 plan: document frequency is a WINDOW count over the (doc,
    term) relation partitioned by term, not a separate aggregate joined
    back — the identical window-sum-model transformation
    ``bigram_familiarity`` shipped in round 12 (``global_n`` below),
    applied one function up.  The aggregate + self-join shape re-shuffled
    the full (doc, term) relation against a vocabulary computed FROM it
    (two exchanges + two sorts of the same relation for the sort-merge
    join); one hash exchange on term + a per-partition pass computes the
    identical ``df_count`` with strictly fewer passes at any scale
    (measured sf10: 37.8 s -> see BASELINE.md round-13 chain)."""
    tf = term_freqs(df, text_col, id_col)
    wt = Window.partitionBy("term")
    scored = tf.withColumn("df_count", F.count(F.lit(1)).over(wt)).withColumn(
        "score", F.col("tf").cast("double") / F.col("df_count")
    )
    w = Window.partitionBy("doc").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc", "term", "tf", "df_count", "score", "rank")
    )


def search_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rank documents against a bag-of-terms query.

    Score = (#distinct query terms matched, total occurrences), doc id as
    the final tiebreak — integer-exact retrieval.  The term filter runs
    BEFORE the first aggregation, so only rows for query terms are ever
    shuffled (at 100 TB the shuffle is |matching postings|, not |corpus
    tokens|); top-k is a TakeOrdered, never a global sort."""
    terms = [t.lower() for t in query_terms]
    hits = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(_toks(F.col(text_col))).alias("term"),
        )
        .filter(F.col("term").isin(terms))
        .groupBy("doc", "term")
        .agg(F.count("*").alias("tf"))
        .groupBy("doc")
        .agg(
            F.count("*").alias("matched"),
            F.sum("tf").alias("tf_sum"),
        )
    )
    return (
        hits.orderBy(
            F.col("matched").desc(), F.col("tf_sum").desc(), F.col("doc").asc()
        )
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(
                    F.col("matched").desc(),
                    F.col("tf_sum").desc(),
                    F.col("doc").asc(),
                )
            ),
        )
    )


def bigram_familiarity(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Integer-exact n-gram LM familiarity: for each document, the sum of
    corpus-wide frequencies of its word bigrams plus its bigram count.

    ``fam_total / n_bigrams`` is the doc's average bigram frequency — the
    additive-smoothing-free skeleton of an n-gram LM score (log-prob sums
    need transcendental parity; frequency sums are integers and hash-equal
    everywhere).  Low = atypical/gibberish, high = corpus-fluent.

    Round-12 plan (fourth iteration, each measured at scale):
    - r7 hashed the CONCATENATED bigram string per bigram — md5 over
      ~2x the corpus text bytes plus a string concat per bigram.
    - r11's first attempt run-length-encoded sorted hashed bigrams
      in-row; the higher-order-function lambdas are INTERPRETED (no
      whole-stage codegen), and that lost to the codegen hash aggregate
      at scale (sf3 +63%% measured) despite deleting a shuffle.
    - r11 shipped: hash each TOKEN once (one transform), zip_with the
      (ha, hb) pair structs, each stage behind its own 1-element-explode
      Generate barrier — 47-53 s at sf10.
    - Current (r12, the fused tokenizer-to-pair generator): ONE barrier
      Generate produces the hashed-token array directly —
      ``transform``'s single array input evaluates once, so the
      intermediate tokens barrier was redundant — and the pair
      construction is ``arrays_zip`` over two slices instead of a
      ``zip_with`` lambda: arrays_zip is a plain codegen expression
      (no lambda), so only the per-token h60 transform remains on the
      interpreted HOF path.  Measured (.bench_out/lm_variants_r12*):
      sf0.1 1.76→1.17 s, sf3 26.9→21.1 s, sf10 47.2→38.6 s vs the
      DuckDB twin's 26.7 s — same three-exchange shape, smaller
      constant.
    The oracle mirrors the per-token hash and the pair identity
    bit-for-bit; collisions are those of h60 itself (2^60 space).  The
    model term ``global_n`` comes from a WINDOW sum over (ha, hb)
    instead of a separate aggregate + self-join: every row of one
    bigram is colocated by a single hash shuffle and the per-partition
    sort replaces the sort-merge join's two shuffles + two sorts of the
    same relation (measured 7%% faster at sf10 and strictly fewer
    passes at scale); no persist is needed because the relation is
    consumed once.  The hashed array crosses a 1-element-explode
    Generate barrier so the two slices see an ATTRIBUTE (the
    evaluate-once trap ``streaming.dedup.banded_minhash_rows``
    documents)."""
    from scanner_spark.functions.hashing import h60

    hashed = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.array(F.transform(_toks(F.col(text_col)), h60))
        ).alias("th"),
    )
    th = F.col("th")
    n1 = F.greatest(F.size(th) - 1, F.lit(0))
    pairs = F.arrays_zip(
        F.slice(th, F.lit(1), n1).alias("ha"),
        F.slice(th, F.lit(2), n1).alias("hb"),
    )
    bg = (
        hashed.select("doc", F.explode(pairs).alias("p"))
        .groupBy("doc", F.col("p.ha").alias("ha"), F.col("p.hb").alias("hb"))
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("ha", "hb")
    return (
        bg.withColumn("global_n", F.sum("n").over(w))
        .groupBy("doc")
        .agg(
            F.sum(F.col("n") * F.col("global_n")).alias("fam_total"),
            F.sum("n").alias("n_bigrams"),
        )
    )
