"""Corpus term-weighting and lexical ranking: TF-IDF and BM25.

The last reference-blueprint gap from SURVEY.md §7 step 7 ("text ops
(tokenize/TF-IDF)") and a first-class training-data-pipeline need:
TF-IDF keyword extraction feeds topic filtering / corpus diagnostics,
and BM25 is the standard lexical retrieval baseline next to the
embedding searches in ``operators/similarity.py``.

Scale shape (100 TB corpus, 1000 executors):

- One explode of the token array per document → ``(doc_id, term)``;
  term frequencies are a hash aggregate on that pair with map-side
  partial combine, so the shuffle carries one row per DISTINCT
  (doc, term), not one per token occurrence.
- Document frequencies ride on the TF relation as a window
  (``count(1) OVER (PARTITION BY term)`` over the already-deduped pair
  set), so every query reads its explode exactly once in one plan:
  no second corpus tokenization, no lineage cut, no job at build time.
- Corpus-wide scalars (N docs, average doc length) travel as a
  broadcast 1-row cross join — the same no-collect pattern as
  ``relational.popular_groups`` — so each query stays one lazy plan.
- BM25 filters the TF relation to the query's terms BEFORE the df
  window and every join (a handful of terms → the scored relation is
  tiny and every join after the filter broadcasts), and carries each
  document's length through the explode, so scoring a query never
  touches the full posting list of non-query terms.
- All arithmetic is built-in column expressions (JVM codegen); no
  Python in any hot path.

Everything here is exact ANSI SQL, so the DuckDB oracle checks values,
not just shapes. Ordering keys round to 6 decimals first: two terms
whose weights are mathematically equal but float-associate differently
across engines (e.g. ``2·ln(10)`` vs ``ln(100)``) must compare equal,
with the term/doc id as the final total-order tiebreak.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flight_delays_progetto_big_data_2024_spark.functions.text import (
    token_count,
    tokens,
)
from flight_delays_progetto_big_data_2024_spark.operators.relational import (
    top_k_per_group,
)
from flight_delays_progetto_big_data_2024_spark.sources.readers import (
    ensure_scan_width,
)


def term_frequencies(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(id_col, term, tf)`` — within-document term occurrence counts.

    The whitespace tokenizer is :func:`functions.text.tokens` (empty
    tokens dropped); documents with no tokens contribute no rows.
    """
    return (
        df.select(id_col, F.explode(tokens(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )


def tfidf(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(id_col, term, tf, tfidf)`` with the classic weighting
    ``tf · ln(N / df)``: terms appearing in every document weigh 0,
    corpus-rare terms weigh high. N counts ALL input documents
    (including token-less ones), as a broadcast 1-row aggregate.

    ``df`` is a window count over the TF relation, which is already
    distinct on (doc, term), so it counts documents with one explode
    and one extra shuffle (by term). count(1), not count(id_col): a
    document with a NULL id is still a document — skipping it gave
    df = 0 for a term occurring only in null-id docs, and ln(N/df)
    then dies with DIVIDE_BY_ZERO under ANSI mode."""
    n_docs = df.agg(F.count("*").alias("n_docs"))
    return (
        term_frequencies(df, id_col, text_col)
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            "tf",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("tfidf"),
        )
    )


def tfidf_topk_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF:
    ``(id_col, term, tf, tfidf, rank)``. Deterministic total order:
    rounded weight desc, then term asc."""
    weighted = tfidf(df, id_col, text_col).withColumn(
        "tfidf", F.round("tfidf", 6)
    )
    return top_k_per_group(
        weighted,
        [id_col],
        [F.col("tfidf").desc(), F.col("term").asc()],
        k,
    )


def pmi_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 5,
    k: int = 25,
) -> DataFrame:
    """Top-k term pairs by document-level PMI:
    ``(t1, t2, c12, pmi)`` with ``pmi = ln(c12·N / (c1·c2))`` over
    document co-occurrence counts (a pair co-occurs when both terms
    appear in the same document; t1 < t2 canonically; rounded to 6
    decimals, (pmi desc, t1, t2) total order).

    Scale shape: the quadratic step is the per-document pair expansion
    (self-join of the distinct-token relation on the doc id). Its cost
    is Σ_d k_d², NOT corpus², and the ``min_df`` prefilter (a window
    count by term over the same relation) lands BEFORE the self-join,
    so hapax/rare terms (the long tail of any real vocabulary) never
    enter the expansion. Both join inputs are the same filtered
    relation shuffled by doc id — one exchange, reused for both sides,
    so the corpus is exploded once. For web-scale corpora tighten
    ``min_df`` (or cap per-doc distinct terms upstream) to bound k_d.
    """
    tok = df.select(
        F.col(id_col).alias("_doc"),
        F.explode(F.array_distinct(tokens(text_col))).alias("term"),
    )
    tok_f = tok.withColumn(
        "c", F.count(F.lit(1)).over(Window.partitionBy("term"))
    ).filter(F.col("c") >= min_df)
    a = tok_f.select("_doc", F.col("term").alias("t1"), F.col("c").alias("c1"))
    b = tok_f.select("_doc", F.col("term").alias("t2"), F.col("c").alias("c2"))
    n_docs = df.agg(F.count("*").alias("n_docs"))
    return (
        a.join(b, "_doc")
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2", "c1", "c2")
        .agg(F.count("*").alias("c12"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "t1",
            "t2",
            "c12",
            F.round(
                F.log(F.col("c12") * F.col("n_docs") / (F.col("c1") * F.col("c2"))),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), F.col("t1").asc(), F.col("t2").asc())
        .limit(k)
    )


def bm25_search(
    df: DataFrame,
    query_terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 25,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 lexical retrieval: top-k documents for a bag of query
    terms — ``(id_col, bm25)``, score rounded to 6 decimals, ties
    broken by id.

    ``score(d) = Σ_t  ln(1 + (N − df + 0.5)/(df + 0.5))
                      · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``

    with ``dl`` the document's token count and ``avgdl`` its corpus
    mean. Bag semantics: a term appearing q times in the query
    contributes q·(its per-occurrence score), matching the textbook
    sum over query positions. Only documents containing at least one
    query term are candidates, and ``id_col`` is the document key.

    Plan: one tokenization carries ``dl = size(tokens)`` through the
    explode into the TF aggregate, and the term filter lands right
    after the explode, so the scored relation is O(matching docs), not
    O(corpus). df per QUERY term is a window count over that filtered
    relation — still an exact corpus-wide df, since only query-term
    rows can count toward a query term. N and avgdl come from a second,
    shuffle-free pass over the documents (token-less docs are size 0
    and still count), broadcast as one row. Documents with a NULL id
    count toward df but are never scored.
    """
    qtf = Counter(str(t) for t in query_terms)
    terms = list(qtf)
    # ensure_scan_width (round-12): both tokenizations (tf pass + corpus
    # scalars) sit before their first exchange — single-task on a
    # narrow scan (q60 1.43s -> 1.09s at sf0.1); no-op at scale
    df = ensure_scan_width(df, id_col)
    # explicit schema: an EMPTY query must mean zero candidates (an
    # empty result), not a schema-inference crash on the empty local
    # relation
    qtf_rel = F.broadcast(
        df.sparkSession.createDataFrame(
            [(t, float(c)) for t, c in qtf.items()], "term string, qtf double"
        )
    )
    stats = df.agg(
        F.count("*").alias("n_docs"),
        F.avg(token_count(text_col)).alias("avgdl"),
    )
    tf_rel = (
        df.select(id_col, tokens(text_col).alias("_toks"))
        .select(
            id_col,
            F.size("_toks").cast("double").alias("dl"),
            F.explode("_toks").alias("term"),
        )
        .filter(F.col("term").isin(terms))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .filter(F.col(id_col).isNotNull())
    )
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf_rel.join(qtf_rel, "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(F.col("qtf") * idf * tf_norm), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _mg_merge(counters: dict[str, int], batch_counts, k: int) -> dict[str, int]:
    """Merge a batch's exact counts into a Misra-Gries summary capped at
    ``k`` counters. Standard mergeable-summary step (Agarwal et al.,
    "Mergeable Summaries"): add, then subtract the (k+1)-th largest
    count from everything and drop the non-positives. Preserves the MG
    guarantee: any item whose true count in the merged stream exceeds
    (stream length)/k survives."""
    for term, cnt in batch_counts.items():
        counters[term] = counters.get(term, 0) + int(cnt)
    if len(counters) > k:
        kth = sorted(counters.values(), reverse=True)[k]
        counters = {t: c - kth for t, c in counters.items() if c > kth}
    return counters


def heavy_hitter_terms(
    docs: DataFrame,
    text_col: str = "text",
    phi: float = 0.005,
) -> DataFrame:
    """EXACT heavy hitters: every term with frequency > ``phi`` of all
    token occurrences, with its exact count — in two passes over the
    corpus, never shuffling the long-tail vocabulary.

    Pass 1 (one scan, mapInPandas): each partition emits (a) a
    Misra-Gries candidate summary with k = ceil(1/phi) counters and
    (b) its token count. The union of per-partition MG survivor sets is
    a SUPERSET of the true heavy hitters (if a term's global count
    exceeds n/k it must exceed n_p/k on some partition, where MG keeps
    it), so no true heavy hitter is lost. Pass 2: exact recount of
    candidates only — the broadcast semi-join drops the tail BEFORE the
    shuffle, so the aggregate carries at most ~k·num_partitions terms
    regardless of vocabulary size. The naive groupBy-everything plan
    shuffles the full vocabulary (billions of (term, count) partials at
    100 TB); this shape keeps the shuffle O(candidates).

    False positives cost nothing: the final filter compares exact
    counts against the exact total, so the result equals the naive
    plan's row-for-row (the DuckDB oracle states the naive form).
    """
    import math

    import pandas as pd

    k = int(math.ceil(1.0 / phi))
    toks = docs.select(F.explode(tokens(text_col)).alias("term"))

    def mg_partition(batches):
        # input is one TOKEN ARRAY per document (tokenized JVM-side):
        # Arrow moves O(docs) rows, not O(tokens) — same bytes, a
        # fraction of the per-row transfer overhead
        from collections import Counter

        counters: dict[str, int] = {}
        n_local = 0
        for pdf in batches:
            batch_counts: Counter = Counter()
            for arr in pdf["toks"]:
                if arr is None:  # null text row -> null token array
                    continue
                batch_counts.update(arr)
            n_local += sum(batch_counts.values())
            counters = _mg_merge(counters, batch_counts, k)
        yield pd.DataFrame(
            {
                "term": list(counters.keys()) + [None],
                "n_local": [0] * len(counters) + [n_local],
            }
        )

    doc_tokens = docs.select(tokens(text_col).alias("toks"))
    summary = doc_tokens.mapInPandas(mg_partition, "term string, n_local long")
    # cache: candidates and the total are both tiny projections of the
    # same pass-1 output; without it the MG scan would run twice
    summary = summary.persist()
    candidates = summary.filter(F.col("term").isNotNull()).select("term").distinct()
    total = summary.agg(F.sum("n_local").alias("__n"))

    counts = (
        toks.join(F.broadcast(candidates), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("occurrences"))
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("occurrences") > F.lit(phi) * F.col("__n"))
        .select(
            "term",
            "occurrences",
            F.round(F.col("occurrences") / F.col("__n"), 6).alias("freq"),
        )
        .orderBy(F.desc("occurrences"), "term")
    )
