"""Deduplication operators for LLM-training-data pipelines: exact,
n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.

Scale design (the whole point of these ops is the 100 TB case):

- exact dedup is a hash groupBy on the fingerprint — one shuffle keyed
  by md5, no driver state;
- exact-Jaccard pairs use an inverted-index (explode shingles → join on
  shingle → count per pair), NOT a crossJoin: pairs sharing zero
  shingles never materialize, so cost tracks shared-shingle frequency
  rather than n²;
- MinHash-LSH banding turns near-dup search into an equi-join on
  (band_index, band_hash) — the classic sub-quadratic candidate
  generator — followed by exact-Jaccard verification of candidates only;
- SimHash + pigeonhole blocking: 64-bit signature split into B blocks;
  any pair within Hamming distance < B must agree on ≥1 block, so the
  block equi-join has PERFECT recall for that radius (it's an exact
  algorithm, not an approximation);
- embedding near-dup joins on random-hyperplane sign buckets before the
  cosine check.

All signatures/hashes derive from xxhash64 with fixed seeds — fully
deterministic across runs and cluster layouts.
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flight_delays_progetto_big_data_2024_spark.functions.text import (
    SHINGLE_PREP,
    fingerprint,
    word_shingles,
)
from flight_delays_progetto_big_data_2024_spark.sources.readers import (
    ensure_scan_width,
)

#: Modulus for the MinHash permutation family. 2^31-1 (Mersenne prime):
#: products a*x stay < 2^62, inside signed-64 range — no overflow UDF
#: tricks needed to stay JVM-side.
_MINHASH_PRIME = 2_147_483_647


def _shingle_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    shingle_fn=word_shingles,
) -> DataFrame:
    """(id, shingles) with the shingle base (token array / normalized
    text) materialized in its OWN projection via SHINGLE_PREP: embedded
    inside the higher-order shingling lambda, the interpreted evaluator
    recomputes the base once per array element — measured as ~half of
    q32's runtime. Unknown shingle fns fall back to the embedded form.

    Width guard (sources.readers.ensure_scan_width): a small parquet
    scan arrives as ONE partition, which would run all normalization/
    shingling single-threaded before the first exchange; at real corpus
    scale the scan is already wide and nothing happens.
    """
    df = ensure_scan_width(df, id_col)
    prep = SHINGLE_PREP.get(shingle_fn)
    if prep is None:
        return df.select(
            F.col(id_col).alias("id"), shingle_fn(text_col, k).alias("shingles")
        )
    base_fn, of_fn = prep
    return df.select(F.col(id_col).alias("id"), base_fn(text_col).alias("b")).select(
        "id", of_fn(F.col("b"), k).alias("shingles")
    )


def _postings(docs: DataFrame) -> DataFrame:
    """Inverted-index rows ``(id, n, s)`` of an ``(id, shingles)``
    relation: one row per shingle of each document, ``n`` its set size,
    ``s`` the shingle's xxhash64. Shingle sets are distinct per doc
    (array_distinct), so ``n`` riding on every posting lets a pair
    aggregate recover both set sizes with its group keys.

    The index joins on the 64-bit hash, not the string: ~10× less
    shuffle volume and cheaper key compares; xxhash64 collisions are
    ~n²/2⁶⁴ — immaterial below ~10⁸ distinct shingles per join scope.

    NULL is not a document, so a NULL id is never a side of a reported
    pair: its postings are dropped here. (Not in _shingle_docs: other
    readers of that relation group NULL ids.)"""
    return (
        docs.filter(F.col("id").isNotNull())
        .select("id", F.size("shingles").alias("n"), F.explode("shingles").alias("s"))
        .select("id", "n", F.xxhash64("s").alias("s"))
    )


def pair_sides(
    pairs: DataFrame, per_doc: DataFrame, keys: Sequence[str] = ("id_a", "id_b")
) -> DataFrame:
    """Decorate each pair with both documents' per-document columns.
    ``per_doc``'s first column is the document id, matched against
    ``keys[0]`` and then ``keys[1]`` of ``pairs``; every other column
    of ``per_doc`` comes back twice, suffixed ``_a`` and ``_b``.

    Both joins are shuffle_hash, never broadcast. ``per_doc`` is one
    row per corpus document carrying an array or a text (shingle sets,
    fingerprint arrays, normalized text). Its static size estimate is
    the scan bytes scaled by per-type DEFAULT widths — blind to the
    ~10-100x text→k-gram-array expansion — so the planner broadcasts a
    "small" table whose real build is GBs (the Heaps-decade 50k-doc
    corpus OOMed the 8g driver exactly here), and at 100 TB a
    corpus-sized build side must hash-partition regardless of what the
    estimate says. SHJ builds per-partition tables bounded by
    corpus_bytes / shuffle_partitions."""
    doc_id, *cols = per_doc.columns
    out = pairs
    for key, sfx in zip(keys, ("_a", "_b")):
        side = per_doc.select(
            F.col(doc_id).alias(key), *[F.col(c).alias(c + sfx) for c in cols]
        )
        out = out.join(side.hint("shuffle_hash"), key)
    return out


def _verified_jaccard(
    cands: DataFrame, sets: DataFrame, threshold: float
) -> DataFrame:
    """(id_a, id_b, jaccard) for the candidate pairs whose EXACT Jaccard
    reaches ``threshold``, from ``sets``: one ``(id, sh)`` row per
    document, ``sh`` its distinct-element set array."""
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pair_sides(cands, sets)
        # try_divide: an undefined J (0/0 on empty shingle sets) must
        # not ANSI-abort the whole query on one dirty candidate
        .withColumn("jaccard", F.round(F.try_divide(inter, union), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fold: str = "ascii",
) -> DataFrame:
    """Exact dedup on normalized-text fingerprint: one row per distinct
    text with the minimum id as representative + the duplicate count.
    (``dropDuplicates`` keeps an ARBITRARY row — min-id keep is
    deterministic, which the oracle comparison requires.)

    ``fold`` selects the case-fold recall/portability trade for the
    dedup key (functions.text.FOLDS); the "ascii" default keeps every
    committed driver hash unchanged."""
    return (
        df.withColumn("text_hash", fingerprint(text_col, fold))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_copies"),
        )
    )


def keep_first(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence,
) -> DataFrame:
    """Deterministic 'keep one row per key' (order decides which):
    the row_number form of dropDuplicates.

    NULL-ordering contract: Spark's bare/``asc`` ordering puts NULLs
    FIRST, so a row with a missing order key would become the survivor
    — and ANSI/DuckDB ASC defaults to NULLS LAST, a silent engine
    divergence on dirty data. Pass ``F.col(c).asc_nulls_last()`` when
    the order column is nullable and the survivor must be a real row
    (same hazard class as cap_per_group, fixed round 5)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    shingle_fn=word_shingles,
) -> DataFrame:
    """ALL pairs with word-k-gram Jaccard ≥ threshold, computed exactly
    via an inverted shingle index (explode → self-join on shingle →
    per-pair intersection count). Exact because any pair with J > 0
    shares ≥1 shingle and is therefore enumerated.

    At 100 TB the hazard is ubiquitous shingles exploding the join;
    mitigate upstream by raising k (longer shingles are rarer) or
    filtering stop-shingles by document frequency before the join —
    both change which pairs are *candidates* but not the J ≥ t result
    for t > 0 as long as dropped shingles are counted in the union
    (they are: sizes come from the full shingle sets).
    """
    docs = _shingle_docs(
        df, id_col, text_col, k, shingle_fn
    ).persist()  # feeds the index twice + the size table: shingle once
    # the sizes join back rather than ride the postings: carried through
    # the persisted self-join they measured ~2x slower end to end on all
    # five jaccard_pairs queries timed (q32 ~4 s -> ~8 s at sf0.1)
    sizes = docs.select("id", F.size("shingles").alias("n_sh"))
    inv = _postings(docs).select("id", "s")
    a = inv.alias("a")
    b = inv.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    shingle_fn=word_shingles,
) -> DataFrame:
    """Same result as :func:`jaccard_pairs` (ALL pairs with Jaccard ≥
    threshold, exactly), via AllPairs/PPJoin prefix filtering: under a
    global rarest-first shingle order, a pair with J ≥ t MUST share a
    shingle within each side's first ``n - ceil(t·n) + 1`` shingles —
    so only those prefixes are indexed, and candidates are verified
    with exact set intersection on the full arrays.

    Use this form when the shingle-frequency distribution is heavy
    (e.g. char shingles, boilerplate-laden corpora): the plain inverted
    index joins every co-occurrence of every shingle (Θ(Σ df²) — 769M
    rows for char-5 on the sf0.1 documents), while the prefix index
    drops exactly the high-df shingles that dominate that sum. Costs
    two extra bounded shuffles (document-frequency table + per-doc
    rank); at 100 TB this is the difference between a runnable exact
    similarity join and an un-runnable one.

    Degenerate regime (measured on the synthetic sf0.1 corpus): when
    the DISTINCT-shingle vocabulary is tiny relative to postings (2k
    hashes for 1M postings — a 100-word generator vocabulary), even the
    rarest-quartile prefixes have df in the hundreds and the positional
    filter leaves ~500k candidates for 256 true pairs; wall time then
    spreads evenly across shingle/rank/join/verify (~12s) rather than
    concentrating anywhere. Real text is the GOOD case (char-5
    vocabularies in the billions, df-skewed); for genuinely tiny-vocab
    corpora prefer token-level jaccard_pairs, whose inverted index the
    small vocabulary hurts less.
    """
    docs = _shingle_docs(df, id_col, text_col, k, shingle_fn).persist()
    inv = _postings(docs)
    dfreq = inv.groupBy("s").agg(F.count("*").alias("df"))
    # prefix length uses a hair-lower threshold so pairs whose TRUE J is
    # a rounding epsilon below t (which the final rounded filter, like
    # jaccard_pairs', would admit) are still enumerated
    t_eff = max(threshold - 1e-6, 0.0)
    ranked = inv.join(dfreq, "s").withColumn(
        "rk", F.row_number().over(Window.partitionBy("id").orderBy("df", "s"))
    )
    prefix = ranked.filter(
        F.col("rk") <= F.col("n") - F.ceil(F.lit(t_eff) * F.col("n")) + 1
    ).select("id", "n", "rk", "s")
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin pruning ahead of verification. Length filter: J ≥ t bounds
    # the size ratio (t·|B| ≤ |A|). Positional filter, GROUPED form:
    # per candidate pair, total overlap O ≤ o_prefix + min(n_a - p_a,
    # n_b - p_b) where o_prefix counts prefix-prefix matches and p are
    # the LAST matched ranks — valid because ranks follow one GLOBAL
    # (df, s) order, so a common shingle preceding the last match in
    # one doc precedes it in the other too (it would have been a
    # counted prefix match); all uncounted common shingles lie in both
    # suffixes. The bound must reach α = ⌈t/(1+t)·(n_a+n_b)⌉. Grouping
    # (one aggregate) both dedups pairs and prunes far harder than the
    # single-match cap — verification cost is candidates × |array|, so
    # this aggregate is what keeps the verify join small.
    alpha = F.ceil(F.lit(t_eff / (1 + t_eff)) * (F.col("n_a") + F.col("n_b")))
    cands = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .filter(
            (F.col("a.n") >= F.ceil(F.lit(t_eff) * F.col("b.n")))
            & (F.col("b.n") >= F.ceil(F.lit(t_eff) * F.col("a.n")))
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("o_prefix"),
            F.max("a.rk").alias("p_a"),
            F.max("b.rk").alias("p_b"),
            F.first("a.n").alias("n_a"),
            F.first("b.n").alias("n_b"),
        )
        .filter(
            F.col("o_prefix")
            + F.least(F.col("n_a") - F.col("p_a"), F.col("n_b") - F.col("p_b"))
            >= alpha
        )
        .select("id_a", "id_b")
    )
    # verify on hashed shingle arrays: long compares instead of string,
    # ~4× less data through the verify joins; the hashed array keeps one
    # element per shingle, so its size is the set size and a (vanishingly
    # unlikely) in-doc hash collision can only perturb the intersection,
    # same exposure as jaccard_pairs' hash join
    hashed = docs.select(
        "id", F.transform("shingles", lambda s: F.xxhash64(s)).alias("sh")
    )
    return _verified_jaccard(cands, hashed, threshold)


def cross_corpus_containment(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    shingle_fn=word_shingles,
) -> DataFrame:
    """Decontamination check: (bench_id, corpus_id, containment) for
    every benchmark document whose shingle set is ≥ threshold CONTAINED
    in a corpus document — ``|S_bench ∩ S_corpus| / |S_bench|``.
    Containment (not Jaccard) is the right metric here: a short eval
    prompt embedded in a long training document is full contamination
    at tiny Jaccard.

    Same inverted-index shape as :func:`jaccard_pairs` but across TWO
    relations, so the join is corpus-index ⋈ bench-index on the shingle
    hash — cost tracks shared-shingle frequency, never |corpus|×|bench|.
    The benchmark side is typically thousands of docs against billions:
    Spark/AQE broadcasts the small exploded bench index and the whole
    check becomes one map-side pass over the corpus. The bench set size
    rides on its postings (as in :func:`jaccard_pairs_cross`), so
    nothing is persisted or joined back."""
    c_inv = _postings(_shingle_docs(corpus, id_col, text_col, k, shingle_fn))
    b_inv = _postings(_shingle_docs(bench, id_col, text_col, k, shingle_fn))
    common = (
        c_inv.select(F.col("id").alias("corpus_id"), "s")
        .join(
            b_inv.select(
                F.col("id").alias("bench_id"), F.col("n").alias("n_bench"), "s"
            ),
            "s",
        )
        .groupBy("bench_id", "corpus_id", "n_bench")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.withColumn(
            "containment", F.round(F.col("n_common") / F.col("n_bench"), 6)
        )
        .filter(F.col("containment") >= threshold)
        .select("bench_id", "corpus_id", "containment")
    )


def _minhash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MINHASH_PRIME), rng.randrange(0, _MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: signature split into
    ``bands`` bands of ``num_hashes//bands`` rows; pairs agreeing on any
    full band collide. Returns distinct (id_a, id_b), id_a < id_b.

    The whole pipeline is (narrow maps) + one explode + one equi-join on
    (band, band_hash): sub-quadratic, shuffle keyed by band hash."""
    docs = _shingle_docs(df, id_col, text_col, k)
    return _lsh_candidates_from_docs(docs, num_hashes, bands, seed)


def _lsh_candidates_from_docs(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """LSH banding over a prepared (id, shingles) relation."""
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    rows = num_hashes // bands
    # Signatures in ONE pass: explode shingle hashes to rows, take the
    # num_hashes permutation mins as codegen'd MIN aggregates collapsed
    # map-side. The higher-order array_min(transform(...)) form is
    # interpreted and re-walks the array once per hash — see
    # simhash_signatures for the same rewrite and the reason the
    # expressions are SQL strings. Plain explode (not explode_outer):
    # a doc with NO shingles is outside the near-dup domain — it can
    # never reach J ≥ t for t > 0. explode_outer kept such docs with
    # all-NULL minhash signatures, and the banding join then BUCKETED
    # the NULL signatures together, pairing every empty document with
    # every other empty document (wave-5 dirty-corpus finding: two
    # empty docs surfaced as a J=0/0 candidate and ANSI-aborted the
    # exact-verify division).
    hs = docs.selectExpr(
        "id",
        f"explode(transform(shingles, s -> pmod(xxhash64(s),"
        f" {_MINHASH_PRIME}))) AS h",
    )
    sigs = hs.groupBy("id").agg(
        *[
            F.expr(f"min(pmod({a} * h + {b}, {_MINHASH_PRIME})) AS m{j}")
            for j, (a, b) in enumerate(_minhash_params(num_hashes, seed))
        ]
    )
    # NB: rows stay NARROW (id, band, bh) — a first-agreeing-band filter
    # (as simhash_near_dups uses) would need the 16-int band-hash array
    # on every exploded row, inflating the join shuffle ~10×; with LSH's
    # low candidate multiplicity the distinct() is the cheaper dedup.
    band_exprs = ", ".join(
        "hash(" + ", ".join(f"m{i * rows + j}" for j in range(rows)) + ")"
        for i in range(bands)
    )
    banded = sigs.selectExpr(
        "id", f"posexplode(array({band_exprs})) AS (band, bh)"
    )
    # both self-join sides read this; persist so shingling + the 64-hash
    # signature run once over the corpus
    banded = banded.persist()
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """LSH candidates verified by EXACT Jaccard on the shingle sets —
    precision 1.0 by construction; recall governed by the banding curve
    (64 hashes / 16 bands ⇒ ~99.9% at J=0.5).

    The (id, shingles) relation feeds candidate generation AND both
    sides of the verification join — persist it so tokenization/
    shingling (the dominant per-row cost) runs once over the corpus."""
    docs = _shingle_docs(df, id_col, text_col, k).persist()
    cands = _lsh_candidates_from_docs(docs, num_hashes, bands, seed)
    sets = docs.withColumnRenamed("shingles", "sh")
    return _verified_jaccard(cands, sets, threshold)


def _simhash_from_hashes(hashes):
    """64-bit SimHash from a token-hash array: per-bit ±1 votes, sign of
    the vote total sets the bit. The 64 bit positions are unrolled in
    Python (bit masks must be literals — shift amounts can't be lambda
    variables), each an ``aggregate`` over the token-hash array.
    Entirely JVM-side expressions — no UDF. Pass ``hashes`` as a real
    column (not an inline expression): all 64 votes reference it, and a
    non-cheap multiply-referenced column survives CollapseProject, so
    the hashing runs once per row."""

    def _vote(mask: int):
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(mask)) != 0, 1
        ).otherwise(-1)

    sig = F.lit(0).cast("long")
    for j in range(64):
        # bit 63 of a signed long is the sign bit: its mask is min-long
        mask = (1 << j) if j < 63 else -(1 << 63)
        votes = F.aggregate(hashes, F.lit(0), _vote(mask))
        sig = sig.bitwiseOR(
            F.when(votes > 0, F.lit(mask)).otherwise(F.lit(0)).cast("long")
        )
    return sig


def simhash_signature(tokens_col):
    """64-bit SimHash over a token array, as a single column expression.
    Correct but SLOW in bulk: higher-order functions are interpreted
    (no whole-stage codegen), and the 64 per-bit ``aggregate`` calls
    each re-walk the token array. Use :func:`simhash_signatures` (the
    explode + codegen-agg relation form) for corpus-scale signing; keep
    this form for per-row checks and as the semantics oracle."""
    return _simhash_from_hashes(F.transform(tokens_col, lambda t: F.xxhash64(t)))


#: Engine-portable 60-bit token hash (Spark SQL form): md5 is defined
#: identically everywhere, and 15 hex chars (60 bits) always fit a
#: signed BIGINT, so DuckDB's ``('0x'||substr(md5(t),1,15))::BIGINT``
#: reproduces it bit-for-bit. Default stays xxhash64 (~2-3x faster
#: JVM-side) for the 100 TB path; use this form where an external
#: engine must replay the signature pipeline value-for-value.
PORTABLE_TOKEN_HASH_SQL = "cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint)"


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_hash_sql: str = "xxhash64(t)",
) -> DataFrame:
    """(id, sh) SimHash relation, computed in ONE pass over the token
    stream: explode token hashes to rows, take the 64 per-bit ±1 votes
    as conditional SUMs in a single hash aggregation, reassemble the
    signature from the vote signs. Identical output to
    :func:`simhash_signature` (tests cross-check), but every stage is
    whole-stage-codegen'd and the partial aggregation collapses the
    exploded rows map-side before the shuffle — at sf0.1 this is ~10×
    faster than the interpreted higher-order form, and at 100 TB it's
    the difference between one codegen'd scan and 64 interpreted
    array walks per document."""
    from flight_delays_progetto_big_data_2024_spark.functions.text import tokens

    # explode_outer keeps empty/null-token docs: their null hash row is
    # skipped by count/sum, so n=0, every bit test is null → sh = 0 —
    # exactly what the expression form yields for an empty array.
    # Per-bit ±1 vote total > 0  ⟺  2·(count of 1-bits) > token count,
    # so counting 1-bits (one shift+AND per sum) replaces the ±1 CASE —
    # ties (2·c == n) vote 0 in both forms.
    #
    # The 129 expressions are built as SQL strings, not Column-by-Column:
    # constructing them via pyspark Column operators costs ~2s of
    # driver-side py4j round-trips at ANY data size (measured), while a
    # string parses JVM-side in one call. shiftleft(1L, 63) is the
    # sign-bit mask (the min-long literal itself doesn't parse).
    # width guard (ensure_scan_width, round-12): the tokenize + explode
    # + 64 partial bit-count sums all run BEFORE the groupBy exchange —
    # on a narrow scan that whole signature pass was one task while 31
    # cores idled (measured: q34 drops ~27% with the guard; no-op on a
    # wide scan).
    hashes = ensure_scan_width(df, id_col).select(
        F.col(id_col).alias("id"), tokens(text_col).alias("toks")
    ).selectExpr(
        "id", f"explode_outer(transform(toks, t -> {token_hash_sql})) AS h"
    )
    counts = hashes.groupBy("id").agg(
        F.expr("count(h) AS n"),
        *[F.expr(f"sum(shiftrightunsigned(h, {j}) & 1) AS c{j}") for j in range(64)],
    )
    # flat 64-element array fold — a chained bitwiseOR/when tree is
    # depth-64 and makes eager analysis + codegen quadratic
    terms = ", ".join(f"if(2*c{j} > n, shiftleft(1L, {j}), 0L)" for j in range(64))
    return counts.selectExpr(
        "id", f"aggregate(array({terms}), 0L, (acc, x) -> acc | x) AS sh"
    )


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 7,
    blocks: int = 8,
    token_hash_sql: str = "xxhash64(t)",
) -> DataFrame:
    """All pairs within Hamming distance ≤ max_hamming of their 64-bit
    SimHash. Pigeonhole blocking: with ``blocks`` equal bit-blocks, any
    pair with < blocks differing bits agrees on ≥ 1 block, so joining on
    (block_idx, block_value) has perfect recall for
    max_hamming ≤ blocks-1 — this is exact, not approximate."""
    assert max_hamming < blocks, "pigeonhole guarantee needs max_hamming < blocks"
    width = 64 // blocks
    docs = simhash_signatures(df, id_col, text_col, token_hash_sql)
    mask = (1 << width) - 1
    blocked = docs.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned("sh", i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("bb"),
    ).select("id", "sh", F.col("bb.blk").alias("blk"), F.col("bb.bv").alias("bv"))
    # both self-join sides read this; persist so the signature pipeline
    # (tokenize + 64-bit votes) runs once over the corpus
    blocked = blocked.persist()
    a = blocked.alias("a")
    b = blocked.alias("b")
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    # a pair agreeing on m blocks matches in m block-buckets; instead of
    # dedup-by-shuffle (distinct over the full candidate stream), keep
    # only the row whose bucket is the FIRST agreeing block — computable
    # from the two signatures already on the row, so each pair survives
    # exactly once with zero extra shuffle
    block_eq = F.array(
        *[
            (
                F.shiftrightunsigned(F.col("a.sh"), i * width).bitwiseAND(F.lit(mask))
                == F.shiftrightunsigned(F.col("b.sh"), i * width).bitwiseAND(F.lit(mask))
            ).cast("int")
            for i in range(blocks)
        ]
    )
    first_match = F.array_position(block_eq, 1) - 1
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(F.col("a.blk") == first_match)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def winnowing_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Winnowing (Schleimer et al., SIGMOD 2003): one row per distinct
    ``(id, fingerprint)``, where fingerprints are the minima of sliding
    ``w``-windows over the k-gram hash sequence. Guarantees any shared
    substring of >= w+k-1 chars yields a shared fingerprint at ~2/(w+1)
    the density of full k-gram hashing.

    Execution: k-gram hashing stays JVM-side (md5 column expressions —
    engine-portable, so the oracle can replay it), then the sliding-min
    + per-doc dedup runs in ONE Arrow ``mapInArrow`` pass with ZERO
    shuffles — winnowing is per-document, so no row ever needs to
    leave its partition. The earlier posexplode + per-doc-window +
    global-distinct form shuffled the full k-gram sequence twice
    (~25M rows at sf0.1, 2-5x slower measured; unboundedly worse at
    100 TB where the gram sequence is ~1000x the document bytes). The
    pure array-expression form (functions.text.winnow_of) is also
    avoided deliberately: fused into downstream multi-aggregates its
    codegen unit degenerates (see verify SKILL known-hazard note).

    mapInArrow, not mapInPandas (round-10 advisor item): the carry
    columns include the int64 doc id, and Spark's Arrow→pandas input
    conversion upcasts an int64 column containing ANY null to float64
    — one NULL-id row sharing a batch with a LONG_MIN/LONG_MAX id
    either crashes the output cast ("Failed to convert doc_id float64
    to int64") or, with safe-cast off, silently wraps the id — a
    probabilistic join-key corruptor at 100 TB, dependent on partition
    placement. Carry values are replicated via Arrow ``take`` over the
    EXACT input arrays (same fix as operators/multimodal.py round 9),
    so ids — and any extra carry column type — round-trip bit-exact.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import StringType, StructField, StructType

    from flight_delays_progetto_big_data_2024_spark.functions.text import (
        kgram_hashes_of,
        normalize_text,
    )

    # normalized text materialized alone: inlined, the normalization
    # regex re-runs once per gram inside the transform lambda
    normed = docs.select(
        id_col, *extra_cols, normalize_text(text_col).alias("__nm")
    )
    # width guard (ensure_scan_width): a small parquet scan arrives as
    # ONE partition, which would serialize the hash+winnow work AND
    # leave downstream joins over the (often persisted) output
    # single-task; at real corpus scale the scan is already wide and
    # this is a no-op (no shuffle added).
    normed = ensure_scan_width(normed, id_col)
    hashed = normed.select(
        id_col, *extra_cols, kgram_hashes_of(F.col("__nm"), k).alias("__h")
    )
    carry = [id_col, *extra_cols]
    schema = StructType(
        [hashed.schema[c] for c in carry]
        + [StructField("fingerprint", StringType())]
    )

    def winnow(batches):
        from numpy.lib.stride_tricks import sliding_window_view

        for rb in batches:
            hcol = rb.column("__h")
            take_idx: list[int] = []
            fps: list[str] = []
            for i in range(rb.num_rows):
                h = hcol[i].as_py()
                if h is None:  # null text -> null gram array, drop (as
                    continue  # posexplode of null did)
                # NULL text actually arrives as [None] (md5(NULL) is
                # NULL inside the gram transform): strip null elements,
                # and a doc with no real grams has no fingerprints
                if any(x is None for x in h):
                    h = [x for x in h if x is not None]
                    if not h:
                        continue
                h = np.asarray(h, dtype=object)
                if h.size >= w:
                    mins = sliding_window_view(h, w).min(axis=1)
                else:
                    mins = h.min(keepdims=True)
                u = np.unique(mins)
                take_idx.extend([i] * len(u))
                fps.extend(u.tolist())
            # replicate carry values by Arrow take over the exact input
            # arrays: nullable int64 ids stay int64 (never via pandas)
            idx = pa.array(take_idx, type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [rb.column(c).take(idx) for c in carry]
                + [pa.array(fps, type=pa.string())],
                names=[*carry, "fingerprint"],
            )

    return hashed.mapInArrow(winnow, schema)


def jaccard_pairs_cross(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    shingle_fn=word_shingles,
) -> DataFrame:
    """Exact Jaccard pairs ACROSS two relations — the incremental-ingest
    dedup join: every (left, right) pair with word-k-gram Jaccard ≥
    threshold, where ``left`` is an incoming batch and ``right`` the
    standing corpus. Same inverted-index decomposition as
    :func:`jaccard_pairs` (explode → equi-join on the 64-bit shingle
    hash → per-pair intersection count), but the join is left-postings ⋈
    right-postings with no id ordering — relation membership already
    de-duplicates the pair space.

    At 100 TB the standing corpus's postings list is the big side and
    the incoming batch's is small: Spark broadcasts the batch postings
    under AQE, so a nightly ingest never re-shuffles the corpus. For
    repeated ingests, persist the corpus postings (id, shingle-hash)
    once as a bucketed table and this join is shuffle-free.

    Returns (id_left, id_right, jaccard).
    """
    # the set sizes ride on the postings: no size table to join back and
    # no persist whose cached blocks would leak across a long-lived session
    il = _postings(_shingle_docs(left, id_col, text_col, k, shingle_fn))
    ir = _postings(_shingle_docs(right, id_col, text_col, k, shingle_fn))
    common = (
        il.select(F.col("id").alias("id_left"), F.col("n").alias("n_l"), "s")
        .join(
            ir.select(F.col("id").alias("id_right"), F.col("n").alias("n_r"), "s"),
            "s",
        )
        .groupBy("id_left", "id_right", "n_l", "n_r")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_l") + F.col("n_r") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_left", "id_right", "jaccard")
    )
