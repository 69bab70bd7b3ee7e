"""Deduplication operators for training-data pipelines.

Four families, exact → approximate, each with a documented scale path:

* **Exact** — group by a normalized-text fingerprint (md5). One shuffle.
* **N-gram Jaccard** — exact pairwise similarity via a shingle self-join.
  Correct but O(pairs-sharing-a-shingle); the small-corpus baseline and
  the verifier for the approximate methods.
* **MinHash + LSH** — k min-hashes per doc (one groupBy with k aggregate
  expressions), banded into buckets; only same-bucket docs become
  candidate pairs. The 100 TB path: cost is linear in corpus + bucket
  collisions, never all-pairs.
* **SimHash** — 16-bit sign-sum fingerprint; equal fingerprints (or small
  hamming distance) are near-dup candidates.

Determinism note: every hash is md5-based (no engine-specific hash
functions), and min-hashing uses the *lexicographic* order of md5 hex
strings — any total order works for MinHash, and string order is portable
across engines (the DuckDB oracle reproduces it verbatim).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from slow_tortoise_spark.memo import remembered
from slow_tortoise_spark.operators.cachectl import (
    free,
    keep,
    scoped,
    tracked_cache,
    tracked_local_checkpoint,
)
from slow_tortoise_spark.operators.text import (
    fan_out as _fan_out,
    fingerprint,
    tokens_col,
)


# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from an ALREADY-MATERIALIZED token-array
    column.  ``toks`` must be an attribute reference (a projected
    column), not an inline tokenizer expression: higher-order-function
    lambdas are interpreted, so an expression captured from outside the
    lambda re-evaluates per ELEMENT — an inline tokenizer would re-split
    the text once per shingle (measured 4-6x on the n-gram passes).

    Docs with fewer than ``n`` tokens yield an empty array.  NB: the
    guard must be a ``when``, not ``greatest(count, 0)`` — Spark's
    ``sequence(1, 0)`` is the DESCENDING ``[1, 0]``, not empty, which
    would feed ``slice`` a zero start and throw on short docs.
    """
    count = F.size(toks) - F.lit(n - 1)
    idx = F.when(count >= 1, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))


def doc_shingles(
    df: DataFrame, text_col: str = "text", n: int = 3, distinct: bool = True
) -> DataFrame:
    """(doc_id, shingle) pairs, de-duplicated per doc by default.

    ``distinct=False`` skips the dedup shuffle for consumers whose
    aggregate is multiset-invariant (MinHash: min over duplicates equals
    min over the set) — set semantics (Jaccard sizes/intersections) must
    keep the default.
    """
    # Generated SQL rather than a Column-operator chain: the tokenizer +
    # shingle expressions cost ~60-100 ms of py4j round trips per query
    # (re)construction (profiled r14) and this runs on every bench
    # iteration of every shingle consumer.  Expressions are identical to
    # tokens_col/shingles_from_tokens (incl. the empty-array guard for
    # docs shorter than n — Spark's sequence(1, 0) is the DESCENDING
    # [1, 0], not empty, and would feed slice a zero start).
    tokd = _fan_out(df.select("doc_id", text_col)).selectExpr(
        "doc_id",
        f"filter(split(trim(lower(`{text_col}`)), r'\\s+'), x -> x != '')"
        " AS _toks",
    )
    sh_expr = (
        f"transform(CASE WHEN size(_toks) - {n - 1} >= 1"
        f" THEN sequence(1, size(_toks) - {n - 1})"
        " ELSE CAST(array() AS array<int>) END,"
        f" i -> array_join(slice(_toks, i, {n}), ' '))"
    )
    out = tokd.selectExpr("doc_id", f"explode({sh_expr}) AS shingle")
    return out.distinct() if distinct else out


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of documents with identical normalized text.

    Returns (fingerprint, doc_ids sorted, dup_count) for groups of ≥ 2.
    Representative selection for drop-dedup = min(doc_id) per group.

    Scale note: this DIAGNOSTIC op materializes each group's full id
    list in one aggregation buffer — a 10^8-duplicated doc means a
    10^8-element array on one reducer.  The production drop path
    (``drop_exact_duplicates``) never builds the lists and is fully
    skew-safe; reach for it first at corpus scale.
    """
    fp = fingerprint(df, text_col)
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
            F.count("*").alias("dup_count"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("dup_count") >= 2)
    )


def drop_exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep one representative (min doc_id) per identical-text group.

    Skew shape: the representative is found by a PARTIALLY-AGGREGATED
    ``groupBy(fingerprint).min(doc_id)`` — a document duplicated 10^8
    times corpus-wide collapses inside every map task — and the keeper
    set joins back on the COMPOSITE (fingerprint, doc_id) key, which is
    unique per row and therefore unskewable.  The previous
    ``row_number() over partitionBy(fingerprint)`` shape pinned a hot
    group's entire row set to one task that AQE cannot split.
    """
    fp = fingerprint(df, text_col)
    keepers = fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id")
    )
    return fp.join(keepers, ["fingerprint", "doc_id"]).drop("fingerprint")


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (pairwise baseline / verifier)
# ---------------------------------------------------------------------------


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """All document pairs with shingle-set Jaccard ≥ threshold (exact).

    Plain shingle self-join → per-pair intersection counts → size join.
    Fastest when the shingle vocabulary is dense (many docs share most
    shingles, so prefix pruning can't discard much — true of this repo's
    synthetic corpus). For sparse real-world vocabularies use
    ``jaccard_pairs_prefix``, which prunes the join to per-doc prefixes
    and scales to corpora where this variant's pair blow-up is quadratic;
    ``jaccard_pairs_auto`` prices both plans and dispatches.
    """
    return _jaccard_naive_from_shingles(
        tracked_cache(doc_shingles(df, text_col, n)), threshold
    )


def _jaccard_naive_from_shingles(sh: DataFrame, threshold: float) -> DataFrame:
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common")
                / (F.col("sa.n_shingles") + F.col("sb.n_shingles") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    hashed_ids: bool = False,
) -> DataFrame:
    """Exact Jaccard pairs via PPJoin-style prefix filtering.

    Prefix-filter theorem: two sets with Jaccard ≥ t must share an
    element within each other's first ⌊(1−t)·|A|⌋+1 elements under ANY
    common total order — so only those prefixes are self-joined to form
    candidates, and the full shingle self-join (whose pair blow-up is
    quadratic in per-shingle document frequency) never happens.

    The canonical order is ascending global document frequency (the
    classic PPJoin rarest-first refinement; ties broken by shingle so
    the order is total) and the candidate join applies both published
    PPJoin filters — the length filter and the positional filter — see
    ``_jaccard_prefix_from_shingles`` for the cost analysis.  The exact
    rescore is a JVM-side ``array_intersect`` on per-doc sorted shingle
    arrays (no second pass over exploded shingles).

    Results are identical to ``jaccard_pairs`` (pytest asserts equality).
    ``hashed_ids=True`` substitutes verified-injective 8-byte hash ids
    for the shingle strings (see :func:`_ordered_shingle_arrays`) — the
    caller must have proven injectivity; the priced ``jaccard_pairs_auto``
    dispatcher checks it exactly and sets this automatically.
    """
    return _jaccard_prefix_from_shingles(
        doc_shingles(df, text_col, n), threshold, hashed_ids=hashed_ids)


def _doc_shingle_sets(sh: DataFrame) -> DataFrame:
    """Per-doc sorted distinct shingle arrays + sizes."""
    return (
        sh.groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("shingle")).alias("shset"))
        .withColumn("n_shingles", F.size("shset"))
    )


#: ceiling (bytes, measured payload estimate) under which the priced
#: dispatchers hint the per-doc shingle-array frame broadcast into the
#: rescore attach joins.  Well under the driver/executor headroom and
#: Spark's 8 GB broadcast cap; above it AQE keeps choosing (guide §3.1
#: — hint only what you have MEASURED to be small, never by size
#: estimate: Catalyst's estimate for the post-aggregation docsets frame
#: is wildly high, so it plans SortMergeJoin and sorts every candidate
#: row twice — measured 10.5 s → 4.45 s at sf1 on the jaccard rescore
#: when the 23 MB frame is hinted).
_DOCSET_BROADCAST_MAX_BYTES = 128 * 1024 * 1024


def _rescore_pairs(
    cand: DataFrame, docsets: DataFrame, threshold: float,
    broadcast_docsets: bool = False,
) -> DataFrame:
    """Exact Jaccard for the given (doc_a, doc_b) pairs via a JVM-side
    ``array_intersect`` on the per-doc shingle arrays — cost linear in
    the pair count, never all-pairs.  No broadcast hint on the candidate
    set: it scales with corpus similarity, so AQE decides (broadcast
    when small, shuffled hash join when not).  ``broadcast_docsets``
    (set by the priced dispatchers when the measured docsets payload is
    under :data:`_DOCSET_BROADCAST_MAX_BYTES`) hints the array side
    broadcast so the candidate stream is never shuffled or sorted for
    the attach."""
    hint = F.broadcast if broadcast_docsets else (lambda d: d)
    da = hint(docsets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shset").alias("_sa"),
        F.col("n_shingles").alias("_na"),
    ))
    db = hint(docsets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shset").alias("_sb"),
        F.col("n_shingles").alias("_nb"),
    ))
    # explode(array(struct(...))) is a Generate barrier (same device as
    # verify_pairs_edit_distance): the threshold filter would otherwise
    # be pushed into the join CONDITION, where the jaccard expression's
    # three array_intersect references get no subexpression elimination
    # — the linear-time set intersection is the whole rescore cost, so
    # it must run exactly once per candidate.
    n_common_once = F.explode(
        F.array(
            F.struct(
                F.size(F.array_intersect("_sa", "_sb")).alias("nc")
            )
        )
    )
    nc = F.col("_e.nc")
    denom = F.col("_na") + F.col("_nb") - nc
    # Guard the empty∩empty case (denominator 0 → NaN, and NaN >= t is
    # TRUE in Spark): unreachable via LSH candidates (shingle-less docs
    # emit no signatures) but verify_candidate_pairs is a public API that
    # accepts arbitrary explicit pairs, so score them 0.0 instead.
    jaccard = F.when(denom > 0, nc / denom).otherwise(F.lit(0.0))
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select("doc_a", "doc_b", "_na", "_nb", n_common_once.alias("_e"))
        .select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _ordered_shingle_arrays(sh: DataFrame, hashed: bool = False) -> DataFrame:
    """Per-doc shingle arrays sorted rarest-first (ascending global
    document frequency, ties by shingle) plus the set size.  ``sh``
    must be per-doc DISTINCT (doc_shingles' default), so the array IS
    the shingle set: the exact rescores intersect these arrays directly
    (element order is irrelevant to ``array_intersect``), which is why
    the prefix tiers need no separate lex-sorted docsets pass.

    ``hashed=True`` replaces each shingle string by ``xxhash64(shingle)``
    — callers may only set it after PROVING the hash injective on this
    corpus' vocabulary (the priced dispatchers check it exactly in the
    same stats job, see :func:`_priced_pair_stats`).  Under a verified
    bijection every downstream quantity is unchanged (equi-join hits,
    positions, intersection counts), while the candidate join keys and
    the rescored arrays become fixed-width longs instead of n-gram
    strings: narrower exchanges (guide §2.3) and a cheaper per-pair
    hash-set intersect (measured 2× on the sf1 tier body).  The total
    order becomes (df, hash) instead of (df, shingle) — a different but
    equally valid consistent order (the prefix theorem needs only
    consistency; rarest-first is the cost heuristic and df stays the
    primary key), so the candidate SET can differ while the exact
    rescore keeps results identical."""
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    keyed = sh.join(dfreq, "shingle")
    elem = F.xxhash64("shingle") if hashed else F.col("shingle")
    return (
        keyed.select("doc_id", "_df", elem.alias("_k"))
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("_df", "_k"))).alias(
                "_oset"
            )
        )
        .select(
            "doc_id",
            F.col("_oset._k").alias("_osh"),
            F.size("_oset").alias("n_shingles"),
        )
    )


def _jaccard_prefix_from_shingles(
    sh: DataFrame, threshold: float, docset_bytes: int | None = None,
    hashed_ids: bool = False,
) -> DataFrame:
    """Prefix-filter (PPJoin-style) candidate generation + exact rescore.

    The prefix theorem holds for ANY consistent global token order, but
    the ORDER DECIDES THE COST: each doc's prefix is its first
    ⌊(1-t)·n⌋+1 tokens under the order, and candidates are every doc
    pair sharing a prefix token — so prefixes must hold each doc's
    RAREST shingles.  An earlier version sliced the lexicographically
    sorted shingle array; common shingles (shared sentence openings,
    boilerplate n-grams) then landed in prefixes and the candidate
    self-join degenerated toward Σ df² over those hot shingles —
    invisible at 5 k docs, a quadratic blow-up at 50 k (found by the
    round-8 10× scale bench, where this query wedged for >10 min).
    Ordering by ascending global document frequency (ties by shingle,
    so the order is total and identical for every doc) restores the
    published candidate bound.  The join also applies the PPJoin length
    filter — J(A,B) ≥ t requires min(|A|,|B|) ≥ t·max(|A|,|B|) — which
    prunes cross-size candidates before the exchange.

    The join's third conjunct is the PPJoin POSITIONAL filter.  J ≥ t
    needs overlap o = |A∩B| ≥ α := t·(|A|+|B|)/(1+t).  For a candidate
    row generated by shared prefix token s at 1-based sorted positions
    (i, j), every common token of the pair that is ≥ s in the global
    order fits in the tails, so o ≤ 1 + min(|A|−i, |B|−j) WHENEVER s is
    the pair's FIRST common token.  Filtering every generated row by
    that bound is sound: a true pair's first-common-token row always
    passes (its bound ≥ o ≥ α, and the prefix theorem guarantees the
    row exists), while rows from later shared tokens are redundant
    duplicates of the same pair.  α is compared with a 1e-9 slack so
    float rounding of t/(1+t) can only ever KEEP a boundary candidate,
    never drop one (o and the bound are integers; α may be exactly
    integral, e.g. t=0.5, |A|=|B|=3 → α=2).  Measured at the 10× bench
    corpus (50 k docs, t=0.7): candidate rows 14.2 M → 5.2 M, distinct
    candidate pairs 10.4 M → 3.2 M, full-tier wall 22.2 s → 8.9 s with
    the 250,519-pair result identical — the rescore's array_intersect
    per candidate is the tier's dominant cost, so pruning candidates
    is worth the two int position columns carried through the
    exchange.
    """
    sh = tracked_cache(sh)  # consumed by dfreq and the ordered build
    # ordered is read three times per action (prefix source + both
    # rescore sides — sh is per-doc DISTINCT, so the frequency-ordered
    # array IS the shingle set and array_intersect on it replaces the
    # separate lex-sorted collect_set docsets pass the tier used to
    # build: one fewer full aggregation over the shingle cache).
    ordered = tracked_cache(_ordered_shingle_arrays(sh, hashed_ids))
    # +1e-9 BEFORE the floor: the prefix bound ⌊(1−t)·n⌋+1 is derived
    # in exact arithmetic, but (1−t) rounds DOWN in binary for e.g.
    # t=0.9, so (1−t)·n lands at 0.999… where the exact value is an
    # integer and floor() loses a whole prefix slot — measured live: at
    # t=0.9 a true J=9/10 boundary pair (|A|=10, |B|=9, |A\B|=1, the
    # odd shingle globally rarest) vanished because the prefix held 1
    # token instead of 2.  The slack can only LENGTHEN the prefix (more
    # candidates, same exact rescore), never shorten it.
    prefix_len = (
        F.floor(F.lit(1 - threshold) * F.col("n_shingles") + F.lit(1e-9)) + 1
    ).cast("int")
    prefix = ordered.select(
        "doc_id",
        F.col("n_shingles").alias("_n"),
        F.posexplode(F.slice("_osh", F.lit(1), prefix_len)).alias(
            "_p", "shingle"
        ),
    )
    # positional-filter bound (docstring): with 0-based slice position
    # _p (1-based i = _p+1), 1 + min(n_a−i, n_b−j) = min(n_a−_p_a,
    # n_b−_p_b); keep the row iff that ≥ α − 1e-9.
    alpha = F.lit(threshold / (1.0 + threshold)) * (
        F.col("a._n") + F.col("b._n")
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # −1e-9: same float-boundary hazard as prefix_len — t·max
            # can round UP past an exact-boundary pair (verified live:
            # t=0.9, |A|=27 ⊂ |B|=30 → 0.9·30 = 27.000000000000004
            # dropped the true J=27/30 pair); the slack only admits
            # extra candidates.
            & (
                F.least("a._n", "b._n")
                >= F.lit(threshold) * F.greatest("a._n", "b._n")
                - F.lit(1e-9)
            )
            & (
                F.least(
                    F.col("a._n") - F.col("a._p"),
                    F.col("b._n") - F.col("b._p"),
                )
                >= alpha - F.lit(1e-9)
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    docsets = ordered.select(
        "doc_id", F.col("_osh").alias("shset"), "n_shingles"
    )
    return _rescore_pairs(
        cand, docsets, threshold,
        broadcast_docsets=(docset_bytes is not None
                           and docset_bytes <= _DOCSET_BROADCAST_MAX_BYTES),
    )


def verify_candidate_pairs(
    df: DataFrame,
    pairs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Exact-Jaccard verification of an explicit (doc_a, doc_b) candidate
    list (e.g. MinHash-LSH output): shingle arrays are built only for
    docs appearing in a pair, and only the listed pairs are scored —
    cost is linear in |pairs|, independent of how similar the candidate
    docs are to EACH OTHER beyond the listed pairs."""
    ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = doc_shingles(df.join(ids, "doc_id"), text_col, n)
    return _rescore_pairs(pairs, _doc_shingle_sets(sh), threshold)


def verify_pairs_edit_distance(
    df: DataFrame,
    pairs: DataFrame,
    max_ratio: float = 0.2,
    text_col: str = "text",
) -> DataFrame:
    """Character-level verification of candidate pairs: normalized edit
    distance ``levenshtein(a, b) / max(len)`` — the strictest practical
    near-dup metric, O(len²) per pair, so it belongs strictly AFTER a
    bucketed candidate generator (LSH / simhash), never on raw pairs of
    the whole corpus.

    Shape: two equi-joins attach the pair texts (each a hash join on
    doc_id; only docs appearing in pairs are scanned twice), then the
    native ``levenshtein`` expression scores JVM-side — once per pair
    (referenced, not re-emitted, for the ratio), behind a length-gap
    prune (``|len_a − len_b|`` lower-bounds the distance, so pairs that
    cannot pass never pay the DP), and BANDED: the threshold argument
    caps the DP at ``ceil(max_ratio·maxlen)+1``, O(k·len) instead of
    O(len²).  The band is a safe overestimate of the keep cutoff, so
    every pair that can pass gets its exact distance and the final
    float ratio filter is unchanged — pairs the band abandons (−1)
    were already above the cutoff.  Returns (doc_a, doc_b,
    edit_distance, edit_ratio) for pairs at or under ``max_ratio``.
    """
    texts = df.select("doc_id", F.col(text_col).alias("_t"))
    a = texts.select(F.col("doc_id").alias("doc_a"), F.col("_t").alias("_ta"))
    b = texts.select(F.col("doc_id").alias("doc_b"), F.col("_t").alias("_tb"))
    la, lb = F.length("_ta"), F.length("_tb")
    maxlen = F.greatest(la, lb, F.lit(1))
    r = float(max_ratio)
    dist = F.expr(
        f"levenshtein(_ta, _tb, cast(ceil({r!r} * "
        "greatest(length(_ta), length(_tb), 1)) as int) + 1)"
    )
    # The explode(array(struct(...))) wrapper is a deliberate Generate
    # barrier: a bare withColumn+filter gets pushed into the JOIN
    # CONDITION by Catalyst, which re-evaluates the levenshtein once per
    # filter reference (join conditions get no subexpression
    # elimination — observed 3 evaluations per pair in the plan).
    # Predicates cannot push through a generator's output, so the DP
    # runs exactly once and the filters read the materialized value.
    # Catalyst broadcasts the id-only pair list and streams the text
    # sides — the right build choice at scale (candidate lists are small
    # next to the corpus), so the DP stage inherits the corpus scan's
    # partitioning.
    scored = (
        pairs.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
        # +1e-9: the same derived-float-bound hazard as the jaccard
        # prefix tier (fixed r14) — the length-gap bound must only ever
        # ADMIT extra pairs into the exact DP, because the oracle
        # replays the ratio filter on ALL pairs with no pre-filter; a
        # half-ulp-down product at an exact-integer boundary would
        # otherwise drop a ratio-passing pair.  The banded DP threshold
        # below is already safe (its +1 absorbs the one-ulp cases).
        .filter(F.abs(la - lb) <= F.lit(r) * maxlen + F.lit(1e-9))
        .select(
            "doc_a",
            "doc_b",
            maxlen.alias("_ml"),
            F.explode(F.array(F.struct(dist.alias("d")))).alias("_e"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("_e.d").alias("edit_distance"),
            (F.col("_e.d").cast("double") / F.col("_ml")).alias(
                "edit_ratio"
            ),
        )
        .filter(F.col("edit_distance") >= 0)
    )
    return scored.filter(F.col("edit_ratio") <= max_ratio)


def _priced_pair_stats(
    df: DataFrame, sh: DataFrame, text_col: str, n: int
) -> tuple[int, int, bool]:
    """(Σ df², docset payload bytes, xxhash64-injective) for a cached
    shingle frame — the shared pricing pass behind
    ``jaccard_pairs_auto`` and ``containment_pairs_auto`` (one gate,
    one remembered price; previously duplicated verbatim in both
    dispatchers).

    Σ df² prices the naive self-join's intermediate exactly; the byte
    estimate (Σ shingle-string bytes + per-element overhead) prices the
    prefix tier's per-doc array frame, deciding whether the rescore
    attach may hint it broadcast (guide §3.1 — a MEASURED size, not
    Catalyst's post-aggregation estimate).  ``hash_ok`` is an EXACT
    check that ``xxhash64`` is injective on this corpus' shingle
    vocabulary (distinct hash count == vocabulary size, one extra
    aggregate over the same grouped frame — no sort, no collect): only
    then may the prefix tiers substitute 8-byte hash ids for the n-gram
    strings, which keeps every count bijection-identical while halving
    the exchange width and the per-pair intersect cost.  A collision
    (probability ~|vocab|²/2⁶⁵) simply falls back to the string path.
    Remembered per input plan while the stat signature of every input
    file holds (:mod:`slow_tortoise_spark.memo`): statistics only,
    never results — every run still computes pairs from parquet (the
    same role a catalog's table statistics play for a cost-based
    optimizer).
    """
    def price() -> tuple[int, int, bool]:
        row = (
            sh.groupBy("shingle")
            .agg(
                F.count("*").alias("df"),
                F.sum(F.length("shingle")).alias("_b"),
            )
            .agg(
                F.sum(F.col("df") * F.col("df")).alias("pair_rows"),
                F.sum("df").alias("sh_rows"),
                F.sum("_b").alias("sh_bytes"),
                F.count("*").alias("vocab"),
                F.count_distinct(F.xxhash64("shingle")).alias("hashes"),
            )
            .first()
        )
        pair_rows = row["pair_rows"] or 0
        # UnsafeArrayData layout: string bytes + ~16 B/element slot+padding
        docset_bytes = int((row["sh_bytes"] or 0) + 16 * (row["sh_rows"] or 0))
        hash_ok = bool(row["vocab"] == row["hashes"])
        return pair_rows, docset_bytes, hash_ok

    return remembered(
        df.sparkSession, ("pair_price", df.semanticHash(), text_col, n),
        price, df.inputFiles())


def jaccard_pairs_auto(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    naive_budget: int = 50_000_000,
) -> DataFrame:
    """Cost-based exact Jaccard: price both plans, run the winner.

    The naive self-join materializes Σ_s df(s)² intermediate rows (df =
    documents containing shingle s) — unbeatable on dense vocabularies
    where the per-pair work is a cheap count, quadratic death on skewed
    ones.  The PPJoin prefix plan caps the blow-up but pays an array
    rescore per candidate.  One aggregate over the shared (doc, shingle)
    pairs prices the naive plan exactly; if it exceeds ``naive_budget``
    rows the prefix plan runs instead — the same decide-from-observed-
    statistics move AQE makes for join strategies, applied one level up.
    The gate is what makes the naive tier scale-SAFE rather than
    scale-lucky: it can only run when its intermediate is bounded with
    high confidence.  Both plans return identical results (pytest asserts
    it).

    The price is computed EXACTLY from the same cached (doc, shingle)
    frame the winning plan consumes: both tiers need the full shingle
    set anyway, so pricing is one groupBy+sum over data that is
    materialized regardless — no separate sampling scan of the raw
    corpus, and no estimation error in the gate.  (An earlier version
    priced from a 1-in-8 hash-stride doc sample; that spent an extra
    corpus scan to avoid a shingle pass we were about to pay for
    anyway.)
    """
    # The price is remembered (freshness rule and staleness caveat in
    # slow_tortoise_spark.memo).
    # Cache on EVERY path, not just the pricing pass: the winning plan is
    # itself multi-consumer (the naive tier reads the shingle frame three
    # times — sizes agg + both self-join sides — and the prefix tier's
    # docsets twice), so a remembered price still wants the cache.
    # Re-caching an identical logical plan is a CacheManager no-op (one
    # WARN line), so repeated calls share one materialization instead of
    # a remembered-price build silently depending on the first build's
    # still-registered cache.
    sh = tracked_cache(doc_shingles(df, text_col, n))
    pair_rows, docset_bytes, hash_ok = _priced_pair_stats(
        df, sh, text_col, n)
    if pair_rows <= naive_budget:
        return _jaccard_naive_from_shingles(sh, threshold)
    return _jaccard_prefix_from_shingles(
        sh, threshold, docset_bytes, hashed_ids=hash_ok)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature(
    df: DataFrame, k: int = 8, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """k-permutation MinHash signature per document.

    Hash family member i is the 16-hex-char (64-bit) half i%2 of
    md5((i//2) || ':' || shingle) — an md5's 32 hex chars carry two
    64-bit members, so ⌈k/2⌉ md5 calls per shingle occurrence instead
    of k (md5 dominates the per-row cost; measured ~15% off the
    signature stage at sf0.1).  64-bit halves of distinct salted
    digests behave as independent uniform hashes for MinHash purposes,
    and the min is the plain lexicographic minimum over hex — portable
    to any SQL engine (the oracle replays the same substr).  One
    explode + one groupBy with k aggregates — a single shuffle
    regardless of k (the per-doc shingle dedup shuffle is skipped: min
    over a multiset equals min over its set).
    """
    sh = doc_shingles(df, text_col, n, distinct=False)
    # k generated-SQL aggregates (one parse each) instead of k Column
    # chains (~5 py4j round trips each) — the expression trees are
    # unchanged (the old shared digest Column also expanded to one md5
    # subtree per member; codegen CSEs the pair within the aggregate).
    #
    # min(string) plans as SortAggregate (immutable agg buffer).  An
    # r14 attempt replaced it with min over a sign-flipped bigint image
    # of each hex half (order-isomorphic, HashAggregate-able, hex
    # reconstructed post-agg) — value-identical and plan-cleaner, but
    # MEASURED SLOWER: the 16 conv() calls per shingle row cost more
    # than the saved per-task sort at every probed scale (sf1 ×10:
    # 1.36 s string-min vs 1.63 s bigint-min, min-of-4 noop, both
    # orders).  The sort is per-map-task and bounded by the scan split
    # size, and partial min compacts to one row per doc before the
    # shuffle in both plans, so SortAggregate carries no spill risk
    # here.  Kept the string min (guide §1: measure, then decide).
    aggs = [
        F.expr(
            f"min(substr(md5(concat('{i // 2}:', shingle)),"
            f" {1 + 16 * (i % 2)}, 16)) AS mh{i}"
        )
        for i in range(k)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_candidates(
    df: DataFrame,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    Signature of k hashes split into ``bands`` bands of k/bands rows; docs
    sharing any band hash become a candidate pair. Returns distinct
    (doc_a < doc_b). Verify candidates with jaccard_pairs semantics on the
    candidate subset when exact scores are needed.
    """
    if k % bands:
        raise ValueError("k must be divisible by bands")
    sig = minhash_signature(df, k, n, text_col)
    # cache(): the self-join consumes this frame on BOTH sides and AQE
    # does not ReuseExchange across it (verified in the executed plan),
    # so without the cache the whole shingle+signature pipeline — the
    # expensive part — runs twice. The cached frame is #docs × bands
    # rows of (id, hash), tiny next to the corpus at any scale.
    stacked = tracked_cache(sig.select(
        "doc_id", F.explode(minhash_band_keys(k, bands)).alias("bucket")
    ))
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"


def _nibble(h: Column, j: int) -> Column:
    """Value 0..15 of hex char j (1-based) of a hex digest — portable
    (expressible as strpos/substr in any SQL engine)."""
    return F.instr(F.lit(_HEX), F.substring(h, j, 1)) - F.lit(1)


#: packed-counter LUT: nibble value v → one BIGINT carrying v's four bits
#: as +1 increments in four 15-bit count fields (bit b of v lands in
#: field b at shift 15·b).  Summing these per doc accumulates all four
#: bit-counts of a nibble in ONE aggregate buffer.  Field width 15 (not
#: 16) keeps the SUM itself inside signed-64 range well past the cap:
#: worst case n·(2^45+2^30+2^15+1) stays < 2^63 until n ≈ 262 000, so a
#: doc over the 32 767 cap reaches the friendly assert_true instead of
#: an opaque ANSI ARITHMETIC_OVERFLOW mid-aggregation (with 16-bit
#: fields the sum overflowed at 32 768 votes — BELOW the old cap).
_NIBBLE_PACK = [sum(((v >> b) & 1) << (15 * b) for b in range(4))
                for v in range(16)]

#: 15-bit count fields overflow past this many tokens in one document —
#: the packed aggregation path guards it with assert_true; pass
#: ``packed=False`` for (rare) larger-than-this documents.
_PACK_FIELD_CAP = (1 << 15) - 1


def _simhash_bits(
    df: DataFrame, text_col: str, n_bits: int, packed: bool = True
) -> DataFrame:
    """n-bit SimHash over whitespace tokens (md5-derived bits).

    Bit i comes from hex nibble i//4 of md5(token), bit i%4 — an md5
    digest's 32 hex chars supply up to 128 bits. Per document: count
    tokens voting 1 on each bit, then pack majority bits into
    ``simhash``. Exploded tokens + one groupBy — one shuffle regardless
    of width.

    ``packed=True`` (default) aggregates four bit-counts per nibble in
    ONE BIGINT of 15-bit count fields (value looked up from a literal
    16-entry table): 64 bits cost 16 SUMs + a COUNT instead of 64
    conditional SUMs — measured ~1.5× faster at 64-bit, identical
    results (pytest parity-pinned). Field width caps documents at
    32 767 tokens, guarded loudly via ``assert_true`` (the 15-bit width
    is what keeps the SUM itself in signed-64 range up to ~262 k tokens
    so the guard is actually reachable); ``packed=False`` keeps the
    uncapped per-bit form for giant documents. Majority is identical
    either way: vote-sum 2c−n > 0 ⟺ 2c > n.

    Packing note (64-bit): bit 63 is the sign bit of a BIGINT, and
    ``1 << 63`` overflows signed 64-bit in ANSI engines (DuckDB raises) —
    so bit 63 is added as the literal ``-2^63``, which yields the same
    two's-complement bit pattern and replays verbatim in SQL.
    """
    if not 1 <= n_bits <= 64:
        raise ValueError("n_bits must be in 1..64 (one BIGINT fingerprint)")
    toks = _fan_out(df.select("doc_id", text_col)).select(
        "doc_id",
        F.explode(tokens_col(F.lower(F.col(text_col)))).alias("tok"),
    )
    n_nib = (n_bits + 3) // 4

    def _weight(i: int) -> Column:
        w = -(2**63) if i == 63 else 2**i
        return F.lit(w).cast("long")

    if packed:
        # Every expression below is built as ONE generated-SQL string per
        # projection (selectExpr / F.expr) instead of a Python-side
        # Column-operator tree: classic PySpark pays roughly one py4j
        # round trip per Column operator, and the old ~300-operator tree
        # cost ~0.8 s of DRIVER time per bench iteration at 64 bits
        # (profiled r14) before any task ran.  The SQL strings assemble
        # in microseconds and parse JVM-side in one call; the resulting
        # expressions are semantically identical (pytest packed/unpacked
        # parity + the unchanged per-bit SQL oracle pin the values).
        hashed = toks.selectExpr("doc_id", "md5(tok) AS h")
        # Nibble extraction via 32-bit hex chunks: one conv() turns 8 hex
        # chars into a bigint exactly (< 2^32 — conv is unsigned-64
        # internally, so 8 chars can never overflow), then each nibble is
        # a shift+mask.  This replaces the old per-nibble substr+instr
        # string probe (16 haystack scans per token) with 2 convs + 16
        # integer ops — and each 4-bit nibble value spreads into the four
        # 15-bit count fields ARITHMETICALLY: bit b of x must land at
        # shift 15·b, so multiplying by Σ 2^(14b) places copy b of x at
        # shift 14b (copies are 4 bits wide and 14 apart — disjoint, no
        # carries) putting bit b at 14b+b = 15b, and the mask Σ 2^(15b)
        # keeps exactly those bits.  Identical to the old 16-entry
        # _NIBBLE_PACK lookup (kept for the docstring contract + tests).
        n_chunks = (n_nib + 7) // 8
        spread_mul = sum(1 << (14 * b) for b in range(4))
        spread_mask = sum(1 << (15 * b) for b in range(4))
        chunk_exprs = [
            f"cast(conv(substr(h, {1 + 8 * c}, 8), 16, 10) AS bigint) AS v{c}"
            for c in range(n_chunks)
        ]
        chunked = hashed.selectExpr("doc_id", *chunk_exprs)
        p_exprs = []
        for j in range(n_nib):
            c, k = divmod(j, 8)  # chunk, hex-char index inside the chunk
            shift = 4 * (7 - k)  # char 1 of a chunk is its high nibble
            p_exprs.append(
                f"(((shiftright(v{c}, {shift}) & 15) * {spread_mul}L)"
                f" & {spread_mask}L) AS p{j}"
            )
        packed_cols = chunked.selectExpr("doc_id", *p_exprs)
        sums = packed_cols.groupBy("doc_id").agg(
            *[F.expr(f"sum(p{j}) AS s{j}") for j in range(n_nib)],
            F.count("*").alias("n"),
        )
        guard_sql = (
            f"assert_true(n <= {_PACK_FIELD_CAP}, "
            "'simhash packed-counter overflow: document exceeds "
            f"{_PACK_FIELD_CAP} tokens — use packed=False')"
        )
        # Majority per field via a SWAR carry-bit compare instead of 64
        # per-bit ``when`` terms: for a 15-bit count c and threshold
        # t = n DIV 2, ``2c > n  ⟺  c > t  ⟺`` bit 15 of
        # ``c + (2^15 − 1 − t)`` is set.  Even fields (0, 2) and odd
        # fields (1, 3) are masked apart so each sum has a free carry
        # bit (worst case c + 32767 − t ≤ 2^16 − 2 spans 16 bits; the
        # neighbour field's 15 bits are masked to zero, so spans never
        # collide).  This form exists for the DRIVER, not the executors:
        # the 64-term chain cost ~1.8 s of Catalyst analysis/optimization
        # per query (measured; executors saw only ~0.7 s of real work) —
        # the SWAR tree is ~4× smaller and plans in ~0.4 s.  Values are
        # bit-identical (pytest parity + the unchanged per-bit SQL
        # oracle); bit 63 lands via shiftleft into the sign bit, the
        # same two's-complement pattern as the −2^63 literal.
        mask_even = 0x7FFF | (0x7FFF << 30)
        mask_odd = (0x7FFF << 15) | (0x7FFF << 45)
        add_even = f"((32767L - shiftright(n, 1)) * {1 + (1 << 30)}L)"
        add_odd = f"((32767L - shiftright(n, 1)) * {(1 << 15) + (1 << 45)}L)"
        groups = []
        for j in range(n_nib):
            y_even = f"((s{j} & {mask_even}L) + _ae)"
            y_odd = f"((s{j} & {mask_odd}L) + _ao)"
            nib = (
                f"((shiftright({y_even}, 15) & 1)"
                f" + ((shiftright({y_odd}, 30) & 1) * 2)"
                f" + ((shiftright({y_even}, 45) & 1) * 4)"
                f" + ((shiftright({y_odd}, 60) & 1) * 8))"
            )
            group_bits = min(4, n_bits - 4 * j)
            if group_bits < 4:  # partial top group (n_bits % 4 != 0)
                nib = f"({nib} & {(1 << group_bits) - 1})"
            groups.append(f"shiftleft(cast({nib} AS bigint), {4 * j})")
        out_sql = " | ".join(groups)
        # _ae/_ao are projected once and referenced 2·n_nib times each, so
        # CollapseProject keeps the projection (multi-reference non-cheap
        # alias) and the add terms evaluate once per doc, as before.
        return sums.selectExpr(
            "doc_id", "n", f"{add_even} AS _ae", f"{add_odd} AS _ao",
            *[f"s{j}" for j in range(n_nib)],
        ).selectExpr(
            "doc_id",
            f"cast(CASE WHEN ({guard_sql}) IS NULL THEN ({out_sql}) END"
            " AS bigint) AS simhash",
        )

    h = F.md5(F.col("tok"))
    votes = [
        F.sum(
            F.when(F.shiftright(_nibble(h, 1 + i // 4), i % 4).bitwiseAND(1) == 1,
                   1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(n_bits)
    ]
    sums = toks.groupBy("doc_id").agg(*votes)
    packed_col = None
    for i in range(n_bits):
        bit = F.when(F.col(f"v{i}") > 0, _weight(i)).otherwise(
            F.lit(0).cast("long")
        )
        packed_col = bit if packed_col is None else packed_col + bit
    return sums.select("doc_id", packed_col.cast("long").alias("simhash"))


def minhash_band_keys(k: int, bands: int) -> Column:
    """Array of banded bucket keys ("b:md5(mh..|mh..)") over a signature
    frame's ``mh0..mh{k-1}`` columns — THE single definition of the
    bucket-key format: batch LSH candidates and the persisted
    incremental index must agree on it byte-for-byte or probes silently
    return empty."""
    rows = k // bands
    return F.array(*[
        F.concat_ws(
            ":",
            F.lit(str(b)),
            F.md5(F.concat_ws(
                "|", *[F.col(f"mh{b * rows + r}") for r in range(rows)]
            )),
        )
        for b in range(bands)
    ])


def build_dedup_index(
    corpus: DataFrame,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Compact dedup index of an existing corpus: one row per document
    with its exact-text fingerprint, k-element MinHash signature, and
    banded LSH bucket keys — everything :func:`incremental_dedup` needs
    to admit NEW documents without re-reading the corpus text.

    One shingle pass + one groupBy (the signature aggregate); the
    fingerprint joins in from a plain projection.  Persist the result
    (e.g. parquet bucketed by doc_id, or the exploded (bucket, doc_id)
    form pre-partitioned by bucket) and APPEND admitted batches to it —
    index maintenance is the same computation over the new batch.

    Returns (doc_id, fp, mh0..mh{k-1}, buckets array<string>).
    """
    if k % bands:
        raise ValueError("k must be divisible by bands")
    sig = minhash_signature(corpus, k, n, text_col)
    fp = fingerprint(
        corpus.select("doc_id", text_col), text_col, "fp"
    ).select("doc_id", "fp")
    # Docs shorter than the shingle width have no signature row: their
    # bucket list must be EMPTY, not md5('')-constant — concat_ws skips
    # nulls, so without the guard every shingle-less doc lands in one
    # shared bucket and the incremental probe becomes a skew bomb.
    return fp.join(sig, "doc_id", "left").select(
        "doc_id", "fp",
        *[f"mh{i}" for i in range(k)],
        F.when(
            F.col("mh0").isNotNull(), minhash_band_keys(k, bands)
        ).otherwise(F.array().cast("array<string>")).alias("buckets"),
    )


def incremental_dedup(
    new_docs: DataFrame,
    index: DataFrame,
    threshold: float = 0.5,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Admit only new documents that are neither exact nor near
    duplicates of an ALREADY-INDEXED corpus — the ingest-time dedup an
    append-only 100 TB pipeline runs per batch, with cost proportional
    to the BATCH (plus equi-join probes of the index), never to the
    corpus.

    Tiers, mirroring the batch dedup family:

    * **exact** — fingerprint equi-join against the index (one probe).
    * **near** — banded-LSH bucket equi-join proposes (new, old)
      candidates; similarity is then ESTIMATED as the fraction of
      agreeing MinHash components (an unbiased estimator of Jaccard —
      the standard trick that lets the index answer similarity without
      storing text; with k components the estimate is exact-in-
      expectation and the variance argues for k ≥ 8 at tight
      thresholds).  New docs whose best candidate agreement ≥
      ``threshold`` are dropped.

    Both probes are equi-joins on keys the index already carries, so a
    bucket/fp-partitioned index makes them shuffle-free on the index
    side.  Returns the surviving rows of ``new_docs``.
    """
    if k % bands:
        raise ValueError("k must be divisible by bands")
    # cached: the batch index feeds BOTH probe tiers (exact fp join and
    # the exploded bucket side) — uncached, the shingle+signature pass
    # over the batch would execute twice (the jaccard_pairs_auto lesson)
    new_idx = tracked_cache(build_dedup_index(new_docs, k, bands, n, text_col))
    exact_hit = new_idx.join(
        index.select(F.col("fp").alias("fp")).distinct(), "fp", "inner"
    ).select("doc_id")

    nb = new_idx.select(
        F.col("doc_id").alias("new_id"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(k)],
        F.explode("buckets").alias("bucket"),
    )
    ob = index.select(
        F.col("doc_id").alias("old_id"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(k)],
        F.explode("buckets").alias("bucket"),
    )
    agree = None
    for i in range(k):
        t = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        agree = t if agree is None else agree + t
    near_hit = (
        nb.join(ob, "bucket")
        .select("new_id", (agree / F.lit(float(k))).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
        .select(F.col("new_id").alias("doc_id"))
    )
    doomed = exact_hit.unionByName(near_hit).distinct()
    return new_docs.join(doomed, "doc_id", "left_anti")


def simhash16(df: DataFrame, text_col: str = "text") -> DataFrame:
    """16-bit SimHash fingerprint (verifier tier; see ``simhash64``)."""
    return _simhash_bits(df, text_col, 16)


def simhash64(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash fingerprint — the corpus-scale tier.

    16 bits is too narrow for banded near-dup search on a large corpus:
    with max_hamming=2 the pigeonhole bands are 5–6 bits (32–64 distinct
    values), so band buckets hold ~n/64 docs each and the candidate join
    degenerates toward all-pairs. At 64 bits the bands are 21–22 bits
    (2M+ values) and bucket sizes stay near-constant as the corpus grows
    (Manku et al.'s web-scale setting).
    """
    return _simhash_bits(df, text_col, 64)


def simhash_duplicates(
    df: DataFrame, text_col: str = "text", n_bits: int = 64
) -> DataFrame:
    """Docs sharing an identical simhash fingerprint (near-dup buckets)."""
    sh = _simhash_bits(df, text_col, n_bits)
    return (
        sh.groupBy("simhash")
        .agg(
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
            F.count("*").alias("bucket_size"),
        )
        .filter(F.col("bucket_size") >= 2)
    )


def simhash_band_widths(n_bits: int, max_hamming: int) -> list[int]:
    """Bit widths of the ``max_hamming + 1`` pigeonhole bands.

    Bucket-value cardinality per band is 2^width — the quantity that
    decides whether the band equi-join scales (width 21–22 at 64 bits
    vs 5–6 at 16 bits for a hamming budget of 2)."""
    n_bands = max_hamming + 1
    return [n_bits // n_bands + (1 if i < n_bits % n_bands else 0)
            for i in range(n_bands)]


def simhash_near_duplicates(
    df: DataFrame,
    max_hamming: int = 2,
    text_col: str = "text",
    n_bits: int = 64,
) -> DataFrame:
    """Doc pairs whose simhashes differ in ≤ ``max_hamming`` bits.

    Pigeonhole banding (Manku et al.'s web-dedup trick): split the hash
    into ``max_hamming + 1`` bands — any pair within the hamming budget
    must agree EXACTLY on at least one band, so candidates come from
    equi-joins on band values (never an all-pairs comparison) and are
    verified with ``bit_count(xor) ≤ k``.  Cost: (k+1) band buckets per
    doc, join traffic proportional to band collisions.

    Default width is 64 bits: with max_hamming=2 the bands are 21–22 bits
    wide (2M+ distinct values), so band buckets stay near-singleton as
    the corpus grows. ``n_bits=16`` (the verifier tier) is exact but its
    5–6-bit bands degenerate toward all-pairs at corpus scale — keep it
    for small-corpus cross-checks only.
    """
    widths = simhash_band_widths(n_bits, max_hamming)
    sh = _simhash_bits(df, text_col, n_bits)
    bands = []
    off = 0
    for i, w in enumerate(widths):
        bands.append(
            F.concat_ws(
                ":",
                F.lit(str(i)),
                F.shiftrightunsigned("simhash", off)
                .bitwiseAND((1 << w) - 1 if w < 64 else -1)
                .cast("string"),
            ).alias(f"b{i}")
        )
        off += w
    # cache(): both sides of the band self-join read this frame and AQE
    # does not ReuseExchange across it — uncached, the whole simhash
    # computation (the expensive part) runs twice. (k+1) rows per doc.
    stacked = tracked_cache(sh.select(
        "doc_id", "simhash", F.explode(F.array(*bands)).alias("band")
    ))
    a, b = stacked.alias("a"), stacked.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("_ha"),
            F.col("b.simhash").alias("_hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Asymmetric near-dup detection: pairs where shingle-containment
    |A∩B| / |A| ≥ threshold — catches a SHORT doc embedded in a longer
    one, which symmetric Jaccard misses (the quote/excerpt/boilerplate
    case: J = |∩|/|∪| shrinks as the long side grows, containment
    doesn't).

    Returns (doc_a, doc_b, containment) where doc_a is the CONTAINED
    side (both directions are scored; a ⊂ b and b ⊂ a emit separate
    rows).  Same plan skeleton as the naive Jaccard tier — shingle
    equi-join, per-pair intersection count, size join — so the same
    Σ df² blow-up caveat applies; use ``containment_pairs_prefix`` (or
    the cost-gated ``containment_pairs_auto``) at corpus scale.  Like
    ``jaccard_pairs``, the shingle frame is cache()d because the plan
    references it three times within one action; the cached partitions
    stay resident for the session (``spark.catalog.clearCache()``
    reclaims them).
    """
    return _containment_naive_from_shingles(
        tracked_cache(doc_shingles(df, text_col, n)), threshold
    )


def _containment_naive_from_shingles(
    sh: DataFrame, threshold: float
) -> DataFrame:
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_shingles").alias("_na"))
    return (
        inter.join(sa, "doc_a")
        .select(
            "doc_a", "doc_b",
            (F.col("n_common") / F.col("_na")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def containment_pairs_prefix(
    df: DataFrame,
    threshold: float = 0.9,
    n: int = 3,
    text_col: str = "text",
    hashed_ids: bool = False,
) -> DataFrame:
    """Containment pairs via an asymmetric prefix filter — the corpus-
    scale plan (identical results to :func:`containment_pairs`, pytest
    asserts it).

    Soundness of the three candidate bounds (all carry the jaccard
    tier's 1e-9 safe-direction slack — float products round past
    exact-integer boundaries both ways):

    * **A-prefix × B-full**: o = |A∩B| ≥ t·|A| ⟹ |A\\B| ≤ (1−t)·|A| <
      ⌊(1−t)·|A|⌋+1 = prefix(A), so the CONTAINED side's rarest-first
      prefix must intersect B and an equi-join of A-prefixes against
      B's FULL ordered shingles finds every true pair.  B gets no
      prefix — a container can hold A's shingles anywhere; that
      asymmetry is what distinguishes this from the jaccard tier's
      both-sides prefixes.
    * **Length filter**: o ≤ |B| and o ≥ t·|A| ⟹ |B| ≥ t·|A|.
    * **Positional filter**: for the pair's FIRST common token at
      1-based positions (i, j), o ≤ 1 + min(|A|−i, |B|−j); that row is
      in the join (the first common token lies within A's prefix) and
      passes whenever the pair is true, so filtering every generated
      row is sound — later shared tokens only produce redundant rows
      for the same pair.

    Measured at the 10× corpus (50 k docs + excerpt salt shape,
    t=0.9): the naive tier's Σ df² intermediate is ~2× the jaccard
    self-join's (the ``!=`` join emits both directions) — this plan
    replaces it with the bounded candidate join + per-candidate exact
    ``array_intersect`` rescore.
    """
    # caching is owned by the helper (matching the jaccard tier —
    # tracked_cache on an identical plan is a CacheManager no-op, but
    # the double wrap was inconsistent; r14 ADVICE)
    return _containment_prefix_from_shingles(
        doc_shingles(df, text_col, n), threshold, hashed_ids=hashed_ids
    )


def _containment_prefix_from_shingles(
    sh: DataFrame, threshold: float, docset_bytes: int | None = None,
    hashed_ids: bool = False,
) -> DataFrame:
    sh = tracked_cache(sh)
    ordered = tracked_cache(_ordered_shingle_arrays(sh, hashed_ids))
    prefix_len = (
        F.floor(F.lit(1 - threshold) * F.col("n_shingles") + F.lit(1e-9)) + 1
    ).cast("int")
    a_pref = ordered.select(
        "doc_id",
        F.col("n_shingles").alias("_n"),
        F.posexplode(F.slice("_osh", F.lit(1), prefix_len)).alias(
            "_p", "shingle"
        ),
    )
    b_full = ordered.select(
        "doc_id",
        F.col("n_shingles").alias("_n"),
        F.posexplode("_osh").alias("_p", "shingle"),
    )
    # required overlap: o ≥ t·|A| (A = the contained side)
    req = F.lit(threshold) * F.col("a._n") - F.lit(1e-9)
    cand = (
        a_pref.alias("a")
        .join(
            b_full.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.col("b._n") >= req)
            & (
                F.least(
                    F.col("a._n") - F.col("a._p"),
                    F.col("b._n") - F.col("b._p"),
                )
                >= req
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # broadcast hint iff the dispatcher MEASURED the array frame small
    # (guide §3.1): otherwise Catalyst's post-agg estimate plans SMJ and
    # sorts every candidate row twice for the attach (see
    # _DOCSET_BROADCAST_MAX_BYTES).
    hint = (
        F.broadcast
        if docset_bytes is not None
        and docset_bytes <= _DOCSET_BROADCAST_MAX_BYTES
        else (lambda d: d)
    )
    da = hint(ordered.select(
        F.col("doc_id").alias("doc_a"),
        F.col("_osh").alias("_sa"),
        F.col("n_shingles").alias("_na"),
    ))
    db = hint(ordered.select(
        F.col("doc_id").alias("doc_b"), F.col("_osh").alias("_sb")
    ))
    # Generate barrier (same device as _rescore_pairs): the threshold
    # filter must not push the array_intersect into the join condition.
    nc_once = F.explode(
        F.array(
            F.struct(F.size(F.array_intersect("_sa", "_sb")).alias("nc"))
        )
    )
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select("doc_a", "doc_b", "_na", nc_once.alias("_e"))
        .select(
            "doc_a",
            "doc_b",
            (F.col("_e.nc") / F.col("_na")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def containment_pairs_auto(
    df: DataFrame,
    threshold: float = 0.9,
    n: int = 3,
    text_col: str = "text",
    naive_budget: int = 50_000_000,
) -> DataFrame:
    """Cost-based containment: the same measured gate as
    :func:`jaccard_pairs_auto` (the priced quantity — the naive
    equi-join's Σ df² intermediate — is a property of the shingle
    frame, not of the similarity measure; the ``!=`` join emits ~2×
    the ``<`` join's rows, conservatively absorbed by the shared
    budget).  Both plans return identical results (pytest asserts it).
    """
    sh = tracked_cache(doc_shingles(df, text_col, n))
    pair_rows, docset_bytes, hash_ok = _priced_pair_stats(
        df, sh, text_col, n)
    if pair_rows <= naive_budget:
        return _containment_naive_from_shingles(sh, threshold)
    return _containment_prefix_from_shingles(
        sh, threshold, docset_bytes, hashed_ids=hash_ok)


# ---------------------------------------------------------------------------
# Connected components over near-dup pairs (cluster formation)
# ---------------------------------------------------------------------------


def _star_components(
    pairs: DataFrame, id_a: str, id_b: str, max_iters: int
) -> DataFrame:
    """Large-star/small-star connected components (the two-step
    alternating-star scheme from the MapReduce CC literature): each round
    rewires every node's larger neighbors (large-star) and then its
    smaller neighbors (small-star) to the neighborhood minimum, halving
    the effective component depth — O(log n) rounds on pathological
    chains where min-label propagation needs O(n).

    Each round is two groupBy-min + join passes over frames the size of
    the EDGE set; ``localCheckpoint`` truncates lineage per round.
    Converges when the small-star output equals its input, at which point
    every edge is (node, component-min).
    """
    edges = tracked_local_checkpoint(
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
            F.least(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    for _ in range(max_iters):
        # Large-star: for every node, connect its LARGER neighbors to the
        # min of its closed neighborhood m = min(N(u) ∪ {u}).
        both = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = both.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            both.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # Small-star over the large-star output (edges directed big→small):
        # connect each node and its smaller neighbors to their min.
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = tracked_local_checkpoint(
            large.join(mins2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        changed = (
            small.unionByName(edges).distinct().count() - edges.count()
            if small.count() == edges.count()
            else 1
        )
        # this round's eager checkpoint and the convergence counts were
        # the last consumers of the previous round — free its blocks
        # now, keeping live checkpoint storage O(1) in rounds
        free(edges)
        edges = small
        if changed == 0:
            return keep(edges).select(
                F.col("u").alias("doc_id"), F.col("v").alias("component")
            ).unionByName(
                edges.select("v").distinct().select(
                    F.col("v").alias("doc_id"), F.col("v").alias("component")
                )
            ).distinct()
    raise RuntimeError(
        f"star connected_components did not converge in {max_iters} "
        f"iterations; raise max_iters"
    )


@scoped
def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iters: int = 50,
    algorithm: str = "label_prop",
) -> DataFrame:
    """(doc_id, component) for every node of the pair graph; component =
    the smallest doc_id reachable through the pairs (transitive).

    ``algorithm="label_prop"`` (default) is O(diameter) rounds — right
    for the shallow star/chain graphs near-dup detection produces.
    ``algorithm="star"`` is the large-star/small-star scheme — O(log n)
    rounds, the published fix for pathologically deep chains.

    The greedy per-pair drop policy misses star shapes: with verified
    pairs (1,3) and (2,3) it drops only 3 — docs 1 and 2 both survive
    although they transitively share a near-duplicate.  Clustering first
    and keeping one representative per component closes that hole.

    Algorithm: min-label propagation — labels start as own id; each
    iteration every node takes the min of its own and its neighbors'
    labels, until a fixpoint (converges in O(graph diameter) iterations;
    near-dup graphs are shallow — stars and short chains — so this
    terminates in 2–4 rounds in practice).
    Each iteration is two shuffles (neighbor-min groupBy +
    label join) over FRAMES THE SIZE OF THE PAIR GRAPH — the corpus
    itself is never touched — and ``localCheckpoint`` truncates lineage
    so plans stay O(1) across iterations.  The fixpoint check is an
    exact count of changed labels (one action per iteration — the
    nature of iterative algorithms on Spark).
    """
    if algorithm == "star":
        return _star_components(pairs, id_a, id_b, max_iters)
    if algorithm != "label_prop":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = tracked_cache(
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
    )
    labels = tracked_local_checkpoint(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    converged = False
    for _ in range(max_iters):
        nbr = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("label").alias("_nl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("_nl").alias("nbr_label"))
        )
        new_labels = tracked_local_checkpoint(
            labels.join(nbr, labels["id"] == nbr["src"], "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        # the eager round checkpoint and the changed-count join were
        # the last consumers of the previous labels — free them now
        free(labels)
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # Silently returning a partial closure would hand dedup several
        # "representatives" from one transitive cluster — exactly the
        # hole this operator exists to close. Diameter > max_iters means
        # pathologically chained near-dups; fail loudly, let the caller
        # raise the budget (or switch to a large-star/small-star scheme).
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            f"iterations (graph diameter exceeds the budget); raise "
            f"max_iters"
        )
    return keep(labels).select(
        F.col("id").alias("doc_id"), F.col("label").alias("component")
    )


def drop_by_components(
    docs: DataFrame, pairs: DataFrame, algorithm: str = "label_prop"
) -> DataFrame:
    """Keep one representative (the component-min doc_id) per near-dup
    cluster; docs not in any pair pass through untouched."""
    comp = connected_components(pairs, algorithm=algorithm)
    drops = comp.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    return docs.join(drops, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# Train/val/test splits and cross-corpus contamination
# ---------------------------------------------------------------------------


def hash_split(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment — a pure projection.

    The split key is md5(salt ':' id); assignment compares the hex digest
    against precomputed hex boundary literals (cumulative weights scaled
    to the first 4 nibbles), so it is stable under any partitioning or
    cluster layout, needs NO shuffle, and reproduces verbatim in any
    engine with md5 + string comparison.  Change ``salt`` to draw an
    independent split.
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    prefix = F.substring(h, 1, 4)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        bound = format(min(int(acc * 65536), 65535), "04x")
        cond = prefix < F.lit(bound)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (expr.otherwise(names[-1]) if expr is not None
            else F.lit(names[-1]))
    return df.withColumn("split", expr)


def _cap_rank_key(id_col: str, salt: str):
    return F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))


def _cap_candidates(
    df: DataFrame,
    group_col: str,
    cap: int,
    id_col: str,
    salt: str,
    hot_threshold: int,
) -> DataFrame:
    """Prune each group to a superset of its keyed-hash top-``cap``.

    The md5 rank key is uniform, so within a group of n rows the cap-th
    smallest hash sits near (cap/n)·2^60 in the 60-bit numeric prefix
    space.  Cutoff per group: ((cap + margin)/n)·2^60 with margin =
    16·sqrt(cap+64)+64 — a Chernoff bound puts the probability that
    fewer than ``cap`` hashes fall below it around e^-100.  Groups at or
    under ``hot_threshold`` rows get an infinite cutoff (no pruning —
    the exact window is already cheap there).

    Losslessness: the 60-bit prefix order is a monotone coarsening of
    the full 32-hex-char order, so if at least min(cap, n) rows satisfy
    prefix ≤ cutoff, every row of the true top-``cap`` does too (a row
    beaten on prefix is beaten on full hash).  The caller re-checks that
    count at runtime and raises rather than silently under-capping.

    Adds columns ``_hnum`` (numeric prefix), ``_n`` (group size).
    """
    margin = 16.0 * (cap + 64.0) ** 0.5 + 64.0
    no_prune = F.lit(1 << 60)  # > any 60-bit prefix value
    counts = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.count("*").alias("_n")
    )
    cuts = counts.select(
        "_g",
        "_n",
        F.when(F.col("_n") <= F.lit(int(hot_threshold)), no_prune)
        .otherwise(
            F.least(
                no_prune,
                (F.lit(float(cap) + margin) / F.col("_n") * F.lit(2.0**60))
                .cast("long"),
            )
        )
        .alias("_cut"),
    )
    hnum = F.conv(F.substring(_cap_rank_key(id_col, salt), 1, 15), 16, 10
                  ).cast("long")
    # One row per group after the agg → always broadcast-sized relative
    # to the fact side; eqNullSafe keeps the NULL group (a real group).
    return (
        df.withColumn("_hnum", hnum)
        .join(F.broadcast(cuts), F.col(group_col).eqNullSafe(F.col("_g")))
        .filter(F.col("_hnum") <= F.col("_cut"))
        .drop("_g", "_cut")
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    id_col: str = "doc_id",
    salt: str = "cap",
    hot_threshold: int | None = None,
) -> DataFrame:
    """Hard per-group document cap (e.g. ≤N docs per domain/source —
    the Common-Crawl-style guard against a single site dominating the
    mix). Deterministic: within each group, rows rank by
    md5(salt:id) — a keyed hash, so survival is reproducible across
    runs, partitionings, and engines, and independent of split/sample
    salts — and ranks > ``cap`` drop. NULL group is a real group and
    capped like any other.

    Default path: one ``row_number`` window over the group partition (a
    single shuffle on ``group_col``).  Caveat at scale: a window sorts
    EACH GROUP IN ONE TASK — a billion-doc domain is one straggler task
    sorting O(n log n), and hot groups are exactly what a cap is for.

    ``hot_threshold`` enables the two-phase scale path: per-group counts
    (map-side-combined agg) → broadcast a conservative per-group hash
    cutoff → filter, so the exact window only ever sorts ~cap + 16·√cap
    candidate rows per group regardless of group size (see
    ``_cap_candidates`` for the bound and the losslessness argument).
    Both paths rank by the identical (md5, id) key and return identical
    rows; a runtime guard raises if pruning ever lost a survivor (the
    ~e^-100 tail), rather than under-capping silently.
    """
    from pyspark.sql import Window

    rank_key = _cap_rank_key(id_col, salt)
    w = Window.partitionBy(group_col).orderBy(rank_key, id_col)
    if hot_threshold is None:
        return (
            df.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= cap)
            .drop("_rk")
        )
    cand = _cap_candidates(df, group_col, cap, id_col, salt, hot_threshold)
    # Same partition key as the rank window → one shuffle+sort serves both
    # the per-group candidate count and row_number.
    wc = Window.partitionBy(group_col)
    guard_ok = F.col("_cand_n") >= F.least(F.lit(cap), F.col("_n"))
    return (
        cand.withColumn("_rk", F.row_number().over(w))
        .withColumn("_cand_n", F.count("*").over(wc))
        # The guard lives INSIDE the filter so column pruning can't drop
        # it: good rows pass on the cheap branch; a pruning shortfall
        # evaluates assert_true(false) and fails the job loudly.
        .filter(
            F.when(
                ~guard_ok,
                F.assert_true(
                    F.lit(False),
                    F.lit("cap_per_group: hash-prefix pruning lost rows; "
                          "rerun with hot_threshold=None"),
                ).isNull(),
            ).otherwise(F.lit(True))
            & (F.col("_rk") <= cap)
        )
        .drop("_rk", "_cand_n", "_hnum", "_n")
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Deterministic per-stratum sampling (corpus mixing: e.g. keep 100%
    of books, 10% of web) — a pure projection+filter, NO shuffle, NO
    RNG.

    A row survives iff the first 8 hex chars of md5(salt:id) fall below
    the stratum's fraction of the 32-bit space — the same
    keyed-hash-threshold trick as ``hash_split``, so the decision is
    reproducible on any engine and INDEPENDENT of the split assignment
    (different salt).  Strata not listed in ``fractions`` keep
    ``default_fraction``.  Unlike ``df.sampleBy`` this is stable across
    runs, partitionings, and engines.

    A NULL stratum is a real stratum: pass ``None`` as a ``fractions``
    key to target it, otherwise it keeps ``default_fraction`` like any
    other unlisted value.  (The naive ``col == value`` / ``isin``
    encoding silently evaluates to NULL for null rows — i.e. drops the
    whole stratum no matter what — so null handling must be explicit.)
    """
    h = F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))), 1, 8
    )
    space = 1 << 32

    def keep(frac: float) -> Column:
        # fraction ≥ 1.0 means KEEP ALL — the clamped strict-< threshold
        # would otherwise drop the (p = 2^-32 per doc) rows whose hash
        # prefix is exactly 'ffffffff', which a billions-of-docs corpus
        # does contain; likewise ≤ 0.0 is an unconditional drop.
        if frac >= 1.0:
            return F.lit(True)
        if frac <= 0.0:
            return F.lit(False)
        return h < F.lit(format(int(frac * space), "08x"))

    col = F.col(strata_col)
    named = [(v, f) for v, f in fractions.items() if v is not None]
    cond = None
    for value, frac in named:
        this = (col == value) & keep(frac)
        cond = this if cond is None else cond | this
    null_frac = fractions.get(None, default_fraction)
    null_case = col.isNull() & keep(null_frac)
    cond = null_case if cond is None else cond | null_case
    if named:
        rest = col.isNotNull() & ~col.isin(*[v for v, _ in named])
    else:
        rest = col.isNotNull()
    cond = cond | (rest & keep(default_fraction))
    return df.filter(cond)


def temperature_mix_plan(
    df: DataFrame,
    strata_col: str = "source",
    alpha: float = 0.5,
    budget: float = 1_000_000,
    weight_col: str | None = None,
) -> dict[str, tuple[int, float]]:
    """Per-stratum (mass, keep_fraction) for temperature-``alpha`` corpus
    mixing: stratum i's share of ``budget`` is ``m_i^alpha / Σ m_j^alpha``
    (alpha = 1 preserves natural proportions, alpha → 0 approaches
    uniform — the standard upweight-the-tails move for multi-source
    training mixes).  ``weight_col`` measures mass (e.g. token or char
    counts); None counts rows.

    One aggregate over the corpus, collected to the driver — bounded by
    the number of strata, never by rows.  Fractions are single-pass
    (no redistribution of the shortfall clipped strata leave unused).

    Cross-engine determinism: the share numerators are quantized to
    integers (``round(m^alpha · 10^6)``) so the normalizing sum is EXACT
    integer arithmetic — double summation order across strata can never
    perturb a keep fraction, and a SQL engine replays the plan
    bit-for-bit.  The ≤1e-6 relative share error is noise for mixing.
    ``alpha = 0.5`` uses ``sqrt`` (IEEE-correctly-rounded everywhere)
    rather than ``pow`` (libm-dependent); other alphas share the host
    libm's ``pow`` rounding, which SQL replay on another machine may
    not reproduce on boundary-straddling rows.
    """
    import math

    mass_expr = (
        F.count("*") if weight_col is None
        else F.sum(F.col(weight_col).cast("long"))
    )
    rows = df.groupBy(strata_col).agg(mass_expr.alias("mass")).collect()

    def share_num(mass: int) -> int:
        if alpha == 0.5:
            return round(math.sqrt(mass) * 1_000_000)
        if alpha == 1.0:
            return mass * 1_000_000
        return round(mass ** alpha * 1_000_000)

    # `or 0`: an all-NULL weight_col group aggregates to a NULL mass —
    # treat it as zero-mass (fraction 0) instead of TypeError-ing the
    # driver.  NULL strata keys are kept: stratified_sample targets
    # them explicitly, so a null-source slice mixes like any other.
    masses = {r[strata_col]: int(r["mass"] or 0) for r in rows}
    nums = {s: share_num(m) for s, m in masses.items()}
    total = sum(nums.values())  # exact int
    plan = {}
    for s, m in masses.items():
        frac = min(1.0, budget * nums[s] / total / m) if m > 0 else 0.0
        plan[s] = (m, frac)
    return plan


def temperature_mix(
    df: DataFrame,
    strata_col: str = "source",
    alpha: float = 0.5,
    budget: float = 1_000_000,
    weight_col: str | None = None,
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Temperature-``alpha`` mixture sampling across sources: compute the
    per-stratum keep fractions via :func:`temperature_mix_plan` (one
    bounded aggregate), then apply them with the deterministic keyed-hash
    threshold of :func:`stratified_sample` — so the realized mix is
    reproducible on any engine, independent of partitioning, and a pure
    scan+filter over the corpus (no shuffle of the data itself).

    Realized mass per stratum ≈ fraction × mass in expectation; strata
    whose natural mass falls below their temperature share keep
    everything (fraction clips at 1).
    """
    plan = temperature_mix_plan(df, strata_col, alpha, budget, weight_col)
    fractions = {s: frac for s, (_, frac) in plan.items()}
    return stratified_sample(
        df, strata_col, fractions, default_fraction=0.0,
        id_col=id_col, salt=salt,
    )


# Helper columns the budget family stamps on its working frames.  A
# caller column with one of these names would be silently overwritten
# and then dropped (the r13 ADVICE hole), so every entry point rejects
# collisions up front.
_TB_HELPER_COLS = (
    "_tb_toks", "_tb_s", "_tb_b", "_tb_d", "_tb_k", "_tb_ce",
    "_tb_g", "_tb_hi", "_tb_w", "_tb_bs", "_tb_r", "_tb_small",
)

# Measured naive/bounded crossover for token_budget_select (the
# jaccard_pairs_auto naive_budget discipline: a probe-derived constant,
# see SCALE.md "token_budget_select naive/bounded dispatch", round 14:
# min-of-3 on a warm local[32] session, naive wins at ≤1M rows on both
# separating and all-equal score distributions and loses from ~2M up —
# 7.2 s vs 1.06 s at 8M).  Below this many rows the oracle's own
# single-window global cumsum wins — driver-job latency dominates the
# bounded plan there — and its single task is bounded by the SAME
# measured count, so the dispatch is scale-safe by construction: the
# naive tier can only fire when pass 1 has COUNTED the corpus under
# the cap.
_TB_NAIVE_MAX_ROWS = 1_000_000


def _tb_reject_helper_collisions(df: DataFrame, opname: str,
                                 extra: tuple = ()) -> None:
    """Raise if the input already carries a reserved helper column —
    the operator would overwrite it and drop it from the output while
    the docstring promises the input's columns back."""
    reserved = set(_TB_HELPER_COLS) | set(extra)
    clash = sorted(c for c in df.columns if c in reserved)
    if clash:
        raise ValueError(
            f"{opname}: input columns {clash} collide with reserved "
            "helper names; rename them before calling"
        )


def _tb_tokens_expr(token_count_col: str | None, text_col: str,
                    opname: str) -> Column:
    """Token-count Column for the budget family: the explicit count
    column (NULLs RAISE — the pack_sequences discipline) or a
    whitespace-split count of ``text_col``."""
    if token_count_col is not None:
        c = F.col(token_count_col).cast("long")
        return F.when(
            c.isNull(),
            F.raise_error(F.lit(
                f"{opname}: NULL token count in '{token_count_col}'"
            )),
        ).otherwise(c)
    return F.size(
        F.filter(
            F.split(F.trim(F.col(text_col)), r"\s+"),
            lambda t: t != "",
        )
    ).cast("long")


def _tb_score_guard(df: DataFrame, score_col: str, opname: str) -> Column:
    """Double-cast score with loud guards: NULL scores raise (ordering
    under NULL is engine-defined) and NaN scores raise when the column
    is float/double (NaN sorts LAST in Spark but has no defined place
    in the bucketed-threshold order — the r13 ADVICE regression: a NaN
    max made every ``lo < hi`` False, skipping refinement stages while
    scores still differed)."""
    from pyspark.sql.types import DoubleType, FloatType

    s = F.col(score_col)
    guard = F.when(
        s.isNull(),
        F.raise_error(F.lit(
            f"{opname}: NULL score in '{score_col}' "
            "(ordering under NULL is engine-defined)"
        )),
    )
    if isinstance(df.schema[score_col].dataType, (FloatType, DoubleType)):
        guard = guard.when(
            F.isnan(s),
            F.raise_error(F.lit(
                f"{opname}: NaN score in '{score_col}' "
                "(NaN has no defined place in the selection order)"
            )),
        )
    return guard.otherwise(s.cast("double"))


def _tb_guarded_tokens(toks: Column, id_col: str, opname: str) -> Column:
    """Clamped token count with the NULL-id loud guard folded in: a
    NULL id has no place in the (score DESC, id ASC) order of record
    and crashes the integer-id refinement stage (the r13 ADVICE hole),
    so it raises on first materialization — consistently for EVERY id
    type.  Negative counts clamp at 0 (a negative count would make the
    cumulative non-monotone and whole-bucket keep/drop would diverge
    from true prefix semantics)."""
    return F.when(
        F.col(id_col).isNull(),
        F.raise_error(F.lit(
            f"{opname}: NULL id in '{id_col}' "
            "(the selection order needs a total order on ids)"
        )),
    ).otherwise(F.greatest(toks, F.lit(0)))


def _tb_int_bucket(df, diff_expr, span: int, n_buckets: int):
    """Exact-integer interpolation bucketing: ``diff_expr`` must be a
    non-negative long measuring distance from the range edge ALONG the
    selection order (score: hi − s; id: v − lo), ``span`` the closed
    range size.  Python-int ceil step + a SQL ``div`` keep the
    arithmetic exact at any 64-bit magnitude (never a double divide —
    the transitivity/pack_sequences discipline).  Monotone by
    construction: bucket index never decreases along the order."""
    step = -(-span // n_buckets)  # ceil — ≥ 1, ≤ n_buckets buckets
    return df.withColumn("_tb_d", diff_expr.cast("long")).withColumn(
        "_tb_b", F.expr(f"_tb_d div {step}").cast("long")
    )


def _tb_str_key(id_col: str, offset: int):
    """Monotone 48-bit key for STRING ids: bytes ``offset..offset+5``
    of the UTF-8 encoding, LEFT-ALIGNED by zero-padding (a short tail
    must compare below any longer one sharing its prefix — raw numeric
    value of a shorter window would right-align and break byte order).
    UTF-8 byte order equals code-point order, so the key is a monotone
    coarsening of the string sort; ids tying on one window separate at
    a deeper ``offset``."""
    return F.coalesce(
        F.conv(
            F.hex(F.expr(
                f"substring(rpad(cast(`{id_col}` as binary), "
                f"{offset + 5}, x'00'), {offset}, 6)"
            )),
            16, 10,
        ).cast("long"),
        F.lit(0),
    )


def token_budget_select(
    df: DataFrame,
    budget: int,
    score_col: str,
    id_col: str = "doc_id",
    token_count_col: str | None = None,
    text_col: str = "text",
    n_buckets: int = 65536,
    max_exact_rows: int | None = None,
    naive_max_rows: int = _TB_NAIVE_MAX_ROWS,
    _diag: dict | None = None,
) -> DataFrame:
    """Budget-capped quality selection: keep the maximal PREFIX of the
    corpus ordered by (``score_col`` DESC, ``id_col`` ASC) — the RAW
    score, exact at any magnitude — whose cumulative token count stays
    ≤ ``budget`` — "give me the best 12B tokens", the standard
    data-mixing primitive once every doc carries a quality score.
    Greedy prefix semantics: the first doc that would overflow the
    budget is dropped and nothing after it is backfilled
    (deterministic, engine-replayable — a backfilling knapsack would
    be neither).  Zero-token docs never overflow, so they survive
    anywhere in the kept prefix — including at ``budget == 0``, where
    the result is exactly the leading zero-token docs (the naive
    cumsum-≤-budget window keeps them; an empty-result short-circuit
    would not).

    The NAIVE plan is a window cumsum over a GLOBAL sort — a
    single-task window over the whole corpus, the exact shape that
    dies at 100 TB.  Below a MEASURED row-count crossover
    (``naive_max_rows``, default ``_TB_NAIVE_MAX_ROWS`` — the
    jaccard_pairs_auto cost-gate discipline; SCALE.md records the
    probe) the operator runs that naive window anyway: pass 1 has
    already COUNTED the corpus, so the single task's size is bounded
    by the same measured constant and the ~6 bounded-plan driver-job
    latencies (which dominate small corpora 2× per the 5M probe) are
    skipped.  The default is deliberately BELOW the measured narrow-row
    crossover because the window task carries the input's full rows
    (text included), not the probe's narrow ones; pass 0 to force the
    bounded plan.  At or above the gate, the identical semantics run
    in bounded passes (the SQL oracle replays the naive window;
    equality between the two IS the correctness statement):

    1. one aggregate for (min score, max score, total tokens) —
       early-out keep-all when total ≤ budget;
    2. scores map monotonically onto ≤ ``n_buckets`` coarse buckets;
       one partially-aggregated groupBy(bucket) → ≤ ``n_buckets``
       driver rows locate the boundary bucket B* and the residual
       budget entering it; buckets before B* keep everything (their
       whole prefix fits);
    3. if the boundary bucket still holds more than
       ``max_exact_rows`` docs (default ``n_buckets``), the SAME
       bucketed-threshold pass recurses INSIDE it on successively
       finer monotone keys: the double-cast score while it still
       separates; then the raw integer score exactly (bigints above
       2^53 collapse in double — the double is only ever a
       coarsening, never the order of record); then ``id_col`` — the
       tie-break axis — via exact integer interpolation, or 6-byte
       zero-padded UTF-8 windows for string ids.  Every level is one
       min/max aggregate plus one ≤ ``n_buckets``-row histogram over
       the CACHED input; an all-equal-score corpus therefore costs
       O(log_{n_buckets} n) bounded passes, never a corpus-wide
       single-task sort;
    4. only the FINAL boundary set — ≤ ``max_exact_rows`` docs, or
       full (score, id) duplicates after 32 levels — pays the exact
       (raw score DESC, id ASC) window cumsum against the residual.

    The input (with its helper columns) is ``tracked_cache``-ed before
    the first aggregate, so the driver passes and both branches of the
    returned plan share one materialization instead of re-executing
    the upstream lineage; the caller's scope (or ``release_unscoped()``
    outside any scope) frees it at the caller's stage boundary.

    NULL scores, NaN scores (float/double columns), NULL ids, and NULL
    explicit token counts all raise loudly (ordering under any of them
    is engine-defined — the ``_edge_weight``/pack_sequences loud-guard
    discipline); token counts come from ``token_count_col`` or a
    whitespace count of ``text_col``.  Input columns named ``_tb_*``
    (the reserved helper prefix) are rejected.  Returns the kept rows
    with the input's columns.
    """
    from pyspark.sql import Window
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    if budget < 0:
        raise ValueError("token_budget_select: budget must be >= 0")
    _tb_reject_helper_collisions(df, "token_budget_select")
    toks = _tb_tokens_expr(token_count_col, text_col,
                           "token_budget_select")
    score_guard = _tb_score_guard(df, score_col, "token_budget_select")
    _int_types = (ByteType, ShortType, IntegerType, LongType)
    score_is_int = isinstance(df.schema[score_col].dataType, _int_types)
    id_dt = df.schema[id_col].dataType
    # Guards (NULL id, clamp-at-0) fold into _tb_toks so they fire on
    # the FIRST materialization below, on every dispatch path.
    # Cached: the two driver aggregates per level AND the union
    # branches of the returned plan all read this one materialization.
    base = tracked_cache(
        df.withColumn(
            "_tb_toks",
            _tb_guarded_tokens(toks, id_col, "token_budget_select"),
        ).withColumn("_tb_s", score_guard)
    )
    row = base.agg(
        F.min("_tb_s").alias("lo"),
        F.coalesce(F.sum("_tb_toks"), F.lit(0)).alias("total"),
        F.count("*").alias("n"),
    ).first()
    if row["lo"] is None:  # empty input
        return df.filter(F.lit(False))
    if int(row["total"]) <= budget:
        return df  # everything fits — no second pass at all
    if int(row["n"]) <= naive_max_rows:
        # measured-crossover fast path: the corpus is COUNTED small,
        # so the oracle's own single-window plan is both correct and
        # faster (driver-job latency dominates the bounded plan here);
        # its one window task holds exactly these n rows — bounded by
        # the gate, never a guess (the jaccard_pairs_auto discipline)
        if _diag is not None:
            _diag.update(plan="naive", levels=0, boundary_rows=-1,
                         residual=budget, stage="naive")
        w = Window.orderBy(F.col(score_col).desc(), F.col(id_col))
        return (
            base.withColumn("_tb_ce", F.sum("_tb_toks").over(w))
            .filter(F.col("_tb_ce") <= F.lit(budget))
            .select(*df.columns)
        )
    if _diag is not None:
        _diag["plan"] = "bounded"
    max_exact = n_buckets if max_exact_rows is None else max_exact_rows
    kept: list[DataFrame] = []
    cur = base
    residual = budget
    boundary: DataFrame | None = None
    stage = "score_double"  # → score_int → id → exact
    str_off = 1  # 1-based byte offset for string-id key windows
    levels = 0
    boundary_rows = -1

    def _minmax(frame, col):
        r = frame.agg(F.min(col).alias("lo"), F.max(col).alias("hi")
                      ).first()
        return r["lo"], r["hi"]

    for _ in range(32):  # depth cap — each level is 2 bounded jobs
        # pick the finest monotone key that still separates `cur`,
        # advancing stages as each exhausts (min == max within cur)
        cur_b = None
        while cur_b is None:
            if stage == "score_double":
                lo, hi = _minmax(cur, "_tb_s")
                if lo < hi:
                    width = float(hi) - float(lo)
                    cur_b = cur.withColumn(
                        "_tb_b",
                        F.least(
                            F.lit(n_buckets - 1),
                            F.floor(
                                (F.lit(float(hi)) - F.col("_tb_s"))
                                / F.lit(width) * F.lit(n_buckets)
                            ).cast("int"),
                        ).cast("long"),
                    )
                else:
                    # double ties: integral raw scores may still
                    # differ past 2^53 — refine exactly, never reorder
                    stage = "score_int" if score_is_int else "id"
            elif stage == "score_int":
                lo, hi = _minmax(cur, score_col)
                lo, hi = int(lo), int(hi)
                if lo < hi:
                    cur_b = _tb_int_bucket(
                        cur, F.lit(hi) - F.col(score_col),
                        hi - lo + 1, n_buckets,
                    )
                else:
                    stage = "id"
            elif stage == "id":
                if isinstance(id_dt, _int_types):
                    lo, hi = _minmax(cur, id_col)
                    lo, hi = int(lo), int(hi)
                    if hi - lo >= (1 << 62):
                        # a full-long id span would overflow the
                        # (id − lo) diff column — coarsen ONE level in
                        # double (monotone; ties refine exactly next
                        # level on a span that now fits)
                        width = float(hi) - float(lo)
                        cur_b = cur.withColumn(
                            "_tb_b",
                            F.least(
                                F.lit(n_buckets - 1),
                                F.floor(
                                    (F.col(id_col).cast("double")
                                     - F.lit(float(lo)))
                                    / F.lit(width) * F.lit(n_buckets)
                                ).cast("int"),
                            ).cast("long"),
                        )
                    elif lo < hi:
                        cur_b = _tb_int_bucket(
                            cur, F.col(id_col) - F.lit(lo),
                            hi - lo + 1, n_buckets,
                        )
                    else:
                        stage = "exact"  # duplicate ids — full ties
                elif isinstance(id_dt, StringType) and str_off <= 241:
                    keyed = cur.withColumn(
                        "_tb_k", _tb_str_key(id_col, str_off))
                    lo, hi = _minmax(keyed, "_tb_k")
                    lo, hi = int(lo), int(hi)
                    if lo < hi:
                        cur_b = _tb_int_bucket(
                            keyed, F.col("_tb_k") - F.lit(lo),
                            hi - lo + 1, n_buckets,
                        )
                    else:
                        str_off += 6  # shared window — go deeper
                else:
                    stage = "exact"
            else:  # exact — no finer monotone key; window what's left
                break
        if cur_b is None:
            break
        levels += 1
        rows = cur_b.groupBy("_tb_b").agg(
            F.sum("_tb_toks").alias("t"), F.count("*").alias("c")
        ).collect()
        sums = {int(r["_tb_b"]): (int(r["t"]), int(r["c"]))
                for r in rows}
        cum = 0
        b_star = None
        for b in sorted(sums):
            if cum + sums[b][0] > residual:
                b_star = b
                break
            cum += sums[b][0]
        if b_star is None:  # unreachable (total > residual) — keep all
            kept.append(cur_b)
            cur = None
            break
        kept.append(cur_b.filter(F.col("_tb_b") < F.lit(b_star)))
        residual -= cum
        cur = cur_b.filter(F.col("_tb_b") == F.lit(b_star))
        boundary_rows = sums[b_star][1]
        if boundary_rows <= max_exact:
            break
    boundary = cur
    if _diag is not None:
        _diag.update(levels=levels, boundary_rows=boundary_rows,
                     residual=residual, stage=stage)
    frames = list(kept)
    if boundary is not None:
        # the order of record: RAW score (exact at any magnitude — the
        # double `_tb_s` is bucketing-only), id ASC tie-break
        w = Window.orderBy(F.col(score_col).desc(), F.col(id_col))
        frames.append(
            boundary.withColumn("_tb_ce", F.sum("_tb_toks").over(w))
            .filter(F.col("_tb_ce") <= residual)
        )
    helper = ["_tb_toks", "_tb_s", "_tb_b", "_tb_d", "_tb_k", "_tb_ce"]
    out = None
    for f in frames:
        f = f.drop(*helper)
        out = f if out is None else out.unionByName(f)
    return out


def token_budget_epochs(
    df: DataFrame,
    budget: int,
    score_col: str,
    max_epochs: int = 4,
    id_col: str = "doc_id",
    token_count_col: str | None = None,
    text_col: str = "text",
    n_buckets: int = 65536,
    max_exact_rows: int | None = None,
) -> DataFrame:
    """Epoch repetition plan for the DATA-CONSTRAINED regime (the
    budget EXCEEDS the corpus): rather than starve the run, repeat the
    corpus — the Muennighoff et al. 2023 recipe, where up to ~4 epochs
    of repeated data are nearly as good as fresh.  Every doc repeats
    for ``full_epochs = min(budget div total_tokens, max_epochs)``
    epochs, and — when ``full_epochs < max_epochs`` — one PARTIAL
    epoch ``full_epochs + 1`` holds the greedy (score DESC,
    ``id_col``) prefix of the remaining budget, so the best docs are
    the ones seen one extra time.  Returns the input's columns plus
    ``epoch`` (1-based long); a loader materializes epoch e as one
    full (or prefix) pass.  A zero-token corpus never consumes budget
    and caps at ``max_epochs`` full repeats.

    Shape: ONE bounded aggregate for the corpus token total (the
    epoch count is driver-arithmetic from it); the full-epoch tier is
    a MAP-ONLY ``explode(sequence(1, full_epochs))`` — no shuffle,
    output = |corpus| × full_epochs rows; the partial tier is one
    :func:`token_budget_select` (bounded bucketed-threshold passes +
    a ≤ ``max_exact_rows`` boundary window).  Same loud guards as the
    budget family: NULL scores/counts raise, negative counts clamp,
    ``budget < 0`` / ``max_epochs < 1`` rejected.
    """
    if budget < 0:
        raise ValueError("token_budget_epochs: budget must be >= 0")
    if max_epochs < 1:
        raise ValueError("token_budget_epochs: max_epochs must be >= 1")
    # `epoch` is the operator's OWN output column — an input column of
    # that name would silently duplicate in the full tier's select("*")
    _tb_reject_helper_collisions(df, "token_budget_epochs",
                                 extra=("epoch",))
    toks = _tb_tokens_expr(token_count_col, text_col,
                           "token_budget_epochs")
    row = df.agg(
        F.coalesce(F.sum(F.greatest(toks, F.lit(0))), F.lit(0))
        .alias("t"),
        F.count("*").alias("n"),
    ).first()
    empty_plan = df.filter(F.lit(False)).withColumn(
        "epoch", F.lit(0).cast("long"))
    if int(row["n"]) == 0:
        return empty_plan
    total = int(row["t"])
    full_epochs = max_epochs if total == 0 else min(
        budget // total, max_epochs)
    tiers = []
    if full_epochs > 0:
        # map-only: sequence() is ASCENDING only when start <= stop
        # (start > stop generates a DESCENDING ramp in Spark, unlike
        # SQL generate_series), hence the driver-side branch
        tiers.append(df.select(
            "*",
            F.explode(
                F.sequence(F.lit(1).cast("long"),
                           F.lit(int(full_epochs)).cast("long"))
            ).alias("epoch"),
        ))
    if full_epochs < max_epochs:
        remainder = budget - full_epochs * total
        tiers.append(
            token_budget_select(
                df, remainder, score_col,
                id_col=id_col,
                token_count_col=token_count_col,
                text_col=text_col,
                n_buckets=n_buckets,
                max_exact_rows=max_exact_rows,
            ).withColumn("epoch", F.lit(full_epochs + 1).cast("long"))
        )
    out = None
    for t in tiers:
        out = t if out is None else out.unionByName(t)
    return out if out is not None else empty_plan


def token_budget_mix(
    df: DataFrame,
    budgets: dict,
    group_col: str,
    score_col: str,
    id_col: str = "doc_id",
    token_count_col: str | None = None,
    text_col: str = "text",
    n_buckets: int = 65536,
    max_exact_rows: int | None = None,
    _diag: dict | None = None,
) -> DataFrame:
    """Per-source budget-capped selection — the data-mixing recipe
    ("900 tokens of web, 500 of code, none of the rest"): for each
    group g named in ``budgets``, keep g's greedy (score DESC,
    ``id_col``) prefix whose cumulative token count stays ≤
    ``budgets[g]``.  Groups NOT named are dropped entirely — a mixing
    recipe is a whitelist, and silently keeping unnamed sources would
    un-cap the mix.  A ``None`` key selects NULL group values
    (``eqNullSafe``).

    Shape (one job round for ALL k sources, however many — the r13
    per-source-sequential-passes plan rewritten per the r13 verdict):

    1. ONE grouped aggregate — ``groupBy(group)`` → (min score, max
       score, total tokens) per named source, ≤ k driver rows.
       Sources whose total fits their budget keep everything and pay
       nothing further.
    2. ONE grouped histogram — per-source score buckets via a
       broadcast (group → hi, width) literal frame, then
       ``groupBy(group, bucket)`` → ≤ k × ``n_buckets`` driver rows.
       The driver resolves EVERY source's boundary bucket and residual
       budget from that one pass.
    3. Buckets before each source's boundary keep everything; the
       boundary buckets (≤ ``max_exact_rows`` rows each) pay one
       grouped exact window — ``Window.partitionBy(group)`` is safe
       HERE because the histogram bounded every partition, unlike the
       hot-source straggler of a naive per-group global window (the
       ``cap_per_group`` lesson).
    4. Rare residue recurses per group through
       :func:`token_budget_select`: sources whose scores are all equal
       as doubles (no histogram axis) and sources whose boundary
       bucket stays above ``max_exact_rows`` (degenerate score mass) —
       each pays that operator's own bounded passes on ITS rows only.

    Per-group semantics (budget 0 keeps the zero-token prefix, NULL
    scores/ids raise, negative counts clamp, ``_tb_*`` input columns
    rejected) are token_budget_select's — the DuckDB oracle replays
    the whole mix as one PARTITION-BY-group window cumsum against the
    per-group budgets.  ``_diag`` (tests only) records the driver job
    count and the per-tier group lists.
    """
    from pyspark.sql import Window
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    if not budgets:
        raise ValueError("token_budget_mix: budgets must name at least "
                         "one group")
    for g, b in budgets.items():
        if b < 0:
            raise ValueError(
                f"token_budget_mix: budget for group {g!r} must be >= 0"
            )
    _tb_reject_helper_collisions(df, "token_budget_mix")
    spark = df.sparkSession

    def _named_pred(col, vals):
        named = [v for v in vals if v is not None]
        pred = col.isin(named) if named else F.lit(False)
        if any(v is None for v in vals):
            pred = pred | col.isNull()
        return pred

    toks = _tb_tokens_expr(token_count_col, text_col, "token_budget_mix")
    score_guard = _tb_score_guard(df, score_col, "token_budget_mix")
    base = tracked_cache(
        df.filter(_named_pred(F.col(group_col), list(budgets)))
        .withColumn(
            "_tb_toks",
            _tb_guarded_tokens(toks, id_col, "token_budget_mix"),
        )
        .withColumn("_tb_s", score_guard)
    )
    # Job 1: grouped stats — ≤ k driver rows
    stats = base.groupBy(F.col(group_col).alias("_tb_g")).agg(
        F.min("_tb_s").alias("lo"),
        F.max("_tb_s").alias("hi"),
        F.coalesce(F.sum("_tb_toks"), F.lit(0)).alias("total"),
    ).collect()
    driver_jobs = 1
    keep_all: list = []
    hist: list[tuple] = []  # (g, hi, width, budget)
    degen: list[tuple] = []  # (g, budget) — no double-score axis
    for r in stats:
        g = r["_tb_g"]
        b = int(budgets[g])
        if int(r["total"]) <= b:
            keep_all.append(g)
        elif float(r["lo"]) < float(r["hi"]):
            hist.append((g, float(r["hi"]),
                         float(r["hi"]) - float(r["lo"]), b))
        else:
            degen.append((g, b))
    gdt = df.schema[group_col].dataType
    tiers: list[DataFrame] = []
    if keep_all:
        tiers.append(base.filter(
            _named_pred(F.col(group_col), keep_all)))
    fallback: list[tuple] = []  # (g, hi, width, b_star, residual)
    if hist:
        # Job 2: ONE grouped histogram for every source still open
        bounds = spark.createDataFrame(
            [(g, hi, w) for g, hi, w, _ in hist],
            schema=StructType([
                StructField("_tb_g", gdt, True),
                StructField("_tb_hi", DoubleType(), False),
                StructField("_tb_w", DoubleType(), False),
            ]),
        )
        bucket = F.least(
            F.lit(n_buckets - 1),
            F.floor(
                (F.col("_tb_hi") - F.col("_tb_s"))
                / F.col("_tb_w") * F.lit(n_buckets)
            ).cast("int"),
        ).cast("long")
        hb = base.join(
            F.broadcast(bounds),
            F.col(group_col).eqNullSafe(F.col("_tb_g")),
        ).withColumn("_tb_b", bucket)
        hrows = hb.groupBy("_tb_g", "_tb_b").agg(
            F.sum("_tb_toks").alias("t"), F.count("*").alias("c")
        ).collect()
        driver_jobs += 1
        per_g: dict = {}
        for r in hrows:
            per_g.setdefault(r["_tb_g"], {})[int(r["_tb_b"])] = (
                int(r["t"]), int(r["c"]))
        max_exact = n_buckets if max_exact_rows is None else max_exact_rows
        cuts = []  # (g, hi, w, b_star, residual, small)
        for g, hi, w, b in hist:
            sums = per_g[g]
            cum = 0
            b_star = None
            for bb in sorted(sums):
                if cum + sums[bb][0] > b:
                    b_star = bb
                    break
                cum += sums[bb][0]
            # b_star always found: hist groups have total > budget
            residual = b - cum
            small = sums[b_star][1] <= max_exact
            cuts.append((g, hi, w, b_star, residual, small))
            if not small:
                fallback.append((g, hi, w, b_star, residual))
        meta = spark.createDataFrame(
            [c for c in cuts],
            schema=StructType([
                StructField("_tb_g", gdt, True),
                StructField("_tb_hi", DoubleType(), False),
                StructField("_tb_w", DoubleType(), False),
                StructField("_tb_bs", LongType(), False),
                StructField("_tb_r", LongType(), False),
                StructField("_tb_small", BooleanType(), False),
            ]),
        )
        j = base.join(
            F.broadcast(meta),
            F.col(group_col).eqNullSafe(F.col("_tb_g")),
        ).withColumn("_tb_b", bucket)
        # whole buckets before each source's boundary
        tiers.append(j.filter(F.col("_tb_b") < F.col("_tb_bs")))
        # grouped exact boundary window — every partition histogram-
        # bounded at <= max_exact rows; order of record: RAW score
        # DESC, id ASC (the double _tb_s is bucketing-only)
        wg = Window.partitionBy(group_col).orderBy(
            F.col(score_col).desc(), F.col(id_col))
        tiers.append(
            j.filter(
                (F.col("_tb_b") == F.col("_tb_bs")) & F.col("_tb_small")
            )
            .withColumn("_tb_ce", F.sum("_tb_toks").over(wg))
            .filter(F.col("_tb_ce") <= F.col("_tb_r"))
        )
    # Residue recursion — one bounded token_budget_select per group,
    # on that group's rows only (rare: degenerate score distributions)
    def _one_pred(col, g):
        return col.isNull() if g is None else col.eqNullSafe(F.lit(g))

    for g, hi, w, b_star, residual in fallback:
        bucket_g = F.least(
            F.lit(n_buckets - 1),
            F.floor(
                (F.lit(hi) - F.col("_tb_s"))
                / F.lit(w) * F.lit(n_buckets)
            ).cast("int"),
        ).cast("long")
        sub = (
            base.filter(_one_pred(F.col(group_col), g))
            .withColumn("_tb_b", bucket_g)
            .filter(F.col("_tb_b") == F.lit(b_star))
            .select(*df.columns)
        )
        tiers.append(token_budget_select(
            sub, residual, score_col, id_col=id_col,
            token_count_col=token_count_col, text_col=text_col,
            n_buckets=n_buckets, max_exact_rows=max_exact_rows,
        ))
    for g, b in degen:
        sub = base.filter(_one_pred(F.col(group_col), g)).select(
            *df.columns)
        tiers.append(token_budget_select(
            sub, b, score_col, id_col=id_col,
            token_count_col=token_count_col, text_col=text_col,
            n_buckets=n_buckets, max_exact_rows=max_exact_rows,
        ))
    if _diag is not None:
        _diag.update(
            driver_jobs=driver_jobs,
            keep_all=sorted(keep_all, key=lambda g: (g is None, g)),
            hist=sorted((h[0] for h in hist),
                        key=lambda g: (g is None, g)),
            fallback=sorted((f[0] for f in fallback),
                            key=lambda g: (g is None, g)),
            degenerate=sorted((d[0] for d in degen),
                              key=lambda g: (g is None, g)),
        )
    out = None
    for t in tiers:
        t = t.select(*df.columns)
        out = t if out is None else out.unionByName(t)
    return out if out is not None else df.filter(F.lit(False))


def dup_ngram_stats(
    df: DataFrame, n: int = 10, text_col: str = "text"
) -> DataFrame:
    """Per-document cross-corpus duplication fraction: the share of a
    doc's distinct ``n``-gram shingles that also occur in at least one
    OTHER document (the span-level duplication signal behind
    deduplicate-training-data curation — long n-grams make collisions
    meaningful, so a high ``dup_frac`` flags boilerplate or copies that
    whole-doc dedup misses).

    Shape: one shingle pass; corpus-wide document frequency is a
    groupBy on the shingle (distinct (doc, shingle) input, so in-doc
    repeats don't inflate df); docs join that vocabulary and aggregate —
    cost linear in corpus + hits, no doc×doc term.  Docs shorter than
    ``n`` tokens surface with zero counts (LEFT join back to the corpus
    — the row-count parity lesson from repetition_ratio's oracle).

    Returns (doc_id, n_shingles, n_dup, dup_frac).
    """
    sh = tracked_cache(doc_shingles(df, text_col, n))  # feeds df agg AND the join
    vocab_df = sh.groupBy("shingle").agg(
        F.count("*").alias("df")
    )
    per_doc = (
        sh.join(vocab_df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("df") > 1, 1).otherwise(0)).alias("n_dup"),
        )
    )
    return (
        df.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
            (
                F.coalesce("n_dup", F.lit(0)).cast("double")
                / F.greatest(F.coalesce("n_shingles", F.lit(0)), F.lit(1))
            ).alias("dup_frac"),
        )
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    min_len: int = 1,
    min_docs: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide LINE-level dedup (the C4/CCNet boilerplate remover):
    drop every line whose normalized form (trim + lower) appears in at
    least ``min_docs`` DISTINCT documents — navigation chrome, cookie
    banners, licence boilerplate — and rebuild each document from its
    surviving lines in original order.

    Lines shorter than ``min_len`` normalized characters never
    participate in counting and are always kept (blank separators aren't
    boilerplate evidence).

    Shape (all native ops, no Python): one posexplode over lines; the
    document-frequency table is a distinct (doc, line-hash) projection +
    one groupBy — in-doc repeats don't inflate the count; lines
    LEFT-join that table (an equi-join on the 128-bit line hash, AQE
    free to broadcast the dup side, which at corpus scale is the small
    Zipf head); the rebuild is one groupBy(doc) over array_sort'd
    (pos, line) structs.  Total: one explode + three shuffles, each
    linear in the line count — never doc×doc.

    Returns (doc_id, text, n_lines, n_dropped) with ``text`` rebuilt
    from kept lines joined by ``sep``.  Documents whose every line is
    boilerplate surface with empty text, not a missing row.
    ``sep="\\n\\n"`` switches the unit from lines to paragraphs (the
    CCNet granularity); the separator is split on literally.
    """
    import re as _re
    norm = F.lower(F.trim(F.col("line")))
    # cache(): feeds BOTH the document-frequency aggregate and the dup
    # join — uncached, the line explode would run twice.
    lines = _fan_out(df.select("doc_id", text_col)).select(
        "doc_id",
        F.posexplode(
            F.split(F.col(text_col), _re.escape(sep))
        ).alias("pos", "line"),
    ).withColumn(
        "lhash",
        F.when(F.length(norm) >= min_len, F.md5(norm)),  # null = exempt
    )
    lines = tracked_cache(lines)
    doc_freq = (
        lines.filter(F.col("lhash").isNotNull())
        .select("doc_id", "lhash")
        .distinct()
        .groupBy("lhash")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("lhash", F.lit(True).alias("is_dup"))
    )
    marked = lines.join(doc_freq, "lhash", "left")
    kept = F.col("is_dup").isNull()
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.when(kept, 0).otherwise(1)).alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(kept, F.struct("pos", "line"))
                        )
                    ),
                    lambda s: s["line"],
                ),
                sep,
            ).alias(text_col),
        )
        .select("doc_id", text_col, "n_lines", "n_dropped")
    )


def cross_corpus_contamination(
    train: DataFrame,
    test: DataFrame,
    n: int = 8,
    min_common: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """Test documents sharing ≥ ``min_common`` n-gram shingles with the
    training corpus (benchmark-contamination scan à la GPT-3 appendix C).

    Shape: the train side collapses to its DISTINCT shingle vocabulary
    (one shuffle, no doc ids kept), the test side equi-joins against it —
    cost is linear in both corpora plus the hit count; no doc×doc pair
    term anywhere. Long shingles (n=8 by default) make collisions
    meaningful.  Returns (doc_id, n_hits, n_shingles, hit_ratio).
    """
    train_vocab = doc_shingles(train, text_col, n).select("shingle").distinct()
    test_sh = doc_shingles(test, text_col, n)
    sizes = test_sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        test_sh.join(train_vocab, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        sizes.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            "n_shingles",
            (
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.greatest("n_shingles", F.lit(1))
            ).alias("hit_ratio"),
        )
        .filter(F.col("n_hits") >= min_common)
    )


def remove_duplicate_spans(
    df: DataFrame, n: int = 10, text_col: str = "text"
) -> DataFrame:
    """Exact-substring (span-level) dedup: delete every token that sits
    inside an ``n``-token window whose exact content occurs more than
    once corpus-wide (counting in-doc repeats), and rebuild the document
    from the surviving tokens.  This is the removal companion to
    ``dup_ngram_stats`` — the "deduplicate training data" curation step
    that whole-document dedup misses (reference has no analogue; the
    datacube engine never touches text spans).

    Semantics: tokens are whitespace splits of the lowercased text (the
    corpus-wide shingle convention).  A window starting at 1-based token
    position ``s`` covers positions ``s .. s+n-1``; a token survives iff
    no duplicated window covers it.  Docs shorter than ``n`` tokens have
    no windows and pass through unchanged (lowercased).

    Shape: windows are built IN-ROW (transform over a sequence — no
    (doc, pos) shuffle to enumerate them) and FINGERPRINTED IN-ROW to a
    128-bit pair of salted ``xxhash64`` values over the token slice —
    the window's ~80-byte text never enters an exchange (the round-8
    500 k-doc soak measured the raw-string version shuffling ~10×
    corpus bytes TWICE: count + join; hashed windows cut that to 16
    bytes/window, and collision odds at 128 bits are ~1e-15 even at
    10^12 windows).  Occurrence counts are a partially-aggregated
    ``groupBy(h1, h2)`` — map-side combine collapses a pathologically
    hot n-gram (a corpus-wide license header) inside every map task, so
    no single reducer ever materializes a hot key's row set (a
    ``Window.partitionBy`` count was measured equal-speed at sf0.1 but
    puts a hot key's ENTIRE partition in one task, and AQE cannot split
    windows the way it skew-splits joins).  The duplicated head
    (Zipf-small) joins back against a re-enumerated window frame —
    re-running the map-only explode is deliberate: caching rows x
    windows at 100 TB costs more than recomputing a generate stage.
    Duplicated starts collapse per doc (collect_set, bounded by the
    doc's window count); the rebuild is an in-row two-parameter
    ``F.filter`` whose index probes the start set (O(tokens x
    dup-starts) per row, all JVM-side).

    Returns (doc_id, n_tokens, n_removed, clean_text).
    """
    toks = tokens_col(F.lower(F.col(text_col)))
    # The tokenized frame feeds THREE subtrees (the window count, the
    # dup join's re-enumeration, and the rebuild) and Spark never
    # ReuseExchanges across a self-reference: uncached, each subtree
    # re-runs the ENTIRE upstream plan — at the 500 k-doc soak, where
    # the input is a 100-way union behind a blocklist filter and a
    # line-dedup join, that tripled the stage (~300 s, ~200 s of it
    # upstream re-execution).  The cache is tokens ≈ one corpus copy
    # (MEMORY_AND_DISK, released via cachectl); the rows×windows frame
    # stays deliberately UNCACHED — re-running that generate from the
    # cached tokens is the part that beats materializing it.
    base = tracked_cache(
        _fan_out(df.select("doc_id", text_col)).select(
            "doc_id", toks.alias("t")
        )
    )
    n_win = F.size("t") - F.lit(n - 1)
    starts_idx = F.when(n_win >= 1, F.sequence(F.lit(1), n_win)).otherwise(
        F.array().cast("array<int>")
    )
    win = base.select(
        "doc_id",
        F.explode(
            F.transform(
                starts_idx,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.xxhash64(F.slice("t", i, n)).alias("h1"),
                    F.xxhash64(F.lit(1), F.slice("t", i, n)).alias("h2"),
                ),
            )
        ).alias("pw"),
    ).select(
        "doc_id",
        F.col("pw.pos").alias("pos"),
        F.col("pw.h1").alias("h1"),
        F.col("pw.h2").alias("h2"),
    )
    dup = win.groupBy("h1", "h2").agg(F.count("*").alias("c")).where(
        F.col("c") > 1
    ).select("h1", "h2")
    dup_starts = (
        win.join(dup, ["h1", "h2"])
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("ss"))
    )
    ss = F.coalesce(F.col("ss"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("t"),
        lambda x, i: ~F.exists(
            ss, lambda s: (i + 1 >= s) & (i + 1 <= s + F.lit(n - 1))
        ),
    )
    # rebuild from the cached base (same rows, already tokenized) —
    # re-tokenizing from `df` here was a third full upstream pass; the
    # O(tokens × dup-starts) filter lands in its own projection so the
    # two consumers (size, concat_ws) share ONE evaluation
    return (
        base.join(dup_starts, "doc_id", "left")
        .withColumn("_kept", kept)
        .select(
            "doc_id",
            F.size("t").cast("long").alias("n_tokens"),
            (F.size("t") - F.size(F.col("_kept")))
            .cast("long")
            .alias("n_removed"),
            F.concat_ws(" ", F.col("_kept")).alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership (approximate contamination at broadcast cost)
# ---------------------------------------------------------------------------

#: Bloom geometry: 2^20 bits packed 32 per BIGINT word (bit index <= 31,
#: so no sign-bit hazards on any engine).  Positions are the first 5 hex
#: chars (20 bits) of salted md5 — portable and SQL-replayable.
BLOOM_M_BITS = 1 << 20


def _bloom_positions(item: Column, k: int) -> Column:
    """Array of ``k`` 20-bit positions for one item (salted md5)."""
    return F.array(
        *[
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{h}:"), item)), 1, 5),
                16,
                10,
            ).cast("long")
            for h in range(k)
        ]
    )


def build_bloom_filter(
    df: DataFrame, col: str, k: int = 5
) -> DataFrame:
    """Distributed Bloom-filter build over a key column: explode each
    key's ``k`` bit positions, pack 32 bits per word, ``bit_or`` per
    word index.  The result is at most 32768 rows (1 MiB of bits) no
    matter the input size — one partially-aggregated shuffle, then a
    broadcast-sized set structure, the classic trick for membership
    probes against a vocabulary too big to broadcast raw.

    Returns (word int, bits long)."""
    p = df.select(F.explode(_bloom_positions(F.col(col), k)).alias("p"))
    return (
        p.select(
            F.shiftright("p", 5).cast("int").alias("word"),
            # shiftleft's python wrapper wants a literal bit count; the
            # SQL form takes any expression
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p & 31 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_contamination(
    train: DataFrame,
    test: DataFrame,
    n: int = 8,
    k: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Approximate cross-corpus contamination scan: the train side
    collapses to a Bloom filter over its distinct n-gram shingles
    (<= 1 MiB regardless of corpus size), the test side probes it with a
    broadcast equi-join on the word index.  Compare
    ``cross_corpus_contamination``: same question, but the exact scan
    shuffles the full train vocabulary — at 100 TB the Bloom build is
    the only train-side shuffle and its output always fits one executor.
    No false negatives; false-positive rate (1-e^(-kn/m))^k — about
    4e-5 at 30k shingles with the default geometry.  The construction is
    deterministic, so the oracle replays it bit-for-bit.

    Returns (doc_id, n_shingles, n_bloom_hits, hit_ratio) per test doc.
    """
    train_vocab = doc_shingles(train, text_col, n).select("shingle").distinct()
    bloom = build_bloom_filter(train_vocab, "shingle", k)
    test_sh = doc_shingles(test, text_col, n)
    probes = test_sh.select(
        "doc_id",
        "shingle",
        F.explode(_bloom_positions(F.col("shingle"), k)).alias("p"),
    ).select(
        "doc_id",
        "shingle",
        F.shiftright("p", 5).cast("int").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p & 31 AS INT))").alias(
            "mask"
        ),
    )
    checked = probes.join(F.broadcast(bloom), "word", "left").select(
        "doc_id",
        "shingle",
        (
            F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask"))
            != 0
        )
        .cast("int")
        .alias("bit_set"),
    )
    per_shingle = checked.groupBy("doc_id", "shingle").agg(
        F.min("bit_set").alias("all_set")
    )
    out = per_shingle.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum("all_set").alias("n_bloom_hits"),
    )
    return (
        test.select("doc_id")
        .join(out, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_bloom_hits", F.lit(0)).alias("n_bloom_hits"),
            (
                F.coalesce("n_bloom_hits", F.lit(0)).cast("double")
                / F.greatest(F.coalesce("n_shingles", F.lit(0)), F.lit(1))
            ).alias("hit_ratio"),
        )
    )


def shuffle_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = "shuffle",
    buckets: int = 256,
) -> DataFrame:
    """Deterministic pseudo-random total order for training export —
    reproducible global shuffling without RNG state: every row gets
    (bucket, bucket_rank) where ``bucket`` is a keyed-hash prefix and
    ``bucket_rank`` ranks the full hash within the bucket (id
    tie-break).  (bucket, bucket_rank) is a total order; identical
    inputs order identically on any cluster layout, and a changed
    ``salt`` is a fresh epoch permutation.

    Scale: the rank window partitions by bucket — ~|corpus|/buckets rows
    per task, never the single-task global window of a bare
    ``row_number() over (order by ...)``.  A writer wanting physical
    order repartitions by bucket and sortWithinPartitions.

    The bucket is a RANGE-PRESERVING scale of the hash's first byte
    (``first_byte * buckets // 256``), not a modulus: bucket is then a
    monotone function of the hash prefix, so concatenating buckets in
    order with their in-bucket (hash, id) ranks equals the plain global
    ``ORDER BY md5, id`` — the property :func:`negative_pairs`' SQL
    oracle states, for ANY ``buckets`` value (a modulus preserves it
    only at exactly 256; round-5 ADVICE).  ``buckets > 256`` leaves
    some buckets empty (one hash byte can't split 256 ways further) —
    capped below rather than silently degrading.

    Returns the input plus (bucket int, bucket_rank int).
    """
    from pyspark.sql.window import Window

    if not 1 <= buckets <= 256:
        raise ValueError(
            "buckets must be in [1, 256]: the bucket derives from one "
            f"hash byte (got {buckets})"
        )
    h = F.md5(
        F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
    )
    first_byte = F.conv(F.substring("_h", 1, 2), 16, 10).cast("int")
    out = df.withColumn("_h", h).withColumn(
        "bucket",
        ((first_byte * F.lit(buckets)) / F.lit(256)).cast("int"),
    )
    w = Window.partitionBy("bucket").orderBy("_h", id_col)
    return out.withColumn("bucket_rank", F.row_number().over(w)).drop("_h")


def weighted_sample(
    df: DataFrame,
    n: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "wsample",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministic: the
    Efraimidis–Spirakis (2006) exponential-sort scheme with the RNG
    replaced by a keyed hash — each row's uniform is
    ``u = (h + 1) / 16^12`` from 12 hex chars of ``md5(salt:id)``, its
    priority is ``ln(u) / w``, and the sample is the top-``n``
    priorities.  Inclusion probabilities match true ES sampling (the
    hash is as uniform as an RNG draw), but identical inputs select
    identical rows on any cluster layout, any partitioning, any retry —
    the property a reproducible training-data pipeline needs, same
    rationale as ``hash_split``/``temperature_mix``.  A changed
    ``salt`` is a fresh independent sample.

    Plan: a map-only priority projection + TakeOrdered top-n — no
    global sort, no shuffle beyond the bounded top-n merge.  Rows with
    non-positive or null weight are excluded (zero mass cannot be
    sampled).

    Returns the sampled rows (all input columns), exactly
    ``min(n, #positive-weight rows)`` of them.
    """
    w = F.col(weight_col).cast("double")
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(salt),
                              F.col(id_col).cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("double")
    u = (h + F.lit(1.0)) / F.lit(float(16 ** 12))
    priority = F.log(u) / w
    return (
        df.filter(w > 0)
        .withColumn("_pri", priority)
        .orderBy(F.desc("_pri"), F.col(id_col))
        .limit(n)
        .drop("_pri")
    )


def negative_pairs(
    df: DataFrame,
    k: int = 2,
    id_col: str = "doc_id",
    salt: str = "negpair",
    buckets: int = 256,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: pair
    every document with ``k`` pseudo-random OTHER documents — no RNG,
    no cartesian product.  Rows get a global pseudo-random index from
    the keyed-hash permutation (:func:`shuffle_rows`'s (bucket, rank)
    order plus driver-side bucket offsets — the bucket is a MONOTONE
    scale of the hash prefix, so this equals the plain ``ORDER BY md5,
    id`` order a SQL oracle states, for any ``buckets`` value
    shuffle_rows accepts); negative j of the doc at index g is the doc at
    ``(g + step_j) % N`` with fixed stride ``step_j = max(1,
    N*j//(k+1))``.  Because the permutation is hash-random, fixed
    strides yield pseudo-random partners, yet identical inputs produce
    identical pairs on any layout or retry, and a changed ``salt`` is a
    fresh pairing.

    Cost: one bucket-partitioned rank window, a ≤``buckets``-row
    driver collect for offsets, and ONE integer equi-join mapping
    partner indices back to ids (k map-side projections share it via
    the union).  Self-pairs (possible only when N <= k) are filtered.

    Returns (id_col, neg_id, neg_rank) — k rows per input doc.
    """
    ids = df.select(id_col)
    sr = shuffle_rows(ids, id_col, salt=salt, buckets=buckets)
    per_bucket = {
        r["bucket"]: r["c"]
        for r in sr.groupBy("bucket").agg(F.count("*").alias("c")).collect()
    }
    n = sum(per_bucket.values())
    if n < 2:
        return ids.select(
            F.col(id_col),
            F.lit(None).cast("long").alias("neg_id"),
            F.lit(None).cast("int").alias("neg_rank"),
        ).limit(0)
    offsets, acc = [], 0
    for b in range(buckets):
        offsets.append(acc)
        acc += per_bucket.get(b, 0)
    off = F.element_at(
        F.array(*[F.lit(o) for o in offsets]), F.col("bucket") + 1
    )
    idx = tracked_cache(sr.select(
        F.col(id_col), (off + F.col("bucket_rank") - 1).alias("gidx")
    ))  # anchor side + partner lookup side
    steps = [max(1, (n * j) // (k + 1)) for j in range(1, k + 1)]
    probes = None
    for j, s in enumerate(steps, start=1):
        p = idx.select(
            F.col(id_col),
            ((F.col("gidx") + F.lit(s)) % F.lit(n)).alias("pidx"),
            F.lit(j).alias("neg_rank"),
        )
        probes = p if probes is None else probes.unionAll(p)
    partners = idx.select(
        F.col("gidx").alias("pidx"), F.col(id_col).alias("neg_id")
    )
    out = probes.join(partners, "pidx").drop("pidx")
    return out.filter(F.col(id_col) != F.col("neg_id")).select(
        id_col, "neg_id", "neg_rank"
    )
