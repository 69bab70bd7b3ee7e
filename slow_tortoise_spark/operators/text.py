"""Text analysis operators for training-data pipelines.

Beyond the reference's scope: the building blocks a 100 TB document
pipeline needs — token counting, quality scoring, language ID, and
document fingerprinting. Everything is native Column expressions
(regexp/split/md5 are JVM-side, codegen'd), so these run at scan
throughput with zero Python in the hot path.

All operators take/return DataFrames keyed by ``doc_id`` with a ``text``
column (the `documents` table shape).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from slow_tortoise_spark.memo import remembered
from slow_tortoise_spark.operators.cachectl import scoped, tracked_cache

#: Tiny per-language stopword sets for the n-gram/stopword-ratio language
#: heuristic. Deliberately small and deterministic (no model dependency).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "que", "dans"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "zu"),
}

_TOKEN_SPLIT = r"\s+"
#: BPE-ish word/number/punctuation pieces (GPT-2-style coarse classes).
_BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _match_any(values: tuple[str, ...], lower: bool = False):
    """Single-parameter predicate: element equals any of ``values``.

    OR-chain equality — ``isin`` can't bind to lambda variables inside
    higher-order functions, a plain disjunction can.
    """

    def predicate(t: Column) -> Column:
        probe = F.lower(t) if lower else t
        out = F.lit(False)
        for v in values:
            out = out | (probe == F.lit(v))
        return out

    return predicate


def tokens_col(text: Column) -> Column:
    """Whitespace tokens (empty strings removed)."""
    return F.filter(F.split(F.trim(text), _TOKEN_SPLIT), lambda t: t != "")


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a narrow scan across the cluster before CPU-heavy explodes.

    Small single-row-group parquet files scan as one partition, which
    would serialize tokenize/explode/hash work onto one core (measured:
    the whole bigram-LM scoring pass ran as a 1-task stage on the
    single-file sf0.1 documents table); at real scale inputs arrive as
    many files and this is a no-op.  The partition-count probe converts
    the plan to an RDD, ~80 ms of driver time per fresh DataFrame, so
    the count is remembered per analyzed plan (see
    :mod:`slow_tortoise_spark.memo`).
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    n = remembered(df.sparkSession, ("fan_out", df.semanticHash()),
                   lambda: df.rdd.getNumPartitions())
    if n < max(parallelism // 2, 2):
        return df.repartition(parallelism)
    return df


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens_col(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Count of BPE-ish pieces: letter runs, digit runs, single symbols."""
    return F.size(F.regexp_extract_all(text, F.lit(_BPE_ISH), F.lit(0)))


def quality_features(
    df: DataFrame, text_col: str = "text", toks_col: str | None = None
) -> DataFrame:
    """Per-document quality metrics: lengths, ratios, stopword density.

    Columns added: n_chars_computed, n_tokens, n_bpe_tokens, avg_token_len,
    punct_ratio, digit_ratio, upper_ratio, stopword_ratio, quality_score.

    ``toks_col`` names an already-projected whitespace-token-array
    attribute to read instead of tokenizing here — the corpus gate
    materializes ONE token array shared by every gate operator.
    """
    text = F.col(text_col)
    # tokens materialized once per row: each HOF consumer (size, the
    # stopword filter) is CodegenFallback and re-evaluates an inline
    # tokenizer subtree on every use — an attribute costs one eval
    toks = F.col(toks_col or "_qf_toks")
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    n_punct = F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    n_digit = F.length(text) - F.length(F.regexp_replace(text, r"[0-9]", ""))
    n_upper = F.length(text) - F.length(F.regexp_replace(text, r"[A-Z]", ""))
    # NB: F.filter treats a two-parameter lambda as (element, index) — use
    # single-parameter closures only.
    en = LANG_STOPWORDS["en"]
    n_stop = F.size(F.filter(toks, _match_any(en, lower=True)))

    if toks_col is None:
        df = df.withColumn("_qf_toks", tokens_col(text))
    out = (
        df.withColumn("n_chars_computed", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("n_bpe_tokens", bpe_ish_token_count(text))
        .withColumn(
            "avg_token_len",
            F.when(n_tokens > 0,
                   (n_chars - n_tokens + 1).cast("double") / n_tokens),
        )
        .withColumn("punct_ratio", n_punct.cast("double") / F.greatest(n_chars, F.lit(1)))
        .withColumn("digit_ratio", n_digit.cast("double") / F.greatest(n_chars, F.lit(1)))
        .withColumn("upper_ratio", n_upper.cast("double") / F.greatest(n_chars, F.lit(1)))
        .withColumn(
            "stopword_ratio",
            n_stop.cast("double") / F.greatest(n_tokens, F.lit(1)),
        )
    )
    # A simple monotone score: long-enough docs with modest punctuation and
    # some stopwords score high. Deterministic; tune per corpus.
    out = out.withColumn(
        "quality_score",
        F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0))
        * (F.lit(1.0) - F.least(F.col("punct_ratio") * 2, F.lit(1.0)))
        * (F.lit(0.5) + F.least(F.col("stopword_ratio") * 2, F.lit(0.5))),
    )
    return out if toks_col else out.drop("_qf_toks")


def language_id(
    df: DataFrame, text_col: str = "text", ltoks_col: str | None = None
) -> DataFrame:
    """Stopword-hit language heuristic → ``lang_pred`` + per-lang hit counts.

    For each language, count tokens that are in its stopword set; the
    argmax wins, with 'und' (undetermined) when nothing hits. Ties break
    by language-code order for determinism.

    ``ltoks_col`` names an already-projected LOWERCASED token-array
    attribute to read instead of tokenizing here (the shared gate array;
    ``transform(tokens_col(text), lower)`` ≡ ``tokens_col(lower(text))``
    — lowercasing never creates or removes whitespace).
    """
    # lowered tokens materialized ONCE: the per-language stopword
    # filters are CodegenFallback HOFs — inline, each language would
    # re-run the whole tokenizer per row
    toks = F.col(ltoks_col or "_lid_toks")
    out = df if ltoks_col else df.withColumn(
        "_lid_toks", tokens_col(F.lower(F.col(text_col)))
    )
    for lang, words in LANG_STOPWORDS.items():
        out = out.withColumn(
            f"hits_{lang}", F.size(F.filter(toks, _match_any(words)))
        )
    langs = sorted(LANG_STOPWORDS)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties → apply last
        pred = F.when(F.col(f"hits_{lang}") == best, F.lit(lang)).otherwise(pred)
    return out.withColumn(
        "lang_pred", F.when(best > 0, pred).otherwise(F.lit("und"))
    ).drop("_lid_toks")


def fingerprint(
    df: DataFrame, text_col: str = "text", out_col: str = "fingerprint"
) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized, lowercased text.

    Stable across formatting-only edits; the exact-dedup key.
    """
    normalized = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return df.withColumn(out_col, F.md5(normalized))


#: PII patterns chosen for regex-dialect portability (Java regex on the
#: Spark side, RE2 in DuckDB oracles — no lookbehind, no possessive
#: quantifiers).  Order matters: emails before the generic digit runs.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
)


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub common PII patterns (emails, dashed/dotted phone numbers,
    IPv4 addresses) from a text column — the standard pre-training
    privacy pass.

    Adds ``redacted`` (text with each match replaced by a typed
    placeholder) and one ``n_<kind>`` count per pattern.  Pure per-row
    regexp column expressions: scan throughput, zero shuffle, and the
    counts come from ``regexp_count`` BEFORE replacement so overlapping
    kinds (an IPv4 inside an email never occurs, but phone-like digit
    runs inside emails can) are counted on the original text.
    """
    out = df
    redacted = F.col(text_col)
    for kind, pat, token in PII_PATTERNS:
        out = out.withColumn(f"n_{kind}", F.regexp_count(text_col, F.lit(pat)))
        redacted = F.regexp_replace(redacted, pat, token)
    return out.withColumn("redacted", redacted)


def unigram_logprob(
    df: DataFrame, text_col: str = "text", round_to: int | None = None
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM — the CCNet-style fluency/quality signal (docs of rare or
    garbled vocabulary score low; boilerplate scores high).

    Shape for 100 TB: TWO corpus passes total — one vocab aggregation
    whose Σcnt doubles as the total-token scalar (summing the
    vocab-sized aggregate, NOT re-scanning the token stream), then the
    scoring pass equi-joins the vocab (AQE broadcasts it while it fits
    — unigram vocabularies grow sublinearly in the corpus) and a final
    per-doc aggregate averages ``ln(count/total)``.  Smoothing is
    unnecessary by construction: every token of every doc is part of
    the vocab it is scored against.

    ``round_to`` rounds the mean (engine-portable float parity for
    oracles); None keeps full precision.
    """
    # tracked_cache: the token stream feeds the vocab aggregate (paid
    # immediately by the total-count collect below), the scoring join's
    # stream side, AND the vocab's re-derivation inside that join —
    # uncached, the corpus would tokenize three times
    toks = tracked_cache(
        fan_out(df.select("doc_id", text_col)).select(
            "doc_id",
            F.explode(tokens_col(F.lower(F.col(text_col)))).alias("tok"),
        )
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt")).first()[0]
    scored = toks.join(vocab, "tok").select(
        "doc_id", (F.log(F.col("cnt") / F.lit(float(total)))).alias("lp")
    )
    agg = scored.groupBy("doc_id").agg(
        F.avg("lp").alias("mean_logprob"), F.count("*").alias("n_tokens")
    )
    if round_to is not None:
        agg = agg.withColumn("mean_logprob", F.round("mean_logprob", round_to))
    return agg


def top_tfidf_terms(
    df: DataFrame, k: int = 5, text_col: str = "text",
    round_to: int | None = None,
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF
    (keyword extraction / topic fingerprinting for corpus triage).

    tf = term count in doc; idf = ln((N+1)/(df+1)) + 1 (the smoothed
    scikit-style form — never zero, portable math).  Shape: one grouped
    count builds (doc, term, tf) — map-side combined; term document
    frequencies aggregate from THAT frame (never a second corpus scan);
    N is a driver scalar; the per-doc top-k is a ranking window
    partitioned by doc. Ties break lexicographically for engine-portable
    determinism.
    """
    import math

    toks = fan_out(df.select("doc_id", text_col)).select(
        "doc_id", F.explode(tokens_col(F.lower(F.col(text_col)))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = df.select("doc_id").distinct().count()
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log((F.lit(float(n_docs) + 1.0)) / (F.col("df") + 1.0)) + 1.0
    scored = tf.join(dfreq, "term").select(
        "doc_id", "term", (F.col("tf") * idf).alias("tfidf")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.col("term"))
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    if round_to is not None:
        out = out.withColumn("tfidf", F.round("tfidf", round_to))
    return out.select("doc_id", "rank", "term", "tfidf")


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping token windows (context-window
    packing prep): chunk i covers tokens [1 + i·stride, … + chunk_tokens)
    with stride = chunk_tokens − overlap; the final chunk may be short.
    Docs shorter than one stride yield a single chunk; empty docs yield
    none.

    Pure per-row column math — tokenize once, generate start offsets
    with ``sequence`` (step = stride), ``posexplode`` into (chunk_id,
    chunk_text) — so chunking runs at scan throughput with zero
    shuffle; at 100 TB this is the map side of a repack job.  Output:
    (doc_id, chunk_id 0-based, n_chunk_tokens, chunk_text).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    # last start s satisfies s ≤ n − overlap (so every chunk adds ≥1 new
    # token); clamp to ≥1 so short non-empty docs produce one chunk
    starts = F.when(
        n >= 1,
        F.sequence(F.lit(1), F.greatest(n - F.lit(overlap), F.lit(1)),
                   F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    out = df.select(
        "doc_id",
        toks.alias("_toks"),
        F.posexplode(starts).alias("chunk_id", "_start"),
    )
    piece = F.slice("_toks", F.col("_start"), chunk_tokens)
    return out.select(
        "doc_id",
        "chunk_id",
        F.size(piece).alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def pack_chunks(
    df: DataFrame,
    context_len: int,
    len_col: str = "n_chunk_tokens",
    sort_cols: tuple[str, ...] = ("doc_id", "chunk_id"),
) -> DataFrame:
    """Greedy sequence packing: assign chunks to context-window bins so
    each bin's token total stays ≤ ``context_len`` (training-batch
    utilization — padding waste shrinks as bins fill).

    Distributed approximation: chunks are hash-repartitioned on the
    first sort column, and each PARTITION packs its own chunks with
    first-fit-decreasing (11/9·OPT + 1 per partition — the classic FFD
    bound; global optimality is not attempted, exactly how large-scale
    packing jobs shard).  Per-partition packing is an imperative
    algorithm with data-dependent state — precisely the case for
    ``mapInPandas``; everything around it (repartition, ordering,
    bin-fill audit) stays declarative.  Bin ids are globally unique
    (partition id × 2^40 + local index) and the assignment is
    deterministic for a fixed partition count: rows sort by
    (−length, *sort_cols) before packing.

    Chunks LONGER than ``context_len`` get a bin of their own (callers
    detect them via a bin-fill audit and decide to truncate/split —
    this operator never silently drops tokens).  Output: input columns
    + ``bin_id``.
    """
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        df.schema.fields + [T.StructField("bin_id", T.LongType())]
    )

    def pack(batches):
        frames = [pdf for pdf in batches if len(pdf)]
        if not frames:
            return
        whole = pd.concat(frames, ignore_index=True)
        pid = int(whole["_pid"].iloc[0])
        whole = whole.sort_values(
            ["_neg_len", *sort_cols], kind="mergesort"
        )
        fills: list[int] = []
        ids: list[int] = []
        base = pid << 40
        for ln in (-whole["_neg_len"]).astype(int):
            placed = None
            for i, f in enumerate(fills):
                if f + ln <= context_len:
                    placed = i
                    break
            if placed is None:
                fills.append(ln)
                placed = len(fills) - 1
            else:
                fills[placed] += ln
            ids.append(base + placed)
        whole = whole.assign(bin_id=ids).drop(columns=["_pid", "_neg_len"])
        yield whole

    prepared = (
        df.repartition(F.col(sort_cols[0]))
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_neg_len", -F.col(len_col).cast("long"))
    )
    return prepared.mapInPandas(pack, schema=out_schema)


def repetition_ratio(
    df: DataFrame, text_col: str = "text", n: int = 3,
    ltoks_col: str | None = None,
) -> DataFrame:
    """Intra-document repetition: fraction of n-gram shingles that are
    repeats of an earlier shingle in the same doc (the Gopher/Rae-style
    repetitiveness quality signal).

    Pure per-row column math — ``size(shingles) - size(array_distinct)``
    over the in-row array — so the whole metric runs at scan throughput
    with NO shuffle at all.  ``ltoks_col`` names an already-projected
    LOWERCASED token-array attribute (the shared gate array) to use
    instead of tokenizing here.
    """
    from slow_tortoise_spark.operators.dedup import shingles_from_tokens

    # token + shingle arrays land in their own projections so the
    # in-lambda slice never re-tokenizes and the two size() consumers
    # share one shingle build (lambda capture re-evaluates per element;
    # see shingles_from_tokens)
    sh = F.col("_sh")
    total = F.size(sh)
    distinct = F.size(F.array_distinct(sh))
    if ltoks_col is None:
        df = df.withColumn("_toks", tokens_col(F.lower(F.col(text_col))))
    return (
        df.withColumn("_sh", shingles_from_tokens(F.col(ltoks_col or "_toks"), n))
        .withColumn("n_shingles", total)
        .withColumn(
            "rep_ratio",
            ((total - distinct).cast("double") / F.greatest(total, F.lit(1))),
        )
        .drop("_toks", "_sh")
    )


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", top_k: int = 50
) -> DataFrame:
    """Corpus-wide adjacent character-pair frequencies within tokens —
    the counting step of byte-pair-encoding tokenizer training (each BPE
    merge round picks the most frequent adjacent pair; this computes that
    table in one distributed pass instead of the textbook single-machine
    loop).

    Pure column math per row (explode tokens, slide a 2-char window via
    ``substr`` over a ``sequence`` of offsets), one groupBy on the pair.
    Pair counts are weighted by token OCCURRENCES (standard BPE counts
    corpus frequency, not vocabulary frequency).  Deterministic top-k:
    count desc, then pair asc.

    Returns (pair, cnt) — ``top_k`` rows.
    """
    toks = fan_out(df.select(text_col)).select(
        F.explode(tokens_col(F.lower(F.col(text_col)))).alias("tok")
    )
    offs = F.when(
        F.length("tok") >= 2, F.sequence(F.lit(1), F.length("tok") - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = toks.select(
        F.explode(
            F.transform(offs, lambda i: F.col("tok").substr(i, F.lit(2)))
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count("*").alias("cnt"))
    return counts.orderBy(F.desc("cnt"), "pair").limit(top_k)


def bigram_logprob(
    df: DataFrame, text_col: str = "text", round_to: int | None = None
) -> DataFrame:
    """Per-document mean conditional bigram log-probability under the
    corpus's own bigram LM — one model order up from
    :func:`unigram_logprob` (CCNet-style LM filtering uses higher-order
    models; bigrams already separate locally-coherent text from
    bag-of-frequent-words boilerplate, which the unigram score ranks
    HIGH).

    ``p(cur|prev) = c(prev,cur) / Σ_w c(prev,w)`` — a proper MLE
    conditional; smoothing is unnecessary by construction since every
    scored bigram contributes to the counts it is scored against.

    Shape: bigram extraction is IN-ROW (a ``transform`` over the token
    array — zero shuffle until the count aggregates); then one bigram
    groupBy, a prev-marginal aggregate OF THAT RESULT (vocab-sized, not
    corpus-sized), an equi-join back, and a per-doc average.  Docs with
    fewer than 2 tokens surface with n_bigrams=0 and mean 0.0 (row
    parity with the LEFT join, per the repetition_ratio lesson).
    """
    # Materialize the token array in its own projection FIRST: a
    # higher-order-function lambda is interpreted, so an expression
    # captured from outside (here the split+filter tokenizer) re-runs
    # per ELEMENT — per-row cost O(tokens x text length).  An attribute
    # reference is O(1) per element (measured 4-6x on the bigram pass).
    # tracked_cache: the bigram stream feeds the count aggregate AND
    # the scoring join — uncached, both subtrees re-tokenize the corpus
    # (Spark never reuses exchanges across a self-reference); the cache
    # is tokens ≈ one corpus copy, the exploded bigram stream itself
    # stays deliberately uncached.
    tokd = tracked_cache(
        fan_out(df.select("doc_id", text_col)).select(
            "doc_id", tokens_col(F.lower(F.col(text_col))).alias("_t")
        )
    )
    t = F.col("_t")
    idx = F.when(
        F.size(t) >= 2, F.sequence(F.lit(2), F.size(t))
    ).otherwise(F.array().cast("array<int>"))  # sequence(2,1) DESCENDS
    big = tokd.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(t, i - 1).alias("prev"),
                    F.element_at(t, i).alias("cur"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.prev", "bg.cur")
    c2 = big.groupBy("prev", "cur").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    scored = (
        big.join(c2, ["prev", "cur"]).join(c1, "prev")
        .select(
            "doc_id",
            F.log(F.col("c2") / F.col("c1")).alias("lp"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.avg("lp").alias("mean_logprob"),
        F.count("*").alias("n_bigrams"),
    )
    out = (
        df.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("mean_logprob", F.lit(0.0)).alias("mean_logprob"),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        )
    )
    if round_to is not None:
        out = out.withColumn("mean_logprob", F.round("mean_logprob", round_to))
    return out


def perplexity_buckets(
    df: DataFrame,
    strata_col: str = "source",
    n_buckets: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): rank each
    stratum's documents by LM score and cut into ``n_buckets`` equal
    tiles — head (best-scored), middle, tail.  CCNet trains per-language
    KenLM models and keeps head+middle; here the LM is the corpus's own
    bigram model (:func:`bigram_logprob`) and the stratum is any column
    (language, source domain, crawl snapshot).

    Buckets are NTILE tiles over (lp_micro DESC, doc_id), NOT value
    thresholds: interpolated-percentile cuts produce engine-dependent
    float boundaries, while NTILE over an integer key with a total-order
    tiebreak is bit-deterministic on any engine and any partitioning —
    the same determinism pattern as hash_split/temperature_mix.

    Scale shape: the LM scoring is the dominant cost (see
    bigram_logprob — in-row bigram extraction, vocab-sized marginals);
    the bucketing itself adds ONE per-stratum window over doc-level
    rows (corpus-reduced: one row per document), so a pathologically
    large single stratum costs a single-task sort of its doc rows only
    — range-partition the stratum if that ever bites.

    Returns (doc_id, strata, lp_micro, n_bigrams, bucket, label);
    ``label`` is head/middle/tail for 3 buckets, ``b{i}`` otherwise.
    """
    from pyspark.sql.window import Window

    scored = bigram_logprob(df, text_col=text_col).select(
        "doc_id",
        F.round(F.col("mean_logprob") * 1e6).cast("bigint").alias(
            "lp_micro"
        ),
        "n_bigrams",
    )
    joined = scored.join(
        df.select("doc_id", F.col(strata_col).alias("strata")), "doc_id"
    )
    w = Window.partitionBy("strata").orderBy(
        F.desc("lp_micro"), F.col("doc_id")
    )
    out = joined.withColumn("bucket", F.ntile(n_buckets).over(w))
    if n_buckets == 3:
        label = (
            F.when(F.col("bucket") == 1, "head")
            .when(F.col("bucket") == 2, "middle")
            .otherwise("tail")
        )
    else:
        label = F.concat(F.lit("b"), F.col("bucket").cast("string"))
    return out.select(
        "doc_id", "strata", "lp_micro", "n_bigrams", "bucket",
        label.alias("label"),
    )


def unigram_logprob_under(
    target: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    round_to: int | None = None,
) -> DataFrame:
    """Score ``target`` documents under a REFERENCE corpus's add-one-
    smoothed unigram LM — the actual CCNet setup (score web text under a
    trusted-corpus LM), where :func:`unigram_logprob` is the
    self-corpus variant.  Out-of-vocabulary tokens take the add-one
    floor ``1/(N+V+1)``, so unlike the self-corpus scorer this one NEEDS
    smoothing: the target can contain tokens the reference never saw.

    ``p(w) = (c_ref(w) + 1) / (N_ref + V_ref + 1)`` — add-one over the
    reference vocabulary plus one shared OOV bucket.  Shape: one
    reference pass builds the vocab (N and V then come from summing the
    VOCAB-sized aggregate, not re-scanning), one target pass LEFT-joins
    it (AQE broadcasts a fitting vocab), one per-doc average.  Docs with
    zero tokens keep row parity with zeros.
    """
    ref_toks = fan_out(reference.select(text_col)).select(
        F.explode(tokens_col(F.lower(F.col(text_col)))).alias("tok")
    )
    # tracked_cache the VOCAB-sized aggregate (not the token stream):
    # the N/V collect below materializes it once; without the cache the
    # scoring join would re-tokenize the whole reference to rebuild it
    vocab = tracked_cache(
        ref_toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    )
    stats = vocab.agg(
        F.sum("cnt").alias("n"), F.count("*").alias("v")
    ).first()
    denom = float((stats["n"] or 0) + (stats["v"] or 0) + 1)

    toks = fan_out(target.select("doc_id", text_col)).select(
        "doc_id", F.explode(tokens_col(F.lower(F.col(text_col)))).alias("tok")
    )
    scored = toks.join(vocab, "tok", "left").select(
        "doc_id",
        F.log((F.coalesce("cnt", F.lit(0)) + 1) / F.lit(denom)).alias("lp"),
        F.col("cnt").isNull().cast("int").alias("oov"),
    )
    agg = scored.groupBy("doc_id").agg(
        F.avg("lp").alias("mean_logprob"),
        F.count("*").alias("n_tokens"),
        F.sum("oov").alias("n_oov"),
    )
    out = (
        target.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("mean_logprob", F.lit(0.0)).alias("mean_logprob"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
        )
    )
    if round_to is not None:
        out = out.withColumn("mean_logprob", F.round("mean_logprob", round_to))
    return out


# ---------------------------------------------------------------------------
# URL / domain curation (web-corpus provenance ops)
# ---------------------------------------------------------------------------

#: http(s) URLs up to whitespace or common delimiters. Kept to a subset
#: of regex syntax that behaves identically under Java regex (Spark) and
#: RE2 (DuckDB) so oracles replay verbatim.
URL_PATTERN = r"""https?://[^\s)>\]"']+"""

#: Capture group 1 = the host part (stop at /, :, ?, #).
DOMAIN_PATTERN = r"""^https?://([^/:?#]+)"""


def extract_urls(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, url, domain) — one row per URL occurrence in each doc.

    Pure codegen'd column ops: ``regexp_extract_all`` + explode + a
    domain ``regexp_extract``. Linear scan, no shuffle.
    """
    return (
        df.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(text_col, F.lit(URL_PATTERN), 0)
            ).alias("url"),
        )
        .withColumn(
            "domain", F.lower(F.regexp_extract("url", DOMAIN_PATTERN, 1))
        )
    )


def domain_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level provenance table: per domain, total URL occurrences
    and the number of distinct documents citing it. One explode + one
    groupBy (the distinct-doc count rides the same shuffle via
    count_distinct) — the standard pre-filter artifact for domain
    blocklists and per-domain caps."""
    return (
        extract_urls(df, text_col)
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
    )


def filter_blocklisted_domains(
    df: DataFrame, blocklist: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Drop every document that cites ANY blocklisted domain.

    ``blocklist`` is a one-column (``domain``) frame. Shape: extract →
    semi-join the doc's domains against the blocklist (AQE broadcasts a
    real-world blocklist — thousands of rows — for free) → LEFT ANTI
    back to the corpus on doc_id. Two joins over the URL stream, zero
    doc×doc terms; the corpus itself shuffles only on doc_id.
    """
    flagged = (
        extract_urls(df, text_col)
        .join(blocklist.select(F.lower("domain").alias("domain")), "domain",
              "left_semi")
        .select("doc_id")
        .distinct()
    )
    return df.join(flagged, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# Iterative BPE merge training
# ---------------------------------------------------------------------------

def bpe_word_freq(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct-word frequency table with each word exploded to spaced
    symbols — the state BPE training iterates on.

    The 100 TB move happens HERE: one shuffle collapses the corpus to
    its distinct lowercased tokens (``(sym, wc)``); every subsequent
    merge iteration touches only this small vocabulary table, never the
    corpus again — the standard word-frequency formulation of BPE
    training, distributed.

    Symbol encoding: symbols joined AND flanked by double spaces
    (``"  h  e  y  "``).  A merge of (a, b) is then the literal
    ``replace(" a  b ", " ab ")``: the pattern consumes one space of
    each double boundary and the replacement restores it, so
    immediately-repeated pairs ("a b a b") all merge in one left-to-right
    pass — the greedy BPE semantics — while symbol-internal text can
    never match (no double space inside a symbol). Literal replace, no
    regex: Java and RE2 engines never enter the picture, so a DuckDB
    oracle replays merges exactly.
    """
    toks = fan_out(df.select(text_col)).select(
        F.explode(tokens_col(F.lower(F.col(text_col)))).alias("tok")
    )
    return toks.groupBy("tok").agg(F.count("*").alias("wc")).select(
        F.concat(
            F.lit("  "), F.array_join(F.split("tok", ""), "  "), F.lit("  ")
        ).alias("sym"),
        "wc",
    )


def _bpe_top_pair(words: DataFrame):
    """Most frequent adjacent symbol pair, occurrence-weighted.

    Ties break (count desc, lhs asc, rhs asc) so training is
    deterministic across engines and partitionings.  Returns one Row —
    the single bounded driver collect each BPE iteration needs.
    """
    parts = F.split(F.trim("sym"), "  ")
    pairs = words.select(
        F.col("wc"),
        F.explode(
            F.zip_with(
                F.slice(parts, 1, F.greatest(F.size(parts) - 1, F.lit(0))),
                F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
            )
        ).alias("p"),
    )
    return (
        pairs.groupBy("p.lhs", "p.rhs")
        .agg(F.sum("wc").alias("cnt"))
        .orderBy(F.desc("cnt"), "lhs", "rhs")
        .first()
    )


@scoped
def bpe_train(
    df: DataFrame, num_merges: int = 8, text_col: str = "text"
) -> DataFrame:
    """Learn ``num_merges`` BPE merges; returns the ordered merge table
    (rank, lhs, rhs, cnt) — the artifact a tokenizer ships.

    Driver loop by design: BPE is inherently sequential (merge k+1's
    counts depend on merge k), so each iteration runs one distributed
    pair-count over the CACHED vocabulary table and collects exactly one
    row (the argmax pair) — bounded driver data, corpus touched once at
    :func:`bpe_word_freq`.  The merge itself is a literal column
    ``replace`` (see the encoding contract there), stacked lazily; the
    vocab is re-cached every few iterations to keep the replay chain
    shallow.
    """
    spark = df.sparkSession
    cur = tracked_cache(bpe_word_freq(df, text_col))
    merges = []
    for rank in range(1, num_merges + 1):
        top = _bpe_top_pair(cur)
        if top is None or top["cnt"] is None:
            break
        lhs, rhs = top["lhs"], top["rhs"]
        merges.append((rank, lhs, rhs, int(top["cnt"])))
        cur = cur.withColumn(
            "sym",
            F.replace(
                F.col("sym"),
                F.lit(f" {lhs}  {rhs} "),
                F.lit(f" {lhs}{rhs} "),
            ),
        )
        # Re-materialize periodically: each merge stacks one Project over
        # the vocab; caching every 8th keeps recompute O(8) replaces
        # instead of O(k) while bounding pinned copies.
        if rank % 8 == 0 and rank < num_merges:
            cur = tracked_cache(cur)
    return spark.createDataFrame(
        merges, "rank bigint, lhs string, rhs string, cnt bigint"
    )


def bpe_segmented_vocab(
    df: DataFrame, num_merges: int = 8, text_col: str = "text"
) -> DataFrame:
    """Vocabulary segmented by the learned merges: (token, pieces, wc).

    Re-applies the merge table to the word-frequency state (the replace
    chain is deterministic, so replaying it is cheaper than carrying the
    trained frame's lineage) and splits the final symbol string back
    into pieces — what an encoder would emit per word.
    """
    merges = bpe_train(df, num_merges, text_col).collect()
    words = bpe_word_freq(df, text_col)
    sym = F.col("sym")
    for m in merges:
        sym = F.replace(
            sym,
            F.lit(f" {m['lhs']}  {m['rhs']} "),
            F.lit(f" {m['lhs']}{m['rhs']} "),
        )
    return words.select(
        F.replace(F.trim(sym), F.lit("  "), F.lit(" ")).alias("pieces"),
        "wc",
    )


def winnow_fingerprints(
    df: DataFrame, k: int = 5, w: int = 4, text_col: str = "text"
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every ``k``-token gram, then
    in each window of ``w`` consecutive gram hashes select the minimum
    (rightmost-position tie-break); the distinct selected (pos, hash)
    pairs are the fingerprint set.  Guarantees every shared substring of
    ``w + k - 1`` tokens contributes at least one common fingerprint —
    the robust local-dedup/plagiarism sketch between whole-doc md5 and
    full shingle sets.

    Hashes are the first 16 hex chars of md5 (lexicographic min — the
    corpus MinHash convention, so the DuckDB oracle replays it
    verbatim).  Docs with fewer than ``w`` grams yield no fingerprints
    (no full window exists).

    Shape: ENTIRELY in-row — grams, windows, per-window argmin
    (``F.aggregate`` over a slice), distinct + sort — zero shuffles
    before any downstream aggregation.  Per-row cost is O(grams x w);
    the classic rolling-deque O(grams) rewrite isn't expressible as a
    Column, and with the small ``w`` of practice the constant is noise
    next to md5.  At 100 TB this is a map-only stage that scales with
    input splits.

    Returns (doc_id, n_grams, fingerprints: array<struct<pos,h>>).
    """
    toks = tokens_col(F.lower(F.col(text_col)))
    base = df.select("doc_id", toks.alias("t"))
    n_grams = F.size("t") - F.lit(k - 1)
    gram_idx = F.when(n_grams >= 1, F.sequence(F.lit(1), n_grams)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        gram_idx,
        lambda i: F.struct(
            i.alias("pos"),
            F.substring(
                F.md5(F.array_join(F.slice("t", i, k), " ")), 1, 16
            ).alias("h"),
        ),
    )
    with_grams = base.select(
        "doc_id", F.greatest(n_grams, F.lit(0)).alias("n_grams"),
        grams.alias("g")
    )
    n_full = F.col("n_grams") - F.lit(w - 1)
    win_idx = F.when(n_full >= 1, F.sequence(F.lit(1), n_full)).otherwise(
        F.array().cast("array<int>")
    )
    # per-window argmin: min hash, rightmost position on ties ("~" sorts
    # after every hex digit, so the init loses to any real gram)
    pick = lambda j: F.aggregate(  # noqa: E731
        F.slice("g", j, w),
        F.struct(F.lit(0).alias("pos"), F.lit("~").alias("h")),
        lambda acc, x: F.when(
            (x["h"] < acc["h"])
            | ((x["h"] == acc["h"]) & (x["pos"] > acc["pos"])),
            x,
        ).otherwise(acc),
    )
    selected = F.array_sort(
        F.array_distinct(F.transform(win_idx, pick))
    )
    return with_grams.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        selected.alias("fingerprints"),
    )


# ---------------------------------------------------------------------------
# DSIR: hashed-n-gram importance weights for data selection
# ---------------------------------------------------------------------------


def dsir_bucket_logratios(
    raw_df: DataFrame,
    target_df: DataFrame,
    text_col: str = "text",
    buckets: int = 1024,
    alpha: float = 1.0,
    salt: str = "dsir",
) -> DataFrame:
    """Per-bucket importance log-ratios for DSIR data selection (Xie et
    al. 2023, "Data Selection for Language Models via Importance
    Resampling"): tokens hash into ``buckets`` buckets; the target and
    raw corpora each induce a smoothed bucket distribution; bucket b's
    weight is ``ln(p_target(b) / p_raw(b))`` with add-``alpha``
    smoothing over the full bucket domain.

    The ratio is emitted as an INTEGER micro-log (``round(lr * 1e6)``):
    one ln() call per bucket, rounded once — document scores downstream
    are then pure integer arithmetic, immune to float-sum ordering
    across engines (the ln itself is the only cross-engine float, and
    it is rounded to 1e-6 before any aggregation touches it).

    Scale shape: two token-bucket aggregations (map-side combined to at
    most ``buckets`` rows per task) + two scalar token counts read off
    those same aggregates — corpus size only affects scan CPU; the
    result is a ``buckets``-row frame, broadcastable by construction.

    Returns (b int, lr_micro bigint), exactly ``buckets`` rows.
    """
    spark = raw_df.sparkSession

    def bucket_counts(df: DataFrame):
        toks = fan_out(df.select(text_col)).select(
            F.explode(tokens_col(F.lower(F.col(text_col)))).alias("tok")
        )
        b = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{salt}:"), F.col("tok"))), 1, 4
                ),
                16,
                10,
            ).cast("long")
            % buckets
        )
        return toks.select(b.alias("b")).groupBy("b").agg(
            F.count("*").alias("c")
        )

    # The bucket-count frames are bounded at ``buckets`` rows, so
    # materialize them to the driver ONCE: each corpus aggregation runs
    # exactly one job, the scalar token totals come free from the
    # collected rows, and the returned frame joins two local (hence
    # broadcast) frames — no cache whose lifetime anyone has to manage.
    # (Round-5 ADVICE: the old cache was unpersisted before the lazy
    # result ever evaluated, so both aggregations re-ran downstream.)
    t_rows = bucket_counts(target_df).collect()
    r_rows = bucket_counts(raw_df).collect()
    T = sum(r["c"] for r in t_rows)
    R = sum(r["c"] for r in r_rows)
    schema = "b bigint, c bigint"
    tcnt = spark.createDataFrame(t_rows, schema)
    rcnt = spark.createDataFrame(r_rows, schema)
    dom = spark.range(buckets).select(F.col("id").alias("b"))
    t_den = float(T + alpha * buckets)
    r_den = float(R + alpha * buckets)
    joined = (
        dom.join(tcnt.withColumnRenamed("c", "t"), "b", "left")
        .join(rcnt.withColumnRenamed("c", "r"), "b", "left")
    )
    lr = F.log(
        ((F.coalesce(F.col("t"), F.lit(0)) + F.lit(alpha)) / F.lit(t_den))
        / ((F.coalesce(F.col("r"), F.lit(0)) + F.lit(alpha)) / F.lit(r_den))
    )
    return joined.select(
        "b", F.round(lr * 1e6).cast("bigint").alias("lr_micro")
    )


def dsir_weights(
    raw_df: DataFrame,
    target_df: DataFrame,
    text_col: str = "text",
    buckets: int = 1024,
    alpha: float = 1.0,
    salt: str = "dsir",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document DSIR importance weight: the sum of its tokens'
    bucket micro-log-ratios — documents whose hashed-unigram profile
    looks like the TARGET corpus score high; resample the raw corpus
    proportionally to (a temperature of) this weight to select
    pretraining data that matches a high-quality target distribution.

    Plan: per-(doc, bucket) integer counts (one shuffle, map-side
    combined), a broadcast join against the ``buckets``-row ratio
    frame, then one integer per-doc sum — every aggregation after the
    single ln() is BIGINT-exact, so scores replay bit-identically in a
    SQL oracle regardless of partitioning or summation order.  Docs
    with no tokens (null/empty text) keep weight 0 via the left join.

    Returns (id_col, n_tokens bigint, w_micro bigint), one row per raw
    doc.
    """
    lr = dsir_bucket_logratios(
        raw_df, target_df, text_col, buckets, alpha, salt
    )
    toks = fan_out(raw_df.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(tokens_col(F.lower(F.col(text_col)))).alias("tok"),
    )
    b = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"), F.col("tok"))), 1, 4
            ),
            16,
            10,
        ).cast("long")
        % buckets
    )
    per = toks.select(F.col(id_col), b.alias("b")).groupBy(id_col, "b").agg(
        F.count("*").alias("n")
    )
    scored = (
        per.join(F.broadcast(lr), "b")
        .groupBy(id_col)
        .agg(
            F.sum("n").alias("n_tokens"),
            F.sum(F.col("n") * F.col("lr_micro")).alias("w_micro"),
        )
    )
    return (
        raw_df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("w_micro", F.lit(0)).cast("bigint").alias("w_micro"),
        )
    )


def bpe_encode(
    df: DataFrame,
    num_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document BPE encoding statistics under a tokenizer trained on
    the same corpus: token count and post-merge piece count — the
    "how many tokens will this doc cost" signal a training-data
    pipeline budgets packing and pricing with.

    The encode path never touches the corpus with the merge chain:
    merges apply to the DISTINCT-token vocabulary (sublinear in corpus
    size), and documents join the segmented vocab by token (AQE
    broadcasts it while it fits).  Piece counts are integers, so the
    per-doc sums replay exactly in a SQL oracle that re-trains the same
    merges (bpe_train's replay chain) — full value check, not a smoke.

    Returns (id_col, n_tokens bigint, n_pieces bigint); docs with no
    tokens keep zeros.
    """
    merges = bpe_train(df, num_merges, text_col).collect()
    toks = fan_out(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(tokens_col(F.lower(F.col(text_col)))).alias("tok"),
    )
    sym = F.concat(
        F.lit("  "), F.array_join(F.split("tok", ""), "  "), F.lit("  ")
    )
    for m in merges:
        sym = F.replace(
            sym,
            F.lit(f" {m['lhs']}  {m['rhs']} "),
            F.lit(f" {m['lhs']}{m['rhs']} "),
        )
    seg = toks.select("tok").distinct().select(
        "tok", F.size(F.split(F.trim(sym), "  ")).alias("np")
    )
    enc = (
        toks.join(seg, "tok")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("np").alias("n_pieces"),
        )
    )
    return (
        df.select(id_col)
        .join(enc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("n_pieces", F.lit(0)).cast("bigint").alias("n_pieces"),
        )
    )


#: The eight "must contain >= 2" Gopher stop words (Rae et al. 2021).
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The Gopher quality rule set (Rae et al. 2021, "Scaling Language
    Models" App. A1.1) as one map-only pass: a per-document violation
    BITMASK —

    * bit 0 — word count outside [50, 100000]
    * bit 1 — mean word length outside [3, 10]
    * bit 2 — symbol-to-word ratio ('#' or '...') > 0.1
    * bit 3 — > 90% of lines start with a bullet
    * bit 4 — > 30% of lines end with an ellipsis
    * bit 5 — < 80% of words contain an alphabetic character
    * bit 6 — fewer than 2 of the 8 required stop words present

    Every ratio threshold is evaluated by INTEGER cross-multiplication
    (e.g. ``10 * symbols > n_words`` instead of ``symbols / n_words >
    0.1``), so the mask is exact on any engine — the SQL oracle replays
    it bit-for-bit, and there is no float boundary to disagree on.
    Null text counts zero words (fails bit 0), keeping accounting exact.

    Returns (id_col, n_words bigint, rule_mask bigint, passed int).
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    return (
        df.select(F.col(id_col), text.alias("_gop_text"))
        .withColumn("_gop_toks", tokens_col(F.col("_gop_text")))
        .withColumn("_gop_lines", F.split(F.col("_gop_text"), "\n"))
        .select(
            F.col(id_col),
            F.size(F.col("_gop_toks")).cast("bigint").alias("n_words"),
            gopher_mask_from_tokens(
                F.col("_gop_text"), F.col("_gop_toks"),
                lines=F.col("_gop_lines"),
            ).alias("rule_mask"),
        )
        .withColumn(
            "passed",
            F.when(F.col("rule_mask") == 0, F.lit(1))
            .otherwise(F.lit(0)),
        )
    )


def gopher_mask_col(text: Column) -> Column:
    """The Gopher violation bitmask as a pure Column over a (non-null)
    text expression — composable into any existing scan (the corpus
    pipeline folds it into the one-pass gate projection, zero extra
    shuffles).  NB: inlines the tokenizer into three HOF consumers —
    when the caller can project the token array first, prefer
    :func:`gopher_mask_from_tokens` (per-use re-evaluation, see
    shingles_from_tokens)."""
    return gopher_mask_from_tokens(text, tokens_col(text))


def gopher_mask_from_tokens(
    text: Column, toks: Column, lines: Column | None = None
) -> Column:
    """The Gopher bitmask with the token array supplied as an (ideally
    pre-projected attribute) column — the HOF consumers (sum_len's
    aggregate, the alpha-word filter, the stopword transform) then cost
    one token-array evaluation instead of three.  ``lines`` optionally
    supplies a pre-projected ``split(text, '\\n')`` attribute; inline,
    the three line consumers (count, bullet filter, ellipsis filter)
    each re-split per row."""
    n = F.size(toks).cast("bigint")
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    hashes = (F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))).cast("bigint")
    ellipses = (
        (F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))) / 3
    ).cast("bigint")
    lines = F.split(text, "\n") if lines is None else lines
    nlines = F.size(lines).cast("bigint")
    bullet_first = lambda l: (  # noqa: E731
        (F.substring(F.ltrim(l), 1, 1) == "-")
        | (F.substring(F.ltrim(l), 1, 1) == "*")
        | (F.substring(F.ltrim(l), 1, 1) == "•")
    )
    bullets = F.size(F.filter(lines, bullet_first)).cast("bigint")
    ell_end = lambda l: (  # noqa: E731
        (F.length(F.rtrim(l)) >= 3)
        & (
            F.rtrim(l).substr(F.length(F.rtrim(l)) - 2, F.lit(3)) == "..."
        )
    )
    ell_lines = F.size(F.filter(lines, ell_end)).cast("bigint")
    alpha_words = F.size(
        F.filter(toks, lambda t: t.rlike("[A-Za-z]"))
    ).cast("bigint")
    stop_hits = None
    low = F.transform(toks, lambda t: F.lower(t))
    for w in GOPHER_STOPS:
        hit = F.array_contains(low, w).cast("bigint")
        stop_hits = hit if stop_hits is None else stop_hits + hit

    r0 = (n < 50) | (n > 100000)
    r1 = (sum_len < 3 * n) | (sum_len > 10 * n)
    r2 = 10 * (hashes + ellipses) > n
    r3 = 10 * bullets > 9 * nlines
    r4 = 10 * ell_lines > 3 * nlines
    r5 = 5 * alpha_words < 4 * n
    r6 = stop_hits < 2
    mask = None
    for bit, cond in enumerate([r0, r1, r2, r3, r4, r5, r6]):
        term = F.when(cond, F.lit(1 << bit)).otherwise(F.lit(0)).cast("bigint")
        mask = term if mask is None else mask + term
    return mask


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
    out_col: str | None = None,
) -> DataFrame:
    """Unicode-normalize a text column (NFC/NFKC/NFD/NFKD) — the
    canonicalization pass that must precede any hash-based dedup on
    multilingual corpora: "é" as U+00E9 and as "e"+U+0301 are the same
    text but different bytes, so un-normalized fingerprints silently
    miss duplicates.

    This is one of the few justified Python paths in the engine: Spark
    SQL exposes no normalization builtin, and the stdlib
    ``unicodedata`` table IS the Unicode standard — deterministic
    across processes, so results replay against SQL engines that ship
    a normalizer (DuckDB ``nfc_normalize``; cross-checked in pytest on
    composed/decomposed fixtures).  Arrow-batched scalar pandas_udf:
    map-only, no shuffle, no per-row Python overhead beyond the batch
    boundary.
    """
    import pandas as pd

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    out_col = out_col or text_col

    def _norm_fn(s):
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize(form, x) if x is not None else None
        )

    # Real annotation objects (not strings): the module uses postponed
    # annotation evaluation, under which a decorator-style hint would
    # fail to resolve the function-local ``pd`` name.
    _norm_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _norm = F.pandas_udf(_norm_fn, "string")
    return df.withColumn(out_col, _norm(F.col(text_col)))


#: Common HTML entities worth decoding without an HTML parser (the long
#: tail is rare in web text and harmless to training if left encoded).
_HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # LAST: "&amp;lt;" must become "&lt;", not "<"
)


def strip_html(
    df: DataFrame, html_col: str = "text", out_col: str = "text"
) -> DataFrame:
    """Plain text from HTML markup — the extraction step between a web
    crawl and every text operator in this library.  Three regex tiers,
    all JVM-side (and RE2-compatible, so a SQL oracle replays them):

    1. ``<script>``/``<style>`` blocks drop with their CONTENT
       (``(?is)`` + non-greedy span), since code/CSS is not prose;
    2. remaining tags ``<[^>]*>`` are replaced by a space (block
       boundaries must not glue words: ``a</p><p>b`` → ``a b``);
    3. the six common entities decode via literal replaces, ``&amp;``
       deliberately last so double-encoded entities un-nest one level
       per pass instead of over-decoding.

    Whitespace is then collapsed and trimmed.  Adds ``n_tags`` (tag
    count BEFORE stripping — a markup-density quality signal).  This is
    the honest regex tier: a browser-grade parser (malformed nesting,
    CDATA, conditional comments) is a library dependency, not a Column
    expression — documents that need one should route through a gated
    mapInPandas like the media decoders.
    """
    raw = F.coalesce(F.col(html_col), F.lit(""))
    n_tags = F.size(
        F.regexp_extract_all(raw, F.lit(r"<[^>]*>"), F.lit(0))
    ).cast("bigint")
    txt = F.regexp_replace(raw, r"(?is)<script[^>]*>.*?</script>", " ")
    txt = F.regexp_replace(txt, r"(?is)<style[^>]*>.*?</style>", " ")
    txt = F.regexp_replace(txt, r"<[^>]*>", " ")
    for ent, rep in _HTML_ENTITIES:
        txt = F.replace(txt, F.lit(ent), F.lit(rep))
    txt = F.trim(F.regexp_replace(txt, r"\s+", " "))
    return df.withColumn("n_tags", n_tags).withColumn(out_col, txt)


def psi_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    buckets: int = 1024,
    alpha: float = 1.0,
    salt: str = "dsir",
) -> DataFrame:
    """Population stability index between two corpus snapshots over
    hashed-unigram buckets: per bucket, contribution =
    ``(p_a - p_b) * ln(p_a / p_b)`` with add-``alpha`` smoothing — the
    standard drift monitor (PSI < 0.1 stable, > 0.25 shifted) applied
    to text.  Run it between yesterday's and today's crawl before
    retraining decisions; a spiking bucket names the drifting
    vocabulary via its tokens.

    Same scale shape as DSIR (two bounded bucket aggregations, a
    ``buckets``-row result), and the same portability pattern: each
    bucket's contribution is a single float expression rounded to
    integer micros, so the TOTAL (an integer sum) replays exactly.

    Returns (b int, contrib_micro bigint), ``buckets`` rows; PSI =
    sum(contrib_micro) / 1e6.
    """
    spark = df_a.sparkSession

    def bucket_counts(df: DataFrame):
        toks = fan_out(df.select(text_col)).select(
            F.explode(tokens_col(F.lower(F.col(text_col)))).alias("tok")
        )
        b = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{salt}:"), F.col("tok"))), 1, 4
                ),
                16,
                10,
            ).cast("long")
            % buckets
        )
        return toks.select(b.alias("b")).groupBy("b").agg(
            F.count("*").alias("c")
        )

    # Bounded (≤ buckets rows) → collect once and rebuild as local
    # frames: one job per corpus, scalar totals free, no cache to
    # manage (round-5 ADVICE: unpersist-before-evaluation made the
    # aggregations re-run when the caller evaluated the result).
    a_rows = bucket_counts(df_a).collect()
    b_rows = bucket_counts(df_b).collect()
    A = sum(r["c"] for r in a_rows)
    B = sum(r["c"] for r in b_rows)
    schema = "b bigint, c bigint"
    ca = spark.createDataFrame(a_rows, schema)
    cb = spark.createDataFrame(b_rows, schema)
    a_den = float(A + alpha * buckets)
    b_den = float(B + alpha * buckets)
    dom = spark.range(buckets).select(F.col("id").alias("b"))
    joined = (
        dom.join(ca.withColumnRenamed("c", "ca"), "b", "left")
        .join(cb.withColumnRenamed("c", "cb"), "b", "left")
    )
    pa = (F.coalesce(F.col("ca"), F.lit(0)) + F.lit(alpha)) / F.lit(a_den)
    pb = (F.coalesce(F.col("cb"), F.lit(0)) + F.lit(alpha)) / F.lit(b_den)
    contrib = (pa - pb) * F.log(pa / pb)
    return joined.select(
        "b", F.round(contrib * 1e6).cast("bigint").alias("contrib_micro")
    )


def kn_bigram_logprob_under(
    target: DataFrame,
    reference: DataFrame,
    discount: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """Score ``target`` documents under a REFERENCE corpus's
    interpolated Kneser-Ney bigram LM — the standard smoothing for
    LM-based corpus filtering (a held-out document inevitably contains
    bigrams, contexts, and words the reference never saw, where the MLE
    of :func:`bigram_logprob` assigns zero and add-one over raw counts
    over-weights frequent-word boilerplate).

        p(w|v) = max(c(v,w) - D, 0)/c(v) + lam(v) * p_cont(w)
        lam(v) = D * N1+(v.)/c(v)
        p_cont(w) = (N1+(.w) + 1) / (N1+(..) + V + 1)

    with D = ``discount`` (0.75, the textbook default).  The
    continuation distribution takes an add-one floor over the bigram-
    type space so unseen words score finitely (a documented deviation
    from the textbook p_cont, which is zero on OOV — exactly the case a
    filtering LM must handle); an unseen CONTEXT backs off fully to
    p_cont(w), the Kneser-Ney construction's whole point.

    Every model quantity derives from ONE reference bigram-count
    aggregate (vocab-sized, not corpus-sized): c(v) and N1+(v.) roll up
    by context, N1+(.w) by continuation, N1+(..) and V are two scalar
    reads.  The target pays its own in-row bigram extraction plus two
    vocab-table joins (AQE broadcasts when they fit) and a per-doc
    average.  Same one-big-shuffle shape as :func:`bigram_logprob`.

    Returns (doc_id, mean_logprob, n_bigrams, n_unseen) — ``n_unseen``
    counts target bigrams absent from the reference (diagnostic for
    how far out-of-domain the target sits).  Docs with <2 tokens keep
    row parity with zeros.
    """
    def bigrams_of(df: DataFrame) -> DataFrame:
        # token array materialized first — lambda-captured expressions
        # re-evaluate per element (see bigram_logprob)
        tokd = fan_out(df.select("doc_id", text_col)).select(
            "doc_id", tokens_col(F.lower(F.col(text_col))).alias("_t")
        )
        t = F.col("_t")
        idx = F.when(
            F.size(t) >= 2, F.sequence(F.lit(2), F.size(t))
        ).otherwise(F.array().cast("array<int>"))
        return tokd.select(
            "doc_id",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at(t, i - 1).alias("prev"),
                        F.element_at(t, i).alias("cur"),
                    ),
                )
            ).alias("bg"),
        ).select("doc_id", "bg.prev", "bg.cur")

    # ONE reference scan builds every model quantity: the explode emits
    # each doc's bigram structs PLUS a (token, NULL) marker per token,
    # so the bigram-type counts and the unigram vocabulary fall out of
    # the same map-side-combined aggregate (real bigrams always have a
    # non-null cur, so NULL is a safe sentinel).  tracked_cache: the
    # aggregate feeds four consumers (ctx, cont, two scalar counts, and
    # the target join) — uncached, every one would re-tokenize the
    # corpus.  The cache is bigram-type + vocab sized, not corpus sized.
    t_ref = F.col("_t")  # materialized below — see bigrams_of
    bi = F.when(
        F.size(t_ref) >= 2,
        F.transform(
            F.sequence(F.lit(2), F.size(t_ref)),
            lambda i: F.struct(
                F.element_at(t_ref, i - 1).alias("prev"),
                F.element_at(t_ref, i).alias("cur"),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<prev:string,cur:string>>")
    )
    uni = F.transform(
        t_ref,
        lambda w: F.struct(
            w.alias("prev"), F.lit(None).cast("string").alias("cur")
        ),
    )
    all_counts = tracked_cache(
        fan_out(reference.select(text_col))
        .select(tokens_col(F.lower(F.col(text_col))).alias("_t"))
        .select(F.explode(F.concat(bi, uni)).alias("bg"))
        .select("bg.prev", "bg.cur")
        .groupBy("prev", "cur")
        .agg(F.count("*").alias("c2"))
    )
    c2 = all_counts.filter(F.col("cur").isNotNull())
    ctx = c2.groupBy("prev").agg(
        F.sum("c2").alias("c1"), F.count("*").alias("n1fwd")
    )
    cont = c2.groupBy("cur").agg(F.count("*").alias("n1back"))
    nn = c2.count() or 0
    # vocabulary = distinct tokens of the reference (unigram vocab):
    # the count of NULL-cur marker groups.
    v = all_counts.filter(F.col("cur").isNull()).count() or 0
    pc_den = float(nn + v + 1)

    tb = bigrams_of(target)
    joined = (
        tb.join(c2, ["prev", "cur"], "left")
        .join(ctx, "prev", "left")
        .join(cont, "cur", "left")
    )
    d = F.lit(float(discount))
    pc = (F.coalesce("n1back", F.lit(0)) + 1) / F.lit(pc_den)
    seen_ctx = F.col("c1").isNotNull() & (F.col("c1") > 0)
    p = F.when(
        seen_ctx,
        F.greatest(F.coalesce("c2", F.lit(0)) - d, F.lit(0.0))
        / F.col("c1")
        + (d * F.col("n1fwd") / F.col("c1")) * pc,
    ).otherwise(pc)
    scored = joined.select(
        "doc_id",
        F.log(p).alias("lp"),
        F.col("c2").isNull().cast("int").alias("unseen"),
    )
    agg = scored.groupBy("doc_id").agg(
        F.avg("lp").alias("mean_logprob"),
        F.count("*").alias("n_bigrams"),
        F.sum("unseen").alias("n_unseen"),
    )
    return (
        target.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("mean_logprob", F.lit(0.0)).alias("mean_logprob"),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("n_unseen", F.lit(0)).alias("n_unseen"),
        )
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 relevance of every document to a bag of query terms —
    the retrieval-scoring sibling of :func:`top_tfidf_terms` (ranked
    decontamination lookups, quality-by-query triage, seed-doc
    expansion for targeted corpus mining).

    Robertson/Lucene formulation with the always-positive idf:
    ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``,
    ``score = Σ_t idf_t · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``.

    Shape: ONE corpus scan materializes the token array (the shared-
    tokenizer discipline — size() and explode() both read the same
    projected array); term filtering happens BEFORE the (doc, term)
    count, so the grouped aggregate carries only query-term hits;
    per-term document frequencies reduce from that frame (never a
    second scan); N and avgdl are exact-integer driver scalars
    (sum(dl)/N divides two exact BIGINTs — bit-identical in any
    engine); the per-doc score is one more partially-aggregated
    groupBy.  No window, no join wider than the |query|-row broadcast.

    Returns (doc_id, bm25_micros) — BIGINT ``round(score·1e6)``,
    descending, ties by doc_id, top ``k`` — the engine-portable integer
    convention the other float-scoring queries use.
    """
    if not query_terms:
        raise ValueError("bm25_scores: empty query")
    terms = sorted({t.lower() for t in query_terms})

    base = fan_out(df.select("doc_id", text_col)).select(
        "doc_id", tokens_col(F.lower(F.col(text_col))).alias("_toks")
    )
    docs = base.select("doc_id", F.size("_toks").alias("dl"), "_toks")
    totals = docs.agg(
        F.count("*").alias("n"), F.sum("dl").alias("sdl")
    ).first()
    n_docs = int(totals["n"])
    avgdl = float(totals["sdl"]) / n_docs if n_docs else 1.0

    hits = docs.select(
        "doc_id", "dl", F.explode("_toks").alias("term")
    ).filter(F.col("term").isin(terms))
    tf = hits.groupBy("doc_id", "dl", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    term_score = (
        idf
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
        )
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .groupBy("doc_id")
        .agg(F.sum(term_score).alias("_s"))
    )
    return (
        scored.select(
            "doc_id",
            F.round(F.col("_s") * F.lit(1e6), 0).cast("bigint")
            .alias("bm25_micros"),
        )
        .orderBy(F.desc("bm25_micros"), "doc_id")
        .limit(k)
    )
