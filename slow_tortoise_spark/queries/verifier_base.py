"""Verifier family (block 1 of 2): demoted/baseline variants and the
first wave of locally-oracle-checked queries."""
from __future__ import annotations

from slow_tortoise_spark.queries._shared import (
    jaccard_pairs,
    minhash_lsh_candidates,
    simhash16,
    Callable,
    F,
    _DSUM,
    _dsum,
    _t,
)
from slow_tortoise_spark.queries.training import (
    _MH_COLS,
    _Q_JACCARD_PAIRS,
    _Q_MINHASH_LSH_PAIRS,
    _simhash_sql,
)
from slow_tortoise_spark.queries.extended import _stream_events

# ---------------------------------------------------------------------------
# Verifier family, block 1: the deliberately naive baseline tiers the
# scale-path queries are verified against in pytest, plus the first wave of
# locally oracle-checked queries.  Which tier each query sits in is decided
# by catalog.DRIVER_CATALOG, not here.
# ---------------------------------------------------------------------------


def q_jaccard_pairs_naive(spark, sf_dir):
    """Naive shingle self-join Jaccard — verifier for the prefix tier."""
    docs = _t(spark, sf_dir, "documents")
    out = jaccard_pairs(docs, threshold=0.7)
    return out.select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("doc_a", "doc_b")


def q_quality_score(spark, sf_dir):
    """Composite document-quality scoring via the library operator
    (length/punctuation/stopword factors)."""
    from slow_tortoise_spark.operators.text import quality_features

    docs = _t(spark, sf_dir, "documents")
    q = quality_features(docs)
    return q.select(
        "doc_id",
        "n_tokens",
        "n_bpe_tokens",
        F.round("avg_token_len", 6).alias("avg_token_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("quality_score", 6).alias("quality_score"),
    ).orderBy("doc_id")


def _quality_score_sql() -> str:
    from slow_tortoise_spark.operators.text import LANG_STOPWORDS

    en = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    return f"""
  WITH t AS (
    SELECT doc_id, text,
           list_filter(string_split_regex(trim(text), '\\s+'),
                       x -> x <> '') AS toks,
           length(text) AS n_chars
    FROM documents
  ),
  m AS (
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
           CASE WHEN len(toks) > 0
                THEN (n_chars - len(toks) + 1)::DOUBLE / len(toks) END
             AS avg_token_len,
           (n_chars - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
             / greatest(n_chars, 1) AS punct_ratio,
           len(list_filter(toks, x -> list_contains([{en}], lower(x))))::DOUBLE
             / greatest(len(toks), 1) AS stopword_ratio
    FROM t
  )
  SELECT doc_id, n_tokens, n_bpe_tokens,
         round(avg_token_len, 6) AS avg_token_len,
         round(punct_ratio, 6) AS punct_ratio,
         round(stopword_ratio, 6) AS stopword_ratio,
         round(least(n_tokens / 100.0, 1.0)
               * (1.0 - least(punct_ratio * 2, 1.0))
               * (0.5 + least(stopword_ratio * 2, 0.5)), 6) AS quality_score
  FROM m ORDER BY doc_id
"""


def q_window_lag_lead(spark, sf_dir):
    """lag/lead window surface: per-user previous/next event deltas."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros("ts")
    return (
        ev.select(
            "event_id",
            "user_id",
            (t - F.lag(t).over(w)).alias("us_since_prev"),
            (F.lead(t).over(w) - t).alias("us_until_next"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .orderBy("event_id")
    )


_Q_WINDOW_LAG_LEAD = """
  SELECT event_id, user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER w AS us_since_prev,
         lead(epoch_us(ts)) OVER w - epoch_us(ts) AS us_until_next,
         lag(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
  ORDER BY event_id
"""


def q_unpivot_melt(spark, sf_dir):
    """unpivot/melt surface: wide per-flag quantity sums melted to
    (measure, value) rows via the native unpivot operator."""
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        _dsum(F.col("l_quantity")).alias("sum_qty"),
        _dsum(F.col("l_extendedprice")).alias("sum_price"),
        F.count("*").cast("double").alias("n_rows"),
    )
    return (
        wide.unpivot(
            ids=["l_returnflag"],
            values=["sum_qty", "sum_price", "n_rows"],
            variableColumnName="measure",
            valueColumnName="value",
        )
        .orderBy("l_returnflag", "measure")
    )


_Q_UNPIVOT_MELT = f"""
  WITH wide AS (
    SELECT l_returnflag,
           {_DSUM.format(x='l_quantity')} AS sum_qty,
           {_DSUM.format(x='l_extendedprice')} AS sum_price,
           CAST(COUNT(*) AS DOUBLE) AS n_rows
    FROM lineitem GROUP BY l_returnflag
  )
  SELECT l_returnflag, measure, value
  FROM wide
  UNPIVOT (value FOR measure IN (sum_qty, sum_price, n_rows))
  ORDER BY l_returnflag, measure
"""


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test hash split + per-split counts."""
    from slow_tortoise_spark.operators.dedup import hash_split

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    out = hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.groupBy("split").agg(F.count("*").alias("n")).orderBy("split")


_Q_HASH_SPLIT = """
  WITH assigned AS (
    SELECT doc_id,
           CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)
                     < 'cccc' THEN 'train'
                WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)
                     < 'e666' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
  )
  SELECT split, COUNT(*) AS n FROM assigned GROUP BY split ORDER BY split
"""


# Non-distinct shingle stream (repetition analysis needs multiplicity).
_SHINGLES_ALL_SQL = """
  toks_all AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '') AS t
    FROM documents
  ),
  shingles_all AS (
    SELECT doc_id, unnest(list_transform(
             range(1, greatest(len(t) - 2, 0) + 1),
             i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS shingle
    FROM toks_all WHERE len(t) >= 3
  )
"""


def q_repetition_ratio(spark, sf_dir):
    """Intra-doc n-gram repetition ratio (Gopher-style quality signal)."""
    from slow_tortoise_spark.operators.text import repetition_ratio

    docs = _t(spark, sf_dir, "documents")
    return (
        repetition_ratio(docs, n=3)
        .select("doc_id", "n_shingles", F.round("rep_ratio", 6).alias("rep_ratio"))
        .orderBy("doc_id")
    )


# LEFT JOIN back to all doc_ids: the operator emits n_shingles=0 /
# rep_ratio=0.0 for docs shorter than n tokens, and the shingle CTE
# drops them (len(t) >= 3 filter) — without the join the row sets would
# diverge the moment the fixture gains a sub-3-token doc (ADVICE r2).
_Q_REPETITION_RATIO = f"""
  WITH {_SHINGLES_ALL_SQL},
  agg AS (
    SELECT doc_id,
           COUNT(*) AS n_shingles,
           round((COUNT(*) - COUNT(DISTINCT shingle))::DOUBLE
                 / greatest(COUNT(*), 1), 6) AS rep_ratio
    FROM shingles_all GROUP BY doc_id
  )
  SELECT d.doc_id,
         COALESCE(a.n_shingles, 0) AS n_shingles,
         COALESCE(a.rep_ratio, 0.0) AS rep_ratio
  FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
  ORDER BY d.doc_id
"""


def q_contamination(spark, sf_dir):
    """Cross-corpus contamination: even-id docs are 'train', odd-id docs
    'test'; flag test docs sharing any 5-gram with the train vocabulary."""
    from slow_tortoise_spark.operators.dedup import cross_corpus_contamination

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    out = cross_corpus_contamination(train, test, n=5)
    return out.select(
        "doc_id", "n_hits", "n_shingles", F.round("hit_ratio", 6).alias("hit_ratio")
    ).orderBy("doc_id")


_Q_CONTAMINATION = """
  WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '') AS t
    FROM documents
  ),
  sh AS (
    SELECT doc_id, unnest(list_transform(
             range(1, greatest(len(t) - 4, 0) + 1),
             i -> array_to_string(list_slice(t, i, i + 4), ' '))) AS shingle
    FROM toks WHERE len(t) >= 5
  ),
  train_vocab AS (
    SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0
  ),
  test_sh AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id % 2 = 1),
  sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM test_sh GROUP BY doc_id),
  hits AS (
    SELECT t.doc_id, COUNT(*) AS n_hits
    FROM test_sh t JOIN train_vocab v ON t.shingle = v.shingle
    GROUP BY t.doc_id
  )
  SELECT s.doc_id, h.n_hits, s.n_shingles,
         round(h.n_hits::DOUBLE / greatest(s.n_shingles, 1), 6) AS hit_ratio
  FROM sizes s JOIN hits h ON s.doc_id = h.doc_id
  WHERE h.n_hits >= 1
  ORDER BY s.doc_id
"""


def q_simhash_near_dups(spark, sf_dir):
    """64-bit SimHash hamming-≤2 near-dup pairs via pigeonhole banding
    over a corpus with CONSTRUCTED duplicates (each doc unioned with an
    identical-text copy: 64-bit fingerprints rarely collide organically
    at this corpus size, and a guaranteed-nonempty result keeps the
    correctness row meaningful). The banded plan is exact (pytest
    verifies against brute force); the oracle computes the same pairs
    with a direct quadratic join, fine at oracle scale."""
    from slow_tortoise_spark.operators.dedup import simhash_near_duplicates

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    corpus = docs.unionByName(copies)
    return simhash_near_duplicates(corpus, max_hamming=2, n_bits=64).orderBy(
        "doc_a", "doc_b"
    )


def _simhash_near_dups_sql() -> str:
    inner = _simhash_sql(64).replace("FROM documents", "FROM corpus")
    return f"""
  WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents
  ),
  sim AS ({inner})
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
  ORDER BY doc_a, doc_b
"""


def q_window_rank_surface(spark, sf_dir):
    """Ranking-window surface: ntile/percent_rank/cume_dist/dense_rank
    over order totals per customer segment."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        orders.select(
            "o_orderkey",
            "o_orderpriority",
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.dense_rank().over(w).alias("drank"),
        )
        .filter(F.col("drank") <= 50)
        .orderBy("o_orderpriority", "drank", "o_orderkey")
    )


_Q_WINDOW_RANK_SURFACE = """
  SELECT o_orderkey, o_orderpriority, quartile, pct_rank, cume, drank
  FROM (
    SELECT o_orderkey, o_orderpriority,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           dense_rank() OVER w AS drank
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)
  )
  WHERE drank <= 50
  ORDER BY o_orderpriority, drank, o_orderkey
"""


def q_pii_redact(spark, sf_dir):
    """PII redaction over documents SALTED with constructed PII (the
    synthetic corpus contains none, so the fixture plants an email /
    phone / IPv4 on interleaved doc_id strides; counts and the redacted
    text — compared via md5 — replay exactly in SQL)."""
    from slow_tortoise_spark.operators.text import redact_pii

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    salted = docs.withColumn(
        "text",
        F.concat(
            "text",
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit(" mail bob@example.com now")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit(" call 555-867-5309 today")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit(" host 10.0.0.1 down")).otherwise(F.lit("")),
        ),
    )
    out = redact_pii(salted)
    return out.select(
        "doc_id", "n_email", "n_phone", "n_ipv4",
        F.md5("redacted").alias("redacted_md5"),
    ).orderBy("doc_id")


def _pii_redact_sql() -> str:
    from slow_tortoise_spark.operators.text import PII_PATTERNS

    pats = {k: (p, t) for k, p, t in PII_PATTERNS}
    em, ph, ip = pats["email"], pats["phone"], pats["ipv4"]
    return f"""
  WITH salted AS (
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 3 = 0 THEN ' mail bob@example.com now'
                   ELSE '' END
           || CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-5309 today'
                   ELSE '' END
           || CASE WHEN doc_id % 7 = 0 THEN ' host 10.0.0.1 down'
                   ELSE '' END AS text
    FROM documents
  )
  SELECT doc_id,
         len(regexp_extract_all(text, '{em[0]}')) AS n_email,
         len(regexp_extract_all(text, '{ph[0]}')) AS n_phone,
         len(regexp_extract_all(text, '{ip[0]}')) AS n_ipv4,
         md5(regexp_replace(regexp_replace(regexp_replace(text,
               '{em[0]}', '{em[1]}', 'g'),
               '{ph[0]}', '{ph[1]}', 'g'),
               '{ip[0]}', '{ip[1]}', 'g')) AS redacted_md5
  FROM salted ORDER BY doc_id
"""


def q_unigram_logprob(spark, sf_dir):
    """CCNet-style mean unigram log-probability per document under the
    corpus's own unigram LM (fluency/quality gate)."""
    from slow_tortoise_spark.operators.text import unigram_logprob

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_logprob(docs, round_to=6).orderBy("doc_id")


_Q_UNIGRAM_LOGPROB = """
  WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              x -> x <> '')) AS tok
    FROM documents
  ),
  vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
  tot AS (SELECT COUNT(*)::DOUBLE AS n FROM toks)
  SELECT doc_id,
         round(avg(ln(cnt / tot.n)), 6) AS mean_logprob,
         COUNT(*) AS n_tokens
  FROM toks JOIN vocab USING (tok), tot
  GROUP BY doc_id ORDER BY doc_id
"""


def q_stream_stream_join(spark, sf_dir):
    """Watermarked stream-stream funnel join: purchases within 1 hour
    after a click by the same user, both sides streamed (availableNow
    drain over the complete input ≡ the batch time-range join the
    DuckDB oracle runs)."""
    from slow_tortoise_spark.streaming.pipeline import (
        run_to_memory,
        stream_stream_join,
    )

    def side(ev_type):
        return (
            _stream_events(spark, sf_dir)
            .filter(F.col("event_type") == ev_type)
            .select("event_id", "event_time", "user_id")
        )

    joined = stream_stream_join(
        side("click"), side("purchase"), within="1 hour"
    )
    out = run_to_memory(
        joined, f"ssj_{abs(hash(sf_dir)) % 10**6}", spark
    )
    return out.select(
        F.col("l_event_id").alias("click_id"),
        F.col("r_event_id").alias("purchase_id"),
        F.col("l_user_id").alias("user_id"),
        (F.unix_micros("r_event_time") - F.unix_micros("l_event_time"))
        .alias("us_to_purchase"),
    ).orderBy("click_id", "purchase_id")


# Bounds compare at MICROsecond precision on both sides: the Spark side
# joins on timestamp_micros(ts DIV 1000) values (nanos truncated), so an
# oracle comparing raw nano timestamps would diverge on pairs whose nano
# gap falls in (1h, 1h+999ns] — a latent boundary mismatch as fixtures
# change.
_Q_STREAM_STREAM_JOIN = """
  SELECT c.event_id AS click_id,
         p.event_id AS purchase_id,
         c.user_id AS user_id,
         epoch_us(p.ts) - epoch_us(c.ts) AS us_to_purchase
  FROM events c JOIN events p
    ON c.user_id = p.user_id
   AND epoch_us(p.ts) >= epoch_us(c.ts)
   AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
  WHERE c.event_type = 'click' AND p.event_type = 'purchase'
  ORDER BY click_id, purchase_id
"""


def q_sessionize_batch(spark, sf_dir):
    """Batch gap-based sessionization of the events stream (30-minute
    inactivity gap) + per-session rollup — the offline counterpart of
    the streaming session_window operator."""
    from slow_tortoise_spark.operators.timejoin import batch_sessionize

    ev = _t(spark, sf_dir, "events")
    s = batch_sessionize(ev, key="user_id", time_col="ts",
                         gap_us=30 * 60 * 1_000_000,
                         order_tiebreak="event_id")
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            F.unix_micros(F.max("ts")).alias("session_end_us"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .orderBy("user_id", "session_id")
    )


_Q_SESSIONIZE_BATCH = """
  WITH ordered AS (
    SELECT user_id, event_id, ts, value,
           epoch_us(ts) - lag(epoch_us(ts))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
    FROM events
  ),
  marked AS (
    SELECT user_id, event_id, ts, value,
           CAST(SUM(CASE WHEN gap IS NULL OR gap > 30 * 60 * 1000000
                    THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM ordered
  )
  SELECT user_id, session_id,
         COUNT(*) AS n_events,
         MIN(epoch_us(ts)) AS session_start_us,
         MAX(epoch_us(ts)) AS session_end_us,
         round(SUM(value), 4) AS session_value
  FROM marked
  GROUP BY user_id, session_id
  ORDER BY user_id, session_id
"""


def q_doc_chunks(spark, sf_dir):
    """Overlapping token-window chunking (context-window prep): 128-token
    chunks, 16-token overlap; chunk text compared via md5."""
    from slow_tortoise_spark.operators.text import chunk_documents

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = chunk_documents(docs, chunk_tokens=128, overlap=16)
    return out.select(
        "doc_id", "chunk_id", "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_id")


_Q_DOC_CHUNKS = """
  WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(trim(text), '\\s+'),
                       x -> x <> '') AS t
    FROM documents
  ),
  starts AS (
    SELECT doc_id, t,
           range(1, greatest(len(t) - 16, 1) + 1, 112) AS ss
    FROM toks WHERE len(t) >= 1
  ),
  chunks AS (
    SELECT doc_id,
           generate_subscripts(ss, 1) - 1 AS chunk_id,
           list_slice(t, unnest(ss), unnest(ss) + 127) AS piece
    FROM starts
  )
  SELECT doc_id, chunk_id,
         len(piece) AS n_chunk_tokens,
         md5(array_to_string(piece, ' ')) AS chunk_md5
  FROM chunks ORDER BY doc_id, chunk_id
"""


def q_tfidf_terms(spark, sf_dir):
    """Top-5 characteristic terms per doc by smoothed TF-IDF (keyword
    extraction; ranking ties break lexicographically)."""
    from slow_tortoise_spark.operators.text import top_tfidf_terms

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return top_tfidf_terms(docs, k=5, round_to=6).orderBy("doc_id", "rank")


_Q_TFIDF_TERMS = """
  WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              x -> x <> '')) AS term
    FROM documents
  ),
  tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
  dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
  n AS (SELECT COUNT(DISTINCT doc_id)::DOUBLE AS n_docs FROM documents),
  scored AS (
    SELECT doc_id, term,
           tf * (ln((n.n_docs + 1.0) / (df + 1.0)) + 1.0) AS tfidf
    FROM tf JOIN dfreq USING (term), n
  ),
  ranked AS (
    SELECT doc_id, term, tfidf,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY tfidf DESC, term) AS rank
    FROM scored
  )
  SELECT doc_id, rank, term, round(tfidf, 6) AS tfidf
  FROM ranked WHERE rank <= 5 ORDER BY doc_id, rank
"""


def q_containment_pairs(spark, sf_dir):
    """Asymmetric containment near-dups over a corpus salted with
    EXCERPTS (the first 8 tokens of every 10th doc as a new doc):
    excerpt ⊂ original scores 1.0 where symmetric Jaccard stays low.

    Runs the cost-based ``containment_pairs_auto`` (same Σ df² gate as
    jaccard: naive below the budget, asymmetric prefix filter above) —
    results identical either side of the gate; the oracle below is the
    straightforward all-pairs SQL."""
    from slow_tortoise_spark.operators.dedup import containment_pairs_auto

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    excerpts = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.array_join(
            F.slice(F.split(F.trim("text"), r"\s+"), 1, 8), " "
        ).alias("text"),
    )
    corpus = docs.unionByName(excerpts)
    out = containment_pairs_auto(corpus, threshold=0.9)
    return out.select(
        "doc_a", "doc_b", F.round("containment", 6).alias("containment")
    ).orderBy("doc_a", "doc_b")


_Q_CONTAINMENT_PAIRS = """
  WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id,
           array_to_string(list_slice(string_split_regex(trim(text), '\\s+'),
                                      1, 8), ' ') AS text
    FROM documents WHERE doc_id % 10 = 0
  ),
  toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '') AS t
    FROM corpus
  ),
  sh AS (
    SELECT DISTINCT doc_id, unnest(list_transform(
             range(1, greatest(len(t) - 2, 0) + 1),
             i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS shingle
    FROM toks WHERE len(t) >= 3
  ),
  sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
  inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
    GROUP BY 1, 2
  )
  SELECT doc_a, doc_b, round(n_common / sa.n, 6) AS containment
  FROM inter JOIN sizes sa ON doc_a = sa.doc_id
  WHERE n_common / sa.n >= 0.9
  ORDER BY doc_a, doc_b
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic corpus-mixing sample: 100% of src0, 50% of src1,
    10% of everything else, decided by a keyed md5 threshold — stable
    across engines and partitionings (no RNG)."""
    from slow_tortoise_spark.operators.dedup import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    out = stratified_sample(
        docs, "source", {"src0": 1.0, "src1": 0.5}, default_fraction=0.1
    )
    return out.orderBy("doc_id")


_Q_STRATIFIED_SAMPLE = """
  WITH h AS (
    SELECT doc_id, source,
           substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8) AS hx
    FROM documents
  )
  SELECT doc_id, source
  FROM h
  WHERE (source = 'src0')  -- fraction 1.0 = keep ALL, no hash threshold
     OR (source = 'src1' AND hx < '80000000')
     OR (source NOT IN ('src0', 'src1') AND hx < '19999999')
  ORDER BY doc_id
"""


def q_dedup_components(spark, sf_dir):
    """Connected components over the banded-LSH candidate pairs — the
    cluster-formation step of near-dedup (one survivor per transitive
    cluster beats the greedy per-pair policy on star shapes). The Spark
    side is iterative min-label propagation; the oracle replays the SAME
    pair set (the minhash_lsh_pairs SQL) and closes it with a recursive
    CTE — full value parity for an iterative algorithm."""
    from slow_tortoise_spark.operators.dedup import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(docs, k=8, bands=4)
    return connected_components(pairs).orderBy("doc_id")


_Q_DEDUP_COMPONENTS = f"""
  WITH RECURSIVE pairs AS ({_Q_MINHASH_LSH_PAIRS}),
  edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION SELECT doc_b, doc_a FROM pairs
  ),
  reach AS (
      SELECT src, src AS dst FROM edges
    UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
  )
  SELECT src AS doc_id, MIN(dst) AS component
  FROM reach GROUP BY src ORDER BY doc_id
"""


def q_simhash16(spark, sf_dir):
    """16-bit SimHash fingerprints — the demoted verifier width (its
    5–6-bit hamming bands degenerate toward all-pairs at corpus scale;
    the catalog `simhash` is the 64-bit tier)."""
    docs = _t(spark, sf_dir, "documents")
    return simhash16(docs).orderBy("doc_id")


def q_temperature_mix(spark, sf_dir):
    """Temperature-0.5 corpus mixing over the 20 sources, weighted by
    n_chars, at a 60k-char budget: per-source keep fractions come from
    quantized-sqrt shares (exact integer normalization — see
    operators/dedup.py:temperature_mix_plan for why that makes the plan
    bit-reproducible in SQL), applied via the keyed md5 threshold."""
    from slow_tortoise_spark.operators.dedup import temperature_mix

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    out = temperature_mix(
        docs, strata_col="source", alpha=0.5, budget=60_000.0,
        weight_col="n_chars",
    )
    return out.select("doc_id", "source").orderBy("doc_id")


_Q_TEMPERATURE_MIX = """
  WITH mass AS (
    SELECT source, SUM(n_chars) AS m FROM documents GROUP BY source
  ),
  nums AS (
    SELECT source, m,
           CAST(round(sqrt(CAST(m AS DOUBLE)) * 1000000) AS BIGINT) AS s
    FROM mass
  ),
  tot AS (SELECT SUM(s) AS st FROM nums),
  frac AS (
    SELECT source, LEAST(1.0, 60000.0 * s / st / m) AS f FROM nums, tot
  )
  SELECT d.doc_id, d.source
  FROM documents d JOIN frac USING (source)
  WHERE f >= 1.0
     OR substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)
          < printf('%08x', CAST(floor(f * 4294967296.0) AS BIGINT))
  ORDER BY doc_id
"""


def q_semdedup_pairs(spark, sf_dir):
    """SemDeDup-style cluster-bucketed near-dup pairs: the deterministic
    8-cell IVF build assigns every vector, candidates are the within-cell
    equi-join, and the exact cosine rescore keeps round(cos, 6) ≥ 0.35.
    The oracle replays the identical seeded build (same CTEs as the
    ivf_topk oracle), so assignment, bucketing, and scores are all
    value-checked.  Known caveat shared with that oracle: the argmax
    over UNROUNDED assignment cosines could in principle flip between
    engines for a vector whose two best centroids differ by ~1 ulp
    (different summation orders); no such near-tie exists in the
    fixtures, and the rounded output cosine absorbs everything else."""
    from slow_tortoise_spark.operators.similarity import semantic_dedup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    # prune_below: the filter below keeps round(cos, 6) >= 0.35, i.e.
    # exact cos >= 0.3499995; 0.3499 sits strictly under that boundary
    # (margin ~1e-4 >> every float hazard), so the BLAS prune can only
    # drop pairs the filter would drop anyway — output identical.
    scored = semantic_dedup_pairs(
        emb, n_cells=8, threshold=None, prune_below=0.3499
    )
    return (
        scored.select(
            "id_a", "id_b", "cell", F.round("cosine", 6).alias("cosine")
        )
        .filter(F.col("cosine") >= 0.35)
        .orderBy("id_a", "id_b")
    )


_Q_SEMDEDUP_PAIRS = """
  WITH v AS (
    SELECT vec_id, unnest(embedding)::DOUBLE AS x,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings
  ),
  norms AS (SELECT vec_id, sqrt(SUM(x * x)) AS n FROM v GROUP BY vec_id),
  seeds AS (
    SELECT vec_id AS seed_id,
           row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
             - 1 AS cell
    FROM embeddings
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
    LIMIT 8
  ),
  sv AS (SELECT s.cell, v.i, v.x FROM seeds s JOIN v ON v.vec_id = s.seed_id),
  snorm AS (SELECT cell, sqrt(SUM(x * x)) AS n FROM sv GROUP BY cell),
  vc AS (
    SELECT v.vec_id, sv.cell, SUM(v.x * sv.x) AS dot
    FROM v JOIN sv ON v.i = sv.i
    GROUP BY 1, 2
  ),
  assign AS (
    SELECT vec_id, cell FROM (
      SELECT vc.vec_id, vc.cell,
             row_number() OVER (
               PARTITION BY vc.vec_id
               ORDER BY vc.dot / (nv.n * sn.n) DESC, vc.cell) AS rn
      FROM vc
      JOIN norms nv ON vc.vec_id = nv.vec_id
      JOIN snorm sn ON vc.cell = sn.cell
    ) WHERE rn = 1
  ),
  cand AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell
    FROM assign a
    JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
  ),
  dots AS (
    SELECT c.id_a, c.id_b, c.cell, SUM(va.x * vb.x) AS dot
    FROM cand c
    JOIN v va ON va.vec_id = c.id_a
    JOIN v vb ON vb.vec_id = c.id_b AND va.i = vb.i
    GROUP BY 1, 2, 3
  )
  SELECT d.id_a, d.id_b, d.cell, round(d.dot / (na.n * nb.n), 6) AS cosine
  FROM dots d
  JOIN norms na ON d.id_a = na.vec_id
  JOIN norms nb ON d.id_b = nb.vec_id
  WHERE round(d.dot / (na.n * nb.n), 6) >= 0.35
  ORDER BY id_a, id_b
"""


def q_semdedup_auto(spark, sf_dir):
    """The 100 TB SemDeDup calling convention: ``n_cells=None`` pins the
    expected CELL SIZE (here 128 rows) instead of the cell count, so
    candidate cost grows linearly with the corpus (Σ|cell|² ≈
    n · target_cell_rows) — the convention a fixed-cell catalog row
    cannot exercise (``semdedup_pairs`` pins n_cells=8 for parity).
    The oracle replays the dynamic cell count as
    ``rn <= ceil(count(*) / 128)`` over the identical md5-ordered
    seeding, so the auto-scaling itself is value-checked."""
    from slow_tortoise_spark.operators.similarity import semantic_dedup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    scored = semantic_dedup_pairs(
        emb, n_cells=None, threshold=None, target_cell_rows=128,
        # same 0.35-boundary argument as q_semdedup_pairs above
        prune_below=0.3499,
    )
    return (
        scored.select(
            "id_a", "id_b", "cell", F.round("cosine", 6).alias("cosine")
        )
        .filter(F.col("cosine") >= 0.35)
        .orderBy("id_a", "id_b")
    )


_Q_SEMDEDUP_AUTO = """
  WITH v AS (
    SELECT vec_id, unnest(embedding)::DOUBLE AS x,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings
  ),
  norms AS (SELECT vec_id, sqrt(SUM(x * x)) AS n FROM v GROUP BY vec_id),
  seeds AS (
    SELECT vec_id AS seed_id, rn - 1 AS cell FROM (
      SELECT vec_id,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
               AS rn
      FROM embeddings
    )
    WHERE rn <= (SELECT CAST(ceil(COUNT(*) / 128.0) AS BIGINT)
                 FROM embeddings)
  ),
  sv AS (SELECT s.cell, v.i, v.x FROM seeds s JOIN v ON v.vec_id = s.seed_id),
  snorm AS (SELECT cell, sqrt(SUM(x * x)) AS n FROM sv GROUP BY cell),
  vc AS (
    SELECT v.vec_id, sv.cell, SUM(v.x * sv.x) AS dot
    FROM v JOIN sv ON v.i = sv.i
    GROUP BY 1, 2
  ),
  assign AS (
    SELECT vec_id, cell FROM (
      SELECT vc.vec_id, vc.cell,
             row_number() OVER (
               PARTITION BY vc.vec_id
               ORDER BY vc.dot / (nv.n * sn.n) DESC, vc.cell) AS rn
      FROM vc
      JOIN norms nv ON vc.vec_id = nv.vec_id
      JOIN snorm sn ON vc.cell = sn.cell
    ) WHERE rn = 1
  ),
  cand AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell
    FROM assign a
    JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
  ),
  dots AS (
    SELECT c.id_a, c.id_b, c.cell, SUM(va.x * vb.x) AS dot
    FROM cand c
    JOIN v va ON va.vec_id = c.id_a
    JOIN v vb ON vb.vec_id = c.id_b AND va.i = vb.i
    GROUP BY 1, 2, 3
  )
  SELECT d.id_a, d.id_b, d.cell, round(d.dot / (na.n * nb.n), 6) AS cosine
  FROM dots d
  JOIN norms na ON d.id_a = na.vec_id
  JOIN norms nb ON d.id_b = nb.vec_id
  WHERE round(d.dot / (na.n * nb.n), 6) >= 0.35
  ORDER BY id_a, id_b
"""


def q_dup_ngram_stats(spark, sf_dir):
    """Per-doc cross-corpus duplicated-10-gram fraction (span-level
    duplication signal; docs shorter than n surface with zeros — the
    row-parity lesson from repetition_ratio)."""
    from slow_tortoise_spark.operators.dedup import dup_ngram_stats

    docs = _t(spark, sf_dir, "documents")
    out = dup_ngram_stats(docs, n=10)
    # dup_frac goes out as an integer micro-fraction (like temperature_mix):
    # integer columns cannot diverge in the driver's float-canonicalizing
    # hash compare (round-3 lesson — rows/schema matched, hash didn't).
    return out.select(
        "doc_id",
        "n_shingles",
        "n_dup",
        F.round(F.col("dup_frac") * 1e6).cast("bigint").alias("dup_frac_micro"),
    ).orderBy("doc_id")


_Q_DUP_NGRAM_STATS = """
  WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '') AS t
    FROM documents
  ),
  sh AS (
    SELECT DISTINCT doc_id, unnest(list_transform(
             range(1, greatest(len(t) - 9, 0) + 1),
             i -> array_to_string(list_slice(t, i, i + 9), ' '))) AS shingle
    FROM toks WHERE len(t) >= 10
  ),
  v AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
  per AS (
    SELECT s.doc_id, COUNT(*) AS n_shingles,
           SUM(CASE WHEN v.df > 1 THEN 1 ELSE 0 END) AS n_dup
    FROM sh s JOIN v USING (shingle) GROUP BY 1
  )
  SELECT d.doc_id,
         COALESCE(p.n_shingles, 0) AS n_shingles,
         CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup,
         CAST(round(COALESCE(p.n_dup, 0)::DOUBLE
               / greatest(COALESCE(p.n_shingles, 0), 1) * 1e6) AS BIGINT)
           AS dup_frac_micro
  FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
  ORDER BY d.doc_id
"""


def q_bpe_pairs(spark, sf_dir):
    """Top-50 adjacent character pairs within tokens (the BPE merge-
    candidate table), deterministically ordered (count desc, pair)."""
    from slow_tortoise_spark.operators.text import bpe_pair_counts

    docs = _t(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, top_k=50)


_Q_BPE_PAIRS = """
  WITH toks AS (
    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              x -> x <> '')) AS tok
    FROM documents
  ),
  pairs AS (
    SELECT substr(tok, CAST(i AS INT), 2) AS pair
    FROM toks, LATERAL unnest(range(1, len(tok))) AS g(i)
    WHERE len(tok) >= 2
  )
  SELECT pair, COUNT(*) AS cnt
  FROM pairs GROUP BY 1
  ORDER BY cnt DESC, pair
  LIMIT 50
"""


def q_event_sequences(spark, sf_dir):
    """Per-user time-ordered event-type sequences truncated to 50 —
    behavioral-log → training-example assembly.  The oracle orders by
    the micro-truncated timestamp (the parquet stores nanos; Spark reads
    micros — ordering on raw nanos could legally disagree on sub-µs
    neighbors, the nano-vs-micro lesson from the stream-join oracle)."""
    from slow_tortoise_spark.operators.timejoin import assemble_sequences

    ev = _t(spark, sf_dir, "events")
    return assemble_sequences(ev, max_len=50).orderBy("user_id")


_Q_EVENT_SEQUENCES = """
  SELECT user_id, COUNT(*) AS seq_len,
         array_to_string(
           list_slice(
             list(event_type ORDER BY CAST(ts AS TIMESTAMP), event_id),
             1, 50),
           ',') AS seq
  FROM events
  GROUP BY user_id
  ORDER BY user_id
"""


def q_incremental_dedup(spark, sf_dir):
    """Ingest-time dedup of a new batch against a pre-built corpus index:
    docs with doc_id % 5 == 0 arrive as the batch, augmented with
    constructed exact copies (+1e12) and one-token-appended near
    copies (+2e12 — far above any natural doc_id at any scale factor) of indexed docs so both drop tiers fire.  Exact
    drops match on the fingerprint; near drops on MinHash-signature
    agreement ≥ 0.5 among banded-LSH bucket candidates — the oracle
    replays fingerprints, signatures, buckets, and the agreement
    estimate verbatim."""
    from slow_tortoise_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter("doc_id % 5 != 0")
    new = (
        docs.filter("doc_id % 5 = 0")
        .unionByName(
            corpus.filter("doc_id % 7 = 1").select(
                (F.col("doc_id") + 10**12).alias("doc_id"), "text"
            )
        )
        .unionByName(
            corpus.filter("doc_id % 7 = 2").select(
                (F.col("doc_id") + 2 * 10**12).alias("doc_id"),
                F.concat("text", F.lit(" zzz")).alias("text"),
            )
        )
    )
    index = build_dedup_index(corpus, k=8, bands=4)
    kept = incremental_dedup(new, index, threshold=0.5, k=8, bands=4)
    return kept.select("doc_id").orderBy("doc_id")


_AGREE_SQL = " + ".join(
    f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(8)
)

_Q_INCREMENTAL_DEDUP = f"""
  WITH all_docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000000000, text FROM documents
    WHERE doc_id % 5 != 0 AND doc_id % 7 = 1
    UNION ALL
    SELECT doc_id + 2000000000000, text || ' zzz' FROM documents
    WHERE doc_id % 5 != 0 AND doc_id % 7 = 2
  ),
  toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '') AS l
    FROM all_docs
  ),
  flat AS (
    SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos FROM toks
  ),
  grams AS (
    SELECT doc_id,
           tok || ' ' || lead(tok, 1) OVER w || ' '
               || lead(tok, 2) OVER w AS shingle
    FROM flat
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY lead(tok, 2) OVER w IS NOT NULL
  ),
  shingles AS (SELECT DISTINCT doc_id, shingle FROM grams),
  sig AS (SELECT doc_id, {_MH_COLS} FROM shingles GROUP BY doc_id),
  fp AS (
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
    FROM all_docs
  ),
  new_ids AS (
    SELECT doc_id FROM all_docs WHERE doc_id % 5 = 0 OR doc_id >= 1000000000000
  ),
  old_ids AS (
    SELECT doc_id FROM all_docs
    WHERE NOT (doc_id % 5 = 0 OR doc_id >= 1000000000000)
  ),
  bands AS (
    SELECT doc_id, '0:' || md5(mh0 || '|' || mh1) AS bucket FROM sig
    UNION ALL SELECT doc_id, '1:' || md5(mh2 || '|' || mh3) FROM sig
    UNION ALL SELECT doc_id, '2:' || md5(mh4 || '|' || mh5) FROM sig
    UNION ALL SELECT doc_id, '3:' || md5(mh6 || '|' || mh7) FROM sig
  ),
  exact_hit AS (
    SELECT f.doc_id FROM fp f
    JOIN new_ids n ON f.doc_id = n.doc_id
    WHERE f.fp IN (SELECT f2.fp FROM fp f2
                   JOIN old_ids o ON f2.doc_id = o.doc_id)
  ),
  near_hit AS (
    SELECT DISTINCT a.doc_id
    FROM bands a
    JOIN new_ids n ON a.doc_id = n.doc_id
    JOIN bands b ON a.bucket = b.bucket
    JOIN old_ids o ON b.doc_id = o.doc_id
    JOIN sig sa ON sa.doc_id = a.doc_id
    JOIN sig sb ON sb.doc_id = b.doc_id
    WHERE ({_AGREE_SQL}) / 8.0 >= 0.5
  )
  SELECT d.doc_id
  FROM all_docs d
  JOIN new_ids n ON d.doc_id = n.doc_id
  WHERE d.doc_id NOT IN (SELECT doc_id FROM exact_hit)
    AND d.doc_id NOT IN (SELECT doc_id FROM near_hit)
  ORDER BY d.doc_id
"""


def q_bm25_rank(spark, sf_dir):
    """Okapi BM25 top-20 for a three-term query over the documents
    corpus (Robertson always-positive idf, k1=1.2, b=0.75) — the
    retrieval-ranking completion of the term-stats family (tfidf_terms
    ranks terms per doc; this ranks docs per query)."""
    from slow_tortoise_spark.operators.text import bm25_scores

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_scores(docs, ["join", "vector", "scan"], k=20)


_Q_BM25_RANK = """
  WITH toks AS MATERIALIZED (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '') AS t
    FROM documents
  ),
  docs AS MATERIALIZED (SELECT doc_id, len(t) AS dl, t FROM toks),
  totals AS (SELECT COUNT(*) AS n, SUM(dl) AS sdl FROM docs),
  hits AS (
    SELECT doc_id, dl, unnest(t) AS term FROM docs
  ),
  tf AS (
    SELECT doc_id, dl, term, COUNT(*) AS tf FROM hits
    WHERE term IN ('join', 'scan', 'vector')
    GROUP BY 1, 2, 3
  ),
  dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
  scored AS (
    SELECT tf.doc_id,
           SUM(
             ln(1.0 + (totals.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl
                               / (CAST(totals.sdl AS DOUBLE) / totals.n)))
           ) AS s
    FROM tf JOIN dfreq USING (term), totals
    GROUP BY 1
  )
  SELECT doc_id, CAST(round(s * 1e6) AS BIGINT) AS bm25_micros
  FROM scored ORDER BY bm25_micros DESC, doc_id LIMIT 20
"""


# ---------------------------------------------------------------------------
# Catalog entries, merged by catalog.py: name -> (Spark callable, oracle SQL)
# ---------------------------------------------------------------------------

ENTRIES: dict[str, tuple[Callable, str]] = {
    "jaccard_pairs_naive": (q_jaccard_pairs_naive, _Q_JACCARD_PAIRS),
    "quality_score": (q_quality_score, _quality_score_sql()),
    "window_lag_lead": (q_window_lag_lead, _Q_WINDOW_LAG_LEAD),
    "unpivot_melt": (q_unpivot_melt, _Q_UNPIVOT_MELT),
    "hash_split": (q_hash_split, _Q_HASH_SPLIT),
    "repetition_ratio": (q_repetition_ratio, _Q_REPETITION_RATIO),
    "contamination": (q_contamination, _Q_CONTAMINATION),
    "simhash_near_dups": (q_simhash_near_dups, _simhash_near_dups_sql()),
    "window_rank_surface": (q_window_rank_surface, _Q_WINDOW_RANK_SURFACE),
    "pii_redact": (q_pii_redact, _pii_redact_sql()),
    "unigram_logprob": (q_unigram_logprob, _Q_UNIGRAM_LOGPROB),
    "stream_stream_join": (q_stream_stream_join, _Q_STREAM_STREAM_JOIN),
    "sessionize_batch": (q_sessionize_batch, _Q_SESSIONIZE_BATCH),
    "doc_chunks": (q_doc_chunks, _Q_DOC_CHUNKS),
    "tfidf_terms": (q_tfidf_terms, _Q_TFIDF_TERMS),
    "containment_pairs": (q_containment_pairs, _Q_CONTAINMENT_PAIRS),
    "stratified_sample": (q_stratified_sample, _Q_STRATIFIED_SAMPLE),
    "dedup_components": (q_dedup_components, _Q_DEDUP_COMPONENTS),
    "simhash16": (q_simhash16, _simhash_sql(16)),
    "temperature_mix": (q_temperature_mix, _Q_TEMPERATURE_MIX),
    "semdedup_pairs": (q_semdedup_pairs, _Q_SEMDEDUP_PAIRS),
    "semdedup_auto": (q_semdedup_auto, _Q_SEMDEDUP_AUTO),
    "dup_ngram_stats": (q_dup_ngram_stats, _Q_DUP_NGRAM_STATS),
    "bpe_pairs": (q_bpe_pairs, _Q_BPE_PAIRS),
    "event_sequences": (q_event_sequences, _Q_EVENT_SEQUENCES),
    "incremental_dedup": (q_incremental_dedup, _Q_INCREMENTAL_DEDUP),
    "bm25_rank": (q_bm25_rank, _Q_BM25_RANK),
}
