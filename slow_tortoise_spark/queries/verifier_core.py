"""Verifier family (block 2 of 2): LM scoring, profiling, index dedup,
line dedup, funnels, provenance."""
from __future__ import annotations

from slow_tortoise_spark.queries._shared import (
    minhash_lsh_candidates,
    Callable,
    F,
    _t,
)
from slow_tortoise_spark.queries.training import _Q_MINHASH_LSH_PAIRS


def q_bigram_logprob(spark, sf_dir):
    """Mean conditional bigram log-prob per doc under the corpus's own
    bigram LM (MLE conditional; no smoothing needed by construction)."""
    from slow_tortoise_spark.operators.text import bigram_logprob

    docs = _t(spark, sf_dir, "documents")
    out = bigram_logprob(docs)
    # Integer micro-logprob (like dup_ngram_stats / temperature_mix): a
    # mean of ln() values is exactly the float shape that can diverge in
    # the driver's hash canonicalization; integers cannot.
    return out.select(
        "doc_id",
        F.round(F.col("mean_logprob") * 1e6).cast("bigint").alias(
            "mean_logprob_micro"
        ),
        "n_bigrams",
    ).orderBy("doc_id")


_Q_BIGRAM_LOGPROB = """
  WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '') AS l
    FROM documents
  ),
  flat AS (
    SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos FROM toks
  ),
  big AS (
    SELECT doc_id,
           lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
           tok AS cur
    FROM flat
    QUALIFY prev IS NOT NULL
  ),
  c2 AS (SELECT prev, cur, COUNT(*) AS c2 FROM big GROUP BY 1, 2),
  c1 AS (SELECT prev, SUM(c2) AS c1 FROM c2 GROUP BY 1),
  scored AS (
    SELECT b.doc_id, ln(c2.c2 / c1.c1) AS lp
    FROM big b
    JOIN c2 ON b.prev = c2.prev AND b.cur = c2.cur
    JOIN c1 ON b.prev = c1.prev
  ),
  agg AS (
    SELECT doc_id, AVG(lp) AS mean_logprob, COUNT(*) AS n_bigrams
    FROM scored GROUP BY doc_id
  )
  SELECT d.doc_id,
         CAST(round(COALESCE(a.mean_logprob, 0.0) * 1e6) AS BIGINT)
           AS mean_logprob_micro,
         COALESCE(a.n_bigrams, 0) AS n_bigrams
  FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
  ORDER BY d.doc_id
"""


def q_xcorpus_logprob(spark, sf_dir):
    """Even-id docs form the reference LM; odd-id docs are scored under
    it with add-one smoothing (OOV floor 1/(N+V+1)) — cross-corpus
    CCNet-style quality filtering."""
    from slow_tortoise_spark.operators.text import unigram_logprob_under

    docs = _t(spark, sf_dir, "documents")
    out = unigram_logprob_under(
        docs.filter("doc_id % 2 = 1"), docs.filter("doc_id % 2 = 0"),
        round_to=6,
    )
    return out.orderBy("doc_id")


_Q_XCORPUS_LOGPROB = """
  WITH ref_toks AS (
    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              x -> x <> '')) AS tok
    FROM documents WHERE doc_id % 2 = 0
  ),
  vocab AS (SELECT tok, COUNT(*) AS cnt FROM ref_toks GROUP BY tok),
  stats AS (SELECT SUM(cnt) + COUNT(*) + 1 AS denom FROM vocab),
  tgt AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              x -> x <> '')) AS tok
    FROM documents WHERE doc_id % 2 = 1
  ),
  scored AS (
    SELECT t.doc_id,
           ln((COALESCE(v.cnt, 0) + 1) / (SELECT denom::DOUBLE FROM stats))
             AS lp,
           CASE WHEN v.cnt IS NULL THEN 1 ELSE 0 END AS oov
    FROM tgt t LEFT JOIN vocab v ON t.tok = v.tok
  ),
  agg AS (
    SELECT doc_id, AVG(lp) AS mean_logprob, COUNT(*) AS n_tokens,
           SUM(oov) AS n_oov
    FROM scored GROUP BY doc_id
  )
  SELECT d.doc_id,
         round(COALESCE(a.mean_logprob, 0.0), 6) AS mean_logprob,
         COALESCE(a.n_tokens, 0) AS n_tokens,
         CAST(COALESCE(a.n_oov, 0) AS BIGINT) AS n_oov
  FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
  WHERE d.doc_id % 2 = 1
  ORDER BY d.doc_id
"""


def q_profile_table(spark, sf_dir):
    """ANALYZE-style per-column profile of lineitem (exact distincts;
    min/max stringified — columns chosen so the string forms are
    engine-portable: integers and plain strings, no float formatting)."""
    from slow_tortoise_spark.operators.summary import profile_table

    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_partkey", "l_returnflag", "l_linestatus"]
    return profile_table(li.select(*cols)).orderBy("col_name")


def _profile_sql() -> str:
    parts = []
    for c in ["l_orderkey", "l_partkey", "l_returnflag", "l_linestatus"]:
        parts.append(f"""
    SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT({c}) AS n_null,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_value,
           CAST(MAX({c}) AS VARCHAR) AS max_value
    FROM lineitem""")
    return " UNION ALL ".join(parts) + " ORDER BY col_name"


def q_skew_report(spark, sf_dir):
    """Hot-key skew diagnostic over events columns (top value + share
    per column; ties break on the value string both engines)."""
    from slow_tortoise_spark.operators.skew import skew_report

    ev = _t(spark, sf_dir, "events")
    return skew_report(
        ev, ["user_id", "event_type", "props"]
    ).orderBy("col_name")


_Q_SKEW_REPORT = """
  WITH melted AS (
    SELECT 'user_id' AS col_name, CAST(user_id AS VARCHAR) AS value FROM events
    UNION ALL
    SELECT 'event_type', CAST(event_type AS VARCHAR) FROM events
    UNION ALL
    SELECT 'props', CAST(props AS VARCHAR) FROM events
  ),
  counts AS (
    SELECT col_name, value, COUNT(*) AS cnt FROM melted GROUP BY 1, 2
  ),
  ranked AS (
    SELECT col_name, value, cnt,
           row_number() OVER (
             PARTITION BY col_name
             ORDER BY cnt DESC, value ASC NULLS FIRST) AS rn
    FROM counts
  ),
  total AS (SELECT COUNT(*) AS n FROM events)
  SELECT col_name, value AS top_value, cnt AS top_count, total.n AS n_rows,
         round(cnt / CAST(total.n AS DOUBLE), 6) AS share
  FROM ranked, total
  WHERE rn = 1
  ORDER BY col_name
"""


def q_streaming_index_dedup(spark, sf_dir):
    """Stream-static LEFT ANTI dedup with a FULL SQL oracle: the
    documents table streams in (availableNow file source), docs whose
    id is a multiple of 5 are the "incoming" slice, and the static
    index is built from the rest — admitted doc_ids must equal the
    batch fingerprint anti-join the oracle computes."""
    import hashlib

    from pyspark.sql import types as T

    from slow_tortoise_spark.operators.dedup import build_dedup_index
    from slow_tortoise_spark.streaming.pipeline import (
        run_to_memory,
        streaming_index_dedup,
    )

    corpus = _t(spark, sf_dir, "documents").filter("doc_id % 5 != 0")
    index = build_dedup_index(corpus.select("doc_id", "text"))

    tag = hashlib.md5(f"docs:{sf_dir}".encode()).hexdigest()[:8]
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])
    # Layout-aware source: a re-staged documents table is a DIRECTORY
    # of part files (cluster-writer layout) and streams directly; the
    # single-file testdata layout needs the pathGlobFilter scoping.
    import os as _os

    docs_path = _os.path.join(sf_dir, "documents.parquet")
    reader = spark.readStream.schema(schema)
    if _os.path.isdir(docs_path):
        reader = reader.parquet(docs_path)
    else:
        reader = reader.option(
            "pathGlobFilter", "documents.parquet"
        ).parquet(sf_dir)
    sdf = reader.filter("doc_id % 5 = 0").select("doc_id", "text")
    out = run_to_memory(
        streaming_index_dedup(sdf, index), f"sid_{tag}", spark
    )
    return out.select("doc_id").orderBy("doc_id")


_Q_STREAMING_INDEX_DEDUP = """
  WITH fp AS (
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS f
    FROM documents
  )
  SELECT n.doc_id
  FROM fp n
  WHERE n.doc_id % 5 = 0
    AND n.f NOT IN (SELECT f FROM fp WHERE doc_id % 5 != 0)
  ORDER BY n.doc_id
"""


def q_dedup_lines(spark, sf_dir):
    """C4/CCNet-style line-level dedup: lines appearing in ≥2 distinct
    documents are boilerplate and get stripped; documents are rebuilt
    from their surviving lines. The synthetic corpus is seeded with
    constructed duplicates (each doc unioned with a two-line variant
    sharing its text) so dup lines actually exist."""
    from slow_tortoise_spark.operators.dedup import dedup_lines

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    staged = docs.unionByName(
        docs.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit("\nunique tail "),
                     F.col("doc_id").cast("string")).alias("text"),
        )
    )
    out = dedup_lines(staged, min_len=1, min_docs=2)
    return out.select(
        "doc_id", "text", "n_lines", "n_dropped"
    ).orderBy("doc_id")


_Q_DEDUP_LINES = """
  WITH staged AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           text || chr(10) || 'unique tail ' || CAST(doc_id AS VARCHAR)
      AS text
    FROM documents
  ),
  ln AS (
    SELECT doc_id,
           unnest(string_split(text, chr(10))) AS line,
           generate_subscripts(string_split(text, chr(10)), 1) AS pos
    FROM staged
  ),
  normed AS (
    SELECT doc_id, pos, line,
           CASE WHEN length(lower(trim(line))) >= 1
                THEN md5(lower(trim(line))) END AS lhash
    FROM ln
  ),
  freq AS (
    SELECT lhash
    FROM (SELECT DISTINCT doc_id, lhash FROM normed WHERE lhash IS NOT NULL)
    GROUP BY lhash HAVING COUNT(*) >= 2
  )
  SELECT n.doc_id,
         COALESCE(string_agg(
           CASE WHEN f.lhash IS NULL THEN n.line END,
           chr(10) ORDER BY n.pos), '') AS text,
         COUNT(*) AS n_lines,
         CAST(SUM(CASE WHEN f.lhash IS NULL THEN 0 ELSE 1 END) AS BIGINT)
           AS n_dropped
  FROM normed n LEFT JOIN freq f ON n.lhash = f.lhash
  GROUP BY n.doc_id
  ORDER BY n.doc_id
"""


def _staged_url_docs(spark, sf_dir):
    """Documents with deterministic injected URLs (the synthetic corpus
    has none): every doc cites one of 7 rotating domains; every 10th doc
    additionally cites the blocklisted spam domain."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" https://site"), (did % 7).cast("string"),
            F.lit(".example.com/p/"), did.cast("string"),
            F.when(
                did % 10 == 0,
                F.concat(F.lit(" http://spam.example.net/x?id="),
                         did.cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


_STAGED_URL_SQL = """
    SELECT doc_id,
           text || ' https://site' || CAST(doc_id % 7 AS VARCHAR)
                || '.example.com/p/' || CAST(doc_id AS VARCHAR)
                || CASE WHEN doc_id % 10 = 0
                        THEN ' http://spam.example.net/x?id='
                             || CAST(doc_id AS VARCHAR)
                        ELSE '' END AS text
    FROM documents
"""


def q_lsh_edit_funnel(spark, sf_dir):
    """The full near-dup funnel composed end-to-end: MinHash-banded LSH
    proposes candidate pairs (never all-pairs), then the exact
    edit-distance tier rescores and keeps pairs at ≤50% normalized
    Levenshtein — the shape a 100 TB dedup run actually executes."""
    from slow_tortoise_spark.operators.dedup import (
        minhash_lsh_candidates,
        verify_pairs_edit_distance,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    cands = minhash_lsh_candidates(docs, k=8, bands=4)
    out = verify_pairs_edit_distance(docs, cands, max_ratio=0.5)
    return out.select(
        "doc_a",
        "doc_b",
        "edit_distance",
        F.round(F.col("edit_ratio") * 1e6).cast("bigint").alias(
            "edit_ratio_micro"
        ),
    ).orderBy("doc_a", "doc_b")


_Q_LSH_EDIT_FUNNEL = f"""
  WITH cand AS ({{lsh_sql}}),
  scored AS (
    SELECT c.doc_a, c.doc_b,
           levenshtein(a.text, b.text) AS edit_distance,
           levenshtein(a.text, b.text)::DOUBLE
             / greatest(length(a.text), length(b.text), 1) AS r
    FROM cand c
    JOIN documents a ON c.doc_a = a.doc_id
    JOIN documents b ON c.doc_b = b.doc_id
  )
  SELECT doc_a, doc_b, edit_distance,
         CAST(round(r * 1e6) AS BIGINT) AS edit_ratio_micro
  FROM scored WHERE r <= 0.5
  ORDER BY doc_a, doc_b
"""


def q_source_cap(spark, sf_dir):
    """Per-source hard cap: at most 15 docs per source survive, chosen
    by deterministic keyed-hash rank (reproducible in any engine)."""
    from slow_tortoise_spark.operators.dedup import cap_per_group

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(docs, "source", cap=15).orderBy("doc_id")


_Q_SOURCE_CAP = """
  SELECT doc_id, source FROM (
    SELECT doc_id, source,
           row_number() OVER (
             PARTITION BY source
             ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS rk
    FROM documents
  ) WHERE rk <= 15
  ORDER BY doc_id
"""


def q_edit_distance_verify(spark, sf_dir):
    """Edit-distance verification of an explicit candidate-pair list
    (the post-LSH exact tier): each doc paired with a tail-mutated copy;
    pairs at ≤20% normalized Levenshtein survive — long docs absorb the
    constant-size mutation, short docs get rejected."""
    from slow_tortoise_spark.operators.dedup import verify_pairs_edit_distance

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    mutated = docs.select(
        (did + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra tail words "),
                 (did % 5).cast("string")).alias("text"),
    )
    corpus = docs.unionByName(mutated)
    pairs = docs.select(
        did.alias("doc_a"), (did + 1_000_000).alias("doc_b")
    )
    out = verify_pairs_edit_distance(corpus, pairs, max_ratio=0.2)
    return out.select(
        "doc_a",
        "doc_b",
        "edit_distance",
        F.round(F.col("edit_ratio") * 1e6).cast("bigint").alias(
            "edit_ratio_micro"
        ),
    ).orderBy("doc_a")


_Q_EDIT_DISTANCE_VERIFY = """
  WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           text || ' extra tail words ' || CAST(doc_id % 5 AS VARCHAR)
      AS text
    FROM documents
  ),
  pairs AS (
    SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b FROM documents
  ),
  scored AS (
    SELECT p.doc_a, p.doc_b,
           levenshtein(a.text, b.text) AS edit_distance,
           levenshtein(a.text, b.text)::DOUBLE
             / greatest(length(a.text), length(b.text), 1) AS r
    FROM pairs p
    JOIN corpus a ON p.doc_a = a.doc_id
    JOIN corpus b ON p.doc_b = b.doc_id
  )
  SELECT doc_a, doc_b, edit_distance,
         CAST(round(r * 1e6) AS BIGINT) AS edit_ratio_micro
  FROM scored WHERE r <= 0.2
  ORDER BY doc_a
"""


def q_domain_counts(spark, sf_dir):
    """Corpus provenance: per cited domain, URL occurrences + distinct
    citing documents (the artifact domain blocklists and per-domain
    caps are built from)."""
    from slow_tortoise_spark.operators.text import domain_counts

    return domain_counts(_staged_url_docs(spark, sf_dir)).orderBy("domain")


_Q_DOMAIN_COUNTS = f"""
  WITH staged AS ({_STAGED_URL_SQL}),
  urls AS (
    SELECT doc_id,
           lower(regexp_extract(u, '^https?://([^/:?#]+)', 1)) AS domain
    FROM staged, LATERAL unnest(
      regexp_extract_all(text, 'https?://[^\\s)>\\]"'']+')) AS t(u)
  )
  SELECT domain, COUNT(*) AS n_urls, COUNT(DISTINCT doc_id) AS n_docs
  FROM urls GROUP BY domain ORDER BY domain
"""


def q_blocklist_filter(spark, sf_dir):
    """Domain blocklist filtering: documents citing the spam domain are
    dropped whole; survivors pass through untouched."""
    from slow_tortoise_spark.operators.text import filter_blocklisted_domains

    staged = _staged_url_docs(spark, sf_dir)
    blocklist = spark.createDataFrame(
        [("spam.example.net",), ("Malware.Example.ORG",)], "domain string"
    )
    out = filter_blocklisted_domains(staged, blocklist)
    return out.select("doc_id").orderBy("doc_id")


_Q_BLOCKLIST_FILTER = f"""
  WITH staged AS ({_STAGED_URL_SQL}),
  urls AS (
    SELECT doc_id,
           lower(regexp_extract(u, '^https?://([^/:?#]+)', 1)) AS domain
    FROM staged, LATERAL unnest(
      regexp_extract_all(text, 'https?://[^\\s)>\\]"'']+')) AS t(u)
  )
  SELECT doc_id FROM staged
  WHERE doc_id NOT IN (
    SELECT DISTINCT doc_id FROM urls
    WHERE domain IN ('spam.example.net', 'malware.example.org'))
  ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Catalog entries, merged by catalog.py: name -> (Spark callable, oracle SQL)
# ---------------------------------------------------------------------------

ENTRIES: dict[str, tuple[Callable, str]] = {
    "bigram_logprob": (q_bigram_logprob, _Q_BIGRAM_LOGPROB),
    "xcorpus_logprob": (q_xcorpus_logprob, _Q_XCORPUS_LOGPROB),
    "profile_table": (q_profile_table, _profile_sql()),
    "skew_report": (q_skew_report, _Q_SKEW_REPORT),
    "streaming_index_dedup": (q_streaming_index_dedup, _Q_STREAMING_INDEX_DEDUP),
    "dedup_lines": (q_dedup_lines, _Q_DEDUP_LINES),
    "lsh_edit_funnel": (
        q_lsh_edit_funnel, _Q_LSH_EDIT_FUNNEL.format(lsh_sql=_Q_MINHASH_LSH_PAIRS),
    ),
    "source_cap": (q_source_cap, _Q_SOURCE_CAP),
    "edit_distance_verify": (q_edit_distance_verify, _Q_EDIT_DISTANCE_VERIFY),
    "domain_counts": (q_domain_counts, _Q_DOMAIN_COUNTS),
    "blocklist_filter": (q_blocklist_filter, _Q_BLOCKLIST_FILTER),
}
