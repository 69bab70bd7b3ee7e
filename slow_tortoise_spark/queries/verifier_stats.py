"""MAD outliers, PSI drift, weighted sampling, negative pairs, grouping
sets, salted join, perplexity buckets, KN smoothing, file round trips."""
from __future__ import annotations

from slow_tortoise_spark.operators.cachectl import tracked_local_checkpoint
from slow_tortoise_spark.queries._shared import (
    Callable,
    F,
    _DSUM,
    _t,
)
from slow_tortoise_spark.queries.verifier_scalarops import (
    _dsir_nib_sql,
)

# MAD outlier detection (robust per-group data-quality gate)
# ---------------------------------------------------------------------------


def q_mad_outliers(spark, sf_dir):
    """Per-event-type MAD outlier summary (operators/validate.py
    mad_outliers, k=3): group medians and MADs are exact interpolated
    percentiles (the percentiles-query parity convention), outlier
    counts are integers."""
    from slow_tortoise_spark.operators.validate import mad_outliers

    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    flagged = mad_outliers(ev, ["event_type"], "value", k=3.0)
    return (
        flagged.groupBy("event_type")
        .agg(
            F.round(F.first("med"), 6).alias("med"),
            F.round(F.first("mad"), 6).alias("mad"),
            F.sum("is_outlier").cast("bigint").alias("n_outliers"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("event_type")
    )


_Q_MAD_OUTLIERS = """
  WITH med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS med
    FROM events GROUP BY 1
  ),
  dev AS (
    SELECT e.event_type, e.value, m.med
    FROM events e JOIN med m USING (event_type)
  ),
  mad AS (
    SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
    FROM dev GROUP BY 1
  )
  SELECT d.event_type,
         round(ANY_VALUE(d.med), 6) AS med,
         round(ANY_VALUE(m.mad), 6) AS mad,
         CAST(SUM(CASE WHEN abs(d.value - d.med) > 3.0 * m.mad
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         COUNT(*) AS n_rows
  FROM dev d JOIN mad m USING (event_type)
  GROUP BY d.event_type ORDER BY d.event_type
"""


# ---------------------------------------------------------------------------
# PSI drift between corpus snapshots
# ---------------------------------------------------------------------------


def q_psi_drift(spark, sf_dir):
    """Population stability index between the src0 and src1 document
    slices over hashed-unigram buckets (operators/text.py psi_drift).
    Each bucket's (p_a - p_b) ln(p_a/p_b) contribution rounds to
    integer micros once, so the frame — and any total — replays
    exactly."""
    from slow_tortoise_spark.operators.text import psi_drift

    docs = _t(spark, sf_dir, "documents")
    out = psi_drift(
        docs.filter(F.col("source") == "src0"),
        docs.filter(F.col("source") == "src1"),
        buckets=256,
    )
    return out.filter(F.col("contrib_micro") != 0).orderBy("b")


_Q_PSI_DRIFT = f"""
  WITH toks AS (
    SELECT d.source,
           unnest(list_filter(string_split_regex(lower(trim(d.text)), '\\s+'),
                              x -> x <> '')) AS tok
    FROM documents d WHERE d.source IN ('src0', 'src1')
  ),
  tb AS (
    SELECT source,
           {_dsir_nib_sql("substr(md5('dsir:' || tok), 1, 4)")} % 256 AS b
    FROM toks
  ),
  a AS (SELECT b, COUNT(*) AS c FROM tb WHERE source = 'src0' GROUP BY b),
  bb AS (SELECT b, COUNT(*) AS c FROM tb WHERE source = 'src1' GROUP BY b),
  tot AS (SELECT (SELECT COALESCE(SUM(c), 0) FROM a) AS A,
                 (SELECT COALESCE(SUM(c), 0) FROM bb) AS B),
  dom AS (SELECT unnest(range(0, 256)) AS b),
  contrib AS (
    SELECT dom.b,
           CAST(round((((COALESCE(a.c, 0) + 1.0) / (tot.A + 1.0 * 256))
                       - ((COALESCE(bb.c, 0) + 1.0) / (tot.B + 1.0 * 256)))
                      * ln(((COALESCE(a.c, 0) + 1.0) / (tot.A + 1.0 * 256))
                           / ((COALESCE(bb.c, 0) + 1.0) / (tot.B + 1.0 * 256)))
                      * 1e6) AS BIGINT) AS contrib_micro
    FROM dom LEFT JOIN a ON dom.b = a.b LEFT JOIN bb ON dom.b = bb.b, tot
  )
  SELECT b, contrib_micro FROM contrib
  WHERE contrib_micro <> 0 ORDER BY b
"""


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (Efraimidis–Spirakis, keyed-hash RNG)
# ---------------------------------------------------------------------------


def q_weighted_sample(spark, sf_dir):
    """150 documents sampled without replacement with probability
    proportional to length (n_chars) via the deterministic ES scheme
    (operators/dedup.py weighted_sample).  The oracle replays the
    hash-uniform and the ln(u)/w priority verbatim."""
    from slow_tortoise_spark.operators.dedup import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample(docs, 150, "n_chars")
    return out.select("doc_id", "n_chars").orderBy("doc_id")


_Q_WEIGHTED_SAMPLE = f"""
  WITH pri AS (
    SELECT doc_id, n_chars,
           ln(({_dsir_nib_sql("substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 12)", 12)} + 1.0)
              / 281474976710656.0)
           / CAST(n_chars AS DOUBLE) AS p
    FROM documents WHERE n_chars > 0
  )
  SELECT doc_id, n_chars FROM pri
  ORDER BY p DESC, doc_id LIMIT 150
"""


def q_resample_linear(spark, sf_dir):
    """Daily regularization with LINEAR interpolation between the
    bracketing observations (resample_timeseries fill="linear") —
    completes the gap-fill family's oracle coverage."""
    from slow_tortoise_spark.operators.temporal import resample_timeseries

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.unix_millis("ts").alias("timestamp"),
        "value",
    )
    out = resample_timeseries(
        ev, ["event_type"], step_ms=86_400_000, fill="linear"
    )
    return out.select(
        "event_type",
        "tick",
        F.round("value", 6).alias("value"),
        "observed",
    ).orderBy("event_type", "tick")


_Q_RESAMPLE_LINEAR = """
  WITH obs AS (
    SELECT event_type,
           (epoch_ms(ts) // 86400000) * 86400000 AS tick,
           SUM(value) AS v
    FROM events GROUP BY 1, 2
  ),
  spans AS (SELECT event_type, MIN(tick) AS lo, MAX(tick) AS hi
            FROM obs GROUP BY 1),
  grid AS (SELECT event_type, unnest(range(lo, hi + 1, 86400000)) AS tick
           FROM spans),
  j AS (
    SELECT g.event_type, g.tick, o.v
    FROM grid g LEFT JOIN obs o
      ON g.event_type = o.event_type AND g.tick = o.tick
  ),
  br AS (
    SELECT event_type, tick, v,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY tick
             ROWS UNBOUNDED PRECEDING) AS v0,
           last_value(CASE WHEN v IS NOT NULL THEN tick END IGNORE NULLS)
             OVER (PARTITION BY event_type ORDER BY tick
                   ROWS UNBOUNDED PRECEDING) AS t0,
           first_value(v IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY tick
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1,
           first_value(CASE WHEN v IS NOT NULL THEN tick END IGNORE NULLS)
             OVER (PARTITION BY event_type ORDER BY tick
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1
    FROM j
  )
  SELECT event_type, CAST(tick AS BIGINT) AS tick,
         round(CASE WHEN v IS NOT NULL THEN v
                    ELSE v0 + (v1 - v0) * (tick - t0) / (t1 - t0) END,
               6) AS value,
         CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS observed
  FROM br ORDER BY event_type, tick
"""


# ---------------------------------------------------------------------------
# Deterministic negative-pair sampling (contrastive training)
# ---------------------------------------------------------------------------


def q_negative_pairs(spark, sf_dir):
    """Two pseudo-random negatives per document via the keyed-hash
    permutation + fixed strides (operators/dedup.py negative_pairs).
    The oracle replays the permutation with a plain ORDER BY md5 window
    — equivalent to the bucketed order because the bucket is a prefix
    of the hash."""
    from slow_tortoise_spark.operators.dedup import negative_pairs

    docs = _t(spark, sf_dir, "documents")
    return negative_pairs(docs, k=2).orderBy("doc_id", "neg_rank")


_Q_NEGATIVE_PAIRS = """
  WITH r AS (
    SELECT doc_id,
           row_number() OVER (
             ORDER BY md5('negpair:' || CAST(doc_id AS VARCHAR)), doc_id
           ) - 1 AS g
    FROM documents
  ),
  nn AS (SELECT COUNT(*) AS n FROM r),
  steps AS (
    SELECT CAST(j AS INT) AS j,
           GREATEST(1, (nn.n * j) // 3) AS s
    FROM (SELECT unnest(range(1, 3)) AS j), nn
  ),
  p AS (
    SELECT r.doc_id, st.j, (r.g + st.s) % nn.n AS pg
    FROM r, steps st, nn
  )
  SELECT p.doc_id, r2.doc_id AS neg_id, p.j AS neg_rank
  FROM p JOIN r r2 ON p.pg = r2.g
  WHERE p.doc_id <> r2.doc_id
  ORDER BY p.doc_id, p.j
"""


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS (asymmetric grain combinations)
# ---------------------------------------------------------------------------


def q_grouping_sets(spark, sf_dir):
    """Asymmetric grouping sets — (flag, status), (flag), () but NOT
    (status): the grain selection neither cube nor rollup expresses.
    One Expand + one exchange, same physical shape as the cube; the
    grouping-id distinguishes a genuine NULL key from a rolled-up one."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem")
    return spark.sql(f"""
      SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
             COALESCE(l_linestatus, 'ALL') AS l_linestatus,
             CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT)
               AS gid,
             {_DSUM.format(x='l_quantity')} AS sum_qty,
             COUNT(*) AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                              (l_returnflag), ())
      ORDER BY gid, l_returnflag, l_linestatus
    """)


_Q_GROUPING_SETS = f"""
  SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
         COALESCE(l_linestatus, 'ALL') AS l_linestatus,
         CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
              AS BIGINT) AS gid,
         {_DSUM.format(x='l_quantity')} AS sum_qty,
         COUNT(*) AS n
  FROM lineitem
  GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                          (l_returnflag), ())
  ORDER BY gid, l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Salted join (hot-key skew mitigation)
# ---------------------------------------------------------------------------


def q_salted_join(spark, sf_dir):
    """Orders joined to nation-sized dims through the salted join
    (operators/skew.py salted_join): big-side rows spread over 16
    sub-keys, the dim replicates per salt.  Result must equal the plain
    join — the oracle states exactly that."""
    from slow_tortoise_spark.operators.skew import salted_join

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    out = salted_join(orders, cust, "o_custkey", salt_buckets=8)
    return out.select(
        "o_orderkey", "o_custkey", "c_mktsegment", "o_totalprice"
    ).orderBy("o_orderkey")


_Q_SALTED_JOIN = """
  SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment, o.o_totalprice
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  ORDER BY o.o_orderkey
"""


# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing (head/middle/tail per stratum)
# ---------------------------------------------------------------------------


def q_ppl_buckets(spark, sf_dir):
    """Head/middle/tail LM-score tiles per source stratum
    (operators/text.py perplexity_buckets — Wenzek et al. 2020 CCNet
    pattern, with NTILE thirds instead of interpolated-percentile cuts
    so the bucket boundary is bit-deterministic across engines)."""
    from slow_tortoise_spark.operators.text import perplexity_buckets

    docs = _t(spark, sf_dir, "documents")
    return perplexity_buckets(docs, strata_col="source").orderBy("doc_id")


_Q_PPL_BUCKETS = """
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
  ),
  per_doc AS (
    SELECT d.doc_id,
           d.source AS strata,
           CAST(round(COALESCE(a.mean_logprob, 0.0) * 1e6) AS BIGINT)
             AS lp_micro,
           COALESCE(a.n_bigrams, 0) AS n_bigrams
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
  )
  SELECT doc_id, strata, lp_micro, n_bigrams,
         CAST(ntile(3) OVER (PARTITION BY strata
                             ORDER BY lp_micro DESC, doc_id) AS INT)
           AS bucket,
         CASE ntile(3) OVER (PARTITION BY strata
                             ORDER BY lp_micro DESC, doc_id)
              WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
         END AS label
  FROM per_doc
  ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram scoring under a reference corpus
# ---------------------------------------------------------------------------


def q_kn_logprob(spark, sf_dir):
    """Every-7th document scored under the REST of the corpus's
    interpolated Kneser-Ney bigram LM (operators/text.py
    kn_bigram_logprob_under) — the smoothing a filtering LM needs on
    held-out text, where the MLE scorer would emit -inf on any unseen
    bigram.  Integer micro-logprob output (established float-parity
    pattern)."""
    from slow_tortoise_spark.operators.text import kn_bigram_logprob_under

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 7 == 0)
    reference = docs.filter(F.col("doc_id") % 7 != 0)
    out = kn_bigram_logprob_under(target, reference)
    return out.select(
        "doc_id",
        F.round(F.col("mean_logprob") * 1e6).cast("bigint").alias(
            "mean_logprob_micro"
        ),
        "n_bigrams",
        F.col("n_unseen").cast("bigint").alias("n_unseen"),
    ).orderBy("doc_id")


_Q_KN_LOGPROB = """
  WITH tgt AS (SELECT * FROM documents WHERE doc_id % 7 = 0),
  ref AS (SELECT * FROM documents WHERE doc_id % 7 <> 0),
  rtoks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '') AS l
    FROM ref
  ),
  rflat AS (
    SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos
    FROM rtoks
  ),
  rbig AS (
    SELECT doc_id,
           lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
           tok AS cur
    FROM rflat
    QUALIFY prev IS NOT NULL
  ),
  c2 AS (SELECT prev, cur, COUNT(*) AS c2 FROM rbig GROUP BY 1, 2),
  ctx AS (SELECT prev, CAST(SUM(c2) AS BIGINT) AS c1,
                 COUNT(*) AS n1fwd FROM c2 GROUP BY 1),
  cont AS (SELECT cur, COUNT(*) AS n1back FROM c2 GROUP BY 1),
  nnv AS (
    SELECT (SELECT COUNT(*) FROM c2) AS nn,
           (SELECT COUNT(DISTINCT tok) FROM rflat) AS v
  ),
  ttoks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '') AS l
    FROM tgt
  ),
  tflat AS (
    SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos
    FROM ttoks
  ),
  tbig AS (
    SELECT doc_id,
           lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
           tok AS cur
    FROM tflat
    QUALIFY prev IS NOT NULL
  ),
  scored AS (
    SELECT b.doc_id,
           ln(CASE WHEN x.c1 IS NOT NULL AND x.c1 > 0
                   THEN greatest(COALESCE(c2.c2, 0) - 0.75, 0.0) / x.c1
                        + (0.75 * x.n1fwd / x.c1)
                          * ((COALESCE(n.n1back, 0) + 1)
                             / (nnv.nn + nnv.v + 1))
                   ELSE (COALESCE(n.n1back, 0) + 1)
                        / (nnv.nn + nnv.v + 1)
              END) AS lp,
           CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END AS unseen
    FROM tbig b
    LEFT JOIN c2 ON b.prev = c2.prev AND b.cur = c2.cur
    LEFT JOIN ctx x ON b.prev = x.prev
    LEFT JOIN cont n ON b.cur = n.cur
    CROSS JOIN nnv
  ),
  agg AS (
    SELECT doc_id, AVG(lp) AS mean_logprob, COUNT(*) AS n_bigrams,
           CAST(SUM(unseen) AS BIGINT) AS n_unseen
    FROM scored GROUP BY doc_id
  )
  SELECT t.doc_id,
         CAST(round(COALESCE(a.mean_logprob, 0.0) * 1e6) AS BIGINT)
           AS mean_logprob_micro,
         COALESCE(a.n_bigrams, 0) AS n_bigrams,
         COALESCE(a.n_unseen, 0) AS n_unseen
  FROM tgt t LEFT JOIN agg a ON t.doc_id = a.doc_id
  ORDER BY t.doc_id
"""


# ---------------------------------------------------------------------------
# JSONL / CSV ingest round-trips (sources/textio.py)
# ---------------------------------------------------------------------------

_DOCS_DDL = "doc_id long, text string, lang string, source string, n_chars long"
_Q_DOCS_IDENTITY = """
  SELECT doc_id, text, lang, source, n_chars
  FROM documents ORDER BY doc_id
"""


def q_jsonl_roundtrip(spark, sf_dir):
    """documents → JSON-lines shards → explicit-schema read
    (sources/textio.py) → identity vs the parquet originals.  The
    oracle is the parquet table itself, so ANY fidelity loss in the
    JSONL writer/reader (encoding, newline escaping, numeric width,
    null handling) hash-mismatches.  Zero rows may be corrupt."""
    import shutil
    import tempfile

    from slow_tortoise_spark.sources.textio import (
        bad_record_count,
        drop_bad_records,
        read_jsonl,
        write_jsonl,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="jsonl_rt_")
    try:
        write_jsonl(docs, root)
        back = read_jsonl(spark, root, _DOCS_DDL)
        assert bad_record_count(back) == 0
        out = tracked_local_checkpoint(
            drop_bad_records(back)
            .orderBy("doc_id")
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def q_csv_roundtrip(spark, sf_dir):
    """documents → fully-quoted CSV shards (embedded newlines, the \\N
    null marker) → explicit-schema multiLine read → identity vs the
    parquet originals.  Exercises exactly the CSV hazards that corrupt
    corpora in the wild: quoted embedded newlines, quotes-in-text, and
    the null/empty-string ambiguity."""
    import shutil
    import tempfile

    from slow_tortoise_spark.sources.textio import (
        bad_record_count,
        drop_bad_records,
        read_csv,
        write_csv,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="csv_rt_")
    try:
        write_csv(docs, root)
        back = read_csv(spark, root, _DOCS_DDL)
        assert bad_record_count(back) == 0
        out = tracked_local_checkpoint(
            drop_bad_records(back)
            .orderBy("doc_id")
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# Catalog entries, merged by catalog.py: name -> (Spark callable, oracle SQL)
# ---------------------------------------------------------------------------

ENTRIES: dict[str, tuple[Callable, str]] = {
    "mad_outliers": (q_mad_outliers, _Q_MAD_OUTLIERS),
    "psi_drift": (q_psi_drift, _Q_PSI_DRIFT),
    "weighted_sample": (q_weighted_sample, _Q_WEIGHTED_SAMPLE),
    "resample_linear": (q_resample_linear, _Q_RESAMPLE_LINEAR),
    "negative_pairs": (q_negative_pairs, _Q_NEGATIVE_PAIRS),
    "grouping_sets": (q_grouping_sets, _Q_GROUPING_SETS),
    "salted_join": (q_salted_join, _Q_SALTED_JOIN),
    "ppl_buckets": (q_ppl_buckets, _Q_PPL_BUCKETS),
    "kn_logprob": (q_kn_logprob, _Q_KN_LOGPROB),
    "jsonl_roundtrip": (q_jsonl_roundtrip, _Q_DOCS_IDENTITY),
    "csv_roundtrip": (q_csv_roundtrip, _Q_DOCS_IDENTITY),
}
