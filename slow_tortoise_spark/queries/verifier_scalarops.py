"""SQ similarity, DSIR, BPE encode, z-order, CDC, count-min, Gopher
rules, NFC, HTML, bloom join, resampling."""
from __future__ import annotations

from slow_tortoise_spark.queries._shared import (
    Callable,
    F,
    _t,
)
from slow_tortoise_spark.queries.tiles import (
    _TILE_SQL,
    _tiles14,
)

# Scalar-quantized (int8 SQ) similarity search
# ---------------------------------------------------------------------------


def q_sq_topk(spark, sf_dir):
    """Symmetric int8 scalar-quantized top-10 against vec_id=0: corpus
    and query quantized against per-dimension min/max, ranked by the
    exact BIGINT squared L2 code distance (similarity.py sq_topk).
    Integer end-to-end — no float-ordering hazard in the oracle."""
    from slow_tortoise_spark.operators.similarity import sq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return sq_topk(emb, k=10, query_id=0)


_Q_SQ_TOPK = """
  WITH v AS (
    SELECT vec_id, unnest(embedding)::DOUBLE AS x,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings
  ),
  mm AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM v GROUP BY i),
  codes AS (
    SELECT v.vec_id, v.i,
           CASE WHEN mm.mx = mm.mn THEN 0
                ELSE LEAST(255, GREATEST(0,
                  CAST(floor((v.x - mm.mn) * 255.0 / (mm.mx - mm.mn) + 0.5)
                       AS INT)))
           END AS c
    FROM v JOIN mm USING (i)
  ),
  q AS (SELECT i, c FROM codes WHERE vec_id = 0)
  SELECT codes.vec_id,
         CAST(SUM(CAST(codes.c - q.c AS BIGINT)
                  * CAST(codes.c - q.c AS BIGINT)) AS BIGINT) AS dist
  FROM codes JOIN q ON codes.i = q.i
  GROUP BY codes.vec_id
  ORDER BY dist ASC, vec_id
  LIMIT 10
"""


# ---------------------------------------------------------------------------
# DSIR importance weights (hashed-unigram data selection)
# ---------------------------------------------------------------------------


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights over documents: target distribution =
    the src0 slice, raw = the whole corpus; per-doc weight is the
    integer sum of hashed-bucket micro-log-ratios
    (operators/text.py dsir_weights).  After the single per-bucket ln()
    is rounded to micros, every aggregate is BIGINT-exact, so the SQL
    oracle replays the weights bit-identically."""
    from slow_tortoise_spark.operators.text import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == "src0")
    return dsir_weights(docs, target).orderBy("doc_id")


def _dsir_nib_sql(hx: str, n: int = 4) -> str:
    """Integer from the first ``n`` hex chars of expression ``hx``."""
    nibs = [
        f"(strpos('0123456789abcdef', substr({hx}, {i + 1}, 1)) - 1)"
        for i in range(n)
    ]
    expr = nibs[0]
    for nb in nibs[1:]:
        expr = f"({expr}) * 16 + {nb}"
    return f"({expr})"


_Q_DSIR_WEIGHTS = f"""
  WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              x -> x <> '')) AS tok
    FROM documents
  ),
  tb AS (
    SELECT doc_id,
           {_dsir_nib_sql("substr(md5('dsir:' || tok), 1, 4)")} % 1024 AS b
    FROM toks
  ),
  t AS (SELECT b, COUNT(*) AS c FROM tb JOIN documents USING (doc_id)
        WHERE source = 'src0' GROUP BY b),
  r AS (SELECT b, COUNT(*) AS c FROM tb GROUP BY b),
  tot AS (SELECT (SELECT COALESCE(SUM(c), 0) FROM t) AS T,
                 (SELECT COALESCE(SUM(c), 0) FROM r) AS R),
  dom AS (SELECT unnest(range(0, 1024)) AS b),
  lr AS (
    SELECT dom.b,
           CAST(round(ln(((COALESCE(t.c, 0) + 1.0) / (tot.T + 1.0 * 1024))
                         / ((COALESCE(r.c, 0) + 1.0) / (tot.R + 1.0 * 1024)))
                      * 1e6) AS BIGINT) AS lr_micro
    FROM dom LEFT JOIN t ON dom.b = t.b LEFT JOIN r ON dom.b = r.b, tot
  ),
  per AS (SELECT doc_id, b, COUNT(*) AS n FROM tb GROUP BY doc_id, b)
  SELECT d.doc_id,
         CAST(COALESCE(SUM(per.n), 0) AS BIGINT) AS n_tokens,
         CAST(COALESCE(SUM(per.n * lr.lr_micro), 0) AS BIGINT) AS w_micro
  FROM documents d
  LEFT JOIN per ON d.doc_id = per.doc_id
  LEFT JOIN lr ON per.b = lr.b
  GROUP BY d.doc_id
  ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# BPE document encoding (token budget under a corpus-trained tokenizer)
# ---------------------------------------------------------------------------


def q_bpe_encode(spark, sf_dir):
    """Per-doc token/piece counts under an 8-merge BPE trained on the
    corpus itself (operators/text.py bpe_encode).  The oracle re-trains
    the identical merges with bpe_train's replay chain, segments the
    distinct-token vocab, and joins it back to doc tokens — integer
    outputs, full value check."""
    from slow_tortoise_spark.operators.text import bpe_encode

    docs = _t(spark, sf_dir, "documents")
    return bpe_encode(docs, num_merges=8).orderBy("doc_id")


def _bpe_encode_sql(k: int = 8) -> str:
    """Encode oracle: reuse the w{i}/p{i} training replay from
    _bpe_train_sql, then thread a (tok, sym) vocab chain v{i} through
    the same merges and join doc tokens against the segmented vocab."""
    ctes = [
        "toks AS MATERIALIZED (SELECT doc_id, unnest(list_filter("
        "string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS tok"
        " FROM documents)",
        "w0 AS MATERIALIZED (SELECT '  ' || array_to_string(string_split(tok, ''), '  ')"
        " || '  ' AS sym, COUNT(*) AS wc FROM toks GROUP BY 1)",
        "v0 AS MATERIALIZED (SELECT tok, '  ' || array_to_string(string_split(tok, ''), '  ')"
        " || '  ' AS sym FROM (SELECT DISTINCT tok FROM toks))",
    ]
    for i in range(k):
        ctes.append(
            f"p{i} AS MATERIALIZED (SELECT parts[j] AS lhs, parts[j+1] AS rhs, "
            f"CAST(SUM(wc) AS BIGINT) AS cnt FROM (SELECT wc, "
            f"string_split(trim(sym), '  ') AS parts FROM w{i}), "
            f"LATERAL unnest(range(1, len(parts))) AS t(j) "
            f"GROUP BY 1, 2 ORDER BY cnt DESC, lhs, rhs LIMIT 1)"
        )
        ctes.append(
            f"v{i+1} AS MATERIALIZED (SELECT tok, replace(sym, ' ' || p.lhs || '  ' || "
            f"p.rhs || ' ', ' ' || p.lhs || p.rhs || ' ') AS sym "
            f"FROM v{i}, p{i} AS p)"
        )
        if i < k - 1:
            ctes.append(
                f"w{i+1} AS MATERIALIZED (SELECT replace(sym, ' ' || p.lhs || '  ' || "
                f"p.rhs || ' ', ' ' || p.lhs || p.rhs || ' ') AS sym, wc "
                f"FROM w{i}, p{i} AS p)"
            )
    return f"""WITH {', '.join(ctes)},
  seg AS (SELECT tok, len(string_split(trim(sym), '  ')) AS np FROM v{k}),
  enc AS (
    SELECT toks.doc_id, COUNT(*) AS n_tokens, SUM(seg.np) AS n_pieces
    FROM toks JOIN seg USING (tok) GROUP BY toks.doc_id
  )
  SELECT d.doc_id,
         CAST(COALESCE(enc.n_tokens, 0) AS BIGINT) AS n_tokens,
         CAST(COALESCE(enc.n_pieces, 0) AS BIGINT) AS n_pieces
  FROM documents d LEFT JOIN enc ON d.doc_id = enc.doc_id
  ORDER BY d.doc_id"""


# ---------------------------------------------------------------------------
# Z-order (Morton) layout diagnostics
# ---------------------------------------------------------------------------


def _morton_sql(xe: str, ye: str) -> str:
    """Morton code SQL: the same four shift-or-mask spread rounds the
    Spark side runs (tiles.py _spread_bits) — bit-identical on BIGINT."""

    def spread(e: str) -> str:
        out = f"CAST({e} AS BIGINT)"
        for sh, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F),
                         (2, 0x33333333), (1, 0x55555555)):
            out = f"(({out} | ({out} << {sh})) & {mask})"
        return out

    return f"({spread(xe)} | ({spread(ye)} << 1))"


def q_zorder_stats(spark, sf_dir):
    """Z-order clustering diagnostics over the synthetic customer tile
    coords: bucket rows by the top Morton bits and report per-bucket row
    counts, code intervals, and distinct coarse tiles touched
    (operators/tiles.py zorder_bucket_stats).  All-integer columns; the
    oracle replays the bit interleave verbatim."""
    from slow_tortoise_spark.operators.tiles import zorder_bucket_stats

    t = _tiles14(spark, sf_dir)
    return zorder_bucket_stats(t, x_col="x14", y_col="y14")


_Q_ZORDER_STATS = f"""
  WITH t AS ({_TILE_SQL}),
  coded AS (
    SELECT {_morton_sql('x14', 'y14')} AS code,
           (x14 >> 6) * 1024 + (y14 >> 6) AS tile_key
    FROM t
  )
  SELECT code >> 20 AS bucket,
         COUNT(*) AS n_rows,
         MIN(code) AS min_code,
         MAX(code) AS max_code,
         CAST(COUNT(DISTINCT tile_key) AS BIGINT) AS n_tiles
  FROM coded
  GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# CDC compaction: latest-version-per-key view
# ---------------------------------------------------------------------------


def q_latest_orders(spark, sf_dir):
    """Latest order per customer (version = orderdate, orderkey) via the
    single-shuffle max_by compaction (operators/cdc.py latest_by_key) —
    the plan deliberately avoids a window sort; the oracle states the
    same semantics as QUALIFY row_number() = 1."""
    from slow_tortoise_spark.operators.cdc import latest_by_key

    orders = _t(spark, sf_dir, "orders")
    out = latest_by_key(
        orders.select("o_custkey", "o_orderdate", "o_orderkey",
                      "o_totalprice"),
        key_cols=["o_custkey"],
        order_cols=["o_orderdate", "o_orderkey"],
    )
    return out.orderBy("o_custkey")


_Q_LATEST_ORDERS = """
  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
  FROM orders
  QUALIFY row_number() OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
  ORDER BY o_custkey
"""


# ---------------------------------------------------------------------------
# Count-min sketch (deterministic, oracle-replayable)
# ---------------------------------------------------------------------------


def q_cms_token_counts(spark, sf_dir):
    """Count-min estimates for every distinct document token (width 64
    forces real collisions): build the d=4 x w=64 counter table in one
    shuffle, probe each candidate with an integer MIN over its four
    counters (operators/sketch.py).  Deterministic salted-md5 buckets,
    so the oracle rebuilds the identical sketch."""
    from slow_tortoise_spark.operators.cachectl import tracked_cache
    from slow_tortoise_spark.operators.sketch import cms_build, cms_estimate
    from slow_tortoise_spark.operators.text import fan_out, tokens_col

    docs = _t(spark, sf_dir, "documents")
    toks = fan_out(docs.select("text")).select(
        F.explode(tokens_col(F.lower(F.col("text")))).alias("tok")
    )
    # cache the <=depth*width-row sketch: cms_estimate's per-row
    # broadcast sides would otherwise each re-run the whole build scan
    cms = tracked_cache(cms_build(toks, "tok", width=64, depth=4))
    cand = toks.distinct()
    return cms_estimate(cms, cand, "tok", width=64, depth=4).orderBy("tok")


def _cms_sql(width: int = 64, depth: int = 4) -> str:
    rows_union = " UNION ALL ".join(
        f"SELECT {r} AS row, "
        f"{_dsir_nib_sql(f'''substr(md5('cms{r}:' || tok), 1, 4)''')}"
        f" % {width} AS bucket FROM toks"
        for r in range(depth)
    )
    probe_cols = ", ".join(
        f"{_dsir_nib_sql(f'''substr(md5('cms{r}:' || tok), 1, 4)''')}"
        f" % {width} AS b{r}"
        for r in range(depth)
    )
    joins = " ".join(
        f"LEFT JOIN (SELECT bucket, cnt FROM cms WHERE row = {r}) c{r}"
        f" ON p.b{r} = c{r}.bucket"
        for r in range(depth)
    )
    least = ", ".join(
        f"COALESCE(c{r}.cnt, 0)" for r in range(depth)
    )
    return f"""
  WITH toks AS (
    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              x -> x <> '')) AS tok
    FROM documents
  ),
  stacked AS ({rows_union}),
  cms AS (SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM stacked GROUP BY row, bucket),
  cand AS (SELECT DISTINCT tok FROM toks),
  p AS (SELECT tok, {probe_cols} FROM cand)
  SELECT p.tok, CAST(LEAST({least}) AS BIGINT) AS est
  FROM p {joins}
  ORDER BY p.tok
"""


# ---------------------------------------------------------------------------
# Gopher quality rule set (named filter, exact integer bitmask)
# ---------------------------------------------------------------------------


def q_gopher_rules(spark, sf_dir):
    """Gopher (Rae et al. 2021) document-quality rules as an exact
    violation bitmask (operators/text.py gopher_rules).  Every ratio
    threshold is an integer cross-multiplication, so the oracle replays
    the mask bit-for-bit."""
    from slow_tortoise_spark.operators.text import gopher_rules

    docs = _t(spark, sf_dir, "documents")
    return gopher_rules(docs).orderBy("doc_id")


_GOPHER_STOP_SQL = " + ".join(
    f"(CASE WHEN list_contains(low, '{w}') THEN 1 ELSE 0 END)"
    for w in ("the", "be", "to", "of", "and", "that", "have", "with")
)

_Q_GOPHER_RULES = f"""
  WITH base AS (SELECT doc_id, COALESCE(text, '') AS text FROM documents),
  t AS (
    SELECT doc_id, text,
           list_filter(string_split_regex(trim(text), '\\s+'),
                       x -> x <> '') AS toks,
           string_split(text, chr(10)) AS lines
    FROM base
  ),
  m AS (
    SELECT doc_id,
      CAST(len(toks) AS BIGINT) AS n,
      CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
           AS BIGINT) AS sum_len,
      CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS hashes,
      CAST((length(text) - length(replace(text, '...', ''))) // 3
           AS BIGINT) AS ellipses,
      CAST(len(lines) AS BIGINT) AS nlines,
      CAST(len(list_filter(lines, l ->
             substr(ltrim(l), 1, 1) = '-' OR substr(ltrim(l), 1, 1) = '*'
             OR substr(ltrim(l), 1, 1) = '•')) AS BIGINT) AS bullets,
      CAST(len(list_filter(lines, l ->
             length(rtrim(l)) >= 3
             AND substr(rtrim(l), length(rtrim(l)) - 2, 3) = '...'))
           AS BIGINT) AS ell_lines,
      CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
           AS BIGINT) AS alpha_words,
      (SELECT {_GOPHER_STOP_SQL}
       FROM (SELECT list_transform(toks, x -> lower(x)) AS low)) AS stop_hits
    FROM t
  ),
  mask AS (
    SELECT doc_id, n,
      CAST((CASE WHEN n < 50 OR n > 100000 THEN 1 ELSE 0 END)
         + (CASE WHEN sum_len < 3 * n OR sum_len > 10 * n THEN 2 ELSE 0 END)
         + (CASE WHEN 10 * (hashes + ellipses) > n THEN 4 ELSE 0 END)
         + (CASE WHEN 10 * bullets > 9 * nlines THEN 8 ELSE 0 END)
         + (CASE WHEN 10 * ell_lines > 3 * nlines THEN 16 ELSE 0 END)
         + (CASE WHEN 5 * alpha_words < 4 * n THEN 32 ELSE 0 END)
         + (CASE WHEN stop_hits < 2 THEN 64 ELSE 0 END) AS BIGINT)
        AS rule_mask
    FROM m
  )
  SELECT doc_id, n AS n_words, rule_mask,
         CASE WHEN rule_mask = 0 THEN 1 ELSE 0 END AS passed
  FROM mask ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Unicode NFC normalization (pre-dedup canonicalization)
# ---------------------------------------------------------------------------


def q_nfc_normalize(spark, sf_dir):
    """NFC-normalize document text and fingerprint the result
    (operators/text.py normalize_text; md5 output so the oracle
    compares bytes, not rendering).  ASCII corpora normalize to
    themselves — the non-ASCII path is cross-checked against DuckDB's
    nfc_normalize on composed/decomposed fixtures in pytest."""
    from slow_tortoise_spark.operators.text import normalize_text

    docs = _t(spark, sf_dir, "documents")
    out = normalize_text(docs, "text", form="NFC", out_col="norm")
    return out.select(
        "doc_id",
        F.md5("norm").alias("norm_md5"),
        F.when(F.col("norm") == F.col("text"), F.lit(0))
        .otherwise(F.lit(1)).alias("changed"),
    ).orderBy("doc_id")


_Q_NFC_NORMALIZE = """
  SELECT doc_id,
         md5(nfc_normalize(text)) AS norm_md5,
         CASE WHEN nfc_normalize(text) = text THEN 0 ELSE 1 END AS changed
  FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# HTML -> text extraction
# ---------------------------------------------------------------------------


def q_strip_html(spark, sf_dir):
    """Strip deterministic HTML staging (tags + entities wrapped around
    document text) back to plain text (operators/text.py strip_html).
    Output is md5 + tag count, so the driver hash checks the extracted
    bytes; the oracle stages and strips with the same regexes."""
    from slow_tortoise_spark.operators.text import strip_html

    docs = _t(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><style>p{color:red}</style>"
                  "<script>var x=1;</script></head><body><h1>T&amp;C"
                  "</h1><p>"),
            F.col("text"),
            F.lit("</p><ul><li>a&lt;b</li></ul></body></html>"),
        ).alias("text"),
    )
    out = strip_html(staged)
    return out.select(
        "doc_id", "n_tags", F.md5("text").alias("text_md5")
    ).orderBy("doc_id")


_Q_STRIP_HTML = """
  WITH staged AS (
    SELECT doc_id,
           '<html><head><style>p{color:red}</style>'
           || '<script>var x=1;</script></head><body><h1>T&amp;C'
           || '</h1><p>' || text
           || '</p><ul><li>a&lt;b</li></ul></body></html>' AS html
    FROM documents
  ),
  stripped AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags,
           trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(html, '(?is)<script[^>]*>.*?</script>',
                                  ' ', 'g'),
                   '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                 '<[^>]*>', ' ', 'g'),
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
             '\\s+', ' ', 'g')) AS text
    FROM staged
  )
  SELECT doc_id, n_tags, md5(text) AS text_md5
  FROM stripped ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Bloom-filtered join (semi-join reduction)
# ---------------------------------------------------------------------------


def q_bloom_join(spark, sf_dir):
    """Orders joined to a selective customer slice through the Bloom
    semi-join reduction (operators/joins.py bloom_filtered_join): the
    big side is pre-filtered by broadcast Bloom probes before its
    exchange.  No false negatives, so the oracle is simply the PLAIN
    join — the reduction must be invisible in the result."""
    from slow_tortoise_spark.operators.joins import bloom_filtered_join

    orders = _t(spark, sf_dir, "orders")
    cust = (
        _t(spark, sf_dir, "customer")
        .filter("c_mktsegment = 'BUILDING' AND c_acctbal > 9000")
        .select(F.col("c_custkey").alias("o_custkey"), "c_name")
    )
    out = bloom_filtered_join(orders, cust, "o_custkey")
    return out.select(
        "o_orderkey", "o_custkey", "c_name", "o_totalprice"
    ).orderBy("o_orderkey")


_Q_BLOOM_JOIN = """
  SELECT o.o_orderkey, o.o_custkey, c.c_name, o.o_totalprice
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = 'BUILDING' AND c.c_acctbal > 9000
  ORDER BY o.o_orderkey
"""


# ---------------------------------------------------------------------------
# Timeseries resampling / gap fill
# ---------------------------------------------------------------------------


def q_resample_ffill(spark, sf_dir):
    """Daily regularization of the per-event-type value series with
    forward fill (operators/temporal.py resample_timeseries): every
    type gets one row per day between its first and last event; gap
    days carry the last observed daily sum forward."""
    from slow_tortoise_spark.operators.temporal import resample_timeseries

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.unix_millis("ts").alias("timestamp"),
        "value",
    )
    out = resample_timeseries(
        ev, ["event_type"], step_ms=86_400_000, fill="ffill"
    )
    return out.select(
        "event_type",
        "tick",
        F.round("value", 6).alias("value"),
        "observed",
    ).orderBy("event_type", "tick")


_Q_RESAMPLE_FFILL = """
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
  )
  SELECT event_type, CAST(tick AS BIGINT) AS tick,
         round(last_value(v IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY tick
           ROWS UNBOUNDED PRECEDING), 6) AS value,
         CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS observed
  FROM j ORDER BY event_type, tick
"""


# ---------------------------------------------------------------------------
# Catalog entries, merged by catalog.py: name -> (Spark callable, oracle SQL)
# ---------------------------------------------------------------------------

ENTRIES: dict[str, tuple[Callable, str]] = {
    "sq_topk": (q_sq_topk, _Q_SQ_TOPK),
    "dsir_weights": (q_dsir_weights, _Q_DSIR_WEIGHTS),
    "bpe_encode": (q_bpe_encode, _bpe_encode_sql(8)),
    "zorder_stats": (q_zorder_stats, _Q_ZORDER_STATS),
    "latest_orders": (q_latest_orders, _Q_LATEST_ORDERS),
    "cms_token_counts": (q_cms_token_counts, _cms_sql(64, 4)),
    "gopher_rules": (q_gopher_rules, _Q_GOPHER_RULES),
    "nfc_normalize": (q_nfc_normalize, _Q_NFC_NORMALIZE),
    "strip_html": (q_strip_html, _Q_STRIP_HTML),
    "bloom_join": (q_bloom_join, _Q_BLOOM_JOIN),
    "resample_ffill": (q_resample_ffill, _Q_RESAMPLE_FFILL),
}
