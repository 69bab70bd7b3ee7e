"""Iterative/trained operators: BPE training, span dedup, winnowing,
gramian/PCA, Bloom contamination, k-means, logreg, PQ/IVF-PQ, graph
ranking and centrality, sequence packing and token budgets."""
from __future__ import annotations

from slow_tortoise_spark.queries._shared import (
    Callable,
    build_ivf_index,
    F,
    _t,
)

# Iterative BPE training (verifier tier — the oracle replays every merge)
# ---------------------------------------------------------------------------


def q_bpe_train(spark, sf_dir):
    """Eight learned BPE merges over the documents vocabulary — the
    iterative completion of ``bpe_pairs`` (which ranks only round-0
    candidates). Driver-looped argmax per round; corpus touched once."""
    from slow_tortoise_spark.operators.text import bpe_train

    docs = _t(spark, sf_dir, "documents")
    return bpe_train(docs, num_merges=8)


def _bpe_train_sql(k: int = 8) -> str:
    """Generate the chained-CTE oracle: w{i} = vocab state after i
    merges, p{i} = that state's argmax pair. Merge replay is the same
    literal double-space replace the Spark side uses (text.py
    bpe_word_freq docstring), so every round is value-checked, not just
    the first."""
    ctes = [
        "w0 AS MATERIALIZED (SELECT '  ' || array_to_string(string_split(tok, ''), '  ')"
        " || '  ' AS sym, COUNT(*) AS wc FROM (SELECT unnest(list_filter("
        "string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS tok"
        " FROM documents) GROUP BY 1)"
    ]
    for i in range(k):
        ctes.append(
            f"p{i} AS MATERIALIZED (SELECT parts[j] AS lhs, parts[j+1] AS rhs, "
            f"CAST(SUM(wc) AS BIGINT) AS cnt FROM (SELECT wc, "
            f"string_split(trim(sym), '  ') AS parts FROM w{i}), "
            f"LATERAL unnest(range(1, len(parts))) AS t(j) "
            f"GROUP BY 1, 2 ORDER BY cnt DESC, lhs, rhs LIMIT 1)"
        )
        if i < k - 1:
            ctes.append(
                f"w{i+1} AS MATERIALIZED (SELECT replace(sym, ' ' || p.lhs || '  ' || "
                f"p.rhs || ' ', ' ' || p.lhs || p.rhs || ' ') AS sym, wc "
                f"FROM w{i}, p{i} AS p)"
            )
    unions = " UNION ALL ".join(
        f"SELECT CAST({i+1} AS BIGINT) AS rank, lhs, rhs, cnt FROM p{i}"
        for i in range(k)
    )
    return f"WITH {', '.join(ctes)} SELECT * FROM ({unions}) ORDER BY rank"


# ---------------------------------------------------------------------------
# Span-level exact-substring dedup + winnowing fingerprints (verifier tier)
# ---------------------------------------------------------------------------


def q_dup_span_removal(spark, sf_dir):
    """Exact-substring span removal (Lee et al. 2022 style): delete every
    token inside a 10-token window whose content repeats corpus-wide,
    rebuild docs from survivors. Full-value check: the oracle rebuilds
    the cleaned text with the same token/window conventions."""
    from slow_tortoise_spark.operators.dedup import remove_duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, n=10).orderBy("doc_id")


_Q_DUP_SPAN_REMOVAL = """
  WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '') AS t
    FROM documents
  ),
  win AS (
    SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
           array_to_string(list_slice(t, u.i, u.i + 9), ' ') AS w
    FROM toks, LATERAL unnest(range(1, greatest(len(t) - 9, 0) + 1)) AS u(i)
  ),
  dup AS (SELECT w FROM win GROUP BY w HAVING COUNT(*) > 1),
  cov AS (
    SELECT DISTINCT v.doc_id, v.pos + u.k AS i
    FROM win v JOIN dup USING (w),
         LATERAL unnest(range(0, 10)) AS u(k)
  ),
  tok AS (
    SELECT doc_id, CAST(u.i AS BIGINT) AS i, t[CAST(u.i AS INT)] AS tok
    FROM toks, LATERAL unnest(range(1, len(t) + 1)) AS u(i)
  ),
  reb AS (
    SELECT k.doc_id, COUNT(*) AS n_kept,
           string_agg(k.tok, ' ' ORDER BY k.i) AS clean_text
    FROM tok k LEFT JOIN cov c ON c.doc_id = k.doc_id AND c.i = k.i
    WHERE c.i IS NULL
    GROUP BY k.doc_id
  )
  SELECT d.doc_id,
         CAST(len(t.t) AS BIGINT) AS n_tokens,
         CAST(len(t.t) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
         COALESCE(r.clean_text, '') AS clean_text
  FROM documents d
  JOIN toks t USING (doc_id)
  LEFT JOIN reb r USING (doc_id)
  ORDER BY d.doc_id
"""


def q_winnow_fp(spark, sf_dir):
    """Winnowing (MOSS) fingerprints, k=5-token grams, window w=4; the
    per-doc selected set is value-checked via an order-canonical md5
    checksum the oracle reproduces pair-for-pair."""
    from slow_tortoise_spark.operators.text import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    out = winnow_fingerprints(docs, k=5, w=4)
    fps = F.col("fingerprints")
    checksum = F.md5(
        F.array_join(
            F.transform(
                fps,
                lambda s: F.concat_ws(
                    "", s["pos"].cast("string"), F.lit(":"), s["h"]
                ),
            ),
            "|",
        )
    )
    return out.select(
        "doc_id",
        "n_grams",
        F.size(fps).cast("long").alias("n_fp"),
        checksum.alias("fp_checksum"),
    ).orderBy("doc_id")


_Q_WINNOW_FP = """
  WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '') AS t
    FROM documents
  ),
  grams AS (
    SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
           substr(md5(array_to_string(list_slice(t, u.i, u.i + 4), ' ')),
                  1, 16) AS h
    FROM toks, LATERAL unnest(range(1, greatest(len(t) - 4, 0) + 1)) AS u(i)
  ),
  g AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
  cand AS (
    SELECT a.doc_id, a.pos AS j, b.pos, b.h,
           ROW_NUMBER() OVER (
             PARTITION BY a.doc_id, a.pos ORDER BY b.h, b.pos DESC
           ) AS rn
    FROM grams a
    JOIN g USING (doc_id)
    JOIN grams b ON b.doc_id = a.doc_id
               AND b.pos BETWEEN a.pos AND a.pos + 3
    WHERE a.pos <= g.n_grams - 3
  ),
  sel AS (SELECT DISTINCT doc_id, pos, h FROM cand WHERE rn = 1),
  chk AS (
    SELECT doc_id, COUNT(*) AS n_fp,
           md5(string_agg(pos || ':' || h, '|' ORDER BY pos, h))
             AS fp_checksum
    FROM sel GROUP BY doc_id
  )
  SELECT d.doc_id,
         CAST(COALESCE(g.n_grams, 0) AS BIGINT) AS n_grams,
         CAST(COALESCE(c.n_fp, 0) AS BIGINT) AS n_fp,
         COALESCE(c.fp_checksum, md5('')) AS fp_checksum
  FROM documents d
  LEFT JOIN g USING (doc_id)
  LEFT JOIN chk c USING (doc_id)
  ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# Embedding gramian + Bloom-filter contamination (verifier tier)
# ---------------------------------------------------------------------------


def q_embedding_gramian(spark, sf_dir):
    """Distributed gramian of the embeddings table (d=64 -> 4096 cells),
    the PCA/whitening building block; micro-rounded so float-sum
    ordering can't flip the driver hash."""
    from slow_tortoise_spark.operators.similarity import embedding_gramian

    emb = _t(spark, sf_dir, "embeddings")
    g = embedding_gramian(emb, "embedding", method="explode")
    return g.select(
        "i", "j", F.round(F.col("g") * 1e6).cast("bigint").alias("g_micro")
    ).orderBy("i", "j")


_Q_EMBEDDING_GRAMIAN = """
  WITH x AS (
    SELECT CAST(u.i AS INT) - 1 AS i,
           CAST(embedding[CAST(u.i AS INT)] AS DOUBLE) AS vi,
           embedding AS v
    FROM embeddings,
         LATERAL unnest(range(1, len(embedding) + 1)) AS u(i)
  ),
  p AS (
    SELECT i, CAST(u2.j AS INT) - 1 AS j,
           vi * CAST(v[CAST(u2.j AS INT)] AS DOUBLE) AS p
    FROM x, LATERAL unnest(range(1, len(v) + 1)) AS u2(j)
  )
  SELECT i, j, CAST(round(SUM(p) * 1e6) AS BIGINT) AS g_micro
  FROM p GROUP BY i, j ORDER BY i, j
"""


def _bloom_nib_sql(hx: str) -> str:
    """20-bit int from a 5-hex-char expression (the Bloom position)."""
    nibs = [
        f"(strpos('0123456789abcdef', substr({hx}, {i + 1}, 1)) - 1)"
        for i in range(5)
    ]
    expr = nibs[0]
    for nb in nibs[1:]:
        expr = f"({expr}) * 16 + {nb}"
    return f"({expr})"


def q_bloom_contamination(spark, sf_dir):
    """Bloom-filter contamination scan (even-id train / odd-id test,
    5-gram shingles): the train vocabulary collapses to <=1 MiB of bits,
    so the construction is deterministic and the oracle replays every
    position."""
    from slow_tortoise_spark.operators.dedup import bloom_contamination

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    out = bloom_contamination(train, test, n=5, k=5)
    return out.select(
        "doc_id",
        "n_shingles",
        "n_bloom_hits",
        F.round(F.col("hit_ratio") * 1e6).cast("bigint").alias("hit_micro"),
    ).orderBy("doc_id")


def _bloom_sql(n: int = 5, k: int = 5) -> str:
    pos_union = lambda src: " UNION ALL ".join(  # noqa: E731
        f"SELECT {cols}, {_bloom_nib_sql(f'''substr(md5('{h}:' || shingle), 1, 5)''')} AS p"
        f" FROM {src}"
        for h in range(k)
        for cols in [("doc_id, shingle" if src == "test_sh" else "shingle")]
    )
    return f"""
  WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '') AS t
    FROM documents
  ),
  sh AS (
    SELECT DISTINCT doc_id, unnest(list_transform(
             range(1, greatest(len(t) - {n - 1}, 0) + 1),
             i -> array_to_string(list_slice(t, i, i + {n - 1}), ' '))) AS shingle
    FROM toks WHERE len(t) >= {n}
  ),
  train_vocab AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0),
  test_sh AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 2 = 1),
  bp AS ({pos_union('train_vocab')}),
  bloom AS (
    SELECT CAST(p // 32 AS INT) AS word,
           bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
    FROM bp GROUP BY 1
  ),
  tp AS ({pos_union('test_sh')}),
  checked AS (
    SELECT t.doc_id, t.shingle,
           CASE WHEN COALESCE(b.bits, 0)
                     & (CAST(1 AS BIGINT) << CAST(t.p % 32 AS INT)) <> 0
                THEN 1 ELSE 0 END AS bit_set
    FROM tp t LEFT JOIN bloom b ON b.word = CAST(t.p // 32 AS INT)
  ),
  per AS (
    SELECT doc_id, shingle, MIN(bit_set) AS all_set
    FROM checked GROUP BY doc_id, shingle
  ),
  agg AS (
    SELECT doc_id, COUNT(*) AS n_shingles,
           CAST(SUM(all_set) AS BIGINT) AS n_hits
    FROM per GROUP BY doc_id
  )
  SELECT d.doc_id,
         CAST(COALESCE(a.n_shingles, 0) AS BIGINT) AS n_shingles,
         CAST(COALESCE(a.n_hits, 0) AS BIGINT) AS n_bloom_hits,
         CAST(round(COALESCE(a.n_hits, 0)::DOUBLE
               / greatest(COALESCE(a.n_shingles, 0), 1) * 1e6) AS BIGINT)
           AS hit_micro
  FROM documents d LEFT JOIN agg a USING (doc_id)
  WHERE d.doc_id % 2 = 1
  ORDER BY d.doc_id
"""


def q_shuffle_rows(spark, sf_dir):
    """Deterministic epoch-shuffle order over documents: (bucket,
    bucket_rank) is a reproducible total order with no RNG state."""
    from slow_tortoise_spark.operators.dedup import shuffle_rows

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return shuffle_rows(docs).select(
        "doc_id", "bucket", "bucket_rank"
    ).orderBy("bucket", "bucket_rank")


_Q_SHUFFLE_ROWS = """
  WITH h AS (
    SELECT doc_id, md5('shuffle:' || doc_id) AS h
    FROM documents
  ),
  b AS (
    SELECT doc_id, h,
           CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)
              AS INT) % 256 AS bucket
    FROM h
  )
  SELECT doc_id, bucket,
         CAST(ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY h, doc_id)
              AS INT) AS bucket_rank
  FROM b
  ORDER BY bucket, bucket_rank
"""


# ---------------------------------------------------------------------------
# K-means Lloyd iterations (verifier tier — the oracle replays every round)
# ---------------------------------------------------------------------------


def q_kmeans_assign(spark, sf_dir):
    """Cell assignment after two distributed Lloyd iterations (C=4,
    deterministic md5 seeding).  Like bpe_train, the oracle replays the
    ITERATIVE algorithm round by round — assignment, per-cell means,
    re-assignment — so the distributed k-means is value-checked, not
    just its final shape."""
    emb = _t(spark, sf_dir, "embeddings")
    indexed, _ = build_ivf_index(emb, n_cells=4, kmeans_iters=2)
    return indexed.select("vec_id", "cell").orderBy("vec_id")


def _kmeans_sql(n_cells: int = 4, iters: int = 2) -> str:
    """Chained-CTE Lloyd replay: cents{r} = centroid vectors entering
    round r, assign{r} = argmax-cosine assignment under them (lowest
    cell on ties — the engine's array_position first-wins order).
    The vector's own norm is a positive per-row constant, so the argmax
    ranks dot/‖c‖ exactly like the engine's join strategy."""
    ctes = [
        """v AS (
        SELECT vec_id, unnest(embedding)::DOUBLE AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings)""",
        f"""seeds AS (
        SELECT vec_id AS seed_id,
               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) - 1 AS cell
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {n_cells})""",
        """cents0 AS (
        SELECT s.cell, v.i, v.x FROM seeds s JOIN v ON v.vec_id = s.seed_id)""",
    ]
    for r in range(iters + 1):
        ctes.append(
            f"""cnorm{r} AS (
            SELECT cell, sqrt(SUM(x * x)) AS n FROM cents{r} GROUP BY cell)"""
        )
        ctes.append(
            f"""assign{r} AS (
            SELECT vec_id, cell FROM (
              SELECT d.vec_id, d.cell,
                     row_number() OVER (
                       PARTITION BY d.vec_id
                       ORDER BY d.dot / cn.n DESC, d.cell) AS rn
              FROM (SELECT v.vec_id, c.cell, SUM(v.x * c.x) AS dot
                    FROM v JOIN cents{r} c ON v.i = c.i
                    GROUP BY 1, 2) d
              JOIN cnorm{r} cn ON d.cell = cn.cell
            ) WHERE rn = 1)"""
        )
        if r < iters:
            ctes.append(
                f"""cents{r + 1} AS (
                SELECT a.cell, v.i, AVG(v.x) AS x
                FROM assign{r} a JOIN v ON v.vec_id = a.vec_id
                GROUP BY 1, 2)"""
            )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT vec_id, cell FROM assign{iters} ORDER BY vec_id"
    )


# ---------------------------------------------------------------------------
# Logistic-regression trainer (verifier tier — oracle replays every GD round)
# ---------------------------------------------------------------------------


def q_logreg_weights(spark, sf_dir):
    """Five full-batch gradient-descent rounds of a logistic quality
    classifier over the first 8 embedding dims (target: label parity).
    Like bpe_train/kmeans_assign, the oracle replays the ITERATIVE
    optimization round by round; weights go out micro-rounded."""
    from slow_tortoise_spark.operators.similarity import logreg_fit

    emb = _t(spark, sf_dir, "embeddings").select(
        "embedding", (F.col("label") % 2).alias("y")
    )
    w = logreg_fit(emb, dim=8, iters=5, lr=0.5)
    return spark.createDataFrame(
        [(j, int(round(wj * 1e6))) for j, wj in enumerate(w)],
        "j int, w_micro long",
    ).orderBy("j")


def _logreg_sql(dim: int = 8, iters: int = 5, lr: float = 0.5) -> str:
    """Chained-CTE gradient-descent replay: w{r} = weights entering
    round r (j = dim is the bias), g{r} = that round's full-batch
    gradient. The engine folds z left-to-right over literal weights
    while SQL sums a join — float association differs at ~1e-16, far
    under the 1e-6 output rounding."""
    # AS MATERIALIZED everywhere: each round's CTEs are referenced
    # multiple times (z{r} reads w{r} twice, w{r+1} reads w{r} and g{r});
    # inlining doubles the expression tree per round — measured 410 s for
    # 5 rounds vs ~1 s materialized.
    w0 = ", ".join(f"({j}, 0.0)" for j in range(dim + 1))
    ctes = [
        f"""x AS MATERIALIZED (
        SELECT vec_id, CAST(u.j AS INT) - 1 AS j,
               CAST(embedding[CAST(u.j AS INT)] AS DOUBLE) AS x
        FROM embeddings, LATERAL unnest(range(1, {dim} + 1)) AS u(j))""",
        """yy AS MATERIALIZED (SELECT vec_id, CAST(label % 2 AS DOUBLE) AS y
                  FROM embeddings)""",
        "nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM embeddings)",
        f"w0(j, wv) AS MATERIALIZED (VALUES {w0})",
    ]
    for r in range(iters):
        ctes.append(
            f"""z{r} AS MATERIALIZED (
            SELECT x.vec_id,
                   SUM(x.x * w.wv)
                   + (SELECT wv FROM w{r} WHERE j = {dim}) AS z
            FROM x JOIN w{r} w ON x.j = w.j
            GROUP BY x.vec_id)"""
        )
        ctes.append(
            f"""e{r} AS MATERIALIZED (
            SELECT z.vec_id, 1.0 / (1.0 + exp(-z.z)) - yy.y AS err
            FROM z{r} z JOIN yy ON z.vec_id = yy.vec_id)"""
        )
        ctes.append(
            f"""g{r} AS MATERIALIZED (
            SELECT x.j, SUM(e.err * x.x) AS g
            FROM e{r} e JOIN x ON e.vec_id = x.vec_id
            GROUP BY x.j
            UNION ALL
            SELECT {dim} AS j, SUM(err) AS g FROM e{r})"""
        )
        ctes.append(
            f"""w{r + 1} AS MATERIALIZED (
            SELECT w.j, w.wv - {lr} * g.g / nn.n AS wv
            FROM w{r} w JOIN g{r} g ON w.j = g.j, nn)"""
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT j, CAST(round(wv * 1e6) AS BIGINT) AS w_micro"
        f" FROM w{iters} ORDER BY j"
    )


# ---------------------------------------------------------------------------
# Product quantization (verifier tier — the oracle replays every Lloyd
# round in every subspace; Jégou et al. 2011 ADC convention)
# ---------------------------------------------------------------------------


def q_pq_codes(spark, sf_dir):
    """PQ code assignment after one distributed Lloyd round per subspace
    (m=4 subspaces × 16 dims, ksub=4, md5-ordered seeding).  Long-format
    (vec_id, s, code) output — all integers, so the hash compare carries
    no float representation at all; the float centroids influence only
    the argmin, exactly like kmeans_assign."""
    from slow_tortoise_spark.operators.similarity import pq_encode, pq_train

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_train(emb, m=4, ksub=4, iters=1)
    enc = pq_encode(emb, cb)
    return enc.select(
        "vec_id", F.posexplode("pq_codes").alias("s", "code")
    ).orderBy("vec_id", "s")


def _pq_ctes(m: int, ksub: int, dsub: int, iters: int) -> list[str]:
    """Shared chained-CTE Lloyd replay per subspace: sv = (vec_id,
    subspace, local dim, value), cents{r} = codebooks entering round r
    (empty clusters carry the previous centroid forward — the engine's
    contract), assign{r} = argmin-L2 codes under them (lowest code on
    ties — array_position first-wins order)."""
    ctes = [
        f"""v AS MATERIALIZED (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               unnest(embedding)::DOUBLE AS x
        FROM embeddings)""",
        f"""sv AS MATERIALIZED (
        SELECT vec_id, i // {dsub} AS s, i % {dsub} AS p, x FROM v)""",
        f"""seeds AS MATERIALIZED (
        SELECT vec_id AS seed_id,
               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) - 1 AS j
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {ksub})""",
        """cents0 AS MATERIALIZED (
        SELECT sd.j, sv.s, sv.p, sv.x
        FROM seeds sd JOIN sv ON sv.vec_id = sd.seed_id)""",
    ]
    for r in range(iters + 1):
        ctes.append(
            f"""assign{r} AS MATERIALIZED (
            SELECT vec_id, s, j AS code FROM (
              SELECT d.vec_id, d.s, d.j,
                     row_number() OVER (
                       PARTITION BY d.vec_id, d.s
                       ORDER BY d.dist, d.j) AS rn
              FROM (SELECT sv.vec_id, sv.s, c.j,
                           SUM((sv.x - c.x) * (sv.x - c.x)) AS dist
                    FROM sv JOIN cents{r} c ON sv.s = c.s AND sv.p = c.p
                    GROUP BY 1, 2, 3) d
            ) WHERE rn = 1)"""
        )
        if r < iters:
            ctes.append(
                f"""cents{r + 1} AS MATERIALIZED (
                SELECT c0.j, c0.s, c0.p, COALESCE(mu.x, c0.x) AS x
                FROM cents{r} c0 LEFT JOIN (
                  SELECT a.code AS j, a.s, sv.p, AVG(sv.x) AS x
                  FROM assign{r} a
                  JOIN sv ON sv.vec_id = a.vec_id AND sv.s = a.s
                  GROUP BY 1, 2, 3) mu
                ON c0.j = mu.j AND c0.s = mu.s AND c0.p = mu.p)"""
            )
    return ctes


def _pq_codes_sql(m: int = 4, ksub: int = 4, dsub: int = 16,
                  iters: int = 1) -> str:
    ctes = _pq_ctes(m, ksub, dsub, iters)
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT vec_id, CAST(s AS INT) AS s, CAST(code AS INT) AS code"
          f" FROM assign{iters} ORDER BY vec_id, s"
    )


def q_pq_topk(spark, sf_dir):
    """Asymmetric-distance PQ top-10 for corpus vector 0 as the query:
    the raw query subvectors score against the trained codebooks through
    the m×ksub distance table; output is the BIGINT micro-distance
    (ties by vec_id).  Compressed-domain scan — the ranking pass reads
    m small-int codes per vector, never the floats."""
    from slow_tortoise_spark.operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_topk(emb, query_id=0, k=10, m=4, ksub=4, iters=1)


def _pq_topk_sql(m: int = 4, ksub: int = 4, dsub: int = 16,
                 iters: int = 1, query_id: int = 0, k: int = 10) -> str:
    ctes = _pq_ctes(m, ksub, dsub, iters)
    ctes.append(
        f"""q AS MATERIALIZED (
        SELECT s, p, x FROM sv WHERE vec_id = {query_id})"""
    )
    ctes.append(
        f"""dtab AS MATERIALIZED (
        SELECT c.s, c.j, SUM((q.x - c.x) * (q.x - c.x)) AS d
        FROM cents{iters} c JOIN q ON q.s = c.s AND q.p = c.p
        GROUP BY 1, 2)"""
    )
    ctes.append(
        f"""scored AS (
        SELECT a.vec_id, SUM(t.d) AS dist
        FROM assign{iters} a JOIN dtab t ON a.s = t.s AND a.code = t.j
        GROUP BY 1)"""
    )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT vec_id, CAST(round(dist * 1e6) AS BIGINT)"
          f" AS adc_dist_micros FROM scored"
          f" ORDER BY adc_dist_micros, vec_id LIMIT {k}"
    )


# ---------------------------------------------------------------------------
# IVFADC (verifier tier — IVF cosine k-means + residual-PQ Lloyd + probe
# + per-cell ADC tables, ALL replayed by the oracle)
# ---------------------------------------------------------------------------


def q_ivfpq_topk(spark, sf_dir):
    """IVFADC top-10 for corpus vector 0: 4-cell IVF (one cosine Lloyd
    round), PQ trained on the residuals (m=4, ksub=4, one L2 Lloyd
    round), nprobe=2 — the scan touches only the two probed cells' codes.
    The oracle replays the ENTIRE composition round by round."""
    from slow_tortoise_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    enc, cents, books = ivfpq_build(
        emb, n_cells=4, kmeans_iters=1, m=4, ksub=4, pq_iters=1
    )
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0)
         .first()["embedding"]]
    return ivfpq_topk(enc, cents, books, q, k=10, nprobe=2)


def _ivfpq_ctes(
    n_cells: int = 4,
    kmeans_iters: int = 1,
    m: int = 4,
    ksub: int = 4,
    dsub: int = 16,
    pq_iters: int = 1,
    nprobe: int = 2,
    query_id: int = 0,
) -> list[str]:
    """Chained-CTE replay of the full IVFADC build+query: the _kmeans_sql
    cosine rounds (icents/iassign), residuals under the final assignment,
    the _pq_ctes L2 rounds over the residuals (pcents/passign, empty
    clusters carried forward), the driver's cosine probe ranking (zero
    guard mirrored), per-probed-cell query-residual distance tables, and
    the micro-integer ADC sum."""
    ctes = [
        """v AS MATERIALIZED (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               unnest(embedding)::DOUBLE AS x
        FROM embeddings)""",
        f"""iseeds AS MATERIALIZED (
        SELECT vec_id AS seed_id,
               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) - 1 AS cell
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {n_cells})""",
        """icents0 AS MATERIALIZED (
        SELECT s.cell, v.i, v.x FROM iseeds s JOIN v ON v.vec_id = s.seed_id)""",
    ]
    for r in range(kmeans_iters + 1):
        ctes.append(
            f"""icnorm{r} AS MATERIALIZED (
            SELECT cell, sqrt(SUM(x * x)) AS n FROM icents{r} GROUP BY cell)"""
        )
        ctes.append(
            f"""iassign{r} AS MATERIALIZED (
            SELECT vec_id, cell FROM (
              SELECT d.vec_id, d.cell,
                     row_number() OVER (
                       PARTITION BY d.vec_id
                       ORDER BY d.dot / cn.n DESC, d.cell) AS rn
              FROM (SELECT v.vec_id, c.cell, SUM(v.x * c.x) AS dot
                    FROM v JOIN icents{r} c ON v.i = c.i
                    GROUP BY 1, 2) d
              JOIN icnorm{r} cn ON d.cell = cn.cell
            ) WHERE rn = 1)"""
        )
        if r < kmeans_iters:
            ctes.append(
                f"""icents{r + 1} AS MATERIALIZED (
                SELECT a.cell, v.i, AVG(v.x) AS x
                FROM iassign{r} a JOIN v ON v.vec_id = a.vec_id
                GROUP BY 1, 2)"""
            )
    ki = kmeans_iters
    ctes += [
        f"""cellof AS MATERIALIZED (SELECT vec_id, cell FROM iassign{ki})""",
        f"""res AS MATERIALIZED (
        SELECT v.vec_id, v.i, v.x - c.x AS x
        FROM v JOIN cellof a ON v.vec_id = a.vec_id
        JOIN icents{ki} c ON c.cell = a.cell AND c.i = v.i)""",
        f"""rsv AS MATERIALIZED (
        SELECT vec_id, i // {dsub} AS s, i % {dsub} AS p, x FROM res)""",
        f"""pseeds AS MATERIALIZED (
        SELECT vec_id AS seed_id,
               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) - 1 AS j
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {ksub})""",
        """pcents0 AS MATERIALIZED (
        SELECT sd.j, rsv.s, rsv.p, rsv.x
        FROM pseeds sd JOIN rsv ON rsv.vec_id = sd.seed_id)""",
    ]
    for r in range(pq_iters + 1):
        ctes.append(
            f"""passign{r} AS MATERIALIZED (
            SELECT vec_id, s, j AS code FROM (
              SELECT d.vec_id, d.s, d.j,
                     row_number() OVER (
                       PARTITION BY d.vec_id, d.s
                       ORDER BY d.dist, d.j) AS rn
              FROM (SELECT rsv.vec_id, rsv.s, c.j,
                           SUM((rsv.x - c.x) * (rsv.x - c.x)) AS dist
                    FROM rsv JOIN pcents{r} c ON rsv.s = c.s AND rsv.p = c.p
                    GROUP BY 1, 2, 3) d
            ) WHERE rn = 1)"""
        )
        if r < pq_iters:
            ctes.append(
                f"""pcents{r + 1} AS MATERIALIZED (
                SELECT c0.j, c0.s, c0.p, COALESCE(mu.x, c0.x) AS x
                FROM pcents{r} c0 LEFT JOIN (
                  SELECT a.code AS j, a.s, rsv.p, AVG(rsv.x) AS x
                  FROM passign{r} a
                  JOIN rsv ON rsv.vec_id = a.vec_id AND rsv.s = a.s
                  GROUP BY 1, 2, 3) mu
                ON c0.j = mu.j AND c0.s = mu.s AND c0.p = mu.p)"""
            )
    pi = pq_iters
    ctes += [
        f"""q AS MATERIALIZED (SELECT i, x FROM v WHERE vec_id = {query_id})""",
        """qn AS MATERIALIZED (SELECT sqrt(SUM(x * x)) AS n FROM q)""",
        f"""probe AS MATERIALIZED (
        SELECT cell FROM (
          SELECT d.cell,
                 row_number() OVER (
                   ORDER BY d.dot / (CASE WHEN qn.n * d.cn = 0 THEN 1.0
                                          ELSE qn.n * d.cn END) DESC,
                            d.cell) AS rn
          FROM (SELECT c.cell, SUM(q.x * c.x) AS dot,
                       sqrt(SUM(c.x * c.x)) AS cn
                FROM icents{ki} c JOIN q ON q.i = c.i
                GROUP BY c.cell) d, qn
        ) WHERE rn <= {nprobe})""",
        f"""qres AS MATERIALIZED (
        SELECT c.cell, c.i // {dsub} AS s, c.i % {dsub} AS p, q.x - c.x AS x
        FROM icents{ki} c JOIN q ON q.i = c.i
        WHERE c.cell IN (SELECT cell FROM probe))""",
        f"""dtab AS MATERIALIZED (
        SELECT r.cell, pc.s, pc.j, SUM((r.x - pc.x) * (r.x - pc.x)) AS d
        FROM qres r JOIN pcents{pi} pc ON pc.s = r.s AND pc.p = r.p
        GROUP BY 1, 2, 3)""",
        f"""scored AS (
        SELECT a.vec_id, SUM(t.d) AS dist
        FROM passign{pi} a
        JOIN cellof cf ON cf.vec_id = a.vec_id
        JOIN dtab t ON t.cell = cf.cell AND t.s = a.s AND t.j = a.code
        WHERE cf.cell IN (SELECT cell FROM probe)
        GROUP BY 1)""",
    ]
    return ctes


def _ivfpq_sql(k: int = 10, **kw) -> str:
    ctes = _ivfpq_ctes(**kw)
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT vec_id, CAST(round(dist * 1e6) AS BIGINT)"
          f" AS adc_dist_micros FROM scored"
          f" ORDER BY adc_dist_micros, vec_id LIMIT {k}"
    )


# ---------------------------------------------------------------------------
# PageRank (verifier tier — the oracle replays every power iteration)
# ---------------------------------------------------------------------------


def _trading_pairs(spark, sf_dir, cap_cust=None, cap_supp=None):
    """Directed distinct customer→supplier trading pairs ('c{k}' →
    's{k}' via orders ⋈ lineitem) — the ONE fixture builder behind
    every graph-tier query (pagerank/trustrank unbounded;
    harmonic/hyperball/k_core capped so the exact tiers stay
    fixture-sized at any sf).  A cap or prefix change here moves all
    engine fixtures together; each query's oracle SQL mirrors it
    inline (self-contained replayable statements by convention), and
    the oracle harness catches any desync."""
    o = _t(spark, sf_dir, "orders")
    if cap_cust is not None:
        o = o.filter(F.col("o_custkey") <= cap_cust)
    o = o.select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem")
    if cap_supp is not None:
        li = li.filter(F.col("l_suppkey") <= cap_supp)
    li = li.select("l_orderkey", "l_suppkey")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
            .alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
            .alias("dst"),
        )
        .distinct()
    )


def _bidirectional(pairs):
    """Symmetrize a directed pair frame (both edge directions)."""
    return pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def q_pagerank_graph(spark, sf_dir):
    """Three PageRank power iterations over the bidirectional
    customer↔supplier graph (an edge per distinct customer/supplier
    trading pair from orders ⋈ lineitem) — the link-centrality tier a
    web-corpus pipeline gates crawl hosts on.  Micro-integer ranks:
    values sit near 1/N ≈ 6e-4, so the micros rounding carries no float
    ordering hazard."""
    from slow_tortoise_spark.operators.graph import pagerank

    edges = _bidirectional(_trading_pairs(spark, sf_dir))
    pr = pagerank(edges, iters=3, damping=0.85)
    return pr.select(
        "node",
        F.round(F.col("rank") * 1e6, 0).cast("bigint").alias("rank_micros"),
    ).orderBy("node")


def _pagerank_sql(iters: int = 3) -> str:
    """Chained-CTE power-iteration replay: r{i} = ranks entering round
    i, dang{i} = that round's dangling mass (0 on this bidirectional
    graph, but replayed anyway — the operator contract includes it).
    Float shapes mirror the engine exactly: (1 - 0.85)/n, r/d shares,
    damping × (contrib + dangling/n)."""
    ctes = [
        """pairs AS MATERIALIZED (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""",
        """edges AS MATERIALIZED (
        SELECT src, dst FROM pairs
        UNION ALL SELECT dst AS src, src AS dst FROM pairs)""",
        """deg AS MATERIALIZED (
        SELECT src, COUNT(*) AS d FROM edges GROUP BY src)""",
        """nodes AS MATERIALIZED (
        SELECT DISTINCT node FROM (
          SELECT src AS node FROM edges
          UNION ALL SELECT dst AS node FROM edges))""",
        """nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)""",
        """r0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS r FROM nodes, nn)""",
    ]
    for i in range(iters):
        ctes.append(
            f"""dang{i} AS MATERIALIZED (
            SELECT COALESCE(SUM(r), 0.0) AS s FROM r{i}
            WHERE node NOT IN (SELECT src FROM deg))"""
        )
        ctes.append(
            f"""r{i + 1} AS MATERIALIZED (
            SELECT n.node,
                   (1 - 0.85) / nn.n
                   + 0.85 * (COALESCE(c.c, 0.0) + dang{i}.s / nn.n) AS r
            FROM nodes n
            LEFT JOIN (SELECT e.dst AS node, SUM(r.r / deg.d) AS c
                       FROM edges e
                       JOIN deg ON e.src = deg.src
                       JOIN r{i} r ON r.node = e.src
                       GROUP BY e.dst) c ON n.node = c.node,
            nn, dang{i})"""
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT node, CAST(round(r * 1e6) AS BIGINT) AS rank_micros"
          f" FROM r{iters} ORDER BY node"
    )


def q_ivfpq_rerank(spark, sf_dir):
    """Two-stage IVFADC retrieval: ADC proposes 40 candidates over the
    compressed codes, then ONLY those rows' raw vectors are read for an
    exact cosine top-10 — per-rank parity where quantized distances
    can't separate near-equidistant neighbors, at rerank/N of the raw
    scan.  The oracle replays build, probe, ADC candidate cut, and the
    exact re-rank."""
    from slow_tortoise_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_rerank_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    enc, cents, books = ivfpq_build(
        emb, n_cells=4, kmeans_iters=1, m=4, ksub=4, pq_iters=1
    )
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0)
         .first()["embedding"]]
    out = ivfpq_rerank_topk(emb, enc, cents, books, q,
                            k=10, nprobe=2, rerank=40)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


def _ivfpq_rerank_sql(rerank: int = 40, k: int = 10) -> str:
    ctes = _ivfpq_ctes()
    ctes.append(
        f"""cand AS MATERIALIZED (
        SELECT vec_id FROM scored
        ORDER BY CAST(round(dist * 1e6) AS BIGINT), vec_id
        LIMIT {rerank})"""
    )
    ctes.append(
        """rdots AS MATERIALIZED (
        SELECT v.vec_id, SUM(v.x * q2.x) AS dot, sqrt(SUM(v.x * v.x)) AS nv
        FROM v JOIN q q2 ON v.i = q2.i
        WHERE v.vec_id IN (SELECT vec_id FROM cand)
        GROUP BY v.vec_id)"""
    )
    ctes.append("""qn2 AS (SELECT sqrt(SUM(x * x)) AS nq FROM q)""")
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT vec_id, round(dot / (nv * qn2.nq), 6) AS cosine"
          f" FROM rdots, qn2 ORDER BY cosine DESC, vec_id LIMIT {k}"
    )


# ---------------------------------------------------------------------------
# Harmonic centrality (verifier tier — the oracle replays every BFS round)
# ---------------------------------------------------------------------------


def q_harmonic_centrality(spark, sf_dir):
    """Radius-3 truncated harmonic centrality over a bounded slice of
    the bidirectional customer↔supplier trading graph (custkey ≤ 300,
    suppkey ≤ 50 — the cap keeps the exact all-pairs-within-R state
    fixture-sized at every sf; the operator's scale story is the
    radius bound + the HyperBall note in its docstring).  Micro-integer
    output: harmonic is a fixed-order fold of integer-count/r
    divisions, bitwise replayable."""
    from slow_tortoise_spark.operators.graph import harmonic_centrality

    edges = _bidirectional(
        _trading_pairs(spark, sf_dir, cap_cust=300, cap_supp=50))
    hc = harmonic_centrality(edges, radius=3)
    return hc.select(
        "node",
        F.round(F.col("harmonic") * 1e6, 0).cast("bigint")
        .alias("harmonic_micros"),
    ).orderBy("node")


def _harmonic_sql(radius: int = 3) -> str:
    """BFS-round replay: f{r} = pairs (v, u) first reached at distance
    r (anti-joined against vis{r-1}), vis{r} = running visited set.
    The final fold mirrors the engine bitwise: 0.0 + d1/1.0 + d2/2.0 +
    d3/3.0 over per-round COUNT(*)s."""
    ctes = [
        """hpairs AS MATERIALIZED (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_custkey <= 300 AND l_suppkey <= 50)""",
        """hedges AS MATERIALIZED (
        SELECT src, dst FROM hpairs
        UNION SELECT dst AS src, src AS dst FROM hpairs)""",
        """hnodes AS MATERIALIZED (
        SELECT DISTINCT node FROM (
          SELECT src AS node FROM hedges
          UNION ALL SELECT dst AS node FROM hedges))""",
        """vis0 AS MATERIALIZED (SELECT node AS v, node AS u FROM hnodes)""",
    ]
    for r in range(1, radius + 1):
        ctes.append(
            f"""f{r} AS MATERIALIZED (
            SELECT DISTINCT f.v, e.src AS u
            FROM f{r - 1} f JOIN hedges e ON e.dst = f.u
            WHERE NOT EXISTS (
              SELECT 1 FROM vis{r - 1} w WHERE w.v = f.v AND w.u = e.src))"""
            if r > 1 else
            f"""f1 AS MATERIALIZED (
            SELECT DISTINCT f.v, e.src AS u
            FROM vis0 f JOIN hedges e ON e.dst = f.u
            WHERE NOT EXISTS (
              SELECT 1 FROM vis0 w WHERE w.v = f.v AND w.u = e.src))"""
        )
        ctes.append(
            f"""vis{r} AS MATERIALIZED (
            SELECT v, u FROM vis{r - 1} UNION ALL SELECT v, u FROM f{r})"""
        )
        ctes.append(
            f"""c{r} AS MATERIALIZED (
            SELECT v, COUNT(*) AS d FROM f{r} GROUP BY v)"""
        )
    fold = "0.0" + "".join(
        f" + CAST(COALESCE(c{r}.d, 0) AS DOUBLE) / {float(r)}"
        for r in range(1, radius + 1)
    )
    joins = "".join(
        f" LEFT JOIN c{r} ON c{r}.v = n.node" for r in range(1, radius + 1)
    )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT n.node, CAST(ROUND(({fold}) * 1e6) AS BIGINT)"
          f" AS harmonic_micros FROM hnodes n{joins} ORDER BY n.node"
    )


# ---------------------------------------------------------------------------
# HyperBall harmonic centrality (verifier tier — the oracle replays the
# exact balls, recomputes every register max, and folds the identical
# HLL estimate expression)
# ---------------------------------------------------------------------------


def q_hyperball_harmonic(spark, sf_dir):
    """Radius-3 HyperBall harmonic estimate over the same bounded
    trading graph as harmonic_centrality — the sketch-based scale path
    hash-checked against an exact-ball register replay.  The estimate
    is a deterministic function of ball membership (md5-nibble register
    placement, max-merge, fixed-order HLL fold), so the oracle can
    recompute it from the exact balls without running HyperBall."""
    from slow_tortoise_spark.operators.graph import hyperball_harmonic

    edges = _bidirectional(
        _trading_pairs(spark, sf_dir, cap_cust=300, cap_supp=50))
    hb = hyperball_harmonic(edges, radius=3)
    return hb.select(
        "node",
        F.round(F.col("harmonic_est") * 1e6, 0).cast("bigint")
        .alias("harmonic_est_micros"),
    ).orderBy("node")


def _hb_oracle_ctes(radius: int = 3) -> list[str]:
    """Shared exact-ball register-replay prologue for BOTH HyperBall
    oracles: vis{r} CTEs are the harmonic oracle's BFS rounds; per
    round, each ball member places its md5-derived rank in its
    md5-derived register, MAX per (v, register) rebuilds the sketch,
    and hbest{r} folds the engine's estimate expression token for
    token (operators/graph.py: _hb_estimate).  The harmonic and
    closeness oracles differ only in the final fold over these
    hbest{r} frames — exactly mirroring the engine, where both
    centralities share _hyperball_ball_estimates."""
    ctes = [
        """hpairs AS MATERIALIZED (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_custkey <= 300 AND l_suppkey <= 50)""",
        """hedges AS MATERIALIZED (
        SELECT src, dst FROM hpairs
        UNION SELECT dst AS src, src AS dst FROM hpairs)""",
        """hnodes AS MATERIALIZED (
        SELECT DISTINCT node FROM (
          SELECT src AS node FROM hedges
          UNION ALL SELECT dst AS node FROM hedges))""",
        """vis0 AS MATERIALIZED (SELECT node AS v, node AS u FROM hnodes)""",
    ]
    for r in range(1, radius + 1):
        ctes.append(
            f"""f{r} AS MATERIALIZED (
            SELECT DISTINCT f.v, e.src AS u
            FROM vis{r - 1} f JOIN hedges e ON e.dst = f.u
            WHERE NOT EXISTS (
              SELECT 1 FROM vis{r - 1} w WHERE w.v = f.v AND w.u = e.src))"""
        )
        ctes.append(
            f"""vis{r} AS MATERIALIZED (
            SELECT v, u FROM vis{r - 1} UNION ALL SELECT v, u FROM f{r})"""
        )
    def nib(i):
        return f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    wexpr = " + ".join(f"{nib(i)} * {16 ** (7 - i)}" for i in range(2, 8))
    for r in range(radius + 1):
        ctes.append(
            f"""hbreg{r} AS MATERIALIZED (
            SELECT v, j, MAX(rnk) AS mr FROM (
              SELECT v, {nib(1)} AS j,
                     CASE WHEN ({wexpr}) = 0 THEN 25
                          ELSE 25 - length(bin({wexpr})) END AS rnk
              FROM (SELECT v, md5(u) AS h FROM vis{r})
            ) GROUP BY v, j)"""
        )
        cols = ", ".join(
            f"COALESCE(MAX(CASE WHEN j = {k} THEN mr END), 0) AS m{k}"
            for k in range(16)
        )
        s = "0.0" + "".join(
            f" + power(2.0, -CAST(m{k} AS DOUBLE))" for k in range(16)
        )
        vz = " + ".join(
            f"(CASE WHEN m{k} = 0 THEN 1 ELSE 0 END)" for k in range(16)
        )
        ctes.append(
            f"""hbest{r} AS MATERIALIZED (
            SELECT v, CASE WHEN e_raw <= 40.0 AND vz > 0
                           THEN 16.0 * ln(16.0 / CAST(vz AS DOUBLE))
                           ELSE e_raw END AS e
            FROM (SELECT v, 0.673 * 256.0 / ({s}) AS e_raw, ({vz}) AS vz
                  FROM (SELECT v, {cols} FROM hbreg{r} GROUP BY v)))"""
        )
    return ctes


def _hb_oracle_joins(radius: int) -> str:
    return "".join(
        f" JOIN hbest{r} ON hbest{r}.v = n.node" for r in range(radius + 1)
    )


def _hyperball_sql(radius: int = 3) -> str:
    """Harmonic fold over the shared register replay: Σ Δ_r / r,
    mirroring hyperball_harmonic's fixed-order expression."""
    fold = "0.0" + "".join(
        f" + greatest(0.0, hbest{r}.e - hbest{r - 1}.e) / {float(r)}"
        for r in range(1, radius + 1)
    )
    return (
        "WITH " + ", ".join(_hb_oracle_ctes(radius))
        + f" SELECT n.node, CAST(ROUND(({fold}) * 1e6) AS BIGINT)"
          f" AS harmonic_est_micros FROM hnodes n"
          f"{_hb_oracle_joins(radius)} ORDER BY n.node"
    )


# ---------------------------------------------------------------------------
# k-core decomposition (verifier tier — the oracle unrolls the peeling
# fixpoint, which is unique and order-independent, so generous extra
# rounds are no-ops)
# ---------------------------------------------------------------------------


def q_k_core(spark, sf_dir):
    """10-core of the bounded trading graph: peel customers/suppliers
    with fewer than 10 distinct trading partners until the fixpoint —
    the degeneracy cleanup a host-graph pipeline runs before
    centralities.  Output (node, degree) of the surviving subgraph."""
    from slow_tortoise_spark.operators.graph import k_core

    pairs = _trading_pairs(spark, sf_dir, cap_cust=300, cap_supp=50)
    return k_core(pairs, k=10).orderBy("node")


def _k_core_sql(k: int = 10, rounds: int = 16) -> str:
    """Unrolled peeling replay: adj{r} keeps edges whose BOTH endpoints
    still have >= k distinct neighbors in adj{r-1}.  The k-core is the
    unique order-independent fixpoint, so unrolling more rounds than
    the engine needed is a no-op — round counts never have to match.
    The unroll sits WELL past the guarded convergence horizon
    (test_k_core_oracle_unroll_has_margin pins stationarity by round 7
    at both driver scale factors — nine spare rounds), so a fixture or
    sf change that lengthens the cascade trips the margin test long
    before the oracle could emit a non-fixpoint."""
    ctes = [
        """kpairs AS MATERIALIZED (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_custkey <= 300 AND l_suppkey <= 50)""",
        """adj0 AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM kpairs
          UNION ALL SELECT dst AS src, src AS dst FROM kpairs))""",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""adj{r} AS MATERIALIZED (
            SELECT a.src, a.dst FROM adj{r - 1} a
            JOIN (SELECT src FROM adj{r - 1}
                  GROUP BY src HAVING COUNT(*) >= {k}) g1
              ON a.src = g1.src
            JOIN (SELECT src FROM adj{r - 1}
                  GROUP BY src HAVING COUNT(*) >= {k}) g2
              ON a.dst = g2.src)"""
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT src AS node, COUNT(*) AS degree FROM adj{rounds}"
          f" GROUP BY src ORDER BY node"
    )


# ---------------------------------------------------------------------------
# TrustRank / personalized PageRank (verifier tier — power-iteration
# replay with seed-restricted teleport)
# ---------------------------------------------------------------------------


def q_trustrank(spark, sf_dir):
    """Three personalized-PageRank iterations on the bidirectional
    trading graph with suppliers s1/s2/s3 as the trusted seed set —
    rank = proximity to the seeds, the TrustRank crawl-gating score.
    Micro-integer ranks (seed mass 1/3 decays outward; micros carry
    no ordering hazard)."""
    from slow_tortoise_spark.operators.graph import personalized_pagerank

    edges = _bidirectional(_trading_pairs(spark, sf_dir))
    pr = personalized_pagerank(edges, seeds=["s1", "s2", "s3"], iters=3)
    return pr.select(
        "node",
        F.round(F.col("rank") * 1e6, 0).cast("bigint").alias("rank_micros"),
    ).orderBy("node")


def _trustrank_sql(iters: int = 3) -> str:
    """Power-iteration replay with seed-restricted teleport: float
    shapes mirror the engine token for token — 0.85 * COALESCE(contrib)
    plus, on seeds only, ((1 - 0.85) + 0.85 * dangling) / 3.0 (dangling
    is exactly 0.0 on this bidirectional graph, replayed anyway)."""
    seeds = "('s1', 's2', 's3')"
    ctes = [
        """tpairs AS MATERIALIZED (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""",
        """tedges AS MATERIALIZED (
        SELECT src, dst FROM tpairs
        UNION ALL SELECT dst AS src, src AS dst FROM tpairs)""",
        """tdeg AS MATERIALIZED (
        SELECT src, COUNT(*) AS d FROM tedges GROUP BY src)""",
        f"""tnodes AS MATERIALIZED (
        SELECT DISTINCT node FROM (
          SELECT src AS node FROM tedges
          UNION ALL SELECT dst AS node FROM tedges
          UNION ALL SELECT * FROM (VALUES ('s1'), ('s2'), ('s3'))))""",
        f"""tr0 AS MATERIALIZED (
        SELECT node, CASE WHEN node IN {seeds} THEN 1.0 / 3.0
                          ELSE 0.0 END AS r FROM tnodes)""",
    ]
    for i in range(iters):
        ctes.append(
            f"""tdang{i} AS MATERIALIZED (
            SELECT COALESCE(SUM(r), 0.0) AS s FROM tr{i}
            WHERE node NOT IN (SELECT src FROM tdeg))"""
        )
        ctes.append(
            f"""tr{i + 1} AS MATERIALIZED (
            SELECT n.node,
                   0.85 * COALESCE(c.c, 0.0)
                   + CASE WHEN n.node IN {seeds}
                          THEN ((1 - 0.85) + 0.85 * tdang{i}.s) / 3.0
                          ELSE 0.0 END AS r
            FROM tnodes n
            LEFT JOIN (SELECT e.dst AS node, SUM(r.r / tdeg.d) AS c
                       FROM tedges e
                       JOIN tdeg ON e.src = tdeg.src
                       JOIN tr{i} r ON r.node = e.src
                       GROUP BY e.dst) c ON n.node = c.node,
            tdang{i})"""
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT node, CAST(round(r * 1e6) AS BIGINT) AS rank_micros"
          f" FROM tr{iters} ORDER BY node"
    )


# ---------------------------------------------------------------------------
# HyperBall closeness centrality (verifier tier — same register replay
# as hyperball_harmonic, closeness fold)
# ---------------------------------------------------------------------------


def q_hyperball_closeness(spark, sf_dir):
    """Radius-3 HyperBall truncated closeness over the bounded trading
    graph — the second geometric centrality the shared register loop
    buys (engine: _hyperball_ball_estimates is written once; harmonic
    and closeness differ only in the final fixed-order fold).  The
    oracle rebuilds the registers from exact ball membership and
    replays closeness = (ê_R − 1) / Σ r·Δ_r token for token."""
    from slow_tortoise_spark.operators.graph import hyperball_closeness

    edges = _bidirectional(
        _trading_pairs(spark, sf_dir, cap_cust=300, cap_supp=50))
    hb = hyperball_closeness(edges, radius=3)
    return hb.select(
        "node",
        F.round(F.col("closeness_est") * 1e6, 0).cast("bigint")
        .alias("closeness_est_micros"),
    ).orderBy("node")


def _hyperball_closeness_sql(radius: int = 3) -> str:
    """Closeness fold over the shared register replay: sumdist =
    0.0 + 1.0·max(0, Δ_1) + 2.0·max(0, Δ_2) + … (the engine's literal
    accumulation order), then (ê_R − 1) / sumdist with the zero-guard
    CASE mirroring F.when(sumdist > 0)."""
    sumd = "0.0" + "".join(
        f" + {float(r)} * greatest(0.0, hbest{r}.e - hbest{r - 1}.e)"
        for r in range(1, radius + 1)
    )
    return (
        "WITH " + ", ".join(_hb_oracle_ctes(radius))
        + f" SELECT node, CAST(ROUND((CASE WHEN sumd > 0.0"
          f" THEN (er - 1.0) / sumd ELSE 0.0 END) * 1e6) AS BIGINT)"
          f" AS closeness_est_micros FROM"
          f" (SELECT n.node, ({sumd}) AS sumd, hbest{radius}.e AS er"
          f" FROM hnodes n{_hb_oracle_joins(radius)})"
          f" ORDER BY node"
    )


# ---------------------------------------------------------------------------
# Label propagation communities (verifier tier — the oracle replays
# every synchronous round; string labels, zero float content)
# ---------------------------------------------------------------------------


def q_label_propagation(spark, sf_dir):
    """Four synchronous label-propagation rounds over the FULL
    bidirectional trading graph (LP is |E|-per-round cheap, no pair
    set) — the community signal corpus curation caps template/mirror
    clusters with.  Min-tie-break + synchronous updates make the run
    deterministic and SQL-replayable; output is (node, label), exact
    string equality, no float hazard at all."""
    from slow_tortoise_spark.operators.graph import label_propagation

    edges = _trading_pairs(spark, sf_dir)
    return label_propagation(edges, iters=4).orderBy("node")


def _label_propagation_sql(iters: int = 4) -> str:
    """Round-by-round replay: votes = neighbor-label counts (the
    symmetrized edge list joined on the round's labels), winner =
    ROW_NUMBER over (count DESC, label ASC) — exactly the engine's
    min(struct(-count, label)) tie-break."""
    ctes = [
        """lpairs AS MATERIALIZED (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""",
        """ledges AS MATERIALIZED (
        SELECT src, dst FROM lpairs
        UNION SELECT dst AS src, src AS dst FROM lpairs)""",
        """lab0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS label FROM ledges)""",
    ]
    for r in range(1, iters + 1):
        ctes.append(
            f"""lab{r} AS MATERIALIZED (
            SELECT node, label FROM (
              SELECT v AS node, label,
                     ROW_NUMBER() OVER (PARTITION BY v
                                        ORDER BY c DESC, label ASC) AS rn
              FROM (SELECT e.dst AS v, l.label AS label, COUNT(*) AS c
                    FROM ledges e JOIN lab{r - 1} l ON l.node = e.src
                    GROUP BY e.dst, l.label))
            WHERE rn = 1)"""
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT node, label FROM lab{iters} ORDER BY node"
    )


# ---------------------------------------------------------------------------
# Weighted PageRank (verifier tier — power-iteration replay where each
# edge carries its distinct-order count as link weight)
# ---------------------------------------------------------------------------


def q_pagerank_weighted(spark, sf_dir):
    """Three WEIGHTED PageRank iterations: each customer↔supplier edge
    carries the number of DISTINCT ORDERS behind it — the real
    host-graph shape (an edge is a link count, not a replicated row).
    Weights are exact integers so the out-weight sums carry no
    accumulation-order hazard; ranks round to micros like the
    unweighted row."""
    from slow_tortoise_spark.operators.graph import pagerank

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    w = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
            .alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
            .alias("dst"),
            F.col("o_orderkey").alias("_ok"),
        )
        .groupBy("src", "dst")
        .agg(F.count_distinct(F.col("_ok")).alias("w"))
    )
    edges = w.unionByName(
        w.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    pr = pagerank(edges, iters=3, damping=0.85, weight_col="w")
    return pr.select(
        "node",
        F.round(F.col("rank") * 1e6, 0).cast("bigint").alias("rank_micros"),
    ).orderBy("node")


def _pagerank_weighted_sql(iters: int = 3) -> str:
    """Chained-CTE replay of the weighted power iteration: out-weight
    W(u) = Σw as DOUBLE (integer-valued, so exact), per-edge share
    r·w/W, the same dangling redistribution as the unweighted oracle
    (0 on this bidirectional graph, replayed anyway)."""
    ctes = [
        """wpairs AS MATERIALIZED (
        SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
               's' || CAST(l_suppkey AS VARCHAR) AS dst,
               COUNT(DISTINCT o_orderkey) AS w
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1, 2)""",
        """wedges AS MATERIALIZED (
        SELECT src, dst, w FROM wpairs
        UNION ALL SELECT dst AS src, src AS dst, w FROM wpairs)""",
        """wdeg AS MATERIALIZED (
        SELECT src, CAST(SUM(w) AS DOUBLE) AS d FROM wedges GROUP BY src)""",
        """wnodes AS MATERIALIZED (
        SELECT DISTINCT node FROM (
          SELECT src AS node FROM wedges
          UNION ALL SELECT dst AS node FROM wedges))""",
        """wn AS MATERIALIZED (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM wnodes)""",
        """wr0 AS MATERIALIZED (SELECT node, 1.0 / wn.n AS r FROM wnodes, wn)""",
    ]
    for i in range(iters):
        ctes.append(
            f"""wdang{i} AS MATERIALIZED (
            SELECT COALESCE(SUM(r), 0.0) AS s FROM wr{i}
            WHERE node NOT IN (SELECT src FROM wdeg))"""
        )
        ctes.append(
            f"""wr{i + 1} AS MATERIALIZED (
            SELECT n.node,
                   (1 - 0.85) / wn.n
                   + 0.85 * (COALESCE(c.c, 0.0) + wdang{i}.s / wn.n) AS r
            FROM wnodes n
            LEFT JOIN (SELECT e.dst AS node,
                              SUM(r.r * e.w / wdeg.d) AS c
                       FROM wedges e
                       JOIN wdeg ON e.src = wdeg.src
                       JOIN wr{i} r ON r.node = e.src
                       GROUP BY e.dst) c ON n.node = c.node,
            wn, wdang{i})"""
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT node, CAST(round(r * 1e6) AS BIGINT) AS rank_micros"
          f" FROM wr{iters} ORDER BY node"
    )


# ---------------------------------------------------------------------------
# Core number / full degeneracy decomposition (verifier tier — the
# oracle replays the engine's bucket-peeling loop step for step,
# with generous no-op steps past exhaustion)
# ---------------------------------------------------------------------------


def q_core_number(spark, sf_dir):
    """Full degeneracy decomposition of a bounded trading slice
    (custkey ≤ 80, suppkey ≤ 20 — the cap keeps the peeling-step count
    oracle-unrollable at every sf; the operator itself runs to
    exhaustion at any scale).  Output: every node's core NUMBER — the
    max k it survives — the per-host coreness signal a crawl gate
    thresholds without choosing k up front."""
    from slow_tortoise_spark.operators.graph import core_number

    pairs = _trading_pairs(spark, sf_dir, cap_cust=80, cap_supp=20)
    return core_number(pairs).orderBy("node")


def _core_number_sql(steps: int = 16) -> str:
    """Step-for-step replay of the engine loop (core numbers are a
    graph INVARIANT — any min-degree-first peeling produces the same
    values, so replaying this particular schedule is sound): per step,
    deg{r} = surviving distinct-neighbor degrees, scalar k{r} jumps to
    min-degree+1 when the graph is stable at k{r-1}, bad{r} = nodes
    under the threshold, rem{r} = the NODE-SET difference (bad plus
    survivors whose last edge vanished — the star-center case) at
    core k{r}−1.  Steps past exhaustion are no-ops (MIN over empty is
    NULL ⇒ CASE keeps k, empty bad/rem), so the unroll just needs to
    be ≥ the engine's step count — pinned with margin by
    test_core_number_oracle_unroll_has_margin."""
    ctes = [
        """cpairs AS MATERIALIZED (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_custkey <= 80 AND l_suppkey <= 20)""",
        """cadj0 AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM cpairs
          UNION ALL SELECT dst AS src, src AS dst FROM cpairs))""",
        """ck0 AS MATERIALIZED (SELECT 1 AS k)""",
    ]
    for r in range(1, steps + 1):
        ctes.append(
            f"""cdeg{r} AS MATERIALIZED (
            SELECT src, COUNT(*) AS c FROM cadj{r - 1} GROUP BY src)"""
        )
        ctes.append(
            f"""ck{r} AS MATERIALIZED (
            SELECT CASE WHEN (SELECT MIN(c) FROM cdeg{r})
                             >= (SELECT k FROM ck{r - 1})
                        THEN (SELECT MIN(c) FROM cdeg{r}) + 1
                        ELSE (SELECT k FROM ck{r - 1}) END AS k)"""
        )
        ctes.append(
            f"""cbad{r} AS MATERIALIZED (
            SELECT src FROM cdeg{r} WHERE c < (SELECT k FROM ck{r}))"""
        )
        ctes.append(
            f"""cadj{r} AS MATERIALIZED (
            SELECT a.src, a.dst FROM cadj{r - 1} a
            WHERE a.src NOT IN (SELECT src FROM cbad{r})
              AND a.dst NOT IN (SELECT src FROM cbad{r}))"""
        )
        ctes.append(
            f"""crem{r} AS MATERIALIZED (
            SELECT d.src AS node, (SELECT k FROM ck{r}) - 1 AS core
            FROM cdeg{r} d
            WHERE d.src NOT IN (SELECT src FROM cadj{r}))"""
        )
    union = " UNION ALL ".join(
        f"SELECT node, core FROM crem{r}" for r in range(1, steps + 1)
    )
    return (
        f"WITH {', '.join(ctes)}"
        f" SELECT node, CAST(core AS INT) AS core FROM ({union})"
        f" ORDER BY node"
    )


# ---------------------------------------------------------------------------
# Triangle counts / local clustering coefficient (verifier tier — the
# oracle replays the degree-ordered orientation and the path-closure
# join; counts are exact integers, the one float division mirrors the
# engine)
# ---------------------------------------------------------------------------


def q_triangle_counts(spark, sf_dir):
    """Per-node triangle counts + clustering over the bounded trading
    graph AUGMENTED with supplier co-occurrence edges (suppliers
    sharing an order, suppkey ≤ 50) — the pure customer↔supplier graph
    is bipartite and hence triangle-free, so the co-supplier edges are
    what close c–s1–s2 triangles.  Spam-ring detection gates on
    exactly this local density signal."""
    from slow_tortoise_spark.operators.graph import triangle_counts

    pairs = _trading_pairs(spark, sf_dir, cap_cust=300, cap_supp=50)
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey") <= 50)
        .select("l_orderkey", "l_suppkey")
    )
    co = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.concat(F.lit("s"), F.col("a.l_suppkey").cast("string"))
            .alias("src"),
            F.concat(F.lit("s"), F.col("b.l_suppkey").cast("string"))
            .alias("dst"),
        )
        .distinct()
    )
    tc = triangle_counts(pairs.unionByName(co))
    return tc.select(
        "node",
        "degree",
        "triangles",
        F.round(F.col("clustering") * 1e6, 0).cast("bigint")
        .alias("clustering_micros"),
    ).orderBy("node")


_TRI_CTES = """WITH gpairs AS MATERIALIZED (
    SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                    's' || CAST(l_suppkey AS VARCHAR) AS dst
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_custkey <= 300 AND l_suppkey <= 50),
gco AS MATERIALIZED (
    SELECT DISTINCT 's' || CAST(a.l_suppkey AS VARCHAR) AS src,
                    's' || CAST(b.l_suppkey AS VARCHAR) AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    WHERE a.l_suppkey <= 50 AND b.l_suppkey <= 50),
gedges AS MATERIALIZED (
    SELECT src, dst FROM gpairs UNION ALL SELECT src, dst FROM gco),
gadj AS MATERIALIZED (
    SELECT DISTINCT src, dst FROM (
      SELECT src, dst FROM gedges WHERE src <> dst
      UNION ALL SELECT dst AS src, src AS dst FROM gedges
      WHERE src <> dst)),
gdeg AS MATERIALIZED (
    SELECT src, COUNT(*) AS d FROM gadj GROUP BY src),
grk AS MATERIALIZED (
    SELECT a.src, a.dst FROM gadj a
    JOIN gdeg d1 ON a.src = d1.src
    JOIN gdeg d2 ON a.dst = d2.src
    WHERE d1.d < d2.d OR (d1.d = d2.d AND a.src < a.dst)),
gtri AS MATERIALIZED (
    SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
    FROM grk e1
    JOIN grk e2 ON e2.src = e1.dst
    JOIN grk e3 ON e3.src = e1.src AND e3.dst = e2.dst),
gcorner AS MATERIALIZED (
    SELECT node, COUNT(*) AS t FROM (
      SELECT u AS node FROM gtri
      UNION ALL SELECT v AS node FROM gtri
      UNION ALL SELECT w AS node FROM gtri) GROUP BY node)"""

_Q_TRIANGLE_COUNTS = _TRI_CTES + """
SELECT d.src AS node,
       d.d AS degree,
       COALESCE(c.t, 0) AS triangles,
       CAST(ROUND((CASE WHEN d.d >= 2
                        THEN 2.0 * CAST(COALESCE(c.t, 0) AS DOUBLE)
                             / (CAST(d.d AS DOUBLE)
                                * (CAST(d.d AS DOUBLE) - 1.0))
                        ELSE 0.0 END) * 1e6) AS BIGINT)
         AS clustering_micros
FROM gdeg d LEFT JOIN gcorner c ON c.node = d.src
ORDER BY node"""


# ---------------------------------------------------------------------------
# Neighborhood function / effective diameter (verifier tier — same
# exact-ball register replay as the HyperBall centralities, curve fold)
# ---------------------------------------------------------------------------


def q_neighborhood_function(spark, sf_dir):
    """ANF curve N(r) for r = 0..3 plus the 90% effective diameter over
    the bounded trading graph — the whole-graph connectivity health
    check a crawl snapshot gets before any per-node score.  Per-node
    ball estimates round to integer micros BEFORE summation, so the
    curve is an exact BIGINT at any partitioning and the 90% rule is
    integer cross-multiplication."""
    from slow_tortoise_spark.operators.graph import neighborhood_function

    edges = _bidirectional(
        _trading_pairs(spark, sf_dir, cap_cust=300, cap_supp=50))
    return neighborhood_function(edges, radius=3).orderBy("r")


def _neighborhood_sql(radius: int = 3) -> str:
    """Curve fold over the shared register replay: per node the
    RUNNING MAX of the round estimates (the engine's regime-switch
    guard), rounded to micros, summed as exact BIGINTs; the effective
    diameter is the smallest r with 10·N(r) ≥ 9·N(R), replayed as a
    CASE chain over the same integer sums."""
    joined = "SELECT n.node" + "".join(
        f", hbest{r}.e AS e{r}" for r in range(radius + 1)
    ) + " FROM hnodes n" + "".join(
        f" JOIN hbest{r} ON hbest{r}.v = n.node"
        for r in range(radius + 1)
    )

    def runmax(r: int) -> str:
        cols = ", ".join(f"e{k}" for k in range(r + 1))
        return f"e0" if r == 0 else f"greatest({cols})"

    ns = ", ".join(
        f"CAST(SUM(CAST(ROUND({runmax(r)} * 1e6) AS BIGINT)) AS BIGINT)"
        f" AS n{r}"
        for r in range(radius + 1)
    )
    ns = f"SELECT {ns} FROM hbj"
    curve = " UNION ALL ".join(
        f"SELECT {r} AS r, n{r} AS ball_sum_micros FROM hbns"
        for r in range(radius + 1)
    )
    eff = "CASE " + " ".join(
        f"WHEN 10 * hbns.n{r} >= 9 * hbns.n{radius} THEN {r}"
        for r in range(radius + 1)
    ) + f" ELSE {radius} END"
    return (
        "WITH " + ", ".join(_hb_oracle_ctes(radius))
        + f", hbj AS MATERIALIZED ({joined})"
        + f", hbns AS MATERIALIZED ({ns})"
        + f", hbcurve AS ({curve})"
        + f" SELECT c.r, c.ball_sum_micros,"
          f" CAST({eff} AS INT) AS effective_diameter"
          f" FROM hbcurve c, hbns ORDER BY c.r"
    )


# ---------------------------------------------------------------------------
# Global transitivity (verifier tier — one aggregation over the
# replayed triangle pyramid)
# ---------------------------------------------------------------------------


def q_transitivity(spark, sf_dir):
    """Global clustering coefficient 3T/W of the co-supplier-augmented
    trading graph — the one-number density health check tracked across
    crawl snapshots (a link-farm injection moves it before any
    per-host score exists).  Exact-integer triangle and wedge totals;
    one replayed float division."""
    from slow_tortoise_spark.operators.graph import transitivity

    pairs = _trading_pairs(spark, sf_dir, cap_cust=300, cap_supp=50)
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey") <= 50)
        .select("l_orderkey", "l_suppkey")
    )
    co = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.concat(F.lit("s"), F.col("a.l_suppkey").cast("string"))
            .alias("src"),
            F.concat(F.lit("s"), F.col("b.l_suppkey").cast("string"))
            .alias("dst"),
        )
        .distinct()
    )
    return transitivity(pairs.unionByName(co))


_Q_TRANSITIVITY = _TRI_CTES + """
SELECT CAST(c3 // 3 AS BIGINT) AS triangles,
       CAST(dd // 2 AS BIGINT) AS wedges,
       CAST(ROUND((CASE WHEN dd > 0
                        THEN 2.0 * CAST(c3 AS DOUBLE) / CAST(dd AS DOUBLE)
                        ELSE 0.0 END) * 1e6) AS BIGINT)
         AS transitivity_micros
FROM (SELECT
  (SELECT CAST(COALESCE(SUM(t), 0) AS BIGINT) FROM gcorner) AS c3,
  (SELECT CAST(COALESCE(SUM(d * (d - 1)), 0) AS BIGINT) FROM gdeg) AS dd)"""


# ---------------------------------------------------------------------------
# Weighted label propagation (verifier tier — round replay with
# weight-summed votes)
# ---------------------------------------------------------------------------


def q_label_propagation_weighted(spark, sf_dir):
    """Four weighted LP rounds: each customer↔supplier edge votes with
    the number of DISTINCT ORDERS behind it, so a cluster bound by one
    heavy trading relationship out-votes incidental single-order
    links.  Integer weights keep every vote sum exact — the
    min-tie-break replay stays bit-deterministic like the unweighted
    row; output is (node, label) strings."""
    from slow_tortoise_spark.operators.graph import label_propagation

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    w = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
            .alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
            .alias("dst"),
            F.col("o_orderkey").alias("_ok"),
        )
        .groupBy("src", "dst")
        .agg(F.count_distinct(F.col("_ok")).alias("w"))
    )
    return label_propagation(w, iters=4, weight_col="w").orderBy("node")


def _label_propagation_weighted_sql(iters: int = 4) -> str:
    """Round replay with weight-summed votes: the engine symmetrizes
    (both directions, weights of duplicate pairs SUMMED) then per
    round scores each label by SUM of the edge weights carrying it,
    ROW_NUMBER (score DESC, label ASC) = the min(struct(-s, label))
    tie-break."""
    ctes = [
        """wlpairs AS MATERIALIZED (
        SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
               's' || CAST(l_suppkey AS VARCHAR) AS dst,
               COUNT(DISTINCT o_orderkey) AS w
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1, 2)""",
        """wledges AS MATERIALIZED (
        SELECT src, dst, SUM(w) AS w FROM (
          SELECT src, dst, w FROM wlpairs WHERE src <> dst
          UNION ALL
          SELECT dst AS src, src AS dst, w FROM wlpairs WHERE src <> dst)
        GROUP BY src, dst)""",
        """wlab0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS label FROM wledges)""",
    ]
    for r in range(1, iters + 1):
        ctes.append(
            f"""wlab{r} AS MATERIALIZED (
            SELECT node, label FROM (
              SELECT v AS node, label,
                     ROW_NUMBER() OVER (PARTITION BY v
                                        ORDER BY c DESC, label ASC) AS rn
              FROM (SELECT e.dst AS v, l.label AS label, SUM(e.w) AS c
                    FROM wledges e JOIN wlab{r - 1} l ON l.node = e.src
                    GROUP BY e.dst, l.label))
            WHERE rn = 1)"""
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT node, label FROM wlab{iters} ORDER BY node"
    )


# ---------------------------------------------------------------------------
# Training-sequence packing (verifier tier — window cumsum replay,
# all-integer output)
# ---------------------------------------------------------------------------


def q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk packing manifest: every document's place in
    the 64-token training sequences of its md5 bucket (8 buckets) —
    the deterministic map an LM data loader consumes.  All-integer
    output (token counts, window cumulative sums, div/mod), exact at
    any partitioning."""
    from slow_tortoise_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_sequences(docs, max_tokens=64, n_buckets=8).orderBy(
        "doc_id"
    )


def _pack_sequences_sql(
    max_tokens: int = 64,
    n_buckets: int = 8,
    order_by_hash: bool = False,
) -> str:
    nib = [
        f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
        for i in range(1, 5)
    ]
    h16 = (f"({nib[0]} * 4096 + {nib[1]} * 256"
           f" + {nib[2]} * 16 + {nib[3]})")
    order = (
        "md5('packshuf:' || CAST(doc_id AS VARCHAR)), doc_id"
        if order_by_hash
        else "doc_id"
    )
    return f"""WITH pdocs AS MATERIALIZED (
    SELECT doc_id,
           CAST({h16} % {n_buckets} AS INT) AS bucket,
           GREATEST(CAST(len(list_filter(
               string_split_regex(trim(text), '\\s+'),
               x -> x <> '')) AS BIGINT), 0) AS tokens
    FROM (SELECT doc_id,
                 md5('pack:' || CAST(doc_id AS VARCHAR)) AS h, text
          FROM documents)),
pcum AS MATERIALIZED (
    SELECT doc_id, bucket, tokens,
           SUM(tokens) OVER (PARTITION BY bucket ORDER BY {order}) AS ce
    FROM pdocs)
SELECT doc_id, bucket, tokens,
       CAST((ce - tokens) // {max_tokens} AS BIGINT) AS seq_first,
       CAST(CASE WHEN tokens > 0 THEN (ce - 1) // {max_tokens}
                 ELSE (ce - tokens) // {max_tokens} END AS BIGINT)
         AS seq_last,
       CAST((ce - tokens) % {max_tokens} AS BIGINT) AS offset_in_first
FROM pcum ORDER BY doc_id"""


def q_pack_sequences_shuffled(spark, sf_dir):
    """Packing manifest with the KEYED-HASH within-bucket order
    (``order_by_hash=True``) — the loader-realistic variant: real LM
    training shuffles documents before packing so a sequence doesn't
    concatenate corpus-adjacent docs, and the md5 order (salt
    'packshuf', doc_id tie-break — the ``shuffle_rows`` idiom) makes
    the shuffle deterministic with no RNG state.  Same one-shuffle
    per-bucket window cumsum; the oracle replays the hashed ORDER BY
    verbatim."""
    from slow_tortoise_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_sequences(
        docs, max_tokens=64, n_buckets=8, order_by_hash=True
    ).orderBy("doc_id")


def q_sequence_index(spark, sf_dir):
    """Loader-side inverse of the packing manifest: every (bucket,
    sequence) with the exact document token slices that fill it —
    what a training data loader reads to materialize sequence s.
    MAP-ONLY on top of the manifest (one explode + integer overlap
    arithmetic, no extra shuffle); the oracle replays the same
    overlap formulas over a SQL ``generate_series``."""
    from slow_tortoise_spark.operators.packing import (
        pack_sequences,
        sequence_index,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    man = pack_sequences(docs, max_tokens=64, n_buckets=8)
    return sequence_index(man, max_tokens=64).orderBy(
        "bucket", "seq", "seq_offset"
    )


def _sequence_index_sql(max_tokens: int = 64, n_buckets: int = 8) -> str:
    mt = max_tokens
    return f"""WITH pman AS MATERIALIZED (
{_pack_sequences_sql(max_tokens, n_buckets)}
),
pex AS MATERIALIZED (
    SELECT bucket, doc_id, tokens,
           seq_first * {mt} + offset_in_first AS cut,
           UNNEST(generate_series(seq_first, seq_last)) AS seq
    FROM pman WHERE tokens > 0)
SELECT bucket, seq, doc_id,
       CAST(GREATEST(seq * {mt}, cut) - cut AS BIGINT) AS doc_offset,
       CAST(GREATEST(seq * {mt}, cut) - seq * {mt} AS BIGINT)
         AS seq_offset,
       CAST(LEAST((seq + 1) * {mt}, cut + tokens)
            - GREATEST(seq * {mt}, cut) AS BIGINT) AS n_tokens
FROM pex ORDER BY bucket, seq, seq_offset"""


def q_pack_sequences_append(spark, sf_dir):
    """Incremental packing: documents split into a base corpus (doc_id
    pmod 3 != 0, packed as batch 0) and a later batch (pmod 3 == 0,
    appended as batch 1 after each bucket's high-water mark).  The
    engine never repacks batch 0 — its manifest rows pass through
    bit-unchanged and the new batch pays one bucket-window shuffle —
    while the oracle replays the associativity claim literally: ONE
    window cumsum over the union with batch as the leading sort key.
    Equality of the two IS the operator's correctness statement."""
    from slow_tortoise_spark.operators.packing import (
        pack_sequences,
        pack_sequences_append,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) != 0)
    newb = docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == 0)
    man = pack_sequences(base, max_tokens=64, n_buckets=8)
    return pack_sequences_append(
        man, newb, max_tokens=64, n_buckets=8
    ).orderBy("doc_id")


def _pack_sequences_append_sql(
    max_tokens: int = 64, n_buckets: int = 8
) -> str:
    nib = [
        f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
        for i in range(1, 5)
    ]
    h16 = (f"({nib[0]} * 4096 + {nib[1]} * 256"
           f" + {nib[2]} * 16 + {nib[3]})")
    return f"""WITH adocs AS MATERIALIZED (
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS batch,
           CAST({h16} % {n_buckets} AS INT) AS bucket,
           GREATEST(CAST(len(list_filter(
               string_split_regex(trim(text), '\\s+'),
               x -> x <> '')) AS BIGINT), 0) AS tokens
    FROM (SELECT doc_id,
                 md5('pack:' || CAST(doc_id AS VARCHAR)) AS h, text
          FROM documents)),
acum AS MATERIALIZED (
    SELECT doc_id, batch, bucket, tokens,
           SUM(tokens) OVER (PARTITION BY bucket
                             ORDER BY batch, doc_id) AS ce
    FROM adocs)
SELECT doc_id, bucket, tokens,
       CAST((ce - tokens) // {max_tokens} AS BIGINT) AS seq_first,
       CAST(CASE WHEN tokens > 0 THEN (ce - 1) // {max_tokens}
                 ELSE (ce - tokens) // {max_tokens} END AS BIGINT)
         AS seq_last,
       CAST((ce - tokens) % {max_tokens} AS BIGINT) AS offset_in_first,
       batch
FROM acum ORDER BY doc_id"""


# ---------------------------------------------------------------------------
# Budget-capped quality selection (verifier tier — the oracle IS the
# naive global-window plan the distributed operator replaces)
# ---------------------------------------------------------------------------

_TB_BUDGET = 12_000


def q_token_budget_select(spark, sf_dir):
    """Keep the best documents until a 12k-token budget is spent:
    docs scored by DISTINCT-token count (an exact integer both
    engines derive identically), ordered (score DESC, doc_id), greedy
    prefix.  The engine runs the bounded bucketed-threshold plan (two
    small driver aggregates + an exact window over ONLY the boundary
    bucket); the DuckDB oracle runs the naive single-window global
    cumsum — equality of the two is precisely the operator's
    correctness claim."""
    from slow_tortoise_spark.operators.dedup import token_budget_select

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    scored = docs.select(
        "doc_id",
        "text",
        F.size(
            F.array_distinct(
                F.filter(
                    F.split(F.trim(F.col("text")), r"\s+"),
                    lambda t: t != "",
                )
            )
        ).cast("long").alias("score"),
    )
    kept = token_budget_select(
        scored, budget=_TB_BUDGET, score_col="score"
    )
    return kept.select("doc_id", "score").orderBy("doc_id")


_Q_TOKEN_BUDGET_SELECT = f"""WITH tbs AS MATERIALIZED (
    SELECT doc_id,
           CAST(len(list_distinct(list_filter(
               string_split_regex(trim(text), '\\s+'),
               x -> x <> ''))) AS BIGINT) AS score,
           CAST(len(list_filter(
               string_split_regex(trim(text), '\\s+'),
               x -> x <> '')) AS BIGINT) AS toks
    FROM documents),
tbc AS MATERIALIZED (
    SELECT doc_id, score,
           SUM(toks) OVER (ORDER BY score DESC, doc_id) AS ce
    FROM tbs)
SELECT doc_id, score FROM tbc WHERE ce <= {_TB_BUDGET}
ORDER BY doc_id"""

def q_token_budget_mix(spark, sf_dir):
    """Data-mixing recipe over three named sources: src0 capped at 900
    tokens, src1 at 500, src2 at 0 (the budget-0 row exercises the
    zero-token-prefix semantics in a driver row), every other source
    dropped — per-group greedy (score DESC, doc_id) prefixes, scored
    by distinct-token count.  The engine runs one bounded
    bucketed-threshold pass per named source; the oracle replays the
    whole mix as ONE partition-by-source window cumsum against the
    per-group budgets."""
    from slow_tortoise_spark.operators.dedup import token_budget_mix

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "source")
    scored = docs.select(
        "doc_id",
        "source",
        "text",
        F.size(
            F.array_distinct(
                F.filter(
                    F.split(F.trim(F.col("text")), r"\s+"),
                    lambda t: t != "",
                )
            )
        ).cast("long").alias("score"),
    )
    kept = token_budget_mix(
        scored, {"src0": 900, "src1": 500, "src2": 0},
        group_col="source", score_col="score",
    )
    return kept.select("doc_id", "source", "score").orderBy("doc_id")


_Q_TOKEN_BUDGET_MIX = """WITH tbm AS MATERIALIZED (
    SELECT doc_id, source,
           CAST(len(list_distinct(list_filter(
               string_split_regex(trim(text), '\\s+'),
               x -> x <> ''))) AS BIGINT) AS score,
           CAST(len(list_filter(
               string_split_regex(trim(text), '\\s+'),
               x -> x <> '')) AS BIGINT) AS toks
    FROM documents WHERE source IN ('src0', 'src1', 'src2')),
tbmc AS MATERIALIZED (
    SELECT doc_id, source, score,
           SUM(toks) OVER (PARTITION BY source
                           ORDER BY score DESC, doc_id) AS ce
    FROM tbm)
SELECT doc_id, source, score FROM tbmc
WHERE (source = 'src0' AND ce <= 900)
   OR (source = 'src1' AND ce <= 500)
   OR (source = 'src2' AND ce <= 0)
ORDER BY doc_id"""


def q_token_budget_epochs(spark, sf_dir):
    """Data-constrained epoch plan: a 70k-token budget over a ~27-28k
    token corpus (max 4 epochs) — two full epochs for every doc plus a
    partial third epoch holding the greedy (score DESC, doc_id) prefix
    of the remainder, scored by distinct-token count.  The engine's
    full tier is a map-only explode(sequence); the partial tier is the
    bounded bucketed-threshold budget pass; the oracle replays both
    with generate_series + the naive global-window cumsum."""
    from slow_tortoise_spark.operators.dedup import token_budget_epochs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    scored = docs.select(
        "doc_id",
        "text",
        F.size(
            F.array_distinct(
                F.filter(
                    F.split(F.trim(F.col("text")), r"\s+"),
                    lambda t: t != "",
                )
            )
        ).cast("long").alias("score"),
    )
    plan = token_budget_epochs(
        scored, budget=70_000, score_col="score", max_epochs=4
    )
    return plan.select("doc_id", "score", "epoch").orderBy(
        "doc_id", "epoch")


_Q_TOKEN_BUDGET_EPOCHS = """WITH tbe AS MATERIALIZED (
    SELECT doc_id,
           CAST(len(list_distinct(list_filter(
               string_split_regex(trim(text), '\\s+'),
               x -> x <> ''))) AS BIGINT) AS score,
           CAST(len(list_filter(
               string_split_regex(trim(text), '\\s+'),
               x -> x <> '')) AS BIGINT) AS toks
    FROM documents),
tot AS MATERIALIZED (
    SELECT CAST(COALESCE(SUM(toks), 0) AS BIGINT) AS t FROM tbe),
fe AS MATERIALIZED (
    SELECT CAST(CASE WHEN t = 0 THEN 4
                     ELSE LEAST(70000 // t, 4) END AS BIGINT) AS e, t
    FROM tot),
fullt AS (
    SELECT doc_id, score,
           CAST(UNNEST(generate_series(1, (SELECT e FROM fe)))
                AS BIGINT) AS epoch
    FROM tbe),
part AS (
    SELECT doc_id, score, CAST((SELECT e FROM fe) + 1 AS BIGINT)
             AS epoch
    FROM (SELECT doc_id, score,
                 SUM(toks) OVER (ORDER BY score DESC, doc_id) AS ce
          FROM tbe)
    WHERE (SELECT e FROM fe) < 4
      AND ce <= 70000 - (SELECT e FROM fe) * (SELECT t FROM fe))
SELECT doc_id, score, epoch FROM fullt
UNION ALL
SELECT doc_id, score, epoch FROM part
ORDER BY doc_id, epoch"""


def q_pack_sequences_epochs(spark, sf_dir):
    """The data-constrained regime end-to-end: the 70k-token epoch
    plan (two full epochs + a partial third, same recipe as the
    token_budget_epochs row) packed into 64-token training sequences
    with epoch as the LEADING within-bucket sort key — the loader-
    ready multi-epoch manifest.  The engine runs the map-only epoch
    explode + bounded budget pass + ONE bucket-partitioned pack
    window; the oracle replays the plan with generate_series + the
    naive window cumsum, then the pack as one window over (bucket)
    ordered by (epoch, doc_id)."""
    from slow_tortoise_spark.operators.dedup import token_budget_epochs
    from slow_tortoise_spark.operators.packing import (
        pack_sequences_epochs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    scored = docs.select(
        "doc_id",
        "text",
        F.size(
            F.array_distinct(
                F.filter(
                    F.split(F.trim(F.col("text")), r"\s+"),
                    lambda t: t != "",
                )
            )
        ).cast("long").alias("score"),
    )
    plan = token_budget_epochs(
        scored, budget=70_000, score_col="score", max_epochs=4
    )
    man = pack_sequences_epochs(plan, max_tokens=64, n_buckets=8)
    return man.orderBy("doc_id", "epoch")


def _pack_sequences_epochs_sql(
    max_tokens: int = 64, n_buckets: int = 8
) -> str:
    nib = [
        f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
        for i in range(1, 5)
    ]
    h16 = (f"({nib[0]} * 4096 + {nib[1]} * 256"
           f" + {nib[2]} * 16 + {nib[3]})")
    return f"""WITH tbe AS MATERIALIZED (
    SELECT doc_id,
           CAST(len(list_distinct(list_filter(
               string_split_regex(trim(text), '\\s+'),
               x -> x <> ''))) AS BIGINT) AS score,
           CAST(len(list_filter(
               string_split_regex(trim(text), '\\s+'),
               x -> x <> '')) AS BIGINT) AS toks
    FROM documents),
tot AS MATERIALIZED (
    SELECT CAST(COALESCE(SUM(toks), 0) AS BIGINT) AS t FROM tbe),
fe AS MATERIALIZED (
    SELECT CAST(CASE WHEN t = 0 THEN 4
                     ELSE LEAST(70000 // t, 4) END AS BIGINT) AS e, t
    FROM tot),
eplan AS MATERIALIZED (
    SELECT doc_id, toks,
           CAST(UNNEST(generate_series(1, (SELECT e FROM fe)))
                AS BIGINT) AS epoch
    FROM tbe
    UNION ALL
    SELECT doc_id, toks,
           CAST((SELECT e FROM fe) + 1 AS BIGINT) AS epoch
    FROM (SELECT doc_id, toks,
                 SUM(toks) OVER (ORDER BY score DESC, doc_id) AS ce
          FROM tbe)
    WHERE (SELECT e FROM fe) < 4
      AND ce <= 70000 - (SELECT e FROM fe) * (SELECT t FROM fe)),
pd AS MATERIALIZED (
    SELECT doc_id, epoch,
           CAST({h16} % {n_buckets} AS INT) AS bucket, toks
    FROM (SELECT doc_id, epoch, toks,
                 md5('pack:' || CAST(doc_id AS VARCHAR)) AS h
          FROM eplan)),
pc AS MATERIALIZED (
    SELECT doc_id, epoch, bucket, toks,
           SUM(toks) OVER (PARTITION BY bucket
                           ORDER BY epoch, doc_id) AS ce
    FROM pd)
SELECT doc_id, epoch, bucket, toks AS tokens,
       CAST((ce - toks) // {max_tokens} AS BIGINT) AS seq_first,
       CAST(CASE WHEN toks > 0 THEN (ce - 1) // {max_tokens}
                 ELSE (ce - toks) // {max_tokens} END AS BIGINT)
         AS seq_last,
       CAST((ce - toks) % {max_tokens} AS BIGINT) AS offset_in_first
FROM pc ORDER BY doc_id, epoch"""


def q_pack_sequences_nosplit(spark, sf_dir):
    """NO-SPLIT packing manifest (greedy next-fit, oversize docs
    isolated): every document wholly inside one 64-token sequence of
    its md5 bucket — the cross-contamination-free training regime
    (:func:`pack_sequences` is the concat-and-chunk throughput
    regime).  Running-capacity-reset is not prefix-sum decomposable,
    so the engine runs one Arrow-batched per-bucket scan over narrow
    rows (the documented applyInPandas case; ONE bucket exchange);
    the oracle replays the identical (seq, fill) state machine as a
    SQL recursive CTE advancing one row per bucket per step."""
    from slow_tortoise_spark.operators.packing import (
        pack_sequences_nosplit,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_sequences_nosplit(
        docs, max_tokens=64, n_buckets=8, oversize="isolate"
    ).orderBy("doc_id")


def _pack_sequences_nosplit_sql(
    max_tokens: int = 64, n_buckets: int = 8
) -> str:
    nib = [
        f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
        for i in range(1, 5)
    ]
    h16 = (f"({nib[0]} * 4096 + {nib[1]} * 256"
           f" + {nib[2]} * 16 + {nib[3]})")
    mt = max_tokens
    return f"""WITH RECURSIVE pdocs AS MATERIALIZED (
    SELECT doc_id,
           CAST({h16} % {n_buckets} AS INT) AS bucket,
           GREATEST(CAST(len(list_filter(
               string_split_regex(trim(text), '\\s+'),
               x -> x <> '')) AS BIGINT), 0) AS tokens,
           row_number() OVER (
               PARTITION BY CAST({h16} % {n_buckets} AS INT)
               ORDER BY doc_id
           ) AS rn
    FROM (SELECT doc_id,
                 md5('pack:' || CAST(doc_id AS VARCHAR)) AS h, text
          FROM documents)),
chain(bucket, rn, doc_id, tokens, seq, seq_offset, fill) AS (
    SELECT bucket, rn, doc_id, tokens,
           CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           CAST(CASE WHEN tokens > {mt} THEN {mt} ELSE tokens END
                AS BIGINT)
    FROM pdocs WHERE rn = 1
    UNION ALL
    SELECT p.bucket, p.rn, p.doc_id, p.tokens,
           CASE WHEN p.tokens > {mt}
                THEN c.seq + CASE WHEN c.fill > 0 THEN 1 ELSE 0 END
                WHEN p.tokens = 0 THEN c.seq
                WHEN c.fill + p.tokens <= {mt} THEN c.seq
                ELSE c.seq + 1 END,
           CASE WHEN p.tokens > {mt} THEN 0
                WHEN p.tokens = 0 THEN c.fill
                WHEN c.fill + p.tokens <= {mt} THEN c.fill
                ELSE 0 END,
           CASE WHEN p.tokens > {mt} THEN {mt}
                WHEN p.tokens = 0 THEN c.fill
                WHEN c.fill + p.tokens <= {mt} THEN c.fill + p.tokens
                ELSE p.tokens END
    FROM chain c JOIN pdocs p ON p.bucket = c.bucket AND p.rn = c.rn + 1)
SELECT doc_id, bucket, tokens, seq, seq_offset
FROM chain ORDER BY doc_id"""


# ---------------------------------------------------------------------------
# Catalog entries, merged by catalog.py: name -> (Spark callable, oracle SQL)
# ---------------------------------------------------------------------------

ENTRIES: dict[str, tuple[Callable, str]] = {
    "bpe_train": (q_bpe_train, _bpe_train_sql(8)),
    "dup_span_removal": (q_dup_span_removal, _Q_DUP_SPAN_REMOVAL),
    "winnow_fp": (q_winnow_fp, _Q_WINNOW_FP),
    "embedding_gramian": (q_embedding_gramian, _Q_EMBEDDING_GRAMIAN),
    "bloom_contamination": (q_bloom_contamination, _bloom_sql(5, 5)),
    "shuffle_rows": (q_shuffle_rows, _Q_SHUFFLE_ROWS),
    "kmeans_assign": (q_kmeans_assign, _kmeans_sql(4, 2)),
    "logreg_weights": (q_logreg_weights, _logreg_sql(8, 5, 0.5)),
    "pq_codes": (q_pq_codes, _pq_codes_sql(4, 4, 16, 1)),
    "pq_topk": (q_pq_topk, _pq_topk_sql(4, 4, 16, 1, 0, 10)),
    "ivfpq_topk": (q_ivfpq_topk, _ivfpq_sql()),
    "pagerank_graph": (q_pagerank_graph, _pagerank_sql(3)),
    "ivfpq_rerank": (q_ivfpq_rerank, _ivfpq_rerank_sql()),
    "harmonic_centrality": (q_harmonic_centrality, _harmonic_sql(3)),
    "hyperball_harmonic": (q_hyperball_harmonic, _hyperball_sql(3)),
    "k_core": (q_k_core, _k_core_sql(10)),
    "trustrank": (q_trustrank, _trustrank_sql(3)),
    "hyperball_closeness": (q_hyperball_closeness, _hyperball_closeness_sql(3)),
    "label_propagation": (q_label_propagation, _label_propagation_sql(4)),
    "pagerank_weighted": (q_pagerank_weighted, _pagerank_weighted_sql(3)),
    "core_number": (q_core_number, _core_number_sql(16)),
    "triangle_counts": (q_triangle_counts, _Q_TRIANGLE_COUNTS),
    "neighborhood_function": (q_neighborhood_function, _neighborhood_sql(3)),
    "transitivity": (q_transitivity, _Q_TRANSITIVITY),
    "label_propagation_weighted": (
        q_label_propagation_weighted, _label_propagation_weighted_sql(4),
    ),
    "pack_sequences": (q_pack_sequences, _pack_sequences_sql(64, 8)),
    "pack_sequences_shuffled": (
        q_pack_sequences_shuffled, _pack_sequences_sql(64, 8, order_by_hash=True),
    ),
    "sequence_index": (q_sequence_index, _sequence_index_sql(64, 8)),
    "pack_sequences_append": (
        q_pack_sequences_append, _pack_sequences_append_sql(64, 8),
    ),
    "token_budget_select": (q_token_budget_select, _Q_TOKEN_BUDGET_SELECT),
    "token_budget_mix": (q_token_budget_mix, _Q_TOKEN_BUDGET_MIX),
    "token_budget_epochs": (q_token_budget_epochs, _Q_TOKEN_BUDGET_EPOCHS),
    "pack_sequences_epochs": (
        q_pack_sequences_epochs, _pack_sequences_epochs_sql(64, 8),
    ),
    "pack_sequences_nosplit": (
        q_pack_sequences_nosplit, _pack_sequences_nosplit_sql(64, 8),
    ),
}
