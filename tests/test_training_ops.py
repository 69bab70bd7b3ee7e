"""Training-data toolbox: dedup, similarity, text analysis, multimodal
plumbing — exercised against the synthetic documents/embeddings tables."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from slow_tortoise_spark.operators.dedup import (
    doc_shingles,
    drop_exact_duplicates,
    exact_duplicates,
    jaccard_pairs,
    minhash_lsh_candidates,
    minhash_signature,
    simhash16,
    simhash_duplicates,
)
from slow_tortoise_spark.operators.multimodal import (
    extract_image_features,
    sample_video_frames,
)
from slow_tortoise_spark.operators.similarity import (
    brute_force_topk,
    build_ivf_index,
    embedding_near_duplicates,
    ivf_topk,
)
from slow_tortoise_spark.operators.text import (
    fingerprint,
    language_id,
    quality_features,
)


def _docs(spark):
    rows = [
        Row(doc_id=0, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=1, text="The  quick brown fox jumps over the lazy dog "),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy cat"),
        Row(doc_id=3, text="el rapido zorro salta sobre el perro y el gato"),
        Row(doc_id=4, text="completely different words here nothing shared"),
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup(spark):
    dups = exact_duplicates(_docs(spark)).collect()
    assert len(dups) == 1
    assert dups[0]["doc_ids"] == [0, 1] and dups[0]["keep_doc_id"] == 0
    kept = drop_exact_duplicates(_docs(spark))
    assert kept.count() == 4
    assert {r["doc_id"] for r in kept.collect()} == {0, 2, 3, 4}


def test_shingles_and_jaccard(spark):
    sh = doc_shingles(_docs(spark).filter("doc_id = 0"), n=3).collect()
    assert len(sh) == 7  # 9 tokens → 7 trigrams
    pairs = jaccard_pairs(_docs(spark), threshold=0.4).collect()
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs}
    assert got[(0, 1)] == 1.0  # identical after normalization
    assert (0, 2) in got and 0.4 < got[(0, 2)] < 1.0
    assert (0, 4) not in got


def test_minhash_lsh_finds_near_dups(spark):
    sig = minhash_signature(_docs(spark), k=8)
    assert len(sig.columns) == 9
    cands = {(r["doc_a"], r["doc_b"])
             for r in minhash_lsh_candidates(_docs(spark), k=8, bands=4).collect()}
    assert (0, 1) in cands  # identical docs always collide on every band
    assert (0, 4) not in cands


def test_minhash_family_members_nondegenerate(spark, sf_dir):
    """Every signature member must be a full 64-bit slice with real
    spread across docs. Guards the failure class an oracle CANNOT catch
    (a degenerate family — e.g. an out-of-range substring yielding ''
    for half the members — replays identically in SQL and turns LSH
    into all-pairs while still 'matching')."""
    from slow_tortoise_spark.operators.dedup import minhash_signature
    from slow_tortoise_spark.sources.reader import read_table

    docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    sig = minhash_signature(docs, k=8).cache()
    n = sig.count()
    for i in range(8):
        lens = sig.select(F.length(f"mh{i}").alias("l")).distinct().collect()
        assert [r["l"] for r in lens] == [16], f"mh{i} not a 16-char slice"
        distinct = sig.select(f"mh{i}").distinct().count()
        assert distinct > max(2, n // 10), f"mh{i} degenerate ({distinct})"


def test_simhash(spark):
    sh = {r["doc_id"]: r["simhash"] for r in simhash16(_docs(spark)).collect()}
    assert sh[0] == sh[1]  # identical token multisets
    assert all(0 <= v < 2**16 for v in sh.values())
    buckets = simhash_duplicates(_docs(spark)).collect()
    assert any(b["doc_ids"] == [0, 1] for b in buckets)


def test_text_quality_and_lang(spark):
    q = {r["doc_id"]: r for r in quality_features(_docs(spark)).collect()}
    assert q[0]["n_tokens"] == 9
    assert q[0]["stopword_ratio"] == pytest.approx(2 / 9)  # 'the' twice
    lang = {r["doc_id"]: r["lang_pred"] for r in language_id(_docs(spark)).collect()}
    assert lang[0] == "en" and lang[3] == "es"
    fp = fingerprint(_docs(spark)).collect()
    fps = {r["doc_id"]: r["fingerprint"] for r in fp}
    assert fps[0] == fps[1] and fps[0] != fps[2]


def test_brute_force_topk_real_embeddings(spark, sf_dir):
    from slow_tortoise_spark.sources.reader import read_table

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    query = emb.filter("vec_id = 0").first()["embedding"]
    top = brute_force_topk(emb, [float(x) for x in query], k=5).collect()
    assert top[0]["vec_id"] == 0 and top[0]["cosine"] == pytest.approx(1.0)
    assert len(top) == 5
    assert all(top[i]["cosine"] >= top[i + 1]["cosine"] for i in range(4))


def test_ivf_topk_recall(spark, sf_dir):
    from slow_tortoise_spark.sources.reader import read_table

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    query = [float(x) for x in emb.filter("vec_id = 7").first()["embedding"]]
    indexed, centroids = build_ivf_index(emb, n_cells=8)
    exact = [r["vec_id"] for r in brute_force_topk(emb, query, k=5).collect()]
    approx = [r["vec_id"] for r in
              ivf_topk(indexed, centroids, query, k=5, nprobe=4).collect()]
    # probe includes the query's own cell → its exact match must appear
    assert 7 in approx
    assert len(set(exact) & set(approx)) >= 2  # decent recall on 8 cells


def test_ivf_assign_strategies_identical_and_large_C(spark, sf_dir):
    """The broadcast-join assignment (large-C strategy) must agree
    cell-for-cell with the literal-array plan — including ties, which
    both break to the lowest cell id — its plan must actually broadcast,
    and a C=1024 build (far past the literal-plan comfort zone) must
    complete through the join path."""
    from slow_tortoise_spark.operators.similarity import (
        _assign_cells,
        build_ivf_index,
    )
    from slow_tortoise_spark.sources.reader import read_table

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    _, centroids = build_ivf_index(emb, n_cells=16)
    lit = {r["vec_id"]: r["cell"]
           for r in _assign_cells(emb, centroids, "embedding",
                                  strategy="literal").collect()}
    jn_df = _assign_cells(emb, centroids, "embedding", strategy="join")
    jn = {r["vec_id"]: r["cell"] for r in jn_df.collect()}
    assert lit == jn and len(lit) == emb.count()
    plan = jn_df._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan

    # exact tie: two identical centroids — both strategies pick min id
    dup = [(0, centroids[0][1]), (1, centroids[0][1]), (2, centroids[1][1])]
    for strat in ("literal", "join"):
        got = {r["vec_id"]: r["cell"]
               for r in _assign_cells(emb.limit(20), dup, "embedding",
                                      strategy=strat).collect()}
        assert 1 not in got.values(), strat

    # C=1024: auto dispatches to the join path and completes
    n = emb.count()
    import math

    dim = len(centroids[0][1])
    big = [(i, [math.sin(i * dim + d) for d in range(dim)])
           for i in range(1024)]
    assigned = _assign_cells(emb, big, "embedding")
    counts = assigned.groupBy().agg(F.count("*").alias("n")).first()["n"]
    assert counts == n
    assert "Broadcast" in assigned._jdf.queryExecution().executedPlan().toString()


def test_embedding_near_duplicates_self(spark):
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.99, 0.01, 0.0]),
        Row(vec_id=3, embedding=[0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows)
    pairs = embedding_near_duplicates(df, threshold=0.95).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_multimodal_plumbing(spark):
    rows = [
        Row(media_id=1, kind="image", content=bytearray(b"fakepng"), mime="image/png",
            width=2, height=2, duration_ms=None),
        Row(media_id=2, kind="video", content=bytearray(b"fakemp4"), mime="video/mp4",
            width=4, height=4, duration_ms=3500),
    ]
    from slow_tortoise_spark.operators.multimodal import MEDIA_SCHEMA

    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    feats = extract_image_features(df.filter("kind = 'image'")).collect()
    assert len(feats) == 1
    f0 = feats[0]
    assert f0["n_bytes"] == 7 and len(f0["features"]) == 16
    # deterministic stub: same content → same features
    feats2 = extract_image_features(df.filter("kind = 'image'")).collect()
    assert feats2[0]["sha"] == f0["sha"]

    frames = sample_video_frames(df.filter("kind = 'video'"), every_ms=1000)
    assert [r["frame_ms"] for r in frames.collect()] == [0, 1000, 2000, 3000]


def test_image_real_decode_when_imaging_available(spark):
    """Auto-activating guard on the REAL decode path: skipped while no
    imaging library exists in the environment, live the day one lands.
    A genuine decodable image must produce histogram features (sum≈1,
    16 bins) rather than the content-hash pseudo-features — keeping the
    import gate honest instead of silently stubbing forever."""
    import pytest

    from slow_tortoise_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        _decode_image_stub,
        _imaging,
    )

    image_mod = _imaging()
    if image_mod is None:
        pytest.skip("no imaging library installed — stub path covered by "
                    "test_multimodal_plumbing")
    import io

    buf = io.BytesIO()
    image_mod.new("L", (8, 8), color=128).save(buf, format="PNG")
    png = buf.getvalue()
    df = spark.createDataFrame(
        [Row(media_id=1, kind="image", content=bytearray(png),
             mime="image/png", width=8, height=8, duration_ms=None)],
        schema=MEDIA_SCHEMA,
    )
    f0 = extract_image_features(df).collect()[0]
    assert len(f0["features"]) == 16
    # histogram features normalize to 1; the stub's hash-bytes do not
    assert abs(sum(f0["features"]) - 1.0) < 1e-6
    assert f0["features"] != _decode_image_stub(png)["features"]


def test_jaccard_prefix_matches_naive(spark):
    from slow_tortoise_spark.operators.dedup import jaccard_pairs_prefix

    naive = {(r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
             for r in jaccard_pairs(_docs(spark), threshold=0.4).collect()}
    pref = {(r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
            for r in jaccard_pairs_prefix(_docs(spark), threshold=0.4).collect()}
    assert naive == pref


def test_jaccard_prefix_float_boundary_prefix_length(spark):
    """Latent round-8 hole found (and fixed) in r14: the prefix bound
    ⌊(1−t)·n⌋+1 was computed in floats, and for t=0.9 the binary
    rounding of (1−t) makes (1−t)·10 = 0.999…, flooring to a prefix
    one token SHORT of the theorem's requirement.  Crafted boundary
    pair: |A|=10, |B|=9, overlap 9 → J = 9/10 = 0.9 exactly, with A's
    one odd shingle globally rarest (so it fills the too-short
    prefix).  The shipped tier returned [] for this corpus; naive and
    prefix must agree."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.dedup import jaccard_pairs_prefix

    text_b = " ".join(f"w{i}" for i in range(11))   # 11 tokens → 9 trigrams
    text_a = text_b + " zz"                          # +1 trigram, unique
    docs = spark.createDataFrame([
        Row(doc_id=1, text=text_a),
        Row(doc_id=2, text=text_b),
    ])
    naive = sorted((r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
                   for r in jaccard_pairs(docs, threshold=0.9).collect())
    pref = sorted((r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
                  for r in jaccard_pairs_prefix(docs, threshold=0.9).collect())
    assert naive == pref == [(1, 2, 0.9)]


def test_jaccard_prefix_float_boundary_length_filter(spark):
    """Companion hole: the PPJoin length filter compared
    min(|A|,|B|) ≥ t·max(|A|,|B|) without slack, and t=0.9's binary
    rounding makes 0.9·30 = 27.000000000000004 > 27, dropping a true
    J = 27/30 = 0.9 boundary pair (|A|=27 ⊂ |B|=30 trigrams) —
    verified failing on the pre-fix tier, green with the −1e-9
    slack."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.dedup import jaccard_pairs_prefix

    text_b = " ".join(f"w{i}" for i in range(32))   # 32 tokens → 30 trigrams
    text_a = " ".join(f"w{i}" for i in range(29))   # 29 tokens → 27 ⊂ B
    docs = spark.createDataFrame([
        Row(doc_id=1, text=text_a),
        Row(doc_id=2, text=text_b),
    ])
    naive = sorted((r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
                   for r in jaccard_pairs(docs, threshold=0.9).collect())
    pref = sorted((r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
                  for r in jaccard_pairs_prefix(docs, threshold=0.9).collect())
    assert naive == pref == [(1, 2, 0.9)]


def test_jaccard_prefix_positional_filter_boundary_pair(spark):
    """The PPJoin positional filter prunes with an integer overlap
    upper bound against α = t·(|A|+|B|)/(1+t); when α is exactly
    integral the boundary pair sits ON the bound and the 1e-9 slack
    must keep it.  Crafted case: two 5-token docs → 3 trigram shingles
    each, sharing exactly 2 → J = 2/4 = 0.5 at t=0.5, α = 2.0 exactly.
    The pair must survive the prefix tier (and match the naive tier)."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.dedup import jaccard_pairs_prefix

    docs = spark.createDataFrame([
        Row(doc_id=1, text="x1 x2 x3 x4 x5"),
        Row(doc_id=2, text="x2 x3 x4 x5 x6"),
        # an unrelated doc so the candidate join has pruning to do
        Row(doc_id=3, text="y1 y2 y3 y4 y5"),
    ])
    pref = {(r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
            for r in jaccard_pairs_prefix(docs, threshold=0.5).collect()}
    naive = {(r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
             for r in jaccard_pairs(docs, threshold=0.5).collect()}
    assert pref == naive == {(1, 2): 0.5}


def test_jaccard_prefix_positional_filter_in_plan(spark):
    """The positional filter must survive into the candidate join's
    physical plan (the position columns feed the join condition, not a
    post-join filter) — the r14 candidate-pruning optimization is
    load-bearing at scale (10.4 M → 3.2 M candidates on the 10×
    corpus), so its disappearance should fail loudly, not silently
    re-inflate the rescore."""
    from slow_tortoise_spark.operators.dedup import jaccard_pairs_prefix

    plan = jaccard_pairs_prefix(
        _docs(spark), threshold=0.4
    )._jdf.queryExecution().executedPlan().toString()
    assert "_p" in plan  # posexplode position column is in the plan
    # the join condition applies the tail-length bound on BOTH sides
    assert plan.count("- _p") >= 2 or plan.count("_p#") >= 2
    # r14 ADVICE: pin the CONDITION itself, not just column presence —
    # the positional bound is a least(n−p, n−p) ≥ α comparison inside
    # the join; if the filter were dropped, posexplode's position
    # attribute could still appear in Project output.
    import re

    assert re.search(r"least\([^)]*_p", plan), (
        "positional-filter least(...) bound missing from the plan"
    )


def test_jaccard_containment_hashed_ids_match_string_tier(spark):
    """The verified-injective hash-id variant must return EXACTLY the
    string tier's (and the naive tier's) pairs and scores — including
    the crafted float-boundary corpora, where prefix membership is the
    fragile part.  (The hash changes the tie-break of the rarest-first
    order, so the candidate SET may differ; the exact rescore must make
    the results identical.)"""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.dedup import (
        containment_pairs,
        containment_pairs_prefix,
        jaccard_pairs_prefix,
    )

    text_b10 = " ".join(f"w{i}" for i in range(11))
    corpora = [
        (_docs(spark), 0.4),
        # |A|=10/|B|=9 J=0.9 prefix-length boundary (r14 fix fixture)
        (spark.createDataFrame([
            Row(doc_id=1, text=text_b10 + " zz"),
            Row(doc_id=2, text=text_b10),
        ]), 0.9),
        # α exactly integral positional-filter boundary
        (spark.createDataFrame([
            Row(doc_id=1, text="x1 x2 x3 x4 x5"),
            Row(doc_id=2, text="x2 x3 x4 x5 x6"),
            Row(doc_id=3, text="y1 y2 y3 y4 y5"),
        ]), 0.5),
    ]
    for docs, t in corpora:
        naive = {(r["doc_a"], r["doc_b"]): r["jaccard"]
                 for r in jaccard_pairs(docs, threshold=t).collect()}
        strs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
                for r in jaccard_pairs_prefix(docs, threshold=t).collect()}
        hashed = {(r["doc_a"], r["doc_b"]): r["jaccard"]
                  for r in jaccard_pairs_prefix(
                      docs, threshold=t, hashed_ids=True).collect()}
        assert naive == strs == hashed
    docs, t = corpora[0]
    cn = {(r["doc_a"], r["doc_b"]): r["containment"]
          for r in containment_pairs(docs, threshold=0.6).collect()}
    ch = {(r["doc_a"], r["doc_b"]): r["containment"]
          for r in containment_pairs_prefix(
              docs, threshold=0.6, hashed_ids=True).collect()}
    assert cn == ch


def test_priced_stats_enable_hash_ids_and_broadcast(spark):
    """The shared pricing pass must (a) verify xxhash64 injectivity on
    the vocabulary exactly, (b) price the docsets payload, and (c) the
    prefix dispatch must then run hash-id arrays (bigint join keys) and
    a broadcast rescore attach."""
    from slow_tortoise_spark.operators.dedup import (
        _priced_pair_stats,
        doc_shingles,
        jaccard_pairs_auto,
    )
    from slow_tortoise_spark.operators.cachectl import tracked_cache

    docs = _docs(spark)
    sh = tracked_cache(doc_shingles(docs, "text", 3))
    pair_rows, docset_bytes, hash_ok = _priced_pair_stats(
        docs, sh, "text", 3)
    assert pair_rows > 0 and docset_bytes > 0 and hash_ok is True
    out = jaccard_pairs_auto(docs, threshold=0.4, naive_budget=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan  # hash-id arrays in the prefix tier
    assert "BroadcastHashJoin" in plan  # measured-small docsets attach
    naive = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in jaccard_pairs(docs, threshold=0.4).collect()}
    assert {(r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in out.collect()} == naive


def test_priced_stats_follow_a_table_rewritten_in_place(spark, tmp_path):
    """A table overwritten in place is priced again.  Spark's part-file
    names always have the same length, so only the input files' stat
    signatures tell the 40-doc table from the 400-doc one."""
    from slow_tortoise_spark import memo
    from slow_tortoise_spark.operators.cachectl import (
        release_unscoped,
        tracked_cache,
    )
    from slow_tortoise_spark.operators.dedup import (
        _priced_pair_stats,
        doc_shingles,
    )

    path = str(tmp_path / "docs.parquet")

    def write_and_price(n_docs):
        rows = [(i, f"w{i % 5} w{i % 7} w{i % 11} w{i % 3} tail{i % 17}")
                for i in range(n_docs)]
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.mode("overwrite").parquet(path)
        docs = spark.read.parquet(path)
        sh = tracked_cache(doc_shingles(docs, "text", 3))
        return docs, sh, _priced_pair_stats(docs, sh, "text", 3)

    try:
        _, _, small = write_and_price(40)
        docs, sh, large = write_and_price(400)
        memo._STORE.clear()
        assert large != small
        assert large == _priced_pair_stats(docs, sh, "text", 3)
    finally:
        release_unscoped()


def test_memo_skips_unstatable_paths_and_keeps_sessions_apart(spark):
    """``remembered`` never remembers a value for a path it cannot stat
    (an object store), and two session objects share no entry."""
    from slow_tortoise_spark.memo import remembered

    calls = []

    def compute():
        calls.append(None)
        return len(calls)

    key = object()
    assert remembered(spark, key, compute, ("s3a://b/x",)) == 1
    assert remembered(spark, key, compute, ("s3a://b/x",)) == 2
    assert remembered(spark, key, compute) == 3
    assert remembered(spark, key, compute) == 3
    other = spark.newSession()
    assert remembered(other, key, compute) == 4
    assert remembered(other, key, compute) == 4
    assert remembered(spark, key, compute) == 3


def test_ivf_kmeans_refinement_improves_or_holds_recall(spark, sf_dir):
    from slow_tortoise_spark.sources.reader import read_table

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    query = [float(x) for x in emb.filter("vec_id = 3").first()["embedding"]]
    exact = [r["vec_id"] for r in brute_force_topk(emb, query, k=10).collect()]

    def recall(kmeans_iters):
        indexed, cents = build_ivf_index(emb, n_cells=8,
                                         kmeans_iters=kmeans_iters)
        approx = [r["vec_id"] for r in
                  ivf_topk(indexed, cents, query, k=10, nprobe=3).collect()]
        return len(set(exact) & set(approx)) / 10

    r0, r2 = recall(0), recall(2)
    assert r2 >= max(r0 - 0.2, 0.2)  # refinement must not collapse recall
    assert 3 in [r["vec_id"] for r in
                 ivf_topk(*build_ivf_index(emb, n_cells=8, kmeans_iters=2),
                          query=query, k=10, nprobe=3).collect()]


def test_lsh_near_dups_no_all_pairs_and_high_recall(spark, sf_dir):
    """The catalog near-dup query is the banded-LSH scale tier: its plan
    must contain no nested-loop/all-pairs join, every emitted pair must be
    a true pair (exact rescore ⇒ perfect precision), and recall vs the
    exact O(n²) verifier tier must be high on the test corpus."""
    from slow_tortoise_spark.queries import _hyperplanes, q_embedding_near_dups
    from slow_tortoise_spark.sources.reader import read_table

    df = q_embedding_near_dups(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    exact = {(r["id_a"], r["id_b"])
             for r in embedding_near_duplicates(emb, threshold=0.4).collect()}
    got = {(r["id_a"], r["id_b"]) for r in df.collect()}
    false_pos = {p for p in got - exact}
    # rescore is exact → only rounding-boundary pairs may differ
    assert len(false_pos) <= 1, false_pos
    assert len(got & exact) / max(len(exact), 1) >= 0.85


def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    """nprobe = n_cells degrades IVF to exact search — results must equal
    brute force (sanity for the deterministic md5-seeded index)."""
    from slow_tortoise_spark.sources.reader import read_table

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    query = [float(x) for x in emb.filter("vec_id = 7").first()["embedding"]]
    indexed, cents = build_ivf_index(emb, n_cells=8)
    exact = [(r["vec_id"], round(r["cosine"], 6))
             for r in brute_force_topk(emb, query, k=10).collect()]
    full = [(r["vec_id"], round(r["cosine"], 6))
            for r in ivf_topk(indexed, cents, query, k=10, nprobe=8).collect()]
    assert full == exact


def test_ivf_seeding_is_distributed_and_deterministic(spark, sf_dir):
    """Seed pick must not funnel the table through an unpartitioned
    window: same seeds regardless of input partitioning."""
    import inspect

    from slow_tortoise_spark.operators import similarity
    from slow_tortoise_spark.sources.reader import read_table

    assert "Window" not in inspect.getsource(similarity)
    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    _, c1 = build_ivf_index(emb, n_cells=8)
    _, c2 = build_ivf_index(emb.repartition(7), n_cells=8)
    assert c1 == c2


def test_jaccard_auto_dispatch_both_paths_match(spark):
    """The cost gate must be invisible to results: a budget that admits
    the naive plan and one that forces the prefix plan return identical
    pairs (and both equal the two direct implementations)."""
    from slow_tortoise_spark.operators.dedup import (
        jaccard_pairs_auto,
        jaccard_pairs_prefix,
    )

    def pairs(df):
        return {(r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
                for r in df.collect()}

    docs = _docs(spark)
    naive_path = pairs(jaccard_pairs_auto(docs, threshold=0.4,
                                          naive_budget=10**9))
    prefix_path = pairs(jaccard_pairs_auto(docs, threshold=0.4,
                                           naive_budget=0))
    assert naive_path == prefix_path
    assert naive_path == pairs(jaccard_pairs(docs, threshold=0.4))
    assert naive_path == pairs(jaccard_pairs_prefix(docs, threshold=0.4))


def test_resize_plumbing_plan_and_values(spark):
    """Resize geometry is pure column math (no Python stage in the plan);
    the Arrow-batched apply stage is deterministic and aspect-preserving."""
    from slow_tortoise_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        apply_resize,
        plan_resize,
    )

    rows = [
        Row(media_id=1, kind="image", content=bytearray(b"big-image-bytes"),
            mime="image/png", width=1024, height=512, duration_ms=None),
        Row(media_id=2, kind="image", content=bytearray(b"small"),
            mime="image/png", width=100, height=50, duration_ms=None),
    ]
    planned = plan_resize(spark.createDataFrame(rows, schema=MEDIA_SCHEMA),
                          max_dim=256)
    plan = planned._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # geometry stays JVM-side

    got = {r["media_id"]: r for r in planned.collect()}
    assert (got[1]["target_width"], got[1]["target_height"]) == (256, 128)
    assert got[1]["needs_resize"] is True
    assert (got[2]["target_width"], got[2]["target_height"]) == (100, 50)
    assert got[2]["needs_resize"] is False

    out = {r["media_id"]: r for r in apply_resize(planned).collect()}
    assert (out[1]["width"], out[1]["height"]) == (256, 128)
    assert bytes(out[1]["content"]).endswith(b"256x128")
    # pass-through rows keep their original bytes
    assert bytes(out[2]["content"]) == b"small"
    # deterministic: same input → same resized bytes
    again = {r["media_id"]: r for r in apply_resize(planned).collect()}
    assert bytes(again[1]["content"]) == bytes(out[1]["content"])


def test_audio_window_features(spark):
    """Audio windows explode from JVM column math; per-window stub
    features are deterministic and fixed-size."""
    from slow_tortoise_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_audio_features,
    )

    rows = [
        Row(media_id=7, kind="audio", content=bytearray(b"fakewav"),
            mime="audio/wav", width=None, height=None, duration_ms=2500),
    ]
    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    out = extract_audio_features(df, window_ms=1000).collect()
    assert [r["window_ms"] for r in out] == [0, 1000, 2000]
    assert all(len(r["features"]) == 8 for r in out)
    assert all(0.0 <= r["energy"] <= 1.0 for r in out)
    # distinct windows of the same blob get distinct features
    assert out[0]["features"] != out[1]["features"]
    # deterministic across runs
    out2 = extract_audio_features(df, window_ms=1000).collect()
    assert [r["features"] for r in out2] == [r["features"] for r in out]


def test_hash_split_deterministic_and_proportional(spark):
    """Splits are a pure projection: identical under any partitioning,
    disjoint, complete, and near the requested proportions."""
    from slow_tortoise_spark.operators.dedup import hash_split

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in hash_split(df).collect()}
    b = {r["doc_id"]: r["split"]
         for r in hash_split(df.repartition(13)).collect()}
    assert a == b and len(a) == 5000
    frac_train = sum(1 for v in a.values() if v == "train") / 5000
    assert 0.87 <= frac_train <= 0.93  # 0.9 requested
    # a different salt draws an independent split
    c = {r["doc_id"]: r["split"]
         for r in hash_split(df, salt="other").collect()}
    assert c != a
    # no shuffle: plan is scan + project only
    plan = hash_split(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_repetition_ratio_known_cases(spark):
    from slow_tortoise_spark.operators.text import repetition_ratio

    rows = [
        Row(doc_id=1, text="a b c a b c a b c"),   # 7 shingles, 3 distinct
        Row(doc_id=2, text="w x y z"),             # 2 shingles, no repeats
        Row(doc_id=3, text="hi"),                  # too short → 0 shingles
    ]
    out = {r["doc_id"]: (r["n_shingles"], round(r["rep_ratio"], 6))
           for r in repetition_ratio(spark.createDataFrame(rows)).collect()}
    assert out[1] == (7, round(4 / 7, 6))
    assert out[2] == (2, 0.0)
    assert out[3] == (0, 0.0)


def test_stratified_sample_deterministic_proportions(spark, sf_dir):
    """Per-stratum keep rates land near their fractions, the decision is
    identical across partitionings, fraction 1.0 keeps (essentially)
    everything, and unlisted strata get the default."""
    from slow_tortoise_spark.operators.dedup import stratified_sample
    from slow_tortoise_spark.sources.reader import read_table

    docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    fractions = {"src0": 1.0, "src1": 0.5}
    out = stratified_sample(docs, "source", fractions, default_fraction=0.1)
    kept = {r["doc_id"]: r["source"] for r in out.collect()}
    by_src: dict[str, int] = {}
    for s in kept.values():
        by_src[s] = by_src.get(s, 0) + 1
    totals = {r["source"]: r["n"]
              for r in docs.groupBy("source").agg(F.count("*").alias("n"))
              .collect()}
    assert by_src.get("src0", 0) == totals["src0"]  # fraction 1.0
    assert 0 < by_src.get("src1", 0) < totals["src1"]
    others_kept = sum(n for s, n in by_src.items()
                     if s not in ("src0", "src1"))
    others_total = sum(n for s, n in totals.items()
                      if s not in ("src0", "src1"))
    assert 0 <= others_kept < others_total * 0.35  # ~10% default
    again = {r["doc_id"] for r in stratified_sample(
        docs.repartition(13), "source", fractions, 0.1).collect()}
    assert again == set(kept)


def test_cross_corpus_contamination_known_case(spark):
    from slow_tortoise_spark.operators.dedup import cross_corpus_contamination

    train = spark.createDataFrame([
        Row(doc_id=0, text="the quick brown fox jumps over the lazy dog"),
    ])
    test = spark.createDataFrame([
        # contains the train 5-gram "quick brown fox jumps over"
        Row(doc_id=1, text="a quick brown fox jumps over here now"),
        Row(doc_id=2, text="completely different text with no overlap at all"),
    ])
    out = {r["doc_id"]: r["n_hits"]
           for r in cross_corpus_contamination(train, test, n=5).collect()}
    assert 1 in out and out[1] >= 1
    assert 2 not in out


@pytest.mark.parametrize("n_bits", [16, 64])
def test_simhash_near_dups_banding_is_lossless(spark, sf_dir, n_bits):
    """Pigeonhole banding must find EXACTLY the hamming-≤k pairs the
    brute-force O(n²) scan finds (k+1 bands ⇒ any pair within budget
    agrees on some band — no recall loss, and the xor verify kills every
    false candidate). Parametrized over the 16-bit verifier width and
    the 64-bit corpus-scale width (whose fingerprints are signed longs —
    hamming via masked xor)."""
    import itertools

    from slow_tortoise_spark.operators.dedup import (
        _simhash_bits,
        simhash_near_duplicates,
    )
    from slow_tortoise_spark.sources.reader import read_table

    docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    got = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in simhash_near_duplicates(
               docs, max_hamming=2, n_bits=n_bits).collect()}
    hs = {r["doc_id"]: r["simhash"]
          for r in _simhash_bits(docs, "text", n_bits).collect()}
    mask = (1 << 64) - 1
    want = {}
    for a, b in itertools.combinations(sorted(hs), 2):
        h = bin((hs[a] ^ hs[b]) & mask).count("1")
        if h <= 2:
            want[(a, b)] = h
    assert got == want
    if n_bits == 16:
        assert want  # 16-bit fingerprints collide at this corpus size


def test_simhash_packed_counters_match_per_bit_sums(spark, sf_dir):
    """The packed-counter aggregation (16 SUMs of 16-bit count fields +
    COUNT) must emit bit-identical fingerprints to the per-bit ±1 vote
    form at both widths (majority: 2c > n ⟺ vote-sum 2c−n > 0)."""
    from slow_tortoise_spark.operators.dedup import _simhash_bits
    from slow_tortoise_spark.sources.reader import read_table

    docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    for n_bits in (16, 64):
        fast = {r["doc_id"]: r["simhash"]
                for r in _simhash_bits(docs, "text", n_bits, packed=True)
                .collect()}
        slow = {r["doc_id"]: r["simhash"]
                for r in _simhash_bits(docs, "text", n_bits, packed=False)
                .collect()}
        assert fast == slow and fast


@pytest.mark.parametrize("n_tokens", [40_000, 70_000])
def test_simhash_packed_overflow_guard(spark, n_tokens):
    """An over-cap doc must fail LOUDLY on the packed path with the
    FRIENDLY assert (silent field carry-over would corrupt neighboring
    bit counts) and succeed with packed=False. 40 000 identical tokens
    is the review-confirmed case where 16-bit fields overflowed the
    aggregation itself (ANSI ARITHMETIC_OVERFLOW before the guard) —
    15-bit fields keep the sum in range so the guard is reachable."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.dedup import _simhash_bits

    big = spark.createDataFrame(
        [Row(doc_id=1, text="tok " * n_tokens)], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="packed-counter overflow"):
        _simhash_bits(big, "text", 16, packed=True).collect()
    out = _simhash_bits(big, "text", 16, packed=False).collect()
    assert len(out) == 1


def test_connected_components_chains_and_stars(spark):
    """Transitive closure: chains collapse to one component regardless of
    pair direction/order, isolated pairs stay separate, and the star
    shape (1,3),(2,3) — where greedy per-pair dropping keeps both 1 and
    2 — forms ONE component with min-id representative."""
    from slow_tortoise_spark.operators.dedup import (
        connected_components,
        drop_by_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (10, 30), (20, 30)],
        "doc_a long, doc_b long",
    )
    comp = {r["doc_id"]: r["component"]
            for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 10: 10, 30: 10, 20: 10}

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 5, 6, 10, 20, 30, 99)],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in drop_by_components(docs, pairs).collect()}
    # one survivor per cluster + the untouched doc; greedy on the star
    # would have kept {10, 20} both
    assert kept == {1, 5, 10, 99}


def test_corpus_pipeline_cc_policy(spark, sf_dir, tmp_path):
    """dedup='minhash_cc': at most one survivor per transitive near-dup
    cluster; on this corpus (pair clusters of size 2) it must agree with
    greedy, and the manifest shape is unchanged."""
    from slow_tortoise_spark.corpus_pipeline import (
        CorpusParams,
        run_corpus_pipeline,
    )
    from slow_tortoise_spark.sources.reader import read_table

    docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    m_greedy = run_corpus_pipeline(
        spark, docs, CorpusParams(out_dir=str(tmp_path / "g"),
                                  dedup="minhash"))
    m_cc = run_corpus_pipeline(
        spark, docs, CorpusParams(out_dir=str(tmp_path / "cc"),
                                  dedup="minhash_cc"))
    assert m_cc["after_near_dedup"] <= m_greedy["after_near_dedup"]
    g = {r["doc_id"] for r in
         spark.read.parquet(f"{tmp_path}/g/corpus").collect()}
    c = {r["doc_id"] for r in
         spark.read.parquet(f"{tmp_path}/cc/corpus").collect()}
    assert c <= g  # cc can only drop MORE (star shapes), never fewer


def test_pack_chunks_invariants(spark, sf_dir):
    """Packing invariants on real chunked docs: every chunk assigned
    exactly once; no bin (without an oversized chunk) exceeds the
    context; oversized chunks sit alone; utilization beats the
    one-chunk-per-bin strawman; same partitioning → same assignment."""
    from slow_tortoise_spark.operators.text import chunk_documents, pack_chunks
    from slow_tortoise_spark.sources.reader import read_table

    docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    chunks = chunk_documents(docs, chunk_tokens=64, overlap=8).cache()
    n_chunks = chunks.count()
    ctx = 256
    packed = pack_chunks(chunks, context_len=ctx).cache()
    assert packed.count() == n_chunks
    assert packed.select("doc_id", "chunk_id").distinct().count() == n_chunks

    fills = packed.groupBy("bin_id").agg(
        F.sum("n_chunk_tokens").alias("fill"), F.count("*").alias("n")
    )
    bad = fills.filter((F.col("fill") > ctx) & (F.col("n") > 1)).count()
    assert bad == 0  # over-full bins only ever hold a single giant chunk
    n_bins = fills.count()
    assert n_bins < n_chunks  # actually packs, not 1 chunk per bin
    total = packed.agg(F.sum("n_chunk_tokens")).first()[0]
    assert n_bins * ctx >= total  # sanity: capacity covers the tokens

    again = {(r["doc_id"], r["chunk_id"]): r["bin_id"]
             for r in pack_chunks(chunks, context_len=ctx).collect()}
    first = {(r["doc_id"], r["chunk_id"]): r["bin_id"]
             for r in packed.collect()}
    assert again == first  # deterministic for a fixed partition count

    # an oversized chunk gets its own bin
    import pandas as pd  # noqa: F401

    over = spark.createDataFrame(
        [(1, 0, 999), (1, 1, 10), (2, 0, 20)],
        "doc_id long, chunk_id long, n_chunk_tokens long",
    )
    p = pack_chunks(over, context_len=100)
    by_bin = {}
    for r in p.collect():
        by_bin.setdefault(r["bin_id"], []).append(r["n_chunk_tokens"])
    giant_bin = [v for v in by_bin.values() if 999 in v]
    assert giant_bin == [[999]]


def test_containment_catches_excerpts_jaccard_misses(spark):
    """A short excerpt inside a long doc: containment ≈ 1.0 for the
    excerpt side while symmetric Jaccard stays below threshold."""
    from slow_tortoise_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    long_text = " ".join(f"tok{i}" for i in range(60))
    excerpt = " ".join(f"tok{i}" for i in range(10))  # strict prefix
    df = spark.createDataFrame(
        [(1, long_text), (2, excerpt), (3, "completely different words x y z")],
        "doc_id long, text string",
    )
    cont = {(r["doc_a"], r["doc_b"]): r["containment"]
            for r in containment_pairs(df, threshold=0.9).collect()}
    assert cont[(2, 1)] == pytest.approx(1.0)  # excerpt contained
    assert (1, 2) not in cont                  # long side not contained
    jac = {(r["doc_a"], r["doc_b"])
           for r in jaccard_pairs(df, threshold=0.5).collect()}
    assert (1, 2) not in jac and (2, 1) not in jac


def test_containment_prefix_matches_naive_and_auto_dispatch(spark):
    """The r14 asymmetric prefix tier must be invisible to results: a
    budget admitting the naive plan and one forcing the prefix plan
    return identical containment pairs, both equal to the direct
    implementations — including excerpt shapes (the operator's reason
    to exist) and the t=0.9 float-boundary pair the prefix-length fix
    covers (|A|=10 trigrams, |B|=9 ⊂ A, containment 9/10 = 0.9 with
    A's odd shingle globally rarest)."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.dedup import (
        containment_pairs,
        containment_pairs_auto,
        containment_pairs_prefix,
    )

    long_text = " ".join(f"tok{i}" for i in range(60))
    excerpt = " ".join(f"tok{i}" for i in range(10))
    boundary_b = " ".join(f"w{i}" for i in range(11))  # 9 trigrams
    boundary_a = boundary_b + " zz"                    # 10 trigrams ⊇ B
    docs = spark.createDataFrame([
        Row(doc_id=1, text=long_text),
        Row(doc_id=2, text=excerpt),
        Row(doc_id=3, text="completely different words x y z"),
        Row(doc_id=4, text=boundary_a),
        Row(doc_id=5, text=boundary_b),
    ])

    def pairs(df):
        return {(r["doc_a"], r["doc_b"]): round(r["containment"], 9)
                for r in df.collect()}

    for t in (0.5, 0.9):
        naive = pairs(containment_pairs(docs, threshold=t))
        pref = pairs(containment_pairs_prefix(docs, threshold=t))
        auto_n = pairs(containment_pairs_auto(docs, threshold=t,
                                              naive_budget=10**9))
        auto_p = pairs(containment_pairs_auto(docs, threshold=t,
                                              naive_budget=0))
        assert naive == pref == auto_n == auto_p
    # the boundary pair itself: A (10 shingles) contains B exactly
    # 9/10 → present at t=0.9 in BOTH directions (B ⊂ A scores 1.0)
    t9 = pairs(containment_pairs_prefix(docs, threshold=0.9))
    assert t9[(4, 5)] == 0.9 and t9[(5, 4)] == 1.0


def test_top_tfidf_terms_rank_semantics(spark):
    """A term unique to one doc outranks corpus-wide terms; k caps the
    output; ranking ties break lexicographically."""
    from slow_tortoise_spark.operators.text import top_tfidf_terms

    df = spark.createDataFrame(
        [
            (1, "shared zebra"),
            (2, "shared shared shared"),
            (3, "shared aardvark"),
        ],
        "doc_id long, text string",
    )
    out = top_tfidf_terms(df, k=2)
    got = {(r["doc_id"], r["rank"]): r["term"] for r in out.collect()}
    # equal tf → the doc-unique term's higher idf wins over 'shared'
    # (df 3 of 3 docs → idf exactly 1)
    assert got[(1, 1)] == "zebra"
    assert got[(3, 1)] == "aardvark"
    assert got[(2, 1)] == "shared" and (2, 2) not in got  # only 1 term
    assert max(r for _, r in got) <= 2


def test_chunk_documents_windows(spark):
    """Chunk boundaries: exact-fit doc → one chunk; one token past the
    stride+overlap → a short tail chunk carrying ≥1 new token; short
    docs → single chunk; empty/whitespace docs → none."""
    from slow_tortoise_spark.operators.text import chunk_documents

    def words(n, prefix="w"):
        return " ".join(f"{prefix}{i}" for i in range(n))

    df = spark.createDataFrame(
        [
            (1, words(10)),   # one chunk of 10
            (2, words(12)),   # chunk 10 + tail (start 9: tokens 9..12)
            (3, words(3)),    # single short chunk
            (4, "   "),       # no tokens → no chunks
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_tokens=10, overlap=2)
    got = {(r["doc_id"], r["chunk_id"]): (r["n_chunk_tokens"], r["chunk_text"])
           for r in out.collect()}
    assert got[(1, 0)][0] == 10 and (1, 1) not in got
    assert got[(2, 0)][0] == 10
    assert got[(2, 1)] == (4, "w8 w9 w10 w11")  # overlap 2 + 2 new
    assert got[(3, 0)] == (3, "w0 w1 w2")
    assert not any(d == 4 for d, _ in got)
    # every token of doc 2 appears in some chunk (coverage invariant)
    covered = set()
    for (d, _), (_, txt) in got.items():
        if d == 2:
            covered |= set(txt.split())
    assert covered == set(words(12).split())


def test_redact_pii_known_cases(spark):
    from slow_tortoise_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="reach me at jane.doe+x@corp.io or 555-123-4567"),
            Row(doc_id=2, text="server 192.168.1.10 and 10.0.0.1 are down"),
            Row(doc_id=3, text="nothing sensitive here"),
        ]
    )
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert got[1]["n_email"] == 1 and got[1]["n_phone"] == 1
    assert got[1]["redacted"] == "reach me at <EMAIL> or <PHONE>"
    assert got[2]["n_ipv4"] == 2 and got[2]["redacted"].count("<IP>") == 2
    assert got[3]["redacted"] == got[3]["text"]
    assert got[3]["n_email"] == got[3]["n_phone"] == got[3]["n_ipv4"] == 0


def test_unigram_logprob_ranks_rare_vocab_lower(spark):
    """A doc of corpus-common tokens must outscore a doc of hapaxes, and
    each mean must equal the hand-computed ln(count/total) average."""
    import math

    from slow_tortoise_spark.operators.text import unigram_logprob

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat sat"),
            Row(doc_id=2, text="the the the"),
            Row(doc_id=3, text="zyx qwv"),
        ]
    )
    got = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    total = 8  # 3 + 3 + 2 tokens
    counts = {"the": 4, "cat": 1, "sat": 1, "zyx": 1, "qwv": 1}
    for doc, toks in {1: ["the", "cat", "sat"], 2: ["the"] * 3,
                      3: ["zyx", "qwv"]}.items():
        want = sum(math.log(counts[t] / total) for t in toks) / len(toks)
        assert got[doc]["mean_logprob"] == pytest.approx(want, abs=1e-12)
        assert got[doc]["n_tokens"] == len(toks)
    assert got[2]["mean_logprob"] > got[1]["mean_logprob"] > got[3]["mean_logprob"]


def test_simhash_band_cardinality_scales():
    """The 64-bit default must band into ≥2^16-value buckets (the scale
    property 16-bit banding lacks — VERDICT r2 'what's wrong' #1)."""
    from slow_tortoise_spark.operators.dedup import simhash_band_widths

    assert simhash_band_widths(64, 2) == [22, 21, 21]
    assert all(w >= 16 for w in simhash_band_widths(64, 3))
    # the verifier width really is too narrow — documents the demotion
    assert all(w <= 6 for w in simhash_band_widths(16, 2))


def test_temperature_mix_plan_and_sampling(spark, sf_dir):
    """alpha=1 reproduces natural proportions; alpha=0.5 flattens the mix
    toward uniform; an over-budget run keeps everything; sampling is
    deterministic across partitionings."""
    from slow_tortoise_spark.operators.dedup import (
        temperature_mix,
        temperature_mix_plan,
    )
    from slow_tortoise_spark.sources.reader import read_table

    docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    total = docs.agg(F.sum("n_chars")).first()[0]

    # budget >= total mass: every fraction clips to 1.0, all rows kept
    plan_all = temperature_mix_plan(
        docs, "source", alpha=0.5, budget=float(total * 2),
        weight_col="n_chars",
    )
    assert all(frac == 1.0 for _, frac in plan_all.values())
    assert temperature_mix(
        docs, "source", alpha=0.5, budget=float(total * 2),
        weight_col="n_chars",
    ).count() == docs.count()

    # alpha=1: share_i = m_i / total, so fraction = budget/total for all
    plan_nat = temperature_mix_plan(
        docs, "source", alpha=1.0, budget=total / 2, weight_col="n_chars"
    )
    fracs = [frac for _, frac in plan_nat.values()]
    assert all(abs(f - 0.5) < 1e-6 for f in fracs)

    # alpha=0.5 upweights light strata: fraction decreases with mass
    plan_sqrt = temperature_mix_plan(
        docs, "source", alpha=0.5, budget=total / 2, weight_col="n_chars"
    )
    by_mass = sorted(plan_sqrt.values())
    assert by_mass[0][1] > by_mass[-1][1]  # lightest keeps a larger share

    # deterministic under repartitioning
    out = {r["doc_id"] for r in temperature_mix(
        docs, "source", 0.5, total / 2, "n_chars").collect()}
    again = {r["doc_id"] for r in temperature_mix(
        docs.repartition(13), "source", 0.5, total / 2, "n_chars").collect()}
    assert out == again and 0 < len(out) < docs.count()


def test_semantic_dedup_single_cell_equals_exact(spark, sf_dir):
    """n_cells=1 buckets everything together, so the cluster tier must
    equal the exact all-pairs tier; with more cells its pairs are a
    subset (cross-cell pairs are the documented recall loss)."""
    from slow_tortoise_spark.operators.similarity import (
        semantic_dedup_pairs,
    )
    from slow_tortoise_spark.sources.reader import read_table

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    exact = {(r["id_a"], r["id_b"]) for r in
             embedding_near_duplicates(emb, threshold=0.3).collect()}
    one_cell = {(r["id_a"], r["id_b"]) for r in
                semantic_dedup_pairs(emb, n_cells=1, threshold=0.3).collect()}
    assert one_cell == exact and len(exact) > 0
    bucketed = {(r["id_a"], r["id_b"]) for r in
                semantic_dedup_pairs(emb, n_cells=4, threshold=0.3).collect()}
    assert bucketed <= exact


def test_semantic_dedup_drop_removes_planted_dups(spark, sf_dir):
    """Planted near-copies land in their original's cell and are dropped;
    originals (the lower ids) survive."""
    from slow_tortoise_spark.operators.similarity import (
        semantic_dedup_drop,
        semantic_dedup_pairs,
    )
    from slow_tortoise_spark.sources.reader import read_table

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet").limit(100)
    base = max(r["vec_id"] for r in emb.select("vec_id").collect()) + 1
    planted = emb.filter("vec_id < 5").select(
        (F.col("vec_id") + base).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.000001)).alias(
            "embedding"
        ),
        "label",
    )
    corpus = emb.unionByName(planted)
    kept = {r["vec_id"] for r in
            semantic_dedup_drop(corpus, n_cells=4, threshold=0.999).collect()}
    assert {0, 1, 2, 3, 4} <= kept
    assert kept.isdisjoint({base + i for i in range(5)})
    pairs = semantic_dedup_pairs(corpus, n_cells=4, threshold=0.999).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {
        (i, base + i) for i in range(5)
    }


def test_semantic_dedup_auto_cells_scale_with_corpus(spark, sf_dir):
    """n_cells=None pins the expected CELL SIZE, not the cell count:
    ceil(n / target_cell_rows) cells, so Σ|cell|² grows linearly with
    the corpus instead of quadratically (the sf1 probe measured 100×
    candidate growth at a fixed count).  Auto mode must equal the
    explicit call with the same derived count."""
    from slow_tortoise_spark.operators.similarity import (
        semantic_dedup_pairs,
    )
    from slow_tortoise_spark.sources.reader import read_table

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    derived = -(-n // 100)
    assert derived > 1  # the fixture must actually exercise multi-cell
    auto = {(r["id_a"], r["id_b"]) for r in semantic_dedup_pairs(
        emb, n_cells=None, threshold=0.3, target_cell_rows=100).collect()}
    explicit = {(r["id_a"], r["id_b"]) for r in semantic_dedup_pairs(
        emb, n_cells=derived, threshold=0.3).collect()}
    assert auto == explicit
    # a 3× corpus at the same target_cell_rows derives 3× the cells
    tripled = emb.unionByName(
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000))
    ).unionByName(
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(2_000_000))
    )
    assert -(-tripled.count() // 100) == 3 * derived


def test_semantic_dedup_join_is_equi_not_all_pairs(spark, sf_dir):
    """The candidate join must be a hash/merge equi-join on the cell id —
    never a nested-loop over all vector pairs."""
    from slow_tortoise_spark.operators.similarity import semantic_dedup_pairs
    from slow_tortoise_spark.sources.reader import read_table

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    plan = semantic_dedup_pairs(emb, n_cells=4, threshold=0.3)._jdf \
        .queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_blas_prune_parity_and_plan(spark, sf_dir):
    """The BLAS candidate prune (threshold / prune_below set) must be
    invisible in the OUTPUT: pairs AND exact cosines bit-identical to
    the unpruned tier, across thresholds.  The pruned plan carries the
    grouped Arrow stage; the unpruned plan must not."""
    from slow_tortoise_spark.operators.similarity import (
        lsh_near_duplicates,
        semantic_dedup_pairs,
    )
    from slow_tortoise_spark.queries.training import _hyperplanes
    from slow_tortoise_spark.sources.reader import read_table

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    for t in (0.3, 0.35, 0.95):
        pruned = {(r["id_a"], r["id_b"], r["cell"], r["cosine"]) for r in
                  semantic_dedup_pairs(emb, n_cells=4, threshold=t).collect()}
        full = {(r["id_a"], r["id_b"], r["cell"], r["cosine"]) for r in
                semantic_dedup_pairs(emb, n_cells=4, threshold=None).collect()
                if r["cosine"] >= t}
        assert pruned == full
    assert len(full) == 0  # t=0.95 finds nothing on this fixture
    planes = _hyperplanes(8)
    pruned = {(r["id_a"], r["id_b"], r["cosine"]) for r in
              lsh_near_duplicates(emb, planes, bands=4, threshold=None,
                                  prune_below=0.3999).collect()
              if r["cosine"] >= 0.4}
    full = {(r["id_a"], r["id_b"], r["cosine"]) for r in
            lsh_near_duplicates(emb, planes, bands=4,
                                threshold=None).collect()
            if r["cosine"] >= 0.4}
    assert pruned == full and len(full) > 0
    plan_pruned = semantic_dedup_pairs(emb, n_cells=4, threshold=0.3)._jdf \
        .queryExecution().executedPlan().toString()
    plan_full = semantic_dedup_pairs(emb, n_cells=4, threshold=None)._jdf \
        .queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan_pruned
    assert "FlatMapGroupsInPandas" not in plan_full


def test_blas_prune_boundary_and_nonfinite_rows(spark):
    """Admit-only soundness at the edges: a pair sitting EXACTLY on the
    threshold (cos = 15/25 = 0.6) survives the prune; a non-finite
    vector — whose exact cosine is NaN, which Spark's ``>= t`` treats
    as greatest — is admitted to the exact rescore, never silently
    pruned (numpy comparisons would drop it).  Zero-norm vectors crash
    the pre-existing ANSI assignment division identically on both
    paths, so they are out of scope here."""
    import math

    from pyspark.sql import Row

    from slow_tortoise_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    dim = 8
    pad = [0.0] * (dim - 2)

    def v(x, y):
        return [float(x), float(y)] + pad

    rows = [
        Row(vec_id=1, embedding=v(3.0, 4.0)),    # cos(1,2) = 15/25 = 0.6
        Row(vec_id=2, embedding=v(5.0, 0.0)),
        Row(vec_id=3, embedding=v(1.0, 0.0)),    # cos(2,3) = 1.0
        Row(vec_id=5, embedding=v(float("nan"), 1.0)),  # NaN component
    ]
    df = spark.createDataFrame(rows)
    for t in (0.6, 0.95):
        pruned = {(r["id_a"], r["id_b"]) for r in
                  semantic_dedup_pairs(df, n_cells=1, threshold=t).collect()}
        full_rows = semantic_dedup_pairs(df, n_cells=1,
                                         threshold=None).collect()
        # Spark semantics: NaN >= t is TRUE, so NaN pairs are in BOTH
        full = {(r["id_a"], r["id_b"]) for r in full_rows
                if r["cosine"] >= t or math.isnan(r["cosine"])}
        assert pruned == full
        nan_pairs = {(r["id_a"], r["id_b"]) for r in full_rows
                     if math.isnan(r["cosine"])}
        assert {(1, 5), (2, 5), (3, 5)} == nan_pairs
        assert nan_pairs <= pruned
    exact_boundary = {(r["id_a"], r["id_b"]) for r in
                      semantic_dedup_pairs(df, n_cells=1,
                                           threshold=0.6).collect()}
    assert (1, 2) in exact_boundary


def test_dup_ngram_stats_known_case(spark):
    """Shared trigrams count as duplicated; unique docs score 0; docs
    shorter than n still surface with zero counts."""
    from slow_tortoise_spark.operators.dedup import dup_ngram_stats

    rows = [
        Row(doc_id=0, text="a b c d e"),
        Row(doc_id=1, text="a b c d e"),        # exact copy: all dup
        Row(doc_id=2, text="x y z w q"),        # unique: none dup
        Row(doc_id=3, text="a b"),              # shorter than n: zeros
    ]
    out = {r["doc_id"]: r for r in
           dup_ngram_stats(spark.createDataFrame(rows), n=3).collect()}
    assert len(out) == 4
    assert out[0]["n_shingles"] == 3 and out[0]["n_dup"] == 3
    assert out[1]["dup_frac"] == 1.0
    assert out[2]["n_shingles"] == 3 and out[2]["n_dup"] == 0
    assert out[3]["n_shingles"] == 0 and out[3]["dup_frac"] == 0.0


def test_bpe_pair_counts_known_case(spark):
    """Counts weight token occurrences; window slides within tokens only
    (no cross-token pairs); deterministic tie order."""
    from slow_tortoise_spark.operators.text import bpe_pair_counts

    rows = [
        Row(doc_id=0, text="aaa bb"),
        Row(doc_id=1, text="aaa"),
        Row(doc_id=2, text="x"),  # single char: no pair
    ]
    out = [(r["pair"], r["cnt"]) for r in
           bpe_pair_counts(spark.createDataFrame(rows), top_k=10).collect()]
    # 'aaa' twice -> 'aa' 4x; 'bb' once -> 'bb' 1x; no 'ab' across tokens
    assert out == [("aa", 4), ("bb", 1)]


def test_assemble_sequences_order_truncation_determinism(spark):
    """Sequences come out in (ts, tiebreak) order regardless of input or
    partition order; max_len truncates the output but seq_len keeps the
    true count."""
    from datetime import datetime
    from slow_tortoise_spark.operators.timejoin import assemble_sequences

    rows = [
        Row(event_id=2, ts=datetime(2024, 1, 1, 0, 0, 2), user_id=1,
            event_type="c"),
        Row(event_id=0, ts=datetime(2024, 1, 1, 0, 0, 0), user_id=1,
            event_type="a"),
        Row(event_id=1, ts=datetime(2024, 1, 1, 0, 0, 0), user_id=1,
            event_type="b"),  # same ts as event 0: event_id breaks tie
        Row(event_id=3, ts=datetime(2024, 1, 1), user_id=2, event_type="z"),
    ]
    ev = spark.createDataFrame(rows)
    out = {r["user_id"]: r for r in assemble_sequences(ev, max_len=2).collect()}
    assert out[1]["seq"] == "a,b" and out[1]["seq_len"] == 3
    assert out[2]["seq"] == "z" and out[2]["seq_len"] == 1
    again = {r["user_id"]: r["seq"] for r in
             assemble_sequences(ev.repartition(7), max_len=2).collect()}
    assert again == {u: r["seq"] for u, r in out.items()}


def test_incremental_dedup_tiers(spark):
    """Exact copies drop on the fingerprint, near copies on signature
    agreement, fresh docs survive; cost never touches corpus text at
    probe time (the index alone answers)."""
    from slow_tortoise_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup,
    )

    corpus = spark.createDataFrame([
        Row(doc_id=0, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=1, text="pack my box with five dozen liquor jugs now"),
        Row(doc_id=2, text="sphinx of black quartz judge my vow today ok"),
    ])
    index = build_dedup_index(corpus, k=8, bands=4)
    new = spark.createDataFrame([
        # exact copy of 0 (formatting-only edit: fingerprint normalizes)
        Row(doc_id=10, text="  The quick  brown fox jumps over the lazy dog"),
        # near copy of 1 (one appended token)
        Row(doc_id=11, text="pack my box with five dozen liquor jugs now zz"),
        # fresh
        Row(doc_id=12, text="completely novel content with no prior match"),
        # short doc (no shingles): must pass through, not skew-bucket
        Row(doc_id=13, text="tiny doc"),
    ])
    kept = {r["doc_id"] for r in
            incremental_dedup(new, index, threshold=0.5, k=8, bands=4)
            .collect()}
    assert kept == {12, 13}


def test_build_dedup_index_short_doc_empty_buckets(spark):
    """Docs below the shingle width get an EMPTY bucket list (a shared
    md5('') bucket would turn the probe join into a skew bomb)."""
    from slow_tortoise_spark.operators.dedup import build_dedup_index

    idx = {r["doc_id"]: r for r in build_dedup_index(spark.createDataFrame([
        Row(doc_id=0, text="one two"),
        Row(doc_id=1, text="one two three four five six seven"),
    ]), k=8, bands=4).collect()}
    assert idx[0]["buckets"] == [] and idx[0]["mh0"] is None
    assert len(idx[1]["buckets"]) == 4


def test_webdataset_shards_roundtrip_and_determinism(spark, sf_dir, tmp_path):
    """Every sample survives the tar round-trip with its text and
    metadata; shard membership is key DIV shard_size; bytes are
    identical across runs and partitionings."""
    import io
    import json
    import tarfile

    from slow_tortoise_spark.sinks.writers import (
        FileWriter,
        write_webdataset_shards,
    )
    from slow_tortoise_spark.sources.reader import read_table

    docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    root = tmp_path / "wds"
    n = write_webdataset_shards(
        docs, lambda s: f"webdataset/shard-{s:06d}.tar", FileWriter(str(root)),
        meta_cols=["lang", "source"], shard_size=16,
    )
    assert n == docs.count()
    manifest = json.loads((root / "webdataset" / "manifest.json").read_text())
    assert sum(manifest.values()) == n
    expect = {r["doc_id"]: r for r in docs.collect()}
    seen = {}
    for rel in manifest:
        with tarfile.open(root / rel) as tar:
            members = tar.getnames()
            texts = [m for m in members if m.endswith(".txt")]
            for name in texts:
                key = int(name[:-4])
                assert key // 16 == int(rel.split("-")[1].split(".")[0])
                seen[key] = (
                    tar.extractfile(name).read().decode(),
                    json.loads(tar.extractfile(name[:-4] + ".json").read()),
                )
    assert set(seen) == set(expect)
    for k, (text, meta) in seen.items():
        assert text == expect[k]["text"]
        assert meta == {"lang": expect[k]["lang"],
                        "source": expect[k]["source"]}
    # byte determinism across a different input partitioning
    root2 = tmp_path / "wds2"
    write_webdataset_shards(
        docs.repartition(7), lambda s: f"webdataset/shard-{s:06d}.tar",
        FileWriter(str(root2)), meta_cols=["lang", "source"], shard_size=16,
    )
    for rel in manifest:
        assert (root / rel).read_bytes() == (root2 / rel).read_bytes()


def test_bigram_logprob_known_case(spark):
    """MLE conditionals: c(a,b)=2, c(a,c)=1 -> p(b|a)=2/3, p(c|a)=1/3;
    sub-2-token docs surface with zeros."""
    import math

    from slow_tortoise_spark.operators.text import bigram_logprob

    rows = [
        Row(doc_id=0, text="a b"),
        Row(doc_id=1, text="a b"),
        Row(doc_id=2, text="a c"),
        Row(doc_id=3, text="solo"),
    ]
    out = {r["doc_id"]: r for r in
           bigram_logprob(spark.createDataFrame(rows)).collect()}
    assert abs(out[0]["mean_logprob"] - math.log(2 / 3)) < 1e-12
    assert abs(out[2]["mean_logprob"] - math.log(1 / 3)) < 1e-12
    assert out[3]["mean_logprob"] == 0.0 and out[3]["n_bigrams"] == 0
    # bigram ranking separates coherent text from shuffled boilerplate:
    # doc 0's path is the majority continuation, doc 2's the minority
    assert out[0]["mean_logprob"] > out[2]["mean_logprob"]


def test_stratified_sample_and_mix_null_stratum(spark):
    """A NULL stratum is a real stratum: it follows fractions[None] (or
    the default), and temperature_mix neither crashes on NULL masses nor
    silently drops null-source rows while charging their mass."""
    from slow_tortoise_spark.operators.dedup import (
        stratified_sample,
        temperature_mix,
        temperature_mix_plan,
    )

    rows = ([Row(doc_id=i, source="a", w=10) for i in range(40)]
            + [Row(doc_id=100 + i, source=None, w=10) for i in range(40)])
    df = spark.createDataFrame(rows)

    kept = stratified_sample(df, "source", {"a": 1.0, None: 1.0})
    assert kept.count() == 80  # null stratum kept, not silently dropped
    none_only = stratified_sample(df, "source", {"a": 0.0},
                                  default_fraction=1.0)
    assert {r["source"] for r in none_only.collect()} == {None}

    plan = temperature_mix_plan(df, "source", alpha=0.5, budget=80.0)
    assert set(plan) == {"a", None} and plan[None][1] == 1.0
    mixed = temperature_mix(df, "source", alpha=0.5, budget=80.0)
    assert mixed.count() == 80

    # all-NULL weight mass: zero-mass stratum, no TypeError
    df2 = spark.createDataFrame(
        [Row(doc_id=0, source="a", w=5), Row(doc_id=1, source="b", w=None)]
    )
    plan2 = temperature_mix_plan(df2, "source", 0.5, 100.0, weight_col="w")
    assert plan2["b"] == (0, 0.0) and plan2["a"][1] == 1.0


def test_unigram_logprob_under_oov_floor(spark):
    """OOV tokens take the add-one floor; in-vocab tokens score by
    reference counts; all-OOV docs rank lowest."""
    import math

    from slow_tortoise_spark.operators.text import unigram_logprob_under

    ref = spark.createDataFrame([
        Row(doc_id=0, text="a a a b"),   # N=4, V=2 -> denom=7
    ])
    tgt = spark.createDataFrame([
        Row(doc_id=10, text="a"),        # ln(4/7)
        Row(doc_id=11, text="zzz"),      # OOV: ln(1/7)
        Row(doc_id=12, text="a zzz"),
    ])
    out = {r["doc_id"]: r for r in unigram_logprob_under(tgt, ref).collect()}
    assert abs(out[10]["mean_logprob"] - math.log(4 / 7)) < 1e-12
    assert abs(out[11]["mean_logprob"] - math.log(1 / 7)) < 1e-12
    assert out[11]["n_oov"] == 1 and out[10]["n_oov"] == 0
    assert out[12]["n_oov"] == 1 and out[12]["n_tokens"] == 2
    assert out[10]["mean_logprob"] > out[12]["mean_logprob"] \
        > out[11]["mean_logprob"]


def test_connected_components_star_algorithm_parity(spark):
    """large-star/small-star returns the same (doc_id, component) map as
    min-label propagation on mixed chain/star/isolated-pair graphs, and
    converges on a 33-node chain within a log-scale iteration budget
    where label propagation needs O(n) rounds."""
    import random

    from slow_tortoise_spark.operators.dedup import connected_components

    random.seed(7)
    edges = [(1, 2), (2, 3), (5, 6), (10, 30), (20, 30)]
    # random extra clusters
    for base in (100, 200, 300):
        ids = [base + i for i in range(8)]
        for _ in range(10):
            a, b = random.sample(ids, 2)
            edges.append((a, b))
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want = {r["doc_id"]: r["component"]
            for r in connected_components(pairs).collect()}
    got = {r["doc_id"]: r["component"]
           for r in connected_components(pairs, algorithm="star").collect()}
    assert got == want

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(32)], "doc_a long, doc_b long"
    )
    # label_prop would need ~32 rounds; star must finish in far fewer
    comp = {r["doc_id"]: r["component"]
            for r in connected_components(
                chain, algorithm="star", max_iters=8).collect()}
    assert set(comp) == set(range(33))
    assert set(comp.values()) == {0}


def test_image_decode_import_gate_and_real_backend_shape():
    """The imaging backend is import-gated: absent PIL the stub runs (sha
    = content hash), and the real path — exercised here through a fake
    backend — emits the same sha plus a 16-bin normalized histogram, so
    swapping environments never changes join keys or feature shape."""
    import hashlib

    from slow_tortoise_spark.operators.multimodal import (
        _decode_image_real,
        _decode_image_stub,
        _imaging,
    )

    content = b"not an image"
    stub = _decode_image_stub(content)
    assert stub["sha"] == hashlib.sha256(content).hexdigest()[:16]
    assert len(stub["features"]) == 16

    class _FakeImg:
        def convert(self, mode):
            assert mode == "L"
            return self

        def histogram(self):
            return [1] * 256

    class _FakeImageMod:
        @staticmethod
        def open(buf):
            return _FakeImg()

    real = _decode_image_real(_FakeImageMod, content)
    assert real["sha"] == stub["sha"]  # identity key is backend-invariant
    assert len(real["features"]) == 16
    assert abs(sum(real["features"]) - 1.0) < 1e-9

    backend = _imaging()  # env probe: PIL or None, never an exception
    assert backend is None or hasattr(backend, "open")


def test_dedup_lines_boilerplate_removal(spark):
    """Line-level dedup: lines shared by ≥2 docs (normalized) drop from
    every doc, order and blank separators survive, all-boilerplate docs
    surface with empty text, and short lines are exempt from counting."""
    from slow_tortoise_spark.operators.dedup import dedup_lines

    cookie = "Accept cookies to continue"
    docs = spark.createDataFrame(
        [
            (1, f"{cookie}\nreal content one\n\nmore body text"),
            (2, f"  {cookie.upper()}  \nreal content two"),  # ws+case normed
            (3, cookie),  # nothing but boilerplate
            (4, "a\nsolo document line"),  # 'a' short but min_len=1 counts it
            (5, "a\nanother solo"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_lines(docs, min_docs=2).collect()}
    assert out[1]["text"] == "real content one\n\nmore body text"
    assert out[1]["n_lines"] == 4 and out[1]["n_dropped"] == 1
    assert out[2]["text"] == "real content two"
    assert out[3]["text"] == "" and out[3]["n_dropped"] == 1
    # 'a' appears in two docs → dropped under min_len=1
    assert out[4]["text"] == "solo document line"

    # with min_len above 1-char lines, 'a' is exempt and survives
    out2 = {r["doc_id"]: r
            for r in dedup_lines(docs, min_len=2, min_docs=2).collect()}
    assert out2[4]["text"] == "a\nsolo document line"
    assert out2[4]["n_dropped"] == 0


def test_url_domain_ops(spark):
    """URL extraction handles delimiters/case, domain stats count
    occurrences vs distinct docs separately, and blocklist filtering
    drops citing docs whole (case-insensitive on both sides)."""
    from slow_tortoise_spark.operators.text import (
        domain_counts,
        extract_urls,
        filter_blocklisted_domains,
    )

    docs = spark.createDataFrame(
        [
            (1, "see https://A.Example.COM/x and (http://b.example.org/y)"),
            (2, "dup https://a.example.com/1 https://a.example.com/2"),
            (3, "plain text, no links"),
            (4, "bad stuff http://SPAM.example.net/z?q=1"),
        ],
        "doc_id long, text string",
    )
    urls = {(r["doc_id"], r["domain"]) for r in extract_urls(docs).collect()}
    assert (1, "a.example.com") in urls
    assert (1, "b.example.org") in urls  # trailing ')' not swallowed
    assert (4, "spam.example.net") in urls

    dc = {r["domain"]: (r["n_urls"], r["n_docs"])
          for r in domain_counts(docs).collect()}
    assert dc["a.example.com"] == (3, 2)  # 3 occurrences across 2 docs
    assert dc["b.example.org"] == (1, 1)

    block = spark.createDataFrame([("Spam.Example.Net",)], "domain string")
    kept = {r["doc_id"]
            for r in filter_blocklisted_domains(docs, block).collect()}
    assert kept == {1, 2, 3}


def test_verify_pairs_edit_distance(spark):
    """Pairwise Levenshtein verification: identical texts score 0,
    small mutations pass the ratio gate, rewrites fail it, and only
    listed pairs are scored (no doc×doc blowup)."""
    from slow_tortoise_spark.operators.dedup import verify_pairs_edit_distance

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog!"),
            (3, "a completely different sentence about ships"),
            (4, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "doc_a long, doc_b long"
    )
    out = {(r["doc_a"], r["doc_b"]): r
           for r in verify_pairs_edit_distance(docs, pairs,
                                               max_ratio=0.2).collect()}
    assert (1, 4) in out and out[(1, 4)]["edit_distance"] == 0
    assert (1, 2) in out and out[(1, 2)]["edit_distance"] == 1
    assert (1, 3) not in out  # rewrite: ratio far above 0.2
    assert out[(1, 2)]["edit_ratio"] == 1 / 44


def test_cap_per_group_determinism_and_cap(spark):
    """Per-group cap keeps exactly min(cap, |group|) rows, identically
    across repeated runs (keyed-hash rank), and treats NULL as a group."""
    from slow_tortoise_spark.operators.dedup import cap_per_group

    rows = [(i, "big") for i in range(20)]
    rows += [(100 + i, "small") for i in range(3)]
    rows += [(200 + i, None) for i in range(7)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")

    out1 = {(r["doc_id"], r["source"])
            for r in cap_per_group(docs, "source", cap=5).collect()}
    out2 = {(r["doc_id"], r["source"])
            for r in cap_per_group(docs, "source", cap=5).collect()}
    assert out1 == out2  # deterministic
    by_group = {}
    for _, s in out1:
        by_group[s] = by_group.get(s, 0) + 1
    assert by_group == {"big": 5, "small": 3, None: 5}

    # a different salt picks a different (still deterministic) survivor set
    out3 = {(r["doc_id"], r["source"])
            for r in cap_per_group(docs, "source", cap=5,
                                   salt="other").collect()}
    assert out3 != out1


def test_cap_per_group_two_phase_parity_and_pruning(spark):
    """The hot-group scale path (hot_threshold) returns the IDENTICAL
    survivor set as the plain window path, while the exact window only
    ever sorts ~cap-sized candidate groups — the hot group must be
    pruned from |group| rows down to within the Chernoff bound — and
    the per-group cutoff ships as a broadcast join."""
    import math

    from pyspark.sql import functions as F

    from slow_tortoise_spark.operators.dedup import (
        _cap_candidates,
        cap_per_group,
    )

    df = spark.range(20000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 17000, F.lit("hot"))
        .when(F.col("id") < 18500, F.lit(None).cast("string"))
        .otherwise((F.col("id") % 5).cast("string"))
        .alias("source"),
    )
    cap, thresh = 50, 2000
    plain = {tuple(r) for r in cap_per_group(df, "source", cap).collect()}
    two = cap_per_group(df, "source", cap, hot_threshold=thresh)
    assert {tuple(r) for r in two.collect()} == plain

    # pruning: the hot group's candidate set is O(cap), not O(|group|);
    # groups at/under the threshold are untouched (superset-lossless).
    cand = _cap_candidates(df, "source", cap, "doc_id", "cap", thresh)
    per = {r["source"]: r["c"]
           for r in cand.groupBy("source").agg(
               F.count("*").alias("c")).collect()}
    margin = 16.0 * math.sqrt(cap + 64.0) + 64.0
    assert per["hot"] <= cap + 2 * margin          # pruned hard
    assert per["hot"] >= cap                       # but lossless
    assert per[None] == 1500                       # under threshold: intact
    plan = two._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan             # cutoffs broadcast


def test_dedup_lines_paragraph_mode(spark):
    """sep='\\n\\n' switches the dedup unit to paragraphs: a shared
    paragraph (with internal newlines) drops whole, and rebuild joins
    with the same separator."""
    from slow_tortoise_spark.operators.dedup import dedup_lines

    boiler = "terms apply\nsee site for details"
    docs = spark.createDataFrame(
        [
            (1, f"{boiler}\n\nunique paragraph one\nwith two lines"),
            (2, f"{boiler}\n\nunique paragraph two"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r
           for r in dedup_lines(docs, min_docs=2, sep="\n\n").collect()}
    assert out[1]["text"] == "unique paragraph one\nwith two lines"
    assert out[2]["text"] == "unique paragraph two"
    assert out[1]["n_lines"] == 2 and out[1]["n_dropped"] == 1


def test_bpe_train_greedy_semantics_and_vocab(spark):
    """Hand-checked BPE on a tiny corpus: merges must follow the greedy
    textbook order (occurrence-weighted, ties by pair), and immediately
    repeated pairs must ALL merge in one round — the double-space
    replace contract in bpe_word_freq."""
    from slow_tortoise_spark.operators.text import (
        bpe_segmented_vocab,
        bpe_train,
    )

    # "ababab" stresses consecutive-repeat merging; weights via repeats.
    docs = spark.createDataFrame(
        [(1, "ababab ababab abc"), (2, "ababab abc abc")],
        "doc_id long, text string",
    )
    merges = [tuple(r) for r in bpe_train(docs, num_merges=3).collect()]
    # round 1: pairs ab=3*3(in ababab)+1*3(abc)=12, ba=2*3=6, bc=3 → (a,b)
    assert merges[0] == (1, "a", "b", 12)
    # round 2 state: ababab→[ab,ab,ab] (ALL three pairs merged at once),
    # abc→[ab,c]; pairs: (ab,ab)=2*3=6, (ab,c)=3 → (ab,ab)
    assert merges[1] == (2, "ab", "ab", 6)
    # round 3: ababab→[abab,ab]; (abab,ab)=3 vs (ab,c)=3 — tie breaks
    # lexicographically: ("ab","c") < ("abab","ab")
    assert merges[2] == (3, "ab", "c", 3)

    vocab = {r["pieces"]: r["wc"]
             for r in bpe_segmented_vocab(docs, num_merges=3).collect()}
    assert vocab == {"abab ab": 3, "abc": 3}


def test_remove_duplicate_spans_golden(spark):
    """Hand-derived span removal: the duplicated 4-gram 'a b c d'
    (3 occurrences across docs 1/2/4, one doc twice) covers exactly the
    tokens under its windows; everything else survives in order."""
    from slow_tortoise_spark.operators.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),
            (2, "x y a b c d z"),
            (3, "short one"),
            (4, "a b c d q r s a b c d"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r
           for r in remove_duplicate_spans(docs, n=4).collect()}
    assert out[1]["clean_text"] == "e f g"
    assert out[2]["clean_text"] == "x y z"
    # shorter than n: no windows, passes through (lowercase rejoin)
    assert out[3]["clean_text"] == "short one"
    assert out[3]["n_removed"] == 0
    # both in-doc occurrences removed — in-doc repeats count as dups
    assert out[4]["clean_text"] == "q r s"
    assert out[4]["n_tokens"] == 11 and out[4]["n_removed"] == 8


def test_remove_duplicate_spans_overlapping_windows(spark):
    """Overlapping duplicated windows union their coverage (no
    double-count), and a doc that is ALL duplicate rebuilds to ''."""
    from slow_tortoise_spark.operators.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [(1, "p q r s t u"), (2, "p q r s t x"), (3, "q r s t u y")],
        "doc_id long, text string",
    )
    # dup 4-grams: 'p q r s' (docs 1,2), 'q r s t' (1,2,3), 'r s t u'
    # (1,3) → doc 1 fully covered.
    out = {r["doc_id"]: r
           for r in remove_duplicate_spans(docs, n=4).collect()}
    assert out[1]["clean_text"] == "" and out[1]["n_removed"] == 6
    assert out[2]["clean_text"] == "x"
    assert out[3]["clean_text"] == "y"


def test_winnow_fingerprints_guarantee(spark):
    """The winnowing guarantee: docs sharing a substring of at least
    w + k - 1 tokens share at least one fingerprint; selection is the
    per-window min hash with rightmost tie-break, so the set is a
    proper subset of all grams."""
    from slow_tortoise_spark.operators.text import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"  # 9 tokens
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma delta"),
            (2, f"one two three {shared} four"),
            (3, "completely different text with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r
            for r in winnow_fingerprints(docs, k=5, w=4).collect()}
    fp = {d: {s["h"] for s in rows[d]["fingerprints"]} for d in rows}
    assert fp[1] & fp[2], "9-token shared run (w+k-1=8) must collide"
    assert not (fp[1] & fp[3]) and not (fp[2] & fp[3])
    for d in (1, 2, 3):
        assert 0 < len(rows[d]["fingerprints"]) < rows[d]["n_grams"]
    # doc shorter than w grams -> no full window -> no fingerprints
    tiny = spark.createDataFrame(
        [(9, "just five tokens right here")], "doc_id long, text string"
    )
    t = winnow_fingerprints(tiny, k=5, w=4).collect()[0]
    assert t["n_grams"] == 0 or t["n_grams"] < 4
    assert t["fingerprints"] == []


def test_gramian_parity_and_pca_matches_numpy(spark):
    """The explode and pandas gramians agree to 1e-6; pca_fit matches a
    straight numpy eigendecomposition of the covariance (components up
    to the deterministic sign convention), and pca_project reproduces
    X @ W in-row."""
    import numpy as np

    from slow_tortoise_spark.operators.similarity import (
        embedding_gramian,
        pca_fit,
        pca_project,
    )

    rng = np.random.default_rng(7)
    X = rng.normal(size=(80, 6)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    g1 = {(r["i"], r["j"]): r["g"]
          for r in embedding_gramian(df, method="explode").collect()}
    g2 = {(r["i"], r["j"]): r["g"]
          for r in embedding_gramian(df, method="pandas").collect()}
    assert g1.keys() == g2.keys() and len(g1) == 36
    assert all(abs(g1[k] - g2[k]) < 1e-6 for k in g1)
    Xd = X.astype(np.float64)
    G = Xd.T @ Xd
    assert all(abs(g1[(i, j)] - G[i, j]) < 1e-6
               for i in range(6) for j in range(6))

    comps, var = pca_fit(df, k=3, method="pandas")
    cov = np.cov(Xd.T, bias=True)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:3]
    assert np.allclose(sorted(var, reverse=True), vals[order], atol=1e-6)
    for c, idx in zip(comps, order):
        expect = vecs[:, idx]
        if expect[np.argmax(np.abs(expect))] < 0:
            expect = -expect
        assert np.allclose(c, expect, atol=1e-6)

    W = np.array(comps).T  # d x k
    rows = pca_project(df, comps).orderBy("vec_id").collect()
    proj = np.array([r["pca"] for r in rows])
    assert np.allclose(proj, Xd @ W, atol=1e-5)


def test_bloom_contamination_superset_of_exact(spark):
    """Bloom membership has NO false negatives: per test doc the bloom
    hit count is >= the exact contamination hit count, and with the
    1 MiB geometry at toy scale it should be exactly equal."""
    from slow_tortoise_spark.operators.dedup import (
        bloom_contamination,
        cross_corpus_contamination,
    )

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (1, "alpha beta gamma delta epsilon other stuff"),
            (3, "totally unrelated words nowhere in train corpus"),
        ],
        "doc_id long, text string",
    )
    train = docs.filter("doc_id % 2 = 0")
    test = docs.filter("doc_id % 2 = 1")
    bloom = {r["doc_id"]: r
             for r in bloom_contamination(train, test, n=5).collect()}
    exact = {r["doc_id"]: r["n_hits"]
             for r in cross_corpus_contamination(
                 train, test, n=5, min_common=0).collect()}
    assert bloom[1]["n_bloom_hits"] >= 1
    for d in bloom:
        assert bloom[d]["n_bloom_hits"] >= exact.get(d, 0)
    assert bloom[3]["n_bloom_hits"] == 0  # no collisions at this scale


def test_shuffle_rows_total_order_and_epoch_independence(spark):
    """(bucket, bucket_rank) is a total order, stable across runs, and a
    different salt yields a genuinely different permutation."""
    from slow_tortoise_spark.operators.dedup import shuffle_rows

    docs = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    a = [(r["bucket"], r["bucket_rank"], r["doc_id"])
         for r in shuffle_rows(docs).orderBy("bucket", "bucket_rank").collect()]
    b = [(r["bucket"], r["bucket_rank"], r["doc_id"])
         for r in shuffle_rows(docs).orderBy("bucket", "bucket_rank").collect()]
    assert a == b  # deterministic
    keys = [(x[0], x[1]) for x in a]
    assert len(set(keys)) == 300  # total order, no collisions
    order1 = [x[2] for x in a]
    order2 = [r["doc_id"] for r in shuffle_rows(docs, salt="epoch2")
              .orderBy("bucket", "bucket_rank").collect()]
    assert sorted(order1) == sorted(order2)
    assert order1 != order2  # new epoch permutes
    assert order1 != sorted(order1)  # and it's actually shuffled


def test_shuffle_rows_bucket_order_matches_global_hash_order(spark):
    """Round-5 ADVICE: the (bucket, bucket_rank) concatenated order
    must equal the plain ``ORDER BY md5(salt:id), id`` order — the
    property negative_pairs' SQL oracle states — for ANY buckets
    value, not only 256 (the old ``% buckets`` prefix was
    order-preserving only at exactly 256)."""
    import hashlib

    import pytest

    from slow_tortoise_spark.operators.dedup import shuffle_rows

    docs = spark.range(0, 400).withColumnRenamed("id", "doc_id")
    expect = sorted(
        range(400),
        key=lambda i: (hashlib.md5(f"shuffle:{i}".encode()).hexdigest(), i),
    )
    for buckets in (7, 64, 256):
        got = [
            r["doc_id"]
            for r in shuffle_rows(docs, buckets=buckets)
            .orderBy("bucket", "bucket_rank")
            .collect()
        ]
        assert got == expect, f"bucket order diverged at buckets={buckets}"

    with pytest.raises(ValueError):
        shuffle_rows(docs, buckets=512)  # one hash byte can't split >256


def test_kmeans_iterations_improve_within_cluster_similarity(spark):
    """Lloyd iterations on a separable toy set must (a) change the
    seeded assignment, (b) not worsen mean within-cluster cosine, and
    (c) recover the true clusters."""
    import numpy as np

    from slow_tortoise_spark.operators.similarity import build_ivf_index

    rng = np.random.default_rng(3)
    centers = np.eye(4, 8) * 10  # 4 well-separated directions in R^8
    rows = []
    for i in range(200):
        c = i % 4
        rows.append(
            (i, [float(x) for x in centers[c] + rng.normal(scale=0.2, size=8)])
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    idx0, cents0 = build_ivf_index(df, n_cells=4, kmeans_iters=0)
    idx2, cents2 = build_ivf_index(df, n_cells=4, kmeans_iters=2)
    a0 = {r["vec_id"]: r["cell"] for r in idx0.select("vec_id", "cell").collect()}
    a2 = {r["vec_id"]: r["cell"] for r in idx2.select("vec_id", "cell").collect()}
    assert a0 != a2  # it learned something beyond the seeds

    def mean_cos(assign, cents):
        cm = {cid: np.array(c) for cid, c in cents}
        X = {i: np.array(v) for i, v in rows}
        return float(np.mean([
            X[i] @ cm[c] / (np.linalg.norm(X[i]) * np.linalg.norm(cm[c]))
            for i, c in assign.items()
        ]))

    assert mean_cos(a2, cents2) >= mean_cos(a0, cents0) - 1e-9
    # true clusters recovered: every vec_id mod-4 class maps to one cell
    for c in range(4):
        cells = {a2[i] for i in range(200) if i % 4 == c}
        assert len(cells) == 1


def test_logreg_learns_separable_classifier(spark):
    """Full-batch GD logistic regression separates a linearly separable
    toy set: training accuracy 100% after a few rounds, and more rounds
    never hurt the separable fit."""
    import numpy as np

    from slow_tortoise_spark.operators.similarity import (
        logreg_fit,
        logreg_score,
    )

    rng = np.random.default_rng(11)
    X = rng.normal(size=(200, 4)).astype(np.float32)
    y = (X[:, 0] + 2 * X[:, 1] > 0.5).astype(int)  # margin-separable
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]], int(y[i])) for i in range(200)],
        "vec_id long, embedding array<float>, y int",
    )
    w = logreg_fit(df, dim=4, iters=30, lr=2.0)
    assert len(w) == 5
    scored = logreg_score(df, w).select("vec_id", "score", "y").collect()
    acc = np.mean([(r["score"] > 0.5) == bool(r["y"]) for r in scored])
    assert acc >= 0.97
    # learned direction correlates with the true one
    true_w = np.array([1.0, 2.0, 0.0, 0.0])
    got = np.array(w[:4])
    assert got @ true_w / (np.linalg.norm(got) * np.linalg.norm(true_w)) > 0.9


def test_audio_features_real_wav_decode(spark):
    """RIFF/WAVE 16-bit PCM decodes FOR REAL (stdlib wave + numpy): a
    pure sine's window RMS must be amplitude/sqrt(2), silence must be 0,
    and a non-WAV blob falls back to the deterministic stub."""
    import io
    import math
    import struct
    import wave as wavemod

    from slow_tortoise_spark.operators.multimodal import (
        extract_audio_features,
    )

    def make_wav(samples, framerate=8000):
        buf = io.BytesIO()
        with wavemod.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(framerate)
            w.writeframes(
                b"".join(struct.pack("<h", int(s * 32767)) for s in samples)
            )
        return buf.getvalue()

    fr = 8000
    amp = 0.5
    sine = [amp * math.sin(2 * math.pi * 440 * t / fr)
            for t in range(fr * 2)]  # 2 s
    silence = [0.0] * fr  # 1 s
    rows = [
        (1, make_wav(sine, fr), 2000),
        (2, make_wav(silence, fr), 1000),
        (3, b"not a wav at all", 1000),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, content binary, duration_ms long"
    )
    out = extract_audio_features(df, window_ms=1000).collect()
    by_key = {(r["media_id"], r["window_ms"]): r for r in out}
    # sine RMS = amp / sqrt(2) in BOTH windows
    for win in (0, 1000):
        e = by_key[(1, win)]["energy"]
        assert abs(e - amp / math.sqrt(2)) < 1e-3, e
        assert len(by_key[(1, win)]["features"]) == 8
        # 440 Hz lands in the lowest of 8 bands of a 0-4 kHz spectrum
        f = by_key[(1, win)]["features"]
        assert f[0] == max(f)
    assert by_key[(2, 0)]["energy"] == 0.0
    # non-WAV: deterministic stub (sha-derived, in [0, 1])
    stub = by_key[(3, 0)]
    assert stub["energy"] is not None and 0.0 <= stub["energy"] <= 1.0


def test_avi_demux_extracts_real_frames(spark):
    """A hand-built RIFF/AVI round-trips: the demuxer recovers every
    frame's exact bytes and timestamps from avih's rate, skips non-AVI
    blobs, and the frame bytes feed the image-feature path downstream."""
    import struct

    from slow_tortoise_spark.operators.multimodal import (
        demux_avi_frames,
        extract_image_features,
    )

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def lst(list_type: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", list_type + payload)

    frames = [b"frame-zero-bytes!", b"frame-one-bytes", b"frame-two-xx"]
    avih = chunk(b"avih", struct.pack("<I", 40000) + b"\x00" * 52)  # 25 fps
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    body = b"AVI " + lst(b"hdrl", avih) + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body

    df = spark.createDataFrame(
        [(1, avi), (2, b"definitely not avi")],
        "media_id long, content binary",
    )
    rows = demux_avi_frames(df).orderBy("frame_idx").collect()
    assert [bytes(r["frame_bytes"]) for r in rows] == frames
    assert [r["frame_ms"] for r in rows] == [0.0, 40.0, 80.0]
    assert {r["media_id"] for r in rows} == {1}  # non-AVI: no rows

    feats = extract_image_features(
        demux_avi_frames(df).select(
            F.col("media_id"), F.col("frame_bytes").alias("content")
        )
    ).collect()
    assert len(feats) == 3 and all(r["sha"] for r in feats)


def test_png_decodes_for_real_without_pil(spark):
    """PNG image features are REAL in this environment: a hand-encoded
    RGB PNG exercising every filter type (None/Sub/Up/Average/Paeth)
    decodes to the exact ITU-R 601-2 luma histogram — identical whether
    the PIL tier or the stdlib zlib tier does the work."""
    import struct
    import zlib

    from slow_tortoise_spark.operators.multimodal import (
        extract_image_features,
    )

    w, h, bpp = 6, 10, 3
    rng = __import__("numpy").random.default_rng(5)
    px = rng.integers(0, 256, size=(h, w * bpp), dtype="uint8")

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    raw = bytearray()
    prev = bytes(w * bpp)
    for y in range(h):
        line = bytes(int(v) for v in px[y])
        ftype = y % 5
        raw.append(ftype)
        for i in range(w * bpp):
            left = line[i - bpp] if i >= bpp else 0
            up = prev[i]
            ul = prev[i - bpp] if i >= bpp else 0
            pred = {0: 0, 1: left, 2: up, 3: (left + up) >> 1,
                    4: paeth(left, up, ul)}[ftype]
            raw.append((line[i] - pred) & 0xFF)
        prev = line

    def chunk(ctype, data):
        body = ctype + data
        return (struct.pack(">I", len(data)) + body
                + struct.pack(">I", zlib.crc32(body)))

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(bytes(raw)))
           + chunk(b"IEND", b""))

    expect = [0] * 16
    for y in range(h):
        for x in range(w):
            r, g, b = (int(px[y][x * 3]), int(px[y][x * 3 + 1]),
                       int(px[y][x * 3 + 2]))
            expect[((r * 299 + g * 587 + b * 114) // 1000) >> 4] += 1
    total = float(w * h)

    df = spark.createDataFrame([(1, png)], "media_id long, content binary")
    row = extract_image_features(df).collect()[0]
    import numpy as np

    np.testing.assert_allclose(
        row["features"], [e / total for e in expect], atol=1e-6
    )  # features column is float32


def test_png_resize_real_without_pil(spark):
    """apply_resize really resizes PNG content in this environment: the
    output decodes to the planned target dims and every pixel equals
    the nearest-neighbor sample of the source.  (Skipped when PIL is
    installed — its tier takes precedence and resamples bicubically.)"""
    import pytest

    try:
        import PIL  # noqa: F401

        pytest.skip("PIL present: its resize tier takes precedence")
    except ImportError:
        pass
    import struct
    import zlib

    import numpy as np

    from slow_tortoise_spark.operators.multimodal import (
        _png_pixels,
        apply_resize,
        plan_resize,
    )

    w, h, bpp = 8, 8, 3
    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, size=(h, w * bpp), dtype="uint8")

    def chunk(ctype, data):
        body = ctype + data
        return (struct.pack(">I", len(data)) + body
                + struct.pack(">I", zlib.crc32(body)))

    raw = b"".join(b"\x00" + bytes(int(v) for v in px[y]) for y in range(h))
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(raw))
           + chunk(b"IEND", b""))

    df = spark.createDataFrame(
        [(1, png, w, h)], "media_id long, content binary, width int, height int"
    )
    out = apply_resize(plan_resize(df, max_dim=4)).collect()[0]
    assert (out["width"], out["height"]) == (4, 4)
    tw2, th2, bpp2, rows = _png_pixels(bytes(out["content"]))
    assert (tw2, th2, bpp2) == (4, 4, 3)
    for y in range(4):
        sy = min(y * h // 4, h - 1)
        for x in range(4):
            sx = min(x * w // 4, w - 1)
            assert (bytes(rows[y][x * 3:x * 3 + 3])
                    == bytes(int(v) for v in px[sy][sx * 3:sx * 3 + 3]))


def test_media_dedup_end_to_end_with_real_decode(spark):
    """The media dedup story composes with REAL decode in this env:
    PNGs -> luma-histogram features (stdlib tier) -> brute-force cosine
    finds the recolored near-duplicate of the query image while ranking
    unrelated noise images lower."""
    import struct
    import zlib

    import numpy as np

    from slow_tortoise_spark.operators.multimodal import (
        extract_image_features,
    )
    from slow_tortoise_spark.operators.similarity import brute_force_topk

    def chunk(ctype, data):
        body = ctype + data
        return (struct.pack(">I", len(data)) + body
                + struct.pack(">I", zlib.crc32(body)))

    def png_of(px):
        h, wb = px.shape
        raw = b"".join(b"\x00" + bytes(int(v) for v in px[y])
                       for y in range(h))
        return (b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR",
                        struct.pack(">IIBBBBB", wb // 3, h, 8, 2, 0, 0, 0))
                + chunk(b"IDAT", zlib.compress(raw))
                + chunk(b"IEND", b""))

    rng = np.random.default_rng(21)
    base = rng.integers(0, 256, size=(8, 24), dtype="uint8")
    near = base.copy()
    near[0, :3] = (base[0, :3].astype(int) + 8) % 256  # one pixel nudged
    rows = [(0, png_of(base)), (1, png_of(near))] + [
        (i, png_of(rng.integers(0, 256, size=(8, 24), dtype="uint8")))
        for i in range(2, 10)
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    feats = extract_image_features(df).select(
        F.col("media_id").alias("vec_id"),
        F.col("features").alias("embedding"),
    )
    query = [float(x)
             for x in feats.filter("vec_id = 0").first()["embedding"]]
    top = brute_force_topk(feats, query, k=2).collect()
    assert [r["vec_id"] for r in top] == [0, 1]  # self, then the near-dup
    assert top[1]["cosine"] > 0.99


def test_bmp_decodes_for_real(spark):
    """24-bit BMPs decode for real with stdlib struct: bottom-up BGR
    rows with 4-byte padding come out as the exact luma histogram."""
    import struct

    import numpy as np

    from slow_tortoise_spark.operators.multimodal import (
        extract_image_features,
    )

    w, h = 5, 4  # stride 15 -> padded to 16
    rng = np.random.default_rng(13)
    px = rng.integers(0, 256, size=(h, w, 3), dtype="uint8")  # RGB rows
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(w):
            r, g, b = (int(v) for v in px[y, x])
            row += bytes((b, g, r))  # BGR on disk
        row += b"\x00" * (stride - len(row))
        body += row
    header = (b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                            len(body), 2835, 2835, 0, 0))
    bmp = bytes(header + body)

    expect = [0] * 16
    for y in range(h):
        for x in range(w):
            r, g, b = (int(v) for v in px[y, x])
            expect[((r * 299 + g * 587 + b * 114) // 1000) >> 4] += 1
    df = spark.createDataFrame([(1, bmp)], "media_id long, content binary")
    row = extract_image_features(df).collect()[0]
    np.testing.assert_allclose(
        row["features"], [e / float(w * h) for e in expect], atol=1e-6
    )


def test_sq_quantize_codes_bounded_and_deterministic(spark, sf_dir):
    from slow_tortoise_spark.operators.similarity import sq_minmax, sq_quantize
    from slow_tortoise_spark.sources.reader import read_table

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    minmax = [(r["pos"], r["mn"], r["mx"])
              for r in sq_minmax(emb).collect()]
    codes = sq_quantize(emb, minmax).select("vec_id", "codes").collect()
    for r in codes:
        assert all(0 <= c <= 255 for c in r["codes"])
    # exact endpoints: the per-dimension min maps to 0, the max to 255
    by_dim = {pos: (mn, mx) for pos, mn, mx in minmax}
    hit_lo = hit_hi = False
    emb_rows = {r["vec_id"]: r["embedding"]
                for r in emb.select("vec_id", "embedding").collect()}
    for r in codes:
        vec = emb_rows[r["vec_id"]]
        for d, c in enumerate(r["codes"]):
            mn, mx = by_dim[d]
            if float(vec[d]) == mn and mx > mn:
                assert c == 0
                hit_lo = True
            if float(vec[d]) == mx and mx > mn:
                assert c == 255
                hit_hi = True
    assert hit_lo and hit_hi
    # repartitioning does not change the codebook (min/max are
    # order-independent) nor the codes
    minmax2 = [(r["pos"], r["mn"], r["mx"])
               for r in sq_minmax(emb.repartition(7)).collect()]
    assert sorted(minmax) == sorted(minmax2)


def test_sq_topk_tracks_exact_ranking(spark, sf_dir):
    """SQ is approximate, but at 8 bits on this corpus the top-1 must be
    the query itself and top-k recall vs exact cosine stays high."""
    from slow_tortoise_spark.operators.similarity import (
        brute_force_topk,
        sq_topk,
    )
    from slow_tortoise_spark.sources.reader import read_table

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    query = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    exact = [r["vec_id"] for r in brute_force_topk(emb, query, k=10).collect()]
    approx = sq_topk(emb, k=10, query_id=0).collect()
    assert approx[0]["vec_id"] == 0  # self-match: identical codes, dist 0
    assert approx[0]["dist"] == 0
    got = [r["vec_id"] for r in approx]
    assert len(set(exact) & set(got)) >= 6
    # distances are exact integers, monotonically non-decreasing
    dists = [r["dist"] for r in approx]
    assert all(isinstance(d, int) for d in dists)
    assert dists == sorted(dists)


def test_dsir_weights_prefer_target_like_docs(spark):
    """DSIR sanity on a constructed corpus: docs sharing the target's
    vocabulary must outscore docs from a disjoint vocabulary, and
    weights are partitioning-invariant integers."""
    from slow_tortoise_spark.operators.text import dsir_weights

    rows = []
    for i in range(20):
        rows.append((i, "alpha beta gamma delta epsilon " * 3, "tgt"))
    for i in range(20, 40):
        rows.append((i, "zork quux blorb fizz buzz " * 3, "other"))
    rows.append((40, None, "other"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    target = docs.filter("source = 'tgt'")
    w = {r["doc_id"]: r["w_micro"]
         for r in dsir_weights(docs, target, buckets=64).collect()}
    tgt_scores = [w[i] for i in range(20)]
    other_scores = [w[i] for i in range(20, 40)]
    assert min(tgt_scores) > max(other_scores)
    assert w[40] == 0  # null text -> weight 0, not a dropped row
    # integer weights, stable under repartitioning
    w2 = {r["doc_id"]: r["w_micro"]
          for r in dsir_weights(docs.repartition(7), target,
                                buckets=64).collect()}
    assert w == w2


def test_bpe_encode_piece_counts_shrink_with_merges(spark):
    from slow_tortoise_spark.operators.text import bpe_encode

    docs = spark.createDataFrame(
        [(0, "hey hey hey heyday"), (1, "day hey day"), (2, None)],
        "doc_id long, text string",
    )
    no_merge = {r["doc_id"]: r for r in bpe_encode(docs, 0).collect()}
    merged = {r["doc_id"]: r for r in bpe_encode(docs, 4).collect()}
    # with zero merges every piece is a character
    assert no_merge[0]["n_pieces"] == len("heyheyheyheyday")
    assert no_merge[0]["n_tokens"] == 4
    # merges only ever reduce piece counts, never token counts
    for i in (0, 1):
        assert merged[i]["n_tokens"] == no_merge[i]["n_tokens"]
        assert merged[i]["n_pieces"] < no_merge[i]["n_pieces"]
    # null text keeps a zero row rather than disappearing
    assert merged[2]["n_tokens"] == 0 and merged[2]["n_pieces"] == 0
    # 'hey' repeats enough that 4 merges collapse it to one piece each
    assert merged[1]["n_pieces"] <= merged[1]["n_tokens"] * 2


def test_cms_never_underestimates_and_is_exact_without_collisions(spark):
    from pyspark.sql import functions as F

    from slow_tortoise_spark.operators.sketch import cms_build, cms_estimate

    rows = [(f"k{i % 20}",) for i in range(400)]  # each key appears 20x
    df = spark.createDataFrame(rows, "k string")
    exact = {r["k"]: r["c"] for r in
             df.groupBy("k").agg(F.count("*").alias("c")).collect()}
    cand = df.distinct()

    # tiny width -> collisions: estimates may only ever OVERestimate
    tight = cms_estimate(cms_build(df, "k", width=8, depth=3), cand, "k",
                         width=8, depth=3)
    assert all(r["est"] >= exact[r["k"]] for r in tight.collect())

    # generous width -> min over 4 rows recovers exact counts here
    wide = cms_estimate(cms_build(df, "k", width=4096, depth=4), cand, "k",
                        width=4096, depth=4)
    assert {r["k"]: r["est"] for r in wide.collect()} == exact

    # sketch size is bounded by d*w regardless of input size
    assert cms_build(df, "k", width=8, depth=3).count() <= 24


def test_cms_weighted_counts(spark):
    from slow_tortoise_spark.operators.sketch import cms_build, cms_estimate

    df = spark.createDataFrame(
        [("a", 5), ("a", 7), ("b", 1)], "k string, w long"
    )
    cms = cms_build(df, "k", width=1024, depth=4, weight_col="w")
    est = {r["k"]: r["est"] for r in
           cms_estimate(cms, df.select("k").distinct(), "k",
                        width=1024, depth=4).collect()}
    assert est["a"] == 12 and est["b"] == 1


def test_hll_sketches_merge_across_groups(spark):
    from slow_tortoise_spark.operators.sketch import (
        hll_sketch_by_group,
        hll_union_estimate,
    )

    # two "days" with overlapping users: union estimate must track the
    # TRUE distinct-of-union, not the sum of per-day distincts
    rows = [("d1", u) for u in range(1000)] + \
           [("d2", u) for u in range(500, 1500)]
    df = spark.createDataFrame(rows, "day string, user long")
    sk = hll_sketch_by_group(df, "day", "user")
    assert sk.count() == 2
    est = hll_union_estimate(sk, "day").first()["distinct_est"]
    assert abs(est - 1500) / 1500 < 0.05  # HLL lg_k=12 ~ 1.6% rse
    # merging a sketch with itself is idempotent (no double counting)
    both = sk.unionAll(sk)
    est2 = hll_union_estimate(both, "day").first()["distinct_est"]
    assert est2 == est


def test_gopher_rules_each_bit_fires(spark):
    from slow_tortoise_spark.operators.text import gopher_rules

    good = ("the quick brown fox jumps over that lazy dog and then it "
            "have run with great speed to be first of many winners today "
            "while everyone watched the entire show with delight and "
            "cheered for more because the performance was truly special "
            "indeed friends gathered around the stage applauding loudly "
            "until the very end of that memorable evening together")
    docs = spark.createDataFrame(
        [
            (0, good),
            (1, "too short"),                                 # bit 0
            (2, " ".join(["a"] * 60)),                        # bit 1 (mean len < 3)
            (3, " ".join(["####word#"] * 60)),                # bit 2 symbols
            (4, "\n".join(["- bullet point here"] * 10)),     # bit 3 bullets
            (5, "\n".join(["trailing words..."] * 10)),       # bit 4 ellipses
            (6, " ".join(["123456"] * 60)),                   # bit 5 no alpha
            (7, " ".join(["zork"] * 60)),                     # bit 6 no stops
            (8, None),                                        # null -> bit 0
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_rules(docs).collect()}
    assert out[0]["rule_mask"] == 0 and out[0]["passed"] == 1
    assert out[1]["rule_mask"] & 1
    assert out[2]["rule_mask"] & 2
    assert out[3]["rule_mask"] & 4
    assert out[4]["rule_mask"] & 8
    assert out[5]["rule_mask"] & 16
    assert out[6]["rule_mask"] & 32
    assert out[7]["rule_mask"] & 64
    assert out[8]["rule_mask"] & 1 and out[8]["n_words"] == 0
    assert all(r["passed"] == 0 for k, r in out.items() if k != 0)


def test_normalize_text_nfc_agrees_with_duckdb_on_non_ascii(spark):
    """Composed vs decomposed forms must converge to identical bytes,
    match DuckDB's nfc_normalize on the same strings, and make
    fingerprint-dedup see through encoding differences."""
    import duckdb

    from slow_tortoise_spark.operators.text import normalize_text

    composed = "café résumé"            # precomposed é
    decomposed = "café résumé"        # e + combining acute
    rows = [(0, composed), (1, decomposed), (2, "plain ascii"), (3, None),
            (4, "ＡＢＣ")]                  # fullwidth ABC (NFKC-only)
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    nfc = {r["doc_id"]: r["norm"] for r in normalize_text(
        docs, "text", form="NFC", out_col="norm").collect()}
    assert nfc[0] == nfc[1] == composed  # both forms -> precomposed bytes
    assert nfc[2] == "plain ascii"
    assert nfc[3] is None
    assert nfc[4] == "ＡＢＣ"  # NFC keeps fullwidth forms

    con = duckdb.connect()
    for i, (_, s) in enumerate(rows):
        if s is None:
            continue
        expect = con.execute("SELECT nfc_normalize(?)", [s]).fetchone()[0]
        assert nfc[i] == expect, f"row {i} diverges from DuckDB NFC"

    # NFKC additionally folds compatibility forms
    nfkc = {r["doc_id"]: r["norm"] for r in normalize_text(
        docs, "text", form="NFKC", out_col="norm").collect()}
    assert nfkc[4] == "ABC"

    import pytest

    with pytest.raises(ValueError):
        normalize_text(docs, "text", form="NFX")


def test_strip_html_known_cases(spark):
    from slow_tortoise_spark.operators.text import strip_html

    docs = spark.createDataFrame(
        [
            (0, "<p>hello <b>world</b></p>"),
            (1, "<script>alert('x')</script>keep<style>b{}</style>this"),
            (2, "a</p><p>b"),                        # tag gap must space-split
            (3, "T&amp;C &lt;tag&gt; &quot;q&quot; &#39;s&#39; a&nbsp;b"),
            (4, "&amp;lt;"),                          # double-encoded: one level
            (5, None),
            (6, "no markup at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in strip_html(docs).collect()}
    assert out[0]["text"] == "hello world" and out[0]["n_tags"] == 4
    assert out[1]["text"] == "keep this"
    assert out[2]["text"] == "a b"
    assert out[3]["text"] == "T&C <tag> \"q\" 's' a b"
    assert out[4]["text"] == "&lt;"
    assert out[5]["text"] == "" and out[5]["n_tags"] == 0
    assert out[6]["text"] == "no markup at all" and out[6]["n_tags"] == 0


def test_psi_drift_zero_for_identical_large_for_disjoint(spark):
    from pyspark.sql import functions as F

    from slow_tortoise_spark.operators.text import psi_drift

    a = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 5) for i in range(20)],
        "doc_id long, text string",
    )
    same_psi = psi_drift(a, a, buckets=64).agg(
        F.sum("contrib_micro")).first()[0]
    assert same_psi == 0  # identical distributions -> exactly zero

    b = spark.createDataFrame(
        [(i, "zork quux blorb fizz " * 5) for i in range(20)],
        "doc_id long, text string",
    )
    diff_psi = psi_drift(a, b, buckets=64).agg(
        F.sum("contrib_micro")).first()[0]
    assert diff_psi > 250_000  # PSI > 0.25: the "shifted" threshold
    # PSI is symmetric in its contribution structure
    assert psi_drift(b, a, buckets=64).agg(
        F.sum("contrib_micro")).first()[0] == diff_psi


def test_weighted_sample_deterministic_and_weight_sensitive(spark):
    from slow_tortoise_spark.operators.dedup import weighted_sample

    rows = [(i, 100.0 if i < 50 else 1.0) for i in range(500)]
    rows += [(500, 0.0), (501, None)]  # unsampleable mass
    df = spark.createDataFrame(rows, "doc_id long, w double")

    s1 = {r["doc_id"] for r in weighted_sample(df, 50, "w").collect()}
    s2 = {r["doc_id"]
          for r in weighted_sample(df.repartition(7), 50, "w").collect()}
    assert s1 == s2 and len(s1) == 50          # layout-invariant
    assert 500 not in s1 and 501 not in s1     # zero/null weight excluded

    # heavy rows (100x weight, 50 of 550 rows) dominate the sample —
    # aggregate over several salts to damp single-draw noise
    heavy = 0
    for salt in ("a", "b", "c"):
        got = weighted_sample(df, 50, "w", salt=salt).collect()
        heavy += sum(1 for r in got if r["doc_id"] < 50)
    assert heavy >= 100  # >= 2/3 heavy on average vs ~9% under uniform

    # a different salt is a genuinely different sample
    assert {r["doc_id"] for r in
            weighted_sample(df, 50, "w", salt="other").collect()} != s1

    # n larger than the population returns every positive-weight row
    assert weighted_sample(df, 10_000, "w").count() == 500


def test_negative_pairs_invariants(spark):
    from slow_tortoise_spark.operators.dedup import negative_pairs

    df = spark.createDataFrame([(i,) for i in range(97)], "doc_id long")
    out = negative_pairs(df, k=3).collect()
    assert len(out) == 97 * 3                       # k per doc
    assert all(r["doc_id"] != r["neg_id"] for r in out)
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], set()).add(r["neg_id"])
    assert all(len(v) == 3 for v in per_doc.values())  # distinct negatives

    # layout-invariant and salt-sensitive
    a = {(r["doc_id"], r["neg_rank"], r["neg_id"]) for r in out}
    b = {(r["doc_id"], r["neg_rank"], r["neg_id"])
         for r in negative_pairs(df.repartition(7), k=3).collect()}
    assert a == b
    c = {(r["doc_id"], r["neg_rank"], r["neg_id"])
         for r in negative_pairs(df, k=3, salt="epoch2").collect()}
    assert c != a

    # edges: single doc -> no pairs; two docs -> each pairs the other
    assert negative_pairs(
        spark.createDataFrame([(1,)], "doc_id long"), k=2).count() == 0
    two = negative_pairs(
        spark.createDataFrame([(1,), (2,)], "doc_id long"), k=1).collect()
    assert {(r["doc_id"], r["neg_id"]) for r in two} == {(1, 2), (2, 1)}


def _jpeg_encode_for_test(planes, sampling, w, h, restart=0,
                          progressive=False):
    """Minimal baseline-JPEG ENCODER used only by the golden tests —
    shares no code with the decoder under test.  ``planes`` is a list of
    numpy uint8 component planes (1 = grayscale, 3 = YCbCr), ``sampling``
    the (h_i, v_i) factor per component.  Flat quantization (all 1s),
    synthetic fixed-length Huffman tables (DC: 12 symbols @ 4 bits; AC:
    EOB/ZRL + all (run,1..10) @ 8 bits), optional restart interval."""
    import struct

    import numpy as np

    xs = np.arange(8)
    A = np.cos((2 * xs[None, :] + 1) * xs[:, None] * np.pi / 16)
    A[0] *= np.sqrt(1 / 2)
    A *= 0.5

    ZZ = [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
          12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
          35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
          58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63]

    # canonical code assignment — same algorithm the spec defines
    def canon(counts, syms):
        table, code, it = {}, 0, iter(syms)
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                table[next(it)] = (length, code)
                code += 1
            code <<= 1
        return table

    dc_counts = [0, 0, 0, 12] + [0] * 12
    dc_syms = list(range(12))
    ac_syms = [0x00, 0xF0] + [(r << 4) | s for r in range(16)
                              for s in range(1, 11)]
    ac_counts = [0] * 7 + [len(ac_syms)] + [0] * 8
    dc_codes, ac_codes = canon(dc_counts, dc_syms), canon(ac_counts, ac_syms)

    out = bytearray()
    acc = []

    def put(length, value):
        for i in range(length - 1, -1, -1):
            acc.append((value >> i) & 1)

    def flush(pad=1):
        while len(acc) % 8:
            acc.append(pad)
        while acc:
            b = 0
            for bit in acc[:8]:
                b = (b << 1) | bit
            del acc[:8]
            out.append(b)
            if b == 0xFF:
                out.append(0x00)

    def size_of(v):
        return abs(v).bit_length()

    def put_coeff(codes, sym_high, v):
        s = size_of(v)
        length, code = codes[(sym_high << 4) | s] if codes is ac_codes \
            else codes[s]
        put(length, code)
        if s:
            put(s, v if v > 0 else v + (1 << s) - 1)

    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    # headers
    hdr = bytearray(b"\xff\xd8")
    qt = bytes([0]) + bytes([1] * 64)
    hdr += b"\xff\xdb" + struct.pack(">H", 2 + len(qt)) + qt
    sof = struct.pack(">BHHB", 8, h, w, len(planes))
    for i, (hi, vi) in enumerate(sampling):
        sof += bytes([i + 1, (hi << 4) | vi, 0])
    hdr += ((b"\xff\xc2" if progressive else b"\xff\xc0")
            + struct.pack(">H", 2 + len(sof)) + sof)
    for tc, counts, syms in ((0, dc_counts, dc_syms), (1, ac_counts, ac_syms)):
        seg = bytes([tc << 4]) + bytes(counts) + bytes(syms)
        hdr += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg
    if restart:
        assert not progressive, "test encoder: restart only in baseline"
        hdr += b"\xff\xdd" + struct.pack(">HH", 4, restart)
    if not progressive:
        sos = bytes([len(planes)])
        for i in range(len(planes)):
            sos += bytes([i + 1, 0x00])
        sos += bytes([0, 63, 0])
        hdr += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    # entropy: interleaved MCUs, flat q=1, exact same DCT the spec defines
    pred = [0] * len(planes)
    quantized = []  # per-plane dict (by,bx) -> zz coefficient list
    for ci, (plane, (hi, vi)) in enumerate(zip(planes, sampling)):
        ph, pw = mcuy * 8 * vi, mcux * 8 * hi
        padded = np.zeros((ph, pw), np.float64)
        padded[:plane.shape[0], :plane.shape[1]] = plane
        # edge-replicate padding like real encoders
        padded[plane.shape[0]:, :] = padded[plane.shape[0] - 1:plane.shape[0], :]
        padded[:, plane.shape[1]:] = padded[:, plane.shape[1] - 1:plane.shape[1]]
        blocks = {}
        for by in range(ph // 8):
            for bx in range(pw // 8):
                f = padded[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0
                Fq = np.round(A @ f @ A.T).astype(int)
                blocks[(by, bx)] = [int(Fq.flat[z]) for z in ZZ]
        quantized.append(blocks)

    if progressive:
        # spectral-selection progressive: one interleaved DC scan, then
        # one non-interleaved full-band AC scan per component (raster
        # over the component's REAL block grid)
        body = bytearray()

        def emit_scan(sos_payload):
            nonlocal body
            flush(pad=1)
            body += bytes(out)
            out.clear()
            body += b"\xff\xda" + struct.pack(
                ">H", 2 + len(sos_payload)
            ) + sos_payload

        sos1 = bytes([len(planes)])
        for i in range(len(planes)):
            sos1 += bytes([i + 1, 0x00])
        sos1 += bytes([0, 0, 0])
        emit_scan(sos1)
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (hi, vi) in enumerate(sampling):
                    for by in range(vi):
                        for bx in range(hi):
                            zz = quantized[ci][(my * vi + by, mx * hi + bx)]
                            put_coeff(dc_codes, 0, zz[0] - pred[ci])
                            pred[ci] = zz[0]
        for ci, (hi, vi) in enumerate(sampling):
            emit_scan(bytes([1, ci + 1, 0x00, 1, 63, 0]))
            cw, ch = -(-w * hi // hmax), -(-h * vi // vmax)
            for by in range(-(-ch // 8)):
                for bx in range(-(-cw // 8)):
                    zz = quantized[ci][(by, bx)]
                    run = 0
                    last = max((k for k in range(1, 64) if zz[k]),
                               default=0)
                    for k in range(1, last + 1):
                        if zz[k] == 0:
                            run += 1
                            if run == 16:
                                length, code = ac_codes[0xF0]
                                put(length, code)
                                run = 0
                            continue
                        put_coeff(ac_codes, run, zz[k])
                        run = 0
                    if last < 63:
                        length, code = ac_codes[0x00]
                        put(length, code)
        flush(pad=1)
        body += bytes(out)
        out.clear()
        return bytes(hdr) + bytes(body) + b"\xff\xd9", quantized, (A, ZZ)

    mcu_n = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_n and mcu_n % restart == 0:
                flush(pad=1)
                out.append(0xFF)
                out.append(0xD0 + rst)
                rst = (rst + 1) & 7
                pred = [0] * len(planes)
            for ci, (hi, vi) in enumerate(sampling):
                for by in range(vi):
                    for bx in range(hi):
                        zz = quantized[ci][(my * vi + by, mx * hi + bx)]
                        put_coeff(dc_codes, 0, zz[0] - pred[ci])
                        pred[ci] = zz[0]
                        run = 0
                        last = max((k for k in range(1, 64) if zz[k]),
                                   default=0)
                        for k in range(1, last + 1):
                            if zz[k] == 0:
                                run += 1
                                if run == 16:
                                    length, code = ac_codes[0xF0]
                                    put(length, code)
                                    run = 0
                                continue
                            put_coeff(ac_codes, run, zz[k])
                            run = 0
                        if last < 63:
                            length, code = ac_codes[0x00]
                            put(length, code)
            mcu_n += 1
    flush(pad=1)
    return bytes(hdr) + bytes(out) + b"\xff\xd9", quantized, (A, ZZ)


def test_jpeg_flat_gray_hand_bytes():
    """Analytic golden: an 8x8 flat-128 grayscale JPEG built byte-by-hand
    (single 1-bit Huffman codes, all-zero coefficients) must decode to a
    uniformly 128 image — every byte of this fixture is hand-derivable
    from the spec, so it pins the marker parse, canonical Huffman
    construction, and IDCT+level-shift end to end."""
    import struct

    import numpy as np

    from slow_tortoise_spark.operators.multimodal import _jpeg_pixels

    qt = bytes([0]) + bytes([1] * 64)
    sof = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    # DC table: one 1-bit code "0" -> symbol 0; AC likewise -> EOB
    dht_dc = bytes([0x00, 1] + [0] * 15 + [0])
    dht_ac = bytes([0x10, 1] + [0] * 15 + [0])
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    jpg = (b"\xff\xd8"
           + b"\xff\xdb" + struct.pack(">H", 2 + len(qt)) + qt
           + b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
           + b"\xff\xc4" + struct.pack(">H", 2 + len(dht_dc)) + dht_dc
           + b"\xff\xc4" + struct.pack(">H", 2 + len(dht_ac)) + dht_ac
           + b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
           + bytes([0b00111111])  # DC cat0 "0" + EOB "0" + 1-pad
           + b"\xff\xd9")
    rgb = _jpeg_pixels(jpg)
    assert rgb.shape == (8, 8, 3)
    np.testing.assert_array_equal(rgb, np.full((8, 8, 3), 128, np.uint8))


def test_jpeg_grayscale_roundtrip_via_independent_encoder():
    """A 16x16 random grayscale image encoded by the TEST-SIDE encoder
    (no shared code) decodes to exactly the reconstruction numpy
    computes from the same quantized coefficients."""
    import numpy as np

    from slow_tortoise_spark.operators.multimodal import _jpeg_pixels

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(16, 16), dtype="uint8")
    jpg, quantized, (A, ZZ) = _jpeg_encode_for_test(
        [img.astype(np.float64)], [(1, 1)], 16, 16
    )
    got = _jpeg_pixels(jpg)

    # independent reconstruction from the encoder's own coefficients
    expect = np.zeros((16, 16))
    for (by, bx), zz in quantized[0].items():
        blk = np.zeros(64)
        for k, z in enumerate(ZZ):
            blk[z] = zz[k]
        expect[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = (
            A.T @ blk.reshape(8, 8) @ A + 128.0
        )
    expect = np.round(np.clip(expect, 0, 255)).astype(np.uint8)
    np.testing.assert_allclose(
        got[:, :, 0].astype(int), expect.astype(int), atol=1
    )  # float summation order may differ by 1 ulp at the rounding edge
    np.testing.assert_array_equal(got[:, :, 0], got[:, :, 1])


def test_jpeg_420_flat_color_and_restart():
    """4:2:0 chroma subsampling: a flat-color 16x16 image (Y=128,
    Cb=200, Cr=100) decodes to the exact JFIF RGB conversion; and a
    32x8 four-MCU grayscale stream with DRI=2 (one RST0 marker mid-
    stream, DC predictors reset) reproduces its per-block values."""
    import numpy as np

    from slow_tortoise_spark.operators.multimodal import _jpeg_pixels

    y = np.full((16, 16), 128.0)
    cb = np.full((8, 8), 200.0)
    cr = np.full((8, 8), 100.0)
    jpg, _, _ = _jpeg_encode_for_test(
        [y, cb, cr], [(2, 2), (1, 1), (1, 1)], 16, 16
    )
    rgb = _jpeg_pixels(jpg)
    er = round(128 + 1.402 * (100 - 128))
    eg = round(128 - 0.344136 * (200 - 128) - 0.714136 * (100 - 128))
    eb = min(255, round(128 + 1.772 * (200 - 128)))
    assert rgb.shape == (16, 16, 3)
    np.testing.assert_array_equal(rgb[:, :, 0], np.full((16, 16), er))
    np.testing.assert_array_equal(rgb[:, :, 1], np.full((16, 16), eg))
    np.testing.assert_array_equal(rgb[:, :, 2], np.full((16, 16), eb))

    # restart-interval stream: 4 MCUs of distinct flat values
    vals = [40, 90, 160, 220]
    gray = np.zeros((8, 32))
    for i, v in enumerate(vals):
        gray[:, i * 8:(i + 1) * 8] = v
    jpg2, _, _ = _jpeg_encode_for_test([gray], [(1, 1)], 32, 8, restart=2)
    assert b"\xff\xd0" in jpg2  # the marker is really in the stream
    out = _jpeg_pixels(jpg2)
    for i, v in enumerate(vals):
        np.testing.assert_array_equal(
            out[:, i * 8:(i + 1) * 8, 0], np.full((8, 8), v)
        )


def test_jpeg_features_through_spark_tier(spark):
    """The JPEG tier is wired into extract_image_features: a real
    baseline JPEG produces its true luma histogram (not the stub's
    hash-derived fake), end to end through mapInPandas."""
    import numpy as np

    from slow_tortoise_spark.operators.multimodal import (
        _decode_image_stub,
        extract_image_features,
    )

    gray = np.zeros((8, 16))
    gray[:, :8] = 32.0   # bin 2
    gray[:, 8:] = 240.0  # bin 15
    jpg, _, _ = _jpeg_encode_for_test([gray], [(1, 1)], 16, 8)
    df = spark.createDataFrame([(1, jpg)], "media_id long, content binary")
    row = extract_image_features(df).collect()[0]
    feats = list(row["features"])
    assert abs(feats[2] - 0.5) < 1e-6 and abs(feats[15] - 0.5) < 1e-6
    assert feats != _decode_image_stub(jpg)["features"]


def test_mjpeg_avi_decodes_end_to_end_without_pil(spark):
    """CODEC-level video decode for MJPEG is now REAL without PIL: a
    hand-built AVI whose frames are baseline JPEGs (independent test
    encoder) demuxes AND decodes to true per-frame luma histograms —
    container demux (stdlib struct) composing with the stdlib+numpy
    JPEG tier, end to end through the Spark plumbing."""
    import struct

    import numpy as np

    from slow_tortoise_spark.operators.multimodal import (
        _decode_image_stub,
        demux_avi_frames,
        extract_image_features,
    )

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def lst(list_type: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", list_type + payload)

    # two MJPEG frames: flat dark (bin 2) and flat bright (bin 14)
    dark, _, _ = _jpeg_encode_for_test(
        [np.full((8, 8), 40.0)], [(1, 1)], 8, 8
    )
    bright, _, _ = _jpeg_encode_for_test(
        [np.full((8, 8), 230.0)], [(1, 1)], 8, 8
    )
    frames = [dark, bright]
    avih = chunk(b"avih", struct.pack("<I", 40000) + b"\x00" * 52)
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    body = b"AVI " + lst(b"hdrl", avih) + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body

    df = spark.createDataFrame([(7, avi)], "media_id long, content binary")
    feats = (
        extract_image_features(
            demux_avi_frames(df).select(
                F.col("frame_idx").alias("media_id"),
                F.col("frame_bytes").alias("content"),
            )
        )
        .orderBy("media_id")
        .collect()
    )
    assert len(feats) == 2
    f0, f1 = list(feats[0]["features"]), list(feats[1]["features"])
    assert abs(f0[40 >> 4] - 1.0) < 1e-6   # all pixels in luma bin 2
    assert abs(f1[230 >> 4] - 1.0) < 1e-6  # all pixels in luma bin 14
    # and these are REAL decodes, not the content-hash stub
    assert f0 != _decode_image_stub(dark)["features"]
    assert f1 != _decode_image_stub(bright)["features"]


def test_jpeg_resize_real_without_pil(spark):
    """JPEG blobs resize for real without PIL: decode via the stdlib
    JPEG tier, nearest-neighbor sample, re-encode as PNG — the output
    decodes back to the source's flat pixel values at the target size."""
    import numpy as np

    from slow_tortoise_spark.operators.multimodal import (
        _png_pixels,
        apply_resize,
        plan_resize,
    )

    gray = np.zeros((16, 16))
    gray[:, :8] = 50.0
    gray[:, 8:] = 200.0
    jpg, _, _ = _jpeg_encode_for_test([gray], [(1, 1)], 16, 16)
    df = spark.createDataFrame(
        [(1, jpg, 16, 16, None, "image/jpeg", "image")],
        "media_id long, content binary, width int, height int, "
        "duration_ms long, mime string, kind string",
    )
    out = apply_resize(plan_resize(df, max_dim=8)).collect()[0]
    assert (out["width"], out["height"]) == (8, 8)
    w, h, bpp, rows = _png_pixels(bytes(out["content"]))
    assert (w, h, bpp) == (8, 8, 3)
    px = np.array([list(r) for r in rows], dtype=np.uint8).reshape(8, 8, 3)
    assert np.all(px[:, :4, 0] == 50) and np.all(px[:, 4:, 0] == 200)


def test_perplexity_buckets_ntile_semantics(spark):
    """CCNet-style bucketing: per-stratum NTILE thirds over the bigram
    LM score — equal-sized tiles, frequently-patterned docs in 'head',
    and the assignment is stable across repartitionings (total-order
    determinism, no RNG).  Docs share one vocabulary: under the
    corpus-trained MLE, a disjoint-vocab 'soup' would score a PERFECT
    p=1 on its singleton contexts — the scrambles below reuse the
    fluent docs' tokens so their rare bigrams compete against common
    contexts (the same reason CCNet scores against a reference-corpus
    LM rather than trusting self-MLE on unseen vocabulary)."""
    from slow_tortoise_spark.operators.text import perplexity_buckets

    fluent_text = "a b a b a b"
    scrambles = ["b b a a b a", "a a b b a b", "b a a b b a"]
    rows = [(i, fluent_text, "A") for i in range(3)]
    rows += [(10 + i, s, "A") for i, s in enumerate(scrambles)]
    rows += [(20, fluent_text, "B"), (21, fluent_text, "B"),
             (22, "b b a a a b", "B")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")

    out = {r["doc_id"]: r for r in perplexity_buckets(df).collect()}
    a_sizes = [sum(1 for r in out.values()
                   if r["strata"] == "A" and r["bucket"] == b)
               for b in (1, 2, 3)]
    assert a_sizes == [2, 2, 2]  # NTILE equal tiles
    fluent = {0, 1, 2}
    heads_a = {d for d, r in out.items()
               if r["strata"] == "A" and r["label"] == "head"}
    tails_a = {d for d, r in out.items()
               if r["strata"] == "A" and r["label"] == "tail"}
    assert heads_a <= fluent          # scrambles never reach head
    assert tails_a.isdisjoint(fluent)  # fluent docs never in tail
    # stratum B: 3 docs -> one per tile; the scramble is the tail
    assert out[22]["label"] == "tail"
    assert {out[20]["label"], out[21]["label"]} == {"head", "middle"}

    # determinism across physical layout
    again = {r["doc_id"]: r["bucket"]
             for r in perplexity_buckets(df.repartition(7)).collect()}
    assert again == {d: r["bucket"] for d, r in out.items()}


def test_kn_bigram_formula_hand_computed(spark):
    """Pin the interpolated Kneser-Ney arithmetic itself against a
    hand-derived value (the SQL oracle proves only engine parity).
    Reference: 'a b' x3 and 'a c' x1 -> c(a,b)=3, c(a,c)=1, c(a)=4,
    N1+(a.)=2, N1+(.b)=1, N1+(.c)=1, N1+(..)=2, V={a,b,c} so |V|=3.
    p_cont(w) = (N1+(.w)+1)/(2+3+1)."""
    import math

    from slow_tortoise_spark.operators.text import kn_bigram_logprob_under

    ref = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a b"), (4, "a c")],
        "doc_id long, text string",
    )
    tgt = spark.createDataFrame(
        [(10, "a b"),   # seen bigram
         (11, "a z"),   # seen context, unseen word
         (12, "q b"),   # unseen context -> pure continuation backoff
         (13, "x")],    # <2 tokens -> zeros
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           kn_bigram_logprob_under(tgt, ref).collect()}

    D = 0.75
    pc = lambda n1back: (n1back + 1) / (2 + 3 + 1)
    lam_a = D * 2 / 4
    p_ab = (3 - D) / 4 + lam_a * pc(1)     # seen: discounted + backoff
    p_az = 0.0 / 4 + lam_a * pc(0)         # unseen word under seen ctx
    p_qb = pc(1)                           # unseen context: pure p_cont

    assert math.isclose(out[10]["mean_logprob"], math.log(p_ab))
    assert out[10]["n_unseen"] == 0
    assert math.isclose(out[11]["mean_logprob"], math.log(p_az))
    assert out[11]["n_unseen"] == 1
    assert math.isclose(out[12]["mean_logprob"], math.log(p_qb))
    assert out[12]["n_unseen"] == 1
    assert out[13]["mean_logprob"] == 0.0 and out[13]["n_bigrams"] == 0
    # ordering sanity: the fully in-domain bigram outscores both
    # smoothed fallbacks
    assert out[10]["mean_logprob"] > max(
        out[11]["mean_logprob"], out[12]["mean_logprob"]
    )


def test_ivf_append_grows_index_with_pruning_intact(spark, tmp_path):
    """Incremental ANN ingest: vectors appended to a persisted IVF
    index land in their nearest cell's partition, become findable by
    ivf_topk_from_path, and the probe plan still partition-prunes."""
    import numpy as np

    from slow_tortoise_spark.operators.similarity import (
        build_ivf_index,
        ivf_append,
        ivf_topk_from_path,
        read_ivf_index,
        write_ivf_index,
    )

    rng = np.random.default_rng(3)
    base = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(64)]
    df = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    indexed, centroids = build_ivf_index(df, n_cells=4)
    path = str(tmp_path / "ivf")
    write_ivf_index(indexed, centroids, path)

    # append a distinctive new vector: exactly the query direction
    q = [float(x) for x in rng.normal(size=8)]
    new = spark.createDataFrame(
        [(1000, q), (1001, [float(x) for x in rng.normal(size=8)])],
        "vec_id long, embedding array<double>",
    )
    appended = ivf_append(spark, path, new)
    assert appended == 2

    hits = ivf_topk_from_path(spark, path, q, k=3, nprobe=4).collect()
    assert hits[0]["vec_id"] == 1000  # the appended exact match wins
    assert abs(hits[0]["cosine"] - 1.0) < 1e-9

    # appended rows live under cell partitions; pruning still applies
    idx, cents = read_ivf_index(spark, path)
    assert idx.count() == 66
    plan = (
        ivf_topk_from_path(spark, path, q, k=3, nprobe=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan


def _prog_jpeg_headers(w, h, q0=1):
    """Shared header builder for the hand-constructed progressive JPEG
    fixtures: grayscale SOF2, quant table with q[0]=q0 (rest 1), a DC
    table of four 2-bit codes (categories 0-3) and an AC table with
    EOB='0' (1 bit) and (r=0,s=1)='10' (2 bits) — small enough that
    every entropy byte below is hand-derivable from T.81."""
    import struct

    qt = bytes([0]) + bytes([q0] + [1] * 63)
    sof = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    dht_dc = bytes([0x00, 0, 4] + [0] * 14 + [0, 1, 2, 3])
    dht_ac = bytes([0x10, 1, 2] + [0] * 14 + [0x00, 0x01, 0x10])
    out = (b"\xff\xd8"
           + b"\xff\xdb" + struct.pack(">H", 2 + len(qt)) + qt
           + b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
           + b"\xff\xc4" + struct.pack(">H", 2 + len(dht_dc)) + dht_dc
           + b"\xff\xc4" + struct.pack(">H", 2 + len(dht_ac)) + dht_ac)
    return out


def _sos(ss, se, ah, al):
    import struct

    seg = bytes([1, 1, 0x00, ss, se, (ah << 4) | al])
    return b"\xff\xda" + struct.pack(">H", 2 + len(seg)) + seg


def test_progressive_jpeg_dc_successive_approximation():
    """Hand-built progressive grayscale 8x8, flat value 133 with
    q[0]=8 so the DC coefficient is 5 (odd -> the refinement bit is
    load-bearing; dequantized 40, spatial +40/8 = +5): DC-first at Al=1
    codes 2, DC-refine adds the low bit, AC-first is one EOB.  Every
    entropy byte hand-derived."""
    import numpy as np

    from slow_tortoise_spark.operators.multimodal import _jpeg_pixels

    jpg = (_prog_jpeg_headers(8, 8, q0=8)
           + _sos(0, 0, 0, 1) + bytes([0b10101111])   # cat2 '10' + bits '10'
           + _sos(0, 0, 1, 0) + bytes([0xFF, 0x00])   # refine bit 1 (stuffed)
           + _sos(1, 63, 0, 0) + bytes([0b01111111])  # EOB
           + b"\xff\xd9")
    rgb = _jpeg_pixels(jpg)
    np.testing.assert_array_equal(rgb, np.full((8, 8, 3), 133, np.uint8))


def test_progressive_jpeg_eobrun_spans_blocks():
    """EOB runs are shared state across blocks: a 16x8 two-block image
    whose AC-first scan is a single EOB1 (run of 2) — both blocks end
    with zero AC; DC values 8 and 16 come from diffs 1 and +1."""
    import numpy as np

    from slow_tortoise_spark.operators.multimodal import _jpeg_pixels

    # DC first (Al=0): block0 diff 1 -> cat1 '01' + bit '1';
    # block1 diff 1 -> '01' + '1'  => bits 011011 + pad 11 -> 0x6F
    # AC first: ONE EOB1 ('11' + 1 extra bit '0' -> run of 2) covers
    # BOTH blocks -> bits 110 + pad 11111 -> 0xDF
    jpg = (_prog_jpeg_headers(16, 8, q0=8)
           + _sos(0, 0, 0, 0) + bytes([0b01101111])
           + _sos(1, 63, 0, 0) + bytes([0b11011111])
           + b"\xff\xd9")
    rgb = _jpeg_pixels(jpg)
    # spatial DC contribution = coeff*q/8: 1*8/8 = +1 and 2*8/8 = +2
    np.testing.assert_array_equal(
        rgb[:, :8, 0], np.full((8, 8), 129, np.uint8)
    )
    np.testing.assert_array_equal(
        rgb[:, 8:, 0], np.full((8, 8), 130, np.uint8)
    )


def test_progressive_jpeg_ac_refinement_and_new_coefficient():
    """AC successive approximation, the hard path: the first AC scan
    (Al=1) codes coefficient zigzag-1 as 1 (true value 3); the
    refinement scan (Al=0) must (a) emit a correction bit turning 2
    into 3 and (b) introduce a NEW coefficient at zigzag-2 (+1) in the
    same pass.  Expected pixels computed independently via the
    orthonormal IDCT."""
    import numpy as np

    from slow_tortoise_spark.operators.multimodal import _jpeg_pixels

    jpg = (_prog_jpeg_headers(8, 8, q0=1)
           + _sos(0, 0, 0, 0) + bytes([0b00111111])   # DC cat0 '00'
           # AC first Al=1: (0,1)='10' + value '1'  then EOB '0'
           + _sos(1, 63, 0, 1) + bytes([0b10101111])
           # AC refine Al=0: '10' (new coef) + sign '1' + correction '1'
           # (zigzag-1: 2->3) then EOB '0' -> bits 10110 + pad
           + _sos(1, 63, 1, 0) + bytes([0b10110111])
           + b"\xff\xd9")
    rgb = _jpeg_pixels(jpg)

    xs = np.arange(8)
    A = np.cos((2 * xs[None, :] + 1) * xs[:, None] * np.pi / 16)
    A[0] *= np.sqrt(1 / 2)
    A *= 0.5
    blk = np.zeros(64)
    blk[1] = 3.0   # natural position of zigzag index 1
    blk[8] = 1.0   # natural position of zigzag index 2
    expect = np.round(
        np.clip(A.T @ blk.reshape(8, 8) @ A + 128.0, 0, 255)
    ).astype(np.uint8)
    np.testing.assert_array_equal(rgb[:, :, 0], expect)
    assert rgb[:, :, 0].std() > 0  # genuinely non-flat content decoded


def test_progressive_jpeg_matches_baseline_on_real_content():
    """Spectral-selection progressive (independent test encoder: one
    interleaved DC scan + per-component non-interleaved AC scans) must
    decode to EXACTLY the same pixels as the baseline encoding of the
    same quantized coefficients — grayscale random content and 4:2:0
    color, multi-scan accumulation against single-scan ground truth."""
    import numpy as np

    from slow_tortoise_spark.operators.multimodal import _jpeg_pixels

    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, size=(16, 16)).astype(np.float64)
    base, _, _ = _jpeg_encode_for_test([img], [(1, 1)], 16, 16)
    prog, _, _ = _jpeg_encode_for_test([img], [(1, 1)], 16, 16,
                                       progressive=True)
    assert b"\xff\xc2" in prog and prog.count(b"\xff\xda") == 2
    np.testing.assert_array_equal(_jpeg_pixels(prog), _jpeg_pixels(base))

    y = rng.integers(0, 256, size=(16, 16)).astype(np.float64)
    cb = rng.integers(0, 256, size=(8, 8)).astype(np.float64)
    cr = rng.integers(0, 256, size=(8, 8)).astype(np.float64)
    base3, _, _ = _jpeg_encode_for_test(
        [y, cb, cr], [(2, 2), (1, 1), (1, 1)], 16, 16
    )
    prog3, _, _ = _jpeg_encode_for_test(
        [y, cb, cr], [(2, 2), (1, 1), (1, 1)], 16, 16, progressive=True
    )
    assert prog3.count(b"\xff\xda") == 4  # DC + three AC scans
    np.testing.assert_array_equal(_jpeg_pixels(prog3), _jpeg_pixels(base3))


def _gif_encode_for_test(idx_rows, palette, min_code=2, interlaced=False,
                         clears="always"):
    """Minimal GIF ENCODER for the golden tests — shares no code with
    the decoder.  Emits every pixel as a ROOT code (no compression,
    legal LZW): with ``clears='always'`` a CLEAR before each pixel
    keeps the code width constant; with ``clears='none'`` the decoder's
    own table growth forces width bumps at 2^width — exercising the
    variable-width path without a real LZW compressor."""
    import struct

    h = len(idx_rows)
    w = len(idx_rows[0])
    out = bytearray(b"GIF89a")
    gct_bits = max(1, (len(palette) - 1).bit_length())
    out += struct.pack("<HHBBB", w, h, 0x80 | (gct_bits - 1), 0, 0)
    for r, g, b in palette + [(0, 0, 0)] * ((2 << (gct_bits - 1))
                                            - len(palette)):
        out += bytes((r, g, b))
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h,
                                 0x40 if interlaced else 0)
    out += bytes([min_code])

    clear, end = 1 << min_code, (1 << min_code) + 1
    bits = []

    def put(code, width):
        for i in range(width):
            bits.append((code >> i) & 1)  # GIF packs LSB-first

    width = min_code + 1
    if interlaced:
        order = (list(range(0, h, 8)) + list(range(4, h, 8))
                 + list(range(2, h, 4)) + list(range(1, h, 2)))
        rows = [idx_rows[r] for r in order]
    else:
        rows = idx_rows
    put(clear, width)
    table_size = end + 1
    fresh = True  # decoder adds NO entry for the first code after clear
    for row in rows:
        for px in row:
            if clears == "always":
                put(px, width)
                put(clear, width)  # table reset: width stays put
            else:
                put(px, width)
                if fresh:
                    fresh = False
                    continue
                table_size += 1  # decoder adds an entry per later code
                if table_size == (1 << width) and width < 12:
                    width += 1
    put(end, width)
    data = bytearray()
    for i in range(0, len(bits), 8):
        byte = 0
        for j, bit in enumerate(bits[i:i + 8]):
            byte |= bit << j
        data.append(byte)
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def test_gif_decodes_first_frame_with_lzw_width_growth():
    """A 16x4 two-color GIF whose pixels are all root codes with NO
    clear codes: the decoder's own table growth must bump the code
    width at exactly 2^width, and the decoded indexes must map through
    the palette to the source pattern.  A second fixture uses
    clear-per-pixel (constant width) and must decode identically."""
    import numpy as np

    from slow_tortoise_spark.operators.multimodal import _gif_pixels

    rows = [[(x + y) % 2 for x in range(16)] for y in range(4)]
    pal = [(10, 20, 30), (200, 150, 100)]
    for clears in ("none", "always"):
        gif = _gif_encode_for_test(rows, pal, clears=clears)
        rgb = _gif_pixels(gif)
        assert rgb.shape == (4, 16, 3)
        for y in range(4):
            for x in range(16):
                assert tuple(rgb[y, x]) == pal[rows[y][x]], (clears, y, x)


def test_gif_interlaced_and_extension_blocks():
    """Interlaced GIF (four-pass row order) with a graphic-control
    extension before the image descriptor: rows must land deinterlaced
    and the extension must be skipped cleanly."""
    import numpy as np

    from slow_tortoise_spark.operators.multimodal import (
        _decode_image_stub,
        _gif_pixels,
        extract_image_features,
    )

    # 8 distinct rows so any interlace mistake misplaces a row
    rows = [[y % 4] * 8 for y in range(8)]
    pal = [(0, 0, 0), (85, 85, 85), (170, 170, 170), (255, 255, 255)]
    gif = _gif_encode_for_test(rows, pal, interlaced=True)
    # splice a GCE extension (0x21 0xF9, 4-byte block) after the GCT
    ix = gif.index(b"\x2c")
    gif = gif[:ix] + b"\x21\xf9\x04\x00\x00\x00\x00\x00" + gif[ix:]
    rgb = _gif_pixels(gif)
    for y in range(8):
        assert tuple(rgb[y, 0]) == pal[y % 4], y

    # end-to-end through the Spark tier: real histogram, not the stub
    import pyspark.sql.functions as F  # noqa: F401

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        df = spark.createDataFrame(
            [(1, gif)], "media_id long, content binary"
        )
        feats = list(extract_image_features(df).collect()[0]["features"])
        assert feats != _decode_image_stub(gif)["features"]
        assert abs(sum(feats) - 1.0) < 1e-6


def test_sampling_family_is_partitioning_invariant(spark, sf_dir):
    """Every keyed-hash sampling/splitting operator promises results
    independent of cluster layout — the property that makes training
    pipelines reproducible across re-runs and re-partitions.  Pin it:
    the same corpus fed as-read vs. repartition(7) (row→partition
    assignment scrambled) and under a different shuffle-partition
    count must produce IDENTICAL rows from hash_split,
    stratified_sample, shuffle_rows (full total order), weighted_sample,
    negative_pairs, and temperature_mix."""
    from slow_tortoise_spark.operators.dedup import (
        hash_split,
        negative_pairs,
        shuffle_rows,
        stratified_sample,
        temperature_mix,
        weighted_sample,
    )
    from slow_tortoise_spark.sources.reader import read_table

    docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source", "n_chars"
    )

    def outputs(d):
        return [
            sorted((r["doc_id"], r["split"])
                   for r in hash_split(d).collect()),
            sorted(r["doc_id"] for r in stratified_sample(
                d, "source", {"web": 0.25}, default_fraction=0.5
            ).collect()),
            sorted((r["doc_id"], r["bucket"], r["bucket_rank"])
                   for r in shuffle_rows(d).collect()),
            sorted(r["doc_id"] for r in weighted_sample(
                d, 50, "n_chars"
            ).collect()),
            sorted((r["doc_id"], r["neg_id"])
                   for r in negative_pairs(d, k=2).collect()),
            sorted(r["doc_id"] for r in temperature_mix(
                d, "source", budget=500, alpha=0.5
            ).collect()),
        ]

    base = outputs(docs)
    assert all(len(o) > 0 for o in base)
    assert outputs(docs.repartition(7)) == base
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        assert outputs(docs.repartition(11)) == base
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_star_collapse_matches_pairwise_on_triangle_free_data(spark):
    """Star pre-pass + pairwise tier keeps EXACTLY the pure pairwise
    keep-set when no boundary triangle exists: every star drop is a
    pairwise drop (the representative is the group minimum), and every
    remaining pairwise drop still forms against a survivor."""
    import numpy as np

    from slow_tortoise_spark.operators.similarity import (
        lsh_near_duplicates,
        star_collapse_drops,
    )

    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    # six hot families of 40 near-identical vectors (the Σ|bucket|²
    # degeneracy shape) + 60 isolated vectors
    for _ in range(6):
        base = rng.randn(16)
        for _ in range(40):
            v = base + rng.randn(16) * 1e-3
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(60):
        rows.append((vid, [float(x) for x in rng.randn(16)]))
        vid += 1
    all_ids = {r[0] for r in rows}
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = [[float(x) for x in r] for r in rng.randn(8, 16)]
    thr = 0.98

    pure_drops = {
        r["id_b"]
        for r in lsh_near_duplicates(df, planes, bands=4, threshold=thr)
        .select("id_b").distinct().collect()
    }
    star = star_collapse_drops(df, planes, threshold=thr)
    star_drops = {r["vec_id"] for r in star.collect()}
    # the pre-pass must actually absorb the hot families, and only emit
    # drops the pairwise tier would also have emitted
    assert len(star_drops) >= 6 * 30
    assert star_drops <= pure_drops
    survivors = df.join(star, "vec_id", "left_anti")
    tail_drops = {
        r["id_b"]
        for r in lsh_near_duplicates(survivors, planes, bands=4, threshold=thr)
        .select("id_b").distinct().collect()
    }
    assert all_ids - (star_drops | tail_drops) == all_ids - pure_drops


def test_star_collapse_boundary_triangle_policy(spark):
    """Pinned keep policy on a boundary triangle rep<m<x (cos(rep,m)≥θ,
    cos(m,x)≥θ, cos(rep,x)<θ): the pure pairwise DROP policy lets the
    already-dropped m vote x out; the star pre-pass keeps x — a survivor
    is within θ of NO surviving vector."""
    import math

    from slow_tortoise_spark.operators.similarity import (
        lsh_near_duplicates,
        star_collapse_drops,
    )

    a = 0.3  # cos(0.3)=0.955 ≥ 0.9; cos(0.6)=0.825 < 0.9
    rows = [
        (0, [1.0, 0.0]),
        (1, [math.cos(a), math.sin(a)]),
        (2, [math.cos(2 * a), math.sin(2 * a)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = [[1.0, 0.0]] * 4  # every vector shares every bit
    thr = 0.9

    pure_drops = {
        r["id_b"]
        for r in lsh_near_duplicates(df, planes, bands=4, threshold=thr)
        .select("id_b").distinct().collect()
    }
    assert pure_drops == {1, 2}  # 2 voted out by the dropped 1

    star = star_collapse_drops(df, planes, threshold=thr)
    assert {r["vec_id"] for r in star.collect()} == {1}
    survivors = df.join(star, "vec_id", "left_anti")
    tail = lsh_near_duplicates(survivors, planes, bands=4, threshold=thr)
    assert tail.count() == 0  # cos(0,2) < θ: x survives under the pin


# ---------------------------------------------------------------------------
# Product quantization (PQ) — codes, strategies, ADC
# ---------------------------------------------------------------------------


def _pq_reference(vectors, m, ksub, iters):
    """Pure-Python PQ trainer mirroring the engine contract: md5-ordered
    seeding, argmin-L2 with lowest-code ties, empty clusters carrying the
    previous centroid forward.  vectors: {vec_id: [floats]}."""
    import hashlib

    ids = sorted(vectors)
    d = len(vectors[ids[0]])
    dsub = d // m
    seed_ids = sorted(
        ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:ksub]
    books = [
        [vectors[sid][s * dsub:(s + 1) * dsub] for sid in seed_ids]
        for s in range(m)
    ]

    def assign(books):
        codes = {}
        for i in ids:
            cs = []
            for s in range(m):
                sub = vectors[i][s * dsub:(s + 1) * dsub]
                dists = [
                    sum((a - b) ** 2 for a, b in zip(sub, c))
                    for c in books[s]
                ]
                cs.append(dists.index(min(dists)))
            codes[i] = cs
        return codes

    for _ in range(iters):
        codes = assign(books)
        nxt = []
        for s in range(m):
            book = []
            for j in range(ksub):
                members = [vectors[i][s * dsub:(s + 1) * dsub]
                           for i in ids if codes[i][s] == j]
                if members:
                    book.append([sum(col) / len(members)
                                 for col in zip(*members)])
                else:
                    book.append(books[s][j])
            nxt.append(book)
        books = nxt
    return books, assign(books)


def test_pq_codes_match_python_reference(spark, sf_dir):
    """Engine PQ (train + encode) matches a pure-Python reference
    implementation code-for-code across iteration counts — seeding,
    Lloyd updates, argmin tie order, and the carry-forward contract all
    value-checked, not just shapes."""
    from slow_tortoise_spark.operators.similarity import pq_encode, pq_train
    from slow_tortoise_spark.sources.reader import read_table

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet").filter(
        "vec_id < 60"
    )
    vectors = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.collect()
    }
    for iters in (0, 1, 2):
        cb = pq_train(emb, m=4, ksub=4, iters=iters)
        _, want = _pq_reference(vectors, m=4, ksub=4, iters=iters)
        got = {
            r["vec_id"]: list(r["pq_codes"])
            for r in pq_encode(emb, cb).select("vec_id", "pq_codes").collect()
        }
        assert got == want, f"codes diverge at iters={iters}"


def test_pq_encode_strategies_identical(spark, sf_dir):
    """Broadcast-join encode must agree code-for-code with the literal
    plan (including argmin ties to the lowest code), and the literal
    plan must stay map-only — zero exchanges."""
    from slow_tortoise_spark.operators.similarity import (
        _pq_encode_join,
        pq_encode,
        pq_train,
    )
    from slow_tortoise_spark.sources.reader import read_table

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    cb = pq_train(emb, m=4, ksub=4, iters=1)
    lit_df = pq_encode(emb, cb, strategy="literal")
    lit = {r["vec_id"]: list(r["pq_codes"])
           for r in lit_df.select("vec_id", "pq_codes").collect()}
    jn = {r["vec_id"]: list(r["pq_codes"])
          for r in _pq_encode_join(emb, cb)
          .select("vec_id", "pq_codes").collect()}
    assert lit == jn and len(lit) == emb.count()
    plan = lit_df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # map-only: codebook ships in the plan


def test_pq_adc_matches_python_recompute(spark, sf_dir):
    """ADC micro-distances equal a driver-side recompute from the same
    codes and codebooks (table lookup + sequential sum), and the result
    is the true top-k of the full recomputed ranking."""
    from slow_tortoise_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )
    from slow_tortoise_spark.sources.reader import read_table

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    cb = pq_train(emb, m=4, ksub=4, iters=1)
    enc = pq_encode(emb, cb)
    q = [float(x)
         for x in emb.filter("vec_id = 3").first()["embedding"]]
    dsub = len(cb[0][0])
    dtab = [
        [sum((q[s * dsub + p] - c[p]) ** 2 for p in range(dsub))
         for c in cb[s]]
        for s in range(len(cb))
    ]
    want = {}
    for r in enc.select("vec_id", "pq_codes").collect():
        d = 0.0
        for s, code in enumerate(r["pq_codes"]):
            d = d + dtab[s][code]
        want[r["vec_id"]] = round(d * 1e6)
    got = pq_adc_topk(enc, cb, q, k=8).collect()
    for r in got:
        assert r["adc_dist_micros"] == want[r["vec_id"]]
    cutoff = sorted((v, i) for i, v in want.items())[:8]
    assert [(r["adc_dist_micros"], r["vec_id"]) for r in got] == cutoff


def test_pq_validation_errors(spark):
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.similarity import pq_topk, pq_train

    df = spark.createDataFrame(
        [Row(vec_id=0, embedding=[1.0, 2.0, 3.0])]
    )
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(df, m=2, ksub=1, iters=0)
    with pytest.raises(ValueError, match="not found"):
        pq_topk(df.withColumn("embedding",
                              F.expr("array(1.0d, 2.0d, 3.0d, 4.0d)")),
                query_id=99, m=2, ksub=1, iters=0)


# ---------------------------------------------------------------------------
# BM25 retrieval ranking
# ---------------------------------------------------------------------------


def test_bm25_hand_derived(spark):
    """Three-doc corpus with hand-derivable BM25 factors (Robertson
    always-positive idf, k1=1.2, b=0.75)."""
    import math

    from pyspark.sql import Row

    from slow_tortoise_spark.operators.text import bm25_scores

    docs = spark.createDataFrame([
        Row(doc_id=0, text="cat dog cat"),
        Row(doc_id=1, text="dog dog dog dog"),
        Row(doc_id=2, text="bird"),
    ])
    out = {r["doc_id"]: r["bm25_micros"]
           for r in bm25_scores(docs, ["cat", "dog"], k=10).collect()}
    n, avgdl = 3, 8.0 / 3.0
    idf = {"cat": math.log(1.0 + (n - 1 + 0.5) / 1.5),
           "dog": math.log(1.0 + (n - 2 + 0.5) / 2.5)}

    def term(tf, dl, t):
        return idf[t] * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

    want = {
        0: round((term(2, 3, "cat") + term(1, 3, "dog")) * 1e6),
        1: round(term(4, 4, "dog") * 1e6),
    }
    assert out == want  # doc 2 has no query term → no row
    with pytest.raises(ValueError, match="empty query"):
        bm25_scores(docs, [])


def test_bm25_ranking_order_and_k(spark, sf_dir):
    """Top-k is descending with doc_id tiebreak and respects k."""
    from slow_tortoise_spark.operators.text import bm25_scores
    from slow_tortoise_spark.sources.reader import read_table

    docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    rows = bm25_scores(docs, ["join", "vector", "scan"], k=15).collect()
    assert len(rows) == 15
    keys = [(-r["bm25_micros"], r["doc_id"]) for r in rows]
    assert keys == sorted(keys)


# ---------------------------------------------------------------------------
# IVFADC (IVF × residual PQ)
# ---------------------------------------------------------------------------


def test_ivfpq_persisted_pruning_and_parity(spark, sf_dir, tmp_path):
    """Persisted IVFADC index: from-path results equal the in-memory
    query, the probed-cell filter lands in PartitionFilters (unprobed
    cells never listed into the scan), and the scan reads ONLY
    (vec_id, pq_codes) — never the float vectors."""
    from slow_tortoise_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_topk,
        ivfpq_topk_from_path,
        write_ivfpq_index,
    )
    from slow_tortoise_spark.sources.reader import read_table

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    enc, cents, books = ivfpq_build(
        emb, n_cells=4, kmeans_iters=1, m=4, ksub=4, pq_iters=1
    )
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    mem = [(r["vec_id"], r["adc_dist_micros"])
           for r in ivfpq_topk(enc, cents, books, q, k=10, nprobe=2)
           .collect()]
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(enc, cents, books, path)
    disk_df = ivfpq_topk_from_path(spark, path, q, k=10, nprobe=2)
    disk = [(r["vec_id"], r["adc_dist_micros"]) for r in disk_df.collect()]
    assert mem == disk and len(mem) == 10
    assert mem[0][0] == 0  # self ranks first (its cell is always probed)
    plan = disk_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan.replace("#", " #").replace(
        "cell #", "cell#") or "PartitionFilters" in plan
    scan_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cell" in scan_line.split("PartitionFilters")[1][:40]
    assert "embedding" not in scan_line.split("ReadSchema")[-1]


def test_ivfpq_adc_matches_python_recompute(spark, sf_dir):
    """ADC micro-distances over the probed cells equal a pure-Python
    recompute: per-cell query residual → distance table → code lookups."""
    from slow_tortoise_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_topk,
    )
    from slow_tortoise_spark.sources.reader import read_table

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    enc, cents, books = ivfpq_build(
        emb, n_cells=4, kmeans_iters=1, m=4, ksub=4, pq_iters=1
    )
    q = [float(x) for x in emb.filter("vec_id = 5").first()["embedding"]]
    import math

    qn = math.sqrt(sum(x * x for x in q))

    def cos(c):
        cn = math.sqrt(sum(x * x for x in c))
        return sum(a * b for a, b in zip(q, c)) / (qn * cn or 1.0)

    probe = [cid for cid, c in sorted(cents, key=lambda t: -cos(t[1]))[:2]]
    cent = dict(cents)
    dsub = len(books[0][0])
    want = {}
    for r in enc.select("vec_id", "cell", "pq_codes").collect():
        if r["cell"] not in probe:
            continue
        qres = [a - b for a, b in zip(q, cent[r["cell"]])]
        d = 0.0
        for s, code in enumerate(r["pq_codes"]):
            cb = books[s][code]
            d = d + sum(
                (qres[s * dsub + p] - cb[p]) ** 2 for p in range(dsub)
            )
        want[r["vec_id"]] = round(d * 1e6)
    got = ivfpq_topk(enc, cents, books, q, k=10, nprobe=2).collect()
    assert len(got) == 10
    for r in got:
        assert r["adc_dist_micros"] == want[r["vec_id"]]
    cutoff = sorted((v, i) for i, v in want.items())[:10]
    assert [(r["adc_dist_micros"], r["vec_id"]) for r in got] == cutoff


def test_residual_expr_is_cell_id_keyed(spark):
    """The residual lookup keys by CELL ID, not centroid-list position —
    a centroid list with a gap (an empty cell dropped by a Lloyd round)
    must still subtract the right centroid."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.similarity import _residual_expr

    df = spark.createDataFrame([
        Row(vec_id=0, embedding=[10.0, 20.0], cell=2),
        Row(vec_id=1, embedding=[5.0, 5.0], cell=0),
    ])
    gappy = [(0, [1.0, 1.0]), (2, [10.0, 10.0])]  # cell 1 vanished
    out = {r["vec_id"]: r["res"] for r in df.withColumn(
        "res", _residual_expr("embedding", gappy)).collect()}
    assert out[0] == [0.0, 10.0]   # 10-10, 20-10 (cell 2's centroid)
    assert out[1] == [4.0, 4.0]    # 5-1, 5-1 (cell 0's centroid)


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------


def _pagerank_reference(edges, iters=3, d=0.85):
    """Pure-Python power iteration mirroring the operator contract:
    multiplicity counts, dangling mass redistributes uniformly."""
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    deg = {}
    for a, _ in edges:
        deg[a] = deg.get(a, 0) + 1
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dangling = sum(r[v] for v in nodes if v not in deg)
        contrib = {v: 0.0 for v in nodes}
        for a, b in edges:
            contrib[b] += r[a] / deg[a]
        r = {
            v: (1.0 - d) / n + d * (contrib[v] + dangling / n)
            for v in nodes
        }
    return r


def test_pagerank_hand_derived_with_dangling(spark):
    """Cycle + dangling sink: engine micros equal the Python reference,
    total mass stays 1 (the dangling redistribution's whole point),
    and the sink's inbound share shows up."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.graph import pagerank

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")]
    df = spark.createDataFrame([Row(src=s, dst=t) for s, t in edges])
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=3).collect()}
    want = _pagerank_reference(edges, iters=3)
    assert set(got) == set(want)
    for v in want:
        assert round(got[v] * 1e6) == round(want[v] * 1e6), v
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_edge_multiplicity_counts(spark):
    """A doubled edge sends twice the share — multiplicity is weight."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.graph import pagerank

    single = [("a", "b"), ("a", "c")]
    double = [("a", "b"), ("a", "b"), ("a", "c")]
    g1 = {r["node"]: r["rank"] for r in pagerank(
        spark.createDataFrame([Row(src=s, dst=t) for s, t in single]),
        iters=2).collect()}
    g2 = {r["node"]: r["rank"] for r in pagerank(
        spark.createDataFrame([Row(src=s, dst=t) for s, t in double]),
        iters=2).collect()}
    assert g2["b"] > g1["b"] and g2["c"] < g1["c"]
    for g, ed in ((g1, single), (g2, double)):
        want = _pagerank_reference(ed, iters=2)
        for v in want:
            assert round(g[v] * 1e6) == round(want[v] * 1e6)


def test_pagerank_releases_storage(spark):
    """Per-round checkpoints free: after collecting, cached storage
    returns to baseline (the CC-loop discipline)."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.graph import pagerank

    base = len([i for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()])
    df = spark.createDataFrame(
        [Row(src=f"n{i}", dst=f"n{(i * 7) % 50}") for i in range(200)]
    )
    out = pagerank(df, iters=2)
    out.collect()
    from slow_tortoise_spark.operators.cachectl import (
        free,
    )

    free(out)
    after = len([i for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()])
    assert after <= base + 1  # the returned frame itself was the last holder


@pytest.mark.parametrize("failing_call", [2, 3])
@pytest.mark.parametrize(
    "op", ["pagerank", "personalized_pagerank", "harmonic_centrality"])
def test_pagerank_releases_caches_on_every_path(spark, monkeypatch, op,
                                                failing_call):
    """A normal run leaves nothing in the cache manager; a run whose
    round fails (call 2 = round 1's checkpoint, call 3 = round 2's,
    after the edge cache is already dropped) re-raises with every cache
    and the live rank checkpoint released.  Personalized PageRank
    (TrustRank's operator) shares the loop shape and the contract.
    Harmonic centrality fails inside its first BFS round (call 2 = the
    new frontier, call 3 = its per-node counts), with its edge and node
    caches and the visited set live."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators import graph
    from slow_tortoise_spark.operators.cachectl import (
        free,
        tracked_checkpoint_count,
    )

    def run(df, weight_col=None):
        if op == "pagerank":
            return graph.pagerank(df, iters=3, weight_col=weight_col)
        if op == "harmonic_centrality":  # unweighted: one run per weight
            return graph.harmonic_centrality(df, radius=3)
        return graph.personalized_pagerank(df, seeds=["n0"], iters=3,
                                           weight_col=weight_col)

    def cache_empty():
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    spark.catalog.clearCache()
    df = spark.createDataFrame(
        [Row(src=f"n{i}", dst=f"n{(i * 7) % 50}", w=1 + i % 3)
         for i in range(200)]
    )
    for weight_col in (None, "w"):
        out = run(df, weight_col=weight_col)
        assert out.count() == 200
        assert cache_empty()
        free(out)

    base = tracked_checkpoint_count()
    real = graph.tracked_local_checkpoint
    calls = []

    def failing_checkpoint(frame, *args, **kwargs):
        calls.append(1)
        if len(calls) == failing_call:
            raise RuntimeError("round failed")
        return real(frame, *args, **kwargs)

    monkeypatch.setattr(graph, "tracked_local_checkpoint", failing_checkpoint)
    with pytest.raises(RuntimeError, match="round failed"):
        run(df)
    assert cache_empty()
    assert tracked_checkpoint_count() == base


def test_harmonic_centrality_hand_derived(spark):
    """Path graph a→b→c→d, radius 3 (reverse-BFS distances):
    H(a)=0 (no incoming), H(b)=1/1, H(c)=1/1+1/2, H(d)=1/1+1/2+1/3.
    Radius 2 truncates d's farthest term; duplicate edges and
    self-loops change nothing; a disconnected island scores within
    itself only."""
    from slow_tortoise_spark.operators.graph import harmonic_centrality

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"),
         ("a", "b"),              # duplicate edge: multiplicity ignored
         ("b", "b"),              # self-loop: ignored
         ("x", "y")],             # disconnected island
        "src string, dst string",
    )
    got = {r["node"]: r["harmonic"]
           for r in harmonic_centrality(edges, radius=3).collect()}
    assert got == {
        "a": 0.0, "b": 1.0, "c": 1.0 + 0.5, "d": 1.0 + 0.5 + 1.0 / 3.0,
        "x": 0.0, "y": 1.0,
    }
    got2 = {r["node"]: r["harmonic"]
            for r in harmonic_centrality(edges, radius=2).collect()}
    assert got2["d"] == 1.5 and got2["c"] == 1.5 and got2["b"] == 1.0


def test_harmonic_centrality_releases_storage(spark):
    """All per-round frontier/visited checkpoints and the edge/node
    caches free once the caller releases the returned frame."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.cachectl import free
    from slow_tortoise_spark.operators.graph import harmonic_centrality

    base = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    df = spark.createDataFrame(
        [Row(src=f"n{i}", dst=f"n{(i * 7) % 50}") for i in range(200)]
    )
    out = harmonic_centrality(df, radius=3)
    out.collect()
    free(out)
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after <= base + 1


def test_hyperball_tracks_exact_harmonic_ordering(spark):
    """HyperBall is a ranking instrument: on a hub-and-spokes graph
    (50 leaves all pointing at one hub, leaves chained in a ring) the
    sketch estimate must rank the hub clearly above every leaf, agree
    with the exact operator that leaves score ~alike, and be exactly
    reproducible under a different input partitioning (register max
    and the fixed-order folds leave no accumulation freedom)."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.graph import (
        harmonic_centrality,
        hyperball_harmonic,
    )

    edges = spark.createDataFrame(
        [Row(src=f"leaf{i}", dst="hub") for i in range(50)]
        + [Row(src=f"leaf{i}", dst=f"leaf{(i + 1) % 50}") for i in range(50)]
    )
    est = {r["node"]: r["harmonic_est"]
           for r in hyperball_harmonic(edges, radius=3).collect()}
    exact = {r["node"]: r["harmonic"]
             for r in harmonic_centrality(edges, radius=3).collect()}
    assert exact["hub"] > max(v for k, v in exact.items() if k != "hub")
    assert est["hub"] > max(v for k, v in est.items() if k != "hub")
    # m=16 sketches carry ~26% std error — the hub's ~60-node ball must
    # still land within a loose 2x band of truth
    assert 0.5 * exact["hub"] <= est["hub"] <= 2.0 * exact["hub"]
    est2 = {r["node"]: r["harmonic_est"]
            for r in hyperball_harmonic(edges.repartition(7),
                                        radius=3).collect()}
    assert est == est2  # bit-identical under re-partitioning


def test_k_core_hand_derived_with_cascade(spark):
    """Triangle a-b-c plus pendant chain c-d-e (given DIRECTED; the
    operator symmetrizes): the 2-core is exactly the triangle, and
    reaching it REQUIRES a cascade — e (degree 1) must fall before d
    (degree 2 → 1) does, so a single peeling pass would get this wrong.
    Duplicate edges and self-loops must not inflate degrees."""
    from slow_tortoise_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),
         ("c", "d"), ("d", "e"),
         ("a", "b"),             # duplicate: simple-graph degree
         ("d", "d")],            # self-loop: dropped
        "src string, dst string",
    )
    got = {r["node"]: r["degree"] for r in k_core(edges, k=2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}
    # k=1 keeps everything (every node has a neighbor)
    got1 = {r["node"]: r["degree"] for r in k_core(edges, k=1).collect()}
    assert set(got1) == {"a", "b", "c", "d", "e"}
    # k=3 empties this graph
    assert k_core(edges, k=3).count() == 0


def test_trustrank_hand_derived(spark):
    """Chain s→a→b with seed {s}, d=0.85, 3 iters — every value
    hand-derivable: b is dangling, so by iter 3 its mass (0.7225)
    returns to the SEED, not the whole graph: s = 0.15 + 0.85·0.7225 =
    0.764125, a = 0.85·0.15, b = 0.85·0.1275.  Total mass stays 1.0
    every round (teleport + damped flow is conservative).  A seed
    absent from the edge list still joins the node set and receives
    teleport (the TrustRank convention for vetted-but-unlinked hosts)."""
    from slow_tortoise_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame(
        [("s", "a"), ("a", "b")], "src string, dst string"
    )
    got = {r["node"]: r["rank"] for r in
           personalized_pagerank(edges, seeds=["s"], iters=3).collect()}
    assert round(got["s"] * 1e6) == round(0.764125 * 1e6)
    assert round(got["a"] * 1e6) == round(0.85 * 0.15 * 1e6)
    assert round(got["b"] * 1e6) == round(0.85 * 0.1275 * 1e6)
    assert abs(sum(got.values()) - 1.0) < 1e-12
    ghost = {r["node"]: r["rank"] for r in
             personalized_pagerank(edges, seeds=["s", "zz"],
                                   iters=1).collect()}
    assert "zz" in ghost and ghost["zz"] > 0  # absent seed gets teleport
    assert abs(sum(ghost.values()) - 1.0) < 1e-12


def test_k_core_oracle_unroll_has_margin():
    """The k_core oracle unrolls a FIXED 16 peeling rounds while the
    engine peels to fixpoint — sound only if the fixture converges well
    inside the horizon.  Enforce it: at both driver scale factors the
    unrolled adjacency must already be stationary by round 7 (nine
    spare rounds of margin), so a fixture change that lengthens the
    cascade fails HERE instead of as a spurious CORRECTNESS mismatch.
    Paths honor the conftest SPARK_GRAFT_TEST_SF_DIR convention (the
    env var names one sf dir; its parent is the testdata root) and the
    guard skips cleanly when the parquet isn't present."""
    import os

    import duckdb
    import pytest

    from slow_tortoise_spark.queries.verifier_iterative import _k_core_sql
    from tests.conftest import SF_DIR

    data_root = os.path.dirname(SF_DIR.rstrip("/"))
    sql = _k_core_sql(10, rounds=16)
    prologue = "WITH " + sql.split("WITH ", 1)[1].rsplit(
        " SELECT src AS node", 1)[0]
    for sf in ("sf0.001", "sf0.01"):
        paths = {t: os.path.join(data_root, sf, f"{t}.parquet")
                 for t in ("orders", "lineitem")}
        if not all(os.path.exists(p) for p in paths.values()):
            pytest.skip(f"testdata missing under {data_root}/{sf}")
        con = duckdb.connect()
        for t, p in paths.items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        sizes = [
            con.execute(prologue + f" SELECT COUNT(*) FROM adj{r}")
            .fetchone()[0]
            for r in range(17)
        ]
        assert sizes[7] == sizes[16], (sf, sizes)


def test_k_core_releases_storage(spark):
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.cachectl import free
    from slow_tortoise_spark.operators.graph import k_core

    base = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    df = spark.createDataFrame(
        [Row(src=f"n{i}", dst=f"n{(i * 7) % 50}") for i in range(200)]
    )
    out = k_core(df, k=2)
    out.collect()
    free(out)
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after <= base + 1


def test_hyperball_releases_storage(spark):
    """Every per-round sketch checkpoint and the edge/node caches free
    once the caller releases the returned frame."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.cachectl import free
    from slow_tortoise_spark.operators.graph import hyperball_harmonic

    base = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    df = spark.createDataFrame(
        [Row(src=f"n{i}", dst=f"n{(i * 7) % 50}") for i in range(200)]
    )
    out = hyperball_harmonic(df, radius=3)
    out.collect()
    free(out)
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after <= base + 1


def test_pagerank_empty_graph_releases_storage(spark):
    """The n == 0 early return must not leave the edge/degree/node
    caches registered for the session's lifetime."""
    from slow_tortoise_spark.operators.graph import pagerank

    base = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    empty = spark.createDataFrame([], "src string, dst string")
    out = pagerank(empty, iters=2)
    assert out.count() == 0
    assert list(out.columns) == ["node", "rank"]
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after <= base


def test_pq_encode_join_survives_user_s_j_columns(spark, sf_dir):
    """The broadcast-join encode's internal columns are underscore-
    prefixed: a user frame already carrying columns named 's' and 'j'
    must encode identically to the literal strategy and keep its own
    columns intact (the old unprefixed names produced duplicate columns
    and ambiguous-reference failures)."""
    from pyspark.sql import functions as F

    from slow_tortoise_spark.operators.similarity import (
        _pq_encode_join,
        pq_encode,
        pq_train,
    )
    from slow_tortoise_spark.sources.reader import read_table

    emb = (
        read_table(spark, f"{sf_dir}/embeddings.parquet")
        .withColumn("s", F.col("vec_id") * 2)
        .withColumn("j", F.lit("user-j"))
    )
    cb = pq_train(emb, m=4, ksub=4, iters=1)
    lit = {r["vec_id"]: list(r["pq_codes"])
           for r in pq_encode(emb, cb, strategy="literal")
           .select("vec_id", "pq_codes").collect()}
    got = _pq_encode_join(emb, cb)
    assert sorted(got.columns) == sorted(emb.columns + ["pq_codes"])
    rows = got.select("vec_id", "pq_codes", "s", "j").collect()
    assert {r["vec_id"]: list(r["pq_codes"]) for r in rows} == lit
    assert all(r["s"] == r["vec_id"] * 2 and r["j"] == "user-j"
               for r in rows)


def test_ivfpq_rerank_recall_and_exactness(spark, sf_dir):
    """Re-rank returns EXACT cosines for its candidates (bitwise equal
    to brute force on the same ids), improves or matches raw-ADC
    recall@10, and with rerank >= N it equals brute force exactly."""
    from slow_tortoise_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_build,
        ivfpq_rerank_topk,
        ivfpq_topk,
    )
    from slow_tortoise_spark.sources.reader import read_table

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    enc, cents, books = ivfpq_build(
        emb, n_cells=4, kmeans_iters=1, m=4, ksub=4, pq_iters=1
    )
    q = [float(x) for x in emb.filter("vec_id = 9").first()["embedding"]]
    exact = [(r["vec_id"], r["cosine"])
             for r in brute_force_topk(emb, q, k=10).collect()]
    exact_ids = {i for i, _ in exact}
    adc_ids = {r["vec_id"] for r in ivfpq_topk(
        enc, cents, books, q, k=10, nprobe=4).collect()}
    rr = [(r["vec_id"], r["cosine"]) for r in ivfpq_rerank_topk(
        emb, enc, cents, books, q, k=10, nprobe=4, rerank=100).collect()]
    assert len(set(i for i, _ in rr) & exact_ids) >= len(adc_ids & exact_ids)
    bf = {i: c for i, c in
          ((r["vec_id"], r["cosine"])
           for r in brute_force_topk(emb, q, k=n).collect())}
    for i, c in rr:
        assert c == bf[i]  # exact cosine, not quantized
    # full-probe + full-rerank degenerates to brute force exactly
    full = [(r["vec_id"], r["cosine"]) for r in ivfpq_rerank_topk(
        emb, enc, cents, books, q, k=10, nprobe=4, rerank=n).collect()]
    assert full == exact


def test_ivfpq_rerank_candidate_broadcast_dispatch(spark, sf_dir,
                                                   monkeypatch):
    """Past IVFPQ_LITERAL_VALUE_LIMIT candidate ids, the re-rank stage
    must ship them as a broadcast semi-join instead of a literal IN
    list (production rerank ≈ 10k literals would blow up analysis/
    codegen exactly like the 32k-dtab case) — and the two strategies
    must return identical rows."""
    from slow_tortoise_spark.operators import similarity
    from slow_tortoise_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_rerank_topk,
    )
    from slow_tortoise_spark.sources.reader import read_table

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    enc, cents, books = ivfpq_build(
        emb, n_cells=4, kmeans_iters=1, m=4, ksub=4, pq_iters=1
    )
    q = [float(x) for x in emb.filter("vec_id = 9").first()["embedding"]]
    lit_rows = ivfpq_rerank_topk(
        emb, enc, cents, books, q, k=10, nprobe=4, rerank=64).collect()
    lit_plan = (
        ivfpq_rerank_topk(emb, enc, cents, books, q,
                          k=10, nprobe=4, rerank=64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftSemi" not in lit_plan  # small rerank keeps the IN path

    monkeypatch.setattr(similarity, "IVFPQ_LITERAL_VALUE_LIMIT", 4)
    bc = ivfpq_rerank_topk(
        emb, enc, cents, books, q, k=10, nprobe=4, rerank=64)
    bc_plan = bc._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in bc_plan and "BroadcastExchange" in bc_plan
    # no 64-literal IN predicate survives in the broadcast plan
    assert " IN (" not in bc_plan.replace("dynamicpruning", "")
    assert [tuple(r) for r in bc.collect()] == [
        tuple(r) for r in lit_rows]


# ---------------------------------------------------------------------------
# Round-11 graph tier: label propagation, core number, weighted ranks,
# HyperBall closeness
# ---------------------------------------------------------------------------


def _lp_reference(edges, iters):
    """Pure-Python synchronous min-tie-break label propagation."""
    import collections

    adj = collections.defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    lab = {v: v for v in adj}
    for _ in range(iters):
        new = {}
        for v in adj:
            cnt = collections.Counter(lab[u] for u in adj[v])
            new[v] = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        lab = new
    return lab


def test_label_propagation_matches_python_replay(spark):
    """Two triangles joined by a bridge: every round count 1–4 equals
    the synchronous Python reference (catching both the tie-break and
    the read-round-r−1 semantics), and by round 4 both triangles
    carry one label."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.graph import label_propagation

    edges = [("a1", "a2"), ("a2", "a3"), ("a3", "a1"),
             ("b1", "b2"), ("b2", "b3"), ("b3", "b1"), ("a1", "b1")]
    df = spark.createDataFrame([Row(src=s, dst=t) for s, t in edges])
    for iters in (1, 2, 3, 4):
        got = {r["node"]: r["label"]
               for r in label_propagation(df, iters=iters).collect()}
        assert got == _lp_reference(edges, iters), iters
    assert len(set(got.values())) == 1  # bridge merged the communities


def test_label_propagation_ignores_self_loops_and_multiplicity(spark):
    """The graph is SIMPLE for LP: duplicate rows and self-loops must
    not change any round (a doubled edge is still one neighbor vote)."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.graph import label_propagation

    base = [("x", "y"), ("y", "z"), ("z", "x"), ("z", "w")]
    noisy = base + [("x", "y"), ("x", "y"), ("w", "w")]
    g1 = {r["node"]: r["label"] for r in label_propagation(
        spark.createDataFrame([Row(src=s, dst=t) for s, t in base]),
        iters=3).collect()}
    g2 = {r["node"]: r["label"] for r in label_propagation(
        spark.createDataFrame([Row(src=s, dst=t) for s, t in noisy]),
        iters=3).collect()}
    assert g1 == g2 == _lp_reference(base, 3)


def test_label_propagation_releases_storage(spark):
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.cachectl import free
    from slow_tortoise_spark.operators.graph import label_propagation

    base = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    df = spark.createDataFrame(
        [Row(src=f"n{i}", dst=f"n{(i * 7) % 50}") for i in range(200)]
    )
    out = label_propagation(df, iters=3)
    out.collect()
    free(out)
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after <= base + 1


def _core_reference(edges):
    """Pure-Python core numbers via repeated peel-to-fixpoint (any
    correct method agrees — the decomposition is a graph invariant)."""
    import collections

    adj = collections.defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    cores = {}
    k = 1
    live = {v: set(ns) for v, ns in adj.items()}
    while live:
        # peel everything under k (cascading), assigning core k-1
        while True:
            bad = [v for v, ns in live.items() if len(ns) < k]
            if not bad:
                break
            for v in bad:
                cores[v] = k - 1
                for u in live.pop(v):
                    if u in live:
                        live[u].discard(v)
        k += 1
    return cores


def test_core_number_hand_fixtures(spark):
    """Star (center core 1 — the vanish case), triangle+pendant,
    K4-minus-an-edge, path: engine core numbers equal the hand-derived
    values, and every node with an edge is assigned."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.graph import core_number

    cases = [
        ([("c", "l0"), ("c", "l1"), ("c", "l2")],
         {"c": 1, "l0": 1, "l1": 1, "l2": 1}),
        ([("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")],
         {"a": 2, "b": 2, "c": 2, "d": 1}),
        ([("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d")],
         {"a": 2, "b": 2, "c": 2, "d": 2}),
        ([("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")],
         {x: 1 for x in "abcde"}),
    ]
    for edges, want in cases:
        df = spark.createDataFrame([Row(src=s, dst=t) for s, t in edges])
        got = {r["node"]: r["core"] for r in core_number(df).collect()}
        assert got == want, (edges, got)
        assert got == _core_reference(edges)


def test_core_number_consistent_with_k_core(spark):
    """Cross-operator invariant: {v : core(v) ≥ k} is exactly the
    k-core's node set for every k — core_number is the closure of
    k_core over all thresholds."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.graph import core_number, k_core

    df = spark.createDataFrame(
        [Row(src=f"n{i}", dst=f"n{(i * i + 3) % 40}") for i in range(160)]
    )
    cores = {r["node"]: r["core"] for r in core_number(df).collect()}
    assert cores  # non-degenerate fixture
    for k in (1, 2, 3, max(cores.values())):
        in_core = {r["node"] for r in k_core(df, k=k).collect()}
        assert in_core == {v for v, c in cores.items() if c >= k}, k


def test_core_number_empty_and_self_loop_graphs(spark):
    from slow_tortoise_spark.operators.graph import core_number

    empty = spark.createDataFrame([], "src string, dst string")
    assert core_number(empty).count() == 0
    loops = spark.createDataFrame([("a", "a")], "src string, dst string")
    assert core_number(loops).count() == 0


def test_core_number_releases_storage(spark):
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.cachectl import free
    from slow_tortoise_spark.operators.graph import core_number

    base = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    df = spark.createDataFrame(
        [Row(src=f"n{i}", dst=f"n{(i * 7) % 50}") for i in range(200)]
    )
    out = core_number(df)
    out.collect()
    free(out)
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after <= base + 1


def test_core_number_oracle_unroll_has_margin():
    """The core_number oracle unrolls 16 engine steps; the fixture must
    exhaust WELL inside that horizon at both driver scale factors
    (empty by step 12 — four spare steps), so a fixture/sf change that
    lengthens the peeling fails HERE, not as a spurious CORRECTNESS
    mismatch.  Same env-var convention as the k_core margin guard."""
    import os

    import duckdb
    import pytest

    from slow_tortoise_spark.queries.verifier_iterative import (
        _core_number_sql,
    )
    from tests.conftest import SF_DIR

    data_root = os.path.dirname(SF_DIR.rstrip("/"))
    sql = _core_number_sql(16)
    prologue = "WITH " + sql.split("WITH ", 1)[1].rsplit(
        " SELECT node, CAST(core AS INT)", 1)[0]
    for sf in ("sf0.001", "sf0.01"):
        paths = {t: os.path.join(data_root, sf, f"{t}.parquet")
                 for t in ("orders", "lineitem")}
        if not all(os.path.exists(p) for p in paths.values()):
            pytest.skip(f"testdata missing under {data_root}/{sf}")
        con = duckdb.connect()
        for t, p in paths.items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        remaining = con.execute(
            prologue + " SELECT COUNT(*) FROM cadj12").fetchone()[0]
        assert remaining == 0, (sf, remaining)
        # and the replayed decomposition matches a Python reference
        pairs = con.execute(
            prologue + " SELECT src, dst FROM cpairs").fetchall()
        want = _core_reference(pairs)
        got = dict(con.execute(
            prologue + " SELECT node, CAST(core AS INT) FROM ("
            + " UNION ALL ".join(
                f"SELECT node, core FROM crem{r}" for r in range(1, 17))
            + ")").fetchall())
        assert got == want, sf


def test_pagerank_weighted_equals_replicated_edges(spark):
    """Integer link weights ≡ integer edge replication (the operator's
    core contract), to float-accumulation tolerance; and the
    unweighted call path is untouched (micros-equal to the Python
    reference)."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.graph import pagerank

    weighted = [("a", "b", 3), ("b", "c", 1), ("c", "a", 2), ("a", "c", 1)]
    wdf = spark.createDataFrame(
        [Row(src=s, dst=t, w=w) for s, t, w in weighted])
    rdf = spark.createDataFrame(
        [Row(src=s, dst=t) for s, t, w in weighted for _ in range(w)])
    pw = {r["node"]: r["rank"]
          for r in pagerank(wdf, iters=4, weight_col="w").collect()}
    pr = {r["node"]: r["rank"] for r in pagerank(rdf, iters=4).collect()}
    assert set(pw) == set(pr)
    for v in pw:
        assert abs(pw[v] - pr[v]) < 1e-12, v
    assert abs(sum(pw.values()) - 1.0) < 1e-9


def test_trustrank_weighted_equals_replicated_edges(spark):
    """Same contract on the personalized variant, including a weighted
    DANGLING source (its rank must redistribute to the seeds whether
    the out-edges are weighted or replicated)."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.graph import personalized_pagerank

    weighted = [("a", "b", 2), ("b", "c", 3), ("c", "a", 1), ("b", "d", 1)]
    wdf = spark.createDataFrame(
        [Row(src=s, dst=t, w=w) for s, t, w in weighted])
    rdf = spark.createDataFrame(
        [Row(src=s, dst=t) for s, t, w in weighted for _ in range(w)])
    pw = {r["node"]: r["rank"] for r in personalized_pagerank(
        wdf, seeds=["a"], iters=4, weight_col="w").collect()}
    pr = {r["node"]: r["rank"] for r in personalized_pagerank(
        rdf, seeds=["a"], iters=4).collect()}
    assert set(pw) == set(pr)
    for v in pw:
        assert abs(pw[v] - pr[v]) < 1e-12, v
    assert abs(sum(pw.values()) - 1.0) < 1e-12  # mass conservation


def test_hyperball_closeness_shares_estimates_with_harmonic(spark):
    """Both geometric centralities are folds over the SAME per-round
    ball estimates: a node whose ball never grows past itself scores 0
    in both, and closeness is 0 exactly where sumdist is 0 (the
    F.when zero-guard)."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.graph import (
        hyperball_closeness,
        hyperball_harmonic,
    )

    df = spark.createDataFrame(
        [Row(src=f"n{i}", dst=f"n{(i * 3) % 20}") for i in range(60)]
    )
    hh = {r["node"]: r["harmonic_est"]
          for r in hyperball_harmonic(df, radius=3).collect()}
    hc = {r["node"]: r["closeness_est"]
          for r in hyperball_closeness(df, radius=3).collect()}
    assert set(hh) == set(hc)
    for v in hh:
        assert (hh[v] == 0.0) == (hc[v] == 0.0), v
        assert hc[v] >= 0.0


def test_hyperball_closeness_releases_storage(spark):
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.cachectl import free
    from slow_tortoise_spark.operators.graph import hyperball_closeness

    base = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    df = spark.createDataFrame(
        [Row(src=f"n{i}", dst=f"n{(i * 7) % 50}") for i in range(200)]
    )
    out = hyperball_closeness(df, radius=3)
    out.collect()
    free(out)
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after <= base + 1


def test_triangle_counts_hand_fixtures(spark):
    """Triangle + pendant (a,b,c each 1 triangle; d none), K4 (each
    node 3 triangles, clustering 1.0), and a bipartite square (4-cycle:
    zero triangles, clustering 0) — degrees, counts, and coefficients
    all hand-derived."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.graph import triangle_counts

    tri = spark.createDataFrame(
        [Row(src=s, dst=t) for s, t in
         [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")]])
    got = {r["node"]: (r["degree"], r["triangles"], round(r["clustering"], 6))
           for r in triangle_counts(tri).collect()}
    assert got == {
        "a": (3, 1, round(2 * 1 / (3 * 2), 6)),
        "b": (2, 1, 1.0),
        "c": (2, 1, 1.0),
        "d": (1, 0, 0.0),
    }, got

    k4 = spark.createDataFrame(
        [Row(src=s, dst=t) for s, t in
         [("a", "b"), ("a", "c"), ("a", "d"),
          ("b", "c"), ("b", "d"), ("c", "d")]])
    got = {r["node"]: (r["degree"], r["triangles"], r["clustering"])
           for r in triangle_counts(k4).collect()}
    assert got == {x: (3, 3, 1.0) for x in "abcd"}, got

    square = spark.createDataFrame(
        [Row(src=s, dst=t) for s, t in
         [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]])
    got = {r["node"]: (r["degree"], r["triangles"], r["clustering"])
           for r in triangle_counts(square).collect()}
    assert got == {x: (2, 0, 0.0) for x in "abcd"}, got


def test_triangle_counts_simple_graph_semantics(spark):
    """Duplicate rows, reversed duplicates, and self-loops must not
    change any count — the graph is SIMPLE and UNDIRECTED."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.graph import triangle_counts

    base = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")]
    noisy = base + [("b", "a"), ("a", "b"), ("c", "c")]
    g1 = {r["node"]: (r["degree"], r["triangles"])
          for r in triangle_counts(
              spark.createDataFrame(
                  [Row(src=s, dst=t) for s, t in base])).collect()}
    g2 = {r["node"]: (r["degree"], r["triangles"])
          for r in triangle_counts(
              spark.createDataFrame(
                  [Row(src=s, dst=t) for s, t in noisy])).collect()}
    assert g1 == g2


def test_triangle_counts_releases_storage(spark):
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.cachectl import free
    from slow_tortoise_spark.operators.graph import triangle_counts

    base = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    df = spark.createDataFrame(
        [Row(src=f"n{i}", dst=f"n{(i * 7) % 50}") for i in range(200)]
    )
    out = triangle_counts(df)
    out.collect()
    free(out)
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after <= base + 1


def test_neighborhood_function_matches_python_register_replay(spark):
    """The ANF curve is the same deterministic register function as the
    HyperBall centralities: rebuilding the per-node estimates from
    exact balls in Python, rounding to micros per node, and summing
    reproduces every N(r) exactly; the effective diameter obeys the
    integer 90% rule."""
    import collections
    import hashlib
    import math

    from pyspark.sql import Row

    from slow_tortoise_spark.operators.graph import neighborhood_function

    edges = [(f"n{i}", f"n{(i * 3) % 20}") for i in range(60)]
    df = spark.createDataFrame([Row(src=s, dst=t) for s, t in edges])
    got = {r["r"]: (r["ball_sum_micros"], r["effective_diameter"])
           for r in neighborhood_function(df, radius=3).collect()}

    def jr(name):
        h = hashlib.md5(name.encode()).hexdigest()
        j = int(h[0], 16)
        w = int(h[1:7], 16)
        return j, (25 if w == 0 else 25 - w.bit_length())

    def estimate(members):
        regs = [0] * 16
        for m in members:
            j, rank = jr(m)
            regs[j] = max(regs[j], rank)
        s = sum(2.0 ** (-float(rk)) for rk in regs)
        v = sum(1 for rk in regs if rk == 0)
        e_raw = 0.673 * 256.0 / s
        if e_raw <= 40.0 and v > 0:
            return 16.0 * math.log(16.0 / float(v))
        return e_raw

    es = {(a, b) for a, b in edges if a != b}
    nodes = {x for e in es for x in e}
    preds = collections.defaultdict(set)
    for a, b in es:
        preds[b].add(a)
    want = [0] * 4
    for v in nodes:
        seen, frontier = {v}, {v}
        ests = [estimate(seen)]
        for r in range(1, 4):
            frontier = {p for u in frontier for p in preds[u]} - seen
            seen |= frontier
            ests.append(estimate(seen))
        # per-node RUNNING MAX before rounding — the engine's guard
        # against the HLL linear-counting→raw regime switch shrinking
        # a ball estimate between rounds
        for r in range(4):
            want[r] += round(max(ests[: r + 1]) * 1e6)
    eff = next(r for r in range(4) if 10 * want[r] >= 9 * want[3])
    assert got == {r: (want[r], eff) for r in range(4)}, (got, want)
    # the curve is monotone BY THE RUNNING-MAX GUARD (raw per-round
    # HLL estimates are not — the regime switch can shrink one)
    assert want[0] <= want[1] <= want[2] <= want[3]


def test_neighborhood_function_releases_storage(spark):
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.cachectl import free
    from slow_tortoise_spark.operators.graph import neighborhood_function

    base = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    df = spark.createDataFrame(
        [Row(src=f"n{i}", dst=f"n{(i * 7) % 50}") for i in range(200)]
    )
    out = neighborhood_function(df, radius=3)
    assert out.count() == 4
    free(out)
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after <= base + 1


def test_pagerank_weighted_null_weight_fails_loudly(spark):
    """A NULL edge weight must fail the job, not silently leak rank
    mass (F.sum skips nulls, so the source would count as non-dangling
    while sending less than its full rank)."""
    import pytest
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [Row(src="a", dst="b", w=2), Row(src="b", dst="a", w=None)],
        "src string, dst string, w int",
    )
    with pytest.raises(Exception, match="NULL edge weight"):
        pagerank(df, iters=1, weight_col="w").collect()


def test_label_propagation_weighted_heavy_edge_outvotes(spark):
    """A weight-3 edge must out-vote two weight-1 edges (the vote is
    the SUM of edge weights per label), and weighted LP with all
    weights 1 equals unweighted LP exactly."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.graph import label_propagation

    # x's neighbors: a (weight 3), b and c (weight 1 each, labels b,c)
    df = spark.createDataFrame(
        [Row(src="x", dst="a", w=3), Row(src="x", dst="b", w=1),
         Row(src="x", dst="c", w=1)])
    got = {r["node"]: r["label"] for r in
           label_propagation(df, iters=1, weight_col="w").collect()}
    assert got["x"] == "a"  # unweighted would tie-break to "a" too...
    heavier = spark.createDataFrame(
        [Row(src="x", dst="z", w=3), Row(src="x", dst="b", w=1),
         Row(src="x", dst="c", w=1)])
    got = {r["node"]: r["label"] for r in
           label_propagation(heavier, iters=1, weight_col="w").collect()}
    assert got["x"] == "z"  # weight 3 beats the b/c min-tie-break

    base = [("a1", "a2"), ("a2", "a3"), ("a3", "a1"), ("a1", "b1"),
            ("b1", "b2"), ("b2", "b3"), ("b3", "b1")]
    udf_ = spark.createDataFrame([Row(src=s, dst=t) for s, t in base])
    wdf = spark.createDataFrame([Row(src=s, dst=t, w=1) for s, t in base])
    for iters in (1, 3):
        gu = {r["node"]: r["label"] for r in
              label_propagation(udf_, iters=iters).collect()}
        gw = {r["node"]: r["label"] for r in
              label_propagation(wdf, iters=iters,
                                weight_col="w").collect()}
        assert gu == gw, iters


def test_label_propagation_weighted_sums_duplicate_pairs(spark):
    """Duplicate weighted (src, dst) rows SUM their weights during
    symmetrization — two weight-2 duplicates equal one weight-4 edge."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.graph import label_propagation

    dup = spark.createDataFrame(
        [Row(src="x", dst="z", w=2), Row(src="x", dst="z", w=2),
         Row(src="x", dst="b", w=1), Row(src="x", dst="c", w=2)])
    one = spark.createDataFrame(
        [Row(src="x", dst="z", w=4),
         Row(src="x", dst="b", w=1), Row(src="x", dst="c", w=2)])
    g1 = {r["node"]: r["label"] for r in
          label_propagation(dup, iters=2, weight_col="w").collect()}
    g2 = {r["node"]: r["label"] for r in
          label_propagation(one, iters=2, weight_col="w").collect()}
    assert g1 == g2


def test_transitivity_hand_fixtures(spark):
    """K4: 4 triangles... no — K4 has 4 triangles? C(4,3) = 4; wedges
    = 4·3·2/2 = 12; transitivity = 3·4/12 = 1.0.  Triangle+pendant:
    T = 1, wedges = 3+1+1 = 5 (a has d=3 → 3 wedges; b, c d=2 → 1
    each; d has 0), transitivity = 3/5.  4-cycle: T = 0."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.graph import transitivity

    k4 = spark.createDataFrame(
        [Row(src=s, dst=t) for s, t in
         [("a", "b"), ("a", "c"), ("a", "d"),
          ("b", "c"), ("b", "d"), ("c", "d")]])
    row = transitivity(k4).first()
    assert (row["triangles"], row["wedges"],
            row["transitivity_micros"]) == (4, 12, 1_000_000)

    tri = spark.createDataFrame(
        [Row(src=s, dst=t) for s, t in
         [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")]])
    row = transitivity(tri).first()
    assert (row["triangles"], row["wedges"]) == (1, 5)
    assert row["transitivity_micros"] == round(3 / 5 * 1e6)

    square = spark.createDataFrame(
        [Row(src=s, dst=t) for s, t in
         [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]])
    row = transitivity(square).first()
    assert (row["triangles"], row["wedges"],
            row["transitivity_micros"]) == (0, 4, 0)


def test_pack_sequences_matches_python_replay(spark):
    """Packing manifest equals a pure-Python concat-and-chunk replay
    (md5 bucketing, doc_id order, running totals), and the manifest
    tiles each bucket's token stream contiguously: every document
    starts exactly where its predecessor ended."""
    import hashlib

    from pyspark.sql import Row

    from slow_tortoise_spark.operators.packing import pack_sequences

    docs = [(i, " ".join(["tok"] * ((i * 7) % 23))) for i in range(60)]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in docs])
    got = {r["doc_id"]: (r["bucket"], r["tokens"], r["seq_first"],
                         r["seq_last"], r["offset_in_first"])
           for r in pack_sequences(df, max_tokens=16,
                                   n_buckets=4).collect()}

    cum = {}
    want = {}
    for i, t in sorted(docs):
        h = hashlib.md5(f"pack:{i}".encode()).hexdigest()
        b = int(h[:4], 16) % 4
        n = len([x for x in t.split() if x])
        cs = cum.get(b, 0)
        ce = cs + n
        cum[b] = ce
        want[i] = (b, n, cs // 16,
                   (ce - 1) // 16 if n > 0 else cs // 16, cs % 16)
    assert got == want
    # zero-token docs exist in the fixture (i*7 % 23 == 0) and must
    # not shift their neighbors
    assert any(n == 0 for _, n, *_ in want.values())


def test_pack_sequences_order_by_hash_matches_python_replay(spark):
    """order_by_hash=True packs each bucket in md5('packshuf:'||id)
    order (doc_id tie-break) — replayed in pure Python — and the
    manifest is identical under a different input partitioning
    (determinism: the order comes from the keyed hash, never from
    physical layout).  A different salt is a different permutation."""
    import hashlib

    from pyspark.sql import Row

    from slow_tortoise_spark.operators.packing import pack_sequences

    docs = [(i, " ".join(["tok"] * ((i * 7) % 23))) for i in range(60)]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in docs])
    out = pack_sequences(df, max_tokens=16, n_buckets=4,
                         order_by_hash=True)
    got = {r["doc_id"]: (r["bucket"], r["tokens"], r["seq_first"],
                         r["seq_last"], r["offset_in_first"])
           for r in out.collect()}

    def key(i):
        return (hashlib.md5(f"packshuf:{i}".encode()).hexdigest(), i)

    cum = {}
    want = {}
    for i, t in sorted(docs, key=lambda d: key(d[0])):
        h = hashlib.md5(f"pack:{i}".encode()).hexdigest()
        b = int(h[:4], 16) % 4
        n = len([x for x in t.split() if x])
        cs = cum.get(b, 0)
        ce = cs + n
        cum[b] = ce
        want[i] = (b, n, cs // 16,
                   (ce - 1) // 16 if n > 0 else cs // 16, cs % 16)
    assert got == want
    # determinism under physical layout: a repartitioned input packs
    # identically
    got2 = {r["doc_id"]: (r["bucket"], r["tokens"], r["seq_first"],
                          r["seq_last"], r["offset_in_first"])
            for r in pack_sequences(df.repartition(7), max_tokens=16,
                                    n_buckets=4,
                                    order_by_hash=True).collect()}
    assert got2 == got
    # a fresh salt is a fresh permutation: at least one doc moves
    got3 = {r["doc_id"]: (r["seq_first"], r["offset_in_first"])
            for r in pack_sequences(df, max_tokens=16, n_buckets=4,
                                    order_by_hash=True,
                                    shuffle_salt="epoch2").collect()}
    assert got3 != {i: (v[2], v[4]) for i, v in got.items()}


def test_pack_sequences_null_token_count_raises(spark):
    """A NULL in token_count_col fails LOUDLY (the _edge_weight
    discipline): greatest(NULL, 0) would silently pack the doc as 0
    tokens, hiding a tokenizer bug."""
    import pytest
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b", n=2),
         Row(doc_id=2, text="c", n=None)],
        schema="doc_id bigint, text string, n bigint")
    with pytest.raises(Exception) as exc:
        pack_sequences(df, max_tokens=16, n_buckets=2,
                       token_count_col="n").collect()
    assert "NULL token count" in str(exc.value)


def test_sequence_index_tiles_sequences_and_docs(spark):
    """The loader-side index tiles BOTH ways: every sequence except a
    bucket's last is filled to exactly max_tokens by contiguous
    slices starting at offset 0, and every doc's slices tile
    [0, tokens) contiguously across its spanned sequences.  Zero-token
    docs contribute no rows."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.packing import (
        pack_sequences,
        sequence_index,
    )

    docs = [(i, " ".join(["tok"] * ((i * 7) % 23))) for i in range(60)]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in docs])
    man = pack_sequences(df, max_tokens=16, n_buckets=4)
    rows = sequence_index(man, max_tokens=16).collect()
    assert all(r["n_tokens"] > 0 for r in rows)

    by_seq: dict[tuple, list] = {}
    by_doc: dict[int, list] = {}
    for r in rows:
        by_seq.setdefault((r["bucket"], r["seq"]), []).append(r)
        by_doc.setdefault(r["doc_id"], []).append(r)

    last_seq = {}
    for (b, s) in by_seq:
        last_seq[b] = max(last_seq.get(b, -1), s)
    for (b, s), slices in by_seq.items():
        slices.sort(key=lambda r: r["seq_offset"])
        # contiguous from 0
        pos = 0
        for r in slices:
            assert r["seq_offset"] == pos, (b, s, r)
            pos += r["n_tokens"]
        if s < last_seq[b]:
            assert pos == 16, (b, s, pos)  # full sequence
        else:
            assert 0 < pos <= 16

    man_rows = {r["doc_id"]: r for r in man.collect()}
    for d, slices in by_doc.items():
        slices.sort(key=lambda r: r["doc_offset"])
        pos = 0
        for r in slices:
            assert r["doc_offset"] == pos, (d, r)
            pos += r["n_tokens"]
        assert pos == man_rows[d]["tokens"]
    # zero-token docs (present in the fixture) are absent from the index
    zeros = {d for d, r in man_rows.items() if r["tokens"] == 0}
    assert zeros and not zeros & set(by_doc)


def test_pack_sequences_token_count_col_and_validation(spark):
    """An explicit token_count column overrides the whitespace count;
    bad parameters fail loudly."""
    import pytest
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b c", n=10),
         Row(doc_id=2, text="d", n=10)])
    got = {r["doc_id"]: r["tokens"]
           for r in pack_sequences(df, max_tokens=16, n_buckets=2,
                                   token_count_col="n").collect()}
    assert got == {1: 10, 2: 10}
    with pytest.raises(ValueError):
        pack_sequences(df, max_tokens=0)
    with pytest.raises(ValueError):
        pack_sequences(df, n_buckets=0)
    with pytest.raises(ValueError):
        pack_sequences(df, n_buckets=65537)


def test_token_budget_select_matches_python_prefix(spark):
    """Budget selection equals the pure-Python greedy prefix over
    (score DESC, id ASC) at several budgets, including one landing
    EXACTLY on a doc boundary; budget 0 keeps nothing; budget >= total
    keeps everything; all-equal scores (the degenerate single-bucket
    case) still match."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.dedup import token_budget_select

    docs = [(i, " ".join(["t"] * (1 + (i * 5) % 9)), (i * 37) % 11)
            for i in range(80)]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t, score=s) for i, t, s in docs])

    def want(budget, scores=None):
        order = sorted(docs, key=lambda d: (-(scores or {}).get(
            d[0], d[2]), d[0]))
        kept, cum = set(), 0
        for i, t, s in order:
            n = len(t.split())
            if cum + n > budget:
                break
            cum += n
            kept.add(i)
        return kept

    totals = sum(len(t.split()) for _, t, _ in docs)
    boundary = None
    # find a budget that lands exactly on a doc edge mid-corpus
    order = sorted(docs, key=lambda d: (-d[2], d[0]))
    cum = 0
    for k, (i, t, s) in enumerate(order):
        cum += len(t.split())
        if k == 30:
            boundary = cum
    for budget in (0, 7, boundary, totals // 2, totals, totals + 10):
        # both dispatch shapes must equal the python prefix: the
        # default gate routes this 80-row corpus to the naive window,
        # naive_max_rows=0 forces the bounded bucketed-threshold plan
        for nmr in (None, 0):
            kw = {} if nmr is None else {"naive_max_rows": nmr}
            got = {r["doc_id"] for r in token_budget_select(
                df, budget=budget, score_col="score", **kw).collect()}
            assert got == want(budget), (budget, nmr)
    # degenerate: every score equal — single bucket, window-only path
    same = df.withColumn("score", df.score * 0)
    got = {r["doc_id"] for r in token_budget_select(
        same, budget=totals // 3, score_col="score").collect()}
    order0 = sorted(docs, key=lambda d: d[0])
    kept, cum = set(), 0
    for i, t, s in order0:
        n = len(t.split())
        if cum + n > totals // 3:
            break
        cum += n
        kept.add(i)
    assert got == kept


def test_token_budget_select_guards(spark):
    """NULL scores and NULL explicit token counts raise loudly;
    negative explicit counts clamp to zero (monotone-prefix safety);
    negative budget is rejected."""
    import pytest
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.dedup import token_budget_select

    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b", score=2, n=2),
         Row(doc_id=2, text="c", score=None, n=1)],
        schema="doc_id bigint, text string, score bigint, n bigint")
    with pytest.raises(Exception) as exc:
        token_budget_select(df, budget=1, score_col="score").collect()
    assert "NULL score" in str(exc.value)

    df2 = spark.createDataFrame(
        [Row(doc_id=1, text="a b", score=2, n=2),
         Row(doc_id=2, text="c", score=1, n=None)],
        schema="doc_id bigint, text string, score bigint, n bigint")
    with pytest.raises(Exception) as exc:
        token_budget_select(df2, budget=1, score_col="score",
                            token_count_col="n").collect()
    assert "NULL token count" in str(exc.value)

    # negative counts clamp: doc 2 occupies 0 tokens, so a 2-token
    # budget keeps both (score order: doc 1 first)
    df3 = spark.createDataFrame(
        [Row(doc_id=1, text="a b", score=2, n=2),
         Row(doc_id=2, text="c", score=1, n=-5)],
        schema="doc_id bigint, text string, score bigint, n bigint")
    got = {r["doc_id"] for r in token_budget_select(
        df3, budget=2, score_col="score", token_count_col="n").collect()}
    assert got == {1, 2}

    import pytest as _pt
    with _pt.raises(ValueError):
        token_budget_select(df3, budget=-1, score_col="score")


def test_token_budget_select_budget_zero_keeps_zero_token_prefix(spark):
    """budget == 0 is NOT an empty-result short-circuit: zero-token
    docs never overflow, so the naive cumsum-<=-0 window (the oracle)
    keeps exactly the zero-token docs sorting BEFORE the first
    positive-token doc — and only those (a zero-token doc AFTER the
    first overflow is dropped; cumsums are running, not kept-only).
    The r12 ADVICE divergence, pinned."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.dedup import token_budget_select

    # order by (score DESC, id): z1(0 tok) z2(0) a(3) z3(0) b(2)
    df = spark.createDataFrame([
        Row(doc_id=1, text="", score=9),        # z1: 0 tokens
        Row(doc_id=2, text="   ", score=8),     # z2: 0 tokens
        Row(doc_id=3, text="x y z", score=7),   # a: 3 tokens
        Row(doc_id=4, text="", score=6),        # z3: after overflow
        Row(doc_id=5, text="p q", score=5),
    ])
    got = {r["doc_id"] for r in token_budget_select(
        df, budget=0, score_col="score").collect()}
    assert got == {1, 2}
    # and mid-budget: overflow at doc 3 still drops the later zero doc
    got2 = {r["doc_id"] for r in token_budget_select(
        df, budget=2, score_col="score").collect()}
    assert got2 == {1, 2}
    # budget 3: doc 3 fits exactly, z3 rides along, b overflows
    got3 = {r["doc_id"] for r in token_budget_select(
        df, budget=3, score_col="score").collect()}
    assert got3 == {1, 2, 3, 4}


def test_token_budget_select_boundary_orders_by_raw_bigint_score(spark):
    """Scores above 2^53 collapse to EQUAL doubles; the boundary
    window must order by the RAW score (the double cast is
    bucketing-only), so the higher bigint score wins the last slot."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.dedup import token_budget_select

    hi = (1 << 60) + 1  # (1<<60) and (1<<60)+1 are equal as doubles
    df = spark.createDataFrame(
        [Row(doc_id=10, text="a a a", score=hi - 1),
         Row(doc_id=20, text="b b b", score=hi)],
        schema="doc_id bigint, text string, score bigint")
    assert float(hi) == float(hi - 1)  # the collapse premise
    got = {r["doc_id"] for r in token_budget_select(
        df, budget=3, score_col="score").collect()}
    assert got == {20}
    # raw-int refinement (stage score_int) separates them too when the
    # boundary is forced small (naive_max_rows=0 pins the bounded plan)
    diag = {}
    got2 = {r["doc_id"] for r in token_budget_select(
        df, budget=3, score_col="score", n_buckets=4,
        max_exact_rows=1, naive_max_rows=0, _diag=diag).collect()}
    assert got2 == {20}
    assert diag["boundary_rows"] == 1


def test_token_budget_select_degenerate_equal_scores_is_bounded(spark):
    """The r12 verdict hardening: an ALL-EQUAL-score corpus must NOT
    collapse to a corpus-wide single-task window — the bucketed-
    threshold pass recurses on the id tie-break axis (exact integer
    interpolation), so the final exact window sees <= max_exact_rows
    docs.  Result still equals the pure-Python greedy prefix."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.dedup import token_budget_select

    n = 1000
    docs = [(i, 1 + (i * 7) % 5) for i in range(n)]  # (id, tokens)
    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(["t"] * k), score=3)
         for i, k in docs])
    budget = sum(k for _, k in docs) // 2
    kept, cum = set(), 0
    for i, k in sorted(docs):
        if cum + k > budget:
            break
        cum += k
        kept.add(i)
    diag = {}
    got = {r["doc_id"] for r in token_budget_select(
        df, budget=budget, score_col="score", n_buckets=16,
        max_exact_rows=16, naive_max_rows=0, _diag=diag).collect()}
    assert got == kept
    assert diag["plan"] == "bounded"
    assert diag["boundary_rows"] <= 16  # bounded exact window
    assert diag["levels"] >= 2  # it actually recursed past the scores


def test_token_budget_select_degenerate_string_ids(spark):
    """Same hardening on STRING ids: the 6-byte zero-padded UTF-8
    window key is a monotone coarsening of the string sort, including
    ids that share long prefixes (separate only at a deep offset) and
    ids that are strict prefixes of others."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.dedup import token_budget_select

    ids = [f"doc-{'x' * 8}-{i:05d}" for i in range(300)]
    ids += ["doc-a", "doc-ab", "doc-abc"]  # prefix-of-prefix chain
    docs = [(d, 1 + (j * 3) % 4) for j, d in enumerate(ids)]
    df = spark.createDataFrame(
        [Row(doc_id=d, text=" ".join(["t"] * k), score=7)
         for d, k in docs])
    budget = sum(k for _, k in docs) // 3
    kept, cum = set(), 0
    for d, k in sorted(docs):
        if cum + k > budget:
            break
        cum += k
        kept.add(d)
    diag = {}
    got = {r["doc_id"] for r in token_budget_select(
        df, budget=budget, score_col="score", id_col="doc_id",
        n_buckets=8, max_exact_rows=8, naive_max_rows=0,
        _diag=diag).collect()}
    assert got == kept
    assert diag["boundary_rows"] <= 8


def _pack_replay_batches(batches, max_tokens, n_buckets,
                         order_by_hash=False, salt="packshuf"):
    """Pure-Python concat-and-chunk replay over successive batches:
    per bucket, batch b's docs append after batch b-1's total (the
    (batch, order) leading-sort-key semantics)."""
    import hashlib

    cum = {}
    want = {}
    for batch_no, docs in enumerate(batches):
        if order_by_hash:
            key = lambda d: (hashlib.md5(
                f"{salt}:{d[0]}".encode()).hexdigest(), d[0])
        else:
            key = lambda d: d[0]
        for i, n in sorted(docs, key=key):
            h = hashlib.md5(f"pack:{i}".encode()).hexdigest()
            b = int(h[:4], 16) % n_buckets
            cs = cum.get(b, 0)
            ce = cs + n
            cum[b] = ce
            want[i] = (b, n, cs // max_tokens,
                       (ce - 1) // max_tokens if n > 0
                       else cs // max_tokens,
                       cs % max_tokens, batch_no)
    return want


def test_pack_sequences_append_equals_union_repack(spark):
    """Appending after the per-bucket high-water marks is IDENTICAL to
    one pack over the union with batch as the leading within-bucket
    sort key (pure-Python replay), existing manifest rows pass through
    BIT-UNCHANGED, and a second append stacks batch 2 on batch 1."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.packing import (
        pack_sequences,
        pack_sequences_append,
    )

    def mk(ids):
        return spark.createDataFrame(
            [Row(doc_id=i, text=" ".join(["tok"] * ((i * 7) % 23)))
             for i in ids])

    b0, b1, b2 = list(range(5)), list(range(40, 70)), list(range(90, 100))
    toks = {i: (i * 7) % 23 for i in b0 + b1 + b2}
    man0 = pack_sequences(mk(b0), max_tokens=16, n_buckets=4)
    man0_rows = {tuple(r) for r in man0.collect()}
    app1 = pack_sequences_append(man0, mk(b1), max_tokens=16, n_buckets=4)
    # old rows bit-unchanged (batch column added as 0)
    old = {tuple(r)[:-1] for r in app1.filter("batch = 0").collect()}
    assert old == man0_rows
    got1 = {r["doc_id"]: (r["bucket"], r["tokens"], r["seq_first"],
                          r["seq_last"], r["offset_in_first"], r["batch"])
            for r in app1.collect()}
    want1 = _pack_replay_batches(
        [[(i, toks[i]) for i in b0], [(i, toks[i]) for i in b1]], 16, 4)
    assert got1 == want1
    # second append: batch numbering continues, batches stack
    app2 = pack_sequences_append(app1, mk(b2), max_tokens=16, n_buckets=4)
    got2 = {r["doc_id"]: (r["bucket"], r["tokens"], r["seq_first"],
                          r["seq_last"], r["offset_in_first"], r["batch"])
            for r in app2.collect()}
    want2 = _pack_replay_batches(
        [[(i, toks[i]) for i in ids] for ids in (b0, b1, b2)], 16, 4)
    assert got2 == want2
    # app1 rows (both batches) unchanged inside app2
    assert {tuple(r) for r in app1.collect()} <= {
        tuple(r) for r in app2.collect()}


def test_pack_sequences_append_order_by_hash_and_empty_manifest(spark):
    """order_by_hash appends in the keyed-hash order WITHIN the new
    batch only (old batches keep their recorded order); appending to
    an EMPTY manifest is batch 0 and equals a fresh pack."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.packing import (
        pack_sequences,
        pack_sequences_append,
    )

    def mk(ids):
        return spark.createDataFrame(
            [Row(doc_id=i, text=" ".join(["tok"] * ((i * 5) % 13)))
             for i in ids])

    b0, b1 = list(range(20)), list(range(50, 80))
    toks = {i: (i * 5) % 13 for i in b0 + b1}
    man0 = pack_sequences(mk(b0), max_tokens=16, n_buckets=4,
                          order_by_hash=True)
    app = pack_sequences_append(man0, mk(b1), max_tokens=16, n_buckets=4,
                                order_by_hash=True)
    got = {r["doc_id"]: (r["bucket"], r["tokens"], r["seq_first"],
                         r["seq_last"], r["offset_in_first"], r["batch"])
           for r in app.collect()}
    want = _pack_replay_batches(
        [[(i, toks[i]) for i in b0], [(i, toks[i]) for i in b1]],
        16, 4, order_by_hash=True)
    assert got == want
    # empty manifest: next batch is 0 and the result IS a fresh pack
    empty = man0.filter("1 = 0")
    app0 = pack_sequences_append(empty, mk(b1), max_tokens=16, n_buckets=4)
    fresh = pack_sequences(mk(b1), max_tokens=16, n_buckets=4)
    assert {tuple(r)[:-1] for r in app0.collect()} == {
        tuple(r) for r in fresh.collect()}
    assert {r["batch"] for r in app0.collect()} == {0}


def test_pack_sequences_append_guards(spark):
    """Parameter and manifest-shape guards raise loudly; NULL token
    counts in the new batch raise (the shared _doc_tokens guard)."""
    import pytest
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.packing import (
        pack_sequences,
        pack_sequences_append,
    )

    df = spark.createDataFrame([Row(doc_id=1, text="a b", n=2),
                                Row(doc_id=2, text="c", n=None)],
                               schema="doc_id bigint, text string, n bigint")
    man = pack_sequences(df.select("doc_id", "text"), max_tokens=8,
                         n_buckets=2)
    with pytest.raises(ValueError):
        pack_sequences_append(man, df, max_tokens=0)
    with pytest.raises(ValueError):
        pack_sequences_append(man, df, n_buckets=0)
    with pytest.raises(ValueError):
        pack_sequences_append(man.drop("tokens"), df)
    with pytest.raises(Exception) as exc:
        pack_sequences_append(man, df, max_tokens=8, n_buckets=2,
                              token_count_col="n").collect()
    assert "NULL token count" in str(exc.value)


def test_sequence_index_loader_roundtrip(spark):
    """The round-trip the packing family promises: manifest → index →
    gather real text token slices per (bucket, seq) — the index joined
    against the docs, F.slice on the split token array — and every
    bucket's reassembled stream equals its concat order EXACTLY, at
    two bucket counts.  Plus the single-sequence loader fetch: one
    (bucket, seq) range broadcast against the docs materializes
    exactly that training sequence."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from slow_tortoise_spark.operators.packing import (
        pack_sequences,
        sequence_index,
    )

    mt = 16
    docs = [(i, " ".join(f"w{i}_{j}" for j in range((i * 7) % 23)))
            for i in range(60)]
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in docs])
    toks_df = df.select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != ""
        ).alias("toks"),
    )
    for nb in (4, 8):
        man = pack_sequences(df, max_tokens=mt, n_buckets=nb)
        buckets = {r["doc_id"]: r["bucket"] for r in man.collect()}
        idx = sequence_index(man, max_tokens=mt)
        gathered = idx.join(toks_df, "doc_id").select(
            "bucket", "seq", "seq_offset",
            F.slice(
                "toks", F.col("doc_offset") + 1, F.col("n_tokens")
            ).alias("piece"),
        ).collect()
        # reassemble: place each piece at position seq*mt + seq_offset
        streams = {}
        for r in gathered:
            pos = r["seq"] * mt + r["seq_offset"]
            streams.setdefault(r["bucket"], []).append(
                (pos, list(r["piece"])))
        got = {}
        for b, pieces in streams.items():
            out = []
            for pos, piece in sorted(pieces):
                assert pos == len(out)  # contiguous tiling, no gaps
                out.extend(piece)
            got[b] = out
        want = {}
        for i, t in sorted(docs):
            want.setdefault(buckets[i], []).extend(
                x for x in t.split() if x)
        assert got == {b: s for b, s in want.items() if s}
        # single-sequence fetch: broadcast the one-seq index slice
        b0 = next(b for b, s in want.items() if len(s) > mt)
        one = idx.filter((F.col("bucket") == b0) & (F.col("seq") == 1))
        fetched = toks_df.join(
            F.broadcast(one.select(
                "doc_id", "doc_offset", "seq_offset", "n_tokens")),
            "doc_id",
        ).select(
            "seq_offset",
            F.slice(
                "toks", F.col("doc_offset") + 1, F.col("n_tokens")
            ).alias("piece"),
        ).collect()
        seq1 = []
        for r in sorted(fetched, key=lambda r: r["seq_offset"]):
            assert r["seq_offset"] == len(seq1)
            seq1.extend(r["piece"])
        assert seq1 == want[b0][mt:2 * mt]


def test_token_budget_mix_matches_python_per_group_prefix(spark):
    """Per-group budgets equal the pure-Python greedy prefix within
    each named group; unnamed groups are dropped; a budget-0 group
    keeps only its zero-token prefix; empty budgets raise."""
    import pytest
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.dedup import token_budget_mix

    docs = [(i, ["web", "code", "forum", "junk"][i % 4],
             " ".join(["t"] * ((i * 5) % 7)), (i * 37) % 11)
            for i in range(80)]
    df = spark.createDataFrame(
        [Row(doc_id=i, src=g, text=t, score=s) for i, g, t, s in docs])
    budgets = {"web": 40, "code": 0, "forum": 10_000}

    want = set()
    for g, b in budgets.items():
        cum = 0
        for i, gg, t, s in sorted(
                (d for d in docs if d[1] == g),
                key=lambda d: (-d[3], d[0])):
            n = len(t.split())
            if cum + n > b:
                break
            cum += n
            want.add(i)
    got = {r["doc_id"] for r in token_budget_mix(
        df, budgets, group_col="src", score_col="score").collect()}
    assert got == want
    assert not any(i % 4 == 3 for i in got)  # junk dropped entirely
    # the budget-0 group keeps exactly its zero-token prefix
    zero_kept = {i for i in got if i % 4 == 1}
    cum_check = [d for d in sorted((d for d in docs if d[1] == "code"),
                                   key=lambda d: (-d[3], d[0]))]
    expect0 = set()
    for i, _, t, _ in cum_check:
        if len(t.split()) > 0:
            break
        expect0.add(i)
    assert zero_kept == expect0
    with pytest.raises(ValueError):
        token_budget_mix(df, {}, group_col="src", score_col="score")


def test_token_budget_select_dispatch_gate(spark):
    """The measured naive/bounded cost gate (the jaccard_pairs_auto
    discipline): below ``naive_max_rows`` the COUNTED-small corpus
    runs the oracle's own single-window plan; at 0 the bounded
    bucketed-threshold plan fires.  Same kept set either side."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.dedup import token_budget_select

    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(["t"] * (1 + i % 5)),
             score=(i * 13) % 7) for i in range(60)])
    budget = 60
    d1, d2 = {}, {}
    naive = {r["doc_id"] for r in token_budget_select(
        df, budget=budget, score_col="score", _diag=d1).collect()}
    bounded = {r["doc_id"] for r in token_budget_select(
        df, budget=budget, score_col="score", naive_max_rows=0,
        _diag=d2).collect()}
    assert d1["plan"] == "naive"
    assert d2["plan"] == "bounded"
    assert naive == bounded
    # the gate is a row-count comparison against pass 1's exact count:
    # threshold exactly n keeps naive, n-1 flips to bounded
    d3, d4 = {}, {}
    token_budget_select(df, budget=budget, score_col="score",
                        naive_max_rows=60, _diag=d3).collect()
    token_budget_select(df, budget=budget, score_col="score",
                        naive_max_rows=59, _diag=d4).collect()
    assert d3["plan"] == "naive"
    assert d4["plan"] == "bounded"


def test_token_budget_nan_score_raises(spark):
    """A NaN score raises loudly on every budget operator (the r13
    ADVICE regression: NaN made the stage machine's `lo < hi` False,
    skipping refinement while scores still differed — whole buckets
    were kept in id order instead of (score DESC, id))."""
    import pytest
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.dedup import (
        token_budget_mix,
        token_budget_select,
    )

    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b", score=2.0),
         Row(doc_id=2, text="c d", score=float("nan")),
         Row(doc_id=3, text="e f", score=1.0)],
        schema="doc_id bigint, text string, score double")
    with pytest.raises(Exception) as exc:
        token_budget_select(df, budget=2, score_col="score").collect()
    assert "NaN score" in str(exc.value)
    with pytest.raises(Exception) as exc:
        token_budget_select(df, budget=2, score_col="score",
                            naive_max_rows=0).collect()
    assert "NaN score" in str(exc.value)
    dfg = df.withColumn("src", F.lit("web"))
    with pytest.raises(Exception) as exc:
        token_budget_mix(dfg, {"web": 2}, group_col="src",
                         score_col="score").collect()
    assert "NaN score" in str(exc.value)
    # integer scores can't be NaN — the guard must not reject them
    dfi = spark.createDataFrame(
        [Row(doc_id=1, text="a b", score=2),
         Row(doc_id=2, text="c", score=1)],
        schema="doc_id bigint, text string, score bigint")
    got = {r["doc_id"] for r in token_budget_select(
        dfi, budget=2, score_col="score").collect()}
    assert got == {1}


def test_token_budget_null_id_raises(spark):
    """A NULL id raises loudly — for INT ids (previously an
    uncontrolled driver TypeError in the integer-id refinement stage)
    and STRING ids (previously silently coalesced to the range
    minimum) alike; the r13 ADVICE consistency fix."""
    import pytest
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.dedup import token_budget_select

    dfi = spark.createDataFrame(
        [Row(doc_id=1, text="a b", score=1),
         Row(doc_id=None, text="c d", score=1)],
        schema="doc_id bigint, text string, score bigint")
    with pytest.raises(Exception) as exc:
        token_budget_select(dfi, budget=2, score_col="score").collect()
    assert "NULL id" in str(exc.value)
    dfs = spark.createDataFrame(
        [Row(doc_id="a", text="a b", score=1),
         Row(doc_id=None, text="c d", score=1)],
        schema="doc_id string, text string, score bigint")
    with pytest.raises(Exception) as exc:
        token_budget_select(dfs, budget=2, score_col="score",
                            naive_max_rows=0).collect()
    assert "NULL id" in str(exc.value)


def test_token_budget_helper_column_collision_raises(spark):
    """Input columns named like the reserved ``_tb_*`` helpers are
    rejected up front (they would be silently overwritten and dropped
    — the r13 ADVICE hole); token_budget_epochs additionally rejects
    an input ``epoch`` column (its own output name)."""
    import pytest
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.dedup import (
        token_budget_epochs,
        token_budget_mix,
        token_budget_select,
    )

    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b", score=1, _tb_toks=9)])
    with pytest.raises(ValueError) as exc:
        token_budget_select(df, budget=2, score_col="score")
    assert "_tb_toks" in str(exc.value)
    with pytest.raises(ValueError):
        token_budget_epochs(df, budget=2, score_col="score")
    dfg = df.withColumn("src", F.lit("web"))
    with pytest.raises(ValueError):
        token_budget_mix(dfg, {"web": 2}, group_col="src",
                         score_col="score")
    dfe = spark.createDataFrame(
        [Row(doc_id=1, text="a b", score=1, epoch=3)])
    with pytest.raises(ValueError) as exc:
        token_budget_epochs(dfe, budget=2, score_col="score")
    assert "epoch" in str(exc.value)


def test_token_budget_mix_single_histogram_job_round(spark):
    """The r13-verdict rewrite's shape claim, pinned: k open sources
    pay ONE grouped-stats job + ONE grouped-histogram job (driver_jobs
    == 2) — not k sequential passes — with no fallback/degenerate
    recursion on an ordinary score distribution; a source whose total
    fits its budget is classified keep_all and a source with all-equal
    scores routes to the bounded per-group recursion, results equal to
    the python per-group prefix throughout."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.dedup import token_budget_mix

    docs = [(i, ["web", "code", "forum"][i % 3],
             " ".join(["t"] * (1 + (i * 5) % 7)),
             (i * 37) % 11) for i in range(90)]
    df = spark.createDataFrame(
        [Row(doc_id=i, src=g, text=t, score=s) for i, g, t, s in docs])
    budgets = {"web": 40, "code": 25, "forum": 60}
    want = set()
    for g, b in budgets.items():
        cum = 0
        for i, gg, t, s in sorted((d for d in docs if d[1] == g),
                                  key=lambda d: (-d[3], d[0])):
            n = len(t.split())
            if cum + n > b:
                break
            cum += n
            want.add(i)
    diag = {}
    got = {r["doc_id"] for r in token_budget_mix(
        df, budgets, group_col="src", score_col="score",
        _diag=diag).collect()}
    assert got == want
    assert diag["driver_jobs"] == 2  # one stats + ONE histogram for k=3
    assert diag["hist"] == ["code", "forum", "web"]
    assert diag["fallback"] == [] and diag["degenerate"] == []
    # keep_all tier: a huge budget pays nothing past the stats job
    diag2 = {}
    got2 = {r["doc_id"] for r in token_budget_mix(
        df, {"web": 10_000_000}, group_col="src", score_col="score",
        _diag=diag2).collect()}
    assert got2 == {i for i, g, _, _ in docs if g == "web"}
    assert diag2["driver_jobs"] == 1
    assert diag2["keep_all"] == ["web"]
    # all-equal scores: no histogram axis — the bounded per-group
    # recursion fires and the prefix is id-ordered
    dfe = df.withColumn("score", F.lit(5))
    diag3 = {}
    got3 = {r["doc_id"] for r in token_budget_mix(
        dfe, {"web": 40}, group_col="src", score_col="score",
        _diag=diag3).collect()}
    cum, want3 = 0, set()
    for i, g, t, s in sorted((d for d in docs if d[1] == "web")):
        n = len(t.split())
        if cum + n > 40:
            break
        cum += n
        want3.add(i)
    assert got3 == want3
    assert diag3["degenerate"] == ["web"]


def test_token_budget_mix_null_group_key_and_boundary_fallback(spark):
    """A ``None`` budgets key selects NULL group values through the
    grouped-histogram plan (eqNullSafe join + NULL-safe predicates);
    an over-dense boundary bucket (max_exact_rows=1 forces it) routes
    that source through the bounded per-group recursion and still
    matches the python prefix."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.dedup import token_budget_mix

    docs = [(i, None if i % 3 == 0 else "web",
             " ".join(["t"] * (1 + (i * 5) % 7)),
             (i * 37) % 11) for i in range(60)]
    df = spark.createDataFrame(
        [Row(doc_id=i, src=g, text=t, score=s) for i, g, t, s in docs],
        schema="doc_id bigint, src string, text string, score bigint")
    budgets = {None: 30, "web": 45}
    want = set()
    for g, b in budgets.items():
        cum = 0
        for i, gg, t, s in sorted((d for d in docs if d[1] == g),
                                  key=lambda d: (-d[3], d[0])):
            n = len(t.split())
            if cum + n > b:
                break
            cum += n
            want.add(i)
    diag = {}
    got = {r["doc_id"] for r in token_budget_mix(
        df, budgets, group_col="src", score_col="score",
        _diag=diag).collect()}
    assert got == want
    assert diag["hist"] == ["web", None]  # named first, NULL key last
    # force the boundary bucket over max_exact_rows: the source pays
    # the per-group bounded recursion, result unchanged
    diag2 = {}
    got2 = {r["doc_id"] for r in token_budget_mix(
        df, budgets, group_col="src", score_col="score",
        n_buckets=2, max_exact_rows=1, _diag=diag2).collect()}
    assert got2 == want
    assert diag2["fallback"], diag2


def test_pack_sequences_epochs_matches_python_replay(spark):
    """Epoch-aware packing equals the pure-Python concat-and-chunk
    replay with epoch as the LEADING within-bucket sort key, for both
    the doc_id order and the hashed order (whose salt includes the
    epoch, so each repeat is a FRESH permutation)."""
    import hashlib

    from pyspark.sql import Row

    from slow_tortoise_spark.operators.packing import pack_sequences_epochs

    mt, nb = 8, 4
    docs = [(i, (i * 5) % 7) for i in range(40)]  # (id, tokens)
    # epochs 1..2 full + a partial epoch 3 holding ids < 10
    plan = [(i, e, n) for i, n in docs for e in (1, 2)]
    plan += [(i, 3, n) for i, n in docs if i < 10]
    df = spark.createDataFrame(
        [Row(doc_id=i, epoch=e, text=" ".join(["t"] * n))
         for i, e, n in plan])

    def replay(order_by_hash):
        cum, want = {}, {}
        def key(row):
            i, e, n = row
            if order_by_hash:
                h = hashlib.md5(f"packshuf:{e}:{i}".encode()).hexdigest()
                return (e, h, i)
            return (e, i)
        for i, e, n in sorted(plan, key=key):
            b = int(hashlib.md5(f"pack:{i}".encode()).hexdigest()[:4],
                    16) % nb
            cs = cum.get(b, 0)
            ce = cs + n
            cum[b] = ce
            want[(i, e)] = (b, n, cs // mt,
                            (ce - 1) // mt if n > 0 else cs // mt,
                            cs % mt)
        return want

    for obh in (False, True):
        got = {(r["doc_id"], r["epoch"]):
               (r["bucket"], r["tokens"], r["seq_first"],
                r["seq_last"], r["offset_in_first"])
               for r in pack_sequences_epochs(
                   df, max_tokens=mt, n_buckets=nb,
                   order_by_hash=obh).collect()}
        assert got == replay(obh), obh
    # fresh permutation per epoch: within one bucket, epoch 1's and
    # epoch 2's doc orders differ somewhere (same docs, salted hash)
    man = pack_sequences_epochs(df, max_tokens=mt, n_buckets=1,
                                order_by_hash=True).collect()
    def order_of(e):
        rows = [r for r in man if r["epoch"] == e and r["doc_id"] < 40]
        return [r["doc_id"] for r in sorted(
            rows, key=lambda r: (r["seq_first"], r["offset_in_first"],
                                 r["doc_id"]))]
    assert order_of(1) != order_of(2)


def test_pack_sequences_epochs_guards(spark):
    """The plan contract: a missing epoch column raises (pack a bare
    corpus with pack_sequences), NULL epochs raise, and the
    max_tokens/n_buckets validation matches the family."""
    import pytest
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.packing import pack_sequences_epochs

    df = spark.createDataFrame(
        [Row(doc_id=1, epoch=1, text="a b"),
         Row(doc_id=2, epoch=None, text="c")],
        schema="doc_id bigint, epoch bigint, text string")
    with pytest.raises(ValueError) as exc:
        pack_sequences_epochs(df.drop("epoch"))
    assert "epoch" in str(exc.value)
    with pytest.raises(Exception) as exc:
        pack_sequences_epochs(df, max_tokens=8, n_buckets=2).collect()
    assert "NULL epoch" in str(exc.value)
    with pytest.raises(ValueError):
        pack_sequences_epochs(df, max_tokens=0)
    with pytest.raises(ValueError):
        pack_sequences_epochs(df, n_buckets=0)


def test_pack_sequences_epochs_loader_roundtrip(spark):
    """The r13-verdict e2e: token_budget_epochs → pack_sequences_epochs
    → sequence_index reassembles every bucket's MULTI-EPOCH token
    stream exactly — the concat of (epoch, doc_id)-ordered doc tokens —
    and each epoch's positions per bucket are one contiguous block
    AFTER the previous epoch's (the resume/addressing guarantee)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from slow_tortoise_spark.operators.dedup import token_budget_epochs
    from slow_tortoise_spark.operators.packing import (
        pack_sequences_epochs,
        sequence_index,
    )

    mt, nb = 16, 4
    docs = [(i, " ".join(f"w{i}_{j}" for j in range(1 + (i * 7) % 13)))
            for i in range(50)]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t, score=(i * 11) % 17)
         for i, t in docs])
    total = sum(len(t.split()) for _, t in docs)
    budget = 2 * total + total // 3  # 2 full epochs + a partial third
    plan = token_budget_epochs(df, budget=budget, score_col="score",
                               max_epochs=4)
    man = pack_sequences_epochs(plan, max_tokens=mt, n_buckets=nb)
    rows = man.collect()
    # python side: which (doc, epoch) pairs exist, and expected streams
    by_score = sorted(docs, key=lambda d: (-((d[0] * 11) % 17), d[0]))
    partial, cum = [], 0
    for i, t in by_score:
        n = len(t.split())
        if cum + n > total // 3:
            break
        cum += n
        partial.append(i)
    toks = {i: t.split() for i, t in docs}
    import hashlib
    bucket = {i: int(hashlib.md5(f"pack:{i}".encode()).hexdigest()[:4],
                     16) % nb for i, _ in docs}
    want_pairs = {(i, e) for i, _ in docs for e in (1, 2)}
    want_pairs |= {(i, 3) for i in partial}
    assert {(r["doc_id"], r["epoch"]) for r in rows} == want_pairs
    want_streams = {}
    for e in (1, 2, 3):
        ids = sorted(i for i, ee in want_pairs if ee == e)
        for i in ids:
            want_streams.setdefault(bucket[i], []).extend(toks[i])
    # epoch contiguity: per bucket, min position of epoch e+1 >= max
    # cut of epoch e
    hw = {}
    for r in sorted(rows, key=lambda r: r["epoch"]):
        pos = r["seq_first"] * mt + r["offset_in_first"]
        b, e = r["bucket"], r["epoch"]
        assert pos >= hw.get((b, e - 1), 0), (b, e)
        hw[(b, e)] = max(hw.get((b, e), 0), pos + r["tokens"])
    # reassemble through the loader-side index
    toks_df = df.select(
        "doc_id",
        F.filter(F.split(F.trim(F.col("text")), r"\s+"),
                 lambda t: t != "").alias("toks"),
    )
    idx = sequence_index(man, max_tokens=mt)
    gathered = idx.join(toks_df, "doc_id").select(
        "bucket", "seq", "seq_offset",
        F.slice("toks", F.col("doc_offset") + 1,
                F.col("n_tokens")).alias("piece"),
    ).collect()
    streams = {}
    for r in gathered:
        streams.setdefault(r["bucket"], []).append(
            (r["seq"] * mt + r["seq_offset"], list(r["piece"])))
    got = {}
    for b, pieces in streams.items():
        out = []
        for pos, piece in sorted(pieces):
            assert pos == len(out)  # contiguous tiling across epochs
            out.extend(piece)
        got[b] = out
    assert got == want_streams


def test_sequence_index_works_on_appended_manifest(spark):
    """sequence_index over a MULTI-BATCH manifest (pack_sequences_append
    output) still tiles every bucket contiguously: cut positions stay
    valid because appends extend each bucket's token stream without
    moving old docs."""
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.packing import (
        pack_sequences,
        pack_sequences_append,
        sequence_index,
    )

    def mk(ids):
        return spark.createDataFrame(
            [Row(doc_id=i, text=" ".join(["tok"] * ((i * 7) % 23)))
             for i in ids])

    man = pack_sequences(mk(range(30)), max_tokens=16, n_buckets=4)
    app = pack_sequences_append(man, mk(range(40, 70)),
                                max_tokens=16, n_buckets=4)
    idx = sequence_index(app.drop("batch"), max_tokens=16)
    rows = idx.collect()
    # per (bucket, seq): slices tile [0, 16) contiguously except the
    # bucket's last sequence; per doc: slices tile [0, tokens)
    by_seq = {}
    by_doc = {}
    for r in rows:
        by_seq.setdefault((r["bucket"], r["seq"]), []).append(
            (r["seq_offset"], r["n_tokens"]))
        by_doc.setdefault(r["doc_id"], []).append(
            (r["doc_offset"], r["n_tokens"]))
    for (b, s), pieces in by_seq.items():
        pos = 0
        for off, n in sorted(pieces):
            assert off == pos
            pos += n
        last = max(q for (bb, q) in by_seq if bb == b)
        if s < last:
            assert pos == 16
    toks = {r["doc_id"]: r["tokens"] for r in app.collect()}
    for d, pieces in by_doc.items():
        pos = 0
        for off, n in sorted(pieces):
            assert off == pos
            pos += n
        assert pos == toks[d]


def test_token_budget_epochs_matches_python_plan(spark):
    """The epoch plan equals pure-Python arithmetic: full epochs =
    min(budget div total, max_epochs); the partial epoch is the greedy
    (score DESC, id) prefix of the remainder; no partial beyond
    max_epochs; budget < total degenerates to one prefix epoch; a
    zero-token corpus caps at max_epochs; guards raise."""
    import pytest
    from pyspark.sql import Row

    from slow_tortoise_spark.operators.dedup import token_budget_epochs

    docs = [(i, " ".join(["t"] * (1 + (i * 5) % 9)), (i * 37) % 11)
            for i in range(40)]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t, score=s) for i, t, s in docs])
    total = sum(len(t.split()) for _, t, _ in docs)

    def want(budget, max_epochs):
        fe = min(budget // total, max_epochs)
        plan = {(i, e) for i, _, _ in docs for e in range(1, fe + 1)}
        if fe < max_epochs:
            rem = budget - fe * total
            cum = 0
            for i, t, s in sorted(docs, key=lambda d: (-d[2], d[0])):
                n = len(t.split())
                if cum + n > rem:
                    break
                cum += n
                plan.add((i, fe + 1))
        return plan

    for budget, me in ((total * 2 + total // 3, 4),  # 2 full + partial
                       (total // 2, 4),              # prefix only
                       (total * 9, 3),               # capped, no partial
                       (total * 3, 3),               # exact fit at cap
                       (0, 2)):                      # empty partial
        got = {(r["doc_id"], r["epoch"]) for r in token_budget_epochs(
            df, budget=budget, score_col="score", max_epochs=me
        ).collect()}
        assert got == want(budget, me), (budget, me)

    # zero-token corpus: max_epochs full repeats, budget untouched
    z = spark.createDataFrame([Row(doc_id=1, text="", score=1),
                               Row(doc_id=2, text="  ", score=2)])
    got = {(r["doc_id"], r["epoch"]) for r in token_budget_epochs(
        z, budget=5, score_col="score", max_epochs=3).collect()}
    assert got == {(i, e) for i in (1, 2) for e in (1, 2, 3)}
    # empty corpus: empty plan with the epoch column present
    e = token_budget_epochs(df.filter("doc_id < 0"), budget=5,
                            score_col="score")
    assert e.count() == 0 and "epoch" in e.columns
    with pytest.raises(ValueError):
        token_budget_epochs(df, budget=-1, score_col="score")
    with pytest.raises(ValueError):
        token_budget_epochs(df, budget=1, score_col="score",
                            max_epochs=0)


# ---------------------------------------------------------------------------
# pack_sequences_nosplit: no-split (greedy next-fit) packing
# ---------------------------------------------------------------------------


def _nosplit_replay(docs, mt, nb, order_by_hash=False, salt="packshuf"):
    """Pure-Python next-fit replay: per bucket, a single (seq, fill)
    scan in the within-bucket order — the same state machine the
    operator's per-bucket pandas loop and the DuckDB recursive-CTE
    oracle both run."""
    import hashlib

    by_bucket = {}
    for i, n in docs:
        h = hashlib.md5(f"pack:{i}".encode()).hexdigest()
        b = int(h[:4], 16) % nb
        by_bucket.setdefault(b, []).append((i, n))
    want = {}
    for b, items in by_bucket.items():
        if order_by_hash:
            items.sort(key=lambda d: (
                hashlib.md5(f"{salt}:{d[0]}".encode()).hexdigest(), d[0]))
        else:
            items.sort()
        cur, fill = 0, 0
        for i, n in items:
            if n > mt:
                if fill > 0:
                    cur += 1
                want[i] = (b, n, cur, 0)
                fill = mt
            elif n == 0:
                want[i] = (b, n, cur, fill)
            elif fill + n <= mt:
                want[i] = (b, n, cur, fill)
                fill += n
            else:
                cur += 1
                want[i] = (b, n, cur, 0)
                fill = n
    return want


def _nosplit_docs(spark, toks):
    return spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(["tok"] * n))
         for i, n in toks.items()])


def test_pack_sequences_nosplit_matches_python_replay(spark):
    """Isolate-mode manifest equals the pure-Python next-fit replay on
    a mix of zero-token, normal, exactly-full and oversize docs; the
    result is identical at a different input partitioning (the scan
    is per-bucket, not per-partition)."""
    from slow_tortoise_spark.operators.packing import (
        pack_sequences_nosplit,
    )

    toks = {i: (i * 7) % 29 for i in range(80)}
    toks[3] = 0
    toks[11] = 16          # exactly max_tokens
    toks[17] = 45          # oversize
    toks[23] = 0
    toks[29] = 31          # oversize
    docs = _nosplit_docs(spark, toks)
    want = _nosplit_replay(sorted(toks.items()), 16, 4)
    for d in (docs, docs.repartition(7)):
        man = pack_sequences_nosplit(
            d, max_tokens=16, n_buckets=4, oversize="isolate")
        got = {r["doc_id"]: (r["bucket"], r["tokens"], r["seq"],
                             r["seq_offset"]) for r in man.collect()}
        assert got == want


def test_pack_sequences_nosplit_invariants(spark):
    """No-split invariants: every doc wholly inside one sequence
    (seq_offset + tokens <= max_tokens unless the doc itself is
    oversize-isolated at offset 0), non-zero docs in a sequence tile
    [0, fill) contiguously in doc order, and an oversize doc shares
    its sequence with nothing that consumes capacity."""
    from collections import defaultdict

    from slow_tortoise_spark.operators.packing import (
        pack_sequences_nosplit,
    )

    toks = {i: (i * 13) % 37 for i in range(120)}
    man = pack_sequences_nosplit(
        _nosplit_docs(spark, toks), max_tokens=24, n_buckets=4,
        oversize="isolate").collect()
    seqs = defaultdict(list)
    for r in man:
        if r["tokens"] > 0:
            seqs[(r["bucket"], r["seq"])].append(r)
    for (b, s), rows in seqs.items():
        rows.sort(key=lambda r: r["seq_offset"])
        if rows[0]["tokens"] > 24:
            assert len(rows) == 1 and rows[0]["seq_offset"] == 0
            continue
        fill = 0
        for r in rows:
            assert r["seq_offset"] == fill  # contiguous, no overlap
            fill += r["tokens"]
        assert fill <= 24
    # sequence ids per bucket are exactly 0..max(seq) (no gaps)
    by_bucket = defaultdict(set)
    for r in man:
        by_bucket[r["bucket"]].add(r["seq"])
    for b, ss in by_bucket.items():
        assert ss == set(range(max(ss) + 1))


def test_pack_sequences_nosplit_zero_token_and_hash_order(spark):
    """Zero-token docs are placement witnesses only — removing them
    does not move anyone else; order_by_hash packs each bucket in the
    keyed-hash permutation (replay pinned)."""
    from slow_tortoise_spark.operators.packing import (
        pack_sequences_nosplit,
    )

    toks = {i: (i * 5) % 13 for i in range(40)}
    zeros = {2, 9, 21}
    for z in zeros:
        toks[z] = 0
    with_z = {
        r["doc_id"]: (r["bucket"], r["seq"], r["seq_offset"])
        for r in pack_sequences_nosplit(
            _nosplit_docs(spark, toks), max_tokens=16, n_buckets=4
        ).collect()}
    without = {
        r["doc_id"]: (r["bucket"], r["seq"], r["seq_offset"])
        for r in pack_sequences_nosplit(
            _nosplit_docs(
                spark, {i: n for i, n in toks.items() if i not in zeros}),
            max_tokens=16, n_buckets=4,
        ).collect()}
    assert without == {
        i: p for i, p in with_z.items() if i not in zeros}
    want = _nosplit_replay(sorted(toks.items()), 16, 4,
                           order_by_hash=True)
    got = {r["doc_id"]: (r["bucket"], r["tokens"], r["seq"],
                         r["seq_offset"])
           for r in pack_sequences_nosplit(
               _nosplit_docs(spark, toks), max_tokens=16, n_buckets=4,
               order_by_hash=True).collect()}
    assert got == want


def test_pack_sequences_nosplit_guards(spark):
    """Oversize docs RAISE in the default 'error' mode (JVM-side, on
    first touch); NULL token counts raise; parameter guards match the
    family."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkRuntimeError

    from slow_tortoise_spark.operators.packing import (
        pack_sequences_nosplit,
    )

    docs = _nosplit_docs(spark, {1: 5, 2: 40})
    with pytest.raises((Py4JJavaError, PySparkRuntimeError, Exception),
                       match="more than max_tokens"):
        pack_sequences_nosplit(docs, max_tokens=16, n_buckets=4).collect()
    # all-fit corpus: error mode == isolate mode
    small = _nosplit_docs(spark, {i: (i * 3) % 11 for i in range(30)})
    err = {tuple(r) for r in pack_sequences_nosplit(
        small, max_tokens=16, n_buckets=4).collect()}
    iso = {tuple(r) for r in pack_sequences_nosplit(
        small, max_tokens=16, n_buckets=4, oversize="isolate").collect()}
    assert err == iso
    nulls = spark.createDataFrame(
        [Row(doc_id=1, n=None)], schema="doc_id long, n long")
    with pytest.raises((Py4JJavaError, PySparkRuntimeError, Exception),
                       match="NULL token count"):
        pack_sequences_nosplit(
            nulls, max_tokens=16, n_buckets=4, token_count_col="n"
        ).collect()
    for kw in ({"max_tokens": 0}, {"n_buckets": 0},
               {"n_buckets": 65537}, {"oversize": "truncate"}):
        with pytest.raises(ValueError):
            pack_sequences_nosplit(docs, **{"max_tokens": 16,
                                            "n_buckets": 4, **kw})


def test_pack_sequences_nosplit_single_exchange(spark):
    """The per-bucket scan costs ONE exchange (the groupBy(bucket)
    behind applyInPandas) — the same shuffle budget as
    pack_sequences' window; narrow rows only reach Python (no text
    column in the exchanged schema)."""
    from slow_tortoise_spark.operators.packing import (
        pack_sequences_nosplit,
    )

    docs = _nosplit_docs(spark, {i: (i * 3) % 11 for i in range(30)})
    man = pack_sequences_nosplit(
        docs, max_tokens=16, n_buckets=4, oversize="isolate")
    plan = man._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "text" not in plan.split("Exchange")[1].split("\n")[0]


def test_packing_family_null_id_raises(spark):
    """A NULL doc_id raises LOUDLY across the packing family (the
    token-budget loud-guard discipline): md5(NULL) would otherwise
    silently shard every unnamed doc into one NULL bucket, and a NULL
    id is unaddressable by a loader-side manifest lookup."""
    from slow_tortoise_spark.operators.packing import (
        pack_sequences,
        pack_sequences_nosplit,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b c"), Row(doc_id=None, text="d e")],
        schema="doc_id long, text string")
    for op in (pack_sequences, pack_sequences_nosplit):
        with pytest.raises(Exception, match="NULL document id"):
            op(docs, max_tokens=16, n_buckets=4).collect()


def test_pack_sequences_append_explicit_batch_no_guard(spark):
    """An explicit batch_no must be strictly past the manifest's max
    recorded batch (the streaming replay contract: a replayed batch is
    dropped from the committed set before re-appending, never appended
    twice); batch numbering continues from the explicit id."""
    from slow_tortoise_spark.operators.packing import (
        pack_sequences,
        pack_sequences_append,
    )

    def mk(ids):
        return spark.createDataFrame(
            [Row(doc_id=i, text=" ".join(["tok"] * ((i * 7) % 23)))
             for i in ids])

    man = pack_sequences(mk(range(5)), max_tokens=16, n_buckets=4)
    app = pack_sequences_append(
        man, mk(range(40, 50)), max_tokens=16, n_buckets=4, batch_no=7)
    assert {r["batch"] for r in app.collect()} == {0, 7}
    for bad in (0, 7, -1):
        with pytest.raises(ValueError, match="not past the manifest"):
            pack_sequences_append(
                app, mk(range(60, 65)), max_tokens=16, n_buckets=4,
                batch_no=bad)
    # implicit numbering continues after the explicit id
    nxt = pack_sequences_append(
        app, mk(range(60, 65)), max_tokens=16, n_buckets=4)
    assert {r["batch"] for r in nxt.collect()} == {0, 7, 8}
