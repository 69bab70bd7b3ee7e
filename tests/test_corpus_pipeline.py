"""Corpus pipeline e2e: gates, dedup tiers, splits, manifest."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from slow_tortoise_spark.corpus_pipeline import CorpusParams, run_corpus_pipeline
from slow_tortoise_spark.sources.reader import read_table


def test_corpus_pipeline_end_to_end(spark, sf_dir, tmp_path):
    docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    # plant exact + near duplicates and junk that the gates must drop
    extra = spark.createDataFrame([
        Row(doc_id=9_000_001,
            text=docs.filter("doc_id = 0").first()["text"]),   # exact dup
        Row(doc_id=9_000_002, text="tiny"),                    # < min_tokens
        Row(doc_id=9_000_003, text=("spam spam " * 40).strip()),  # repetitive
    ])
    corpus = docs.unionByName(extra)
    out = str(tmp_path / "corpus_out")
    manifest = run_corpus_pipeline(
        spark, corpus,
        CorpusParams(out_dir=out, min_tokens=5, max_rep_ratio=0.8,
                     dedup="minhash", near_dup_threshold=0.9),
    )

    n_in = corpus.count()
    assert manifest["input_docs"] == n_in
    # short + repetitive docs gone at the gates
    assert manifest["after_gates"] <= n_in - 2
    # the planted exact dup gone at the exact tier
    assert manifest["after_exact_dedup"] < manifest["after_gates"]
    assert manifest["after_near_dedup"] <= manifest["after_exact_dedup"]
    assert manifest["output_docs"] == manifest["after_near_dedup"]
    assert set(manifest["splits"]) <= {"train", "val", "test"}
    assert manifest["splits"]["train"] > manifest["splits"].get("val", 0)

    # written corpus is readable, partition-pruned by split, and contains
    # no surviving exact duplicates
    outdf = spark.read.parquet(f"{out}/corpus")
    assert outdf.count() == manifest["output_docs"]
    from pyspark.sql import functions as F

    dup_groups = (
        outdf.groupBy(F.md5(F.lower(F.trim("text"))).alias("f"))
        .count().filter("count > 1").count()
    )
    assert dup_groups == 0
    assert os.path.exists(os.path.join(out, "manifest.json"))
    m2 = json.load(open(os.path.join(out, "manifest.json")))
    assert m2["output_docs"] == manifest["output_docs"]
    # split dirs exist for partition pruning
    assert glob.glob(f"{out}/corpus/split=train")


def test_corpus_pipeline_packing_stage(spark, sf_dir, tmp_path):
    """pack_max_tokens wires the packing manifest as the export stage:
    every output doc appears exactly once, splits pack independently
    (no sequence crosses the train/valid boundary — bucket cumsums
    restart per split), and the manifest's sequence counts equal the
    exact Σ ceil(bucket_tokens / max_tokens) arithmetic."""
    docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).limit(120)
    out = str(tmp_path / "packed_out")
    manifest = run_corpus_pipeline(
        spark, docs,
        CorpusParams(out_dir=out, min_tokens=1, dedup="exact",
                     pack_max_tokens=32, pack_n_buckets=4),
    )
    assert "packing" in manifest
    pk = spark.read.parquet(f"{out}/packing")
    corpus = spark.read.parquet(f"{out}/corpus")
    # exactly-once: the packing manifest covers the written corpus
    assert (pk.select("doc_id").distinct().count()
            == pk.count() == corpus.count())
    # per-split independence: EVERY (split, bucket) stream starts at
    # sequence 0 / offset 0 — a single global packing call would leave
    # later splits' buckets starting mid-stream
    firsts = (
        pk.groupBy("split", "bucket")
        .agg(F.min("seq_first").alias("m"),
             F.min(F.struct("seq_first", "offset_in_first")).alias("s"))
        .collect()
    )
    assert all(
        r["m"] == 0 and r["s"]["offset_in_first"] == 0 for r in firsts
    )
    # manifest arithmetic replays from the written rows
    rows = (
        pk.groupBy("split", "bucket").agg(F.sum("tokens").alias("bt"))
        .collect()
    )
    want: dict[str, dict[str, int]] = {}
    for r in rows:
        s = want.setdefault(
            r["split"], {"tokens": 0, "sequences": 0, "max_tokens": 32})
        s["tokens"] += int(r["bt"])
        s["sequences"] += (int(r["bt"]) + 31) // 32
    assert manifest["packing"] == want
    assert manifest["packing"]["train"]["sequences"] > 0


def test_corpus_pipeline_caches_exact_dedup(spark, sf_dir, tmp_path,
                                            monkeypatch):
    """The exact-dedup window must execute ONCE: its three consumers
    (manifest count, MinHash candidates, anti-join) all read the cached
    frame — downstream plans scan an InMemoryRelation, not a re-derived
    window over the corpus (VERDICT r2 #2)."""
    import slow_tortoise_spark.corpus_pipeline as cp

    plans = []
    orig = cp._near_dup_drops

    def spy(docs, threshold, **kw):
        plans.append(docs._jdf.queryExecution().optimizedPlan().toString())
        return orig(docs, threshold, **kw)

    monkeypatch.setattr(cp, "_near_dup_drops", spy)
    docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    manifest = run_corpus_pipeline(
        spark, docs, CorpusParams(out_dir=str(tmp_path / "cache_out")))
    assert manifest["output_docs"] > 0
    assert len(plans) == 1
    # the candidate generator reads the cache, not a fresh window pass
    # (the dedup window still APPEARS in the plan string — inside the
    # InMemoryRelation's cached-plan description — but execution reads
    # the cached data)
    assert "InMemoryRelation" in plans[0]


def test_corpus_pipeline_deterministic(spark, sf_dir, tmp_path):
    """Same input + params → identical manifest and split assignment."""
    docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    outs = []
    for i in range(2):
        out = str(tmp_path / f"det{i}")
        m = run_corpus_pipeline(
            spark, docs, CorpusParams(out_dir=out, dedup="exact"))
        rows = {
            (r["doc_id"], r["split"])
            for r in spark.read.parquet(f"{out}/corpus")
            .select("doc_id", "split").collect()
        }
        outs.append((m["output_docs"], m["splits"], rows))
    assert outs[0] == outs[1]


def test_corpus_pipeline_temperature_mix_stage(spark, sf_dir, tmp_path):
    """With a mix budget, the post-dedup corpus is downsampled toward
    temperature shares; the manifest records the stage; without it the
    stage is skipped entirely."""
    from slow_tortoise_spark.corpus_pipeline import (
        CorpusParams,
        run_corpus_pipeline,
    )
    from slow_tortoise_spark.sources.reader import read_table

    docs = read_table(spark, f"{sf_dir}/documents.parquet")
    base = run_corpus_pipeline(
        spark, docs, CorpusParams(out_dir=str(tmp_path / "plain"))
    )
    assert "after_mix" not in base
    kept_before = base["after_near_dedup"]

    mixed = run_corpus_pipeline(
        spark, docs,
        CorpusParams(
            out_dir=str(tmp_path / "mixed"),
            mix_budget=kept_before / 2,
        ),
    )
    assert 0 < mixed["after_mix"] < kept_before
    assert mixed["output_docs"] == mixed["after_mix"]


def test_corpus_pipeline_blocklist_and_line_dedup_stages(spark, tmp_path):
    """The optional pre-gate stages compose: spam-citing docs drop whole,
    shared boilerplate lines strip from survivors BEFORE quality gating,
    and the manifest records both."""
    from slow_tortoise_spark.corpus_pipeline import (
        CorpusParams,
        run_corpus_pipeline,
    )

    banner = "subscribe to our newsletter today"
    body = "a genuinely informative paragraph with many distinct words "
    docs = spark.createDataFrame(
        [
            (1, f"{banner}\n{body}one two three four five six", "s1"),
            (2, f"{banner}\n{body}seven eight nine ten eleven", "s1"),
            (3, f"spam here http://spam.example.net/x\n{body}", "s2"),
            (4, f"{body}twelve thirteen fourteen fifteen sixteen", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    params = CorpusParams(
        out_dir=str(tmp_path / "corpus"),
        blocklist_domains=("spam.example.net",),
        line_dedup_min_docs=2,
        dedup="none",
        min_tokens=3,
    )
    manifest = run_corpus_pipeline(spark, docs, params)
    assert manifest["input_docs"] == 4
    assert manifest["after_blocklist"] == 3        # doc 3 dropped whole
    assert manifest["boilerplate_lines_dropped"] == 2  # banner in 1 and 2
    assert manifest["output_docs"] == 3

    out = spark.read.parquet(str(tmp_path / "corpus" / "corpus"))
    texts = {r["doc_id"]: r["text"] for r in out.collect()}
    assert banner not in texts[1] and banner not in texts[2]
    assert texts[4].startswith(body)


def test_corpus_pipeline_span_dedup_and_decontamination_stages(
    spark, tmp_path
):
    """The two round-5 stages: duplicated-span removal strips the shared
    12-token run pre-gating, and the Bloom decontamination gate drops
    the doc that quotes the benchmark."""
    from slow_tortoise_spark.corpus_pipeline import (
        CorpusParams,
        run_corpus_pipeline,
    )

    shared = "the same twelve token boilerplate run appears in both docs here"
    docs = spark.createDataFrame(
        [
            (1, f"unique opening alpha beta {shared}", "s1"),
            (2, f"{shared} unique closing gamma delta", "s1"),
            (3, "an original document with plenty of its own words inside",
             "s2"),
            (4, "leaked benchmark question about the meaning of life and "
                "everything else", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    bench = spark.createDataFrame(
        [(100, "leaked benchmark question about the meaning of life and "
               "everything else entirely")],
        "doc_id long, text string",
    )
    params = CorpusParams(
        out_dir=str(tmp_path / "corpus"),
        span_dedup_ngram=11,
        decontaminate_against=bench,
        decontam_ngram=8,
        decontam_threshold=0.05,
        dedup="none",
        min_tokens=3,
    )
    manifest = run_corpus_pipeline(spark, docs, params)
    assert manifest["input_docs"] == 4
    # the 11-token shared run duplicates -> 11 tokens removed per doc
    assert manifest["dup_span_tokens_removed"] == 22
    # doc 4 shares >5% of its 8-gram shingles with the benchmark
    assert manifest["after_decontamination"] == 3
    out = spark.read.parquet(str(tmp_path / "corpus" / "corpus"))
    texts = {r["doc_id"]: r["text"] for r in out.collect()}
    assert 4 not in texts
    assert texts[1] == "unique opening alpha beta"
    assert texts[2] == "unique closing gamma delta"


def test_corpus_pipeline_model_gate(spark, tmp_path):
    """The learned quality gate: logistic weights that punish
    punctuation density drop the symbol-soup doc while the heuristic
    gates alone would keep it."""
    from slow_tortoise_spark.corpus_pipeline import (
        CorpusParams,
        run_corpus_pipeline,
    )

    docs = spark.createDataFrame(
        [
            (1, "a perfectly ordinary sentence with the usual words in it",
             "s1"),
            (2, "another clean document the and of with plain prose here",
             "s1"),
            (3, "!!! ??? *** $$$ %%% @@@ symbols !!! ??? *** everywhere !!!",
             "s2"),
        ],
        "doc_id long, text string, source string",
    )
    base = CorpusParams(
        out_dir=str(tmp_path / "c1"), dedup="none",
        min_tokens=3, max_rep_ratio=1.0,
    )
    m0 = run_corpus_pipeline(spark, docs, base)
    assert m0["after_gates"] == 3  # heuristics alone keep the soup

    gated = CorpusParams(
        out_dir=str(tmp_path / "c2"), dedup="none",
        min_tokens=3, max_rep_ratio=1.0,
        # sigmoid(4 - 40*punct_ratio): clean prose ~sigmoid(4)≈0.98,
        # symbol soup (punct_ratio>0.2) ≈ sigmoid(-4)≈0.02
        model_gate_weights=(0.0, -40.0, 0.0, 0.0, 0.0, 4.0),
    )
    m1 = run_corpus_pipeline(spark, docs, gated)
    assert m1["after_gates"] == 2
    out = spark.read.parquet(str(tmp_path / "c2" / "corpus"))
    assert {r["doc_id"] for r in out.collect()} == {1, 2}


@pytest.mark.parametrize("star", [True, False])
def test_media_pipeline_end_to_end(spark, tmp_path, star):
    """Media curation e2e with REAL decode: a byte-identical copy falls
    to exact sha dedup, a one-pixel-nudged recolor falls to the LSH
    near-dup tier, distinct images all survive.  Parametrized over the
    star-collapse pre-pass: the keep-set is identical with it on or off
    (this fixture is boundary-triangle-free)."""
    import struct
    import zlib

    import numpy as np

    from slow_tortoise_spark.media_pipeline import (
        MediaParams,
        run_media_pipeline,
    )

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

    rng = np.random.default_rng(33)
    base = rng.integers(0, 256, size=(8, 24), dtype="uint8")
    near = base.copy()
    near[0, 0] = (int(base[0, 0]) + 6) % 256
    rows = [
        (0, png_of(base)),
        (1, png_of(base)),          # exact duplicate (same bytes)
        (2, png_of(near)),          # near duplicate
        (3, png_of(rng.integers(0, 256, size=(8, 24), dtype="uint8"))),
        (4, png_of(rng.integers(0, 256, size=(8, 24), dtype="uint8"))),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    manifest = run_media_pipeline(
        spark, df,
        MediaParams(out_dir=str(tmp_path / "media"),
                    near_dup_threshold=0.98, star_collapse=star),
    )
    assert manifest["input_media"] == 5
    assert manifest["after_exact_dedup"] == 4      # 1 drops (same sha)
    assert manifest["after_near_dedup"] == 3       # 2 drops (cosine)
    assert manifest["output_media"] == 3
    out = spark.read.parquet(str(tmp_path / "media" / "media"))
    assert {r["media_id"] for r in out.collect()} == {0, 3, 4}


def test_media_files_to_pipeline(spark, tmp_path):
    """binaryFile ingest end-to-end: PNG/WAV files on disk -> typed
    MEDIA rows (kind/mime from extension, stable path-hash ids) -> the
    media pipeline dedups them; the streaming reader sees the same
    files incrementally via availableNow."""
    import struct
    import zlib

    from slow_tortoise_spark.media_pipeline import (
        MediaParams,
        run_media_pipeline,
    )
    from slow_tortoise_spark.sources.media import (
        read_media_dir,
        stream_media_dir,
    )

    def chunk(ctype, data):
        body = ctype + data
        return (struct.pack(">I", len(data)) + body
                + struct.pack(">I", zlib.crc32(body)))

    def tiny_png(seed):
        raw = b"\x00" + bytes(((seed * 37 + i) % 256) for i in range(9))
        return (b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 1, 8, 2, 0, 0, 0))
                + chunk(b"IDAT", zlib.compress(raw))
                + chunk(b"IEND", b""))

    src = tmp_path / "incoming"
    src.mkdir()
    (src / "a.png").write_bytes(tiny_png(1))
    (src / "b.png").write_bytes(tiny_png(2))
    (src / "copy_of_a.png").write_bytes(tiny_png(1))  # exact dup bytes
    (src / "noise.wav").write_bytes(b"RIFF\x00\x00\x00\x00WAVEjunk")

    media = read_media_dir(spark, str(src))
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in media.collect()}
    assert rows["a.png"]["kind"] == "image"
    assert rows["a.png"]["mime"] == "image/png"
    assert rows["noise.wav"]["kind"] == "audio"
    assert len({r["media_id"] for r in rows.values()}) == 4  # stable ids

    manifest = run_media_pipeline(
        spark,
        media.filter(F.col("kind") == "image"),
        MediaParams(out_dir=str(tmp_path / "curated")),
    )
    assert manifest["input_media"] == 3
    assert manifest["after_exact_dedup"] == 2  # the byte copy drops

    # streaming: same projection, availableNow drains the directory
    q = (
        stream_media_dir(spark, str(src), glob="*.png")
        .writeStream.format("memory")
        .queryName("media_stream_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT media_id, kind FROM media_stream_test").collect()
    assert len(got) == 3 and all(r["kind"] == "image" for r in got)


def test_pipeline_nfc_gopher_dsir_stages(spark, tmp_path):
    """The three late-round stages composed: NFC makes decomposed
    duplicates fall to exact dedup, the Gopher gate drops rule
    violators in the same gate pass, and DSIR selection keeps the
    target-like half of the survivors."""
    from slow_tortoise_spark.corpus_pipeline import (
        CorpusParams,
        run_corpus_pipeline,
    )

    good = ("the quick brown fox jumps over that lazy dog and then it "
            "have run with great speed to be first of many winners today "
            "while everyone watched the entire show with delight and "
            "cheered for more because the performance was truly special "
            "indeed friends gathered around the stage applauding loudly "
            "until the very end of that memorable evening together")
    offdomain = ("zork quux blorb fizz buzz grok plonk snark wibble "
                 "frobnicate ") * 6 + "the of and to be that have with " * 2
    composed = good + " café résumé"
    decomposed = good + " café résumé"  # e + combining accents
    rows = (
        [(0, composed, "tgt"), (1, decomposed, "tgt")]  # NFC-equal pair
        + [(i, good + f" variant {i} unique closing words", "tgt")
           for i in range(2, 12)]
        + [(i, offdomain + f" filler {i}", "other") for i in range(12, 22)]
        + [(22, "way too short", "other")]  # gopher word-count violation
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    target = docs.filter("source = 'tgt' and doc_id >= 2").select(
        "doc_id", "text"
    )
    params = CorpusParams(
        out_dir=str(tmp_path / "corpus"),
        normalize_form="NFC",
        gopher_gate=True,
        dedup="exact",
        min_tokens=5,
        dsir_target=target,
        dsir_keep_fraction=0.5,
        dsir_buckets=64,
        split_weights={"train": 1.0},
    )
    manifest = run_corpus_pipeline(spark, docs, params)
    assert manifest["input_docs"] == 23
    # gopher gate removed the short doc (and nothing with 50+ words)
    assert manifest["after_gates"] == 22
    # NFC made the composed/decomposed pair byte-identical -> exact dedup
    assert manifest["after_exact_dedup"] == 21
    # DSIR kept the target-like half: every surviving doc is on-domain
    assert manifest["after_dsir"] <= 11
    out = spark.read.parquet(str(tmp_path / "corpus" / "corpus"))
    kept_sources = {r["source"] for r in out.select("source").collect()}
    assert kept_sources == {"tgt"}


def test_operator_caches_release_to_baseline(spark, sf_dir):
    """Round-5 verdict item 4: operators that cache multi-consumer
    intermediates (shingle frames, LSH band stacks, Bloom word tables)
    register them in the cachectl registry; after N query invocations a
    single release_unscoped() returns executor storage to
    baseline — the long-lived-driver contract."""
    from slow_tortoise_spark.operators.cachectl import (
        release_unscoped,
        tracked_count,
    )
    from slow_tortoise_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_candidates,
        simhash_near_duplicates,
    )
    from slow_tortoise_spark.sources.reader import read_table

    spark.catalog.clearCache()
    release_unscoped()  # drop anything earlier tests registered
    base_tracked = tracked_count()
    assert base_tracked == 0

    jsc = spark.sparkContext._jsc.sc()

    def n_cached_rdds():
        return len([i for i in jsc.getRDDStorageInfo()
                    if i.numCachedPartitions() > 0])

    baseline = n_cached_rdds()
    docs = read_table(spark, f"{sf_dir}/documents.parquet").limit(120)
    for _ in range(3):  # repeated invocations accumulate tracked caches
        jaccard_pairs(docs, threshold=0.5).count()
        minhash_lsh_candidates(docs, k=8, bands=4).count()
        simhash_near_duplicates(docs, max_hamming=3).count()
    assert tracked_count() > 0  # operators really registered their caches

    released = release_unscoped()
    assert released >= tracked_count() == 0
    assert n_cached_rdds() <= baseline  # storage back to baseline


def test_fully_filtered_corpus_yields_empty_manifest_not_crash(
    spark, tmp_path
):
    """Regression (found by tools/soak_corpus.py): when every document
    is filtered out — here an impossibly strict token gate — the split
    write produces a part-less parquet directory, and the manifest
    read-back used to crash with UNABLE_TO_INFER_SCHEMA.  An aggressive
    config must yield a 0-doc manifest instead."""
    from slow_tortoise_spark.corpus_pipeline import (
        CorpusParams,
        run_corpus_pipeline,
    )

    docs = spark.createDataFrame(
        [(1, "short text here", "s0"), (2, "tiny", "s0")],
        "doc_id long, text string, source string",
    )
    manifest = run_corpus_pipeline(
        spark,
        docs,
        CorpusParams(out_dir=str(tmp_path / "out"), min_tokens=10_000),
    )
    assert manifest["output_docs"] == 0
    assert manifest["splits"] == {}


def test_ppl_filter_stage_keeps_head_and_middle(spark, tmp_path):
    """CCNet perplexity stage: docs are KN-scored under the reference
    LM, tiled per stratum, and only ppl_keep labels survive — the
    worst-scoring third of each stratum is dropped, with manifest
    accounting."""
    from slow_tortoise_spark.corpus_pipeline import (
        CorpusParams,
        run_corpus_pipeline,
    )

    fluent = "the cat sat on the mat and the dog sat on the rug"
    rows = [(i, fluent, "s0") for i in range(4)]
    # two scrambles of the same vocabulary: rare bigrams, same words
    rows += [(10, "mat the rug cat on sat dog the and on the sat", "s0"),
             (11, "rug on the and mat sat the cat dog sat on the", "s0")]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    reference = spark.createDataFrame(
        [(100 + i, fluent) for i in range(5)], "doc_id long, text string"
    )
    manifest = run_corpus_pipeline(
        spark,
        docs,
        CorpusParams(
            out_dir=str(tmp_path / "out"),
            min_tokens=1,
            dedup="none",
            ppl_lm_reference=reference,
        ),
    )
    # 6 docs -> NTILE thirds of the s0 stratum: 2 head, 2 middle, 2 tail
    assert manifest["after_ppl_filter"] == 4
    assert manifest["output_docs"] == 4
    out = spark.read.parquet(str(tmp_path / "out" / "corpus"))
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    # the scrambles score worst under the fluent reference LM -> tail
    assert kept == {0, 1, 2, 3}


def test_ppl_filter_routes_degenerate_docs_to_tail(spark, tmp_path):
    """Regression (round-7 verdict): docs with <2 tokens have no
    bigrams, and their coalesced mean_logprob of 0.0 is the BEST score
    under the DESC ordering — the old tiling ranked empty/one-token
    docs "head" ahead of all fluent text.  They must now be excluded
    from the NTILE (not shifting real docs' tile boundaries either) and
    labeled ``ppl_degenerate_label`` ("tail" by default), so the
    default head+middle keep drops them; adding the degenerate label to
    ``ppl_keep`` readmits them."""
    from slow_tortoise_spark.corpus_pipeline import (
        CorpusParams,
        run_corpus_pipeline,
    )

    fluent = "the cat sat on the mat and the dog sat on the rug"
    rows = [(i, fluent, "s0") for i in range(4)]
    rows += [(10, "mat the rug cat on sat dog the and on the sat", "s0"),
             (11, "rug on the and mat sat the cat dog sat on the", "s0")]
    # planted degenerates: empty and one-token — zero bigrams each
    rows += [(20, "", "s0"), (21, "hello", "s0")]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    reference = spark.createDataFrame(
        [(100 + i, fluent) for i in range(5)], "doc_id long, text string"
    )
    manifest = run_corpus_pipeline(
        spark,
        docs,
        CorpusParams(
            out_dir=str(tmp_path / "out"),
            min_tokens=0,
            dedup="none",
            ppl_lm_reference=reference,
        ),
    )
    # degenerates are NOT head: default keep=(head, middle) drops them,
    # and the 6 scoreable docs still tile 2/2/2 exactly as without the
    # planted docs (degenerates don't occupy tile slots)
    assert manifest["after_ppl_filter"] == 4
    out = spark.read.parquet(str(tmp_path / "out" / "corpus"))
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert kept == {0, 1, 2, 3}

    # readmitting "tail" readmits the degenerates too (they carry the
    # degenerate label, which defaults to "tail")
    manifest2 = run_corpus_pipeline(
        spark,
        docs,
        CorpusParams(
            out_dir=str(tmp_path / "out2"),
            min_tokens=0,
            dedup="none",
            ppl_lm_reference=reference,
            ppl_keep=("head", "middle", "tail"),
        ),
    )
    assert manifest2["after_ppl_filter"] == 8


def test_pipeline_returns_storage_to_zero_including_checkpoints(
    spark, tmp_path, monkeypatch
):
    """Round-7 verdict item 7: a corpus-pipeline run used to leave
    ~28 MB of localCheckpoint blocks behind (freed only when the JVM
    GC'd the internal RDDs).  Stage-boundary checkpoints — including
    every connected-components round — now go through
    tracked_local_checkpoint into the run's scope, whose exit frees
    them explicitly: total RDD storage returns to the pre-run level
    immediately, the long-lived-driver contract.  The same holds when
    a parquet-mode run fails at its final write: nothing stays cached
    or registered, and no ``_ckpt`` directory remains."""
    from slow_tortoise_spark.corpus_pipeline import (
        CorpusParams,
        run_corpus_pipeline,
    )
    from slow_tortoise_spark.operators.cachectl import (
        release_unscoped,
        tracked_checkpoint_count,
        tracked_count,
    )
    from slow_tortoise_spark.sinks.writers import FileWriter

    spark.catalog.clearCache()
    release_unscoped()  # drop anything earlier tests left

    jsc = spark.sparkContext._jsc.sc()

    def storage_bytes():
        return sum(i.memSize() + i.diskSize()
                   for i in jsc.getRDDStorageInfo())

    baseline = storage_bytes()
    base = "the quick brown fox jumps over the lazy dog near the river "
    rows = [(i, base + f"variant {i % 7}", f"s{i % 3}") for i in range(300)]
    # a near-dup chain so minhash_cc actually runs the CC loop
    rows += [(1000 + j, base * 3 + " tail" * j, "s0") for j in range(4)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    manifest = run_corpus_pipeline(
        spark,
        docs,
        CorpusParams(
            out_dir=str(tmp_path / "out"),
            min_tokens=1,
            dedup="minhash_cc",
        ),
    )
    assert manifest["output_docs"] > 0
    assert tracked_checkpoint_count() == 0  # pipeline released its own
    assert storage_bytes() <= baseline

    def failing_write(self, data, path):
        raise OSError(f"write failed: {path}")

    monkeypatch.setattr(FileWriter, "write", failing_write)
    failed_out = tmp_path / "failed"
    with pytest.raises(OSError, match="manifest.json"):
        run_corpus_pipeline(spark, docs, CorpusParams(
            out_dir=str(failed_out), min_tokens=1, dedup="minhash_cc",
            checkpoint_mode="parquet",
        ))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert tracked_count() == 0 and tracked_checkpoint_count() == 0
    assert not (failed_out / "_ckpt").exists()
    assert storage_bytes() <= baseline


def test_corpus_pipeline_checkpoint_modes_identical(spark, sf_dir, tmp_path,
                                                   monkeypatch):
    """checkpoint_mode="parquet" (executor-loss-durable lineage cuts)
    must produce a byte-identical corpus to the default local mode,
    write its checkpoints as parquet under _ckpt (the local mode writes
    none there), and free every checkpoint directory at release."""
    from pyspark.sql.readwriter import DataFrameWriter

    from slow_tortoise_spark.operators.cachectl import (
        free,
        tracked_local_checkpoint,
    )

    written: list[str] = []
    real_parquet = DataFrameWriter.parquet

    def spy_parquet(self, path, *args, **kwargs):
        real_parquet(self, path, *args, **kwargs)
        written.append(path)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy_parquet)
    docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).limit(300)
    outs = {}
    for mode in ("local", "parquet"):
        out = str(tmp_path / f"c_{mode}")
        written.clear()
        manifest = run_corpus_pipeline(
            spark, docs,
            CorpusParams(
                out_dir=out, min_tokens=5, dedup="minhash_cc",
                near_dup_threshold=0.9, span_dedup_ngram=8,
                checkpoint_mode=mode,
            ),
        )
        manifest.pop("stage_seconds")
        rows = sorted(
            (r["doc_id"], r["text"], r["split"])
            for r in spark.read.parquet(f"{out}/corpus").collect()
        )
        outs[mode] = (manifest, rows)
        checkpoints = [p for p in written if p.startswith(f"{out}/_ckpt/")]
        if mode == "parquet":
            # the boundaries went through parquet under _ckpt ...
            assert checkpoints
        else:
            assert checkpoints == []
        # ... which was freed at exit, the empty parent removed too
        assert not os.path.exists(f"{out}/_ckpt")
    # the parquet mode ended with its run: a checkpoint made outside
    # any scope is local blocks again
    cp = tracked_local_checkpoint(spark.range(3))
    assert cp.inputFiles() == [] and cp.count() == 3
    assert free(cp)
    assert outs["local"] == outs["parquet"]


def test_parquet_checkpoint_roundtrip_and_free(spark, tmp_path):
    """A cachectl scope with a checkpoint dir: tracked_local_checkpoint
    writes+reads a parquet dir, free deletes exactly that dir, the
    scope's exit deletes what is left and the directory it created, and
    outside the scope checkpoints are localCheckpoint blocks again."""
    import glob as _glob

    from slow_tortoise_spark.operators.cachectl import (
        Scope,
        free,
        tracked_local_checkpoint,
    )

    ckdir = str(tmp_path / "ck")
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    with Scope(ckdir):
        cp1 = tracked_local_checkpoint(df)
        cp2 = tracked_local_checkpoint(df.filter("id < 10"))
        assert sorted(r["v"] for r in cp1.collect()) == [2 * i for i in range(100)]
        assert cp2.count() == 10
        dirs = sorted(_glob.glob(f"{ckdir}/ckpt_*"))
        assert len(dirs) == 2
        assert free(cp1)
        remaining = sorted(_glob.glob(f"{ckdir}/ckpt_*"))
        assert len(remaining) == 1
        assert cp2.count() == 10  # untouched checkpoint still readable
        assert free(cp2)
        assert _glob.glob(f"{ckdir}/ckpt_*") == []
        tracked_local_checkpoint(df)  # left for the scope's exit
        assert len(_glob.glob(f"{ckdir}/ckpt_*")) == 1
    assert not os.path.exists(ckdir)
    cp = tracked_local_checkpoint(df)
    assert cp.inputFiles() == [] and cp.count() == 100
    assert free(cp)


def test_jsonl_csv_ingest_fidelity_and_bad_records(spark, tmp_path):
    """textio round-trips: embedded newlines/quotes/commas, null vs
    EMPTY STring survive both formats; a planted malformed JSONL line
    lands in _corrupt_record (PERMISSIVE) instead of killing the read,
    and drop_bad_records removes exactly it; gzip output reads back."""
    from slow_tortoise_spark.sources.textio import (
        bad_record_count,
        drop_bad_records,
        read_csv,
        read_jsonl,
        write_csv,
        write_jsonl,
    )

    rows = [
        (1, 'line one\nline "two", with comma', "s1"),
        (2, "", "s1"),          # empty string, NOT null
        (3, None, "s2"),        # null text
        (4, "unicode: café — naïve 中文", "s2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    want = sorted(rows, key=lambda r: r[0])

    jdir = str(tmp_path / "j")
    write_jsonl(df, jdir, compression="gzip")
    back = read_jsonl(spark, jdir, "doc_id long, text string, source string")
    assert bad_record_count(back) == 0
    got = sorted(
        (r["doc_id"], r["text"], r["source"])
        for r in drop_bad_records(back).collect()
    )
    assert got == want  # null stayed null, "" stayed ""

    cdir = str(tmp_path / "c")
    write_csv(df, cdir)
    backc = read_csv(spark, cdir, "doc_id long, text string, source string")
    assert bad_record_count(backc) == 0
    gotc = sorted(
        (r["doc_id"], r["text"], r["source"])
        for r in drop_bad_records(backc).collect()
    )
    assert gotc == want

    # plant a malformed line among valid shards
    bad = tmp_path / "j2"
    bad.mkdir()
    (bad / "part-0.json").write_text(
        '{"doc_id": 7, "text": "ok", "source": "s"}\n'
        'this is not json at all\n'
        '{"doc_id": 8, "text": "also ok", "source": "s"}\n'
    )
    pb = read_jsonl(spark, str(bad),
                    "doc_id long, text string, source string")
    assert bad_record_count(pb) == 1
    clean = drop_bad_records(pb)
    assert sorted(r["doc_id"] for r in clean.collect()) == [7, 8]
    import pytest as _pytest

    with _pytest.raises(Exception):
        read_jsonl(spark, str(bad),
                   "doc_id long, text string, source string",
                   mode="FAILFAST").collect()


def test_corpus_pipeline_token_budget_stage(spark, sf_dir, tmp_path):
    """With a token budget, the post-dedup corpus shrinks to EXACTLY
    the greedy (quality_score DESC, doc_id) prefix within the budget —
    verified against a pure-Python prefix over the budget-off run's
    written corpus (which carries the same quality_score/n_tokens the
    stage consumes).  The dict form applies per-source budgets and
    drops unnamed sources.  Without the param the stage is skipped."""
    from slow_tortoise_spark.corpus_pipeline import (
        CorpusParams,
        run_corpus_pipeline,
    )
    from slow_tortoise_spark.sources.reader import read_table

    docs = read_table(spark, f"{sf_dir}/documents.parquet")
    base = run_corpus_pipeline(
        spark, docs, CorpusParams(out_dir=str(tmp_path / "plain"))
    )
    assert "after_token_budget" not in base
    survivors = spark.read.parquet(str(tmp_path / "plain") + "/corpus"
                                   ).select("doc_id", "source",
                                            "quality_score",
                                            "n_tokens").collect()
    total = sum(r["n_tokens"] for r in survivors)
    budget = total // 3

    def prefix(rows, b):
        kept, cum = set(), 0
        for r in sorted(rows, key=lambda r: (-r["quality_score"],
                                             r["doc_id"])):
            if cum + r["n_tokens"] > b:
                break
            cum += r["n_tokens"]
            kept.add(r["doc_id"])
        return kept

    want = prefix(survivors, budget)
    capped = run_corpus_pipeline(
        spark, docs,
        CorpusParams(out_dir=str(tmp_path / "capped"),
                     token_budget=budget),
    )
    out = spark.read.parquet(str(tmp_path / "capped") + "/corpus")
    got = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert got == want
    assert capped["after_token_budget"] == len(want)
    assert capped["output_docs"] == len(want)

    # dict form: per-source budgets, unnamed sources dropped
    srcs = sorted({r["source"] for r in survivors})[:2]
    budgets = {
        srcs[0]: sum(r["n_tokens"] for r in survivors
                     if r["source"] == srcs[0]) // 2,
        srcs[1]: 10_000_000,
    }
    want_mix = set()
    for s, b in budgets.items():
        want_mix |= prefix([r for r in survivors if r["source"] == s], b)
    mixed = run_corpus_pipeline(
        spark, docs,
        CorpusParams(out_dir=str(tmp_path / "mix_capped"),
                     token_budget=budgets),
    )
    out2 = spark.read.parquet(str(tmp_path / "mix_capped") + "/corpus")
    got2 = {r["doc_id"] for r in out2.select("doc_id").collect()}
    assert got2 == want_mix
    assert mixed["after_token_budget"] == len(want_mix)


def test_corpus_pipeline_epoch_packing_stage(spark, sf_dir, tmp_path):
    """pack_epochs_budget wires the data-constrained regime end to
    end: the TRAIN split repeats per the epoch plan (full passes +
    one partial epoch of the best docs by the gate stage's
    quality_score) and packs with epoch as the leading within-bucket
    sort key; non-train splits stay single-pass with epoch = 1 so the
    manifest schema is uniform.  Verified against a pure-Python epoch
    plan over the budget-off run's written corpus."""
    from slow_tortoise_spark.corpus_pipeline import (
        CorpusParams,
        run_corpus_pipeline,
    )
    from slow_tortoise_spark.sources.reader import read_table

    docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text").limit(120)
    base_out = str(tmp_path / "plain")
    run_corpus_pipeline(
        spark, docs,
        CorpusParams(out_dir=base_out, min_tokens=1, dedup="exact",
                     pack_max_tokens=32, pack_n_buckets=4),
    )
    train = spark.read.parquet(f"{base_out}/corpus").filter(
        "split = 'train'").select(
        "doc_id", "quality_score", "n_tokens").collect()
    mass = sum(r["n_tokens"] for r in train)
    budget = 2 * mass + mass // 4  # 2 full epochs + a partial third

    out = str(tmp_path / "epochs")
    manifest = run_corpus_pipeline(
        spark, docs,
        CorpusParams(out_dir=out, min_tokens=1, dedup="exact",
                     pack_max_tokens=32, pack_n_buckets=4,
                     pack_epochs_budget=budget, pack_epochs_max=4),
    )
    pk = spark.read.parquet(f"{out}/packing")
    assert "epoch" in pk.columns
    # python epoch plan over the same survivors (splits are the
    # deterministic hash_split, so the two runs' train sets agree)
    partial, cum = set(), 0
    for r in sorted(train, key=lambda r: (-r["quality_score"],
                                          r["doc_id"])):
        if cum + r["n_tokens"] > mass // 4:
            break
        cum += r["n_tokens"]
        partial.add(r["doc_id"])
    want_pairs = {(r["doc_id"], e) for r in train for e in (1, 2)}
    want_pairs |= {(i, 3) for i in partial}
    got_pairs = {(r["doc_id"], r["epoch"]) for r in pk.filter(
        "split = 'train'").collect()}
    assert got_pairs == want_pairs
    # non-train splits: single pass, epoch 1
    assert pk.filter("split <> 'train'").select(
        "epoch").distinct().collect() == [Row(epoch=1)]
    # manifest stats carry the epoch count per split
    assert manifest["packing"]["train"]["epochs"] == 3
    assert manifest["packing"]["train"]["tokens"] == 2 * mass + cum
    for s, st in manifest["packing"].items():
        if s != "train":
            assert st["epochs"] == 1
    # per-(split, bucket) streams still start at 0 (split independence)
    firsts = (
        pk.groupBy("split", "bucket")
        .agg(F.min(F.struct("seq_first", "offset_in_first")).alias("s"))
        .collect()
    )
    assert all(r["s"]["seq_first"] == 0
               and r["s"]["offset_in_first"] == 0 for r in firsts)


def test_corpus_pipeline_nosplit_packing_stage(spark, sf_dir, tmp_path):
    """pack_style='nosplit' exports the next-fit manifest: every doc
    wholly inside one sequence (oversize docs isolated), per-split
    independence holds, and the manifest's sequence counts equal
    Σ_buckets (max(seq) + 1); the epochs combination raises up front."""
    import pytest as _pytest

    docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).limit(120)
    out = str(tmp_path / "nosplit_out")
    manifest = run_corpus_pipeline(
        spark, docs,
        CorpusParams(out_dir=out, min_tokens=1, dedup="exact",
                     pack_max_tokens=32, pack_n_buckets=4,
                     pack_style="nosplit"),
    )
    pk = spark.read.parquet(f"{out}/packing")
    corpus = spark.read.parquet(f"{out}/corpus")
    assert (pk.select("doc_id").distinct().count()
            == pk.count() == corpus.count())
    # no-split invariant: every non-oversize doc fits its sequence
    bad = pk.filter("tokens <= 32 AND seq_offset + tokens > 32").count()
    assert bad == 0
    # oversize docs sit alone at offset 0
    assert pk.filter("tokens > 32 AND seq_offset != 0").count() == 0
    # per-split independence: every (split, bucket) starts at seq 0
    firsts = pk.groupBy("split", "bucket").agg(
        F.min("seq").alias("m")).collect()
    assert all(r["m"] == 0 for r in firsts)
    # manifest arithmetic replays from the written rows
    rows = pk.groupBy("split", "bucket").agg(
        F.sum("tokens").alias("bt"),
        F.expr("max(seq) + 1").alias("ns")).collect()
    want: dict[str, dict[str, int]] = {}
    for r in rows:
        s = want.setdefault(
            r["split"], {"tokens": 0, "sequences": 0, "max_tokens": 32})
        s["tokens"] += int(r["bt"])
        s["sequences"] += int(r["ns"])
    assert manifest["packing"] == want
    # guards: bad style / nosplit+epochs raise before any stage runs
    with _pytest.raises(ValueError, match="pack_style"):
        run_corpus_pipeline(
            spark, docs,
            CorpusParams(out_dir=str(tmp_path / "x1"),
                         pack_style="bestfit"))
    with _pytest.raises(ValueError, match="incompatible"):
        run_corpus_pipeline(
            spark, docs,
            CorpusParams(out_dir=str(tmp_path / "x2"),
                         pack_max_tokens=32, pack_style="nosplit",
                         pack_epochs_budget=1000))
