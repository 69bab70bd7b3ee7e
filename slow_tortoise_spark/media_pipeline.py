"""Media curation pipeline — the multimodal counterpart of
``corpus_pipeline``: binary media columns → tiered real decode
(operators/multimodal.py) → feature extraction → exact dedup (sha) →
hyperplane-LSH near-dedup over the feature vectors → partitioned
parquet + a manifest of what every gate dropped.

Scale notes (the 100 TB shape):
* decode/features run once, Arrow-batched, and are cached for the two
  dedup tiers (the frame is id + sha + 16 floats — tiny next to the
  blobs, which are NOT carried through the dedup joins);
* exact dedup reuses the skew-safe composite-key shape from
  ``drop_exact_duplicates`` (partial groupBy min + join on the unique
  (sha, media_id) key);
* near-dedup is the banded-LSH bucket join (never all-pairs), planes
  generated deterministically from ``seed`` so reruns reproduce.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from slow_tortoise_spark.operators.cachectl import scoped, tracked_cache
from slow_tortoise_spark.operators.multimodal import extract_image_features
from slow_tortoise_spark.operators.similarity import (
    lsh_near_duplicates,
    star_collapse_drops,
)


@dataclass
class MediaParams:
    """Gates and knobs of the media pipeline."""

    out_dir: str
    #: "none" | "exact" | "lsh" (lsh implies exact first)
    dedup: str = "lsh"
    #: exact-cosine threshold for LSH candidate rescoring
    near_dup_threshold: float = 0.98
    lsh_planes: int = 8
    lsh_bands: int = 4
    seed: int = 42
    #: hot-family pre-pass before the pairwise tier (see
    #: ``star_collapse_drops``): vectors sharing the FULL plane signature
    #: collapse against their group's min-id representative in O(|group|)
    #: instead of feeding the pairwise join Σ|bucket|² candidates.  The
    #: keep-set is identical on triangle-free data (every star drop is a
    #: pairwise drop); on boundary triangles the pinned policy keeps a
    #: vector iff it is within threshold of NO surviving vector.  Off
    #: reproduces the pure pairwise DROP policy bit-for-bit.
    star_collapse: bool = True
    #: star-collapse passes, each with an INDEPENDENT plane draw.  One
    #: pass leaves every member that straddles a plane boundary in its
    #: own signature fragment — fragment reps are near-identical to each
    #: other, so pass-1 survivors grow O(n) and the pairwise tier pays
    #: O(survivors²/families) (measured: the 400k-blob soak went
    #: superlinear, 4.2× wall for 2× blobs).  A member straddles two
    #: independent plane sets with ~squared probability, so each extra
    #: pass shrinks survivors geometrically at O(n) cost; passes stop
    #: early when a pass drops nothing.
    star_passes: int = 2


@scoped
def run_media_pipeline(
    spark: SparkSession, media: DataFrame, params: MediaParams
) -> dict[str, Any]:
    """Run the gates over ``media`` (media_id, content, ...); returns
    the stage manifest and writes surviving (media_id, sha, features)
    plus the kept blobs to ``out_dir``.  The run owns one cachectl
    scope, so every cache it and its operators made is released on
    every path, failures included."""
    import numpy as np

    manifest: dict[str, Any] = {}
    manifest["input_media"] = media.count()

    feats = tracked_cache(extract_image_features(media))  # both tiers read it
    kept = feats
    if params.dedup in ("exact", "lsh"):
        keepers = feats.groupBy("sha").agg(
            F.min("media_id").alias("media_id")
        )
        kept = feats.join(keepers, ["sha", "media_id"])
        manifest["after_exact_dedup"] = kept.count()
    if params.dedup == "lsh":
        first = kept.select("features").first()
        dim = len(first["features"]) if first else 0
        if dim:
            rs = np.random.RandomState(params.seed)
            planes = [
                [float(x) for x in row]
                for row in np.round(rs.randn(params.lsh_planes, dim), 6)
            ]
            emb = kept.select(
                F.col("media_id").alias("vec_id"),
                F.col("features").alias("embedding"),
            )
            if params.star_collapse:
                # Hot-family pre-pass: near-identical families share the
                # FULL signature, so they collapse here in O(|family|);
                # only the (few) survivors reach the Σ|bucket|² pairwise
                # join.  Later passes draw INDEPENDENT planes so a
                # boundary-straddling fragment member gets a second
                # chance to share its family's signature (see
                # star_passes).  cache(): each pass's drops feed two
                # anti-joins + the manifest count.
                star_total = 0
                for p_i in range(max(1, params.star_passes)):
                    pass_planes = planes if p_i == 0 else [
                        [float(x) for x in row]
                        for row in np.round(
                            rs.randn(params.lsh_planes, dim), 6
                        )
                    ]
                    star = tracked_cache(
                        star_collapse_drops(
                            emb, pass_planes,
                            threshold=params.near_dup_threshold,
                        )
                    )
                    n_drop = star.count()
                    star_total += n_drop
                    if n_drop:
                        emb = emb.join(star, "vec_id", "left_anti")
                        kept = kept.join(
                            star.select(
                                F.col("vec_id").alias("media_id")
                            ),
                            "media_id", "left_anti",
                        )
                    else:
                        break
                manifest["star_collapse_dropped"] = star_total
            pairs = lsh_near_duplicates(
                emb,
                planes,
                bands=params.lsh_bands,
                threshold=params.near_dup_threshold,
            )
            drops = pairs.select(
                F.col("id_b").alias("media_id")
            ).distinct()
            kept = kept.join(drops, "media_id", "left_anti")
        manifest["after_near_dedup"] = kept.count()

    out = media.join(kept.select("media_id", "sha", "features"), "media_id")
    out.write.mode("overwrite").parquet(f"{params.out_dir}/media")
    manifest["output_media"] = (
        spark.read.parquet(f"{params.out_dir}/media").count()
    )

    import json

    from slow_tortoise_spark.sinks.writers import FileWriter

    FileWriter(params.out_dir).write(
        json.dumps(manifest, default=str), "manifest.json"
    )
    return manifest
