"""Multimodal binary-column operators.

Images are opaque ``binary`` columns with typed metadata; all
processing is mapInPandas over Arrow batches, decoding through the
engine's own codec: per-band image features, perceptual-hash image
near-dups and image+caption near-dups.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..sources.codec import decode_image

IMAGE_FEATURES_SCHEMA = (
    "image_id string, band int, w int, h int, nbands int, "
    "band_mean double, band_std double, nonnull_frac double")


def image_features(images_df, img_null_val: int | None = None):
    """Decode + per-band feature extraction: one row per
    (image, band) with scalar mean/population-std over non-null
    pixels plus the image's non-null fraction. Long format keeps
    every output column scalar (joinable, hashable, SQL-comparable).
    Real decode; one Arrow batch per partition."""

    def kernel(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                img = decode_image(row.bytes, row.fmt, row.w, row.h)
                x = img.astype(np.float64)
                if img_null_val is not None:
                    valid = (img != img_null_val).all(axis=0)
                else:
                    valid = np.ones(img.shape[1:], dtype=bool)
                vx = x[:, valid]
                frac = float(valid.mean())
                for b in range(img.shape[0]):
                    out.append({
                        "image_id": row.image_id, "band": b,
                        "w": row.w, "h": row.h,
                        "nbands": img.shape[0],
                        "band_mean": float(vx[b].mean())
                        if vx.size else None,
                        "band_std": float(vx[b].std())
                        if vx.size else None,
                        "nonnull_frac": frac,
                    })
            yield pd.DataFrame(out, columns=[
                "image_id", "band", "w", "h", "nbands", "band_mean",
                "band_std", "nonnull_frac"])

    return images_df.select("image_id", "bytes", "w", "h", "fmt") \
        .mapInPandas(kernel, IMAGE_FEATURES_SCHEMA)


def image_near_dups(images_df, max_hamming: int = 6,
                    blocks: int = 8, id_col="image_id",
                    phash_col="phash", recompute: bool = False,
                    img_null_val: int | None = None,
                    on_decode_error: str = "fail"):
    """Image-level near-duplicate pairs over the image+caption table
    via the 64-bit perceptual hash (``phash`` column, input_hint
    schema; sources/codec.py average_phash): pigeonhole-blocked
    Hamming join — the same guarantee machinery as text SimHash
    (dedup.simhash_near_dups: a pair within ``max_hamming`` shares at
    least one of ``blocks`` exact block keys when blocks >=
    max_hamming+1), so the shuffle carries block-key candidates, never
    all image pairs. Returns (a, b, hamming).

    recompute=True re-derives the hash from the bytes column through
    the decode kernel (image_features-style mapInPandas) instead of
    trusting the stored column — the ingest-validation mode.
    img_null_val masks nodata out of the recomputed hash (must match
    whatever the stored column used). on_decode_error: "fail"
    (default) raises on a corrupt bytes row like the reference;
    "skip" drops the row — the untrusted-ingest setting, where one
    garbage blob must not kill the stage (mirrors
    SegConfig.on_decode_error)."""
    from ..operators.dedup import simhash_near_dups

    if on_decode_error not in ("fail", "skip"):
        raise ValueError(
            f"on_decode_error must be 'fail' or 'skip', "
            f"got {on_decode_error!r}")
    if recompute:
        from ..sources.codec import decode_image
        from pyspark.sql import functions as F

        def kernel(batches):
            from ..sources.codec import average_phash
            for pdf in batches:
                out = []
                for row in pdf.itertuples(index=False):
                    try:
                        img = decode_image(row.bytes, row.fmt,
                                           row.w, row.h)
                    except Exception:
                        if on_decode_error == "skip":
                            continue
                        raise
                    out.append({"image_id": row.image_id,
                                "phash": int(average_phash(
                                    img[0], img_null_val))})
                yield pd.DataFrame(
                    out, columns=["image_id", "phash"])

        hashes = images_df.select(
            "image_id", "bytes", "w", "h", "fmt").mapInPandas(
            kernel, "image_id string, phash long")
        sim = hashes.select(F.col("image_id").alias(id_col),
                            F.col("phash").alias("simhash"))
    else:
        from pyspark.sql import functions as F
        sim = images_df.select(
            F.col(id_col), F.col(phash_col).alias("simhash"))
    return simhash_near_dups(sim, id_col=id_col,
                             max_hamming=max_hamming,
                             blocks=blocks, hash_bits=64)


def multimodal_near_dups(images_df, max_phash_hamming: int = 6,
                         max_caption_hamming: int = 3,
                         phash_blocks: int = 8,
                         caption_blocks: int = 4):
    """Cross-modal near-duplicate pairs over the image+caption table:
    a pair qualifies when BOTH the perceptual hashes are within
    ``max_phash_hamming`` AND the caption SimHashes are within
    ``max_caption_hamming`` — visually-near crops with rewritten
    captions, or caption-duplicates with different imagery, do NOT
    qualify. Both sides are pigeonhole-blocked Hamming joins (full
    recall guarantees), intersected on the (a, b) pair key — the
    shuffle carries two candidate pair lists, never all pairs."""
    from ..operators.dedup import simhash_md5, simhash_near_dups

    img_pairs = image_near_dups(images_df,
                                max_hamming=max_phash_hamming,
                                blocks=phash_blocks) \
        .withColumnRenamed("hamming", "phash_hamming")
    cap = simhash_md5(images_df, text_col="caption",
                      id_col="image_id")
    cap_pairs = simhash_near_dups(cap, id_col="image_id",
                                  max_hamming=max_caption_hamming,
                                  blocks=caption_blocks,
                                  hash_bits=28) \
        .withColumnRenamed("hamming", "caption_hamming")
    return img_pairs.join(cap_pairs, ["a", "b"])
