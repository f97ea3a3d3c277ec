"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real and tested — schema, Arrow batch shape,
``mapInPandas`` UDF signatures, partitioning — while the actual codec work is
stubbed deterministically (this container ships no image/audio libraries; a
real deployment drops PIL/torchaudio/pyav into ``_decode_*`` behind the same
interface). Mirrors how the reference treats media: crop bytes are opaque
artifacts carried by path (``img_save_path``, /root/reference/
predict/ppocr_server.py:103-116), never re-interpreted downstream.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..registry import fixture_docs, register

FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("media_type", T.StringType()),
    T.StructField("n_bytes", T.IntegerType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
])


IMAGE_KINDS = ("figure", "table")  # every other media-bearing kind -> video


def media_meta_py(media_ref: str) -> tuple[int, int, int, bytes]:
    """Pure-Python twin of synthesize_media's md5-derived metadata + 1 KiB
    payload — ONE definition for the expected-feature test oracle and the
    golden-parquet oracle (golden.py), kept adjacent to the SQL expressions
    below so a constant change cannot silently desync them."""
    h = hashlib.md5(media_ref.encode()).hexdigest()
    width = int(h[0:4], 16) % 1024 + 16
    height = int(h[4:8], 16) % 1024 + 16
    n_frames = int(h[8:10], 16) % 32 + 1
    payload = bytes.fromhex(h) * 64  # unhex(repeat(md5, 64))
    return width, height, n_frames, payload


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake binary corpus from the documents table's media refs
    (payload = repeated md5 bytes of the ref; metadata from the hash). Stands
    in for an Iceberg media table with a real binary column."""
    media = (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .where(F.col("s.media_ref") != "")
        .select("doc_id", F.col("s.media_ref").alias("media_ref"),
                F.col("s.kind").alias("kind"))
    )
    return media.select(
        "doc_id", "media_ref",
        F.when(F.col("kind") == "figure", "image")
        .when(F.col("kind") == "table", "image")
        .otherwise("video").alias("media_type"),
        F.unhex(F.repeat(F.md5("media_ref"), 64)).alias("payload"),  # 1 KiB
        F.struct(
            (F.conv(F.substring(F.md5("media_ref"), 1, 4), 16, 10) % 1024 + 16)
            .cast("int").alias("width"),
            (F.conv(F.substring(F.md5("media_ref"), 5, 4), 16, 10) % 1024 + 16)
            .cast("int").alias("height"),
            (F.conv(F.substring(F.md5("media_ref"), 9, 2), 16, 10) % 32 + 1)
            .cast("int").alias("n_frames"),
            F.lit("fake/deterministic").alias("codec"),
        ).alias("meta"),
    )


def _decode_image(payload: bytes, width: int, height: int) -> np.ndarray:
    """STUB: real deployments decode with PIL/opencv here. The deterministic
    fake interprets the payload bytes as a tiled grayscale image so feature
    extraction downstream is testable end-to-end."""
    try:
        import PIL.Image  # noqa: F401  (not present in this container)

        raise NotImplementedError("real image decode wired but lib unavailable")
    except ImportError:
        arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float32)
        need = width * height
        tiled = np.resize(arr, need)
        return tiled.reshape(height, width)


def extract_media_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """mapInPandas feature extraction: decode (stub) → pooled features.

    Arrow-batched, no per-row Python at the Spark layer; within a batch the
    loop is per-media-object, which is the irreducible unit of codec work.
    At scale: partition by doc_id bucket; payloads stream through workers
    without ever landing on the driver."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats, nbytes = [], []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                img = _decode_image(bytes(payload), int(meta["width"]),
                                    int(meta["height"]))
                # pooled stats per row-band: a stand-in for a CNN embedding
                bands = np.array_split(img, dim)
                feats.append([float(np.round(b.mean(), 3)) for b in bands])
                nbytes.append(len(payload))
            out = pdf[["doc_id", "media_ref", "media_type"]].copy()
            out["n_bytes"] = pd.Series(nbytes, index=pdf.index, dtype="int32")
            out["feature"] = feats
            yield out

    from ..packaging import ensure_on_executors

    ensure_on_executors(media.sparkSession)
    return media.mapInPandas(batches, FEATURE_SCHEMA)


def sample_video_frames(media: DataFrame, every: int = 4) -> DataFrame:
    """Frame sampling stub: explode frame indices 0..n_frames-1, keep every
    k-th — the pure-relational part of video sampling (the decode itself
    would live in a mapInPandas like extract_media_features)."""
    return (
        media.where(F.col("media_type") == "video")
        .select("doc_id", "media_ref",
                F.explode(F.sequence(F.lit(0), F.col("meta.n_frames") - 1))
                .alias("frame_idx"))
        .where(F.col("frame_idx") % every == 0)
    )


@register("multimodal_features", None)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media corpus → deterministic decode-stub features. Hash-checked
    against the golden parquet oracle (golden.py::_media_rows): f0 is emitted
    as the RAW float32 feature — the UDF already rounds to 3 decimals, and a
    further F.round on float32 would reintroduce engine-round semantics."""
    media = synthesize_media(fixture_docs(spark, sf_dir))
    return extract_media_features(media).select(
        "doc_id", "media_ref", "media_type", "n_bytes",
        F.element_at("feature", 1).alias("f0"))


@register(
    "multimodal_frame_sample",
    None,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthesize_media(fixture_docs(spark, sf_dir))
    return sample_video_frames(media)


def _expected_feature(media_ref: str, width: int, height: int, dim: int = 8):
    """Test helper: oracle for the deterministic fake pipeline."""
    payload = media_meta_py(media_ref)[3]
    img = _decode_image(payload, width, height)
    return [float(np.round(b.mean(), 3)) for b in np.array_split(img, dim)]


# ---------------------------------------------------------------------------
# perceptual-hash image dedup
# ---------------------------------------------------------------------------


def dhash64_py(img: np.ndarray) -> str:
    """64-bit difference hash (dHash) of a grayscale image, as 16 hex chars:
    block-mean downsample to an 8×9 grid, bit j set iff the right neighbor
    is brighter. The string form sidesteps int64 sign issues and hashes/
    compares identically on both engines. ONE definition — the mapInPandas
    kernel and the golden-parquet oracle both call this."""
    bits = 0
    k = 0
    for band in np.array_split(img, 8, axis=0):
        cells = [float(np.mean(c)) for c in np.array_split(band, 9, axis=1)]
        for j in range(8):
            bits |= (1 if cells[j + 1] > cells[j] else 0) << k
            k += 1
    return format(bits, "016x")


def phash_media(media: DataFrame) -> DataFrame:
    """(doc_id, media_ref, phash) via the decode stub + dHash — the same
    Arrow-batched mapInPandas shape as extract_media_features."""
    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("phash", T.StringType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            hashes = [
                dhash64_py(_decode_image(bytes(payload), int(meta["width"]),
                                         int(meta["height"])))
                for payload, meta in zip(pdf["payload"], pdf["meta"])
            ]
            out = pdf[["doc_id", "media_ref"]].copy()
            out["phash"] = hashes
            yield out

    from ..packaging import ensure_on_executors

    ensure_on_executors(media.sparkSession)
    return media.mapInPandas(batches, schema)


def _phash_corpus(docs: DataFrame) -> DataFrame:
    """Media corpus ∪ injected cross-document duplicates (docs whose id ends
    in 0 or 3 contribute a '#dup' copy of every media object) — gives the
    phash groups real multi-document work; the golden oracle mirrors the
    rule in pure Python (golden.py)."""
    media = synthesize_media(docs)
    dups = (media.where(F.substring("doc_id", -1, 1).isin("0", "3"))
            .withColumn("doc_id", F.concat("doc_id", F.lit("#dup"))))
    return media.unionByName(dups)


@register("multimodal_phash_dedup", None)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup by perceptual hash: decode (stub) → dHash64 → exact-hash
    groups with deterministic keepers — the image-side analog of
    ``dedup_exact``. At 100 TB the groupBy shuffles only (phash, doc_id,
    media_ref) — never the payload bytes; the near-dup variant is
    ``multimodal_phash_neardup`` below (chunk-banded hamming join, the
    ``dedup_simhash`` plan over the same 64 bits). Hash-checked against the
    golden-parquet oracle (the pure-Python dhash64_py over the same corpus +
    injection rule)."""
    corpus = _phash_corpus(fixture_docs(spark, sf_dir))
    return (
        phash_media(corpus)
        .groupBy("phash")
        .agg(
            F.count("*").alias("n_media"),
            F.countDistinct("media_ref").alias("n_refs"),
            F.min("doc_id").alias("keeper_doc"),
            F.min("media_ref").alias("keeper_ref"),
        )
    )


# ---------------------------------------------------------------------------
# perceptual-hash NEAR-dup: hamming <= 3 via chunk banding (pigeonhole)
# ---------------------------------------------------------------------------

# 4 bands of 16 bits: hamming <= 3 flips at most 3 chunks, so every true
# near-dup pair shares at least one exact chunk — the dedup_simhash plan over
# dHash64 (candidate equi-join per band, exact hamming re-rank, no all-pairs)
NEARDUP_MAX_HAMMING = 3
_N_CHUNKS = 4


def _chunk_int(col, i: int):
    """16-bit chunk i of a 16-hex-char phash as an int column (safe range
    0..65535 — never the sign-trap full 64-bit conv)."""
    return F.conv(F.substring(col, i * 4 + 1, 4), 16, 10).cast("int")


def _hamming_expr(a: str, b: str):
    h = None
    for i in range(_N_CHUNKS):
        t = F.bit_count(_chunk_int(F.col(a), i).bitwiseXOR(_chunk_int(F.col(b), i)))
        h = t if h is None else h + t
    return h.cast("int")


def _variant_hash(col: str):
    """Deterministic 2-bit perturbation (bit 3 of chunk 0, bit 12 of chunk 2)
    — hamming 2 from the source, chunks 1 and 3 untouched, so the pair is
    discoverable through two of the four bands. format_string('%04x') on both
    engines (Spark's conv() emits uppercase; printf is lowercase on both)."""
    return F.concat(
        F.format_string("%04x", _chunk_int(F.col(col), 0).bitwiseXOR(F.lit(8))),
        F.substring(col, 5, 4),
        F.format_string("%04x", _chunk_int(F.col(col), 2).bitwiseXOR(F.lit(4096))),
        F.substring(col, 13, 4),
    )


@register("multimodal_phash_neardup", None)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image NEAR-dedup by perceptual hash: distinct dHash64 values (one row
    per exact group, from the multimodal_phash_dedup aggregation) → inject a
    deterministic 2-bit-flipped variant for ~1/4 of hashes (the synthetic
    corpus' hashes are md5-derived ≈ uniform, so organic near-collisions at
    hamming ≤ 3 are ~1e-10 likely — without injection the query would verify
    an empty result) → 4×16-bit chunk-band self-join (pigeonhole: hamming ≤ 3
    ⇒ some chunk equal) → exact hamming re-rank.

    Scale: the join operates on DISTINCT hashes (exact groups already
    collapsed), so degenerate exact-dup clusters cannot blow up the band
    buckets; a hot BAND bucket (many distinct hashes sharing a 16-bit chunk)
    would take the same windowed capacity cap dedup_simhash applies
    (operators/dedup.py). Oracle: the same banding/hamming SQL in DuckDB over
    the golden phash parquet (golden.py), so the hash check covers the
    candidate generation AND the re-rank."""
    groups = multimodal_phash_dedup(spark, sf_dir).select("phash", "n_media")
    variants = (
        groups.where(F.substring("phash", 16, 1).isin("0", "1", "2", "3"))
        .select(_variant_hash("phash").alias("phash"),
                F.lit(1).cast("long").alias("n_media"))
    )
    v = groups.unionByName(variants)
    c = v.select(
        "phash", "n_media",
        F.posexplode(F.array(*[F.substring("phash", i * 4 + 1, 4)
                               for i in range(_N_CHUNKS)])).alias("band", "chunk"),
    )
    a, b = c.alias("a"), c.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.phash") < F.col("b.phash")))
        .groupBy(F.col("a.phash").alias("phash_a"),
                 F.col("b.phash").alias("phash_b"))
        .agg(F.min("a.n_media").alias("n_media_a"),
             F.min("b.n_media").alias("n_media_b"))
    )
    return (
        pairs.withColumn("hamming", _hamming_expr("phash_a", "phash_b"))
        .where(F.col("hamming") <= NEARDUP_MAX_HAMMING)
        .select("phash_a", "phash_b", "hamming", "n_media_a", "n_media_b")
    )


def phash_neardup_sql(golden_path: str) -> str:
    """DuckDB oracle: the same injection + banding + hamming over the golden
    distinct-phash parquet (registered by golden.golden_sql per sf)."""
    def chunk(col: str, i: int) -> str:
        return f"CAST(('0x' || substr({col}, {i * 4 + 1}, 4)) AS INTEGER)"

    hamming = " + ".join(
        f"bit_count(xor({chunk('phash_a', i)}, {chunk('phash_b', i)}))"
        for i in range(_N_CHUNKS))
    return f"""
    WITH src AS (SELECT phash, n_media FROM read_parquet('{golden_path}')),
    v AS (
      SELECT phash, n_media FROM src
      UNION ALL
      SELECT printf('%04x', xor({chunk('phash', 0)}, 8))
             || substr(phash, 5, 4)
             || printf('%04x', xor({chunk('phash', 2)}, 4096))
             || substr(phash, 13, 4) AS phash,
             CAST(1 AS BIGINT) AS n_media
      FROM src WHERE substr(phash, 16, 1) IN ('0', '1', '2', '3')),
    c AS (SELECT phash, n_media, i AS band, substr(phash, i * 4 + 1, 4) AS chunk
          FROM v, (SELECT unnest([0, 1, 2, 3]) AS i)),
    pairs AS (
      SELECT a.phash AS phash_a, b.phash AS phash_b,
             min(a.n_media) AS n_media_a, min(b.n_media) AS n_media_b
      FROM c a JOIN c b ON a.band = b.band AND a.chunk = b.chunk
                        AND a.phash < b.phash
      GROUP BY a.phash, b.phash)
    SELECT phash_a, phash_b, CAST(({hamming}) AS INTEGER) AS hamming,
           n_media_a, n_media_b
    FROM pairs
    WHERE ({hamming}) <= {NEARDUP_MAX_HAMMING}
    """
