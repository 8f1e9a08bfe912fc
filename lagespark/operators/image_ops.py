"""Image-payload operators (SURVEY.md §2.4, axis B).

The image table rides as opaque BinaryType + typed metadata; pixels exist
only inside Arrow batches on executors (never driver-side objects). All ops
use mapInPandas so decode→transform→encode chains run in ONE Python pass per
batch instead of three UDF crossings (SURVEY.md §4 'pipelining').

Arrow batch sizing: callers lower spark.sql.execution.arrow.maxRecordsPerBatch
(IMG_BATCH) before running payload stages — UDF memory is not spill-managed.

Multimodal: audio/video rows carry the repo's own LAV1 container (header +
unit index + qdct video frames / deflated s16 audio windows — image/av.py),
so decode_av_features and sample_av_frames decode REAL bytes; frame sampling
seeks through the unit index and decodes only the sampled instants. External
codecs (H.264/AAC/...) stay behind the real_codecs NotImplementedError seam
— no such libraries exist in this sandbox (SURVEY.md §0).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lagespark import fixtures
from lagespark.image import codecs
from lagespark.operators import dedup

IMG_BATCH = 1024

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, "
    "phash long, x double, y double, lon double, lat double"
)


def set_image_batching(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(IMG_BATCH))


def generate_images(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic generation of the graft input table:
    mapInPandas over spark.range — each executor builds its own index range
    (per-index Philox, partitioning-independent). partitions=None sizes to
    the session's parallelism (the generation is uniform per-image CPU —
    a fixed count would cap a real cluster, guide §2)."""
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield fixtures.images_pdf_for_indices(pdf["id"].to_numpy())

    return spark.range(0, n, 1, partitions).mapInPandas(gen, IMAGES_SCHEMA)


def decode_stats(images: DataFrame) -> DataFrame:
    """Decode every payload → per-image pixel stats (mean/min/max) without
    the pixels ever leaving the executor batch."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            means = np.empty(len(pdf))
            mins = np.empty(len(pdf), dtype=np.int32)
            maxs = np.empty(len(pdf), dtype=np.int32)
            for k, r in enumerate(pdf.itertuples()):
                px = codecs.decode_image(r.bytes, r.fmt, r.w, r.h)
                means[k] = float(px.mean())
                mins[k] = int(px.min())
                maxs[k] = int(px.max())
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "fmt": pdf["fmt"],
                    "mean_px": np.round(means, 4),
                    "min_px": mins,
                    "max_px": maxs,
                }
            )

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        run, "image_id string, fmt string, mean_px double, min_px int, max_px int"
    )


def roundtrip_check(images: DataFrame) -> DataFrame:
    """The per-row payload invariant (BASELINE.json:6,15): decode → verify
    PSNR vs the reference pixels (procedural regeneration) and pHash vs the
    carried column. Lossless formats must be exact."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                i = int(r.image_id.replace("img", ""))
                ref = codecs.procedural_image(i, r.w, r.h)
                px = codecs.decode_image(r.bytes, r.fmt, r.w, r.h)
                p = codecs.psnr(ref, px)
                ph = codecs.phash64(px)
                ham = bin((ph ^ r.phash) & (2**64 - 1)).count("1")
                rows.append(
                    (
                        r.image_id,
                        r.fmt,
                        round(min(p, 99.0), 2),
                        bool((px == ref).all()),
                        ham,
                    )
                )
            yield pd.DataFrame(
                rows, columns=["image_id", "fmt", "psnr", "exact", "phash_hamming"]
            )

    return images.mapInPandas(
        run, "image_id string, fmt string, psnr double, exact boolean, phash_hamming int"
    )


def generate_and_check(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Fused generation → decode → invariant check in ONE mapInPandas pass
    (no intermediate payload materialization — the production shape for
    validation sweeps; see also BENCH/scaling.py run_image)."""
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # keep_px: the generator's pixel array IS the roundtrip
            # reference — regenerating it per row doubled the procedural
            # render cost (~20% of the kernel, round 8)
            rows = fixtures.images_pdf_for_indices(pdf["id"].to_numpy(), keep_px=True)
            out = []
            for r in rows.itertuples():
                ref = r.px_ref
                px = codecs.decode_image(r.bytes, r.fmt, r.w, r.h)
                p = codecs.psnr(ref, px)
                ham = bin((codecs.phash64(px) ^ r.phash) & (2**64 - 1)).count("1")
                out.append(
                    (r.image_id, r.fmt, round(min(p, 99.0), 2),
                     bool((px == ref).all()), ham)
                )
            yield pd.DataFrame(
                out, columns=["image_id", "fmt", "psnr", "exact", "phash_hamming"]
            )

    return spark.range(0, n, 1, partitions).mapInPandas(
        run, "image_id string, fmt string, psnr double, exact boolean, phash_hamming int"
    )


def transcode(images: DataFrame, to_fmt: str = "png") -> DataFrame:
    """decode→encode in one Python pass (single mapInPandas stage)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                px = codecs.decode_image(r.bytes, r.fmt, r.w, r.h)
                out.append(codecs.encode_image(px, to_fmt))
            res = pdf[["image_id", "w", "h", "caption", "phash", "x", "y"]].copy()
            res["fmt"] = to_fmt
            res["bytes"] = out
            yield res[
                ["image_id", "bytes", "w", "h", "fmt", "caption", "phash", "x", "y"]
            ]

    return images.mapInPandas(
        run,
        "image_id string, bytes binary, w int, h int, fmt string, caption string, "
        "phash long, x double, y double",
    )


def tile_chain(images: DataFrame, grid: int = 2, to_fmt: str = "png") -> DataFrame:
    """decode → tile (grid×grid crop) → encode in ONE Python pass: each image
    row yields grid² tile rows with re-encoded payloads (the SURVEY.md §7
    'decode→tile→encode chain' — one mapInPandas stage, not three)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                px = codecs.decode_image(r.bytes, r.fmt, r.w, r.h)
                th, tw = r.h // grid, r.w // grid
                for gy in range(grid):
                    for gx in range(grid):
                        tile = px[gy * th : (gy + 1) * th, gx * tw : (gx + 1) * tw]
                        rows.append(
                            (
                                r.image_id,
                                gy * grid + gx,
                                codecs.encode_image(np.ascontiguousarray(tile), to_fmt),
                                tw,
                                th,
                                to_fmt,
                            )
                        )
            yield pd.DataFrame(
                rows, columns=["image_id", "tile_no", "bytes", "w", "h", "fmt"]
            )

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        run, "image_id string, tile_no int, bytes binary, w int, h int, fmt string"
    )


def resize_pool2(images: DataFrame) -> DataFrame:
    """2×2 average-pool downscale (the 'resize' of the multimodal op set),
    re-encoded as raw. Vectorized per image; one Python pass."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs, ws, hs = [], [], []
            for r in pdf.itertuples():
                px = codecs.decode_image(r.bytes, r.fmt, r.w, r.h).astype(np.uint16)
                h2, w2 = (r.h // 2) * 2, (r.w // 2) * 2
                px = px[:h2, :w2]
                small = (
                    px.reshape(h2 // 2, 2, w2 // 2, 2, 3).mean(axis=(1, 3))
                ).astype(np.uint8)
                blobs.append(small.tobytes())
                ws.append(w2 // 2)
                hs.append(h2 // 2)
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "bytes": blobs,
                    "w": pd.array(ws, dtype="int32"),
                    "h": pd.array(hs, dtype="int32"),
                    "fmt": "raw",
                }
            )

    return images.mapInPandas(
        run, "image_id string, bytes binary, w int, h int, fmt string"
    )


def payload_size_stats_arrow(images: DataFrame, bucket: int = 1024) -> DataFrame:
    """Byte-size histogram via mapInArrow (SURVEY §2.10's Arrow-batch
    surface): operates on raw pyarrow RecordBatches — zero pandas
    materialization, the leanest path for binary-heavy columns."""
    import pyarrow as pa

    def run(batches):
        for rb in batches:
            sizes = pa.compute.binary_length(rb.column("bytes"))
            b = pa.compute.multiply(
                pa.compute.floor(
                    pa.compute.divide(pa.compute.cast(sizes, pa.float64()), bucket)
                ).cast(pa.int64()),
                bucket,
            )
            yield pa.RecordBatch.from_arrays(
                [b, pa.compute.cast(sizes, pa.int64())], ["size_bucket", "nb"]
            )

    return (
        images.select("bytes")
        .mapInArrow(run, "size_bucket long, nb long")
        .groupBy("size_bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("nb").alias("total_bytes"))
    )


def generate_with_neardups(
    spark: SparkSession, n: int, partitions: int | None = None, dup_every: int = 10
) -> DataFrame:
    """Image table with INJECTED near-duplicates: every dup_every-th image
    gets a twin (new id, qdct re-encode of the decoded pixels — visually
    identical, byte-different). The ground truth for pHash dedup tests."""
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            base = fixtures.images_pdf_for_indices(pdf["id"].to_numpy())
            dups = []
            for r in base.itertuples():
                i = int(r.image_id.replace("img", ""))
                if i % dup_every == 0:
                    px = codecs.decode_image(r.bytes, r.fmt, r.w, r.h)
                    dups.append(
                        {
                            "image_id": f"dup{i:08d}",
                            "bytes": codecs.encode_image(px, "qdct"),
                            "w": r.w,
                            "h": r.h,
                            "fmt": "qdct",
                            "caption": r.caption,
                            "phash": codecs.phash64(
                                codecs.decode_image(
                                    codecs.encode_image(px, "qdct"), "qdct"
                                )
                            ),
                            "x": r.x,
                            "y": r.y,
                            "lon": r.lon,
                            "lat": r.lat,
                        }
                    )
            out = pd.concat([base, pd.DataFrame(dups)]) if dups else base
            yield out

    return spark.range(0, n, 1, partitions).mapInPandas(gen, IMAGES_SCHEMA)


def phash_neardup_pairs(images: DataFrame, max_hamming: int = 6) -> DataFrame:
    """pHash near-duplicate pairs (a, b, hamming): dedup.hamming_pairs over
    the 64-bit hash in 4×16-bit pigeonhole bands (any pair within hamming
    ≤ 3 shares a band; our injected dups are ≤ 2), refined with native
    bit_count(xor) ≤ max_hamming. Everything after the hash is pure
    Catalyst — no Python in the pair path."""
    return dedup.hamming_pairs(
        images, "phash", id_col="image_id", bits=64, max_hamming=max_hamming, n_bands=4
    )


def phash_dedup_corpus(images: DataFrame, max_hamming: int = 6) -> DataFrame:
    """End-to-end IMAGE near-duplicate corpus FILTER (the image twin of
    dedup.dedup_corpus): pHash banded pairs → connected components → keep
    each cluster's lexicographically-minimum image_id + all unclustered
    images. The image table (payloads included) is only ever anti-joined —
    it never shuffles its binary column through the pair machinery."""
    pairs = phash_neardup_pairs(images, max_hamming).select("a", "b")
    comp = dedup.duplicate_components(pairs)
    losers = comp.filter(F.col("doc") != F.col("component")).select(
        F.col("doc").alias("image_id")
    )
    return images.join(losers, "image_id", "left_anti")


# ---------------------------------------------------------------------------
# multimodal (audio/video) — real LAV1 container decode; external-codec seam
# ---------------------------------------------------------------------------


def decode_av_features(av: DataFrame, real_codecs: bool = False) -> DataFrame:
    """Audio/video feature extraction over opaque binary + typed metadata.

    REAL decode: payloads are LAV1 containers (image/av.py — qdct video
    frames / deflated s16 audio windows behind a unit index); every unit is
    decoded and the signal stats are computed over actual pixels/samples.
    real_codecs=True is the seam where cluster codec libs (ffmpeg/soundfile
    for H.264/AAC payloads) would slot in — unavailable in this sandbox, so
    it raises."""
    if real_codecs:
        raise NotImplementedError(
            "external AV codec libraries (ffmpeg/soundfile) unavailable in "
            "this environment; the default path decodes LAV1 containers"
        )
    from lagespark.image import av as avc

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                hdr, units = avc.decode_all(r.payload)
                sig = np.concatenate([u.ravel().astype(np.float64) for u in units])
                rows.append(
                    (
                        r.media_id,
                        r.media_type,
                        len(r.payload),
                        int(hdr["n_units"]),
                        round(float(sig.mean()), 4),
                        round(float(sig.std()), 4),
                        int(r.duration_ms),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "media_type",
                    "n_bytes",
                    "n_units",
                    "sig_mean",
                    "sig_std",
                    "duration_ms",
                ],
            )

    return av.mapInPandas(
        run,
        "media_id string, media_type string, n_bytes long, n_units int, "
        "sig_mean double, sig_std double, duration_ms long",
    )


def sample_av_frames(
    av: DataFrame,
    fps: float = 1.0,
    max_samples: int = 16,
    real_codecs: bool = False,
) -> DataFrame:
    """Frame/window sampling over audio+video rows — the `frame-sample`
    multimodal op. Plan shape (the part that matters at 100 TB):

      1. the sample COUNT — min(max_samples, floor(duration·fps)) — is pure
         Catalyst arithmetic; the payload is NOT exploded per sample (that
         would ship each binary max_samples× through Arrow), each media row
         crosses into Python exactly once
      2. one mapInPandas pass parses the LAV1 header, seeks the unit index
         at each sampled timestamp, and decodes ONLY those units (the
         `ffmpeg -ss` analogue) — video samples yield the decoded RGB
         frame, audio samples the decoded s16 window; unsampled bytes of
         the payload are never touched

    real_codecs=True is the seam for external containers/codecs (H.264 et
    al.) — no such libraries exist in this sandbox, so it raises."""
    if real_codecs:
        raise NotImplementedError(
            "external AV codec libraries (ffmpeg) unavailable in this "
            "environment; the default path decodes LAV1 containers"
        )
    from lagespark.image import av as avc

    n_samp = F.least(
        F.lit(max_samples),
        F.greatest(F.lit(1), F.floor(F.col("duration_ms") * fps / 1000.0)),
    ).cast("int")
    sched = av.withColumn("n_samp", n_samp)
    step_ms = 1000.0 / fps

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                hdr = avc.read_header(r.payload)
                for s in range(int(r.n_samp)):
                    ts = int(s * step_ms)
                    px = avc.decode_unit(r.payload, hdr, avc.unit_at(hdr, ts))
                    if r.media_type == "video":
                        w, h = int(hdr["w"]), int(hdr["h"])
                    else:
                        w = h = 0
                    rows.append(
                        (r.media_id, r.media_type, s, ts, px.tobytes(), w, h)
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "media_type", "sample_no", "ts_ms",
                         "data", "w", "h"],
            )

    return sched.select(
        "media_id", "media_type", "n_samp", "payload"
    ).mapInPandas(
        run,
        "media_id string, media_type string, sample_no int, ts_ms long, "
        "data binary, w int, h int",
    )


AV_FPS = 2.0  # container frame rate for generated video
AV_RATE = 4000  # sample rate for generated audio
AV_WINDOW = 256  # samples per audio unit


def generate_av(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Deterministic audio/video table: REAL LAV1 containers (qdct-encoded
    16×16 video frames at AV_FPS / two-tone s16 audio at AV_RATE), built
    per-index so the table is partitioning-independent.

    partitions=None derives the count from the table size, capped at the
    session's parallelism: ~64 media/task ≈ 0.5 s of real codec CPU —
    coarse enough that every task holds a full duration cycle (dur = 1000 +
    (i%60)·500 over contiguous index ranges; finer splits leave some tasks
    holding only the long-duration end, and the slowest task sets the
    stage time), fine enough to use a cluster. Round-8 A/B in bench.py's
    cold per-query protocol at n=1000: fixed 8 → q64b 2.5 s, 32
    (defaultParallelism, ~31 media/task) → 4.4-4.6 s, size-derived 16 →
    1.6-1.8 s. That A/B predates lagespark._zipcache, so part of the gap
    at 32 was the old ~0.2 s per Python task; the duration-cycle reason
    does not depend on it.
    Payloads are ≤ ~200 KB so per-task Arrow memory stays trivial."""
    if partitions is None:
        partitions = max(1, min(spark.sparkContext.defaultParallelism, -(-n // 64)))
    from lagespark.image import av as avc

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                dur = 1000 + (i % 60) * 500
                if i % 2 == 0:
                    payload = avc.encode_audio(
                        avc.procedural_audio(i, dur * AV_RATE // 1000, AV_RATE),
                        AV_RATE,
                        AV_WINDOW,
                    )
                    mtype = "audio"
                else:
                    n_frames = max(1, int(dur * AV_FPS) // 1000)
                    payload = avc.encode_video(
                        avc.procedural_frames(i, n_frames), AV_FPS
                    )
                    mtype = "video"
                rows.append((f"med{i:06d}", mtype, payload, dur))
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "payload", "duration_ms"]
            )

    return spark.range(0, n, 1, partitions).mapInPandas(
        gen, "media_id string, media_type string, payload binary, duration_ms long"
    )
