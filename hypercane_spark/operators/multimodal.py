"""Multimodal (image/audio/video) column operators.

Payload columns are opaque ``binary`` with typed metadata (the input_hint
table shape: image_id, bytes, w, h, fmt, caption, phash). All pixel work
happens in Arrow-batched ``mapInPandas`` UDFs — the Spark-side plumbing
(schemas, batch shapes, partitioning) is real and tested; the *codec* is
the deterministic stand-in from synth.py (this container has no image
libs), with the real-codec path behind an import-try
(synth.decode_image tries PIL first).

Reference touchpoints: MementoEmbed image scoring
(/root/reference/hypercane/report/imagedata.py:66-93) and the image rank
tuple (:127-188).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def decode_stats(
    df: DataFrame,
    bytes_col: str = "bytes",
    keep: tuple[str, ...] = ("image_id",),
    store=None,
) -> DataFrame:
    """Decode pixels and emit per-image stats:
    (…, dec_w, dec_h, mean_lum, colorcount, phash64).

    mapInPandas: one Arrow batch of binary payloads in, one stats batch out —
    no per-row Python dispatch. colorcount = distinct quantized RGB triples
    (MementoEmbed's colorcount signal, imagedata.py:76).

    ``store`` (an errors.ErrorStore) switches on skip-not-abort semantics:
    a row whose payload fails to decode is recorded (uri, stage, traceback)
    and dropped, and the job continues — the reference's error-store
    contract (/root/reference/hypercane/errors.py:5-38). Without a store a
    poisoned payload aborts the stage (the fail-fast default)."""
    from hypercane_spark.synth import average_phash, decode_image

    stat_cols = ["dec_w", "dec_h", "mean_lum", "colorcount", "phash64"]
    out_schema = (
        ", ".join(f"{c} string" for c in keep)
        + ", dec_w int, dec_h int, mean_lum double, colorcount int, phash64 long"
    )
    capture = store is not None
    if capture:
        out_schema += ", __err_tb string"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import traceback as tb

        for pdf in it:
            # decode is inherently per-image; iterate with zip over the raw
            # column arrays (iterrows builds a Series per row — ~5-10× the
            # overhead around the codec call)
            rows = []
            keep_vals = [pdf[c].to_numpy() for c in keep]
            for i, b in enumerate(pdf[bytes_col]):
                base = tuple(kv[i] for kv in keep_vals)
                try:
                    px = decode_image(bytes(b))
                    q = (px >> 4).astype(np.uint16)
                    packed = (q[..., 0] << 8) | (q[..., 1] << 4) | q[..., 2]
                    stats = (
                        px.shape[1],
                        px.shape[0],
                        float(px.mean()),
                        int(len(np.unique(packed))),
                        average_phash(px),
                    )
                    rows.append(base + stats + ((None,) if capture else ()))
                except Exception:
                    if not capture:
                        raise
                    rows.append(base + (None,) * 5 + (tb.format_exc(),))
            cols = list(keep) + stat_cols + (["__err_tb"] if capture else [])
            yield pd.DataFrame(rows, columns=cols)

    out = df.select(*keep, bytes_col).mapInPandas(batches, schema=out_schema)
    if not capture:
        return out
    from hypercane_spark.errors import split_errors

    annotated = out.localCheckpoint()  # one decode pass feeds both splits
    ok, errs = split_errors(annotated, stage="decode_stats", key=keep[0])
    store.record(errs)
    return ok


def resize_images(
    df: DataFrame,
    target: int = 32,
    bytes_col: str = "bytes",
    keep: tuple[str, ...] = ("image_id",),
) -> DataFrame:
    """Nearest-neighbor resize to target×target, re-encoded lossless.
    Deterministic; stands in for a real resize kernel."""
    from hypercane_spark.synth import decode_image, encode_image

    out_schema = ", ".join(f"{c} string" for c in keep) + ", bytes binary, w int, h int"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            keep_vals = [pdf[c].to_numpy() for c in keep]
            for i, b in enumerate(pdf[bytes_col]):
                px = decode_image(bytes(b))
                ys = (np.arange(target) * px.shape[0] // target).clip(0, px.shape[0] - 1)
                xs = (np.arange(target) * px.shape[1] // target).clip(0, px.shape[1] - 1)
                small = px[np.ix_(ys, xs)]
                rows.append(
                    tuple(kv[i] for kv in keep_vals)
                    + (encode_image(small, "png"), target, target)
                )
            yield pd.DataFrame(rows, columns=list(keep) + ["bytes", "w", "h"])

    return df.select(*keep, bytes_col).mapInPandas(batches, schema=out_schema)


def payload_verify_udf(psnr_sample_mod: int = 1):
    """Scalar Arrow-batched UDF implementing the input_hint per-row fidelity
    contract: decode pixels, recompute the 64-bit average phash against the
    stored one, and measure PSNR of the decoded pixels against the
    ground-truth pixel source (regenerated deterministically from image_id —
    the stand-in for "the reference fetch"; lossless formats must be exact,
    lossy must reach ≥ 40 dB). Returns struct<phash_ok:boolean,
    psnr_db:double, err:string> with 1e9 standing in for +inf.

    ``psnr_sample_mod > 1`` audits the deep-pixel PSNR on a deterministic
    1/mod sample of image ids (null elsewhere; F.min skips nulls) while the
    phash check stays on 100% of rows — the production shape for payload
    quality auditing: regenerating full ground-truth pixels per row is a
    memory-bandwidth hog that the sampled audit bounds without weakening
    the exact per-row hash check.

    Being a scalar pandas UDF (not mapInPandas), it rides on the fetched
    rows in place — no extra shuffle or join to re-attach the columns.

    Record and skip, never abort (reference errors.py:5-38): a row whose
    payload fails to decode or verify gets null ``phash_ok``/``psnr_db``
    and its traceback in ``err``; ``err`` is null on success."""
    import traceback as tb
    import zlib

    from hypercane_spark.synth import (
        SEED,
        average_phash,
        decode_image,
        psnr,
    )

    @F.pandas_udf("phash_ok boolean, psnr_db double, err string")
    def verify(
        image_id: pd.Series, data: pd.Series, phash: pd.Series
    ) -> pd.DataFrame:
        def row(iid, b, p):
            if b is None:
                return None, None
            px = decode_image(bytes(b))
            ok = average_phash(px) == p
            sampled = (
                psnr_sample_mod <= 1
                or zlib.crc32(str(iid).encode()) % psnr_sample_mod == 0
            )
            if not sampled:
                return ok, None
            i = int(str(iid).rsplit("-", 1)[-1])
            truth = (
                np.random.RandomState(SEED + i)
                .randint(0, 256, size=px.shape, dtype=np.int64)
                .astype(np.uint8)
            )
            return ok, min(psnr(truth, px), 1e9)

        out = []
        for iid, b, p in zip(image_id, data, phash):
            try:
                out.append((*row(iid, b, p), None))
            except Exception:
                out.append((None, None, tb.format_exc()))
        return pd.DataFrame(out, columns=["phash_ok", "psnr_db", "err"])

    return verify


def frame_sample(
    df: DataFrame,
    every_n: int = 10,
    bytes_col: str = "bytes",
    key: str = "video_id",
    frame_fmt: str = "png",
) -> DataFrame:
    """Sample every ``every_n``-th frame from video containers → one row
    per sampled frame: (key, frame_idx, bytes).

    Default path decodes the deterministic stand-in container
    (synth.encode_video): frames are sliced by OFFSET from the payload —
    sampling k of n frames reads k·frame_bytes, not the whole stream,
    mirroring keyframe seeks in a real container. Each sampled frame is
    re-encoded as a stand-alone image container (``frame_fmt``) so every
    downstream image operator (decode_stats, image_rank, resize)
    composes directly on the output. Real codecs plug into the same
    mapInPandas body: unknown magic falls through to a pyav import-try
    (synth.iter_video_frames).

    Scale shape: one Arrow batch of containers in, a frame batch out —
    row count grows ~n_frames/every_n per video but each output row is a
    single frame, so batch memory is bounded by Arrow's
    maxRecordsPerBatch × frame size, independent of video length."""
    out_schema = f"{key} string, frame_idx int, bytes binary"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from hypercane_spark.synth import encode_image, iter_video_frames

        for pdf in it:
            keys: list = []
            idxs: list[int] = []
            outs: list[bytes] = []
            for k, b in zip(pdf[key], pdf[bytes_col]):
                for idx, frame in iter_video_frames(bytes(b), every_n):
                    keys.append(k)
                    idxs.append(idx)
                    outs.append(encode_image(frame, frame_fmt))
            yield pd.DataFrame({key: keys, "frame_idx": idxs, "bytes": outs})

    return df.select(key, bytes_col).mapInPandas(batches, schema=out_schema)


def image_rank(
    df: DataFrame,
    key: str = "image_id",
    in_metadata: str | None = None,
    score: str | None = None,
) -> DataFrame:
    """MementoEmbed-style global image ranking (reference
    /root/reference/hypercane/report/imagedata.py:127-188): order by the
    tuple (in_metadata, score, pixelsize, colorcount, 1/ratio, position)
    descending, with near-duplicate suppression on equal
    (colorcount, ratio) — the reference's window-dedup.

    The global rank runs as order.with_global_rank (range-partition +
    broadcast offsets): the fetched-images table grows with the crawl, so a
    single-partition ``Window.orderBy`` here is a scale-killer. The dedup
    window stays a window — it's PARTITIONED by (colorcount, ratio)."""
    from hypercane_spark.operators.order import with_global_rank

    stats = df
    if "colorcount" not in stats.columns:
        stats = stats.join(decode_stats(df, keep=(key,)), on=key)
    pixelsize = F.col("dec_w") * F.col("dec_h")
    ratio = F.when(
        F.col("dec_h") > 0, F.col("dec_w") / F.col("dec_h")
    ).otherwise(F.lit(1.0))
    meta = F.col(in_metadata).cast("int") if in_metadata else F.lit(0)
    sc = F.col(score).cast("double") if score else F.lit(0.0)
    work = (
        stats.withColumn("__meta", meta)
        .withColumn("__sc", sc)
        .withColumn("__px", pixelsize)
        .withColumn("__invr", F.lit(1.0) / ratio)
        .withColumn("__ratio4", F.round(ratio, 4))
    )
    ranked = with_global_rank(
        work,
        [
            F.col("__meta").desc(),
            F.col("__sc").desc(),
            F.col("__px").desc(),
            F.col("colorcount").desc(),
            F.col("__invr").desc(),
            F.col(key).asc(),
        ],
        rank_col="rank",
    )
    dupw = Window.partitionBy("colorcount", "__ratio4").orderBy("rank")
    return (
        ranked.withColumn("__dup_rn", F.row_number().over(dupw))
        .where(F.col("__dup_rn") == 1)
        .drop("__dup_rn", "__meta", "__sc", "__px", "__invr", "__ratio4")
    )
