"""Multimodal (image/video) Spark operators over opaque binary columns.

Mirrors operators/audio.py: a typed-metadata media table, mapInPandas
decode / feature-extract / resize / frame-sample, everything
Arrow-batched (never per-row Python).  Two image codecs decode for
REAL: the synthetic ``raw_rgb8`` and uncompressed 24-bit ``bmp``
containers (kernel/media.py — vectorized header parse + padded-row
decode, public format, no library needed); jpeg/png/h264/… are stubbed
behind NotImplementedError because no decoder libraries exist in this
environment — the Spark plumbing (schema, partitioning, batch shape,
UDF signatures) is real and tested either way.

Scale notes (100 TB):
  * media bytes stay columnar in Arrow from parquet scan to the Python
    worker; each stage is map-only — zero shuffles, scales with splits.
  * feature/resize outputs DROP the original bytes column unless asked:
    never carry 100 TB of pixels through a projection that doesn't
    need them (column pruning then keeps bytes out of the scan).
  * frame sampling explodes (media_id, frame_idx, frame_bytes) rows —
    output volume is input/k, bounded before any downstream shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernel.media import (
    BMP_IMAGE_CODEC,
    RAW_IMAGE_CODEC,
    RAW_VIDEO_CODEC,
    batch_frame_stats,
    decode_image,
    decode_video,
    encode_image,
    encode_video,
    image_features,
    resize_nearest,
    sample_frames,
    synth_image,
    synth_video,
)
from ..sources.clips import ddl_fields, range_df, rows_frame

MEDIA_SCHEMA_DDL = (
    "media_id string, kind string, bytes binary, codec string, "
    "width int, height int, n_frames int, fps double"
)
MEDIA_COLUMNS = [name for name, _ in ddl_fields(MEDIA_SCHEMA_DDL)]
MEDIA_SEED = 1337


def media_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Deterministic synthetic media rows [start, end) — pure function,
    partitioning-independent (the row-range contract of
    sources/clips.py)."""
    rows = []
    for r in range(start, end):
        width = 8 + r % 16
        height = 6 + r % 12
        if r % 4 == 0:
            n_frames = 2 + r % 7
            data = encode_video(synth_video(MEDIA_SEED + r, width, height, n_frames))
            kind, codec, fps = "video", RAW_VIDEO_CODEC, float(10 + r % 20)
        else:
            n_frames = 1
            img = synth_image(MEDIA_SEED + r, width, height)
            # alternate the two REAL image codecs: raw_rgb8 and the BMP
            # container (r % 2) — q27's oracle checks decoded SHAPES, so
            # the container parse itself sits under the oracle gate
            codec = BMP_IMAGE_CODEC if r % 2 else RAW_IMAGE_CODEC
            data = encode_image(img, codec)
            kind, fps = "image", 0.0
        rows.append((
            f"media-{r:010d}", kind, data, codec, width, height, n_frames, fps,
        ))
    return rows_frame(rows, MEDIA_SCHEMA_DDL)


def media_df(spark, n_rows: int, partitions: int | None = None) -> DataFrame:
    """Distributed ``media_rows_for_range`` (``range_df``, no shuffle)."""
    return range_df(spark, n_rows, media_rows_for_range, MEDIA_SCHEMA_DDL,
                    partitions)


_FEATURES_DDL = (
    "media_id string, kind string, dec_width int, dec_height int, "
    "dec_frames int, mean_r double, mean_g double, mean_b double, "
    "brightness double, contrast double"
)


def _features_rows_loop(grp: pd.DataFrame) -> pd.DataFrame:
    """Per-row decode + stats — the general path for non-raw codecs
    (stub decoders raise their clear NotImplementedError here) and for
    raw rows whose byte counts disagree with metadata (per-row decode
    raises the precise ValueError)."""
    rows = []
    for t in grp.itertuples(index=False):
        if t.kind == "video":
            frames = decode_video(t.bytes, t.codec, t.width, t.height, t.n_frames)
            # media-level stats span ALL frames (frame-0-only channel
            # means would disagree with all-frame brightness for
            # drifting videos)
            f = frames.astype(np.float64)
            feats = {
                "width": int(frames.shape[2]),
                "height": int(frames.shape[1]),
                "mean_r": float(f[..., 0].mean()),
                "mean_g": float(f[..., 1].mean()),
                "mean_b": float(f[..., 2].mean()),
                "brightness": float(f.mean()),
                "contrast": float(f.std()),
            }
            dec_frames = int(frames.shape[0])
        else:
            img = decode_image(t.bytes, t.codec, t.width, t.height)
            feats = image_features(img)
            dec_frames = 1
        rows.append(
            {
                "media_id": t.media_id,
                "kind": t.kind,
                "dec_width": feats["width"],
                "dec_height": feats["height"],
                "dec_frames": dec_frames,
                "mean_r": feats["mean_r"],
                "mean_g": feats["mean_g"],
                "mean_b": feats["mean_b"],
                "brightness": feats["brightness"],
                "contrast": feats["contrast"],
            }
        )
    return pd.DataFrame(rows)


def with_media_features(df: DataFrame) -> DataFrame:
    """Decode each row by codec and extract shape + channel statistics.
    Decoded shapes come from the actual pixel buffer, so comparing them
    against the metadata columns validates the decode path end-to-end.

    Same-shaped raw rows are STACKED: one frombuffer over the group's
    concatenated bytes → (n, [frames,] h, w, 3) → one vectorized stats
    reduction (kernel/media.py batch_frame_stats).  For small images the
    per-row interpreter loop dominates the decode cost; grouping by
    (kind, codec, width, height, n_frames) removes it while leaving the
    per-row path for stub codecs and malformed rows."""

    def run(iterator):
        for pdf in iterator:
            if not len(pdf):
                continue
            outs = []
            # dropna=False: pandas groupby silently DROPS null-keyed rows
            # by default — for external data with nullable metadata that
            # would be silent row loss in an operator whose output
            # cardinality callers assume equals input.  Null-keyed groups
            # fall through to the per-row loop, which fails loudly in
            # decode instead.
            for (kind, codec, w, h, nf), grp in pdf.groupby(
                ["kind", "codec", "width", "height", "n_frames"],
                sort=False, dropna=False,
            ):
                is_raw_img = kind != "video" and codec == RAW_IMAGE_CODEC
                is_raw_vid = kind == "video" and codec == RAW_VIDEO_CODEC
                expected = (
                    w * h * 3 * (nf if is_raw_vid else 1)
                    if (is_raw_img or is_raw_vid)
                    else -1
                )
                if expected > 0 and all(
                    b is not None and len(b) == expected
                    for b in grp["bytes"]
                ):
                    buf = np.frombuffer(
                        b"".join(grp["bytes"]), dtype=np.uint8
                    )
                    shape = (
                        (len(grp), nf, h, w, 3)
                        if is_raw_vid
                        else (len(grp), h, w, 3)
                    )
                    stats = batch_frame_stats(buf.reshape(shape))
                    out = pd.DataFrame(
                        {
                            "media_id": grp["media_id"].to_numpy(),
                            "kind": kind,
                            "dec_width": w,
                            "dec_height": h,
                            "dec_frames": nf if is_raw_vid else 1,
                            **stats,
                        }
                    )
                else:
                    out = _features_rows_loop(grp)
                outs.append(out)
            pdf_out = pd.concat(outs, ignore_index=True)
            for c in ("dec_width", "dec_height", "dec_frames"):
                pdf_out[c] = pdf_out[c].astype("int32")
            yield pdf_out

    return df.mapInPandas(run, schema=_FEATURES_DDL)


def resized_media(df: DataFrame, width: int, height: int) -> DataFrame:
    """Nearest-neighbour resize of every image/frame to (width, height);
    re-encoded raw_rgb8 with updated metadata."""

    def run(iterator):
        for pdf in iterator:
            out = {c: [] for c in MEDIA_COLUMNS}
            for t in pdf.itertuples(index=False):
                if t.kind == "video":
                    frames = decode_video(
                        t.bytes, t.codec, t.width, t.height, t.n_frames
                    )
                    resized = np.stack(
                        [resize_nearest(f, width, height) for f in frames]
                    )
                    data = encode_video(resized)
                    codec = RAW_VIDEO_CODEC
                else:
                    data = encode_image(
                        resize_nearest(
                            decode_image(t.bytes, t.codec, t.width, t.height),
                            width,
                            height,
                        )
                    )
                    codec = RAW_IMAGE_CODEC
                out["media_id"].append(t.media_id)
                out["kind"].append(t.kind)
                out["bytes"].append(data)
                out["codec"].append(codec)
                out["width"].append(width)
                out["height"].append(height)
                out["n_frames"].append(t.n_frames)
                out["fps"].append(t.fps)
            if out["media_id"]:
                pdf_out = pd.DataFrame(out)[MEDIA_COLUMNS]
                for c in ("width", "height", "n_frames"):
                    pdf_out[c] = pdf_out[c].astype("int32")
                yield pdf_out

    return df.mapInPandas(run, schema=MEDIA_SCHEMA_DDL)


_FRAMES_DDL = "media_id string, frame_idx int, width int, height int, frame_bytes binary"


def sampled_frames_df(df: DataFrame, every_k: int = 2) -> DataFrame:
    """Video → every k-th frame as its own row (raw_rgb8 image bytes)."""

    def run(iterator):
        for pdf in iterator:
            out: dict = {
                "media_id": [], "frame_idx": [], "width": [],
                "height": [], "frame_bytes": [],
            }
            for t in pdf.itertuples(index=False):
                if t.kind != "video":
                    continue
                frames = decode_video(t.bytes, t.codec, t.width, t.height, t.n_frames)
                for i, frame in zip(
                    range(0, int(t.n_frames), every_k), sample_frames(frames, every_k)
                ):
                    out["media_id"].append(t.media_id)
                    out["frame_idx"].append(i)
                    out["width"].append(t.width)
                    out["height"].append(t.height)
                    out["frame_bytes"].append(encode_image(frame))
            if out["media_id"]:
                pdf_out = pd.DataFrame(out)
                for c in ("frame_idx", "width", "height"):
                    pdf_out[c] = pdf_out[c].astype("int32")
                yield pdf_out

    return df.mapInPandas(run, schema=_FRAMES_DDL)
