"""WebDataset tar-shard sink + read-back source.

A 100-TB curated corpus ships to trainers as tar shards (the WebDataset
convention: one tar member per sample component, named
``<key>.<ext>``), streamed sequentially by data loaders.  This module
writes them FROM the cluster — one task per shard, sizes bounded by
``shard_by_size`` — and reads them back for audits.

Determinism is a feature, not a nicety: every tar header field that
would otherwise vary (mtime, uid/gid, uname/gname, permissions) is
pinned, members are emitted in sorted key order, and the shard
assignment is the deterministic ``shard_by_size`` cumsum — so the SAME
corpus always produces byte-identical shards with the same sha256, and
a re-run after a partial failure is an idempotent overwrite (tmp file +
atomic rename), never a torn shard.

Scale design: the shard assignment's prefix sum runs on a narrow
(key, size) projection (``packing.with_global_offset``), so the payload
column crosses at most two exchanges — the key-hash join that attaches
shard_id and the groupBy(shard_id) that routes each shard's rows to
one task (bounded by ``shard_bytes``, so a task never holds more than
one shard of payload + one straddling row) — and is never
localCheckpointed to executor disk.  The manifest returned to the
driver is one row per SHARD, not per clip.  No whole-corpus collect
anywhere.

Reference scope note: thoughtbot/top_secret is redaction-only (no
sinks); this is part of the training-data-pipeline surface the task
brief adds on top.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import tarfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.packing import shard_by_size

# Pinned tar metadata — reproducible bytes on every run/host.
_TAR_MTIME = 0
_TAR_MODE = 0o644

MANIFEST_SCHEMA = (
    "shard_id long, path string, n_items long, data_bytes long, "
    "tar_bytes long, sha256 string"
)

CODEC_EXT = {"pcm16": "pcm16", "ulaw": "ulaw", "alaw": "alaw",
             "adpcm": "adpcm"}


class _HashingWriter:
    """File wrapper that sha256-hashes and counts every byte written —
    lets the tar stream straight to disk while the manifest hash
    accumulates (no second pass, no in-memory blob)."""

    def __init__(self, f):
        self._f = f
        self._h = hashlib.sha256()
        self.n_written = 0

    def write(self, b):
        self._h.update(b)
        self.n_written += len(b)
        return self._f.write(b)

    def tell(self):
        return self.n_written

    def close(self):  # tarfile closes the fileobj only if it opened it
        pass

    def sha256(self) -> str:
        return self._h.hexdigest()


def _add_member(tar: tarfile.TarFile, name: str, payload: bytes) -> None:
    info = tarfile.TarInfo(name=name)
    info.size = len(payload)
    info.mtime = _TAR_MTIME
    info.mode = _TAR_MODE
    info.uid = info.gid = 0
    info.uname = info.gname = ""
    tar.addfile(info, io.BytesIO(payload))


def write_webdataset(
    df: DataFrame,
    path: str,
    shard_bytes: int = 1 << 30,
    key_col: str = "clip_id",
    payload_col: str = "bytes",
    text_col: str = "transcript",
    meta_cols: tuple[str, ...] = ("sr_hz", "dur_ms", "codec"),
) -> DataFrame:
    """Write ``df`` as WebDataset tar shards under ``path`` →
    manifest DataFrame (one row per shard: path, n_items, data_bytes,
    tar_bytes, sha256).

    Each sample becomes up to three members, in this fixed order:
    ``<key>.<codec-ext>`` (raw payload; omitted when NULL),
    ``<key>.txt`` (text; omitted when NULL), and ``<key>.json``
    (metadata from ``meta_cols``, minified, sorted keys — always
    present).  Samples are ordered by key within a shard; shard
    membership is ``shard_by_size`` (size-balanced, deterministic).  A
    row with a NULL key has no member name and is not written.

    Building the manifest runs the shard assignment's two narrow jobs
    over (key, size); writing happens when the caller acts on it, in
    the tasks that compute it, one ``.tar`` per shard via tmp-file +
    atomic rename (idempotent overwrite on re-run)."""
    os.makedirs(path, exist_ok=True)
    sharded = shard_by_size(
        df.where(F.col(key_col).isNotNull()), shard_bytes,
        order_col=key_col, payload_col=payload_col,
    ).select(
        F.col("shard_id"), F.col(key_col).alias("_key"),
        F.col(payload_col).alias("_payload"),
        F.col(text_col).alias("_text") if text_col in df.columns
        else F.lit(None).cast("string").alias("_text"),
        *[F.col(c) for c in meta_cols if c in df.columns],
    )
    present_meta = [c for c in meta_cols if c in df.columns]

    def _py(v):
        """numpy scalar / NaN → JSON-safe Python value."""
        import pandas as pd

        if v is None or (isinstance(v, float) and pd.isna(v)):
            return None
        return v.item() if hasattr(v, "item") else v

    def write_shard(pdf):
        import pandas as pd

        shard_id = int(pdf["shard_id"].iloc[0])
        pdf = pdf.sort_values("_key", kind="mergesort")
        fname = f"shard-{shard_id:06d}.tar"
        final = os.path.join(path, fname)
        # attempt-unique tmp name: a retried / speculatively-executed
        # attempt racing a zombie first attempt must never interleave
        # writes into one tmp file — each attempt writes its own and the
        # os.replace stays atomic (last completed attempt wins with a
        # complete tar, byte-identical across attempts by determinism)
        try:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            attempt = ctx.taskAttemptId() if ctx is not None else None
        except Exception:
            attempt = None
        if attempt is None:
            import uuid

            attempt = uuid.uuid4().hex
        tmp = f"{final}.{attempt}.tmp"
        data_bytes = 0
        meta_series = [pdf[c] for c in present_meta]
        # STREAM the tar to disk through a hashing wrapper — never hold
        # the whole shard blob in memory next to its payload rows (at
        # the default 1 GiB shard_bytes an in-memory BytesIO would
        # double per-task peak memory); sha256 and tar_bytes accumulate
        # as bytes flow.
        out_f = open(tmp, "wb")
        buf = _HashingWriter(out_f)
        try:
            with tarfile.open(fileobj=buf, mode="w",
                              format=tarfile.USTAR_FORMAT) as tar:
                for key, payload, text, *metas in zip(
                    pdf["_key"], pdf["_payload"], pdf["_text"], *meta_series
                ):
                    key = str(key)
                    meta = {c: _py(v) for c, v in zip(present_meta, metas)}
                    if payload is not None:
                        ext = CODEC_EXT.get(meta.get("codec"), "bin")
                        b = bytes(payload)
                        _add_member(tar, f"{key}.{ext}", b)
                        data_bytes += len(b)
                    text = _py(text)
                    if text is not None:
                        _add_member(tar, f"{key}.txt",
                                    str(text).encode("utf-8"))
                    meta_b = json.dumps(
                        meta, sort_keys=True, separators=(",", ":"),
                    ).encode("utf-8")
                    _add_member(tar, f"{key}.json", meta_b)
            out_f.close()
            os.replace(tmp, final)
        except BaseException:
            out_f.close()
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise
        return pd.DataFrame([{
            "shard_id": shard_id,
            "path": final,
            "n_items": len(pdf),
            "data_bytes": data_bytes,
            "tar_bytes": buf.n_written,
            "sha256": buf.sha256(),
        }])

    return sharded.groupBy("shard_id").applyInPandas(
        write_shard, schema=MANIFEST_SCHEMA
    )


def read_webdataset(spark, path: str) -> DataFrame:
    """Read WebDataset shards written by :func:`write_webdataset` back
    into a clips-shaped DataFrame (clip_id, bytes, sr_hz, dur_ms,
    codec, transcript) — the audit/roundtrip source.

    The file LIST is tiny (one row per shard) and parallelizes across
    the cluster; each task streams its tar sequentially — exactly how a
    training loader consumes these, so reading validates the layout a
    loader will see."""
    shards = sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(".tar")
    ) if os.path.isdir(path) else []
    if not shards:
        raise ValueError(f"read_webdataset: no .tar shards under {path!r}")
    files = spark.createDataFrame(
        [(p,) for p in shards], "path string"
    ).repartition(min(len(shards), 64))

    def read_shard(iterator):
        import pandas as pd

        for pdf in iterator:
            rows = []
            for p in pdf["path"]:
                samples: dict[str, dict] = {}
                with tarfile.open(p, mode="r") as tar:
                    for m in tar:
                        key, ext = m.name.rsplit(".", 1)
                        data = tar.extractfile(m).read()
                        samples.setdefault(key, {})[ext] = data
                for key in sorted(samples):
                    parts = samples[key]
                    meta = json.loads(parts.pop("json", b"{}"))
                    text = parts.pop("txt", None)
                    payload = None
                    for ext, data in parts.items():
                        payload = data
                    rows.append({
                        "clip_id": key,
                        "bytes": payload,
                        "sr_hz": meta.get("sr_hz"),
                        "dur_ms": meta.get("dur_ms"),
                        "codec": meta.get("codec"),
                        "transcript": (text.decode("utf-8")
                                       if text is not None else None),
                    })
            yield pd.DataFrame(
                rows, columns=["clip_id", "bytes", "sr_hz", "dur_ms",
                               "codec", "transcript"],
            )

    return files.mapInPandas(
        read_shard,
        schema=("clip_id string, bytes binary, sr_hz int, dur_ms int, "
                "codec string, transcript string"),
    )
