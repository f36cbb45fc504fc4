"""Multimodal column plumbing (north star B33).

Images/audio/video are opaque ``binary`` columns. The Spark-side
machinery is real and tested — schema, Arrow-batched
``mapInPandas`` feature extraction, partition-friendly shapes — while the
actual media decode sits behind a RUNTIME capability probe:

- ``probe_codecs`` detects PIL/cv2 at call time (on the executor, not the
  driver); ``decode_image`` really decodes when either is importable and
  raises NotImplementedError only when neither is (this container ships no
  codec libraries — the documented stub mode).
- ``image_dims_extractor`` is the switched operator: real decode or
  deterministic stub per row, IDENTICAL output schema in both modes.
- ``fake_feature_extractor`` is the deterministic stand-in used by tests
  and oracles: features computed from the raw bytes only, so the oracle
  stays green with or without codecs.

At 100 TB the rules encoded here: blobs travel as parquet binary (never
strings), metadata lives in a sibling struct so pruning works (a query that
reads only metadata must not fetch blobs — parquet column pruning gives
this for free), and per-batch Python cost is amortized via Arrow batch
size, not per-row UDF calls.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def to_blob(text: Column) -> Column:
    """Encode a string column as a binary blob (UTF-8) — the test stand-in
    for real media bytes."""
    return F.encode(text, "UTF-8")


def probe_codecs() -> str | None:
    """Runtime capability probe: name of an importable image codec library
    ('PIL' or 'cv2'), or None when the environment ships neither.

    Called INSIDE the Arrow batch functions (executors may have a different
    environment than the driver) and by callers that want to branch. The
    probe — not an install-time flag — decides stub vs real decode, so the
    same code runs real decode in production and the deterministic stub in
    codec-less containers with an identical output schema (VERDICT r1 #4).
    """
    try:
        import PIL.Image  # noqa: F401

        return "PIL"
    except Exception:
        pass
    try:
        import cv2  # noqa: F401

        return "cv2"
    except Exception:
        return None


def decode_image(blob_bytes: bytes):
    """Decode image bytes to (width, height) via whichever codec the probe
    finds. Raises NotImplementedError only when NO codec exists — the
    documented stub mode (this container ships no codec libraries; the
    Arrow plumbing around this call is real and tested either way)."""
    codec = probe_codecs()
    if codec == "PIL":
        import io as _io

        import PIL.Image

        with PIL.Image.open(_io.BytesIO(blob_bytes)) as img:
            return img.size  # (width, height)
    if codec == "cv2":
        import cv2
        import numpy as np

        arr = cv2.imdecode(
            np.frombuffer(blob_bytes, dtype=np.uint8), cv2.IMREAD_UNCHANGED
        )
        if arr is None:
            raise ValueError("cv2 could not decode blob")
        h, w = arr.shape[:2]
        return (w, h)
    raise NotImplementedError(
        "media decode requires codec libraries not present in this "
        "environment; use fake_feature_extractor for the tested path"
    )


DIMS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("decoded", LongType()),
    ]
)


def image_dims_extractor(
    df: DataFrame,
    id_col: str = "doc_id",
    blob_col: str = "blob",
    force_stub: bool = False,
) -> DataFrame:
    """Per-image dimensions with the stub/real switch INSIDE the batch fn:
    when a codec is importable on the executor, blobs are really decoded
    (width/height from the image header, decoded=1; undecodable blobs give
    -1/-1/0 — per-row error isolation, the reference's skip-bad-record
    semantics, main.py:98-103); without a codec every row takes the
    deterministic stub branch (-1/-1/0). The schema is IDENTICAL in both
    modes, so downstream plans never change shape — only the values of the
    decode-dependent columns do. ``force_stub`` pins the stub branch for
    tests that must exercise it even where a codec exists."""

    def dims(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        have_codec = (not force_stub) and probe_codecs() is not None
        for pdf in batches:
            ws, hs, oks = [], [], []
            for b in pdf[blob_col]:
                w = h = -1
                ok = 0
                if have_codec:
                    try:
                        w, h = decode_image(bytes(b))
                        ok = 1
                    except Exception:
                        w = h = -1
                        ok = 0
                ws.append(w)
                hs.append(h)
                oks.append(ok)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": pdf[blob_col].map(len).astype("int64"),
                    "width": pd.Series(ws, dtype="int64"),
                    "height": pd.Series(hs, dtype="int64"),
                    "decoded": pd.Series(oks, dtype="int64"),
                }
            )

    return df.select(id_col, blob_col).mapInPandas(dims, DIMS_SCHEMA)


FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("first_byte", LongType()),
        StructField("last_byte", LongType()),
        StructField("head_hex", StringType()),
    ]
)


def fake_feature_extractor(
    df: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """Deterministic byte-level 'feature extraction' over Arrow batches —
    the real UDF signature/batching/partitioning with a fake body.
    Production swaps the per-batch body for decode + model inference; the
    Spark plumbing (mapInPandas over binary, struct-typed output, batch
    amortization) is exactly what ships."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf[blob_col]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": blobs.map(len).astype("int64"),
                    "first_byte": blobs.map(
                        lambda b: b[0] if len(b) else -1
                    ).astype("int64"),
                    "last_byte": blobs.map(
                        lambda b: b[-1] if len(b) else -1
                    ).astype("int64"),
                    "head_hex": blobs.map(lambda b: bytes(b[:4]).hex()),
                }
            )

    return df.select(id_col, blob_col).mapInPandas(extract, FEATURE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_blob", BinaryType()),
        StructField("n_frames_total", LongType()),
    ]
)


def sample_frames(
    df: DataFrame,
    every_k: int = 2,
    frame_size: int = 16,
    id_col: str = "doc_id",
    blob_col: str = "blob",
) -> DataFrame:
    """Video frame-sampling plumbing: one input row fans out to one row per
    sampled frame — the shape a real decoder produces (ffmpeg keyframe
    extraction), with the decode stubbed as fixed-size byte chunking.

    The scale-relevant properties are real: ``mapInPandas`` may yield MORE
    rows than it consumes (fan-out inside the Arrow iterator, no explode of
    a driver-built array), frames stay binary end-to-end, and the sampling
    stride bounds output volume to |video| / (every_k * frame_size) rows.
    At 100 TB the downstream repartition decision belongs to the caller:
    frames inherit the video's partition, which is right for per-video
    models and wrong for global shuffles."""

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, blobs, totals = [], [], [], []
            for doc_id, b in zip(pdf[id_col], pdf[blob_col]):
                b = bytes(b)
                n_frames = max((len(b) + frame_size - 1) // frame_size, 0)
                for i in range(0, n_frames, every_k):
                    ids.append(int(doc_id))
                    idxs.append(i)
                    blobs.append(b[i * frame_size : (i + 1) * frame_size])
                    totals.append(n_frames)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "frame_blob": blobs,
                    "n_frames_total": pd.Series(totals, dtype="int64"),
                }
            )

    return df.select(id_col, blob_col).mapInPandas(frames, FRAME_SCHEMA)


def pcm_synthesize(df, id_col: str = "doc_id", n_samples: int = 1024):
    """Deterministic 16-bit little-endian PCM blobs from an id column —
    the binary-ingest stage for the audio path: wave[n] = ((id*7 + n*13)
    % 200) - 100, a closed form BOTH engines can reproduce, packed into a
    REAL ``binary`` column (np.int16.tobytes — no codec library needed:
    PCM is the one audio 'format' that is pure struct layout)."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            blobs = []
            for i in pdf[id_col]:
                n = np.arange(n_samples, dtype=np.int64)
                w = ((int(i) * 7 + n * 13) % 200 - 100).astype("<i2")
                blobs.append(w.tobytes())
            yield pd.DataFrame({id_col: pdf[id_col], "pcm": blobs})

    return df.select(id_col).mapInPandas(gen, f"{id_col} long, pcm binary")


def pcm_synthesize_gated(
    df, id_col: str = "doc_id", n_samples: int = 1024, block: int = 64
):
    """:func:`pcm_synthesize` with an amplitude ENVELOPE: every third
    ``block`` of samples is silenced — wave[n] = (((id*7 + n*13) % 200)
    - 100) * (0 if (n // block + id) % 3 == 0 else 1). The closed form
    stays engine-reproducible while giving the blob a speech-like
    active/silent structure, which is what the VAD-segmentation key
    (q_audio_vad_segments) needs: frame energies alternate between 0 and
    full scale with a per-id phase, so the island grouping is exercised
    for real instead of degenerating to one segment per track."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            blobs = []
            for i in pdf[id_col]:
                n = np.arange(n_samples, dtype=np.int64)
                gate = ((n // block + int(i)) % 3 != 0).astype(np.int64)
                w = (((int(i) * 7 + n * 13) % 200 - 100) * gate).astype("<i2")
                blobs.append(w.tobytes())
            yield pd.DataFrame({id_col: pdf[id_col], "pcm": blobs})

    return df.select(id_col).mapInPandas(gen, f"{id_col} long, pcm binary")


def pcm_frame_features(df, blob_col: str = "pcm", id_col: str = "doc_id",
                       frame: int = 256):
    """REAL audio feature extraction over binary PCM columns (the
    multimodal decode path that needs no external codec): each blob
    decodes via np.frombuffer(int16) and every ``frame``-sample window
    yields integer-exact features — energy (sum of squares in int64) and
    zero crossings (sign-change count, zero counted non-negative).
    Arrow-batched mapInPandas, shuffle-free, one output row per frame;
    the same plumbing (schema, batch shape, partitioning) the
    codec-gated image path uses, but fully value-checkable end to end."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            ids, fidx, sumsq, zc = [], [], [], []
            for i, blob in zip(pdf[id_col], pdf[blob_col]):
                w = np.frombuffer(blob, dtype="<i2").astype(np.int64)
                for f in range(len(w) // frame):
                    seg = w[f * frame:(f + 1) * frame]
                    ids.append(i)
                    fidx.append(f)
                    sumsq.append(int((seg * seg).sum()))
                    zc.append(int(((seg[:-1] >= 0) != (seg[1:] >= 0)).sum()))
            yield pd.DataFrame(
                {id_col: ids, "frame_idx": fidx, "sumsq": sumsq, "zc": zc}
            )

    return df.mapInPandas(
        gen, f"{id_col} long, frame_idx int, sumsq long, zc long"
    )


def rgb_synthesize(df, id_col: str = "doc_id", w: int = 32, h: int = 32):
    """Deterministic raw RGB frames (H*W*3 interleaved bytes) from an id
    column — the image analogue of pcm_synthesize: pixel byte n =
    (id*3 + n*7) % 256, a closed form both engines reproduce. Raw
    bitmaps are pure byte layout (what a decoded JPEG hands you), so the
    tiling/statistics path downstream is REAL image-side compute with no
    codec dependency."""
    import numpy as np
    import pandas as pd

    n_bytes = w * h * 3

    def gen(batches):
        for pdf in batches:
            blobs = []
            for i in pdf[id_col]:
                n = np.arange(n_bytes, dtype=np.int64)
                blobs.append(((int(i) * 3 + n * 7) % 256).astype(np.uint8).tobytes())
            yield pd.DataFrame({id_col: pdf[id_col], "rgb": blobs})

    return df.select(id_col).mapInPandas(gen, f"{id_col} long, rgb binary")


def rgb_tile_stats(df, blob_col: str = "rgb", id_col: str = "doc_id",
                   w: int = 32, h: int = 32, tile: int = 16):
    """Tile a raw RGB frame into (tile x tile) patches and emit per-tile
    per-channel byte sums — the image-preprocessing plumbing (patchify
    for a ViT, tile-level brightness stats for filtering) on genuinely
    decoded buffers: np.frombuffer(uint8).reshape(h, w, 3), block-sum
    via reshape — Arrow-batched, shuffle-free, one row per
    (frame, tile, channel)."""
    import numpy as np
    import pandas as pd

    ty_n, tx_n = h // tile, w // tile

    def gen(batches):
        for pdf in batches:
            ids, tys, txs, cs, sums = [], [], [], [], []
            for i, blob in zip(pdf[id_col], pdf[blob_col]):
                img = np.frombuffer(blob, dtype=np.uint8).reshape(h, w, 3)
                # block-sum: (ty_n, tile, tx_n, tile, 3) -> sum tile dims
                t = (
                    img.astype(np.int64)
                    .reshape(ty_n, tile, tx_n, tile, 3)
                    .sum(axis=(1, 3))
                )
                for ty in range(ty_n):
                    for tx in range(tx_n):
                        for c in range(3):
                            ids.append(i)
                            tys.append(ty)
                            txs.append(tx)
                            cs.append(c)
                            sums.append(int(t[ty, tx, c]))
            yield pd.DataFrame(
                {id_col: ids, "ty": tys, "tx": txs, "c": cs, "s": sums}
            )

    return df.mapInPandas(
        gen, f"{id_col} long, ty int, tx int, c int, s long"
    )


def gray_synthesize_groups(
    df,
    id_col: str = "doc_id",
    w: int = 32,
    h: int = 32,
    group: int = 4,
    period: int = 50,
    bump: int = 60,
):
    """Deterministic grayscale frames with PLANTED near-duplicate groups:
    ids in the same group of ``group`` share a base pattern
    ((g+11)·(i+7)) % 256 (per-group sawtooth frequency → distinct
    signatures across groups) and each member perturbs ~w·h/period pixels
    by +``bump`` at positions i % period == id % group — a deterministic
    stand-in for re-encoded/lightly-edited copies of one image. Closed
    form, so DuckDB reproduces every byte (the rgb_synthesize contract)."""
    import numpy as np
    import pandas as pd

    n_bytes = w * h

    def gen(batches):
        for pdf in batches:
            blobs = []
            for i in pdf[id_col]:
                i = int(i)
                g, d = i // group, i % group
                n = np.arange(n_bytes, dtype=np.int64)
                v = ((g + 11) * (n + 7) + np.where(n % period == d, bump, 0)) % 256
                blobs.append(v.astype(np.uint8).tobytes())
            yield pd.DataFrame({id_col: pdf[id_col], "px": blobs})

    return df.select(id_col).mapInPandas(gen, f"{id_col} long, px binary")


def ahash64(
    df,
    blob_col: str = "px",
    id_col: str = "doc_id",
    w: int = 32,
    h: int = 32,
    block: int = 4,
):
    """64-bit average-hash (aHash) perceptual signature from a raw
    grayscale buffer: decode via np.frombuffer, mean-pool (h/block ×
    w/block) = 8×8 blocks, bit b = block mean > global mean — compared in
    EXACT integer cross-multiplication (block_sum·(w·h/blocks²) >
    total_sum), so the signature is bit-deterministic and recomputable in
    SQL. Returned as a signed long (bit 63 in two's complement). This is
    the image-dedup counterpart of SimHash: Arrow-batched decode, one
    64-bit signature per frame, banded self-join downstream."""
    import numpy as np
    import pandas as pd

    by, bx = h // block, w // block  # 8x8 blocks
    n_blocks = by * bx
    px_per_block = block * block

    def gen(batches):
        for pdf in batches:
            ids, sigs = [], []
            for i, blob in zip(pdf[id_col], pdf[blob_col]):
                img = np.frombuffer(blob, dtype=np.uint8).reshape(h, w).astype(np.int64)
                blocks = img.reshape(by, block, bx, block).sum(axis=(1, 3)).reshape(-1)
                total = int(img.sum())
                u = 0
                for b in range(n_blocks):
                    # block_mean > global_mean  <=>  bs * n_blocks > total
                    if int(blocks[b]) * n_blocks > total:
                        u |= 1 << b
                sigs.append(u - (1 << 64) if u >= 1 << 63 else u)
                ids.append(int(i))
            yield pd.DataFrame({id_col: ids, "sig": sigs})

    return df.mapInPandas(gen, f"{id_col} long, sig long")
