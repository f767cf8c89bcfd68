"""Perceptual image dedup: dhash kernel replica, cross-format robustness,
banded pair matrix, strict mode."""

import numpy as np
import pytest

from kneaddata_spark.multimodal import decode_bmp, decode_png, encode_bmp, encode_png
from kneaddata_spark.operators.imagedup import dhash64, image_dhash, image_dup_pairs


def _dhash_replica(px):
    p = px.astype(int)
    luma = [
        [(299 * r + 587 * g + 114 * b) // 1000 for (r, g, b) in row] for row in p
    ]
    h, w = len(luma), len(luma[0])
    rows = [(i * h) // 8 for i in range(8)]
    cols = [(j * w) // 9 for j in range(9)]
    out = 0
    k = 0
    for i in rows:
        for j in range(8):
            if luma[i][cols[j + 1]] > luma[i][cols[j]]:
                out |= 1 << k
            k += 1
    return out - (1 << 64) if out >= (1 << 63) else out


def test_dhash_kernel_replica_and_properties():
    rng = np.random.RandomState(5)
    for shape in [(16, 16), (8, 9), (32, 48), (100, 7)]:
        px = rng.randint(0, 256, (*shape, 3), dtype=np.uint8)
        assert dhash64(px) == _dhash_replica(px)
    # brightness shift (uniform +20, clipped away from saturation) keeps
    # gradient SIGNS -> identical hash
    px = rng.randint(20, 200, (16, 16, 3), dtype=np.uint8)
    assert dhash64(px) == dhash64((px + 20).astype(np.uint8))
    # constant image: no strict gradients -> hash 0
    assert dhash64(np.full((16, 16, 3), 77, dtype=np.uint8)) == 0


def test_dhash_cross_format_identical():
    """The same pixels through BMP and PNG encode->decode->dhash must
    collide exactly — the re-encoded-web-image case the operator exists
    for."""
    rng = np.random.RandomState(9)
    px = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
    hb = dhash64(decode_bmp(encode_bmp(px)))
    hp = dhash64(decode_png(encode_png(px)))
    assert hb == hp == dhash64(px)


def test_image_dup_pairs_matrix(spark):
    """Planted matrix: exact dup found (hamming 0), cross-format dup
    found (hamming 0), one-pixel near-dup found (hamming <= 1), distinct
    images absent, undecodable rows dropped (non-strict), image payloads
    confined to one Arrow stage."""
    rng = np.random.RandomState(13)
    A = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
    B = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
    A1 = A.copy()
    A1[0, 0] = 255 - A1[0, 0]
    rows = [
        ("a_bmp", encode_bmp(A), "image/bmp"),
        ("a_png", encode_png(A), "image/png"),  # cross-format exact
        ("a_near", encode_bmp(A1), "image/bmp"),
        ("b_img", encode_png(B), "image/png"),  # distinct
        ("junk", b"not an image", "image/bmp"),  # undecodable
    ]
    d = spark.createDataFrame(rows, "media_id string, bytes binary, mime string")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in image_dup_pairs(d, max_hamming=3).collect()
    }
    assert set(got) == {("a_bmp", "a_png"), ("a_bmp", "a_near"), ("a_near", "a_png")}
    assert got[("a_bmp", "a_png")] == 0
    assert got[("a_bmp", "a_near")] <= 1
    # hashes: engine == replica, junk -> NULL
    hs = {r["media_id"]: r["dhash"] for r in image_dhash(d).collect()}
    assert hs["junk"] is None
    assert hs["a_bmp"] == _dhash_replica(A)
    with pytest.raises(Exception):
        image_dhash(d, strict=True).collect()


def test_banded_hamming_pairs_called_twice(spark):
    """banded_hamming_pairs pins an unpersisted input ONCE: a second call
    on the same frame adds no tracked cache, and a frame the caller
    persisted keeps its own storage level and is not tracked at all.
    Every call returns the same pairs."""
    from pyspark import StorageLevel

    from kneaddata_spark.operators import caching
    from kneaddata_spark.operators.imagedup import banded_hamming_pairs

    rows = [("x", 0b1011), ("y", 0b1001), ("z", -1), ("w", 0b111 << 40)]
    want = {("x", "y", 1)}  # every other pair differs in >= 5 bits
    caching.release_tracked()
    h = spark.createDataFrame(rows, "media_id string, dhash long")
    for _ in range(2):
        got = {tuple(r) for r in banded_hamming_pairs(h, "media_id", "dhash", 3).collect()}
        assert got == want
    assert len(caching._LIVE) == 1
    caching.release_tracked()

    own = spark.createDataFrame(rows, "media_id string, dhash long").persist(StorageLevel.DISK_ONLY)
    for _ in range(2):
        got = {tuple(r) for r in banded_hamming_pairs(own, "media_id", "dhash", 3).collect()}
        assert got == want
    assert own.storageLevel == StorageLevel.DISK_ONLY
    assert caching._LIVE == []
    own.unpersist()


def test_image_dup_pairs_pigeonhole_fence():
    with pytest.raises(ValueError):
        image_dup_pairs(None, max_hamming=4)


def test_video_dhash_majority_and_frame_robustness():
    from kneaddata_spark.operators.imagedup import video_dhash64

    rng = np.random.RandomState(21)
    px = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
    other = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
    base = video_dhash64([px, px, px, px])
    assert base == dhash64(px)  # unanimous vote == frame hash
    # one wholly-replaced frame out of four: majority unchanged
    assert video_dhash64([px, px, px, other]) == base
    # stride subsample of identical frames: unchanged
    assert video_dhash64([px, px][::2]) == base
    # per-bit majority replica on mixed frames
    hs = [dhash64(f) for f in (px, other, px)]
    want = 0
    for k in range(64):
        if 2 * sum((x >> k) & 1 for x in hs) > len(hs):
            want |= 1 << k
    want = want - (1 << 64) if want >= (1 << 63) else want
    assert video_dhash64([px, other, px]) == want


def test_video_dup_pairs_matrix(spark):
    from kneaddata_spark.multimodal import encode_avi
    from kneaddata_spark.operators.imagedup import video_dhash, video_dup_pairs

    rng = np.random.RandomState(31)
    A = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
    B = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
    A1 = A.copy()
    A1[0, 0] = 255 - A1[0, 0]
    rows = [
        ("v_base", encode_avi([A, A, A, A]), "video/avi"),
        ("v_lastfr", encode_avi([A, A, A, B]), "video/avi"),  # frame swap
        ("v_near", encode_avi([A1, A1, A1, A1]), "video/avi"),
        ("v_other", encode_avi([B, B, B, B]), "video/avi"),  # distinct
        ("v_junk", b"RIFFxxxx", "video/avi"),  # undecodable
    ]
    d = spark.createDataFrame(rows, "media_id string, bytes binary, mime string")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in video_dup_pairs(d, max_hamming=3).collect()
    }
    assert set(got) == {
        ("v_base", "v_lastfr"),
        ("v_base", "v_near"),
        ("v_lastfr", "v_near"),
    }
    assert got[("v_base", "v_lastfr")] == 0
    assert got[("v_base", "v_near")] <= 1
    hs = {r["media_id"]: r["vhash"] for r in video_dhash(d).collect()}
    assert hs["v_junk"] is None
    with pytest.raises(Exception):
        video_dhash(d, strict=True).collect()


def test_incremental_image_dedup_against_stored_index(spark):
    """Ingest screening vs a stored band index: exact re-upload and
    one-pixel near-dup flagged, fresh image and undecodable survive
    (batch decode failure is not corpus membership); the corpus side is
    its index only — never re-decoded; precision is exact (a same-bucket
    candidate beyond max_hamming survives)."""
    from kneaddata_spark.operators.imagedup import (
        image_band_index,
        incremental_image_dedup,
    )
    from kneaddata_spark.multimodal import encode_bmp

    rng = np.random.RandomState(41)
    corpus_px = {f"c{i}": rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
                 for i in range(10)}
    corpus = spark.createDataFrame(
        [(k, encode_bmp(v), "image/bmp") for k, v in corpus_px.items()],
        "media_id string, bytes binary, mime string",
    )
    idx = image_band_index(corpus)
    near = corpus_px["c3"].copy()
    near[0, 0] = 255 - near[0, 0]
    batch = spark.createDataFrame(
        [
            ("re_up", encode_bmp(corpus_px["c7"]), "image/bmp"),
            ("near", encode_bmp(near), "image/bmp"),
            ("fresh", encode_bmp(rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)),
             "image/bmp"),
            ("junk", b"nope", "image/bmp"),
        ],
        "media_id string, bytes binary, mime string",
    )
    surv, flagged = incremental_image_dedup(batch, idx, max_hamming=3)
    assert {r["media_id"] for r in flagged.collect()} == {"re_up", "near"}
    assert {r["media_id"] for r in surv.collect()} == {"fresh", "junk"}
    # index shape: N_BANDS rows per corpus image
    assert idx.count() == 40
