"""Perceptual image hashing (pHash) + Hamming near-dup pairs.

The image counterpart of the text SimHash tier: 64-bit DCT hash over
the decoded raster (operators/multimodal.py phash64), pigeonhole-
blocked pair generation (phash_pairs).  Covers: cross-codec hash
consistency (PPM ≡ PNG, JPEG re-encode robustness), brightness
invariance (the property the gate's variant-1 twin exercises),
discrimination, quarantine, and Spark-pairs ≡ O(n²) reference."""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from cdc_pipeline_with_kafka_spark.operators import multimodal as mm


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def _noise_rgb(seed: str, w: int = 24, h: int = 24) -> np.ndarray:
    need = w * h * 3
    body = b""
    i = 0
    while len(body) < need:
        body += hashlib.sha256(f"{seed}:{i}".encode()).digest()
        i += 1
    a = np.frombuffer(body[:need], dtype=np.uint8).reshape(h, w, 3)
    return a.astype(np.float64) / 255.0


def _to_ppm(rgb: np.ndarray) -> bytes:
    a = np.clip(np.round(rgb * 255), 0, 255).astype(np.uint8)
    return b"P6\n%d %d\n255\n" % (rgb.shape[1], rgb.shape[0]) + a.tobytes()


def _to_png(rgb: np.ndarray) -> bytes:
    a = np.clip(np.round(rgb * 255), 0, 255).astype(np.uint8)
    h, w, _ = a.shape
    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))

    def chunk(t: bytes, b: bytes) -> bytes:
        return (
            struct.pack(">I", len(b)) + t + b
            + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )


def test_phash_deterministic_and_cross_codec():
    """Same raster through the PPM and PNG decode paths → the SAME
    64-bit hash (both decoders land on identical float64 pixels)."""
    rgb = _noise_rgb("codec-consistency")
    p_ppm = mm.phash64(_to_ppm(rgb))
    assert p_ppm == mm.phash64(_to_ppm(rgb))
    assert p_ppm == mm.phash64(_to_png(rgb))


def test_phash_jpeg_reencode_near_invariant():
    """Lossy JPEG re-encode (q-table 1) of a textured raster moves the
    hash by at most a few bits — the property byte-exact dedup lacks.
    (Ultra-smooth rasters are the documented pHash weak spot: their
    low-freq coefficients cluster at the median, so bits are noise-
    sensitive; textured/photographic content is the design target.)"""
    rgb = _noise_rgb("jpeg-robust", 32, 32)
    base = mm.phash64(_to_ppm(rgb))
    jpg = mm.encode_jpeg_baseline(rgb, qtable_value=1)
    assert _ham(base, mm.phash64(jpg)) <= 4


def test_phash_brightness_shift_flips_almost_nothing():
    """A clipped uniform brightness shift lives in the DC coefficient,
    which the median (computed DC-excluded) ignores."""
    rgb = _noise_rgb("brightness")
    shifted = np.minimum(rgb + 3 / 255.0, 1.0)
    assert _ham(mm.phash64(_to_ppm(rgb)), mm.phash64(_to_ppm(shifted))) <= 2


def test_phash_discriminates_unrelated_images():
    hashes = [mm.phash64(_to_ppm(_noise_rgb(f"doc{i}"))) for i in range(12)]
    dists = [
        _ham(hashes[i], hashes[j])
        for i in range(12)
        for j in range(i + 1, 12)
    ]
    # independent 64-bit hashes concentrate around 32; anything ≤ 12
    # would collide with the near-dup band
    assert min(dists) > 12


def test_phash_pairs_matches_quadratic_reference(spark):
    """Spark pigeonhole pairs ≡ O(n²) reference with the same
    share-≥1-of-4-blocks candidate rule + popcount threshold."""
    rng_rgbs = [(_noise_rgb(f"pair{i}")) for i in range(15)]
    rows = []
    fps = {}
    for i, rgb in enumerate(rng_rgbs):
        rows.append((2 * i, _to_ppm(rgb)))
        shifted = np.minimum(rgb + 3 / 255.0, 1.0)
        rows.append((2 * i + 1, _to_ppm(shifted)))
    for aid, payload in rows:
        fps[aid] = mm.phash64(payload)
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in mm.phash_pairs(mm.phash_assets(df), max_hamming=6).collect()
    }

    def share(a: int, b: int) -> bool:
        ua, ub = a & (1 << 64) - 1, b & (1 << 64) - 1
        return any(
            ((ua >> s) & 0xFFFF) == ((ub >> s) & 0xFFFF) for s in (0, 16, 32, 48)
        )

    ids = sorted(fps)
    want = {
        (i, j, _ham(fps[i], fps[j]))
        for i in ids
        for j in ids
        if i < j and share(fps[i], fps[j]) and _ham(fps[i], fps[j]) <= 6
    }
    assert got == want
    assert len(want) >= 15  # every twin pair survives


def test_phash_assets_quarantines_undecodable(spark):
    df = spark.createDataFrame(
        [(1, _to_ppm(_noise_rgb("ok"))), (2, b"not an image"), (3, None)],
        "asset_id long, payload binary",
    )
    out = {r.asset_id: r for r in mm.phash_assets(df).collect()}
    assert out[1].phash is not None and out[1].phash_error is None
    assert out[2].phash is None and "magic" in out[2].phash_error
    assert out[3].phash is None


def test_phash_rejects_truncated_raster():
    with pytest.raises(ValueError):
        mm.phash64(_to_ppm(_noise_rgb("trunc"))[:-20])


@pytest.mark.parametrize("cut_frac", [0, 1, 15, 29, 30])
def test_phash_incremental_equals_full_at_boundary_cutoffs(spark, cut_frac):
    """shard-vs-index ≡ full pairs restricted to the shard, including
    the boundary shards (empty index / empty shard) where incremental
    paths historically break."""
    rows = []
    for i in range(15):
        rgb = _noise_rgb(f"inc{i}")
        rows.append((2 * i, _to_ppm(rgb)))
        rows.append((2 * i + 1, _to_ppm(np.minimum(rgb + 3 / 255.0, 1.0))))
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    hashes = mm.phash_assets(df).localCheckpoint()
    full = {
        (r.id_a, r.id_b, r.hamming)
        for r in mm.phash_pairs(hashes, max_hamming=6).collect()
    }
    cutoff = cut_frac  # asset ids are 0..29
    inc = {
        (r.id_a, r.id_b, r.hamming)
        for r in mm.phash_pairs(
            hashes.filter(F.col("asset_id") >= cutoff), max_hamming=6,
            index_hashes=hashes.filter(F.col("asset_id") < cutoff),
        ).collect()
    }
    want = {(a, b, h) for (a, b, h) in full if b >= cutoff}
    assert inc == want


def test_dedup_assets_perceptual_survivors(spark):
    rgb = _noise_rgb("surv")
    rows = [
        (10, _to_ppm(rgb)),
        (11, _to_ppm(np.minimum(rgb + 3 / 255.0, 1.0))),  # near-dup of 10
        (12, _to_ppm(_noise_rgb("other"))),               # unrelated
        (13, b"undecodable"),                             # quarantine
    ]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    out = {r.asset_id: r for r in mm.dedup_assets_perceptual(df, max_hamming=6).collect()}
    assert out[10].is_canonical and out[10].cluster_id == 10
    assert not out[11].is_canonical and out[11].cluster_id == 10
    assert out[12].is_canonical
    assert out[13].is_canonical and out[13].phash is None


def test_phash_pairs_max_bucket_cap(spark):
    """A degenerate bucket (here: identical hashes) above the cap is
    dropped from pairing — the quadratic-bucket escape hatch; the cap
    disabled recovers the pairs."""
    rows = [(i, 42) for i in range(6)] + [(100, 7), (101, 7)]
    df = spark.createDataFrame(rows, "asset_id long, phash long")
    capped = mm.phash_pairs(df, max_hamming=0, max_bucket=4)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got == {(100, 101)}  # the 6-strong bucket was dropped
    full = mm.phash_pairs(df, max_hamming=0, max_bucket=None)
    assert len(full.collect()) == 15 + 1


def _noise_gray_ppm(seed: str, w=96, h=96):
    """Grayscale noise as RGB PPM (r=g=b) so luma == the noise plane."""
    need = w * h
    body = b""
    i = 0
    while len(body) < need:
        body += hashlib.sha256(f"kp:{seed}:{i}".encode()).digest()
        i += 1
    g = np.frombuffer(body[:need], dtype=np.uint8).reshape(h, w)
    rgb = np.repeat(g[:, :, None], 3, axis=2)
    return rgb, b"P6\n%d %d\n255\n" % (w, h) + rgb.tobytes()


def test_image_overlap_pairs_recovers_crop_offset(spark):
    """A 64×64 crop at an arbitrary (13, 7) offset: whole-image pHash
    misses it (different composition), the keypoint Hough vote
    recovers the exact 2-D offset; unrelated images share nothing."""
    rgb, full_ppm = _noise_gray_ppm("base")
    crop = rgb[13 : 13 + 64, 7 : 7 + 64]
    crop_ppm = b"P6\n64 64\n255\n" + crop.tobytes()
    _o, other_ppm = _noise_gray_ppm("other", 64, 64)
    assert _ham(mm.phash64(full_ppm), mm.phash64(crop_ppm)) > 6
    df = spark.createDataFrame(
        [(1, full_ppm), (2, crop_ppm), (3, other_ppm), (4, b"junk")],
        "asset_id long, payload binary",
    )
    kps = mm.image_keypoint_hashes(df).localCheckpoint()
    out = {
        (r.id_a, r.id_b): r
        for r in mm.image_overlap_pairs(kps, min_votes=4).collect()
    }
    assert (1, 2) in out
    assert (out[(1, 2)].dy, out[(1, 2)].dx) == (13, 7)
    assert out[(1, 2)].votes >= 4
    assert all(3 not in p and 4 not in p for p in out)


def test_image_keypoints_crop_invariant_core():
    """Anchors away from the crop border survive with shifted
    coordinates and identical descriptors (content-defined, like gear
    boundaries)."""
    rgb, _ = _noise_gray_ppm("inv")
    luma = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
    full = {(y, x): v for y, x, v in mm._image_keypoints(luma)}
    crop = luma[20:84, 10:74]
    shifted = {(y + 20, x + 10): v for y, x, v in mm._image_keypoints(crop)}
    interior = {
        k: v for k, v in shifted.items()
        if 28 <= k[0] < 76 and 18 <= k[1] < 66  # ≥ patch_r inside both
    }
    assert interior
    assert all(full.get(k) == v for k, v in interior.items())


def test_image_keypoints_degenerate_inputs():
    """Flat images have no strict maxima (every window ties) → no
    anchors, no crash; too-small rasters return empty."""
    flat = np.full((64, 64), 0.5)
    assert mm._image_keypoints(flat) == []
    tiny = np.random.default_rng(1).random((10, 10))
    assert mm._image_keypoints(tiny) == []


def test_image_keypoints_through_jpeg_decode():
    """Keypoint extraction runs on JPEG payloads through the sniffing
    decoder path (crop twins of re-encoded images still match is NOT
    claimed — JPEG loss moves patch bits; this pins the plumbing)."""
    rgb = _noise_rgb("kp-jpeg", 64, 64)
    jpg = mm.encode_jpeg_baseline(rgb, qtable_value=1)
    _w, _h, dec = mm._rgb_raster(jpg)
    luma = 0.299 * dec[:, :, 0] + 0.587 * dec[:, :, 1] + 0.114 * dec[:, :, 2]
    pts = mm._image_keypoints(luma)
    assert len(pts) > 0
