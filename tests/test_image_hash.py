"""pHash (functions/image_hash.py) + image_phash_pairs operator tests.

The operating-point numbers pinned here (same-base re-encodes <= 6,
distinct textured bases >= 12 at the measured 2/20 margins) are what
the operator's default radius 6 relies on; a codec or hash change that
erodes either margin fails loudly here before it can silently turn the
near-dup query into noise.
"""

from __future__ import annotations

import numpy as np
import pytest

from web_template_forensics_spark.functions.image_hash import (
    _grey32,
    phash64,
    phash_to_signed,
)
from web_template_forensics_spark.functions.jpeg_codec import (
    decode_jpeg,
    encode_jpeg,
)
from web_template_forensics_spark.functions.png_codec import decode_png, encode_png
from web_template_forensics_spark.plans.multimodal_fixture import (
    phash_corpus,
    phash_corpus_hashes,
    textured_image,
)


def _ham(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def test_grey32_area_average_exact():
    # constant image -> constant grid, any shape (incl. degenerate)
    for shape in [(1, 1), (1, 7), (5, 3), (33, 2), (40, 52), (200, 300)]:
        g = _grey32(np.full(shape + (3,), 77, np.uint8))
        assert g.shape == (32, 32)
        assert np.allclose(g, 77.0)
    # 2x2 block mean, 64x64 -> each output cell = mean of a 2x2 block
    img = np.arange(64 * 64, dtype=np.uint8).reshape(64, 64) % 251
    g = _grey32(img)
    want = img.astype(np.float64).reshape(32, 2, 32, 2).mean(axis=(1, 3))
    assert np.allclose(g, want)


def test_phash_deterministic_and_signed_roundtrip():
    rng = np.random.RandomState(3)
    img = textured_image(rng, 50, 70)
    h1, h2 = phash64(img), phash64(img.copy())
    assert h1 == h2 and 0 <= h1 < (1 << 64)
    s = phash_to_signed(h1)
    assert -(1 << 63) <= s < (1 << 63)
    assert s & ((1 << 64) - 1) == h1
    # popcount near half by the median-threshold construction
    assert 20 <= bin(h1).count("1") <= 44


def test_phash_operating_point_margins():
    """Same-base re-encodes <= 6, cross-base >= 12 — the radius-6
    default sits in the middle of the measured 2/20 gap."""
    rng = np.random.RandomState(17)
    hashes = []
    for i in range(8):
        img = textured_image(rng, 48 + (i % 3) * 8, 64 - (i % 2) * 8)
        hp = phash64(decode_png(encode_png(img)))
        h85 = phash64(decode_jpeg(encode_jpeg(img, quality=85)))
        h70 = phash64(decode_jpeg(encode_jpeg(img, quality=70)))
        hpr = phash64(decode_jpeg(encode_jpeg(img, quality=88, progressive=True)))
        for other in (h85, h70, hpr):
            assert _ham(hp, other) <= 6, i
        hashes.append(hp)
    for i in range(len(hashes)):
        for j in range(i + 1, len(hashes)):
            assert _ham(hashes[i], hashes[j]) >= 12, (i, j)


def test_phash_envelope_non_invariances_documented():
    """The operator's envelope BOUNDARY, pinned by tests (r5 verdict ask
    #8): radius-6 covers re-encode/resample (the margin test above), and
    the KNOWN non-invariances — meaningful crops and rotation — land
    OUTSIDE the radius. A training pipeline must not expect pHash dedup
    to collapse cropped or rotated variants; that's the banded-join
    operators' documented contract, not a bug."""
    rng = np.random.RandomState(23)
    beyond_crop = 0
    beyond_rot = 0
    n = 8
    for i in range(n):
        img = textured_image(rng, 64, 96)
        h = phash64(img)
        # >=10% crop from one edge (well past the ~5% envelope edge)
        ch, cw = img.shape[0] // 10, img.shape[1] // 10
        beyond_crop += _ham(h, phash64(img[ch:, cw:])) > 6
        # 90-degree rotation: DCT basis is orientation-sensitive
        beyond_rot += _ham(h, phash64(np.rot90(img).copy())) > 6
    # rotation is essentially never radius-covered; crops occasionally
    # fall inside on low-texture corners, so pin a strong majority
    assert beyond_rot == n
    assert beyond_crop >= n - 1
    # tiny crop (~1.5%) stays INSIDE the envelope — the boundary is
    # between "border trim" and "reframing", not at zero
    inside = 0
    rng2 = np.random.RandomState(29)
    for _ in range(n):
        img = textured_image(rng2, 64, 96)
        inside += _ham(phash64(img), phash64(img[1:, 1:])) <= 6
    assert inside >= n - 1


def test_phash_corpus_twin_shape():
    corpus = phash_corpus()
    hashes = dict(phash_corpus_hashes())
    decodable = [r for r in corpus if r["base"] >= 0]
    assert len(corpus) - len(decodable) == 2  # the corrupt rows
    assert set(hashes) == {r["media_id"] for r in decodable}


def test_image_phash_pairs_on_cluster(spark):
    """Operator == twin: the distributed decode+hash+banding produces
    exactly the within-base pairs the driver-side twin predicts, and
    the corrupt rows and a null-payload row appear in no pair."""
    from web_template_forensics_spark.operators.dedup import image_phash_pairs

    corpus = phash_corpus()
    null_id = max(r["media_id"] for r in corpus) + 1
    media = spark.createDataFrame(
        [(r["media_id"], bytearray(r["payload"])) for r in corpus] + [(null_id, None)],
        "media_id long, payload binary",
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in image_phash_pairs(media, max_hamming=6).collect()
    }
    hashes = dict(phash_corpus_hashes())
    ids = sorted(hashes)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = _ham(hashes[a], hashes[b])
            if d <= 6:
                want[(a, b)] = d
    assert got == want
    base = {r["media_id"]: r["base"] for r in corpus}
    assert all(base[a] == base[b] >= 0 for a, b in got)


def test_band_self_join_reuses_hash_stage(spark):
    """The banded self-join must execute the upstream hash stage ONCE
    (AQE ReusedQueryStage): for pHash the stage is a full image decode,
    so losing exchange reuse silently doubles the dominant cost. Pinned
    on the executed adaptive plan, not the static one — reuse only
    materializes at runtime."""
    from web_template_forensics_spark.operators.dedup import image_phash_pairs

    media = spark.createDataFrame(
        [(r["media_id"], bytearray(r["payload"])) for r in phash_corpus()],
        "media_id long, payload binary",
    )
    df = image_phash_pairs(media, max_hamming=6)
    assert len(df.collect()) == 60
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ReusedQueryStage" in plan or "ReusedExchange" in plan


def test_text_dedup_joins_reuse_stages(spark):
    """The whole dedup family's self-joins must keep exchange reuse:
    minhash (signature UDF + shingle arrays), ngram (gram explode +
    sizes agg), embedding (scan+cast). Counts pinned at the measured
    floor — losing one means some expensive stage silently runs twice."""
    from web_template_forensics_spark.plans.queries import QUERIES

    floors = {"minhash_pairs": 3, "ngram_jaccard_pairs": 2, "embedding_near_dup": 1}
    for name, floor in floors.items():
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        reused = plan.count("ReusedQueryStage") + plan.count("ReusedExchange")
        assert reused >= floor, (name, reused, floor)


def test_banding_rejects_unsound_parameters(spark):
    from web_template_forensics_spark.operators.dedup import hamming_band_pairs

    df = spark.createDataFrame([(1, 0)], "_id long, _sh long")
    with pytest.raises(ValueError, match="cannot guarantee recall"):
        hamming_band_pairs(df, max_hamming=3, n_bands=3)
