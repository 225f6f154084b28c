"""Real-image-codec tests: the pure-NumPy netpbm path end-to-end through the
multimodal mapInPandas plumbing (decode → resize → re-encode → features)."""

from __future__ import annotations

import numpy as np
import pytest

from lance_namespace_impls_spark.functions.imaging import (
    decode_netpbm,
    encode_netpbm,
    image_features,
    is_netpbm,
    resize_nearest,
    synth_ppm,
)
from lance_namespace_impls_spark.operators.multimodal import (
    attach_ppm_media,
    decode_image,
    extract_features,
    resize_image,
    resize_media,
)
from lance_namespace_impls_spark.sources.tables import load_table

from tests.conftest import SF_SMOKE


def test_roundtrip_ppm():
    img = synth_ppm(42, 8, 6)
    arr = decode_netpbm(img)
    assert arr.shape == (6, 8, 3)
    assert encode_netpbm(arr) == img


def test_header_comments_and_pgm():
    gray = np.arange(12, dtype=np.uint8).reshape(3, 4)
    blob = encode_netpbm(gray)
    # inject a header comment — spec allows them before maxval
    commented = blob.replace(b"P5\n", b"P5\n# synthetic test image\n")
    arr = decode_netpbm(commented)
    assert arr.shape == (3, 4, 1)
    assert (arr[:, :, 0] == gray).all()


def test_decode_rejects_non_image():
    assert not is_netpbm(b"\xff\xd8\xff\xe0 jpeg-ish")
    with pytest.raises(ValueError):
        decode_netpbm(b"NotAnImage")
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0 jpeg-ish")  # PIL absent here


def test_resize_nearest_exact():
    arr = np.array([[0, 1], [2, 3]], dtype=np.uint8)[:, :, None]
    up = resize_nearest(arr, 4, 4)
    assert up.shape == (4, 4, 1)
    # 2x nearest upscale duplicates each source pixel into a 2x2 block
    expect = np.array(
        [[0, 0, 1, 1], [0, 0, 1, 1], [2, 2, 3, 3], [2, 2, 3, 3]], dtype=np.uint8
    )
    assert (up[:, :, 0] == expect).all()


def test_resize_image_real_roundtrip():
    blob = synth_ppm(7, 16, 16)
    out = resize_image(blob, 4, 8)
    arr = decode_netpbm(out)
    assert arr.shape == (8, 4, 3)


def test_real_pipeline_through_spark(spark):
    """attach real PPMs → real resize → real features, all inside
    mapInPandas; Spark results must equal the local NumPy computation."""
    docs = load_table(spark, "documents", SF_SMOKE).limit(20)
    media = attach_ppm_media(docs, 16, 16)

    resized = resize_media(media, 8, 8, resizer=resize_image)
    rows = {r.doc_id: r for r in resized.collect()}
    assert len(rows) == 20
    for doc_id, r in rows.items():
        arr = decode_netpbm(bytes(r.blob))
        assert arr.shape == (8, 8, 3)
        assert r.meta.width == 8 and r.meta.height == 8
        local = decode_netpbm(synth_ppm(doc_id, 16, 16))
        assert (arr == resize_nearest(local, 8, 8)).all()

    feats = extract_features(
        media, decoder=lambda b: image_features(decode_image(b), 16)
    )
    got = {r.doc_id: list(r.features) for r in feats.collect()}
    for doc_id, vec in got.items():
        assert len(vec) == 16
        local = image_features(decode_netpbm(synth_ppm(doc_id, 16, 16)), 16)
        assert vec == pytest.approx(local, abs=1e-6)


def test_q144_oracle_parity(oracle_check):
    result = oracle_check("q144_image_channel_stats")
    assert result["ok"], result


def test_q209_oracle_parity_and_orientation(spark, oracle_check):
    from lance_namespace_impls_spark.plans.registry import QUERIES

    result = oracle_check("q209_patch_pool")
    assert result["ok"], result
    # orientation check: the generator's gradient moves 7/px in x and 13/px
    # in y, so the pooled grid is NOT transpose-symmetric — a swapped axis
    # would leave q144's global means intact but must change some patch
    rows = QUERIES["q209_patch_pool"].builder(spark, SF_SMOKE).limit(64).collect()
    grid = {}
    for r in rows:
        grid.setdefault(r["doc_id"], {})[(r["py"], r["px"])] = r["pval"]
    assert any(
        g[(a, b)] != g[(b, a)]
        for g in grid.values()
        for a in range(4)
        for b in range(4)
        if (a, b) in g and (b, a) in g
    )
