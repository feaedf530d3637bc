"""GeoTIFF-subset codec: round-trips, windowed decode, malformed input."""

import numpy as np
import pytest

from geotiff_scalable_analysis_pipeline_spark.formats import tiff


@pytest.mark.parametrize(
    "shape,dtype",
    [((4, 256, 256), np.uint16), ((1, 100, 130), np.uint16), ((3, 64, 64), np.float32)],
)
def test_roundtrip(shape, dtype):
    rng = np.random.default_rng(42)
    a = (rng.random(shape) * 10000).astype(dtype)
    assert tiff.TILE_SIZE == 64
    buf = tiff.encode(a, pixel_scale=(10, 10), tiepoint=(123.0, 456.0))
    b, p = tiff.decode(buf)
    assert np.array_equal(a, b)
    assert p.tiepoint == (123.0, 456.0)
    assert p.transform == (10.0, 0.0, 123.0, 0.0, -10.0, 456.0)


def test_windowed_decode_reads_subset():
    rng = np.random.default_rng(7)
    a = (rng.random((4, 256, 256)) * 9999).astype(np.uint16)
    buf = tiff.encode(a)
    w = tiff.decode_window(buf, 17, 33, 40, 111)
    assert np.array_equal(w, a[:, 17:57, 33:144])


def test_single_tile_inline_offset():
    a = (np.arange(32 * 32).reshape(1, 32, 32) % 10001).astype(np.uint16)
    b, _ = tiff.decode(tiff.encode(a))
    assert np.array_equal(a, b)


def test_malformed_rejected():
    with pytest.raises(ValueError):
        tiff.decode(b"not a tiff")
    with pytest.raises(ValueError):
        tiff.decode(b"MM\x00\x2a" + b"\x00" * 64)
