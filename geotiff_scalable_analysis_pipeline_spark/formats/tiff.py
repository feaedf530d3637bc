"""Minimal deterministic GeoTIFF subset — pure-numpy encoder/decoder.

``rasterio``/GDAL are not installed in this sandbox, so the engine carries its
own tiny raster format: classic little-endian TIFF, internally TILED
(TileWidth×TileLength blocks, uncompressed), planar-separate multi-band
uint16/float32, with the two GeoTIFF geo-referencing tags the reference
pipeline relies on (ModelPixelScale + ModelTiepoint — reference reads
CRS+affine "profiles" at src/eo_core/process.py:264-271 and windows bands at
src/eo_core/data.py:375-410).

The *tiled* layout matters: ``decode_window`` reads only the blocks that
intersect a requested window — the in-blob analog of Parquet row-group
pruning, and the moral equivalent of the reference's ``rasterio`` windowed
reads (reference: docs/TECHNICAL_REFERENCE.md:117).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

# TIFF tag ids
_IMAGE_WIDTH = 256
_IMAGE_LENGTH = 257
_BITS_PER_SAMPLE = 258
_COMPRESSION = 259
_PHOTOMETRIC = 262
_SAMPLES_PER_PIXEL = 277
_PLANAR_CONFIG = 284
_SAMPLE_FORMAT = 339
_TILE_WIDTH = 322
_TILE_LENGTH = 323
_TILE_OFFSETS = 324
_TILE_BYTE_COUNTS = 325
_MODEL_PIXEL_SCALE = 33550
_MODEL_TIEPOINT = 33922

_TYPE_SHORT = 3  # uint16
_TYPE_LONG = 4  # uint32
_TYPE_DOUBLE = 12

_DTYPES = {
    (16, 1): np.dtype("<u2"),  # uint16
    (32, 3): np.dtype("<f4"),  # float32
}


@dataclass
class TiffProfile:
    width: int
    height: int
    bands: int
    dtype: np.dtype
    tile_w: int
    tile_h: int
    pixel_scale: tuple[float, float]  # (sx, sy)
    tiepoint: tuple[float, float]  # world (x0, y0) of pixel (0, 0)

    @property
    def transform(self) -> tuple[float, float, float, float, float, float]:
        """Affine (a, b, c, d, e, f): x = a*col + b*row + c ; y = d*col + e*row + f."""
        sx, sy = self.pixel_scale
        x0, y0 = self.tiepoint
        return (sx, 0.0, x0, 0.0, -sy, y0)


TILE_SIZE = 64  # edge of the square tiles encode writes


def encode(
    data: np.ndarray,
    pixel_scale: tuple[float, float] = (10.0, 10.0),
    tiepoint: tuple[float, float] = (0.0, 0.0),
) -> bytes:
    """Encode a (bands, H, W) array as a tiled planar GeoTIFF-subset blob
    (:data:`TILE_SIZE`-pixel tiles)."""
    if data.ndim == 2:
        data = data[None]
    bands, h, w = data.shape
    if data.dtype == np.uint16:
        bits, fmt = 16, 1
    elif data.dtype == np.float32:
        bits, fmt = 32, 3
    else:
        raise ValueError(f"unsupported dtype {data.dtype}")
    tw = th = TILE_SIZE
    tiles_across = (w + tw - 1) // tw
    tiles_down = (h + th - 1) // th
    n_tiles = bands * tiles_down * tiles_across
    tile_bytes = tw * th * (bits // 8)

    # ---- tile payloads (edge tiles zero-padded per TIFF spec) ----
    payloads = []
    for b in range(bands):
        for ty in range(tiles_down):
            for tx in range(tiles_across):
                block = np.zeros((th, tw), dtype=data.dtype)
                ys, xs = ty * th, tx * tw
                sub = data[b, ys : min(ys + th, h), xs : min(xs + tw, w)]
                block[: sub.shape[0], : sub.shape[1]] = sub
                payloads.append(block.astype(block.dtype.newbyteorder("<")).tobytes())

    header = struct.pack("<2sHI", b"II", 42, 8)  # IFD at byte 8

    entries: list[tuple[int, int, int, bytes | int]] = [
        (_IMAGE_WIDTH, _TYPE_LONG, 1, w),
        (_IMAGE_LENGTH, _TYPE_LONG, 1, h),
        (_BITS_PER_SAMPLE, _TYPE_SHORT, bands, struct.pack(f"<{bands}H", *([bits] * bands))),
        (_COMPRESSION, _TYPE_SHORT, 1, 1),
        (_PHOTOMETRIC, _TYPE_SHORT, 1, 1),
        (_SAMPLES_PER_PIXEL, _TYPE_SHORT, 1, bands),
        (_PLANAR_CONFIG, _TYPE_SHORT, 1, 2),
        (_TILE_WIDTH, _TYPE_SHORT, 1, tw),
        (_TILE_LENGTH, _TYPE_SHORT, 1, th),
        (_TILE_OFFSETS, _TYPE_LONG, n_tiles, None),  # filled below
        (_TILE_BYTE_COUNTS, _TYPE_LONG, n_tiles, struct.pack(f"<{n_tiles}I", *([tile_bytes] * n_tiles))),
        (_SAMPLE_FORMAT, _TYPE_SHORT, bands, struct.pack(f"<{bands}H", *([fmt] * bands))),
        (_MODEL_PIXEL_SCALE, _TYPE_DOUBLE, 3, struct.pack("<3d", pixel_scale[0], pixel_scale[1], 0.0)),
        (_MODEL_TIEPOINT, _TYPE_DOUBLE, 6, struct.pack("<6d", 0.0, 0.0, 0.0, tiepoint[0], tiepoint[1], 0.0)),
    ]

    ifd_size = 2 + len(entries) * 12 + 4
    overflow_at = 8 + ifd_size
    # lay out overflow values, then tile offsets array, then tile data
    overflow = b""
    resolved: list[tuple[int, int, int, int]] = []  # tag, type, count, value_or_offset
    pending_offsets_entry = None
    for tag, typ, count, val in entries:
        if tag == _TILE_OFFSETS:
            pending_offsets_entry = len(resolved)
            resolved.append((tag, typ, count, 0))
            continue
        if isinstance(val, int):
            resolved.append((tag, typ, count, val))
        else:
            size = len(val)
            if size <= 4:
                resolved.append((tag, typ, count, int.from_bytes(val.ljust(4, b"\0"), "little")))
            else:
                resolved.append((tag, typ, count, overflow_at + len(overflow)))
                overflow += val

    offsets_pos = overflow_at + len(overflow)
    data_pos = offsets_pos + (4 * n_tiles if n_tiles > 1 else 0)
    tile_offsets = [data_pos + i * tile_bytes for i in range(n_tiles)]
    if n_tiles > 1:
        offsets_blob = struct.pack(f"<{n_tiles}I", *tile_offsets)
        resolved[pending_offsets_entry] = (_TILE_OFFSETS, _TYPE_LONG, n_tiles, offsets_pos)
    else:
        offsets_blob = b""
        resolved[pending_offsets_entry] = (_TILE_OFFSETS, _TYPE_LONG, 1, tile_offsets[0])

    ifd = struct.pack("<H", len(resolved))
    for tag, typ, count, val in resolved:
        ifd += struct.pack("<HHII", tag, typ, count, val)
    ifd += struct.pack("<I", 0)  # no next IFD

    return header + ifd + overflow + offsets_blob + b"".join(payloads)


def _read_ifd(buf: bytes) -> dict[int, tuple[int, int, int]]:
    byte_order, magic, ifd_off = struct.unpack_from("<2sHI", buf, 0)
    if byte_order != b"II" or magic != 42:
        raise ValueError("not a little-endian classic TIFF")
    n = struct.unpack_from("<H", buf, ifd_off)[0]
    tags = {}
    for i in range(n):
        tag, typ, count, val = struct.unpack_from("<HHII", buf, ifd_off + 2 + i * 12)
        tags[tag] = (typ, count, val)
    return tags


_TYPE_SIZES = {_TYPE_SHORT: 2, _TYPE_LONG: 4, _TYPE_DOUBLE: 8}
_TYPE_FMT = {_TYPE_SHORT: "H", _TYPE_LONG: "I", _TYPE_DOUBLE: "d"}


def _tag_values(buf: bytes, tags: dict, tag: int) -> list:
    typ, count, val = tags[tag]
    size = _TYPE_SIZES[typ] * count
    if size <= 4:
        raw = struct.pack("<I", val)[:size]
    else:
        raw = buf[val : val + size]
    return list(struct.unpack(f"<{count}{_TYPE_FMT[typ]}", raw))


def read_profile(buf: bytes) -> TiffProfile:
    tags = _read_ifd(buf)
    w = _tag_values(buf, tags, _IMAGE_WIDTH)[0]
    h = _tag_values(buf, tags, _IMAGE_LENGTH)[0]
    bands = _tag_values(buf, tags, _SAMPLES_PER_PIXEL)[0]
    bits = _tag_values(buf, tags, _BITS_PER_SAMPLE)[0]
    fmt = _tag_values(buf, tags, _SAMPLE_FORMAT)[0] if _SAMPLE_FORMAT in tags else 1
    scale = _tag_values(buf, tags, _MODEL_PIXEL_SCALE)
    tie = _tag_values(buf, tags, _MODEL_TIEPOINT)
    return TiffProfile(
        width=w,
        height=h,
        bands=bands,
        dtype=_DTYPES[(bits, fmt)],
        tile_w=_tag_values(buf, tags, _TILE_WIDTH)[0],
        tile_h=_tag_values(buf, tags, _TILE_LENGTH)[0],
        pixel_scale=(scale[0], scale[1]),
        tiepoint=(tie[3], tie[4]),
    )


def decode(buf: bytes) -> tuple[np.ndarray, TiffProfile]:
    """Decode the full (bands, H, W) array."""
    p = read_profile(buf)
    return decode_window(buf, 0, 0, p.height, p.width), p


def decode_window(buf: bytes, row0: int, col0: int, h: int, w: int) -> np.ndarray:
    """Decode only the blocks intersecting window [row0:row0+h, col0:col0+w].

    The window must lie inside the image (callers clamp + reflect-pad
    out-of-bounds regions themselves, mirroring reference data.py:241-245).
    """
    p = read_profile(buf)
    tags = _read_ifd(buf)
    offsets = _tag_values(buf, tags, _TILE_OFFSETS)
    tiles_across = (p.width + p.tile_w - 1) // p.tile_w
    tiles_down = (p.height + p.tile_h - 1) // p.tile_h
    itemsize = p.dtype.itemsize

    out = np.empty((p.bands, h, w), dtype=p.dtype)
    ty0, ty1 = row0 // p.tile_h, (row0 + h - 1) // p.tile_h
    tx0, tx1 = col0 // p.tile_w, (col0 + w - 1) // p.tile_w
    for b in range(p.bands):
        for ty in range(ty0, ty1 + 1):
            for tx in range(tx0, tx1 + 1):
                idx = b * tiles_down * tiles_across + ty * tiles_across + tx
                off = offsets[idx]
                block = np.frombuffer(
                    buf, dtype=p.dtype, count=p.tile_w * p.tile_h, offset=off
                ).reshape(p.tile_h, p.tile_w)
                # intersection of this block with the window, in image coords
                ys, xs = ty * p.tile_h, tx * p.tile_w
                iy0, iy1 = max(row0, ys), min(row0 + h, ys + p.tile_h)
                ix0, ix1 = max(col0, xs), min(col0 + w, xs + p.tile_w)
                out[b, iy0 - row0 : iy1 - row0, ix0 - col0 : ix1 - col0] = block[
                    iy0 - ys : iy1 - ys, ix0 - xs : ix1 - xs
                ]
    del itemsize
    return out
