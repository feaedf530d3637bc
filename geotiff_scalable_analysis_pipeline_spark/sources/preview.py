"""K4 preview PNGs + K6 HTML viewer (reference: src/eo_core/reporters/
preview.py:21-139, src/eo_core/utils.py:65-200, src/eo_core/generate_viewer.py).

The reference's PreviewReporter runs at ``on_finish``: it re-opens the
per-tile metric rasters the GeoTIFF reporter wrote, downsamples by
``preview_downscale_factor`` (default 10), maps values to RGB (a per-class
color LUT for the class map, utils.py:65-115; a matplotlib colormap with
fixed vmin/vmax for the float metrics: viridis 0..1 for maxprob, magma
0..ln(n_classes) for entropy, plasma 0..1 for gap, preview.py:77-139) and
writes PNG previews plus colorbars. ``generate_viewer.py`` then templates
an HTML dashboard over the previews and the JSON sinks.

Re-created here over the engine's own codecs (``formats/png.py``;
matplotlib/Pillow/scipy are not in the sandbox). Colormaps are 256-entry
LUTs interpolated from the 10 published viridis/magma/plasma anchor colors
(the same hex stops the reference viewer uses for its CSS legend
gradients, generate_viewer.py:353-355). The reference's per-class colors
are ``np.random`` draws (utils.py:56-60); here they are caller-supplied
and deterministic. Out-of-range class ids render as the reference's gray
fallback (utils.py:104).

Like the reference reporter this is a driver-side small-output sink: one
preview per *tile*, never per chunk — the distributed work (decode,
classify, mosaic) happened upstream; by this point each raster is one
small array. The viewer is fully self-contained (base64 data URIs, no
file references), unlike the reference's relative ``<img src>`` links, so
a single HTML file can be shipped off-cluster.
"""

from __future__ import annotations

import base64
import html as _html
from pathlib import Path

import numpy as np

_GRAY = np.array([128, 128, 128], dtype=np.uint8)  # utils.py:104 fallback

# 10-anchor ramps: matplotlib's published viridis/magma/plasma control
# points, identical to the reference viewer's CSS gradient stops.
_ANCHORS: dict[str, np.ndarray] = {
    "viridis": np.array(
        [(0x44, 0x01, 0x54), (0x48, 0x28, 0x78), (0x3E, 0x49, 0x89),
         (0x31, 0x68, 0x8E), (0x26, 0x82, 0x8E), (0x1F, 0x9E, 0x89),
         (0x35, 0xB7, 0x79), (0x6E, 0xCE, 0x58), (0xB5, 0xDE, 0x2B),
         (0xFD, 0xE7, 0x25)], dtype=np.float64),
    "magma": np.array(
        [(0x00, 0x00, 0x04), (0x14, 0x0E, 0x36), (0x3B, 0x0F, 0x70),
         (0x64, 0x1A, 0x80), (0x8C, 0x29, 0x81), (0xB7, 0x37, 0x79),
         (0xDE, 0x49, 0x68), (0xF7, 0x70, 0x5C), (0xFE, 0x9F, 0x6D),
         (0xFC, 0xFD, 0xBF)], dtype=np.float64),
    "plasma": np.array(
        [(0x0D, 0x08, 0x87), (0x46, 0x03, 0x9F), (0x72, 0x01, 0xA8),
         (0x9C, 0x17, 0x9E), (0xBD, 0x37, 0x86), (0xD8, 0x57, 0x6B),
         (0xED, 0x79, 0x53), (0xFB, 0x9F, 0x3A), (0xFD, 0xCA, 0x26),
         (0xF0, 0xF9, 0x21)], dtype=np.float64),
}

# Metric → (colormap, vmin, vmax rule), exactly as the reference wires them.
_METRIC_CMAP = {"maxprob": "viridis", "entropy": "magma", "gap": "plasma"}
DOWNSCALE = 10  # the reference's preview_downscale_factor default
COLORBAR_HEIGHT = 16  # rows of a colorbar strip


def colormap_lut(name: str) -> np.ndarray:
    """256×3 uint8 LUT: piecewise-linear interpolation over the ramp's
    anchors at t = i/255, rounded half-up."""
    a = _ANCHORS[name]
    t = np.arange(256, dtype=np.float64) / 255.0 * (len(a) - 1)
    i0 = np.minimum(t.astype(np.int64), len(a) - 2)
    f = (t - i0)[:, None]
    return np.floor(a[i0] * (1.0 - f) + a[i0 + 1] * f + 0.5).astype(np.uint8)


def render_class_preview(cls: np.ndarray, colors: np.ndarray) -> np.ndarray:
    """Class-id raster → downsampled RGB array (utils.py:65-115). Order-0
    decimation (every :data:`DOWNSCALE`-th pixel, anchored at the origin so
    a corner pixel survives exactly); ids outside [0, len(colors)) render as
    the gray fallback."""
    lut = np.asarray(colors, dtype=np.uint8)
    small = np.asarray(cls)[::DOWNSCALE, ::DOWNSCALE]
    oob = (small < 0) | (small >= len(lut))
    rgb = lut[np.clip(small.astype(np.int64), 0, len(lut) - 1)]
    rgb[oob] = _GRAY
    return rgb


def render_float_preview(arr: np.ndarray, cmap: str, vmax: float) -> np.ndarray:
    """Continuous metric raster → downsampled colormapped RGB array
    (utils.py:117-160): order-1 decimation by :data:`DOWNSCALE` (bilinear
    sample at each output block's center), x/vmax normalization (vmin is
    0), then 256-bin LUT lookup — every output pixel is a LUT row."""
    a = np.asarray(arr, dtype=np.float64)
    d = DOWNSCALE
    if d > 1:
        h, w = a.shape
        oh, ow = -(-h // d), -(-w // d)

        def axis(n_src: int, n_dst: int):
            pos = np.minimum(np.arange(n_dst, dtype=np.float64) * d + (d - 1) / 2.0, n_src - 1)
            i0 = np.minimum(pos.astype(np.int64), n_src - 2) if n_src > 1 else np.zeros(n_dst, np.int64)
            return i0, np.minimum(i0 + 1, n_src - 1), pos - i0

        r0, r1, fy = axis(h, oh)
        c0, c1, fx = axis(w, ow)
        top = a[r0][:, c0] * (1 - fx) + a[r0][:, c1] * fx
        bot = a[r1][:, c0] * (1 - fx) + a[r1][:, c1] * fx
        a = top * (1 - fy[:, None]) + bot * fy[:, None]
    norm = np.clip(a / float(vmax), 0.0, 1.0)
    bins = np.minimum((norm * 256.0).astype(np.int64), 255)
    return colormap_lut(cmap)[bins]


def render_colorbar(cmap: str) -> np.ndarray:
    """Horizontal colorbar strip (vmin left → vmax right):
    :data:`COLORBAR_HEIGHT` repeats of the full 256-entry LUT — the engine's
    stand-in for the reference's matplotlib colorbar figure
    (utils.py:163-180)."""
    return np.tile(colormap_lut(cmap)[None, :, :], (COLORBAR_HEIGHT, 1, 1))


def export_tile_previews(
    tile_dir: str | Path,
    tile_name: str,
    class_arr: np.ndarray | None,
    colors: np.ndarray | None,
    metrics: dict[str, np.ndarray],
    n_classes: int | None,
) -> dict[str, str]:
    """PreviewReporter.on_finish re-created (preview.py:21-139): write
    ``preview_class.png`` (when ``class_arr`` is given) and, per float
    metric in ``metrics`` (maxprob/entropy/gap), ``preview_{m}.png`` +
    ``preview_{m}_colorbar.png``, into ``tile_dir``. vmin/vmax are the
    reference's fixed ranges — [0,1] for maxprob and gap, [0, ln(n_classes)]
    for entropy. Returns {artifact: path}."""
    from ..formats import png

    d = Path(tile_dir)
    d.mkdir(parents=True, exist_ok=True)
    written: dict[str, str] = {}

    if class_arr is not None:
        p = d / "preview_class.png"
        p.write_bytes(png.encode(render_class_preview(class_arr, colors)))
        written["class"] = str(p)

    for m, arr in metrics.items():
        cmap = _METRIC_CMAP.get(m)
        if cmap is None:
            raise ValueError(f"unknown preview metric {m!r} (expected one of {sorted(_METRIC_CMAP)})")
        if m == "entropy":
            vmax = float(np.log(n_classes)) if n_classes and n_classes > 1 else 1.0
        else:
            vmax = 1.0
        p = d / f"preview_{m}.png"
        p.write_bytes(png.encode(render_float_preview(arr, cmap, vmax)))
        written[m] = str(p)
        cb = d / f"preview_{m}_colorbar.png"
        cb.write_bytes(png.encode(render_colorbar(cmap)))
        written[f"{m}_colorbar"] = str(cb)
    return written


def export_previews_from_rasters(
    tile_dir: str | Path,
    tile_name: str,
    colors: np.ndarray,
    n_classes: int,
    preview_dir: str | Path,
) -> dict[str, str]:
    """The reference reporter's exact read-back flow: decode whichever of
    ``{tile}_class.tif`` / ``{tile}_{maxprob,entropy,gap}.tif`` exist in
    ``tile_dir`` (written by the K1/K2 sinks) and preview them into
    ``preview_dir``; missing rasters are skipped, as the reference
    logs-and-continues. Preview PNG names are fixed (``preview_class.png``,
    …) as in the reference, so multi-tile exports take one ``preview_dir``
    per tile (the reference keeps one directory per tile)."""
    from ..formats import tiff

    d = Path(tile_dir)
    cls = None
    cp = d / f"{tile_name}_class.tif"
    if cp.exists():
        cls = tiff.decode(cp.read_bytes())[0][0]
    metrics = {}
    for m in _METRIC_CMAP:
        p = d / f"{tile_name}_{m}.tif"
        if p.exists():
            metrics[m] = tiff.decode(p.read_bytes())[0][0]
    return export_tile_previews(preview_dir, tile_name, cls, colors, metrics, n_classes)


def _esc(v) -> str:
    return _html.escape(str(v), quote=False)


def _img(path: str) -> str:
    b64 = base64.b64encode(Path(path).read_bytes()).decode("ascii")
    return f'<img src="data:image/png;base64,{b64}" alt=""/>'


def generate_viewer_html(
    output_dir: str | Path,
    tiles: dict[str, dict[str, str]],
    title: str,
    metadata: dict,
) -> str:
    """K6: one self-contained dashboard (reference generate_viewer.py:6-178
    writes an index page + per-tile report pages with relative <img> links;
    here every preview PNG is inlined as a base64 data URI and the per-tile
    sections live in the same document, so the artifact has zero external
    references and survives being moved off the cluster).

    ``tiles``: {tile_name: {artifact: png_path}} as returned by
    ``export_tile_previews``. All names/values are HTML-escaped.
    """
    parts = [
        "<!DOCTYPE html><html><head><meta charset='utf-8'/>",
        f"<title>{_esc(title)}</title>",
        "<style>body{font-family:sans-serif;margin:24px;background:#fafafa}"
        "h1{font-size:1.4em}h2{font-size:1.1em;margin-top:28px}"
        "table.meta td{padding:2px 10px;border-bottom:1px solid #eee}"
        ".tile{background:#fff;border:1px solid #ddd;border-radius:6px;"
        "padding:12px;margin:12px 0}.art{display:inline-block;margin:6px;"
        "text-align:center;font-size:0.8em;color:#555}"
        "img{image-rendering:pixelated;border:1px solid #ccc;min-width:64px}"
        "</style></head><body>",
        f"<h1>{_esc(title)}</h1>",
    ]
    if metadata:
        parts.append("<table class='meta'>")
        for k, v in metadata.items():
            parts.append(f"<tr><td>{_esc(k)}</td><td>{_esc(v)}</td></tr>")
        parts.append("</table>")
    for name in sorted(tiles):
        parts.append(f"<div class='tile'><h2>{_esc(name)}</h2>")
        for art, path in sorted(tiles[name].items()):
            parts.append(f"<span class='art'>{_img(path)}<br/>{_esc(art)}</span>")
        parts.append("</div>")
    parts.append(f"<p>{len(tiles)} tile(s)</p></body></html>")
    out = Path(output_dir) / "index.html"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text("".join(parts))
    return str(out)
