"""Raster ↔ vector conversion (north_star: polygonization + masking).

* **polygonize** — class rasters → polygon rings: connected components
  (4-connectivity, two-pass union-find on row runs) → rectilinear boundary
  tracing along pixel edges → closed rings in world coordinates. Inverse of
  masking: rasterize(polygonize(m)) == m exactly (tests prove the roundtrip).
* **rasterize_mask** — zone polygons → per-tile uint8 masks by ray casting
  the pixel-center lattice (vectorized PIP, same kernel as the joins).

Both run chunk-at-a-time inside Arrow-batched ``mapInPandas`` — per-pixel
data never leaves the UDF; outputs are vector rows / binary mask payloads.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..functions import geometry
from .rows import map_rows

# ---------------------------------------------------------------------------
# numpy kernels
# ---------------------------------------------------------------------------


def connected_components(mask: np.ndarray) -> tuple[np.ndarray, int]:
    """4-connectivity CCL via row runs + union-find. Returns (labels, n)
    with labels 1..n (0 = background)."""
    H, W = mask.shape
    labels = np.zeros((H, W), dtype=np.int32)
    parent: list[int] = [0]

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    nxt = 1
    prev_runs: list[tuple[int, int, int]] = []  # (c0, c1, label) of row above
    for r in range(H):
        row = mask[r]
        runs = []
        c = 0
        while c < W:
            if row[c]:
                c1 = c
                while c1 < W and row[c1]:
                    c1 += 1
                lab = None
                for pc0, pc1, plab in prev_runs:
                    if pc0 < c1 and pc1 > c:  # vertical adjacency overlap
                        if lab is None:
                            lab = plab
                        else:
                            union(lab, plab)
                if lab is None:
                    lab = nxt
                    parent.append(nxt)
                    nxt += 1
                labels[r, c:c1] = lab
                runs.append((c, c1, lab))
                c = c1
            else:
                c += 1
        # second pass over this row's runs to capture unions found later
        prev_runs = runs
    # resolve + compact labels
    remap = {}
    out_n = 0
    flat = labels.ravel()
    roots = np.array([find(x) if x else 0 for x in range(nxt)], dtype=np.int32)
    flat[:] = roots[flat]
    for lab in np.unique(flat):
        if lab == 0:
            continue
        out_n += 1
        remap[lab] = out_n
    lut = np.zeros(nxt, dtype=np.int32)
    for k, v in remap.items():
        lut[k] = v
    flat[:] = lut[flat]
    return labels, out_n


def trace_rings(component: np.ndarray) -> list[np.ndarray]:
    """Boundary rings of a binary component in pixel-corner coordinates.

    Directed-edge walk: each boundary pixel side becomes a unit edge oriented
    with the interior on its left; following edges yields closed rectilinear
    rings (outer ring + holes). Collinear points are merged.

    Saddle vertices (two pixels of the SAME 4-connected component touching
    only diagonally — e.g. a staircase corner) have TWO outgoing edges; the
    walk picks the one turning toward the interior (cross(in, out) < 0 in
    pixel coordinates, y down), which keeps every ring simple and splits the
    pinch into separate rings instead of a self-touching figure-eight.
    """
    H, W = component.shape
    edges: dict[tuple[int, int], list[tuple[int, int]]] = {}
    inside = component.astype(bool)
    up = np.zeros_like(inside)
    up[1:, :] = inside[:-1, :]
    down = np.zeros_like(inside)
    down[:-1, :] = inside[1:, :]
    left = np.zeros_like(inside)
    left[:, 1:] = inside[:, :-1]
    right = np.zeros_like(inside)
    right[:, :-1] = inside[:, 1:]

    rr, cc = np.nonzero(inside & ~up)
    for r, c in zip(rr.tolist(), cc.tolist()):  # top side: left→right
        edges.setdefault((c, r), []).append((c + 1, r))
    rr, cc = np.nonzero(inside & ~right)
    for r, c in zip(rr.tolist(), cc.tolist()):  # right side: top→bottom
        edges.setdefault((c + 1, r), []).append((c + 1, r + 1))
    rr, cc = np.nonzero(inside & ~down)
    for r, c in zip(rr.tolist(), cc.tolist()):  # bottom side: right→left
        edges.setdefault((c + 1, r + 1), []).append((c, r + 1))
    rr, cc = np.nonzero(inside & ~left)
    for r, c in zip(rr.tolist(), cc.tolist()):  # left side: bottom→top
        edges.setdefault((c, r + 1), []).append((c, r))

    def pop_out(cur: tuple[int, int], prev: tuple[int, int] | None) -> tuple[int, int]:
        outs = edges[cur]
        if len(outs) == 1 or prev is None:
            nxt = outs.pop()
        else:
            # saddle: exactly one candidate turns toward the interior
            ix, iy = cur[0] - prev[0], cur[1] - prev[1]
            pick = 0
            for i, (ox, oy) in enumerate(outs):
                if ix * (oy - cur[1]) - iy * (ox - cur[0]) < 0:
                    pick = i
                    break
            nxt = outs.pop(pick)
        if not outs:
            del edges[cur]
        return nxt

    rings = []
    while edges:
        start = next(iter(edges))
        ring = [start]
        prev, cur = start, pop_out(start, None)
        while cur != start:
            ring.append(cur)
            prev, cur = cur, pop_out(cur, prev)
        # merge collinear
        merged = []
        n = len(ring)
        for i in range(n):
            p0, p1, p2 = ring[i - 1], ring[i], ring[(i + 1) % n]
            if (p1[0] - p0[0], p1[1] - p0[1]) != (p2[0] - p1[0], p2[1] - p1[1]):
                merged.append(p1)
        rings.append(np.array(merged, dtype=np.int64))
    return rings


def rasterize_ring(
    ring_world: np.ndarray, x0: float, y1: float, px: float, H: int, W: int
) -> np.ndarray:
    """Pixel-center PIP mask of one world-coordinate ring on a tile grid."""
    cgrid, rgrid = np.meshgrid(np.arange(W), np.arange(H))
    cx = x0 + (cgrid.ravel() + 0.5) * px
    cy = y1 - (rgrid.ravel() + 0.5) * px
    return (
        geometry.points_in_polygon(cx, cy, ring_world).reshape(H, W).astype(np.uint8)
    )


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

POLYGONIZE_SCHEMA = (
    "media_ref string, class int, component int, ring int, area_px long, "
    "signed_area_px2 long, n_vertices int, wkt string"
)


def polygonize(media: DataFrame, class_of_dn) -> DataFrame:
    """Decode tiles, classify pixels, extract polygon rings per class.

    ``class_of_dn``: numpy fn (bands,H,W)->(H,W) int class map. Output rings
    are world-coordinate rectilinear polygons serialized as WKT (ring 0 =
    outer by construction of the edge walk; holes have reversed orientation).

    ``signed_area_px2`` is 2× the ring's signed shoelace area over the
    integer pixel-corner coordinates (exact int64): because holes are traced
    with opposite orientation, ``|Σ signed_area_px2| / 2`` over a
    component's rings equals its pixel count — a topological invariant the
    driver query ``polygonize_class_areas`` checks against a pure SQL pixel
    count (the oracle never sees the rings).
    """

    def per_tile(ref, payload):
        from ..formats import tiff

        arr, prof = tiff.decode(bytes(payload))
        cls_map = class_of_dn(arr)
        sx, _, x0, _, sy, y1 = prof.transform
        for cls in np.unique(cls_map):
            if cls < 0:
                continue
            labels, n = connected_components(cls_map == cls)
            for comp in range(1, n + 1):
                m = labels == comp
                for ri, ring in enumerate(trace_rings(m)):
                    xs, ys = ring[:, 0], ring[:, 1]
                    a2 = int((xs * np.roll(ys, -1) - np.roll(xs, -1) * ys).sum())
                    wx = x0 + ring[:, 0] * sx
                    wy = y1 + ring[:, 1] * sy  # sy negative: y down
                    pts = ", ".join(f"{x:.1f} {y:.1f}" for x, y in zip(wx, wy))
                    first = f"{wx[0]:.1f} {wy[0]:.1f}"
                    yield (
                        ref, int(cls), comp, ri, int(m.sum()), a2, len(ring),
                        f"POLYGON (({pts}, {first}))",
                    )

    return map_rows(media, ("media_ref", "payload"), POLYGONIZE_SCHEMA, per_tile)


MASK_SCHEMA = "media_ref string, zone_id long, n_inside long, mask binary"


def rasterize_zones(media_meta: DataFrame, poly_zones: DataFrame, candidates: DataFrame) -> DataFrame:
    """vector→raster: per (tile, zone) candidate pair, a uint8 pixel-center
    mask of the zone over the tile grid (+ inside-pixel count).

    ``media_meta``: (media_ref, x0, y1, width, height, px). ``candidates``:
    (media_ref, zone_id) pairs (usually from a bbox/cell join — only
    overlapping pairs pay the rasterization).
    """
    spark = media_meta.sparkSession
    zrows = poly_zones.select("zone_id", "ring").collect()
    rings = {int(r["zone_id"]): np.array([(p["x"], p["y"]) for p in r["ring"]]) for r in zrows}
    bc = spark.sparkContext.broadcast(rings)

    joined = candidates.join(media_meta, "media_ref")

    def per_pair(ref, zid, x0, y1, w, h, px):
        ring = bc.value.get(int(zid))
        if ring is None:
            raise ValueError(
                f"candidate references zone_id {int(zid)} absent from "
                "poly_zones — candidates and poly_zones are out of sync"
            )
        m = rasterize_ring(ring, float(x0), float(y1), float(px), int(h), int(w))
        yield ref, int(zid), int(m.sum()), m.tobytes()

    cols = ("media_ref", "zone_id", "x0", "y1", "width", "height", "px")
    return map_rows(joined, cols, MASK_SCHEMA, per_pair)
