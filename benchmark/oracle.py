"""Independent numpy oracles for the benchmark's outputs.

Nothing here imports ``rio_cogeo_spark``: the tile index is the textbook
slippy-map formula (asinh of tan, not the program's mercator-metre form)
and the point-in-polygon test is an even-odd crossing count written with
a cross-product side test, not the program's ``ray_cast``. Both agree
with the program except for points within a few ulps of a tile or ring
edge, which random double coordinates do not hit.
"""

from __future__ import annotations

from typing import Dict, Iterable, Tuple

import numpy as np

MAX_LAT = 85.0511287798066


def tile_xy(lon: np.ndarray, lat: np.ndarray, zoom: int) -> Tuple[np.ndarray, np.ndarray]:
    """WebMercatorQuad tile column/row of each point at ``zoom``."""
    n = 1 << zoom
    x = (lon + 180.0) / 360.0 * n
    phi = np.radians(np.clip(lat, -MAX_LAT, MAX_LAT))
    y = (1.0 - np.arcsinh(np.tan(phi)) / np.pi) / 2.0 * n
    tx = np.clip(np.floor(x), 0, n - 1).astype(np.int64)
    ty = np.clip(np.floor(y), 0, n - 1).astype(np.int64)
    return tx, ty


def pyramid_stats(cols: Dict[str, np.ndarray], max_zoom: int,
                  zooms: Iterable[int]) -> Dict[int, Tuple[int, ...]]:
    """Per zoom: (n_tiles, sum page_count, sum sum_chars,
    sum page_count*tile_x, sum page_count*tile_y, sum max_doc_id).

    Overview tiles are the base tiles shifted right by the zoom gap, which
    is what a power-of-two decimation of the base level gives."""
    tx, ty = tile_xy(cols["lon"], cols["lat"], max_zoom)
    base, inv = np.unique((tx << 32) | ty, return_inverse=True)
    pages = np.bincount(inv)
    max_doc = np.full(base.shape[0], -1, dtype=np.int64)
    np.maximum.at(max_doc, inv, cols["doc_id"].astype(np.int64))
    total_chars = int(cols["n_chars"].astype(np.int64).sum())
    out = {}
    for z in zooms:
        shift = max_zoom - z
        px, py = (base >> 32) >> shift, (base & 0xFFFFFFFF) >> shift
        keys, parent = np.unique((px << 32) | py, return_inverse=True)
        level_max = np.full(keys.shape[0], -1, dtype=np.int64)
        np.maximum.at(level_max, parent, max_doc)
        out[z] = (
            int(keys.shape[0]), int(pages.sum()), total_chars,
            int((px * pages).sum()), int((py * pages).sum()), int(level_max.sum()),
        )
    return out


def inside_ring(lon: np.ndarray, lat: np.ndarray,
                ring_lon: np.ndarray, ring_lat: np.ndarray) -> np.ndarray:
    """Even-odd rule: a point is inside when a ray towards +lon crosses the
    closed ring an odd number of times. An edge counts when it straddles
    the point's latitude (one end strictly above, the other not) and the
    point lies on the side of the edge facing -lon."""
    inside = np.zeros(lon.shape[0], dtype=bool)
    for i in range(len(ring_lon) - 1):
        ax, ay = ring_lon[i], ring_lat[i]
        bx, by = ring_lon[i + 1], ring_lat[i + 1]
        straddles = (ay > lat) != (by > lat)
        # cross product of (b - a) and (p - a): its sign says on which side
        # of the directed edge the point lies
        cross = (bx - ax) * (lat - ay) - (by - ay) * (lon - ax)
        left = np.where(by > ay, cross > 0, cross < 0)
        inside ^= straddles & left
    return inside


def pip_stats(cols: Dict[str, np.ndarray], areas) -> Dict[str, Tuple[int, int]]:
    """admin_id -> (matches, sum of matched doc_id): the match count plus an
    order-independent checksum of which pages matched."""
    lon, lat = cols["lon"], cols["lat"]
    doc_id = cols["doc_id"].astype(np.int64)
    out = {}
    for a in areas:
        rlon = np.asarray(a.ring_lon, dtype=np.float64)
        rlat = np.asarray(a.ring_lat, dtype=np.float64)
        box = ((lon >= rlon.min()) & (lon <= rlon.max())
               & (lat >= rlat.min()) & (lat <= rlat.max()))
        idx = np.flatnonzero(box)
        hit = idx[inside_ring(lon[idx], lat[idx], rlon, rlat)]
        if hit.size:
            out[a.admin_id] = (int(hit.size), int(doc_id[hit].sum()))
    return out
