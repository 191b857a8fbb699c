"""Seeded benchmark input: the FIXTURES.md section 1 bench pages table.

Generated with numpy + pyarrow only (nothing from ``rio_cogeo_spark``), so
the program under test never shapes its own input. 80% of pages fall in a
+-0.45 degree box around one of 20 megacity centres, 20% are uniform over
lat +-60 / lon +-180. Columns: ``doc_id, url, lang, n_chars, lat, lon``.

The parquet copy is cached under the work directory, keyed on
(seed, page count, generator version): a change to any of the three
writes a new table instead of silently reusing a stale one.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Bump whenever the generation rule below changes.
GENERATOR_VERSION = 1

N_PAGES = 2_000_000
N_FILES = 16
HOTSPOT_FRAC = 0.8
HOTSPOT_HALF = 0.45
LANGS = ["en", "es", "zh", "de", "fr", "pt", "ar", "hi"]
# Cached input tables kept on disk; older ones are deleted.
KEEP_CACHED = 3

# (lat, lon) of the 20 megacity hotspots (FIXTURES.md section 1).
CENTRES = np.array([
    (35.6895, 139.6917), (40.7128, -74.0060), (51.5074, -0.1278),
    (48.8566, 2.3522), (31.2304, 121.4737), (28.7041, 77.1025),
    (-23.5505, -46.6333), (19.4326, -99.1332), (30.0444, 31.2357),
    (19.0760, 72.8777), (39.9042, 116.4074), (34.6937, 135.5023),
    (23.8103, 90.4125), (24.8607, 67.0011), (41.0082, 28.9784),
    (-34.6037, -58.3816), (6.5244, 3.3792), (14.5995, 120.9842),
    (-22.9068, -43.1729), (55.7558, 37.6173),
])


def make_pages(seed: int, n: int) -> pa.Table:
    """The pages table for ``seed`` as an Arrow table (same seed, same rows)."""
    rng = np.random.default_rng(seed & (2**64 - 1))  # any int, negative too
    doc_id = np.arange(n, dtype=np.int64)
    hot = rng.random(n) < HOTSPOT_FRAC
    city = rng.integers(0, len(CENTRES), n)
    lat = np.where(
        hot,
        CENTRES[city, 0] + rng.uniform(-HOTSPOT_HALF, HOTSPOT_HALF, n),
        rng.uniform(-60.0, 60.0, n),
    )
    lon = np.where(
        hot,
        CENTRES[city, 1] + rng.uniform(-HOTSPOT_HALF, HOTSPOT_HALF, n),
        rng.uniform(-180.0, 180.0, n),
    )
    n_chars = rng.integers(100, 20_000, n, dtype=np.int64)
    url = pc.binary_join_element_wise(
        "https://site",
        pc.cast(pa.array(doc_id % 9973), pa.string()),
        ".example/page/",
        pc.cast(pa.array(doc_id), pa.string()),
        "",
    )
    lang = pc.take(pa.array(LANGS), pa.array(doc_id % len(LANGS)))
    return pa.table({
        "doc_id": doc_id, "url": url, "lang": lang,
        "n_chars": n_chars, "lat": lat, "lon": lon,
    })


def cached_pages(work_dir: str, seed: int, n: int = N_PAGES) -> str:
    """Path of the parquet pages table for (seed, n), writing it if absent."""
    cache = os.path.join(work_dir, "inputs")
    name = f"pages_s{seed}_n{n}_v{GENERATOR_VERSION}"
    path = os.path.join(cache, name)
    if not os.path.isdir(path):
        os.makedirs(cache, exist_ok=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        table = make_pages(seed, n)
        step = -(-n // N_FILES)
        for i in range(N_FILES):
            pq.write_table(
                table.slice(i * step, step),
                os.path.join(tmp, f"part-{i:05d}.parquet"),
            )
        os.rename(tmp, path)
    os.utime(path)
    entries = sorted(
        (e for e in os.scandir(cache) if e.is_dir() and e.name != name),
        key=lambda e: e.stat().st_mtime,
    )
    for e in entries[: max(0, len(entries) - (KEEP_CACHED - 1))]:
        shutil.rmtree(e.path, ignore_errors=True)
    return path


def read_columns(path: str, columns) -> dict:
    """Numpy arrays of ``columns`` read back from the cached table."""
    t = pq.read_table(path, columns=list(columns))
    return {c: t.column(c).to_numpy() for c in columns}
