"""The benchmark's workloads: one user-level operation each, checked
against the numpy oracles, plus the layer-by-layer breakdown of the traced
run.

Every workload is a closed loop of one client: the next operation starts
only after the previous one has finished and been checked.

DataFrames are lazy, so a layer cannot be timed on its own. The traced run
times cumulative prefixes of the operation, each built from the layer's
public functions and written to Spark's ``noop`` sink, and charges a layer
the difference between its prefix and the one before it.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import time
from contextlib import contextmanager
from typing import Dict, List, Tuple

import numpy as np

import gen
import oracle

MAX_ZOOM = 10
OVERVIEW_LEVEL = 6
ZOOMS = list(range(MAX_ZOOM, MAX_ZOOM - OVERVIEW_LEVEL - 1, -1))
TILE_COLS = ["doc_id", "n_chars", "lat", "lon"]
PIP_COLS = ["doc_id", "lat", "lon"]
# noop runs of each layer prefix per traced operation; prefixes are
# cheap, and layer times are differences of their medians
PREFIX_REPS = 3

# pip_boundary: concave 8-point stars around each hotspot centre, small
# enough that most candidate cells straddle an edge
STAR_POINTS = 8
STAR_OUTER = 0.55
STAR_INNER = 0.2


def noop(df) -> None:
    """Run ``df`` to completion without writing or collecting anything."""
    df.write.format("noop").mode("overwrite").save()


def tree_size(root: str) -> Tuple[int, int]:
    """(bytes, files) of every regular file under ``root``."""
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


class Spans:
    """Timed spans (name, parent, start, end), kept in memory and dumped
    once at the end of the traced run."""

    def __init__(self) -> None:
        self.records: List[dict] = []

    @contextmanager
    def span(self, spark, name: str, group: str, parent: str = "op"):
        """Time ``name``; Spark jobs started inside carry job group ``group``."""
        spark.sparkContext.setJobGroup(group, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            self.records.append({
                "name": name, "parent": parent, "group": group,
                "start": start, "end": time.perf_counter(),
            })

    def prefix(self, spark, name: str, df) -> None:
        """Time ``PREFIX_REPS`` noop runs of the layer prefix ``df``."""
        for _ in range(PREFIX_REPS):
            with self.span(spark, name, name):
                noop(df)

    def median(self, name: str) -> float:
        return statistics.median(
            r["end"] - r["start"] for r in self.records if r["name"] == name
        )


class TileJob:
    """The CLI's ``create`` then ``validate``: pages -> resumable pyramid
    z10..z4 committed into a fresh root -> read back -> tiles_meta ->
    cog_validate. The only workload that aggregates, writes and commits."""

    name = "tile_job"
    procs_per_slot = 1  # a JVM task thread

    def __init__(self, pages_path: str, work_dir: str) -> None:
        self.pages_path = pages_path
        cols = gen.read_columns(pages_path, TILE_COLS)
        self.n_pages = len(cols["doc_id"])
        self.expected = oracle.pyramid_stats(cols, MAX_ZOOM, ZOOMS)
        self.roots = os.path.join(work_dir, "pyramids")
        shutil.rmtree(self.roots, ignore_errors=True)
        os.makedirs(self.roots)
        self._ids = itertools.count()

    def _fresh_root(self) -> str:
        # a new empty root every time: a reused root would let the
        # resumable pyramid skip every level that is already committed
        return os.path.join(self.roots, f"op{next(self._ids)}")

    def _create(self, spark, root):
        from rio_cogeo_spark.sources.pages import read_pages, resumable_pyramid

        pages = read_pages(spark, self.pages_path)
        return resumable_pyramid(
            pages, root, max_zoom=MAX_ZOOM, overview_level=OVERVIEW_LEVEL
        )

    def _validate(self, spark, root, plan):
        from rio_cogeo_spark.operators.translate import tiles_meta
        from rio_cogeo_spark.operators.validate import cog_validate
        from rio_cogeo_spark.sources.pages import read_pyramid

        tiles = read_pyramid(spark, root)
        return cog_validate(
            tiles, tiles_meta(tiles, plan), {"format": "parquet", **plan.properties}
        )

    def _check(self, spark, root, manifests, valid) -> bool:
        from pyspark.sql import functions as F

        from rio_cogeo_spark.sources.pages import read_pyramid

        rows = (
            read_pyramid(spark, root)
            .groupBy("zoom")
            .agg(
                F.count(F.lit(1)), F.sum("page_count"), F.sum("sum_chars"),
                F.sum(F.col("page_count") * F.col("tile_x")),
                F.sum(F.col("page_count") * F.col("tile_y")),
                F.sum("max_doc_id"),
            )
            .collect()
        )
        got = {int(r[0]): tuple(int(v) for v in r[1:]) for r in rows}
        committed = {int(m["zoom"]): int(m["n_tiles"]) for m in manifests}
        return (
            valid
            and got == self.expected
            and committed == {z: v[0] for z, v in self.expected.items()}
        )

    def run(self, spark) -> Tuple[float, bool]:
        """One checked operation: (seconds, output correct)."""
        root = self._fresh_root()
        t0 = time.perf_counter()
        plan, manifests = self._create(spark, root)
        valid, _, _ = self._validate(spark, root, plan)
        dt = time.perf_counter() - t0
        try:
            return dt, self._check(spark, root, manifests, valid)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def trace(self, spark, spans: Spans, rep: int) -> Tuple[bool, dict]:
        """One traced operation plus its layer prefixes."""
        from rio_cogeo_spark.operators.translate import (
            assign_tiles, base_tiles, default_bands, next_level, plan_tile_job,
        )
        from rio_cogeo_spark.sources.pages import read_pages, read_pyramid

        root = self._fresh_root()
        group = f"op#{rep}"
        try:
            with spans.span(spark, "op.create", group):
                plan, manifests = self._create(spark, root)
            with spans.span(spark, "validate", group):
                valid, _, _ = self._validate(spark, root, plan)
            spark.sparkContext.setJobGroup("check", "check")
            ok = self._check(spark, root, manifests, valid)

            pages = read_pages(spark, self.pages_path).select(*TILE_COLS)
            with spans.span(spark, "plan", "plan"):
                plan_tile_job(pages, MAX_ZOOM, OVERVIEW_LEVEL)
            spans.prefix(spark, "prefix.scan", pages)
            spans.prefix(spark, "prefix.tile_assign", assign_tiles(pages, MAX_ZOOM))
            spans.prefix(spark, "prefix.base_agg", base_tiles(pages, MAX_ZOOM))
            committed = read_pyramid(spark, root)
            for z in ZOOMS[1:]:
                # each overview reads the committed level below it
                below = committed.where(committed["zoom"] == z + 1).drop("zoom")
                spans.prefix(spark, f"overview.z{z}",
                             next_level(below, z, 2, default_bands()))
            size, files = tree_size(root)
        finally:
            shutil.rmtree(root, ignore_errors=True)
        tiles = {int(m["zoom"]): int(m["n_tiles"]) for m in manifests}
        counts = {
            "write.bytes": size,
            "write.files": files,
            "base_agg.tiles": tiles[MAX_ZOOM],
        }
        counts.update({f"overview.z{z}.tiles": tiles[z] for z in ZOOMS[1:]})
        return ok, counts

    def layer_seconds(self, spans: Spans) -> Dict[str, float]:
        """Per-layer seconds from the medians of the traced spans."""
        m = spans.median
        overviews = {f"overview.z{z}.s": m(f"overview.z{z}") for z in ZOOMS[1:]}
        return {
            "plan.s": m("plan"),
            "scan.s": m("prefix.scan"),
            "tile_assign.s": m("prefix.tile_assign") - m("prefix.scan"),
            "base_agg.s": m("prefix.base_agg") - m("prefix.tile_assign"),
            **overviews,
            "write_commit.s": (
                m("op.create") - m("plan") - m("prefix.base_agg")
                - sum(overviews.values())
            ),
            "validate.s": m("validate"),
        }


def star_areas():
    """Concave stars centred on the hotspots, as the program's AdminArea."""
    from rio_cogeo_spark.operators.join import AdminArea

    angles = np.linspace(0.0, 2.0 * np.pi, 2 * STAR_POINTS, endpoint=False)
    radii = np.where(np.arange(2 * STAR_POINTS) % 2 == 0, STAR_OUTER, STAR_INNER)
    areas = []
    for k, (clat, clon) in enumerate(gen.CENTRES):
        lons = clon + radii * np.cos(angles)
        lats = clat + radii * np.sin(angles)
        areas.append(AdminArea(
            f"B{k:03d}", f"star{k}",
            tuple(np.append(lons, lons[0])), tuple(np.append(lats, lats[0])),
        ))
    return areas


class Pip:
    """Point-in-polygon join of every page against admin areas, reduced to
    (admin_id, matches, sum of matched doc_id) per area."""

    procs_per_slot = 2  # a JVM task thread and the Python worker it feeds

    def __init__(self, name: str, pages_path: str, areas) -> None:
        self.name = name
        self.pages_path = pages_path
        self.areas = areas
        cols = gen.read_columns(pages_path, PIP_COLS)
        self.n_pages = len(cols["doc_id"])
        self.expected = oracle.pip_stats(cols, areas)

    def _op(self, spark):
        from pyspark.sql import functions as F

        from rio_cogeo_spark.operators.join import point_in_polygon
        from rio_cogeo_spark.sources.pages import read_pages

        matched = point_in_polygon(read_pages(spark, self.pages_path), self.areas)
        return (
            matched.groupBy("admin_id")
            .agg(F.count(F.lit(1)), F.sum("doc_id"))
            .collect()
        )

    def _check(self, rows) -> bool:
        got = {r[0]: (int(r[1]), int(r[2])) for r in rows}
        return bool(got) and got == self.expected

    def run(self, spark) -> Tuple[float, bool]:
        t0 = time.perf_counter()
        rows = self._op(spark)
        return time.perf_counter() - t0, self._check(rows)

    def trace(self, spark, spans: Spans, rep: int) -> Tuple[bool, dict]:
        from pyspark.sql import functions as F

        from rio_cogeo_spark.functions.tile import cell_id
        from rio_cogeo_spark.operators.join import PREFILTER_ZOOM, admin_cells_df
        from rio_cogeo_spark.sources.pages import read_pages

        with spans.span(spark, "pip.dim_side", "dim_side", parent="setup"):
            cells = admin_cells_df(spark, self.areas)
        pages = read_pages(spark, self.pages_path).select(*PIP_COLS)
        with_cell = pages.withColumn(
            "cell", cell_id(F.col("lon"), F.col("lat"), PREFILTER_ZOOM)
        )
        candidates = with_cell.join(F.broadcast(cells), "cell", "inner")
        spans.prefix(spark, "prefix.scan", pages)
        spans.prefix(spark, "prefix.cell_assign", with_cell)
        spans.prefix(spark, "prefix.prefilter", candidates)
        ok = True
        for i in range(PREFIX_REPS):  # the operation is as cheap as a prefix
            with spans.span(spark, "op.pip", f"op#{rep}.{i}"):
                rows = self._op(spark)
            ok = self._check(rows) and ok
        spark.sparkContext.setJobGroup("check", "check")
        c = candidates.agg(
            F.count(F.lit(1)), F.sum((~F.col("interior")).cast("long"))
        ).first()
        n_cand, n_boundary = int(c[0]), int(c[1] or 0)
        matches = sum(int(r[1]) for r in rows)
        counts = {
            "pip.candidates": n_cand,
            "pip.boundary_frac": n_boundary / max(n_cand, 1),
            "pip.match_per_candidate": matches / max(n_cand, 1),
        }
        return ok, counts

    def layer_seconds(self, spans: Spans) -> Dict[str, float]:
        m = spans.median
        return {
            "scan.s": m("prefix.scan"),
            "pip.cell_assign.s": m("prefix.cell_assign") - m("prefix.scan"),
            "pip.prefilter.s": m("prefix.prefilter") - m("prefix.cell_assign"),
            "pip.refine.s": m("op.pip") - m("prefix.prefilter"),
        }


def make(name: str, pages_path: str, work_dir: str):
    """The workload called ``name`` over the pages table at ``pages_path``."""
    from rio_cogeo_spark.operators.join import build_admin_areas

    if name == "tile_job":
        return TileJob(pages_path, work_dir)
    areas = build_admin_areas(stars=True) if name == "pip_interior" else star_areas()
    return Pip(name, pages_path, areas)


WORKLOADS = ("tile_job", "pip_interior", "pip_boundary")
