"""The tile job's commit, plan and validate paths: manifests read from the
written parquet footers, the plan derived from the committed base level,
crash-safe manifests, the one-pass V2/V10 validation and the tile job's
Spark-job budget."""

import json
import os
import statistics

import pytest
from pyspark.sql import functions as F

from rio_cogeo_spark import grid
from rio_cogeo_spark.operators.translate import (
    cog_translate,
    plan_tile_job,
    tiles_meta,
)
from rio_cogeo_spark.operators.validate import (
    CHECK_MSGS,
    cog_validate,
    validate_report,
)
from rio_cogeo_spark.sources import pages as SRC
from rio_cogeo_spark.synth import synth_pages

ZOOMS = [8, 7, 6, 5]


@pytest.fixture(scope="module")
def pages(spark, sf_small, tmp_path_factory):
    """sf0.001 pages as a parquet table, opened the way the CLI opens it."""
    path = str(tmp_path_factory.mktemp("tile_job") / "pages")
    synth_pages(spark, sf_small).write.parquet(path)
    return SRC.read_pages(spark, path)


def _pyramid(pages, root, **kw):
    return SRC.resumable_pyramid(pages, root, max_zoom=8, overview_level=3, **kw)


def _rows(spark, root):
    return sorted(map(tuple, SRC.read_pyramid(spark, root).collect()))


def _grid_shape(plan):
    return (
        plan.max_zoom, plan.min_zoom, plan.decimation_base, plan.blocksize,
        plan.overview_blocksize, plan.extent, plan.width_px, plan.height_px,
        plan.decimations,
    )


def test_tile_job_spark_job_budget(spark, pages, tmp_path):
    """create + validate on sf0.001 (max_zoom=8, overview_level=3) runs at
    most 21 Spark jobs: 16 for ``resumable_pyramid`` and 5 for
    ``read_pyramid`` + ``cog_validate``. The seed ran 45 (34 + 11): it
    re-read every level to count rows per read split, scanned the pages a
    second time to plan, inferred each level's schema, and validated with
    two passes over the tiles plus a count join and a range sort of
    tiles_meta."""
    root = str(tmp_path / "pyr")
    sc = spark.sparkContext
    group = f"tile_job_budget_{os.getpid()}"
    sc.setJobGroup(group, "tile job budget")
    try:
        plan, _ = _pyramid(pages, root)
        tiles = SRC.read_pyramid(spark, root)
        ok, errors, _ = cog_validate(
            tiles, tiles_meta(tiles, plan), {"format": "parquet"}
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert ok, errors
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= 21, n_jobs


def test_footer_manifests_match_spark_counts(spark, pages, tmp_path):
    """Every footer-derived manifest number equals what Spark counts when
    it reads the committed files back."""
    root = str(tmp_path / "pyr")
    _, manifests = _pyramid(pages, root)
    assert [m["zoom"] for m in manifests] == ZOOMS
    for m in manifests:
        level = spark.read.parquet(os.path.join(root, f"zoom={m['zoom']}"))
        per_file = {
            int(os.path.basename(r["f"])[5:10]): r["n"]
            for r in level.groupBy(F.input_file_name().alias("f"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert {p["partition"]: p["rows"] for p in m["partitions"]} == per_file
        assert m["n_tiles"] == level.count() == sum(per_file.values())
        ext = level.agg(
            F.min("tile_x"), F.min("tile_y"), F.max("tile_x"), F.max("tile_y")
        ).first()
        assert m["extent"] == list(ext)
        rows = list(per_file.values())
        assert m["skew"] == pytest.approx(max(rows) / statistics.median(rows))
        assert m["wall_s"] > 0 and m["complete"] is True
        with open(os.path.join(root, f"_manifest_z{m['zoom']}.json")) as f:
            assert json.load(f) == m


@pytest.mark.parametrize("aligned_levels", [None, 2])
def test_plan_equals_plan_tile_job_on_default_grid(pages, tmp_path, aligned_levels):
    plan, _ = _pyramid(pages, str(tmp_path / "pyr"), aligned_levels=aligned_levels)
    want = plan_tile_job(pages, 8, 3, aligned_levels=aligned_levels)
    assert plan == want


def test_plan_equals_cog_translate_on_custom_tms(pages, tmp_path):
    q = grid.WORLD_CRS84_QUAD
    plan, manifests = SRC.resumable_pyramid(
        pages, str(tmp_path / "pyr"), max_zoom=6, overview_level=2, tms=q
    )
    _, want = cog_translate(pages, max_zoom=6, overview_level=2, tms=q)
    assert _grid_shape(plan) == _grid_shape(want)
    assert [m["zoom"] for m in manifests] == want.zooms


def test_empty_pages_raise_before_any_manifest(pages, tmp_path):
    root = str(tmp_path / "pyr")
    with pytest.raises(
        ValueError, match="cannot plan a tile job over an empty pages table"
    ):
        _pyramid(pages.limit(0), root)
    assert os.listdir(root) == []


def test_resume_rebuilds_torn_and_missing_manifests(spark, pages, tmp_path):
    """Fault injection: a truncated manifest (a crash mid-write under the
    old plain ``open``) and a level directory renamed into place without
    its manifest (a crash between rename and manifest) are both rebuilt on
    resume; the untouched levels are skipped and the output is identical."""
    root = str(tmp_path / "pyr")
    _, first = _pyramid(pages, root)
    before = _rows(spark, root)

    z7 = os.path.join(root, "_manifest_z7.json")
    with open(z7) as f:
        text = f.read()
    with open(z7, "w") as f:
        f.write(text[: len(text) // 2])
    os.remove(os.path.join(root, "_manifest_z5.json"))

    _, resumed = _pyramid(pages, root)
    assert [m["zoom"] for m in resumed] == ZOOMS
    assert [m["n_tiles"] for m in resumed] == [m["n_tiles"] for m in first]
    # skipped levels return their committed manifest unchanged
    assert resumed[0] == first[0] and resumed[2] == first[2]
    for z in ZOOMS:
        with open(os.path.join(root, f"_manifest_z{z}.json")) as f:
            assert json.load(f)["complete"] is True
    assert _rows(spark, root) == before
    assert not [n for n in os.listdir(root) if n.endswith(".tmp") or n.startswith("_tmp")]


def test_v10_flags_one_duplicated_tile(spark, pages):
    tiles, plan = cog_translate(pages, max_zoom=8, overview_level=3)
    meta = tiles_meta(tiles, plan)
    ok, errors, _ = cog_validate(tiles, meta, {"format": "parquet"})
    assert ok, errors

    dup = tiles.unionByName(tiles.where(F.col("zoom") == 6).limit(1))
    ok, errors, _ = cog_validate(dup, meta, {"format": "parquet"})
    assert not ok
    assert errors == [CHECK_MSGS["v10_no_duplicate_tiles"]]

    report = validate_report(dup, meta, {"format": "parquet"}).collect()
    assert [r["check_name"] for r in report] == [
        "valid", "v1_format", "v6_not_modified", "v5_header_first",
        "v2_no_external_overviews", "v3_tiled", "v4_overviews_present",
        "v7_overviews_sorted", "v8_decimation_gt1", "v9_write_order",
        "v11_overview_blocksize", "v14_aligned_levels",
        "v10_no_duplicate_tiles",
    ]
    failed = {r["check_name"] for r in report if not r["ok"]}
    assert failed == {"valid", "v10_no_duplicate_tiles"}
