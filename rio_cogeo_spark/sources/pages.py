"""Sources & sinks (SURVEY.md §2.1 S1-S7) + checkpointed, resumable
pyramid builds.

The reference's resumability story is 'rerun the one-shot pipeline'; ours
(north_star) is **snapshot-per-level checkpointing**: every pyramid level
commits atomically with a manifest carrying per-partition lineage + tile
counts, and a resumed job skips completed levels and rebuilds from the
last good one. With an Iceberg catalog each level would be a table
snapshot (S3/S4 analogs, cogeo.py:29-43,464-467); the parquet fallback
emulates the atomic commit with a directory-rename + manifest protocol.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from typing import List, Optional, Tuple

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rio_cogeo_spark.operators.translate import (
    BandSpec,
    TileJobPlan,
    _plan_from_tile_extent,
    base_tiles,
    default_bands,
    next_level,
    require_quad,
)
from rio_cogeo_spark.profiles import CogSparkProfile, cog_profiles


def iceberg_available(spark: SparkSession) -> bool:
    """Iceberg needs its runtime jar + a configured catalog (not in this
    image — gated exactly like the guide's 'import-try' advice)."""
    try:
        spark.conf.get("spark.sql.catalog.spark_catalog")
        jvm_has = (
            spark._jvm.org.apache.iceberg.Schema is not None  # type: ignore[attr-defined]
        )
        return bool(jvm_has)
    except Exception:  # noqa: BLE001
        return False


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """S1: open the pages table (Iceberg table name or parquet path)."""
    if not path.startswith("/") and iceberg_available(spark):
        return spark.read.format("iceberg").load(path)
    return spark.read.parquet(path)


def write_table(df: DataFrame, path: str, profile: Optional[CogSparkProfile] = None,
                partition_by: Optional[List[str]] = None) -> None:
    """S4/S5: final copy-sink with profile-driven creation options
    (compression ↔ the reference's TIFF codecs, profiles.py:154-187)."""
    profile = profile or cog_profiles.get("zstd")
    writer = df.write.mode("overwrite").option("compression", profile["compression"])
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: List[str],
    num_buckets: int = 32,
    sort_cols: Optional[List[str]] = None,
) -> None:
    """Bucketed managed table (SURVEY.md §4): joins/aggregations on
    ``bucket_cols`` between co-bucketed tables need NO exchange — the
    Iceberg equivalent is a bucket partition transform. Used to co-locate
    the pages table with its tiles on the tile key at cluster scale."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # a fresh metastore can still collide with a stale managed-table dir
    # left by a previous session — remove it so the commit is idempotent
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(warehouse.replace("file:", ""), table_name.lower())
    if os.path.exists(loc):
        shutil.rmtree(loc)
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def _level_dir(root: str, zoom: int) -> str:
    return os.path.join(root, f"zoom={zoom}")


def _manifest_path(root: str, zoom: int) -> str:
    return os.path.join(root, f"_manifest_z{zoom}.json")


def _footer_stats(path: str) -> Tuple[List[dict], Tuple[int, int, int, int]]:
    """Per-file row counts and the ``(tx0, ty0, tx1, ty1)`` tile extent of
    a written level, read from its parquet footers alone — no Spark job.
    ``partition`` is the write task's file index (the NNNNN of
    ``part-NNNNN``)."""
    parts = []
    lo = {"tile_x": None, "tile_y": None}
    hi = dict(lo)
    for name in sorted(os.listdir(path)):
        if not (name.startswith("part-") and name.endswith(".parquet")):
            continue
        md = pq.read_metadata(os.path.join(path, name))
        parts.append({"partition": int(name[5:10]), "rows": md.num_rows})
        for g in (md.row_group(i) for i in range(md.num_row_groups)):
            for col in lo:
                st = g.column(md.schema.names.index(col)).statistics
                if st is not None and st.has_min_max:
                    lo[col] = st.min if lo[col] is None else min(lo[col], st.min)
                    hi[col] = st.max if hi[col] is None else max(hi[col], st.max)
                elif st is None or st.null_count != g.num_rows:
                    raise RuntimeError(f"{name}: no min/max statistics for {col}")
    return parts, (lo["tile_x"], lo["tile_y"], hi["tile_x"], hi["tile_y"])


def _write_manifest(path: str, manifest: dict) -> None:
    """Crash-safe manifest: temp file, flush, fsync, then an atomic
    rename over the old one — a reader sees the old manifest or the new
    one, never a torn write."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _write_level(
    tiles: DataFrame, root: str, zoom: int, compression: Optional[str] = None
) -> dict:
    """Atomic level commit (the parquet stand-in for an Iceberg snapshot
    commit): write the level to a temp dir, rename it into place, then
    write the manifest last with :func:`_write_manifest`. A level whose
    manifest is missing or unreadable is rebuilt on resume.

    The manifest's numbers come from the parquet footers of the files just
    written, so the commit runs no Spark job beyond the write itself:

    * ``n_tiles`` — rows in the level;
    * ``partitions`` — one ``{"partition", "rows"}`` per part file, where
      ``partition`` is the write task's file index (it used to be the id of
      a read-back split);
    * ``skew`` — max / median rows per part file;
    * ``extent`` — ``[tx0, ty0, tx1, ty1]`` from the footers' tile_x /
      tile_y min/max statistics;
    * ``wall_s`` — the level's write time.

    An empty level is refused before anything is committed; only an empty
    pages table produces one. ``compression`` is the profile/creation-option
    parquet codec (reference profiles.py:10-18 COMPRESS= creation option)."""
    tmp = os.path.join(root, f"_tmp_z{zoom}")
    final = _level_dir(root, zoom)
    t0 = time.perf_counter()
    w = (
        tiles.repartitionByRange(8, "tile_y", "tile_x")
        .sortWithinPartitions("tile_y", "tile_x")
        .write.mode("overwrite")
    )
    if compression:
        w = w.option("compression", compression)
    w.parquet(tmp)
    parts, extent = _footer_stats(tmp)
    if extent[0] is None:  # no row with a tile: nothing to plan over
        shutil.rmtree(tmp)
        raise ValueError("cannot plan a tile job over an empty pages table")
    if os.path.exists(final):
        shutil.rmtree(final)
    os.rename(tmp, final)
    rows = [p["rows"] for p in parts]
    manifest = {
        "zoom": zoom,
        "n_tiles": sum(rows),
        "partitions": parts,
        "skew": max(rows) / statistics.median(rows),
        "extent": list(extent),
        "wall_s": round(time.perf_counter() - t0, 3),
        "complete": True,
    }
    _write_manifest(_manifest_path(root, zoom), manifest)
    return manifest


def _level_complete(root: str, zoom: int) -> bool:
    mp = _manifest_path(root, zoom)
    if not os.path.exists(mp):
        return False
    try:
        with open(mp) as f:
            return bool(json.load(f).get("complete"))
    except Exception:  # noqa: BLE001
        return False


def resumable_pyramid(
    pages: DataFrame,
    root: str,
    max_zoom: int,
    overview_level: Optional[int] = None,
    decimation_base: int = 2,
    bands: Optional[List[BandSpec]] = None,
    blocksize: Optional[int] = None,
    overview_blocksize: Optional[int] = None,
    aligned_levels: Optional[int] = None,
    tms=None,
    dtype: Optional[str] = None,
    compression: Optional[str] = None,
) -> Tuple[TileJobPlan, List[dict]]:
    """Checkpointed pyramid build: one committed level at a time,
    max_zoom first (children before parents), skipping levels whose
    manifest is already complete — kill the job between levels and rerun
    to resume. Returns (plan, manifests).

    The base level is written first and the plan is derived from its
    footer extent (:func:`_write_level`), the way ``cog_translate`` plans
    from the base level: tile_index is monotonic per axis, so the plan
    equals :func:`plan_tile_job`'s without its separate pages scan. An
    empty pages table raises ``ValueError`` before any manifest is
    written. Each committed level is read back with the schema of the
    DataFrame that produced it, so Spark infers nothing from the files.

    ``dtype`` (Spark type name) casts every band on write, and each
    overview re-aggregates the CASTED committed level below it — exactly
    GDAL's order of operations under ``--dtype`` (the VRT cast happens at
    translate time, then ``build_overviews`` reads the casted dataset;
    reference cogeo.py:81,221,262). ``compression`` is the profile /
    ``--co`` parquet codec."""
    from rio_cogeo_spark import grid as _grid

    require_quad(tms)
    spark = pages.sparkSession
    bands = bands or default_bands()
    os.makedirs(root, exist_ok=True)

    def commit(level: DataFrame, z: int) -> Tuple[dict, DataFrame]:
        if dtype is not None:
            level = level.select(
                "tile_x", "tile_y",
                *[F.col(b.name).cast(dtype).alias(b.name) for b in bands],
            )
        if _level_complete(root, z):
            with open(_manifest_path(root, z)) as f:
                manifest = json.load(f)
        else:
            manifest = _write_level(level, root, z, compression=compression)
        return manifest, spark.read.schema(level.schema).parquet(_level_dir(root, z))

    base, prev = commit(base_tiles(pages, max_zoom, bands, tms=tms).drop("zoom"), max_zoom)
    # a base manifest committed before extents were recorded has none
    extent = base.get("extent") or _footer_stats(_level_dir(root, max_zoom))[1]
    plan = _plan_from_tile_extent(
        *extent,
        max_zoom,
        overview_level,
        decimation_base,
        blocksize=blocksize or _grid.DEFAULT_BLOCKSIZE,
        aligned_levels=aligned_levels,
        overview_blocksize=overview_blocksize,
    )
    manifests = [base]
    for z in plan.zooms[1:]:
        manifest, prev = commit(next_level(prev, z, decimation_base, bands).drop("zoom"), z)
        manifests.append(manifest)
    return plan, manifests


def read_pyramid(spark: SparkSession, root: str) -> DataFrame:
    """Read all committed levels back as one tiles DataFrame (zoom column
    recovered from the directory partitioning)."""
    return spark.read.option("basePath", root).parquet(
        os.path.join(root, "zoom=*")
    )


def verify_written_tiles(
    pages: DataFrame,
    root: str,
    bands: Optional[List[BandSpec]] = None,
    decimation_base: int = 2,
) -> dict:
    """Golden-tile verification of the WRITTEN artifact: re-read the
    committed pyramid from disk, independently recompute every level from
    the source pages, and compare a per-tile digest over all band values —
    the parquet analog of the reference's byte-level internal-tile checks
    (tests/test_web.py:158-238: each tile's bytes must equal a windowed
    read of the source). Distributed end to end: one full-outer join on
    the tile key, only the aggregate counts reach the driver.

    Returns {"n_written", "n_fresh", "n_mismatch"}; a clean artifact has
    n_written == n_fresh and n_mismatch == 0.
    """
    spark = pages.sparkSession
    written = read_pyramid(spark, root)
    zooms = sorted(r["zoom"] for r in written.select("zoom").distinct().collect())
    bands = bands or default_bands()
    band_cols = [c for c in written.columns if c not in ("zoom", "tile_x", "tile_y")]

    # independent recompute of the same level chain (children first)
    fresh = base_tiles(pages, max(zooms), bands)
    levels = [fresh]
    for z in reversed(zooms[:-1]):
        fresh = next_level(fresh, z, decimation_base, bands)
        levels.append(fresh)
    fresh_all = levels[0]
    for lv in levels[1:]:
        fresh_all = fresh_all.unionByName(lv)

    def digest(df: DataFrame, name: str) -> DataFrame:
        # coalesce each band to an explicit marker: concat_ws SKIPS nulls,
        # so (5, NULL, 7) and (5, 7, NULL) would otherwise digest equal
        return df.select(
            "zoom", "tile_x", "tile_y",
            F.md5(F.concat_ws(
                "|",
                *[F.coalesce(F.col(c).cast("string"), F.lit("∅"))
                  for c in band_cols],
            )).alias(name),
        )

    joined = digest(written, "d_written").join(
        digest(fresh_all, "d_fresh"), ["zoom", "tile_x", "tile_y"], "full_outer"
    )
    agg = joined.agg(
        F.count("d_written").alias("n_written"),
        F.count("d_fresh").alias("n_fresh"),
        F.sum(
            F.when(
                F.col("d_written").isNull()
                | F.col("d_fresh").isNull()
                | (F.col("d_written") != F.col("d_fresh")),
                1,
            ).otherwise(0)
        ).alias("n_mismatch"),
    ).first()
    return {
        "n_written": int(agg["n_written"]),
        "n_fresh": int(agg["n_fresh"]),
        "n_mismatch": int(agg["n_mismatch"] or 0),
    }
