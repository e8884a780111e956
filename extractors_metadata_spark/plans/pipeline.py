"""The flagship E1 pipeline: documents -> datapoints + tiles (SURVEY.md §3).

Stage order mirrors the reference sensorposition extractor
(``/root/reference/sensorposition/terra_sensorposition.py``):

  gates -> parse/clean -> footprint -> cell encode -> site-shortcut split (P10)
  -> pip/knn plot resolve -> datapoint assembly (D6) -> snapshot write + metrics

Semantics carried over:
- stream name = sensor + " Datasets" (``terra_sensorposition.py:59``);
- properties carry source url + dataset name (dpmetadata, ``:60-64``);
- scan interval start == end == scan_time (``:85,93``);
- documents that already carry ``site_metadata.sitename`` skip the spatial
  lookup entirely (``:80-86``) — matched_via = 'site';
- all others resolve containment-first, nearest-fallback (``plotid_by_latlon.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pip_knn import resolve_plots
from ..operators.tile_assign import tile_assign
from .parse import parse_metadata, with_footprint_cells

POINT_COLS = [
    "url", "warc_ts", "lang", "dataset_name", "sensor", "date", "scan_time",
    "centroid_lat", "centroid_lon", "min_lat", "max_lat", "min_lon", "max_lon",
    "footprint", "cell_r9", "s2_cell", "cell_r13",
]


def _assemble_datapoints(df: DataFrame) -> DataFrame:
    return df.select(
        "url",
        "plot_id",
        "matched_via",
        F.col("centroid_lon"),
        F.col("centroid_lat"),
        "footprint",
        "scan_time",
        "date",
        F.concat(F.col("sensor"), F.lit(" Datasets")).alias("stream"),
        F.create_map(
            F.lit("source_dataset"), F.col("url"),
            F.lit("dataset_name"), F.col("dataset_name"),
        ).alias("properties"),
        "cell_r9",
        "s2_cell",
    )


def footprints(pages: DataFrame) -> DataFrame:
    """documents -> per-doc footprint+cells (the reusable front half); one
    fused Arrow pass for the whole geometry stage."""
    return with_footprint_cells(parse_metadata(pages))


def _resolved(
    spark: SparkSession,
    pages: DataFrame,
    plots,
    persist: bool = True,
    caches: list | None = None,
) -> DataFrame:
    """footprints + plot resolution, materialized exactly once.

    The front half feeds BOTH the site-shortcut branch and the lookup branch,
    so it is persisted before the split (a cluster deployment would write a
    stage snapshot instead — same single-compute guarantee, see
    sources/snapshot.py).

    ``caches``: pass a list to receive every frame this function persists, so
    action-owning callers can unpersist after materializing. Without it, the
    persists are scoped per call site (``pip_knn._cache_scoped``): the next
    invocation releases the previous one's storage, so repeated pipeline runs
    in one session never accumulate MEMORY_AND_DISK blocks.
    """
    from pyspark import StorageLevel

    from ..operators.pip_knn import _cache_scoped

    fp = (
        footprints(pages)
        .select(*POINT_COLS, "sitename")
        .observe("footprints", F.count(F.lit(1)).alias("rows"))
    )
    if caches is not None:
        fp = fp.persist(StorageLevel.MEMORY_AND_DISK)
        caches.append(fp)
    else:
        fp = _cache_scoped("pipeline_fp", fp)

    # P10 split: known site -> no lookup; plot id parsed from the sitename tail
    # ("Maricopa plot 42-3" -> "42-3", mirroring the reference passing sitename
    # straight to geostreams, terra_sensorposition.py:80-86).
    with_site = fp.filter(F.col("sitename").isNotNull()).withColumn(
        "plot_id", F.element_at(F.split(F.col("sitename"), " "), -1)
    ).withColumn("matched_via", F.lit("site")).drop("sitename")
    needs_lookup = fp.filter(F.col("sitename").isNull()).drop("sitename")
    # res 13 (~3.6 m hexes): the per-cell interval prune keeps ~12 candidate
    # plots per point instead of ~86 at res 12 (cell radius shrinks the kept
    # distance band); ring 3 keeps the guaranteed reach ~12 m so edge points
    # rarely hit the broadcast fallback
    resolved = resolve_plots(spark, needs_lookup, plots, res=13, ring=3, cell_col="cell_r13").unionByName(with_site)
    if persist:
        # datapoints and tiles both fan out from here (two downstream actions)
        if caches is not None:
            resolved = resolved.persist(StorageLevel.MEMORY_AND_DISK)
            caches.append(resolved)
        else:
            resolved = _cache_scoped("pipeline_resolved", resolved)
    return resolved


def datapoints(spark: SparkSession, pages: DataFrame, plots) -> DataFrame:
    """Full resolve: one datapoint per doc with positional metadata."""
    return _assemble_datapoints(_resolved(spark, pages, plots))


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    plots,
    zooms=(9, 10, 11, 12, 13, 14),
) -> tuple[DataFrame, DataFrame]:
    """(datapoints, tiles) with observed metrics (A3/A5 analog: the reference's
    created/bytes counters become a Spark observation)."""
    resolved = _resolved(spark, pages, plots)
    return _assemble_datapoints(resolved), tile_assign(resolved, zooms=zooms)


def run_pipeline_counts(
    spark: SparkSession,
    pages: DataFrame,
    plots,
    zooms=(9, 10, 11, 12, 13, 14),
) -> tuple[int, int]:
    """Single-action execution: (n_datapoints, n_tiles).

    The datapoint count rides as an Observation on the resolved frame while the
    tile fan-out is the one real action — no second cache, no extra barrier.
    This is the throughput-measurement path (A3 metrics pattern at scale).
    """
    from pyspark.sql import Observation

    caches: list = []
    resolved = _resolved(spark, pages, plots, persist=False, caches=caches)
    obs = Observation("datapoints")
    observed = resolved.observe(obs, F.count(F.lit(1)).alias("rows"))
    # width-match the tile fan-out to the cores (r6, guide §6): the
    # resolved union arrives as scan-parts + reduce-parts (~5x cores) of
    # ~150 KB each; shuffle-free coalesce to defaultParallelism halves
    # the tile stage (fewer task launches, fuller Arrow batches) and is
    # cluster-proportional by construction.
    n_tiles = tile_assign(
        observed.coalesce(spark.sparkContext.defaultParallelism), zooms=zooms
    ).count()
    n_dp = obs.get["rows"]
    for c in caches:
        c.unpersist()
    return n_dp, n_tiles
