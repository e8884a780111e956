"""Metadata parse/clean/footprint plan — the engine's front end (E1/E2 analog).

All parsing is JVM-side (``regexp_extract`` + ``from_json`` + map-key
canonicalization inside whole-stage codegen); the only Python stage is the
NumPy UTM footprint kernel. Stage layout mirrors SURVEY.md §3 E1:

    gates (P1-P2) -> clean (F16) -> typed projection (P7-P9, F1-F8)
    -> footprint (F9) -> cell encode (north-rule kernels)

Reference parity notes:
- presence gate = ``'spatial_metadata' in resource['metadata']``
  (``terra_sensorposition.py:30``) -> metadata-block presence filter;
- key canonicalization = cleaner's ``clean_metadata``
  (``terra_mdcleaner.py:81``): lowercase + fix the 'Camnera' typo family
  (``test.json:28``) + unit-suffix tolerance;
- name split = ``terra_sensorposition.py:56-57``;
- scan-time parse = ``calculate_scan_time`` fmt 'MM/dd/yyyy HH:mm:ss'
  (``test.json:21``), pinned UTC.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.geodesy_cols import footprint_geojson_col, footprint_inputs
from ..functions.spark_udfs import footprint_cells_udf, footprint_udf, h3_udf, s2_udf
from ..schemas import LEMNATEC_MD

SCRIPT_PATTERN = '<script type="application/json" id="lemnatec">(.*?)</script>'


def _clean_keys(m: Column) -> Column:
    """F16: canonicalize metadata map keys (lowercase, known-typo repair)."""
    return F.transform_keys(
        m, lambda k, _v: F.regexp_replace(F.lower(k), "camnera", "camera")
    )


def parse_metadata(pages: DataFrame) -> DataFrame:
    """webpages -> typed per-document metadata columns (rows lacking the
    metadata block are dropped — presence gate P2)."""
    raw = F.regexp_extract(F.decode("html", "UTF-8"), SCRIPT_PATTERN, 1)
    df = (
        pages.withColumn("_raw_md", raw)
        .filter(F.length("_raw_md") > 0)  # P2: presence gate, pushed to scan
        .withColumn("md", F.from_json("_raw_md", LEMNATEC_MD))
    )
    lmm = "md.lemnatec_measurement_metadata"
    gvm = _clean_keys(F.col(f"{lmm}.gantry_system_variable_metadata"))
    sfm = _clean_keys(F.col(f"{lmm}.sensor_fixed_metadata"))
    svm = _clean_keys(F.col(f"{lmm}.sensor_variable_metadata"))

    name_parts = F.split(F.col("md.dataset_name"), " - ")
    ts_part = F.element_at(name_parts, 2)

    return df.select(
        "url",
        "warc_ts",
        "text",
        "lang",
        F.col("md.dataset_name").alias("dataset_name"),
        F.element_at(name_parts, 1).alias("sensor"),
        F.element_at(F.split(ts_part, "__"), 1).alias("date"),
        F.to_timestamp(F.element_at(gvm, "time"), "MM/dd/yyyy HH:mm:ss").alias("scan_time"),
        F.element_at(gvm, "position x [m]").cast("double").alias("pos_x"),
        F.element_at(gvm, "position y [m]").cast("double").alias("pos_y"),
        F.element_at(gvm, "position z [m]").cast("double").alias("pos_z"),
        F.element_at(sfm, "location in camera box x [m]").cast("double").alias("cambox_x"),
        F.element_at(sfm, "location in camera box y [m]").cast("double").alias("cambox_y"),
        F.element_at(sfm, "field of view x [m]").cast("double").alias("fov_x"),
        F.element_at(sfm, "field of view y [m]").cast("double").alias("fov_y"),
        F.element_at(svm, "current setting exposure").alias("exposure"),
        F.col("md.site_metadata.sitename").alias("sitename"),
    )


_FOOTPRINT_COLS = ("centroid_lat", "centroid_lon", "min_lat", "max_lat", "min_lon", "max_lon")


def _footprint_stage(parsed: DataFrame, fp_udf, extra_cols: tuple = ()) -> DataFrame:
    """Gantry gate -> one Arrow kernel pass -> flattened footprint columns
    (+ ``extra_cols`` of the kernel's struct) + the JVM-built GeoJSON ring."""
    df, inputs = footprint_inputs(parsed)
    df = df.withColumn("fp", fp_udf(*inputs))

    def r(k: str) -> Column:
        return F.col(f"fp.{k}")

    return df.select(
        "*",
        *[r(c).alias(c) for c in (*_FOOTPRINT_COLS, *extra_cols)],
        footprint_geojson_col(r).alias("footprint"),
    ).drop("fp")


def with_footprint(parsed: DataFrame) -> DataFrame:
    """Derive centroid + bbox ring via the NumPy UTM kernel (rows without a
    gantry position drop; see ``geodesy_cols.footprint_inputs``)."""
    return _footprint_stage(parsed, footprint_udf())


def with_footprint_cells(parsed: DataFrame, h3_res: int = 9, s2_level: int = 16) -> DataFrame:
    """Fused footprint + cell encodings for the pipeline's hot path: ONE
    Arrow/NumPy pass (``footprint_cells_udf``).

    The fully JVM-codegen twin (``geodesy_cols.footprint_cells_cols``,
    parity-pinned by tests/test_geodesy_cols.py) removes the Python worker
    but runs ~8x SLOWER on this kernel (measured 19-23 s vs 2-5 s per 10^6
    docs at local[4]) — ~50 scalar java.lang.Math trig calls per row lose
    badly to SIMD-vectorized NumPy over Arrow batches; and the pipeline needs
    Python workers for the plot resolve and tile stages anyway."""
    return _footprint_stage(
        parsed, footprint_cells_udf(h3_res, s2_level), ("cell_r9", "s2_cell", "cell_r13")
    )


def with_cells(df: DataFrame, h3_res: int = 9, s2_level: int = 16,
               lat_col: str = "centroid_lat", lon_col: str = "centroid_lon") -> DataFrame:
    """north-rule cell encodings in one batched columnar pass."""
    return df.withColumn("cell_r9", h3_udf(h3_res)(lat_col, lon_col)).withColumn(
        "s2_cell", s2_udf(s2_level)(lat_col, lon_col)
    )
