"""JVM column-tree geometry stage vs the NumPy reference kernels.

The JVM twin (``geodesy_cols.footprint_cells_cols``, the codegen reference;
the shipped pipeline runs the Arrow/NumPy ``with_footprint_cells``) must agree
with the Arrow/NumPy path the goldens pin: coordinates to 1e-9 deg (~0.1 um — java.lang.Math vs libm ulp
drift only) and cell IDs exactly on the synthetic corpus (boundary-safe by
construction: a cell flip requires a coordinate within ~1e-10 deg of a hex
edge, and downstream joins are ring-dilated + exactly refined regardless)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from extractors_metadata_spark.functions.geodesy_cols import footprint_cells_cols
from extractors_metadata_spark.plans.parse import parse_metadata, with_footprint_cells
from extractors_metadata_spark.synth import synth_webpages

COORD_COLS = [
    "centroid_lat", "centroid_lon", "min_lat", "max_lat", "min_lon", "max_lon",
]


@pytest.fixture(scope="module")
def both(spark):
    parsed = parse_metadata(synth_webpages(spark, 20000)).cache()
    parsed.count()
    j = footprint_cells_cols(parsed).select(
        "url", *COORD_COLS, "cell_r9", "s2_cell", "cell_r13", "footprint"
    )
    p = with_footprint_cells(parsed).select(
        "url", *COORD_COLS, "cell_r9", "s2_cell", "cell_r13", "footprint"
    )
    jv = {r.url: r for r in j.collect()}
    pv = {r.url: r for r in p.collect()}
    parsed.unpersist()
    return jv, pv


def test_same_rows(both):
    jv, pv = both
    assert set(jv) == set(pv) and len(jv) > 10000


def test_coords_agree_to_1e9(both):
    jv, pv = both
    worst = 0.0
    for url, r in jv.items():
        q = pv[url]
        for c in COORD_COLS:
            worst = max(worst, abs(r[c] - q[c]))
    assert worst < 1e-9, worst


def test_cells_identical(both):
    jv, pv = both
    for col in ("cell_r9", "s2_cell", "cell_r13"):
        diffs = sum(1 for url, r in jv.items() if r[col] != pv[url][col])
        assert diffs == 0, (col, diffs)


def test_footprint_strings_identical(both):
    # %.10f rendering swallows the ulp drift on this corpus
    jv, pv = both
    diffs = sum(1 for url, r in jv.items() if r.footprint != pv[url].footprint)
    assert diffs == 0


def test_jvm_stage_has_no_python(spark):
    df = footprint_cells_cols(parse_metadata(synth_webpages(spark, 10)))
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "EvalPython" not in plan
