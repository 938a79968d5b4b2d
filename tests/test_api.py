"""CtdFrame fluent surface: the reference's chained workflow end-to-end
(README.md:39-58 of the reference), lazily composed, one result."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from python_ctd_spark import CtdFrame
from tests.conftest import needs_reference_data


def test_reference_canonical_chain(spark, multi_cast):
    out = (
        CtdFrame(multi_cast)
        .remove_above_water()
        .split()
        .down()
        .despike(n1=2, n2=20, block=50, cols=["t090C"])
        .press_check(cols=["t090C"])
        .interpolate_index(cols=["t090C"])
        .bindata(delta=5.0, cols=["t090C"])
        .df
    )
    pdf = out.toPandas()
    assert set(pdf.columns) == {"cast_id", "pressure", "t090C"}
    assert pdf.cast_id.nunique() == 3
    # bin centers are spaced exactly delta apart within each cast
    for _, g in pdf.groupby("cast_id"):
        centers = np.sort(g.pressure.to_numpy())
        np.testing.assert_allclose(np.diff(centers), 5.0, atol=1e-9)
    # downcast binning keeps values in the physical range of the channel
    assert pdf.t090C.dropna().between(0, 40).all()


def test_split_down_up_partition_rows(spark, multi_cast):
    cf = CtdFrame(multi_cast).split()
    n_down = cf.down().df.count()
    n_up = cf.up().df.count()
    assert n_down + n_up == multi_cast.count()
    assert n_down > 0 and n_up > 0


def test_chain_is_lazy(spark, multi_cast):
    # building a deep chain must not trigger any job
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    chain = (
        CtdFrame(multi_cast)
        .remove_above_water()
        .movingaverage(window_size=8, cols=["t090C"])
        .smooth_native(window_len=11, cols=["t090C"])
        .cumsum(cols=["t090C"])
    )
    after = tracker.getJobIdsForGroup(None)
    assert before == after
    assert chain.df.columns  # schema resolution only, still no action


def test_transform_escape_hatch(spark, multi_cast):
    def drop_oxygen(df):
        return df.drop("sbeox0Mm_Kg")

    out = CtdFrame(multi_cast).transform(drop_oxygen).df
    assert "sbeox0Mm_Kg" not in out.columns


def test_derived_methods_compose(spark, multi_cast):
    cf = (
        CtdFrame(multi_cast)
        .mixed_layer_depth(ct="t090C")
        .barrier_layer_thickness(sa="c0S_m", ct="t090C")
        .cell_thermal_mass(temperature="t090C", conductivity="c0S_m")
    )
    pdf = cf.df.select("cast_id", "MLD", "BLT", "ctm").toPandas()
    assert pdf.MLD.dtype == bool or set(pdf.MLD.dropna().unique()) <= {True, False}
    assert pdf.ctm.notna().sum() > 0
    md = CtdFrame(multi_cast).get_maxdepth(cols=["t090C"]).toPandas()
    assert len(md) == 3


@needs_reference_data
def test_full_chain_on_real_cast(spark):
    """Reference tests/test_processing_real_data.py:55-66: the canonical
    README chain runs end-to-end on the real 71k-scan cast and produces a
    regular pressure grid."""
    from python_ctd_spark.io.readers import from_cnv

    data, _ = from_cnv(
        spark, "/root/reference/tests/data/CTD-spiked-unfiltered.cnv.bz2"
    )
    out = (
        CtdFrame(data.select("cast_id", "scan", "pressure", "t090C"))
        .remove_above_water()
        .split()
        .down()
        .despike(n1=2, n2=20, block=100, cols=["t090C"])
        .lp_filter()
        .press_check(cols=["t090C"])
        .interpolate_index(cols=["t090C"])
        .bindata(delta=1.0, cols=["t090C"])
        .smooth(window_len=21, window="hanning", cols=["t090C"])
        .df.toPandas()
    )
    assert len(out) > 100
    diffs = np.diff(np.sort(out.pressure.to_numpy()))
    np.testing.assert_allclose(diffs, 1.0, atol=1e-9)  # regular 1-dbar grid
    assert out.t090C.notna().sum() > 100


def test_local_session_driver_memory_sized(spark):
    """An explicitly-passed local master must still get the driver-memory
    bump (regression: conftest's ``master="local[4]"`` skipped the sizing
    branch, leaving Spark's 1g default; a long suite then OOM-killed the
    Arrow serving thread inside toPandas, whose SocketAuthServer promise
    never completes — the full-suite hang at ~36%)."""
    assert spark.sparkContext.master.startswith("local")
    import os

    expected = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")
    assert spark.conf.get("spark.driver.memory") == expected
