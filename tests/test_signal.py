"""Signal operators: native despike vs the exact NumPy kernel, smooth
UDF/native, lp_filter numeric properties."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from python_ctd_spark.functions.signal_numpy import (
    butter2_lowpass,
    despike_kernel,
    filtfilt2,
    movingaverage_kernel,
    smooth_kernel,
)
from python_ctd_spark.operators import signal
from tests.conftest import collect_sorted
from tests.conftest import needs_reference_data


# -- kernels ----------------------------------------------------------------

def test_butter2_dc_gain_is_unity():
    b, a = butter2_lowpass(0.27777)  # (1/0.15)/(24*2) — the reference default
    assert abs(b.sum() / a.sum() - 1.0) < 1e-12


def test_filtfilt_preserves_constant_and_line():
    b, a = butter2_lowpass(0.2)
    x = np.full(500, 3.14)
    np.testing.assert_allclose(filtfilt2(b, a, x), x, rtol=1e-9)
    # zero-phase: a straight line passes through essentially unchanged
    x = np.linspace(0, 10, 500)
    y = filtfilt2(b, a, x)
    np.testing.assert_allclose(y[50:-50], x[50:-50], atol=1e-6)


def test_filtfilt_smooths_spikes():
    rng = np.random.RandomState(0)
    x = np.linspace(0, 100, 2000)
    noisy = x + rng.normal(0, 1.0, size=2000)
    b, a = butter2_lowpass((1 / 0.15) / (24 * 2.0))
    y = filtfilt2(b, a, noisy)
    # filtered residual variance well below input noise variance
    assert np.var(y[100:-100] - x[100:-100]) < 0.5 * np.var(noisy - x)


# -- despike: native window plan == exact NumPy kernel ----------------------

@pytest.mark.parametrize("block", [10, 100])
def test_despike_native_matches_kernel(spark, multi_cast, multi_cast_pdf, block):
    out = collect_sorted(
        signal.despike(multi_cast, n1=2, n2=20, block=block, cols=["t090C"])
    )
    for cid, grp in multi_cast_pdf.groupby("cast_id"):
        grp = grp.sort_values("scan")
        got = out[out.cast_id == cid].t090C.to_numpy()
        if len(grp) < block:
            # reference kernel errors on casts shorter than the block
            # (negative as_strided shape); the native plan passes rows
            # through untouched — the documented divergence
            np.testing.assert_allclose(got, grp.t090C.to_numpy(), equal_nan=True)
            continue
        exp = despike_kernel(grp.t090C.to_numpy(), 2, 20, block)
        np.testing.assert_allclose(got, exp, rtol=1e-9, atol=1e-9, equal_nan=True)


def test_despike_flags_only_spikes(spark, multi_cast, multi_cast_pdf):
    """Reference tests/test_processing_real_data.py:25-33: non-flagged
    values are identical to the input."""
    out = collect_sorted(signal.despike(multi_cast, n1=2, n2=4, block=50, cols=["t090C"]))
    merged = out.merge(
        multi_cast_pdf[["cast_id", "scan", "t090C"]],
        on=["cast_id", "scan"],
        suffixes=("", "_orig"),
    )
    kept = merged[~merged.t090C.isna()]
    np.testing.assert_allclose(kept.t090C.to_numpy(), kept.t090C_orig.to_numpy())
    assert merged.t090C.isna().sum() >= 5  # the injected spikes got flagged


def test_despike_udf_matches_native(spark, multi_cast):
    native = collect_sorted(signal.despike(multi_cast, cols=["t090C"]))
    udf = collect_sorted(signal.despike_udf(multi_cast, cols=["t090C"]))
    np.testing.assert_allclose(
        native.t090C.to_numpy(), udf.t090C.to_numpy(), rtol=1e-9, equal_nan=True
    )


# -- smooth -----------------------------------------------------------------

@pytest.mark.parametrize("window", ["flat", "hanning", "hamming"])
def test_smooth_udf_matches_kernel(spark, multi_cast, multi_cast_pdf, window):
    out = collect_sorted(
        signal.smooth(multi_cast, window_len=11, window=window, cols=["t090C"])
    )
    for cid, grp in multi_cast_pdf.groupby("cast_id"):
        grp = grp.sort_values("scan")
        exp = smooth_kernel(grp.t090C.to_numpy(), 11, window)
        got = out[out.cast_id == cid].t090C.to_numpy()
        np.testing.assert_allclose(got, exp, rtol=1e-9, atol=1e-12)


def test_smooth_native_matches_kernel_interior(spark, multi_cast, multi_cast_pdf):
    wl = 11
    out = collect_sorted(
        signal.smooth_native(multi_cast, window_len=wl, window="hanning", cols=["t090C"])
    )
    for cid, grp in multi_cast_pdf.groupby("cast_id"):
        grp = grp.sort_values("scan")
        exp = smooth_kernel(grp.t090C.to_numpy(), wl, "hanning")
        got = out[out.cast_id == cid].t090C.to_numpy()
        np.testing.assert_allclose(got[wl:-wl], exp[wl:-wl], rtol=1e-9)


def test_smooth_short_window_identity(spark, multi_cast, multi_cast_pdf):
    out = collect_sorted(signal.smooth(multi_cast, window_len=2, cols=["t090C"]))
    exp = multi_cast_pdf.sort_values(["cast_id", "scan"]).t090C.to_numpy()
    np.testing.assert_allclose(out.t090C.to_numpy(), exp)


# -- lp_filter over Spark ---------------------------------------------------

def test_lp_filter_spark_matches_kernel(spark, multi_cast, multi_cast_pdf):
    out = collect_sorted(signal.lp_filter(multi_cast))
    wn = (1.0 / 0.15) / (24.0 * 2.0)
    b, a = butter2_lowpass(wn)
    for cid, grp in multi_cast_pdf.groupby("cast_id"):
        grp = grp.sort_values("scan")
        exp = filtfilt2(b, a, grp.pressure.to_numpy())
        got = out[out.cast_id == cid].pressure.to_numpy()
        np.testing.assert_allclose(got, exp, rtol=1e-9)


def test_movingaverage_kernel_equals_convolve():
    x = np.arange(30, dtype=float)
    np.testing.assert_allclose(
        movingaverage_kernel(x, 4), np.convolve(x, np.ones(4) / 4, "same")
    )


# -- vendor-golden regression (reference tests/test_processing_real_data.py)


@needs_reference_data
def test_lp_filter_matches_seabird_golden(spark):
    """The reference's strongest external check
    (tests/test_processing_real_data.py:36-42): low-pass filtering the
    spiked cast's pressure matches Sea-Bird's own filtered output of the
    same cast to 1 decimal, on the downcast leg."""
    from pathlib import Path

    from python_ctd_spark.io.readers import from_cnv
    from python_ctd_spark.operators.ordered import split

    data = Path("/root/reference/tests/data")
    unf, _ = from_cnv(spark, str(data / "CTD-spiked-unfiltered.cnv.bz2"))
    fil, _ = from_cnv(spark, str(data / "CTD-spiked-filtered.cnv.bz2"))

    from python_ctd_spark.operators.signal import lp_filter

    ours = (
        lp_filter(
            unf.select("cast_id", "scan", "pressure"),
            sample_rate=24.0,
            time_constant=0.15,
            cols=["pressure"],
        )
        .toPandas()
        .sort_values("scan")
    )
    down = split(fil).filter(F.col("leg") == "down")
    theirs = down.select("scan", "pressure").toPandas().sort_values("scan")
    merged = ours.merge(theirs, on="scan", suffixes=("_ours", "_sbe"))
    assert len(merged) == len(theirs) > 10_000
    np.testing.assert_array_almost_equal(
        merged.pressure_ours.to_numpy(), merged.pressure_sbe.to_numpy(), decimal=1
    )


@needs_reference_data
def test_press_check_idempotent_on_clean_cast(spark):
    """Reference tests/test_processing_real_data.py:45-52: press_check on
    already-monotonic (filtered, downcast) data changes nothing."""
    from pathlib import Path

    from python_ctd_spark.io.readers import from_cnv
    from python_ctd_spark.operators.ordered import press_check, split

    data = Path("/root/reference/tests/data")
    fil, _ = from_cnv(spark, str(data / "CTD-spiked-filtered.cnv.bz2"))
    down = split(fil).filter(F.col("leg") == "down").select(
        "cast_id", "scan", "pressure", "t090C"
    )
    checked = press_check(down, cols=["t090C"])
    a = down.orderBy("scan").toPandas()
    b = checked.orderBy("scan").toPandas()[a.columns]
    rev = (a.pressure.cummax().shift(1) > a.pressure).fillna(False)
    # rows that are not pressure reversals must be untouched
    np.testing.assert_array_equal(
        a.loc[~rev, "t090C"].to_numpy(), b.loc[~rev, "t090C"].to_numpy()
    )


@needs_reference_data
def test_despike_real_cast_untouched_values_bit_identical(spark):
    """Reference tests/test_processing_real_data.py:25-33: despiking the
    spiked conductivity channel NULLs the spikes and leaves every other
    value bit-identical."""
    from pathlib import Path

    from python_ctd_spark.io.readers import from_cnv
    from python_ctd_spark.operators.ordered import split

    data = Path("/root/reference/tests/data")
    unf, _ = from_cnv(spark, str(data / "CTD-spiked-unfiltered.cnv.bz2"))
    down = split(unf).filter(F.col("leg") == "down").select(
        "cast_id", "scan", "pressure", "c0S_m"
    )
    clean = (
        signal.despike(down, cols=["c0S_m"])
        .orderBy("scan")
        .toPandas()
    )
    dirty = down.orderBy("scan").toPandas()
    spikes = clean["c0S_m"].isna() & dirty["c0S_m"].notna()
    assert spikes.any()  # the planted spikes are flagged
    keep = ~clean["c0S_m"].isna()
    assert (dirty.loc[keep, "c0S_m"] == clean.loc[keep, "c0S_m"]).all()


def test_smooth_short_cast_passes_through(spark):
    """Casts shorter than the window pass through untouched (the
    reference raises, ctd/processing.py:206-207 — documented divergence:
    one short cast must not kill a multi-cast job)."""
    pdf = pd.DataFrame(
        {
            "cast_id": ["a", "a", "a", "b"],
            "scan": [0, 1, 2, 0],
            "pressure": [1.0, 2.0, 3.0, 1.0],
            "t090C": [10.0, 11.0, 12.0, 99.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = collect_sorted(signal.smooth(df, window_len=11, cols=["t090C"]))
    got_b = out[out.cast_id == "b"].t090C.to_numpy()
    np.testing.assert_allclose(got_b, [99.0])
    got_a = out[out.cast_id == "a"].t090C.to_numpy()
    np.testing.assert_allclose(got_a, [10.0, 11.0, 12.0])  # 3 < 11 -> untouched


def test_lp_filter_short_cast_passes_through(spark, multi_cast_pdf):
    """One cast shorter than the filtfilt pad length must not abort the
    distributed job (r1 advice): it passes through unchanged, same policy
    as despike/smooth, while long casts in the same frame are filtered."""
    tiny = pd.DataFrame(
        {
            "cast_id": "tiny",
            "scan": np.arange(1, 4, dtype="int64"),
            "pressure": [1.0, 2.5, 3.5],
            "t090C": [20.0, 19.9, 19.8],
            "c0S_m": [4.0, 4.0, 4.0],
            "sbeox0Mm_Kg": [200.0, 201.0, 202.0],
        }
    )
    df = spark.createDataFrame(pd.concat([multi_cast_pdf, tiny], ignore_index=True))
    out = collect_sorted(signal.lp_filter(df))
    got_tiny = out[out.cast_id == "tiny"].sort_values("scan")
    np.testing.assert_array_equal(got_tiny.pressure.to_numpy(), [1.0, 2.5, 3.5])
    # a long cast in the same frame really was filtered
    got_long = out[out.cast_id == "cast_0"].sort_values("scan")
    orig_long = multi_cast_pdf[multi_cast_pdf.cast_id == "cast_0"].sort_values("scan")
    assert not np.allclose(got_long.pressure.to_numpy(), orig_long.pressure.to_numpy())
