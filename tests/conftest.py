from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from python_ctd_spark.session import get_spark

#: The reference's instrument-file corpus (EDF/CNV/BTL/ROS/BL/FSI/CastAway
#: files).  Tests that assert facts of one particular real file in it carry
#: ``needs_reference_data`` and are skipped only where the corpus is absent.
REFERENCE_DATA = Path("/root/reference/tests/data")
needs_reference_data = pytest.mark.skipif(
    not REFERENCE_DATA.is_dir(),
    reason=f"reference test corpus {REFERENCE_DATA} is not present",
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="python_ctd_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


def _v_cast_pdf(cast_id: str = "cast_0") -> pd.DataFrame:
    """Exact port of the reference's synthetic V-cast fixture
    (reference tests/test_processing.py:8-19): pressure ramps -5..10..-5
    over 40 rows, values 0..39."""
    p = np.r_[np.linspace(-5.0, 10.0, 20), np.linspace(10.0, -5.0, 20)]
    return pd.DataFrame(
        {
            "cast_id": cast_id,
            "scan": np.arange(1, 41, dtype="int64"),
            "pressure": p,
            "v": np.arange(40, dtype="float64"),
        }
    )


@pytest.fixture(scope="session")
def v_cast_pdf():
    return _v_cast_pdf()


@pytest.fixture(scope="session")
def v_cast(spark, v_cast_pdf):
    return spark.createDataFrame(v_cast_pdf)


@pytest.fixture(scope="session")
def reversal_pdf():
    """Reference tests/test_processing.py:64-88: pressure sequence with two
    injected reversals at 0-based positions 7 and 9."""
    rng = np.random.RandomState(7)
    p = np.array([0, 1, 2, 3, 4, 5, 7, 6, 9, 8, 10], dtype="float64")
    return pd.DataFrame(
        {
            "cast_id": "rev_0",
            "scan": np.arange(1, len(p) + 1, dtype="int64"),
            "pressure": p,
            "v": rng.uniform(size=len(p)),
        }
    )


@pytest.fixture(scope="session")
def multi_cast_pdf():
    """Three noisy casts with spikes, NULLs, and reversals — the
    property-test workhorse."""
    rng = np.random.RandomState(42)
    frames = []
    for i, n in enumerate([257, 400, 83]):
        half = n // 2
        p = np.r_[np.linspace(-2.0, 120.0, n - half), np.linspace(119.0, -1.0, half)]
        p = p + rng.normal(0, 0.4, size=n)  # small reversals everywhere
        t = 20.0 - 0.1 * p + rng.normal(0, 0.05, size=n)
        spikes = rng.choice(n, size=5, replace=False)
        t[spikes] += rng.choice([-1, 1], size=5) * rng.uniform(5, 9, size=5)
        c = 4.0 + 0.01 * t + rng.normal(0, 0.01, size=n)
        o = rng.uniform(150, 250, size=n)
        o[rng.choice(n, size=n // 10, replace=False)] = np.nan
        frames.append(
            pd.DataFrame(
                {
                    "cast_id": f"cast_{i}",
                    "scan": np.arange(1, n + 1, dtype="int64"),
                    "pressure": p,
                    "t090C": t,
                    "c0S_m": c,
                    "sbeox0Mm_Kg": o,
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


@pytest.fixture(scope="session")
def multi_cast(spark, multi_cast_pdf):
    return spark.createDataFrame(multi_cast_pdf)


def collect_sorted(df, order=("cast_id", "scan")) -> pd.DataFrame:
    pdf = df.toPandas()
    return pdf.sort_values(list(order), kind="mergesort").reset_index(drop=True)
