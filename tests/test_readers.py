"""Reader parity against the reference's own test corpus
(/root/reference/tests/data, read-only inputs).  Mirrors the reference's
reader test suite (tests/test_read.py) on the distributed readers."""

import datetime
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from python_ctd_spark.io import readers
from tests.conftest import needs_reference_data

DATA = Path("/root/reference/tests/data")


def _one_cast(pair):
    data, meta = pair
    return data, meta.collect()[0]


# -- compression round-trips (reference tests/test_read.py:17-38) -----------

@needs_reference_data
@pytest.mark.parametrize("fname", ["XBT.EDF", "XBT.EDF.gz", "XBT.EDF.bz2", "XBT.EDF.zip"])
def test_edf_all_compressions(spark, fname):
    data, meta = readers.from_edf(spark, str(DATA / fname))
    pdf = data.orderBy("scan").toPandas()
    assert len(pdf) > 0
    assert "temperature" in pdf.columns
    # identical content regardless of compression
    assert pdf["pressure"].iloc[0] == pytest.approx(0.0, abs=1.0)


@needs_reference_data
def test_edf_compressions_identical(spark):
    base = readers.from_edf(spark, str(DATA / "XBT.EDF"))[0].orderBy("scan").toPandas()
    for fname in ["XBT.EDF.gz", "XBT.EDF.bz2", "XBT.EDF.zip"]:
        other = readers.from_edf(spark, str(DATA / fname))[0].orderBy("scan").toPandas()
        np.testing.assert_allclose(
            base["temperature"].to_numpy(), other["temperature"].to_numpy()
        )


# -- positions (reference tests/test_read.py:135-145) -----------------------

@needs_reference_data
def test_edf_positions(spark):
    _, meta = _one_cast(readers.from_edf(spark, str(DATA / "XBT.EDF")))
    np.testing.assert_almost_equal(meta["lon"], -39.8790283)
    np.testing.assert_almost_equal(meta["lat"], -19.7174805)
    assert meta["serial"] is not None


@needs_reference_data
def test_edf_missing_positions(spark):
    _, meta = _one_cast(readers.from_edf(spark, str(DATA / "C3_00005.edf")))
    assert meta["lon"] is None
    assert meta["lat"] is None


# -- CNV ---------------------------------------------------------------------

@needs_reference_data
def test_cnv_small(spark):
    data, meta = readers.from_cnv(spark, str(DATA / "small.cnv.bz2"))
    pdf = data.orderBy("scan").toPandas()
    assert len(pdf) == 11646  # nvalues in the file header (BASELINE.md)
    assert "t090C" in pdf.columns
    assert pdf["pressure"].notna().all()
    row = meta.collect()[0]
    assert row["name"] is not None
    assert row["columns"]  # raw<->safe channel registry present


@needs_reference_data
def test_cnv_pressure_label_matrix(spark):
    """press-pass* load, press-fails raises (reference
    tests/test_read.py:164-173)."""
    passing = sorted(DATA.glob("press-pass*.cnv"))
    assert passing, f"no press-pass*.cnv files under {DATA}"
    for f in passing:
        data, _ = readers.from_cnv(spark, str(f))
        assert data.count() > 0
    with pytest.raises(Exception, match="pressure/depth column"):
        readers.from_cnv(spark, str(DATA / "press-fails.cnv"))


@needs_reference_data
def test_cnv_mojibake_channel_names(spark):
    """CTD_with_sigma_e00.cnv has a mojibake channel name; sanitation must
    keep it addressable and the registry must recover the raw name."""
    data, meta = readers.from_cnv(spark, str(DATA / "CTD_with_sigma_e00.cnv"))
    assert data.count() > 0
    registry = meta.collect()[0]["columns"]
    assert all(r for r in registry)


@needs_reference_data
def test_cnv_multiple_files_one_table(spark):
    paths = [str(DATA / "press-pass-prDE.cnv"), str(DATA / "press-pass-prDM.cnv")]
    data, meta = readers.from_cnv(spark, paths)
    ids = {r["cast_id"] for r in data.select("cast_id").distinct().collect()}
    assert len(ids) == 2
    assert meta.count() == 2


# -- FSI ---------------------------------------------------------------------

@needs_reference_data
def test_fsi(spark):
    data, _ = readers.from_fsi(spark, str(DATA / "FSI.txt.gz"))
    pdf = data.orderBy("scan").toPandas()
    assert len(pdf) > 0
    assert "TEMP" in pdf.columns
    assert pdf["pressure"].iloc[0] == pytest.approx(0.4, abs=0.01)


# -- BL ----------------------------------------------------------------------

@needs_reference_data
def test_bl(spark):
    data, meta = readers.from_bl(spark, str(DATA / "bl" / "bottletest.bl"))
    row = meta.collect()[0]
    assert row["time_of_reset"] == datetime.datetime(2018, 6, 25, 20, 8, 55)
    pdf = data.orderBy("bottle_number").toPandas()
    assert pdf["bottle_number"].iloc[0] == 1
    assert pdf["startscan"].notna().all()


# -- CastAway ----------------------------------------------------------------

@needs_reference_data
def test_castaway(spark):
    data, meta = readers.from_castaway_csv(spark, str(DATA / "castaway_data.csv"))
    pdf = data.orderBy("scan").toPandas()
    for col in [
        "depth", "temperature", "conductivity", "specific_conductance",
        "salinity", "sound_velocity", "density",
    ]:
        assert col in pdf.columns
    row = meta.collect()[0]
    assert row["lat"] == pytest.approx(-36.2199169)
    assert row["extra"]["Device"] == "CC1449004"
    assert len(row["units"]) > 0


# -- BTL (the window reshape) ------------------------------------------------

@needs_reference_data
def test_btl_reshape(spark):
    data, _ = readers.from_btl(spark, str(DATA / "btl" / "bottletest.btl"))
    pdf = data.orderBy("line").toPandas()
    assert set(pdf["Statistic"].unique()) >= {"avg", "sdev"}
    # every row carries its bottle's stamped datetime and bottle number
    assert pdf["Date"].notna().all()
    assert pdf["Bottle"].notna().all()
    first = pdf.iloc[0]
    assert first["Bottle"] == 1
    assert first["Date"] == datetime.datetime(2013, 6, 27, 21, 23, 18)
    # group invariant: each bottle has rowtype-count rows
    counts = pdf.groupby("Bottle").size().unique()
    assert len(counts) == 1
    # channels became doubles
    assert pdf["T090C"].dtype.kind == "f"


@needs_reference_data
def test_btl_duplicate_columns(spark):
    """alt_bottletest.BTL duplicates 'Bottle' -> 'Bottle_' (reference
    tests/test_read.py:107-109); file is cp1252-encoded."""
    data, _ = readers.from_btl(spark, str(DATA / "btl" / "alt_bottletest.BTL"))
    cols = data.columns
    assert "Bottle" in cols
    assert "Bottle_" in cols


@needs_reference_data
def test_btl_blank_line_header(spark):
    data, _ = readers.from_btl(spark, str(DATA / "btl" / "blank_line_header.btl"))
    assert "Date" in data.columns
    assert data.count() > 0


# -- encoding sniff (reference uses chardet, ctd/read.py:88-91) --------------

def test_sniff_decode_utf8_cp1252_latin1():
    from python_ctd_spark.io.parsers import sniff_decode

    assert sniff_decode("sigma-é00".encode("utf-8")) == "sigma-é00"
    # cp1252: 0x94 is a smart quote, not valid utf-8
    assert sniff_decode(b"t090C \x94") == "t090C ”"
    # bytes in cp1252's unmapped holes flip the fallback to latin-1,
    # which decodes every byte losslessly instead of replacing
    raw = b"PRES \x90\xe9"
    assert sniff_decode(raw) == raw.decode("latin-1")
    assert "�" not in sniff_decode(raw)


@needs_reference_data
def test_latin1_cnv_roundtrip(spark, tmp_path):
    """A latin-1 instrument file (with a byte cp1252 cannot map) loads with
    its data intact — the reference's chardet intent."""
    src = (DATA / "press-pass-prDE.cnv").read_bytes()
    # graft a latin-1-only byte sequence into a comment header line
    tampered = src.replace(b"*END*", b"* latin \x90\xe9 comment\r\n*END*", 1)
    p = tmp_path / "latin.cnv"
    p.write_bytes(tampered)
    base, _ = readers.from_cnv(spark, str(DATA / "press-pass-prDE.cnv"))
    got, meta = readers.from_cnv(spark, str(p))
    assert got.count() == base.count() > 0
    assert "�" not in meta.collect()[0]["header"]


# -- ROS / rosette summary ---------------------------------------------------

@needs_reference_data
def test_rosette_bottle_means_golden(spark):
    """Reference doctest golden (ctd/read.py:540-545): per-bottle mean
    pressure of g01l01s01.ros."""
    ros, _ = readers.rosette_summary(spark, str(DATA / "CTD" / "g01l01s01.ros"))
    means = readers.bottle_means(ros, cols=["pressure"]).orderBy(F.desc("pressure"))
    got = [int(r["pressure"]) for r in means.collect()]
    assert got == [835, 806, 705, 604, 503, 404, 303, 201, 151, 100, 51, 1]


@needs_reference_data
def test_duplicate_stems_get_suffixed_ids(spark, tmp_path):
    """Two files with the same stem in different directories: the first (by
    path) keeps the bare cast_id, the second gets a numeric suffix — the
    rename is computed by a distributed window, with only the collision
    shipped to executors."""
    import shutil

    for sub in ("a", "b"):
        (tmp_path / sub).mkdir()
        shutil.copy(DATA / "XBT.EDF", tmp_path / sub / "XBT.EDF")
    data, meta = readers.from_edf(
        spark, [str(tmp_path / "a" / "XBT.EDF"), str(tmp_path / "b" / "XBT.EDF")]
    )
    ids = sorted(r["cast_id"] for r in meta.select("cast_id").collect())
    assert ids == ["XBT", "XBT_1"]
    counts = {r["cast_id"]: r["n"] for r in data.groupBy("cast_id").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"XBT", "XBT_1"}
    assert counts["XBT"] == counts["XBT_1"] > 0
