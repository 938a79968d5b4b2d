"""The ``cnv`` Python DataSource: spark.read.format("cnv") over
reference fixture files, parity with the wide mapInPandas reader."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from python_ctd_spark.io import readers
from python_ctd_spark.io.cnv_datasource import register_cnv_source
from tests.conftest import needs_reference_data

DATA = "/root/reference/tests/data"


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_cnv_source(spark)


@needs_reference_data
def test_single_file_matches_wide_reader(spark):
    df = spark.read.format("cnv").load(f"{DATA}/small.cnv.bz2")
    wide, _ = readers.from_cnv(spark, f"{DATA}/small.cnv.bz2")
    n_scans = wide.count()
    ch = [c for c in wide.columns if c not in ("cast_id", "scan", "pressure")]
    assert df.select("channel").distinct().count() == len(ch)
    a = (
        df.filter(F.col("channel") == ch[0]).orderBy("scan")
        .select("value").toPandas().value.to_numpy()
    )
    b = wide.orderBy("scan").select(ch[0]).toPandas()[ch[0]].to_numpy()
    assert len(a) == n_scans
    np.testing.assert_allclose(a, b.astype(float), equal_nan=True)


@needs_reference_data
def test_directory_read_parallelizes_per_file(spark, tmp_path):
    import shutil

    d = tmp_path / "casts"
    d.mkdir()
    shutil.copy(f"{DATA}/press-pass-prDE.cnv", d / "a.cnv")
    shutil.copy(f"{DATA}/CTD_with_sigma_e00.cnv", d / "b.cnv")
    df = spark.read.format("cnv").load(str(d))
    assert df.rdd.getNumPartitions() == 2  # one partition per file
    assert df.select("cast_id").distinct().count() == 2


def test_missing_path_raises(spark, tmp_path):
    with pytest.raises(Exception, match="no .cnv files"):
        spark.read.format("cnv").load(str(tmp_path)).count()


@needs_reference_data
def test_long_to_wide_roundtrips_to_from_cnv(spark):
    """read long -> pivot wide == the wide mapInPandas reader, for every
    shared channel column."""
    from python_ctd_spark.io.cnv_datasource import long_to_wide

    path = f"{DATA}/press-pass-prDE.cnv"
    wide, _ = readers.from_cnv(spark, path)
    long = spark.read.format("cnv").load(path)
    ch = [c for c in wide.columns if c not in ("cast_id", "scan", "pressure")]
    back = long_to_wide(long, channels=ch).toPandas().sort_values("scan")
    want = wide.orderBy("scan").toPandas()
    for c in ch:
        np.testing.assert_allclose(
            back[c].to_numpy(), want[c].to_numpy().astype(float), equal_nan=True
        )


@needs_reference_data
def test_reads_via_mocked_nonlocal_scheme(spark):
    """Portability contract (VERDICT r5 gap #3): the source must work
    where executors do NOT share the driver's filesystem.  A fake
    ``mem://`` object store (tests/cnv_mem_fixture.py) is handed to the
    source as importable ``fetcher``/``lister`` option references — the
    only channel that reaches a Python DataSource's worker-side
    lifecycle.  The partition path stays the opaque mem:// URI (never
    local-opened); the directory listing filters non-.cnv names; parity
    with the local read of the same bytes."""
    got = (
        spark.read.format("cnv")
        .option("fetcher", "tests.cnv_mem_fixture:fetch")
        .option("lister", "tests.cnv_mem_fixture:list_paths")
        .load("mem://casts/")
    )
    ref = spark.read.format("cnv").load(f"{DATA}/small.cnv.bz2")
    g = got.orderBy("channel", "scan").toPandas()
    r = ref.orderBy("channel", "scan").toPandas()
    assert len(g) == len(r) > 0
    assert (g["channel"] == r["channel"]).all()
    np.testing.assert_allclose(g["value"], r["value"])


def test_unknown_scheme_without_fetcher_is_labeled(spark):
    """No fetcher option + unknown scheme must fail with the blobfs
    guidance, not a cryptic FileNotFoundError from a local open."""
    with pytest.raises(Exception, match="no fetcher for scheme|register"):
        spark.read.format("cnv").load("weird://bucket/x.cnv").collect()
