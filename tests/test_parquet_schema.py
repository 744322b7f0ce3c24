"""sources/parquet.read_parquet: a parquet path read with the schema
remembered from its first read gives what a plain spark.read.parquet
gives, for every file version and inference conf."""
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import LongType, StringType, TimestampNTZType, TimestampType

from nsdb_spark.sources import parquet, testdata

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def schemas():
    parquet._SCHEMAS.clear()
    yield parquet._SCHEMAS
    parquet._SCHEMAS.clear()


def test_rewritten_file_reads_with_its_new_schema(spark, schemas, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": pa.array([1, 2], pa.int64())}), path)
    for _ in range(2):  # inferred, then remembered
        df = parquet.read_parquet(spark, path)
        assert df.schema["x"].dataType == LongType()
    assert len(schemas._entries) == 1
    pq.write_table(pa.table({"x": pa.array(["a", "bc", "def"])}), path)
    df = parquet.read_parquet(spark, path)
    assert df.schema["x"].dataType == StringType()
    assert sorted(r.x for r in df.collect()) == ["a", "bc", "def"]


def test_swapped_directory_reads_with_its_new_schema(spark, schemas, tmp_path):
    """A rollup store is a directory that each swap replaces."""
    path = str(tmp_path / "store")
    spark.createDataFrame([(1,)], "x long").write.parquet(path)
    assert parquet.read_parquet(spark, path).schema["x"].dataType == LongType()
    os.rename(path, path + ".old")
    spark.createDataFrame([("a",)], "x string").write.parquet(path)
    df = parquet.read_parquet(spark, path)
    assert df.schema["x"].dataType == StringType()
    assert [r.x for r in df.collect()] == ["a"]


def test_vanished_path_fails_as_a_plain_read(spark, schemas, tmp_path):
    path = str(tmp_path / "store")
    spark.createDataFrame([(1,)], "x long").write.parquet(path)
    parquet.read_parquet(spark, path)
    os.rename(path, path + ".old")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        parquet.read_parquet(spark, path)


def test_nanos_as_long_is_part_of_the_key(spark, schemas, monkeypatch, tmp_path):
    """testdata.table pins nanosAsLong on, so a TIMESTAMP(NANOS) ts reads
    as a long. With it off, the read is inferred again under the other
    conf value (this Spark build then refuses the nanos column) instead of
    returning the long remembered under the first."""
    pq.write_table(
        pa.table({"ts": pa.array([1_000_000_123], pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"),
    )
    sf = str(tmp_path)
    for _ in range(2):
        assert testdata.table(spark, sf, "events").schema["ts"].dataType == LongType()
    monkeypatch.setattr(
        testdata, "_configure",
        lambda s: s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false"),
    )
    try:
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            testdata.table(spark, sf, "events").schema
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    monkeypatch.undo()
    assert testdata.table(spark, sf, "events").collect()[0].ts == 1_000_000_123


def test_timestamp_ntz_inference_is_part_of_the_key(spark, schemas):
    """The testdata events.ts (TIMESTAMP(MICROS), not adjusted to UTC)
    reads as TIMESTAMP_NTZ, or as TIMESTAMP once NTZ inference is off."""
    ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    assert testdata.table(spark, SF_DIR, "events").schema["ts"].dataType == TimestampNTZType()
    spark.conf.set(ntz, "false")
    try:
        ts = testdata.table(spark, SF_DIR, "events").schema["ts"].dataType
    finally:
        spark.conf.unset(ntz)
    assert ts == TimestampType()
    assert testdata.table(spark, SF_DIR, "events").schema["ts"].dataType == TimestampNTZType()


def test_cache_holds_at_most_its_cap(spark, schemas, monkeypatch, tmp_path):
    monkeypatch.setattr(schemas, "CAP", 2)
    for i in range(4):
        path = str(tmp_path / f"t{i}.parquet")
        pq.write_table(pa.table({"x": [i]}), path)
        parquet.read_parquet(spark, path)
        assert len(schemas._entries) <= 2
    assert len(schemas._entries) == 2


def test_remembered_schema_reads_every_testdata_table_unchanged(spark, schemas):
    testdata._configure(spark)
    paths = sorted(glob.glob(os.path.join(SF_DIR, "*.parquet")))
    assert paths
    for path in paths:
        parquet.read_parquet(spark, path)  # infers and remembers
        cached = parquet.read_parquet(spark, path)
        plain = spark.read.parquet(path)
        assert cached.schema == plain.schema, path
        # repr: NaN cells compare unequal to themselves
        assert [repr(r) for r in cached.collect()] == [
            repr(r) for r in plain.collect()
        ], path
    assert len(schemas._entries) == len(paths)
