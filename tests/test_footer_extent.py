"""sources/testdata.events_ts_range: the events extent read from the
parquet footer equals the min/max of `ts_ms` over the rows, for every
TIMESTAMP unit, across row groups and before 1970; events_value_range:
the footer's value min/max equals the scanned one."""
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from nsdb_spark.sources import testdata

SF_DIR = "/root/testdata/sf0.001"


def _scanned_range(spark, sf_dir):
    df = testdata.events_metric(spark, sf_dir)
    return tuple(df.agg(F.min("timestamp"), F.max("timestamp")).first())


def test_footer_range_of_testdata_events_matches_rows(spark):
    assert testdata.events_ts_range(SF_DIR) == _scanned_range(spark, SF_DIR)


def test_footer_value_range_matches_rows(spark, tmp_path):
    """The footer's value min/max equals the scanned min/max, on the
    testdata events and across row groups of a written file."""
    from nsdb_spark.operators.rollup import value_bounds

    assert testdata.events_value_range(SF_DIR) == value_bounds(
        testdata.events_metric(spark, SF_DIR)
    )
    values = [3.5, -2.25, 1e9, 0.0, 7.0]
    n = len(values)
    pq.write_table(pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([1_000 * i for i in range(n)], pa.timestamp("us")),
        "user_id": pa.array([1] * n, pa.int64()),
        "event_type": pa.array(["a"] * n),
        "value": pa.array(values),
        "props": pa.array(["p"] * n),
    }), str(tmp_path / "events.parquet"), row_group_size=2)
    got = testdata.events_value_range(str(tmp_path))
    assert got == (-2.25, 1e9)
    assert got == value_bounds(testdata.events_metric(spark, str(tmp_path)))


@pytest.mark.parametrize("unit", ["ms", "us", "ns"])
def test_footer_range_floors_every_unit_like_ts_ms(spark, tmp_path, unit):
    per_ms = {"ms": 1, "us": 1_000, "ns": 1_000_000}[unit]
    raw = [-1_500 * per_ms - 1, 7 * per_ms + per_ms - 1, -3, 86_400_000 * per_ms + 1]
    n = len(raw)
    table = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(raw, pa.timestamp(unit)),
        "user_id": pa.array([1] * n, pa.int64()),
        "event_type": pa.array(["a"] * n),
        "value": pa.array([1.0] * n),
        "props": pa.array(["p"] * n),
    })
    pq.write_table(table, str(tmp_path / "events.parquet"), row_group_size=1)
    assert pq.ParquetFile(str(tmp_path / "events.parquet")).metadata.num_row_groups == n
    lo, hi = testdata.events_ts_range(str(tmp_path))
    assert (lo, hi) == (min(raw) // per_ms, max(raw) // per_ms)
    assert (lo, hi) == _scanned_range(spark, str(tmp_path))


def test_footer_without_ts_statistics_names_the_file(tmp_path):
    path = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1, 2], pa.timestamp("us"))}), path, write_statistics=False
    )
    with pytest.raises(ValueError, match="events.parquet"):
        testdata.events_ts_range(str(tmp_path))


def test_footer_without_value_statistics_names_the_file(tmp_path):
    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({"value": pa.array([1.0, 2.0])}), path, write_statistics=False)
    with pytest.raises(ValueError, match="events.parquet.*value"):
        testdata.events_value_range(str(tmp_path))
