"""The sliced single-file parquet read (``__spark_entry__._read_sliced``):
slice arithmetic, per-slice decoding and the cast of every batch to the
declared schema."""

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry


def _write(tmp_path, n_rows, row_group_size=3):
    """n_rows of (id, name, ts) with millisecond timestamps, which Spark
    reads as microsecond TimestampType: the batches pyarrow decodes do not
    match Spark's Arrow schema unless cast."""
    base = dt.datetime(2024, 1, 2, 3, 4, 5, 678000)
    table = pa.table({
        "id": pa.array(np.arange(n_rows, dtype=np.int64)),
        "name": pa.array([f"r{i}" for i in range(n_rows)]),
        "ts": pa.array([base + dt.timedelta(seconds=i) for i in range(n_rows)],
                       pa.timestamp("ms", tz="UTC")),
    })
    path = str(tmp_path / f"t{n_rows}.parquet")
    pq.write_table(table, path, row_group_size=row_group_size)
    return path, table


ARROW_SCHEMA = pa.schema([("id", pa.int64()), ("name", pa.string()),
                          ("ts", pa.timestamp("us", tz="UTC"))])


@pytest.mark.parametrize("n_rows,par", [(0, 4), (3, 8), (10, 4), (10, 10), (17, 3)])
def test_slice_bounds_cover_rows_once(n_rows, par):
    bounds = entry._slice_bounds(n_rows, par)
    assert len(bounds) == par
    assert bounds[0][0] == 0 and bounds[-1][1] == n_rows
    assert all(s <= e for s, e in bounds)
    assert all(a[1] == b[0] for a, b in zip(bounds, bounds[1:]))
    if n_rows < par:
        assert sum(s == e for s, e in bounds) >= par - n_rows


def _read_slice(path, start, end, batch_size):
    task = pa.record_batch([[path], [start], [end]], names=["p", "s", "e"])
    return list(entry._slice_reader(ARROW_SCHEMA, batch_size)([task]))


@pytest.mark.parametrize("n_rows,par,batch_size", [(3, 8, 2), (10, 4, 4), (10, 3, 64)])
def test_slices_concatenate_to_the_file(tmp_path, n_rows, par, batch_size):
    path, table = _write(tmp_path, n_rows)
    got = []
    for s, e in entry._slice_bounds(n_rows, par):
        batches = _read_slice(path, s, e, batch_size)
        if s == e:
            assert batches == []
        assert sum(b.num_rows for b in batches) == e - s
        assert all(b.schema == ARROW_SCHEMA for b in batches)
        got += batches
    out = pa.Table.from_batches(got, schema=ARROW_SCHEMA)
    assert out.equals(table.cast(ARROW_SCHEMA))


def test_last_slice_ends_at_the_last_row(tmp_path):
    path, table = _write(tmp_path, 10)
    last = _read_slice(path, 7, 10, batch_size=4)
    assert pa.Table.from_batches(last).column("id").to_pylist() == [7, 8, 9]


def test_read_sliced_casts_to_spark_schema(spark, tmp_path):
    """Fewer rows than tasks, and a millisecond timestamp column."""
    path, table = _write(tmp_path, 5)
    schema = spark.read.parquet(path).schema
    rows = entry._read_sliced(spark, path, schema, par=8).orderBy("id").collect()
    assert [r.id for r in rows] == list(range(5))
    assert [r.name for r in rows] == table.column("name").to_pylist()
    want = [t.replace(tzinfo=None) for t in table.column("ts").to_pylist()]
    got = [r.ts.astimezone(dt.timezone.utc).replace(tzinfo=None) for r in rows]
    assert got == want
