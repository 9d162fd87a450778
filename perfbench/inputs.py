"""Seeded, deterministic benchmark inputs.

The seed drives the webtext generator, the lineitem values and key offset,
and the lookup key sequence. The same seed always gives byte-identical
tables (checked through :func:`content_hash`), and the program under test
only ever sees the generated tables.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.ipc as ipc

#: rows per ``generate_pdf`` call. The generator seeds each call from its
#: first row id, so a fixed block size keeps the table a pure function of
#: (seed, n_rows).
WEBTEXT_BLOCK_ROWS = 10_000

_FLAGS = np.array(["R", "A", "N"], dtype=object)
_STATUS = np.array(["O", "F"], dtype=object)
_SHIP_EPOCH = np.datetime64("1995-01-02", "D")
_SHIP_DAYS = 2498  # 1995-01-02 .. 2001-11-04, the sf0.1 lineitem range


def webtext_table(seed: int, n_rows: int) -> pa.Table:
    """Webtext rows in the ``input_hint`` schema
    (url, warc_ts, html, text, lang) from ``sources.webtext``."""
    from orc_rust_spark.sources.webtext import generate_pdf

    parts = []
    for start in range(0, n_rows, WEBTEXT_BLOCK_ROWS):
        ids = np.arange(start, min(n_rows, start + WEBTEXT_BLOCK_ROWS), dtype=np.int64)
        parts.append(pa.Table.from_pandas(generate_pdf(ids, seed=seed), preserve_index=False))
    table = pa.concat_tables(parts).combine_chunks()
    # warc_ts is a UTC instant in the input_hint schema (Spark TimestampType)
    ts = table.column("warc_ts").cast(pa.timestamp("us", tz="UTC"))
    table = table.set_column(table.schema.get_field_index("warc_ts"), "warc_ts", ts)
    return table.replace_schema_metadata(None)


def lineitem_table(seed: int, n_rows: int) -> pa.Table:
    """Rows shaped like the TPC-H sf0.1 ``lineitem.parquet``: the same
    eleven columns, types and value ranges (ints, doubles, low-cardinality
    strings, a day-granular timestamp). Orders have four lines each, in
    random row order, and use TPC-H's sparse order keys (8 of every 32
    keys), so every point read of a present key decodes about the same
    number of row groups and unused keys lie inside the key range. The seed
    moves every value and the key offset but not the key bit width, so it
    changes no RLEv2 code path."""
    rng = np.random.default_rng([seed, 0x4C49])
    n_orders = max(1, (n_rows + 3) // 4)
    perm = rng.permutation(n_rows)
    order = perm // 4
    bits = (4 * n_orders).bit_length() + 1
    key_offset = (1 << bits) + int(rng.integers(0, 1 << (bits - 2)))
    ship = _SHIP_EPOCH + rng.integers(0, _SHIP_DAYS, n_rows).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": key_offset + (order // 8) * 32 + order % 8,
        "l_partkey": rng.integers(0, 20_000, n_rows),
        "l_suppkey": rng.integers(0, 1_000, n_rows),
        "l_linenumber": (perm % 4 + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_rows).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.68, 104_999.91, n_rows), 2),
        "l_discount": rng.integers(0, 11, n_rows) / 100,
        "l_tax": rng.integers(0, 9, n_rows) / 100,
        "l_returnflag": pa.array(_FLAGS[rng.integers(0, 3, n_rows)], pa.string()),
        "l_linestatus": pa.array(_STATUS[rng.integers(0, 2, n_rows)], pa.string()),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })


def lookup_keys(seed: int, table: pa.Table, key: str, n: int) -> list[tuple[object, bool]]:
    """``n`` seeded (key, is_hit) probes, three hits to one miss.

    Hits are keys present in ``table``. Misses lie inside the key column's
    min/max range, so stripe statistics cannot reject them and only the
    bloom filter can: integer misses are unused keys of the range, string
    misses are URLs of a row id past the end of the table."""
    rng = np.random.default_rng([seed, 0x4B45])
    col = table.column(key)
    present = np.unique(col.to_numpy(zero_copy_only=False))
    hits = present[rng.integers(0, len(present), n)]
    if pa.types.is_integer(col.type):
        unused = np.setdiff1d(np.arange(present[0], present[-1] + 1), present)
        misses = unused[rng.integers(0, len(unused), n)]
    else:
        base = [u.rsplit("/", 1)[0] for u in hits]
        misses = np.array([f"{b}/{table.num_rows + i}" for i, b in enumerate(base)], dtype=object)
    out = []
    for i in range(n):
        is_hit = i % 4 != 3
        k = (hits if is_hit else misses)[i]
        out.append((k.item() if isinstance(k, np.generic) else k, is_hit))
    return out


def content_hash(table: pa.Table) -> str:
    """SHA-256 (first 16 hex digits) of the table's Arrow IPC stream."""
    sink = pa.BufferOutputStream()
    with ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return hashlib.sha256(sink.getvalue()).hexdigest()[:16]


def keys_hash(keys: list[tuple[object, bool]]) -> str:
    return hashlib.sha256(repr(keys).encode()).hexdigest()[:16]
