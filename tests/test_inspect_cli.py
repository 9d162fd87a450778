"""CLI snapshot tests for all six inspect subcommands — the analog of the
reference's CLI stdout-snapshot suite (tests/bin/main.rs:86+)."""

import json
import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def chunks_dir(spark, tmp_path_factory):
    """Deterministic tiny dataset -> chunk table + schema.json on disk."""
    from orc_rust_spark.operators.encode import encode_table

    base = tmp_path_factory.mktemp("inspect")
    out = str(base / "chunks")
    n = 3000
    df = spark.createDataFrame(
        [(i, f"u{i % 7:02d}", None if i % 11 == 0 else float(i)) for i in range(n)],
        "id long, name string, val double",
    ).coalesce(1)
    plan = {
        "id": {"row_index": True, "row_index_stride": 1000, "bloom": True},
        "name": {}, "val": {},
    }
    encode_table(df, plan=plan).write.mode("overwrite").parquet(out)
    with open(base / "schema.json", "w") as fh:
        fh.write(df.schema.json())
    return out


def _run(spark, capsys, *args) -> str:
    from orc_rust_spark.inspect import main

    rc = main(["inspect", *args], spark=spark)
    assert rc == 0
    return capsys.readouterr().out


def test_info(spark, chunks_dir, capsys):
    out = _run(spark, capsys, chunks_dir, "info")
    assert "partitions : 1" in out
    assert "chunks     : 1" in out
    assert "ratio" in out and "x" in out


def test_stats(spark, chunks_dir, capsys):
    out = _run(spark, capsys, chunks_dir, "stats")
    # one line per (column, codec); id is rle_v2, name dict, val float_plain
    assert "rle_v2" in out and "dict" in out and "float_plain" in out
    assert "2999" in out  # id max
    # nulls recorded for val (every 11th row)
    assert "273" in out


def test_layout(spark, chunks_dir, capsys):
    out = _run(spark, capsys, chunks_dir, "layout")
    assert "DATA" in out and "LENGTH" in out
    assert "DICTIONARY_DATA" in out  # name is dict-encoded
    assert "BLOOM_FILTER" in out     # id plan asked for bloom
    assert "PRESENT" in out          # val has nulls


def test_index(spark, chunks_dir, capsys):
    out = _run(spark, capsys, chunks_dir, "index", "id")
    assert "stride=1000" in out and "groups=3" in out
    assert "rg 0: rows=1000 nulls=0 min=0 max=999" in out
    assert "rg 2: rows=1000 nulls=0 min=2000 max=2999" in out


def test_bloom(spark, chunks_dir, capsys):
    out = _run(spark, capsys, chunks_dir, "bloom", "id", "123")
    assert "chunks total        : 1" in out
    assert "chunks with bloom   : 1" in out
    assert "chunks stats+bloom  : 1 maybe-contain" in out
    # absent value: the single chunk's statistics or filter must reject it
    out2 = _run(spark, capsys, chunks_dir, "bloom", "id", "999999999")
    assert "chunks stats+bloom  : 0 maybe-contain" in out2


def test_export_csv_and_json(spark, chunks_dir, capsys, tmp_path):
    out_dir = str(tmp_path / "exp_json")
    out = _run(spark, capsys, chunks_dir, "export", "json", out_dir)
    assert f"exported to {out_dir}" in out
    back = spark.read.json(out_dir)
    assert back.count() == 3000
    assert back.where(F.col("id") == 7).collect()[0].name == "u00"

    csv_dir = str(tmp_path / "exp_csv")
    _run(spark, capsys, chunks_dir, "export", "csv", csv_dir)
    rows = spark.read.option("header", True).csv(csv_dir)
    assert rows.count() == 3000


def test_unknown_command(spark, chunks_dir, capsys):
    from orc_rust_spark.inspect import main

    rc = main(["inspect", chunks_dir, "nope"], spark=spark)
    assert rc == 2
    assert "unknown command" in capsys.readouterr().out


@pytest.fixture(scope="module")
def orc_file(tmp_path_factory):
    import numpy as np
    import pyarrow as pa

    from orc_rust_spark.sources.orc_file import write_orc

    n = 25000
    tbl = pa.table({
        "id": pa.array(np.arange(n)),
        "name": pa.array([f"n_{i % 9}" for i in range(n)]),
    })
    path = str(tmp_path_factory.mktemp("insp") / "t.orc")
    write_orc(tbl, path, compression="zlib", bloom_columns=["id"])
    return path


def _run_orc(capsys, *argv) -> str:
    from orc_rust_spark.inspect import main

    rc = main(["inspect", *argv])
    out = capsys.readouterr().out
    assert rc == 0, out
    return out


def test_orc_file_info(orc_file, capsys):
    """A .orc path dispatches to the real-ORC inspector (reference CLI
    parity: src/bin/orc operates on ORC files) — no Spark session."""
    out = _run_orc(capsys, orc_file)
    assert "rows       : 25,000" in out
    assert "compression: zlib" in out
    assert "id: long" in out and "name: string" in out


def test_orc_file_info_block_size_and_writer(orc_file, tmp_path, capsys):
    """`info` prints the PostScript block size and the Footer's
    softwareVersion: this engine's for its files, liborc's for pyarrow's."""
    import pyarrow as pa
    import pyarrow.orc as paorc

    from orc_rust_spark.sources.orc_file import SOFTWARE_VERSION

    out = _run_orc(capsys, orc_file)
    assert "block size : 262144" in out
    assert f"writer     : {SOFTWARE_VERSION}" in out
    other = str(tmp_path / "liborc.orc")
    paorc.write_table(pa.table({"a": [1, 2]}), other, compression="zlib",
                      compression_block_size=4096)
    out = _run_orc(capsys, other)
    assert "block size : 4096" in out
    assert "writer     : orc_rust_spark" not in out


def test_orc_file_layout(orc_file, capsys):
    out = _run_orc(capsys, orc_file, "layout")
    assert "ROW_INDEX" in out and "BLOOM_FILTER_UTF8" in out
    assert "DICTIONARY_DATA" in out  # low-card name column dict-encoded


def test_orc_file_index(orc_file, capsys):
    out = _run_orc(capsys, orc_file, "index", "id")
    assert "3 row groups" in out
    assert "min=0 max=9999" in out
    assert "min=20000 max=24999" in out


def test_orc_file_bloom(orc_file, capsys):
    out = _run_orc(capsys, orc_file, "bloom", "id", "12345")
    assert "maybe-contain=[1]" in out
    out2 = _run_orc(capsys, orc_file, "bloom", "id", "99999999")
    assert "maybe-contain=[]" in out2


def test_cli_merge(orc_file, tmp_path, capsys):
    """`inspect merge` compacts without decoding: the merged file carries
    both inputs' rows, our reader and liborc agree on it, and the info
    subcommand works on the output."""
    import pyarrow.orc as paorc

    from orc_rust_spark.inspect import main
    from orc_rust_spark.sources.orc_file import orc_to_table

    out = str(tmp_path / "merged.orc")
    rc = main(["inspect", "merge", out, orc_file, orc_file])
    msg = capsys.readouterr().out
    assert rc == 0, msg
    assert "merged files=2" in msg and "rows=50000" in msg
    ours = orc_to_table(out)
    theirs = paorc.read_table(out)
    assert ours.num_rows == 50000
    assert ours.cast(theirs.schema).equals(theirs)
    out2 = _run_orc(capsys, out)
    assert "rows       : 50,000" in out2


def test_cli_merge_refuses_mixed_schema(orc_file, tmp_path, capsys):
    import pyarrow as pa

    from orc_rust_spark.inspect import main
    from orc_rust_spark.sources.orc_file import write_orc

    other = str(tmp_path / "other.orc")
    write_orc(pa.table({"x": pa.array([1, 2, 3])}), other, compression="zlib")
    rc = main(["inspect", "merge", str(tmp_path / "m.orc"), orc_file, other])
    assert rc == 1
    assert "merge refused" in capsys.readouterr().out


def test_cli_merge_usage(capsys):
    from orc_rust_spark.inspect import main

    assert main(["inspect", "merge", "out.orc"]) == 2
    assert "usage" in capsys.readouterr().out


def test_parts_partition_summary(tmp_path, capsys):
    """`inspect parts <dir>`: one line per partition with file/row/byte
    counts, plus a flat-layout notice when no col=value/ dirs exist."""
    import os

    import pyarrow as pa

    from orc_rust_spark.inspect import main_parts
    from orc_rust_spark.sources.orc_file import write_orc

    d = str(tmp_path / "p")
    for lang, ids in (("en", [1, 2, 3]), ("de", [4])):
        sub = os.path.join(d, f"lang={lang}")
        os.makedirs(sub)
        write_orc(pa.table({"id": pa.array(ids, type=pa.int64())}),
                  os.path.join(sub, "f.orc"), compression="none")
    assert main_parts(["inspect", "parts", d]) == 0
    out = capsys.readouterr().out
    assert "partitions : lang (string)" in out
    assert "lang=en" in out and "rows=           3" in out
    assert "TOTAL" in out and "files=   2" in out
    # flat dir: notice, not a crash
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    write_orc(pa.table({"id": pa.array([1], type=pa.int64())}),
              os.path.join(flat, "a.orc"), compression="none")
    assert main_parts(["inspect", "parts", flat]) == 0
    assert "flat layout" in capsys.readouterr().out
    assert main_parts(["inspect", "parts", str(tmp_path / "nope")]) == 1


def test_orc_stats_subcommand(tmp_path, capsys):
    """`inspect <file.orc> stats` — per-column file rollup + per-stripe
    min/max from the tail's StripeStatistics (the reference `orc stats`
    analog, completing the .orc dispatch's subcommand set)."""
    import pyarrow as pa

    from orc_rust_spark.inspect import main_orc
    from orc_rust_spark.sources.orc_file import write_orc

    p = str(tmp_path / "s.orc")
    write_orc(pa.table({
        "id": pa.array(range(25000), type=pa.int64()),
        "name": pa.array([f"n{i % 7}" for i in range(25000)]),
        "s": pa.array([{"a": f"x{i % 5}"} for i in range(25000)],
                      type=pa.struct([("a", pa.string())])),
    }), p, compression="zstd", stripe_rows=10000)
    assert main_orc(["inspect", p, "stats"]) == 0
    out = capsys.readouterr().out
    assert "id: min=0 max=24999 (3/3 stripes carry stats)" in out
    assert "stripe 1: min=10000 max=19999" in out
    assert "name: min='n0' max='n6'" in out
    # nested children print at their dotted paths (code-review r7)
    assert "s.a: min='x0' max='x4'" in out
    # a file legitimately written without stats is exit 0, not an error
    p2 = str(tmp_path / "nostats.orc")
    write_orc(pa.table({"id": pa.array([1], type=pa.int64())}), p2,
              compression="none", row_index_stride=0)
    assert main_orc(["inspect", p2, "stats"]) == 0
    assert "no stripe statistics" in capsys.readouterr().out
