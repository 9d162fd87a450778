"""CLI chunk-table / ORC-file inspector — the analog of the reference's
`orc` binary subcommands info/export/stats/layout/index/bloom
(src/bin/orc/main.rs:31-66, src/bin/orc/bloom.rs).

Usage:
    python -m orc_rust_spark.inspect <chunks_dir> [info|stats|layout]
    python -m orc_rust_spark.inspect <chunks_dir> export <csv|json> <out_dir>
      (export needs <chunks_dir>/../schema.json, written by encode_dataset)
    python -m orc_rust_spark.inspect <chunks_dir> index <column>
      (per-row-group min/max of a row_index-encoded column)
    python -m orc_rust_spark.inspect <chunks_dir> bloom <column> <value>
      (test a value against every chunk's statistics and bloom filter)

A path ending in .orc is inspected as a REAL ORC file instead (no Spark
session; pure tail/stream parse, like the reference CLI):
    python -m orc_rust_spark.inspect <file.orc> [info|stats|layout]
    python -m orc_rust_spark.inspect <file.orc> index <column>
    python -m orc_rust_spark.inspect <file.orc> bloom <column> <value>

`merge` compacts ORC files WITHOUT decoding (stripe byte-copy + fresh
tail; the orc-tools merge / Hive CONCATENATE analog — no Spark session):
    python -m orc_rust_spark.inspect merge <out.orc> <in1.orc> <in2.orc> [...]

`parts` summarizes a hive-partitioned ORC directory (no Spark session):
    python -m orc_rust_spark.inspect parts <dir>
      (one line per col=value partition: files, rows, bytes — skew at
      a glance)
"""

from __future__ import annotations

import sys

_ORC_CMDS = ("info", "stats", "layout", "index", "bloom")


def _orc_kind_name(k: int) -> str:
    from .sources import orc_file as of

    names = {getattr(of, n): n[2:].lower() for n in dir(of) if n.startswith("K_")}
    return names.get(k, str(k))


def _parse_probe(raw: str, prefer_int: bool):
    """CLI probe parse: int when the COLUMN is integer-kinded and the text
    parses, else the raw string — lexical guessing hashed digit-string
    probes as i64 against utf8-fed blooms (code-review r6)."""
    if prefer_int:
        try:
            return int(raw)
        except ValueError:
            return raw
    return raw


def _type_paths(types) -> list[tuple[int, str]]:
    """Every non-root type id with a dotted display path — nested
    children carry their own StripeStatistics entries at their flat
    type ids, so `stats` must walk the whole tree, not just the root's
    direct children (code-review r7)."""
    out: list[tuple[int, str]] = []

    def walk(tid: int, prefix: str) -> None:
        t = types[tid]
        for i, c in enumerate(t.subtypes):
            name = (t.field_names[i]
                    if t.field_names and i < len(t.field_names)
                    else f"<{i}>")  # list/map children have no names
            p = f"{prefix}.{name}" if prefix else name
            out.append((c, p))
            walk(c, p)

    walk(0, "")
    return out


def main_orc(argv: list[str]) -> int:
    """Inspect a real ORC file through this engine's metadata/stream
    parsers — info, per-stripe stream layout, per-row-group index stats,
    and bloom probes. The stripe commands read each stripe's footer and
    index region through the reader's StripeIndex."""
    import numpy as np

    from .sources import orc_file as of

    path = argv[1]
    cmd = argv[2] if len(argv) > 2 else "info"
    if cmd not in _ORC_CMDS:
        print(f"unknown ORC command {cmd!r}; use "
              "info|stats|layout|index|bloom")
        return 2
    from .sources import fsio

    fs, path = fsio.resolve(path)
    meta = of.read_metadata(path, filesystem=fs)
    root = meta.types[0]
    if cmd == "info":
        print(f"rows       : {meta.number_of_rows:,}")
        print(f"stripes    : {len(meta.stripes)}")
        print(f"compression: {meta.compression}")
        print(f"block size : {meta.block_size or 'not recorded'}")
        print(f"writer     : {meta.software or 'not recorded'}")
        print(f"stride     : {meta.row_index_stride}")
        for cid, name in zip(root.subtypes, root.field_names):
            print(f"  {name}: {_orc_kind_name(meta.types[cid].kind)}")
        return 0
    if cmd == "stats":
        # per-column min/max from the tail's StripeStatistics (the
        # reference `orc stats` analog): file rollup + per-stripe rows,
        # every type id including nested children (code-review r7)
        if not meta.stripe_stats:
            # a legitimate shape (written without row indexes, or zero
            # rows), not an error — match `index`'s no-data convention
            print("no stripe statistics in this file's tail (written "
                  "without row indexes, or zero rows)")
            return 0
        n_entries = len(meta.stripe_stats)
        label = "stripe"
        if n_entries != len(meta.stripes):
            # foreign writers can emit fewer entries than stripes (the
            # mismatch orc_merge refuses to carry through) — don't
            # mislabel positions as stripe numbers
            label = "stats entry"
            print(f"note: {n_entries} StripeStatistics entries for "
                  f"{len(meta.stripes)} stripes — positions below are "
                  "stats entries, not stripe numbers")
        ts_kinds = (of.K_TIMESTAMP, of.K_TIMESTAMP_INSTANT)
        for tid, name in _type_paths(meta.types):
            per = [ss.get(tid) for ss in meta.stripe_stats]
            known = [mm for mm in per if mm is not None]
            kind = _orc_kind_name(meta.types[tid].kind)
            if not known:
                print(f"{name}: no comparable statistics ({kind})")
                continue
            try:
                mn = min(mm[0] for mm in known)
                mx = max(mm[1] for mm in known)
                head = f"min={mn!r} max={mx!r}"
            except TypeError:
                # mixed stat families across entries (corrupt or buggy
                # foreign writer): show the rows, skip the rollup
                head = "mixed stat families — rollup skipped"
            note = ""
            if meta.types[tid].kind in ts_kinds:
                # ms-precision timestamp stats are read widened (+1 ms
                # on max) for pruning safety — the display inherits the
                # ceil, so say so instead of printing it as recorded
                note = " [max is a +1ms pruning ceil of the ms stats]"
            print(f"{name}: {head} "
                  f"({len(known)}/{len(per)} {label}s carry stats)"
                  f"{note}")
            for si, mm in enumerate(per):
                if mm is not None:
                    print(f"  {label} {si}: min={mm[0]!r} max={mm[1]!r}")
        return 0

    reader = of.OrcReader(meta)
    with fsio.open_input(path, fs) as fh:
        for si, st in enumerate(meta.stripes):
            ix = reader.stripe(si, fh)
            if cmd == "layout":
                print(f"stripe {si}: rows={st.number_of_rows:,} "
                      f"index={st.index_length:,}B data={st.data_length:,}B")
                for col, kind, length in ix.stream_list:
                    kn = {0: "PRESENT", 1: "DATA", 2: "LENGTH",
                          3: "DICTIONARY_DATA", 4: "DICTIONARY_COUNT",
                          5: "SECONDARY", 6: "ROW_INDEX", 7: "BLOOM_FILTER",
                          8: "BLOOM_FILTER_UTF8"}.get(kind, str(kind))
                    name = ("<root>" if col == 0 else
                            root.field_names[root.subtypes.index(col)]
                            if col in root.subtypes else f"col{col}")
                    print(f"  {name:<20} {kn:<17} {length:>10,}B")
                continue
            col_name = argv[3] if len(argv) > 3 else None
            if col_name not in root.field_names:
                print(f"no such column {col_name!r}")
                return 2
            cid = root.subtypes[root.field_names.index(col_name)]
            if cmd == "index":
                entries = ix.entries(cid)
                if entries is None:
                    print(f"stripe {si}: no ROW_INDEX for {col_name}")
                    continue
                print(f"stripe {si}: {len(entries)} row groups")
                for g, (positions, stats, nullinfo) in enumerate(entries):
                    mm = f"min={stats[0]} max={stats[1]}" if stats else "no stats"
                    n_values, has_null = nullinfo
                    if n_values is not None:
                        mm += f" n={n_values} has_null={bool(has_null)}"
                    print(f"  rg {g}: positions={list(positions)} {mm}")
            elif cmd == "bloom":
                value_raw = argv[4] if len(argv) > 4 else ""
                int_kinds = (of.K_BYTE, of.K_SHORT, of.K_INT, of.K_LONG)
                value = _parse_probe(
                    value_raw, meta.types[cid].kind in int_kinds)
                kind = ix.bloom_kind(cid)
                if kind is None or (kind == of.S_BLOOM_FILTER
                                    and not isinstance(value, int)):
                    print(f"stripe {si}: no usable bloom filter for "
                          f"{col_name} (legacy blooms serve integer probes "
                          "only)")
                    continue
                blooms = ix.blooms(cid)
                n, col_kind = blooms.n_groups, meta.types[cid].kind
                # without statistics the evaluator asks the filters alone
                maybe = of.keep_mask(of.Probe(value), of.ColumnStats(col_kind, [None] * n),
                                     n, blooms, col_kind)
                print(f"stripe {si}: groups={blooms.n_groups} "
                      f"maybe-contain={np.flatnonzero(maybe).tolist()}")
    return 0


def main_merge(argv: list[str]) -> int:
    """Zero-decode ORC compaction from the command line (orc-tools
    `merge` analog): stripes byte-copied, tail rewritten — inputs must
    share the type tree, compression kind, and row-index stride
    (merge_orc_files validates and refuses otherwise). Spark-free: the
    single-output merge is pure sequential IO; use compact_orc for the
    distributed many-output form."""
    if len(argv) < 4:
        print("usage: python -m orc_rust_spark.inspect merge "
              "<out.orc> <in1.orc> <in2.orc> [...]")
        return 2
    from .sources.orc_merge import merge_orc_files

    try:
        res = merge_orc_files(list(argv[3:]), argv[2])
    except (ValueError, NotImplementedError) as exc:
        print(f"merge refused: {exc}")
        return 1
    print(f"merged files={res['files']} stripes={res['stripes']} "
          f"rows={res['rows']} bytes={res['bytes']} -> {argv[2]}")
    return 0


def main_parts(argv: list[str]) -> int:
    """Partition summary of a hive-layout ORC directory (Spark-free):
    one line per partition value with file count, rows, and bytes —
    the operator's first look at skew in a partitioned corpus."""
    if len(argv) < 3:
        print("usage: python -m orc_rust_spark.inspect parts <dir>")
        return 2
    from .sources import fsio
    from .sources import orc_file as of
    from .sources.datasource import _discover_partitions

    fs, root = fsio.resolve(argv[2])
    if not fsio.exists(root, fs):
        # list_files returns a non-glob path AS-IS, so a typo would
        # otherwise read as "1 flat ORC file"
        print(f"no ORC files under {argv[2]!r}")
        return 1
    # ONE recursive listing serves both the partition parse and the
    # sizes (code-review r7, third pass: this previously listed twice)
    sized = fsio.list_files_with_sizes(root, fs, recursive=True)
    sizes = dict(sized)
    paths, pvals, ddl_by_col = _discover_partitions(
        root, fs, paths=[p for p, _ in sized])
    if not paths:
        print(f"no ORC files under {argv[2]!r}")
        return 1
    if not ddl_by_col:
        print(f"{len(paths)} ORC files, no col=value/ partition "
              "directories (flat layout)")
        return 0
    metas = of.read_metadatas(paths, filesystem=fs)
    cols = list(ddl_by_col)
    agg: dict[tuple, list] = {}  # key tuple -> [files, rows, bytes]
    for p in paths:
        key = tuple(pvals[p].get(c) for c in cols)
        a = agg.setdefault(key, [0, 0, 0])
        a[0] += 1
        a[1] += metas[p].number_of_rows
        a[2] += sizes.get(p, 0)
    print("partitions : " + ", ".join(f"{c} ({d})"
                                      for c, d in ddl_by_col.items()))
    total = [0, 0, 0]
    for key in sorted(agg, key=lambda k: tuple(str(v) for v in k)):
        files, rows, size = agg[key]
        label = "/".join(f"{c}={'<null>' if v is None else v}"
                         for c, v in zip(cols, key))
        print(f"  {label:<40} files={files:>4} rows={rows:>12,} "
              f"bytes={size:>14,}")
        for i, v in enumerate((files, rows, size)):
            total[i] += v
    print(f"  {'TOTAL':<40} files={total[0]:>4} rows={total[1]:>12,} "
          f"bytes={total[2]:>14,}")
    return 0


def main(argv: list[str], spark=None) -> int:
    if len(argv) < 2:
        print(__doc__)
        return 2
    chunks_dir = argv[1]
    if chunks_dir == "merge":
        return main_merge(argv)
    if chunks_dir == "parts":
        return main_parts(argv)
    if chunks_dir.endswith(".orc"):
        return main_orc(argv)
    cmd = argv[2] if len(argv) > 2 else "info"
    from pyspark.sql import functions as F

    own_session = spark is None
    if own_session:
        from .session import get_spark

        spark = get_spark("orc_rust_spark-inspect", master="local[4]",
                          shuffle_partitions=4)
        spark.sparkContext.setLogLevel("ERROR")
    try:
        return _main_chunks(argv, spark, chunks_dir, cmd, F)
    finally:
        # error returns (usage mistakes, unknown commands) previously
        # leaked the self-created session's JVM (code-review r6)
        if own_session:
            spark.stop()


def _main_chunks(argv, spark, chunks_dir, cmd, F) -> int:
    chunks = spark.read.parquet(chunks_dir)
    if cmd == "info":
        agg = chunks.agg(
            F.countDistinct("part_id").alias("partitions"),
            F.countDistinct("part_id", "chunk_ord").alias("chunks"),
            F.sum(F.when(F.col("stream_kind") == "DATA", F.col("row_count"))).alias("rows_x_cols"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("final_bytes").alias("final_bytes"),
        ).collect()[0]
        print(f"partitions : {agg['partitions']}")
        print(f"chunks     : {agg['chunks']}")
        print(f"value rows : {agg['rows_x_cols'] or 0:,} (rows x columns)")
        print(f"raw bytes  : {agg['raw_bytes']:,}")
        print(f"final bytes: {agg['final_bytes']:,}")
        print(f"ratio      : {agg['raw_bytes'] / max(1, agg['final_bytes']):.2f}x")
    elif cmd == "stats":
        (
            chunks.where(F.col("stream_kind") == "DATA")
            .groupBy("column", "codec")
            .agg(
                F.sum("row_count").alias("rows"),
                F.sum("null_count").alias("nulls"),
                F.min("min_val").alias("min"),
                F.max("max_val").alias("max"),
                F.sum("raw_bytes").alias("raw"),
            )
            .orderBy("column")
            .show(100, truncate=40)
        )
    elif cmd == "layout":
        (
            chunks.groupBy("column", "stream_kind", "codec", "block_codec")
            .agg(F.count(F.lit(1)).alias("streams"), F.sum("final_bytes").alias("bytes"))
            .orderBy("column", "stream_kind")
            .show(100, truncate=40)
        )
    elif cmd == "export":
        if len(argv) < 5:
            print("usage: inspect <chunks_dir> export <csv|json> <out_dir>")
            return 2
        fmt, out_dir = argv[3], argv[4]
        import json as _json
        import os

        from pyspark.sql import types as T

        from .operators.decode import decode_table_arrow

        schema_path = os.path.join(os.path.dirname(chunks_dir.rstrip("/")), "schema.json")
        with open(schema_path) as fh:
            schema = T.StructType.fromJson(_json.load(fh))
        decoded = decode_table_arrow(chunks, schema)
        if fmt == "csv":
            # CSV cannot carry binary columns; base64 them like the
            # reference's export does for bytes
            cols = [
                F.base64(F.col(f.name)).alias(f.name)
                if isinstance(f.dataType, T.BinaryType)
                else F.col(f.name)
                for f in schema.fields
            ]
            decoded.select(*cols).write.mode("overwrite").option("header", True).csv(out_dir)
        else:
            decoded.write.mode("overwrite").json(out_dir)
        print(f"exported to {out_dir}")
    elif cmd == "index":
        if len(argv) < 4:
            print("usage: inspect <chunks_dir> index <column>")
            return 2
        import json as _json

        col = argv[3]
        rows = (
            chunks.where(
                (F.col("column") == col) & (F.col("stream_kind") == "DATA")
            )
            .select("part_id", "chunk_ord", "stats_json")
            .orderBy("part_id", "chunk_ord")
            .collect()
        )
        for r in rows:
            rg = (_json.loads(r.stats_json) or {}).get("rg") if r.stats_json else None
            if not rg:
                print(f"chunk ({r.part_id},{r.chunk_ord}): no row index")
                continue
            print(f"chunk ({r.part_id},{r.chunk_ord}): stride={rg['stride']} "
                  f"groups={len(rg['n'])}")
            for g in range(len(rg["n"])):
                print(f"  rg {g}: rows={rg['n'][g]} nulls={rg['nulls'][g]} "
                      f"min={rg['min'][g]} max={rg['max'][g]}")
    elif cmd == "bloom":
        if len(argv) < 5:
            print("usage: inspect <chunks_dir> bloom <column> <value>")
            return 2
        col, raw_val = argv[3], argv[4]
        codec_row = chunks.where(
            (F.col("column") == col) & (F.col("stream_kind") == "DATA")
        ).select("codec").first()
        int_codecs = ("rle_v2", "rle_v1", "byte_rle")
        value = _parse_probe(
            raw_val, codec_row is not None and codec_row[0] in int_codecs)
        from .operators.predicate import Comparison, prune_chunks_predicate

        total = chunks.select("part_id", "chunk_ord").distinct().count()
        with_bloom = chunks.where(
            (F.col("column") == col) & (F.col("stream_kind") == "BLOOM_FILTER")
        ).count()
        kept = prune_chunks_predicate(chunks, Comparison(col, "=", value)).count()
        print(f"chunks total        : {total}")
        print(f"chunks with bloom   : {with_bloom}")
        print(f"chunks stats+bloom  : {kept} maybe-contain")
    else:
        print(f"unknown command {cmd!r}; use info|stats|layout|export|index|bloom")
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
