"""Zero-decode ORC compaction: stripe-copy merge of small files.

ORC v1 stripes are self-contained — every stream is located by
cumulative offsets from the stripe's own start, and each stripe footer
carries its column encodings and writer timezone — so merging files
never requires touching (or even decompressing) row data. This module
byte-copies whole stripes and rewrites only the file tail
(Metadata + Footer + PostScript), the same contract the reference's
stripe reader relies on (src/stripe.rs:1-120 locates streams from the
stripe offset alone) and the approach of the official ORC merge tools
(Hive's ``ALTER TABLE .. CONCATENATE``).

Why it matters at 100 TB: the orcx streaming sink writes one file per
micro-batch, and a crawl-ingest corpus accumulates millions of
stripe-or-smaller files whose per-file tail/open overhead dominates
scans. Compaction here is pure sequential IO — zero decode, zero
shuffle, one Spark task per output file — so the cost is the byte copy
itself (object-store GET+PUT), the floor for any compactor.

What is preserved verbatim: stripe bytes (indexes, bloom filters,
dictionaries, data), per-stripe writer timezones, and the Metadata
section's per-stripe statistics (so stripe pruning on the merged file
prunes exactly as before). File-level footer statistics are re-merged
from the inputs' footers (min/max union, counts summed); inputs without
parseable bounds fall back to count-only stats — advisory per spec.
User metadata (footer field 5) is not carried over.
"""

from __future__ import annotations

from dataclasses import dataclass

from . import fsio
from .orc_file import (
    MAGIC,
    SOFTWARE_VERSION,
    OrcMeta,
    _decompress_tail,
    _emit_file_tail,
    _fields,
    _parse_column_stats,
    _parse_stats_nullinfo,
    _parse_tail,
    _pb_field,
    _read_tail,
    _WRITE_COMP_ENUM,
    forget_reader,
)

#: chunked stripe copy bound — peak task memory is one chunk, not one
#: stripe (stripes can be hundreds of MB)
_COPY_CHUNK = 8 << 20

#: "out_filesystem not given" sentinel — None is a VALID value (local
#: builtin-open IO), so it cannot double as the default
_SAME_AS_INPUTS = object()


@dataclass
class _Tail:
    """One input file's parsed-and-raw tail, everything a merge needs."""

    path: str
    meta: OrcMeta
    stripe_stats_raw: list[bytes]   # metadata field 1 payloads, file order
    file_stats_raw: list[bytes]     # footer field 7 payloads, type order


def _read_tail_raw(path: str, fs) -> _Tail:
    """Like read_metadata, but KEEPS the raw protobuf payloads the merge
    re-emits (stripe statistics, file statistics). Stripe infos are
    rebuilt from ``meta.stripes`` with shifted offsets."""
    with fsio.open_input(path, fs) as fh:
        tail = _read_tail(fh, path, fs)
    meta = _parse_tail(tail)
    file_stats_raw = [
        bytes(v) for fno, _, v in _fields(
            _decompress_tail(tail.footer_raw, meta.compression)) if fno == 7]
    stripe_stats_raw = []
    if tail.meta_raw:
        stripe_stats_raw = [
            bytes(v) for fno, _, v in _fields(
                _decompress_tail(tail.meta_raw, meta.compression)) if fno == 1]
    return _Tail(path, meta, stripe_stats_raw, file_stats_raw)


def _validate_mergeable(tails: list[_Tail]) -> None:
    """Refuse merges that would produce a file lying about its contents:
    differing type trees (a byte-copied stripe cannot be re-typed),
    differing compression kinds (the PostScript declares ONE kind for
    every stripe), or differing row-index strides (readers interpret
    every stripe's in-stripe indexes through the single footer stride)."""
    first = tails[0]
    for t in tails[1:]:
        if t.meta.types != first.meta.types:
            raise ValueError(
                f"cannot merge {t.path!r} into {first.path!r}: schemas "
                "differ (stripe-copy merge requires identical type trees)")
        if t.meta.compression != first.meta.compression:
            raise ValueError(
                f"cannot merge {t.path!r} ({t.meta.compression}) with "
                f"{first.path!r} ({first.meta.compression}): the "
                "PostScript declares one compression kind for all stripes")
        if t.meta.row_index_stride != first.meta.row_index_stride:
            raise ValueError(
                f"cannot merge {t.path!r} (rowIndexStride "
                f"{t.meta.row_index_stride}) with {first.path!r} "
                f"({first.meta.row_index_stride}): in-stripe row indexes "
                "are interpreted through the single footer stride")
    if first.meta.compression not in _WRITE_COMP_ENUM:
        raise NotImplementedError(
            f"merging {first.meta.compression}-compressed files needs a "
            f"writable codec; this build writes {sorted(_WRITE_COMP_ENUM)}")


def _merged_software(tails: list[_Tail]) -> str | None:
    """The merged file's softwareVersion: this engine's, when every input
    was written by it with one block size, so a reader may seek by block
    arithmetic in every copied stripe; else none (readers then read each
    group from its start)."""
    if (all(t.meta.own_writer for t in tails)
            and len({t.meta.block_size for t in tails}) == 1):
        return SOFTWARE_VERSION
    return None


def _merge_file_stats(tails: list[_Tail]) -> list[tuple | None] | None:
    """Union the inputs' footer ColumnStatistics: counts summed, hasNull
    OR-ed (unknown treated as True — claiming nulls that aren't there
    never mis-prunes; claiming none that are would), min/max unioned when
    EVERY input has parseable bounds for the column, else count-only.
    Returns None (omit file stats) if any input lacks them entirely."""
    n_types = len(tails[0].meta.types)
    if any(len(t.file_stats_raw) != n_types for t in tails):
        return None
    merged: list[tuple | None] = [None] * n_types
    for tid in range(1, n_types):
        n_total = 0
        has_null = False
        mns, mxs = [], []
        for t in tails:
            raw = t.file_stats_raw[tid]
            n, hn = _parse_stats_nullinfo(raw)
            if n is None:
                return None  # a stats entry with no count: drop them all
            n_total += n
            has_null = has_null or hn is None or hn
            mm = _parse_column_stats(raw)
            if mm is not None:
                mns.append(mm[0])
                mxs.append(mm[1])
        if len(mns) == len(tails) and not isinstance(mns[0], bool):
            # bool "bounds" come from bucket counts — not re-emittable
            merged[tid] = (n_total, has_null, min(mns), max(mxs))
        else:
            merged[tid] = (n_total, has_null, None, None)
    return merged


def merge_orc_files(paths: list[str], out_path: str, filesystem=None,
                    io_retries: int = 2,
                    out_filesystem=_SAME_AS_INPUTS) -> dict:
    """Merge ORC files into ONE by byte-copying stripes (never decoding)
    and writing a fresh tail. Inputs must share the type tree, the
    compression kind, and the row-index stride (validated; ValueError
    otherwise). Paths may be ``scheme://`` URIs — all inputs and the
    output resolve through the same filesystem rules as orc_scan.

    Returns ``{"files": n_inputs, "stripes": n, "rows": n, "bytes": n}``
    (bytes = final output size). The output is written to a ``.tmp``
    sibling and renamed into place, so a crash mid-merge never leaves a
    half-written ``.orc`` for listings to trip on. ``out_filesystem``
    overrides the output's filesystem when it differs from the inputs'
    (defaults to ``filesystem``)."""
    if not paths:
        raise ValueError("merge_orc_files needs at least one input path")
    resolved = []
    for p in paths:
        fs, fp = (filesystem, p) if filesystem is not None else fsio.resolve(p)
        resolved.append((fs, fp))
    if out_filesystem is _SAME_AS_INPUTS:
        out_fs, out_fp = ((filesystem, out_path) if filesystem is not None
                          else fsio.resolve(out_path))
    else:
        out_fs, out_fp = out_filesystem, out_path
    tails = [
        fsio.call_with_io_retries(
            lambda fs=fs, fp=fp: _read_tail_raw(fp, fs), io_retries)
        for fs, fp in resolved
    ]
    _validate_mergeable(tails)

    # every input carries exactly one StripeStatistics per stripe, or the
    # merged Metadata section is dropped (a partial list would misalign
    # stripe_stats[i] with stripes[i] and prune WRONG stripes)
    keep_stripe_stats = all(
        len(t.stripe_stats_raw) == len(t.meta.stripes) for t in tails)

    tmp_path = out_fp + ".tmp"
    out = fsio.open_output(tmp_path, out_fs)
    try:
        out.write(MAGIC)
        pos = len(MAGIC)
        stripe_infos: list[bytes] = []
        total_rows = 0
        n_stripes = 0
        for (fs, fp), t in zip(resolved, tails):
            if not t.meta.stripes:
                continue
            # NOTE: stripe-copy reads are NOT retried in-task — a retry
            # after a partial read would double-write into `out`. A
            # transient failure here fails the whole bin and Spark's task
            # retry redoes it (bins are idempotent: tmp-then-rename).
            with fsio.open_input(fp, fs) as fh:
                for si in t.meta.stripes:
                    length = (si.index_length + si.data_length
                              + si.footer_length)
                    fh.seek(si.offset)
                    left = length
                    while left:
                        chunk = fh.read(min(left, _COPY_CHUNK))
                        if not chunk:
                            raise ValueError(
                                f"truncated stripe in {fp!r}: expected "
                                f"{length} bytes at offset {si.offset}")
                        out.write(chunk)
                        left -= len(chunk)
                    stripe_infos.append(
                        _pb_field(1, 0, pos)
                        + _pb_field(2, 0, si.index_length)
                        + _pb_field(3, 0, si.data_length)
                        + _pb_field(4, 0, si.footer_length)
                        + _pb_field(5, 0, si.number_of_rows))
                    pos += length
                    total_rows += si.number_of_rows
                    n_stripes += 1
        stripe_stats = ([s for t in tails for s in t.stripe_stats_raw]
                        if keep_stripe_stats else [])
        _emit_file_tail(
            out, pos - len(MAGIC), stripe_infos, stripe_stats,
            tails[0].meta.types, total_rows, _merge_file_stats(tails),
            tails[0].meta.row_index_stride, tails[0].meta.compression,
            block_size=max(t.meta.block_size for t in tails) or None,
            software=_merged_software(tails))
    finally:
        out.close()
    fsio.rename(tmp_path, out_fp, out_fs)
    forget_reader(out_fp, out_fs)
    return {"files": len(paths), "stripes": n_stripes, "rows": total_rows,
            "bytes": fsio.file_size(out_fp, out_fs)}


def plan_bins(sizes: list[tuple[str, int]],
              target_bytes: int) -> list[list[str]]:
    """First-fit-decreasing bin packing of (path, size) into bins of at
    most ``target_bytes`` (a file larger than the target gets its own
    bin — compaction never splits files). Deterministic: ties broken by
    path so the same listing always plans the same bins."""
    bins: list[tuple[int, list[str]]] = []
    for path, size in sorted(sizes, key=lambda x: (-x[1], x[0])):
        for i, (used, members) in enumerate(bins):
            if used + size <= target_bytes:
                bins[i] = (used + size, members + [path])
                break
        else:
            bins.append((size, [path]))
    return [members for _, members in bins]


def compact_orc(spark, path: str, out_dir: str, target_bytes: int = 256 << 20,
                filesystem=None, io_retries: int = 2):
    """Distributed small-file compaction: list ``path``'s ORC files, pack
    them into ~``target_bytes`` bins, and stripe-copy-merge each bin in
    its own Spark task. Returns the manifest DataFrame
    ``(out_path, n_files, n_stripes, n_rows, n_bytes)`` — one row per
    output file written to ``out_dir`` as ``part-NNNNN.orc``.

    Scale shape: the plan is one driver listing (sizes only — tails are
    read inside tasks); the work is one task per OUTPUT file doing pure
    sequential byte copy, so a million-file corpus compacts at aggregate
    object-store bandwidth with no shuffle and no decode. Inputs are NOT
    deleted — the caller swaps directories after verifying the manifest
    (the same publish discipline as the orcx two-phase commit)."""
    from pyspark.sql import functions as F  # noqa: N812
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    fs, root = ((filesystem, path) if filesystem is not None
                else fsio.resolve(path))
    # ONE listing round trip carries the sizes too — a per-file stat
    # loop here was the exact driver-side planning bottleneck the
    # distributed tail-parse path exists to avoid (code-review r7)
    sizes = fsio.list_files_with_sizes(root, fs)
    if not sizes:
        raise FileNotFoundError(f"no .orc files under {path!r}")
    bins = plan_bins(sizes, target_bytes)
    out_fs, out_root = ((filesystem, out_dir) if filesystem is not None
                        else fsio.resolve(out_dir))
    fsio.makedirs(out_root, out_fs)
    rows = [(i, members, fsio.join(out_root, f"part-{i:05d}.orc"))
            for i, members in enumerate(bins)]
    schema = StructType([
        StructField("bin_id", LongType()),
        StructField("paths", StringType()),
        StructField("out_path", StringType()),
    ])
    import json as _json

    df = spark.createDataFrame(
        [(i, _json.dumps(m), o) for i, m, o in rows], schema)

    manifest_schema = StructType([
        StructField("out_path", StringType()),
        StructField("n_files", LongType()),
        StructField("n_stripes", LongType()),
        StructField("n_rows", LongType()),
        StructField("n_bytes", LongType()),
    ])

    def _merge_bins(iterator):
        import pandas as pd

        for pdf in iterator:
            out = []
            for _, row in pdf.iterrows():
                members = _json.loads(row["paths"])
                res = merge_orc_files(members, row["out_path"],
                                      filesystem=fs, io_retries=io_retries,
                                      out_filesystem=out_fs)
                out.append((row["out_path"], res["files"], res["stripes"],
                            res["rows"], res["bytes"]))
            yield pd.DataFrame(
                out, columns=[f.name for f in manifest_schema.fields])

    return (df.repartition(len(rows), F.col("bin_id"))
            .mapInPandas(_merge_bins, schema=manifest_schema))
