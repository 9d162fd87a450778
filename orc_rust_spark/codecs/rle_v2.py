"""ORC RLEv2 integer run-length encoding (public Apache ORC v1 spec).

Four sub-encodings, selected per block of <= 512 values:

- SHORT_REPEAT  header ``00wwwccc`` + big-endian value        (3-10 repeats)
- DIRECT        ``01`` + 5-bit width code + 9-bit (len-1), bit-packed values
- PATCHED_BASE  ``10`` + 4-byte header; frame-of-reference (value - min)
                bit-packed at the 95th-percentile width, outliers patched
                via a (gap, patch-bits) list
- DELTA         ``11`` + 5-bit width code + 9-bit (len-1); varint base +
                signed-varint first delta + bit-packed |deltas|

The encoder reproduces the ORC writer heuristics — the run state machine
(fixed runs of >= 3 -> short-repeat/fixed-delta; variable spans chunked at
512 through the sub-encoding selector) and the percentile-bit-width based
DIRECT vs PATCHED_BASE choice.

It works on blocks, not runs. The fixed runs come from one array pass
over the equal-value runs; the spans between them are cut into 512-value
blocks plus a short tail block each. Blocks of one length, from anywhere
in the stream, go through the selector together as a ``(k, m)`` matrix
of up to ``batch_values`` values, and the encoded runs are joined in
stream order at the end. The cap is BATCH_VALUES (4 blocks) for the
chunk-table encoder, which runs inside Spark's Python workers and must
keep their temporaries small, and FILE_BATCH_VALUES (32 blocks) for the
ORC file writer, where it makes one batch per block length of a row
group piece. The bytes are the same at any cap. DIRECT and DELTA blocks are bit-packed per batch and
width, PATCHED_BASE blocks one at a time. Python loops run once per fixed
run, span, batch and width group, and once per emitted block; no loop
runs per value.

The decoder mirrors it in two passes. One walk over the run headers
records each run's shape, where its packed values start and where its
values go in the output. Then runs of one shape are decoded together, in
batches of up to DECODE_BATCH_VALUES int64s' bytes: DIRECT runs of one
(width, length) are unpacked as one ``(k, nbytes)`` matrix (consecutive
ones are a strided view of the stream, as they sit a header plus
``nbytes`` apart) and un-zigzagged once, in the width's own 8, 16 or
32-bit dtype where it has one (with ``narrow`` the output keeps the
narrowest dtype the runs prove); bit-packed DELTA runs of one shape are
unpacked and summed row-wise, and fixed DELTA runs of one length are
computed together. SHORT_REPEAT runs are filled and PATCHED_BASE runs
decoded one at a time. A stream that ends before its runs do raises
CorruptStream.

Reference parity (behavioral, not code): the state machine and selector in
src/encoding/integer/rle_v2/mod.rs:255-531 and the per-sub-encoding readers
and writers in rle_v2/{short_repeat,direct,delta,patched_base}.rs. Golden
byte vectors from the reference's unit tests (rle_v2/mod.rs:558-692) are
asserted in tests/test_rle_v2.py.

Signedness: ``signed=True`` zigzags values for SHORT_REPEAT/DIRECT and
varint bases; PATCHED_BASE never zigzags (sign-MSB base); DELTA zigzags
only the base varint.

Values are int64 throughout (unsigned semantics live in the uint64 view).
"""

from __future__ import annotations

import numpy as np

from .util import (
    CorruptStream,
    bitpack,
    bitpack_rows,
    bits_required_scalar,
    bitunpack,
    bitunpack_rows,
    closest_aligned_bits_array,
    closest_fixed_bits,
    decode_bit_width,
    encode_bit_width,
    percentile_bits_rows,
    read_signed_varint,
    read_varint,
    write_signed_varint,
    write_varint,
    zigzag_decode,
    zigzag_encode,
    zigzag_encode_scalar,
)

MAX_RUN_LENGTH = 512
MIN_REPEAT = 3
MAX_SHORT_REPEAT = 10
# bases at or above 2**56 don't fit the patched-base BW field safely
BASE_VALUE_LIMIT = 1 << 56
# values per selector batch, by caller. The batch size never changes the
# bytes, only how many Python-level selector passes a stream costs and
# how large each pass's temporaries are.
# - BATCH_VALUES (4 full blocks, the default): the chunk-table encoder
#   (encode_chunk, run by encode_table inside Spark's Python workers) and
#   every other caller. It bounds each batch temporary to 16 KB whatever
#   the stream length. Those workers never give freed memory back
#   (session.MALLOC_ENV), and 32-block batches there, though ~1.5x faster,
#   left the heap fragmented enough that a later decode extended it
#   (webtext_encode peak worker RSS +4% median).
# - FILE_BATCH_VALUES (32 full blocks): the ORC file writer
#   (orc_file._encode_indexed_column and _encode_indexed_tree), whose
#   streams are one row group piece each, so one batch per block length
#   covers a whole 10,000-value piece. write_orc spent ~18% less CPU than
#   with 4-block batches on the lineitem-shaped perfbench orc_lookup
#   table (4-vCPU x86 host).
BATCH_VALUES = 4 * MAX_RUN_LENGTH
FILE_BATCH_VALUES = 32 * MAX_RUN_LENGTH
# int64 values per reader batch of same-shape runs: bounds each batch's
# unpacked matrix and its zigzag or cumsum temporaries to 32 KB, for the
# same reason (a DIRECT width that unpacks narrower holds more values)
DECODE_BATCH_VALUES = 8 * MAX_RUN_LENGTH

_U64 = np.uint64


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------


def encode_rlev2(values: np.ndarray, signed: bool = True, *,
                 batch_values: int = BATCH_VALUES) -> bytes:
    """Encode an int64 (or uint64-viewed) array as an ORC RLEv2 stream.

    ``batch_values`` caps the values per selector batch (see
    BATCH_VALUES); the output does not depend on it."""
    v = np.ascontiguousarray(values, dtype=np.int64)
    if v.size == 0:
        return b""

    # maximal equal-value runs
    change = np.flatnonzero(v[1:] != v[:-1]) + 1
    starts = np.concatenate(([0], change))
    lengths = np.diff(np.concatenate((starts, [v.size])))
    # Adaptive fixed-run threshold: churn-heavy data (mean run < MIN_REPEAT,
    # e.g. dictionary indexes of a low-cardinality column) would fragment
    # into one segment per 3-value repeat, each paying header-emission
    # overhead, while a 3-10 repeat saves almost nothing over packed-literal
    # DIRECT blocks at small bit widths. Folding short repeats into the
    # 512-value variable blocks is equally spec-valid RLEv2 (the reader
    # accepts any run mix) and both faster and smaller on such data. Runs
    # >= 12 still become fixed-delta/short-repeat runs.
    mean_run = v.size / starts.size
    fixed_threshold = MIN_REPEAT if mean_run >= MIN_REPEAT else 12
    fixed = np.flatnonzero(lengths >= fixed_threshold)

    # Every emitted run covers a value range; collect (range start, bytes)
    # and join in start order. Fixed runs are written here; the variable
    # spans between them (and fixed-run tails too short to repeat) become
    # blocks, grouped by length for the selector.
    keys: list[int] = []
    pieces: list[bytes] = []
    blocks: dict[int, list[int]] = {}  # block length -> block starts
    pos = 0
    for start, length, value in zip(starts[fixed].tolist(), lengths[fixed].tolist(),
                                     v[starts[fixed]].tolist()):
        if pos < start:
            _add_span(blocks, pos, start)
        _fixed_run(keys, pieces, blocks, start, length, value, signed)
        pos = start + length
    if pos < v.size:
        _add_span(blocks, pos, v.size)

    for m, block_starts in blocks.items():
        step = max(1, batch_values // m)
        for a in range(0, len(block_starts), step):
            batch = block_starts[a:a + step]
            first = batch[0]
            # starts rise at least m apart, so this span means adjacent blocks
            if batch[-1] - first == m * (len(batch) - 1):
                lit = v[first:first + m * len(batch)].reshape(-1, m)
            else:
                lit = v[np.array(batch)[:, None] + np.arange(m)]
            keys += batch
            pieces += _encode_blocks(lit, signed)
    return b"".join([pieces[i] for i in np.argsort(keys).tolist()])


def _add_span(blocks: dict, lo: int, hi: int) -> None:
    """Cut the variable span [lo, hi) into 512-value blocks and a short
    tail block."""
    full = lo + (hi - lo) // MAX_RUN_LENGTH * MAX_RUN_LENGTH
    if full > lo:
        blocks.setdefault(MAX_RUN_LENGTH, []).extend(range(lo, full, MAX_RUN_LENGTH))
    if hi > full:
        blocks.setdefault(hi - full, []).append(full)


def _fixed_run(keys: list, pieces: list, blocks: dict, start: int, length: int,
               value: int, signed: bool) -> None:
    """A run of one value, in pieces of <= 512: SHORT_REPEAT for 3-10
    values, fixed DELTA (delta 0) above, and a block for a 1-2 value
    tail."""
    u = zigzag_encode_scalar(value) if signed else value & ((1 << 64) - 1)
    while length > 0:
        take = min(length, MAX_RUN_LENGTH)
        if take < MIN_REPEAT:
            blocks.setdefault(take, []).append(start)
        else:
            keys.append(start)
            if take <= MAX_SHORT_REPEAT:
                pieces.append(_short_repeat(u, take))
            else:
                pieces.append(_delta_head(take, 0, u, 0))
        start += take
        length -= take


def _short_repeat(u: int, count: int) -> bytes:
    width_bytes = max(1, (bits_required_scalar(u) + 7) // 8)
    return (bytes((((width_bytes - 1) << 3) | (count - MIN_REPEAT),))
            + u.to_bytes(width_bytes, "big"))


def _encode_blocks(lit: np.ndarray, signed: bool) -> list[bytes]:
    """The sub-encoding selector over a ``(k, m)`` matrix of k blocks of m
    literals each, computed row-wise for the whole batch -> the k encoded
    blocks:

    - m <= 3: DIRECT;
    - all deltas equal: fixed DELTA;
    - first delta != 0 and the row monotone: DELTA at the aligned width
      of ``max |deltas[1:]|`` (at least 2);
    - 100th - 90th percentile width <= 1: DIRECT;
    - otherwise a PATCHED_BASE candidate, written per block, which falls
      back to DIRECT.

    DIRECT and DELTA blocks are bit-packed in batches that share a width.
    """
    k, m = lit.shape
    zz = zigzag_encode(lit) if signed else lit.view(np.uint64)
    zz100 = percentile_bits_rows(zz, 1.0)
    direct = np.ones(k, dtype=bool)
    pieces: list[bytes | None] = [None] * k
    if m > MIN_REPEAT:
        deltas = np.diff(lit, axis=1)
        dmin = deltas.min(axis=1)
        dmax = deltas.max(axis=1)
        fixed = dmin == dmax
        # the first delta tells the reader the direction, so must be != 0
        mono = (deltas[:, 0] != 0) & ~fixed & ((dmin >= 0) | (dmax <= 0))
        direct = ~(fixed | mono)
        for r in np.flatnonzero(fixed).tolist():
            pieces[r] = _delta_head(m, 0, int(zz[r, 0]), int(deltas[r, 0]))
        if mono.any():
            _delta_rows(pieces, np.flatnonzero(mono), zz, deltas, m)
        if direct.any():
            rows = np.flatnonzero(direct)
            patch = zz100[rows] - percentile_bits_rows(zz[rows], 0.9) > 1
            if patch.any():
                _patched_rows(pieces, rows[patch], lit)
                direct = np.array([p is None for p in pieces])
    if direct.any():
        _direct_rows(pieces, np.flatnonzero(direct), zz, zz100, m)
    return pieces


def _delta_head(n: int, width: int, base_u: int, first_delta: int) -> bytes:
    """DELTA header, varint base and signed-varint first delta."""
    code = 0 if width == 0 else encode_bit_width(width) << 1
    return (bytes((0xC0 | code | ((n - 1) >> 8), (n - 1) & 0xFF))
            + write_varint(base_u) + write_signed_varint(first_delta))


def _delta_rows(pieces: list, rows: np.ndarray, zz: np.ndarray,
                deltas: np.ndarray, n: int) -> None:
    """Monotone DELTA blocks: |deltas[1:]| packed per width group."""
    mags = np.abs(deltas[rows, 1:]).view(np.uint64)
    widths = closest_aligned_bits_array(np.maximum(percentile_bits_rows(mags, 1.0), 2))
    for width in sorted(set(widths.tolist())):
        sel = np.flatnonzero(widths == width)
        packed = bitpack_rows(mags[sel], width)
        for r, row in zip(rows[sel].tolist(), packed):
            pieces[r] = _delta_head(n, width, int(zz[r, 0]), int(deltas[r, 0])) + row.tobytes()


def _direct_rows(pieces: list, rows: np.ndarray, zz: np.ndarray,
                 zz100: np.ndarray, n: int) -> None:
    """DIRECT blocks, packed and given their headers per width group."""
    widths = closest_aligned_bits_array(zz100[rows])
    for width in sorted(set(widths.tolist())):
        sel = rows[widths == width]
        packed = bitpack_rows(zz[sel], width)
        block = np.empty((sel.size, 2 + packed.shape[1]), dtype=np.uint8)
        block[:, 0] = 0x40 | (encode_bit_width(width) << 1) | ((n - 1) >> 8)
        block[:, 1] = (n - 1) & 0xFF
        block[:, 2:] = packed
        for r, row in zip(sel.tolist(), block):
            pieces[r] = row.tobytes()


def _patched_rows(pieces: list, rows: np.ndarray, lit: np.ndarray) -> None:
    """PATCHED_BASE candidates; a block that cannot be patched (base or
    range too wide, 95th == 100th percentile of the reduced widths, or
    too many patches) keeps its piece None and goes DIRECT."""
    cand = lit[rows]
    lo = cand.min(axis=1)
    # overflow / base-size guards -> DIRECT: |lo| >= 2**56, or a range
    # hi - lo past int64 (its int64 difference wraps negative)
    ok = (lo > -BASE_VALUE_LIMIT) & (lo < BASE_VALUE_LIMIT)
    ok &= cand.max(axis=1) - lo >= 0
    reduced = (cand - lo[:, None]).view(np.uint64)
    br100 = percentile_bits_rows(reduced, 1.0)
    br95 = percentile_bits_rows(reduced, 0.95)
    for i in np.flatnonzero(ok & (br100 != br95)).tolist():
        piece = bytearray()
        if _write_patched_base(piece, cand[i], reduced[i], int(lo[i]),
                               int(br95[i]), int(br100[i])):
            pieces[int(rows[i])] = bytes(piece)


def _write_patched_base(
    out: bytearray,
    literals: np.ndarray,
    reduced: np.ndarray,
    base: int,
    br95: int,
    br100: int,
) -> bool:
    """Write a PATCHED_BASE run; return False to fall back to DIRECT."""
    n = literals.size
    width = br95
    patch_width = closest_fixed_bits(br100 - br95)
    if patch_width == 64:
        patch_width = 56
        width = 8
    mask = _U64((1 << width) - 1)
    outlier_idx = np.flatnonzero(reduced > mask)
    if outlier_idx.size == 0:
        return False
    patches = (reduced[outlier_idx] >> _U64(width)).tolist()
    # gaps between consecutive patches (first gap from index 0)
    gaps = np.empty(outlier_idx.size, dtype=np.int64)
    gaps[0] = outlier_idx[0]
    gaps[1:] = np.diff(outlier_idx)
    # split gaps > 255 with jump patches (gap 255, patch 0)
    entries: list[tuple[int, int]] = []
    for g, p in zip(gaps.tolist(), patches):
        while g > 255:
            entries.append((255, 0))
            g -= 255
        entries.append((g, int(p)))
    if len(entries) > 31:
        return False
    max_gap = max(g for g, _ in entries)
    gap_width = closest_fixed_bits(bits_required_scalar(max_gap))
    if gap_width + patch_width > 64:
        gap_width = 64 - patch_width
        if bits_required_scalar(max_gap) > gap_width:
            return False
    # base value: sign-MSB, minimal whole bytes
    negative = base < 0
    base_mag = -base if negative else base
    base_bits = bits_required_scalar(base_mag) + 1  # +1 sign bit
    base_bytes = max(1, (base_bits + 7) // 8)
    base_word = base_mag | (1 << (base_bytes * 8 - 1)) if negative else base_mag

    out.append(0x80 | (encode_bit_width(width) << 1) | ((n - 1) >> 8))
    out.append((n - 1) & 0xFF)
    out.append(((base_bytes - 1) << 5) | encode_bit_width(patch_width))
    out.append(((gap_width - 1) << 5) | len(entries))
    out.extend(base_word.to_bytes(base_bytes, "big"))
    out.extend(bitpack(reduced & mask, width))
    entry_vals = np.array([(g << patch_width) | p for g, p in entries], dtype=np.uint64)
    # Java/C++ ORC pack the patch list at closestFixedBits(gap+patch)
    # (RunLengthIntegerWriterV2.preparePatchedBlob) — packing at the raw
    # sum made every run whose sum is not itself a fixed-bit size
    # unreadable by real ORC readers (silent corruption / ParseError;
    # code-review r6, differential-tested both directions)
    out.extend(bitpack(entry_vals, closest_fixed_bits(gap_width + patch_width)))
    return True


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------


def _run_extent(buf, pos: int) -> tuple[int, int]:
    """(value_count, next_pos) of the run at ``pos`` WITHOUT decoding values
    — run-header arithmetic only (reference skip parity: E19,
    rle_v2/mod.rs:148-175)."""
    h = buf[pos]
    enc = h >> 6
    if enc == 0:  # short repeat
        width_bytes = ((h >> 3) & 0x7) + 1
        return (h & 0x7) + MIN_REPEAT, pos + 1 + width_bytes
    if enc == 1:  # direct
        width = decode_bit_width((h >> 1) & 0x1F)
        n = (((h & 1) << 8) | buf[pos + 1]) + 1
        return n, pos + 2 + (n * width + 7) // 8
    if enc == 2:  # patched base
        n = (((h & 1) << 8) | buf[pos + 1]) + 1
        width = decode_bit_width((h >> 1) & 0x1F)
        base_bytes = ((buf[pos + 2] >> 5) & 0x7) + 1
        patch_width = decode_bit_width(buf[pos + 2] & 0x1F)
        gap_width = ((buf[pos + 3] >> 5) & 0x7) + 1
        pll = buf[pos + 3] & 0x1F
        nxt = pos + 4 + base_bytes + (n * width + 7) // 8
        nxt += (pll * closest_fixed_bits(gap_width + patch_width) + 7) // 8
        return n, nxt
    # delta: must walk the two varints
    width_code = (h >> 1) & 0x1F
    width = 0 if width_code == 0 else decode_bit_width(width_code)
    n = (((h & 1) << 8) | buf[pos + 1]) + 1
    p = pos + 2
    _, p = read_varint(buf, p)
    # the delta-base varint is ALWAYS present, even for n == 1 (the same
    # old-Hive contract the reader's walk honors below — skipping it here
    # desynchronized the SEEK path on exactly the files the full-decode
    # fix targets: next_pos landed inside the varint and the following
    # run header parsed as garbage)
    _, p = read_varint(buf, p)  # signed varint is varint-shaped
    if n > 1 and width:
        p += ((n - 2) * width + 7) // 8
    return n, p


def decode_rlev2(buf, n: int, signed: bool = True, skip: int = 0,
                 exact: bool = True, narrow: bool = False) -> np.ndarray:
    """Decode ``n`` int64 values from an ORC RLEv2 stream, optionally
    skipping ``skip`` values first (whole runs are skipped via header
    arithmetic without materializing). ``exact=False`` tolerates a stream
    that continues past the requested count (decoding a row group out of
    the middle of a stripe stream) and truncates the final run. With
    ``narrow`` the values come in the narrowest 8, 16 or 32-bit dtype
    (signed like the stream) that the runs prove holds them, where every
    run decoded is DIRECT or SHORT_REPEAT, and as int64 otherwise.

    A stream shorter than its run headers promise raises CorruptStream;
    ``exact=True`` raises ValueError when the runs overshoot ``n``."""
    size = len(buf)
    try:
        pos = 0
        head_trim = 0
        while skip > 0:
            count, nxt = _run_extent(buf, pos)
            if count <= skip:
                skip -= count
                pos = nxt
            else:
                head_trim = skip
                skip = 0
        if n == 0:
            return np.zeros(0, dtype=np.int64)
        # decode the partial first run fully, trim below
        runs = _RunWalk(buf, pos, n + head_trim, signed)
    except IndexError:
        raise CorruptStream(
            f"truncated RLEv2 stream: a run header runs past its {size} bytes") from None
    if runs.end > size:
        raise CorruptStream(
            f"truncated RLEv2 stream: runs need {runs.end} bytes, have {size}")
    if runs.got != n + head_trim and exact:
        raise ValueError(
            f"RLEv2 stream produced {runs.got} values, expected {n + head_trim}")
    out = np.empty(runs.got, dtype=_narrow_dtype(runs, signed) if narrow else np.int64)
    for o, count, value in runs.repeats:
        out[o : o + count] = value
    data = np.frombuffer(buf, dtype=np.uint8)
    for (width, count), (starts, outs) in runs.direct.items():
        _direct_groups(out, data, width, count, starts, outs, signed)
    for (width, count), group in runs.delta.items():
        _delta_groups(out, data, width, count, *group)
    for count, (outs, bases, firsts) in runs.fixed.items():
        _fixed_groups(out, count, outs, bases, firsts)
    for p, o in runs.patched:
        vals, _ = _read_patched_base(buf, p)
        out[o : o + vals.size] = vals
    return out[head_trim : head_trim + n]


_NARROW_DTYPES = {True: (np.int8, np.int16, np.int32), False: (np.uint8, np.uint16, np.uint32)}


def _narrow_dtype(runs: "_RunWalk", signed: bool) -> type:
    """The narrowest of the 8, 16 and 32-bit dtypes (signed like the
    stream) that holds every value of ``runs``: a DIRECT run of width w
    holds w-bit values (zigzagged ones when signed), a SHORT_REPEAT run
    its one value. int64 if any other run is among them."""
    if runs.delta or runs.fixed or runs.patched:
        return np.int64
    bits = max((width for width, _ in runs.direct), default=1)
    for _, _, value in runs.repeats:
        if signed:
            bits = max(bits, (value if value >= 0 else ~value).bit_length() + 1)
        else:
            bits = max(bits, value.bit_length() if value >= 0 else 64)
    for size, dtype in zip((8, 16, 32), _NARROW_DTYPES[signed]):
        if bits <= size:
            return dtype
    return np.int64


class _RunWalk:
    """One pass over the run headers from ``pos`` until ``want`` values are
    covered, sorting the runs by shape. Each run is recorded by where its
    packed values start in ``buf`` and where its values go in the output:

    - ``direct``: (width, length) -> data starts, output starts;
    - ``delta``: (width, length) -> data starts, output starts, bases,
      first deltas (bit-packed DELTA runs of three or more values);
    - ``fixed``: length -> output starts, bases, deltas (fixed DELTA runs
      with a non-zero delta, and two-value DELTA runs);
    - ``repeats``: (output start, length, value) of SHORT_REPEAT runs and
      of DELTA runs of one value;
    - ``patched``: (run start, output start) of PATCHED_BASE runs.

    ``got`` is the values covered and ``end`` the byte after the last run.
    Reading a header past the buffer raises IndexError; a run whose body
    ends past it shows as ``end > len(buf)``."""

    __slots__ = ("direct", "delta", "fixed", "repeats", "patched", "got", "end")

    def __init__(self, buf, pos: int, want: int, signed: bool):
        direct: dict = {}
        delta: dict = {}
        fixed: dict = {}
        repeats: list = []
        patched: list = []
        got = 0
        while got < want:
            h = buf[pos]
            enc = h >> 6
            if enc == 1:
                width = decode_bit_width((h >> 1) & 0x1F)
                count = (((h & 1) << 8) | buf[pos + 1]) + 1
                group = direct.get((width, count))
                if group is None:
                    group = direct[(width, count)] = ([], [])
                group[0].append(pos + 2)
                group[1].append(got)
                pos += 2 + (count * width + 7) // 8
            elif enc == 3:
                code = (h >> 1) & 0x1F
                count = (((h & 1) << 8) | buf[pos + 1]) + 1
                base, pos = read_varint(buf, pos + 2)
                base = _to_int64(((base >> 1) ^ -(base & 1)) if signed else base)
                # the delta-base varint is ALWAYS present, even for a
                # declared run length of 1 (old Hive ORIGINAL writers emit
                # such runs — decimal.orc scale stream): skipping it
                # desynchronized the stream and every following run parsed
                # as garbage (reference read_delta_values reads it
                # unconditionally, src/encoding/integer/rle_v2/delta.rs:73-92)
                first, pos = read_signed_varint(buf, pos)
                if count == 1 or (code == 0 and first == 0):
                    repeats.append((got, count, base))
                elif code == 0 or count == 2:
                    group = fixed.get(count)
                    if group is None:
                        group = fixed[count] = ([], [], [])
                    group[0].append(got)
                    group[1].append(base)
                    group[2].append(first)
                else:
                    width = decode_bit_width(code)
                    group = delta.get((width, count))
                    if group is None:
                        group = delta[(width, count)] = ([], [], [], [])
                    group[0].append(pos)
                    group[1].append(got)
                    group[2].append(base)
                    group[3].append(first)
                    pos += ((count - 2) * width + 7) // 8
            elif enc == 0:
                width_bytes = ((h >> 3) & 0x7) + 1
                count = (h & 0x7) + MIN_REPEAT
                u = int.from_bytes(buf[pos + 1 : pos + 1 + width_bytes], "big")
                repeats.append((got, count, _to_int64(((u >> 1) ^ -(u & 1)) if signed else u)))
                pos += 1 + width_bytes
            else:
                patched.append((pos, got))
                count, pos = _run_extent(buf, pos)
            got += count
        self.direct, self.delta, self.fixed = direct, delta, fixed
        self.repeats, self.patched = repeats, patched
        self.got, self.end = got, pos


def _to_int64(v: int) -> int:
    return v - (1 << 64) if v >= 1 << 63 else v


def _batch_runs(count: int, itemsize: int = 8) -> int:
    """Runs of ``count`` values per batch: as many values of ``itemsize``
    bytes as fit the bytes of DECODE_BATCH_VALUES int64s, and at least
    one run."""
    return max(1, DECODE_BATCH_VALUES * 8 // (itemsize * count))


def _packed_rows(data: np.ndarray, starts: list, nbytes: int, stride: int) -> np.ndarray:
    """The ``(k, nbytes)`` packed bytes of k runs starting at ``starts``.
    Runs ``stride`` bytes apart (consecutive runs of one DIRECT shape) are
    a strided view of the buffer; other rows are copied out."""
    k = len(starts)
    if stride and starts[-1] - starts[0] == stride * (k - 1):
        return np.ndarray((k, nbytes), dtype=np.uint8, buffer=data,
                          offset=starts[0], strides=(stride, 1))
    return np.concatenate([data[p : p + nbytes] for p in starts]).reshape(k, nbytes)


def _scatter(out: np.ndarray, outs: list, vals: np.ndarray) -> None:
    """Write the rows of ``vals`` to the output at ``outs``."""
    k, m = vals.shape
    if outs[-1] - outs[0] == m * (k - 1):
        out[outs[0] : outs[0] + k * m] = vals.reshape(-1)
    else:
        for o, row in zip(outs, vals):
            out[o : o + m] = row


#: bytes a value of each DIRECT width that bitunpack_rows unpacks narrow
#: takes (every other width unpacks to uint64)
_UNPACKED_BYTES = {1: 1, 2: 1, 4: 1, 8: 1, 16: 2, 24: 4, 32: 4}


def _direct_groups(out, data, width: int, count: int, starts: list, outs: list,
                   signed: bool) -> None:
    """DIRECT runs of one shape: one unpack and zigzag per batch, in the
    narrowest dtype of the width where it has one (so a batch of a
    narrow width holds more values in the same bytes); the values take
    ``out``'s dtype as they are written out."""
    nbytes = (count * width + 7) // 8
    step = _batch_runs(count, _UNPACKED_BYTES.get(width, 8))
    for a in range(0, len(starts), step):
        batch = slice(a, a + step)
        u = bitunpack_rows(_packed_rows(data, starts[batch], nbytes, 2 + nbytes),
                           count, width, narrow=True)
        _scatter(out, outs[batch], zigzag_decode(u) if signed else
                 u.view(np.int64) if u.dtype == np.uint64 else u)


def _delta_groups(out, data, width: int, count: int, starts: list, outs: list,
                  bases: list, firsts: list) -> None:
    """Bit-packed DELTA runs of one shape: the |deltas| after the first
    are unpacked per batch, signed by the first delta, and summed
    row-wise."""
    nbytes = ((count - 2) * width + 7) // 8
    step = _batch_runs(count)
    for a in range(0, len(starts), step):
        batch = slice(a, a + step)
        rows = _packed_rows(data, starts[batch], nbytes, 0)
        mags = bitunpack_rows(rows, count - 2, width)
        first = np.array(firsts[batch], dtype=np.int64)
        deltas = np.empty((first.size, count), dtype=np.int64)
        deltas[:, 0] = bases[batch]
        deltas[:, 1] = first
        np.multiply(mags.view(np.int64), np.where(first < 0, -1, 1)[:, None],
                    out=deltas[:, 2:])
        _scatter(out, outs[batch], np.cumsum(deltas, axis=1, out=deltas))


def _fixed_groups(out, count: int, outs: list, bases: list, firsts: list) -> None:
    """Fixed-delta runs of one length: base + delta * i, per batch."""
    steps = np.arange(count, dtype=np.int64)
    step = _batch_runs(count)
    for a in range(0, len(outs), step):
        batch = slice(a, a + step)
        vals = np.array(firsts[batch], dtype=np.int64)[:, None] * steps
        vals += np.array(bases[batch], dtype=np.int64)[:, None]
        _scatter(out, outs[batch], vals)


def _read_patched_base(buf, pos: int) -> tuple[np.ndarray, int]:
    h0, h1, h2, h3 = buf[pos], buf[pos + 1], buf[pos + 2], buf[pos + 3]
    width = decode_bit_width((h0 >> 1) & 0x1F)
    n = (((h0 & 1) << 8) | h1) + 1
    base_bytes = ((h2 >> 5) & 0x7) + 1
    patch_width = decode_bit_width(h2 & 0x1F)
    gap_width = ((h3 >> 5) & 0x7) + 1
    pll = h3 & 0x1F
    pos += 4
    base_word = int.from_bytes(bytes(buf[pos : pos + base_bytes]), "big")
    msb = 1 << (base_bytes * 8 - 1)
    base = -(base_word & (msb - 1)) if base_word & msb else base_word
    pos += base_bytes
    nbytes = (n * width + 7) // 8
    data = bitunpack(bytes(buf[pos : pos + nbytes]), n, width)
    pos += nbytes
    # patch-list entries are packed at closestFixedBits(gap+patch) by
    # every real ORC writer — reading at the raw sum desynced the stream
    # (code-review r6)
    entry_width = closest_fixed_bits(gap_width + patch_width)
    ebytes = (pll * entry_width + 7) // 8
    entries = bitunpack(bytes(buf[pos : pos + ebytes]), pll, entry_width)
    pos += ebytes
    idx = 0
    pmask = (1 << patch_width) - 1
    for e in entries.tolist():
        gap = e >> patch_width
        patch = e & pmask
        idx += gap
        if idx >= n:
            raise ValueError(
                f"malformed PATCHED_BASE run: patch index {idx} past "
                f"run length {n}")
        if patch:
            # the FIELD widths may sum past 64 (patch_width is rounded
            # up to a fixed-bit size); the VALUE must still fit int64 —
            # a clean parse error instead of a raw OverflowError on
            # corrupt streams (code-review r6)
            if patch.bit_length() + width > 64:
                raise ValueError(
                    "malformed PATCHED_BASE run: patched value exceeds "
                    "64 bits")
            data[idx] |= _U64(patch << width)
    return (data.view(np.int64) + base), pos
