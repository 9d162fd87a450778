"""In-memory span tracer that wraps the engine's layer functions from the
outside.

Each wrapper is installed at the module attribute its callers read (for
example ``operators.encode.encode_rlev2``, or ``codecs.block.compress_stream``
which every caller reaches through the module), records one span per call
and adds the call's counts. Spans stay in memory and are written out once,
at the end of a run. A layer's self time is its span time minus the time
covered by the spans opened inside it.

Never run a Spark job while targets are patched: the patched functions
live in this process only, and the jobs would ship closures that refer
to them.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans and counters of one traced run. Not shared between threads:
    spans opened on another thread would nest under the wrong parent."""

    def __init__(self) -> None:
        self.spans: list[tuple[int, int | None, str, float, float]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.total_s: dict[str, float] = defaultdict(float)
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._stack: list[list] = []
        self._next_id = 0
        self._owner = threading.get_ident()

    def _enter(self, name: str) -> list:
        if threading.get_ident() != self._owner:
            raise RuntimeError("Tracer used from a second thread")
        parent = self._stack[-1][0] if self._stack else None
        frame = [self._next_id, name, parent, time.perf_counter(), 0.0]
        self._next_id += 1
        self._stack.append(frame)
        return frame

    def _exit(self, frame: list) -> None:
        end = time.perf_counter()
        self._stack.pop()
        sid, name, parent, start, child = frame
        dur = end - start
        self.total_s[name] += dur
        self.self_s[name] += dur - child
        self.calls[name] += 1
        if self._stack:
            self._stack[-1][4] += dur
        self.spans.append((sid, parent, name, start, end))

    @contextmanager
    def span(self, name: str):
        frame = self._enter(name)
        try:
            yield
        finally:
            self._exit(frame)

    def root_time(self) -> float:
        """Total duration of the root spans."""
        return sum(e - s for _, p, _, s, e in self.spans if p is None)

    def wrap(self, fn, name: str | None, count=None):
        """Wrap ``fn``: one span named ``name`` per call (none when
        ``name`` is None), then ``count(counts, args, kwargs, result)``."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            frame = tracer._enter(name) if name is not None else None
            try:
                out = fn(*args, **kwargs)
            finally:
                if frame is not None:
                    tracer._exit(frame)
            if count is not None:
                count(tracer.counts, args, kwargs, out)
            return out

        return traced

    def write(self, path) -> None:
        """Write every span as one JSON line: id, parent, name, start, end."""
        with open(path, "w") as fh:
            for sid, parent, name, start, end in sorted(self.spans):
                fh.write(json.dumps({"id": sid, "parent": parent, "name": name,
                                     "start": start, "end": end}) + "\n")


@contextmanager
def patched(tracer: Tracer, targets):
    """Install ``tracer`` wrappers at ``(module, attr, span_name, count)``
    targets and restore the originals on exit. One function reached
    through several names gets one wrapper, so each call is one span."""
    saved = []
    wrappers: dict[tuple[int, str | None], object] = {}
    try:
        for module, attr, name, count in targets:
            orig = getattr(module, attr)
            key = (id(orig), name)
            if key not in wrappers:
                wrappers[key] = tracer.wrap(orig, name, count)
            saved.append((module, attr, orig))
            setattr(module, attr, wrappers[key])
        yield tracer
    finally:
        for module, attr, orig in reversed(saved):
            setattr(module, attr, orig)


# --- counters ---------------------------------------------------------------


def _count_encode_chunk(counts, args, kwargs, out) -> None:
    counts["operators.encode.raw_bytes"] += sum(out.column("raw_bytes").to_pylist())


def _count_compress(counts, args, kwargs, out) -> None:
    raw = args[0] if args else kwargs["raw"]
    counts["codecs.block.bytes_in"] += len(raw)
    counts["codecs.block.bytes_out"] += len(out)
    pos = 0
    while pos < len(out):  # 3-byte ORC block headers: (length << 1) | original
        header = int.from_bytes(out[pos: pos + 3], "little")
        counts["codecs.block.blocks"] += 1
        counts["codecs.block.original_blocks"] += header & 1
        pos += 3 + (header >> 1)


def _count_rle_encode(counts, args, kwargs, out) -> None:
    counts["codecs.rle_v2.values_encoded"] += len(args[0] if args else kwargs["values"])


def _count_rle_decode(counts, args, kwargs, out) -> None:
    counts["codecs.rle_v2.values_decoded"] += args[1] if len(args) > 1 else kwargs["n"]


def _count_selector(counts, args, kwargs, out) -> None:
    codec, detail = out
    counts["codecs.selector.fsst_trials"] += "fsst_sample_gain" in detail
    counts["codecs.selector.fsst_wins"] += codec == "fsst"


def _count_prune(counts, args, kwargs, out) -> None:
    counts["sources.orc_file.stripes_kept"] += len(out)
    counts["sources.orc_file.stripes_total"] += len(args[0].stripes)


def _count_lookup(counts, args, kwargs, out) -> None:
    table, decoded, total = out
    counts["sources.orc_file.lookups"] += 1
    counts["sources.orc_file.groups_decoded"] += decoded
    counts["sources.orc_file.groups_total"] += total
    if table.num_rows == 0:
        counts["codecs.bloom.misses"] += 1
        counts["codecs.bloom.miss_groups_decoded"] += decoded


class _CountingFile:
    """File proxy that counts the bytes read through it."""

    def __init__(self, fh, counts) -> None:
        self._fh = fh
        self._counts = counts

    def read(self, *args):
        data = self._fh.read(*args)
        self._counts["sources.fsio.bytes_read"] += len(data)
        return data

    def __enter__(self):
        self._fh.__enter__()
        return self

    def __exit__(self, *exc):
        return self._fh.__exit__(*exc)

    def __getattr__(self, name):
        return getattr(self._fh, name)


def _counting_open(open_input, counts):
    @functools.wraps(open_input)
    def opened(*args, **kwargs):
        counts["sources.fsio.opens"] += 1
        return _CountingFile(open_input(*args, **kwargs), counts)

    return opened


def layer_targets() -> list[tuple]:
    """The engine functions the benchmark wraps, at the names their
    callers import. Span names are ``<package>.<module>[.<op>]``."""
    from orc_rust_spark.codecs import block, rle_v2, selector
    from orc_rust_spark.operators import decode, encode
    from orc_rust_spark.sources import orc_file

    return [
        (encode, "encode_chunk", "operators.encode", _count_encode_chunk),
        (decode, "decode_chunk_arrays", "operators.decode", None),
        (block, "compress_stream", "codecs.block.compress", _count_compress),
        (block, "decompress_stream", "codecs.block.decompress", None),
        (encode, "encode_rlev2", "codecs.rle_v2.encode", _count_rle_encode),
        # the ORC writer imports encode_rlev2 inside its functions
        (rle_v2, "encode_rlev2", "codecs.rle_v2.encode", _count_rle_encode),
        (decode, "decode_rlev2", "codecs.rle_v2.decode", _count_rle_decode),
        (orc_file, "decode_rlev2", "codecs.rle_v2.decode", _count_rle_decode),
        (encode, "choose_string_codec", "codecs.selector", _count_selector),
        (selector, "choose_string_codec", "codecs.selector", _count_selector),
        (encode, "string_chunk_stats", "codecs.selector", None),
        (selector, "string_chunk_stats", "codecs.selector", None),
        (encode, "integer_chunk_stats", "codecs.selector", None),
        (encode, "fsst_encode", "codecs.fsst.encode", None),
        (selector, "fsst_encode", "codecs.fsst.encode", None),
        (encode, "sorted_dictionary", "codecs.string_codec.dict", None),
        (encode, "split_timestamp_us", "codecs.timestamp_split", None),
        (decode, "combine_timestamp_us", "codecs.timestamp_split", None),
        (orc_file, "write_orc", "sources.orc_file.write", None),
        (orc_file, "orc_to_table", "sources.orc_file.scan", None),
        (orc_file, "orc_point_lookup", "sources.orc_file.lookup", _count_lookup),
        (orc_file, "read_metadata", "sources.orc_file.read_metadata", None),
        (orc_file, "decode_stripe", "sources.orc_file.decode_stripe", None),
        (orc_file, "decode_stripe_pruned", "sources.orc_file.decode_stripe", None),
        (orc_file, "prune_stripes", None, _count_prune),
    ]


@contextmanager
def traced_engine(tracer: Tracer):
    """Patch every layer target plus ``fsio.open_input`` for ``tracer``."""
    from orc_rust_spark.sources import fsio

    orig_open = fsio.open_input
    fsio.open_input = _counting_open(orig_open, tracer.counts)
    try:
        with patched(tracer, layer_targets()):
            yield tracer
    finally:
        fsio.open_input = orig_open
