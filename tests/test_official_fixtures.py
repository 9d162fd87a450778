"""Differential decode of the OFFICIAL Apache ORC example corpus.

The reference's integration suite (tests/integration/main.rs) decodes
these same files and compares against feather snapshots; our oracle is
pyarrow's liborc on the same bytes: every fixture BOTH readers can
decode must match bit-identically after casting to liborc's schema.

This sweep found and pinned three real bugs in r7:
- writer-tz conversion used pytz's 32-bit tables (LMT before 1901-12-13,
  no DST after 2038-01-19) — testDate1900 was 7m02s off, testDate2038 an
  hour off; fixed with stdlib zoneinfo (64-bit TZif, matches chrono-tz).
- RLEv2 delta runs of declared length 1 (old Hive ORIGINAL writers)
  still carry the delta-base varint; skipping it desynchronized the
  stream (decimal.orc's scale stream decoded garbage).
- pre-Hive-0.13 "unlimited" decimals omit precision/scale from the type;
  liborc defaults them to (38, 6) — presenting at declared scale 0
  truncated 1.2 to 1 (orc_split_elim.orc, orc-file-11-format.orc).
"""

import glob
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DATA = "/root/reference/tests/integration/data"

# fixtures liborc itself cannot read in this container (no oracle), or
# that use features that are out of contracted scope — each with why
SKIP = {
    # pyarrow/liborc raise on these (no oracle available):
    "TestOrcFile.testTimestamp.orc": "liborc ArrowNotImplementedError",
    "TestOrcFile.testWithoutCompressionBlockSize.orc":
        "liborc ArrowNotImplementedError",
    "zero.orc": "liborc OSError (not a valid ORC file?)",
    # ORCv2 preview format (UNSTABLE-PRE-2.0) — outside the v1 spec this
    # engine implements and absent from the reference's suite too:
    "decimal64_v2.orc": "ORCv2 preview decimal64 encoding",
    "decimal64_v2_cplusplus.orc": "ORCv2 preview decimal64 encoding",
    # sub-microsecond timestamps + a union column: covered by the
    # dedicated ns-unit test below (timestamp_unit="ns" matches liborc
    # bit-identically; the union column is a tagged struct by design —
    # its semantics are cross-checked in test_union_write.py):
    "TestOrcFile.testUnionAndTimestamp.orc": "see test_union_ts_ns_unit",
    # year-1 timestamp: OUR us decode is exact (-62135769600000000 us =
    # 0001-01-01T00:00:00) while liborc's ns representation silently
    # WRAPS int64 (-6795537378871345152 ns) — the oracle is wrong here,
    # so there is nothing to compare against:
    "timestamps_0001.orc": "liborc ns value wraps int64; ours exact in us",
}


def _fixtures():
    return sorted(
        os.path.basename(p) for p in glob.glob(f"{DATA}/*.orc"))


@pytest.mark.parametrize("name", _fixtures())
def test_matches_liborc(name):
    import pyarrow.orc as paorc

    from orc_rust_spark.sources.orc_file import orc_to_table

    if name in SKIP:
        pytest.skip(SKIP[name])
    path = f"{DATA}/{name}"
    ref = paorc.ORCFile(path).read()
    ours = orc_to_table(path)
    assert ours.num_rows == ref.num_rows
    assert ours.cast(ref.schema).equals(ref), f"value mismatch in {name}"


CORRUPT = sorted(
    os.path.basename(p) for p in glob.glob(f"{DATA}/corrupt/*.orc"))


@pytest.mark.parametrize("name", CORRUPT)
def test_corrupt_fixture_raises_cleanly(name):
    """The official corrupt/ fixtures (missing dictionary streams,
    negative lengths, out-of-range encodings) must surface as the
    engine's corrupt-file ValueError contract — never an internal
    IndexError or a leaked pyarrow validation error (r7; same contract
    the tail-parser fuzz pins for metadata)."""
    from orc_rust_spark.sources.orc_file import orc_to_table

    with pytest.raises(ValueError, match="corrupt"):
        orc_to_table(f"{DATA}/corrupt/{name}")


def test_union_ts_ns_unit():
    """timestamp_unit="ns" (r7): the reference's DEFAULT Arrow unit
    (schema.rs:35) for local liborc-parity reads. The sub-us guard that
    protects Spark's us grid does not apply at ns, so the full
    testUnionAndTimestamp file decodes — time and decimal columns match
    liborc bit-identically; the union column is our documented
    tagged-struct expansion (Spark has no union type), so only its tag
    arity and row count are checked here (semantics in
    test_union_write.py)."""
    import pyarrow.orc as paorc
    import pytest as _pytest

    from orc_rust_spark.sources.orc_file import orc_to_table

    path = f"{DATA}/TestOrcFile.testUnionAndTimestamp.orc"
    if not os.path.exists(path):
        pytest.skip("official fixture TestOrcFile.testUnionAndTimestamp.orc "
                    "is absent; test_orc_interop.py::test_ns_unit_equals_liborc "
                    "covers ns timestamps and decimals on a pyarrow-written file")
    ref = paorc.ORCFile(path).read()
    ours = orc_to_table(path, timestamp_unit="ns")
    assert ours.num_rows == ref.num_rows
    for col in ("time", "decimal"):
        a = ref.column(col).combine_chunks()
        b = ours.column(col).combine_chunks().cast(a.type)
        assert a.equals(b), f"{col} mismatch at ns"
    assert ours.column("union").type.num_fields == 3  # tag + 2 variants
    # and the us-grid guard still protects the default path
    with _pytest.raises(ValueError, match="sub-microsecond"):
        orc_to_table(path)
