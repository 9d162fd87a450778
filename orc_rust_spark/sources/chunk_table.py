"""The chunk table — the engine's stripe/stream analog.

One row per (part_id, chunk_ord, column, stream_kind): the encoded bytes of
one stream plus the metadata the reference keeps in its stripe footer and
statistics (codec chosen, row/null counts, sizes, min/max, checksum)
(reference parity: stream map src/stripe.rs:312-336, stripe footer
src/writer/stripe.rs:109-165, statistics src/statistics.rs:23-181).

Stream kinds mirror proto::Stream::Kind (src/proto.rs:192-226) plus
SYMBOL_TABLE for FSST (an addition — no reference analog).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

PRESENT = "PRESENT"
DATA = "DATA"
LENGTH = "LENGTH"
DICTIONARY_DATA = "DICTIONARY_DATA"
SECONDARY = "SECONDARY"
SYMBOL_TABLE = "SYMBOL_TABLE"
BLOOM_FILTER = "BLOOM_FILTER"

#: characters of a string column's min_val / max_val the encoder keeps
STAT_CHARS = 64

CHUNK_ARROW_SCHEMA = pa.schema(
    [
        pa.field("part_id", pa.int32()),
        pa.field("chunk_ord", pa.int32()),
        pa.field("column", pa.string()),
        pa.field("stream_kind", pa.string()),
        pa.field("codec", pa.string()),
        pa.field("block_codec", pa.string()),
        pa.field("data", pa.large_binary()),
        pa.field("row_count", pa.int64()),
        pa.field("null_count", pa.int64()),
        pa.field("dict_size", pa.int64()),
        pa.field("raw_bytes", pa.int64()),
        pa.field("enc_bytes", pa.int64()),
        pa.field("final_bytes", pa.int64()),
        pa.field("min_val", pa.string()),
        pa.field("max_val", pa.string()),
        pa.field("crc32", pa.int64()),
        pa.field("encode_ms", pa.float64()),
        pa.field("stats_json", pa.string()),
    ]
)

CHUNK_SPARK_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType()),
        T.StructField("chunk_ord", T.IntegerType()),
        T.StructField("column", T.StringType()),
        T.StructField("stream_kind", T.StringType()),
        T.StructField("codec", T.StringType()),
        T.StructField("block_codec", T.StringType()),
        T.StructField("data", T.BinaryType()),
        T.StructField("row_count", T.LongType()),
        T.StructField("null_count", T.LongType()),
        T.StructField("dict_size", T.LongType()),
        T.StructField("raw_bytes", T.LongType()),
        T.StructField("enc_bytes", T.LongType()),
        T.StructField("final_bytes", T.LongType()),
        T.StructField("min_val", T.StringType()),
        T.StructField("max_val", T.StringType()),
        T.StructField("crc32", T.LongType()),
        T.StructField("encode_ms", T.DoubleType()),
        T.StructField("stats_json", T.StringType()),
    ]
)
