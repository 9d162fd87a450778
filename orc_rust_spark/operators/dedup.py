"""Deduplication operators for training-data pipelines, Spark-first.

- exact_dedup          hash-groupBy on a normalized md5 fingerprint
- ngram_jaccard_pairs  exact n-gram Jaccard via shingle explode + self-join
- minhash_lsh_pairs    MinHash signatures (xxhash64 perms) -> banded LSH
                       buckets -> candidate join -> exact-Jaccard verify
- simhash              64-bit SimHash per document (explode + bit-majority,
                       all JVM-side)
- embedding_neardup_pairs  cosine >= tau pairs over an embedding column

Scale notes (100 TB): every operator is explode -> shuffle-on-key ->
aggregate, so it partitions by shingle/bucket hash; hot shingles are the
skew risk — minhash_lsh caps documents per bucket (df cap) the way
production pipelines drop stop-shingles. No Python in any hot path except
none — everything is built-in pyspark.sql.functions.

Cache lifetime: the self-joined intermediates here (exploded shingles,
sized signatures) are ``persist()``-ed so one action computes the explode
once per side. They are released by Spark's ContextCleaner once the
returned plan is garbage-collected on the driver (not pinned for the
session); callers needing deterministic release can
``spark.catalog.clearCache()`` between corpus-scale calls.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .checkpointing import eager_checkpoint, release_checkpoint
from .text_analysis import fingerprint_col

MERSENNE61 = (1 << 61) - 1


def _tokens(text: Column) -> Column:
    return F.split(F.lower(F.trim(F.coalesce(text, F.lit("")))), r"\s+")


def _shingles(text: Column, n: int) -> Column:
    """Distinct word n-grams of the text (empty array for short docs).

    split("") yields [""], so the empty token is removed explicitly —
    without it every empty/whitespace doc shares the "" shingle and
    ngram_jaccard_pairs reports all of them as jaccard-1.0 duplicates of
    each other through a quadratic self-join (code-review r6)."""
    toks = _tokens(text)
    if n == 1:
        return F.array_remove(F.array_distinct(toks), "")
    return F.array_distinct(
        F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct normalized text: (keeper id, fingerprint, count)."""
    return (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), fingerprint_col(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .select(id_col, "fingerprint", "dup_count")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 1,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs (a < b) on distinct word n-grams.

    ``max_df``: drop shingles appearing in more than max_df documents
    BEFORE computing set cardinalities (the stop-shingle defense — a
    boilerplate shingle shared by millions of pages would otherwise make
    the self-join quadratic). Jaccard is then exact over the surviving
    rare shingles; the SQL oracle replicates the same document-frequency
    filter.
    """
    exploded = (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.explode(_shingles(F.col(text_col), n)).alias("s"))
    )
    if max_df is not None:
        df_counts = exploded.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        exploded = exploded.join(
            df_counts.where(F.col("df") <= max_df).select("s"), "s", "left_semi"
        )
    sh = exploded.withColumn(
        "card", F.count(F.lit(1)).over(Window.partitionBy("id"))
    ).persist()  # self-joined below: avoid recomputing the explode per side
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                 F.col("a.card").alias("card_a"), F.col("b.card").alias("card_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("card_a") + F.col("card_b") - F.col("common")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    docs: DataFrame, n: int = 2, num_perm: int = 32,
    text_col: str = "text", id_col: str = "doc_id",
    hash_family: str = "xxhash64",
    with_card: bool = False,
    exploded: DataFrame | None = None,
) -> DataFrame:
    """(id, minhash array of num_perm values) per document.

    hash_family:
      - "xxhash64": perm_i = xxhash64(i, shingle) -> int64 (fastest; the
        production path)
      - "md5":      one md5 per shingle; h1 = its first 15 hex digits
        (60 bits), h2 = the next 8 (32 bits), and
        perm_i = (h1 + i*h2) mod (2^61 - 1) as a bigint, minimum taken
        numerically. md5 and this integer arithmetic are computed
        identically by DuckDB, so an external SQL engine can recompute
        the EXACT signatures — this is what makes the LSH operator
        oracle-verifiable end to end.

    ``with_card`` additionally emits ``card`` = the document's distinct-
    shingle count (the rows feeding each signature ARE the exploded
    distinct shingles, so one extra count aggregate gets |A| for free —
    minhash_lsh_pairs uses it for an exact candidate size bound, r8).

    ``exploded`` lets a caller that already holds the (id, shingle) rows
    (e.g. minhash_lsh_pairs, which persists the per-doc shingle ARRAYS
    for its verify stage) feed them in directly, so the shingling
    expressions run once per document instead of once per consumer
    (r8, guide §1.2 — don't compute things twice).
    """
    sh = exploded if exploded is not None else (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.explode(_shingles(F.col(text_col), n)).alias("s"))
    )
    if hash_family == "md5":
        # one md5 per shingle; perm_i = (h1 + i*h2) mod (2^61-1) with
        # h1 = top 60 bits, h2 = next 32 bits of the hex digest — the
        # classic two-hash permutation family, in integer arithmetic both
        # Spark and DuckDB evaluate identically (no overflow: h1 < 2^60,
        # i*h2 < 2^37)
        sh = sh.withColumn("mh", F.md5(F.col("s"))).select(
            "id",
            F.conv(F.substring(F.col("mh"), 1, 15), 16, 10).cast("bigint").alias("h1"),
            F.conv(F.substring(F.col("mh"), 16, 8), 16, 10).cast("bigint").alias("h2"),
        )
        aggs = [
            F.min(F.pmod(F.col("h1") + F.lit(i) * F.col("h2"), F.lit(MERSENNE61))).alias(f"h{i}")
            for i in range(num_perm)
        ]
    else:
        aggs = [
            F.min(F.xxhash64(F.lit(i), F.col("s"))).alias(f"h{i}") for i in range(num_perm)
        ]
    if with_card:
        aggs = aggs + [F.count(F.lit(1)).alias("card")]
    sig = sh.groupBy("id").agg(*aggs)
    out = ["id", F.array(*[F.col(f"h{i}") for i in range(num_perm)]).alias("minhash")]
    if with_card:
        out.append("card")
    return sig.select(*out)


def _md5_signatures_from_arrays(sh: DataFrame, num_perm: int) -> DataFrame:
    """(id, minhash, card) from per-doc distinct-shingle ARRAYS, md5
    family, computed per batch in NumPy (r8, guide §4.2): one hashlib
    md5 per shingle plus a vectorized (h1 + i*h2) % M61 min-reduce per
    document — bit-identical to the JVM explode + md5 + conv + 32
    pmod-min aggregates it replaces (h1 < 2^60 and i*h2 < 2^37, so the
    int64 arithmetic cannot overflow and % matches pmod on the
    non-negative values; the md5 of the utf-8 shingle bytes is the same
    function Spark's md5() and DuckDB's md5() compute). Docs with an
    empty shingle array produce no row — exactly the explode's
    behavior."""
    import pandas as pd

    def gen(batches):
        import hashlib

        import numpy as np

        coeff = np.arange(num_perm, dtype=np.int64)
        for pdf in batches:
            ids, sigs, cards = [], [], []
            for doc_id, arr in zip(pdf["id"].to_numpy(), pdf["sh"].to_numpy()):
                n = len(arr)
                if not n:
                    continue
                h1 = np.empty(n, dtype=np.int64)
                h2 = np.empty(n, dtype=np.int64)
                for j, s in enumerate(arr):
                    hx = hashlib.md5(s.encode("utf-8")).hexdigest()
                    h1[j] = int(hx[:15], 16)
                    h2[j] = int(hx[15:23], 16)
                perms = (h1[:, None] + coeff[None, :] * h2[:, None]) % MERSENNE61
                ids.append(doc_id)
                sigs.append(perms.min(axis=0))
                cards.append(n)
            yield pd.DataFrame({
                "id": pd.Series(ids, dtype=pdf["id"].dtype),
                "minhash": pd.Series(sigs, dtype=object),
                "card": pd.Series(cards, dtype="int64"),
            })

    id_type = sh.schema["id"].dataType.simpleString()
    return sh.mapInPandas(
        gen, schema=f"id {id_type}, minhash array<bigint>, card bigint")


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 2,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 1000,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs: banded-LSH candidates verified by exact Jaccard.

    bands * rows = num_perm; candidate pairs share at least one band
    bucket; buckets larger than max_bucket are dropped (stop-shingle
    defense — at 10^12 docs a viral boilerplate bucket would otherwise
    produce a quadratic join). With hash_family="md5" the whole algorithm
    (signatures, band buckets) is reproducible in ANSI SQL/DuckDB, so the
    oracle can recompute it exactly rather than settling for a rows-only
    check.
    """
    if bands < 1 or num_perm % bands != 0:
        # a silent floor-divide would drop num_perm % bands permutations
        # from every bucket (changing the recall curve), and bands >
        # num_perm would build zero-arg band hashes (code-review r6)
        raise ValueError(
            f"bands must divide num_perm (got num_perm={num_perm}, "
            f"bands={bands})")
    rows = num_perm // bands
    # one shingling pass for the whole operator (r8): the per-doc shingle
    # ARRAYS are persisted once and feed (a) the signature aggregation via
    # explode, (b) the int-hash level-1 verify, and (c) the exact string
    # verify — previously the shingling expressions (regex split +
    # n-gram transform) ran separately for signatures and verify.
    sh = (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), _shingles(F.col(text_col), n).alias("sh"))
        .persist()
    )
    if hash_family == "md5":
        # md5 signatures run as one vectorized NumPy/hashlib kernel over
        # the cached arrays (guide §4.2) — bit-identical to the JVM
        # aggregate path, measured ~2x the signature stage at sf1
        sig = _md5_signatures_from_arrays(sh, num_perm)
    else:
        sig = minhash_signatures(
            docs, n=n, num_perm=num_perm, text_col=text_col,
            id_col=id_col, hash_family=hash_family, with_card=True,
            exploded=sh.select("id", F.explode("sh").alias("s")))
    if hash_family == "md5":
        def _bucket(b):
            return F.md5(F.concat_ws(
                "|", *[F.col("minhash")[b * rows + r].cast("string") for r in range(rows)]
            ))
    else:
        def _bucket(b):
            return F.xxhash64(*[F.col("minhash")[b * rows + r] for r in range(rows)])
    bands_df = sig.select(
        "id",
        "card",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), _bucket(b).cast("string").alias("bucket"))
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", "card", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))
    # bucket_n >= 2: singleton buckets (the vast majority of band rows)
    # cannot produce a pair, so dropping them before the self-join removes
    # most of its sort/probe input with the candidate set provably
    # unchanged (r8, guide §2.3 — shuffle fewer bytes)
    sized = bands_df.withColumn(
        "bucket_n", F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
    ).where((F.col("bucket_n") <= max_bucket) & (F.col("bucket_n") >= 2))
    # both sides of the self-join share this lineage; without persist the
    # signature aggregation (the expensive stage) is recomputed per side
    sized = sized.persist()
    x, y = sized.alias("x"), sized.alias("y")
    # exact size bound INSIDE the self-join (r8, guide §2.3): jaccard =
    # c/(|A|+|B|-c) with c <= min(|A|,|B|) and |A u B| >= max(|A|,|B|), so
    # jaccard >= t forces min(|A|,|B|) >= t * max(|A|,|B|). The verify
    # accepts round(jaccard, 6) >= t, and rounding adds at most 5e-7, so
    # every accepted pair has jaccard >= t - 5e-7: the bound uses that and
    # stays a superset of the verify (a 2-of-3 subset pair at t = 0.666667
    # passes the verify but not a bound at t). Pairs failing the bound are
    # provably rejected by the verify and are dropped before they ever
    # reach the distinct / verify shuffles (measured: 35% of all candidate
    # pairs at the sf1 proxy).
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") < F.col("y.id"))
            & (F.least(F.col("x.card"), F.col("y.card"))
               >= F.lit(threshold - 5e-7) * F.greatest(F.col("x.card"), F.col("y.card"))),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    # exact verify: recompute Jaccard only on candidates (sh — the
    # operator-wide persisted shingle arrays — is read on both sides)
    # |A∪B| = |A| + |B| - |A∩B| exactly, because _shingles arrays are
    # element-distinct (array_distinct) — the identity the SQL oracle
    # itself uses. Computing it arithmetically instead of via
    # array_union halves the per-pair hash-set work of the verify join
    # (r8, guide §1.2 — the verify was the largest single stage of this
    # operator once candidate counts grew to millions).
    #
    # Two-level verify (r8, guide §1.2/§2.3 — the string-array intersect
    # was the single largest stage at sf1): level 1 intersects int64
    # xxhash64 shingle arrays (half the per-element hash cost of ~10-char
    # strings) as a PROVABLE superset filter, level 2 recomputes the
    # exact string Jaccard only for level-1 survivors (output values are
    # untouched — they always come from the string arrays). Superset
    # proof: per-doc injectivity of xxhash64 on the doc's distinct
    # shingles gives |hash(A) n hash(B)| >= |hash(A n B)| = |A n B| while
    # |hash(A)| = |A|, so j_int >= j_string and round(j_int,6) >= thr
    # whenever round(j_string,6) >= thr. Docs where xxhash64 is NOT
    # injective on the array (hcoll — checked locally, once per doc)
    # bypass level 1, so the result is exact in all worlds with no
    # global collision scan.
    shi = (
        sh.select("id", F.transform("sh", lambda s: F.xxhash64(s)).alias("ih"))
        .withColumn("hcoll", F.size(F.array_distinct("ih")) < F.size("ih"))
        .persist()  # read twice (both sides of the level-1 join)
    )
    # No forced join strategy here: sort-merge would SORT the candidate
    # side with both shingle arrays attached (~15% of the isolated verify
    # stage at sf1), but a hard shuffle_hash hint also blocks the
    # broadcast join that wins when the corpus is small (+1 s at sf0.1,
    # measured). The session enables AQE's SMJ->shuffled-hash conversion
    # (maxShuffledHashJoinLocalMapThreshold), so the planner picks
    # broadcast / SHJ / SMJ per shape at runtime (guide §3.1).
    ci = F.size(F.array_intersect(F.col("ia.ih"), F.col("ib.ih")))
    ui = F.size(F.col("ia.ih")) + F.size(F.col("ib.ih")) - F.col("ci")
    pre = (
        cand.join(shi.alias("ia"), F.col("id_a") == F.col("ia.id"))
        .join(shi.alias("ib"), F.col("id_b") == F.col("ib.id"))
        .withColumn("ci", ci)
        .where(
            (F.round(F.col("ci") / ui, 6) >= threshold)
            | F.col("ia.hcoll") | F.col("ib.hcoll"))
        .select("id_a", "id_b")
    )
    verified = (
        pre.join(sh.alias("sa"), F.col("id_a") == F.col("sa.id"))
        .join(sh.alias("sb"), F.col("id_b") == F.col("sb.id"))
        .withColumn("common", F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh"))))
        .withColumn(
            "union_",
            F.size(F.col("sa.sh")) + F.size(F.col("sb.sh")) - F.col("common"))
        .withColumn("jaccard", F.round(F.col("common") / F.col("union_"), 6))
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "jaccard")


def _simhash_bitsums(
    docs: DataFrame, text_col: str, id_col: str, hash_family: str
) -> DataFrame:
    """(id, b0..b63): per-bit sum of (+1/-1) over the doc's tokens."""
    tok = (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.explode(_tokens(F.col(text_col))).alias("t"))
        .where(F.length("t") > 0)
    )
    if hash_family == "md5":
        # 64 bits from the 16 leading hex digits of md5(token), parsed as
        # two big-endian ints (60 + 4 bits): bit j of the simhash is bit
        # (59 - j... no —) bit j is bit j of hlo for j < 60, else bit
        # (j - 60) of hhi. md5 is identical in DuckDB, which is what lets
        # the SQL oracle recompute the same simhashes.
        tok = tok.withColumn("h", F.md5(F.col("t"))).select(
            "id",
            F.conv(F.substring(F.col("h"), 1, 15), 16, 10).cast("bigint").alias("hlo"),
            F.conv(F.substring(F.col("h"), 16, 1), 16, 10).cast("bigint").alias("hhi"),
        )
        def bit(j):
            if j < 60:
                return F.shiftright(F.col("hlo"), j).bitwiseAND(F.lit(1)).cast("int")
            return F.shiftright(F.col("hhi"), j - 60).bitwiseAND(F.lit(1)).cast("int")
    else:
        tok = tok.withColumn("h", F.xxhash64("t"))
        def bit(j):
            return F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)).cast("int")
    return tok.groupBy("id").agg(
        *[F.sum(F.when(bit(j) == 1, 1).otherwise(-1)).alias(f"b{j}") for j in range(64)]
    )


def simhash_chunks(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, c0..c3): the 64-bit SimHash as four 16-bit integer chunks."""
    bs = _simhash_bitsums(docs, text_col, id_col, hash_family)
    chunk_cols = []
    for q in range(4):
        c = F.lit(0)
        for j in range(16):
            c = c + F.when(F.col(f"b{16 * q + j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        chunk_cols.append(c.cast("int").alias(f"c{q}"))
    return bs.select("id", *chunk_cols)


def simhash(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per doc (bit-majority over hash(token))."""
    ch = simhash_chunks(docs, text_col=text_col, id_col=id_col, hash_family=hash_family)
    sim = F.lit(0).cast("bigint")
    for q in range(4):
        sim = sim.bitwiseOR(F.shiftleft(F.col(f"c{q}").cast("bigint"), 16 * q))
    return ch.select("id", sim.alias("simhash"))


def simhash_neardup_pairs(
    docs: DataFrame, max_hamming: int = 3, text_col: str = "text",
    id_col: str = "doc_id", hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Scale path: block on (max_hamming + 1) contiguous bit slices of the
    64-bit simhash — by pigeonhole a pair within the radius MUST agree on
    at least one slice, so recall is exactly 1.0 for ANY radius (round 1
    shipped 4 fixed blocks with max_hamming=8, silently losing pairs at
    distance 4-8; this generalization removes that inconsistency).
    """
    n_blocks = min(max_hamming + 1, 64)
    base, extra = divmod(64, n_blocks)
    starts, widths = [], []
    pos = 0
    for q in range(n_blocks):
        w = base + (1 if q < extra else 0)
        starts.append(pos)
        widths.append(w)
        pos += w
    sim = simhash(docs, text_col=text_col, id_col=id_col, hash_family=hash_family)
    exploded = sim.select(
        "id", "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(q).alias("chunk"),
                    F.shiftrightunsigned(F.col("simhash"), starts[q])
                    # width 64 (max_hamming=0): (1<<64)-1 overflows the
                    # bigint literal; -1 is the same all-ones mask
                    # (code-review r6)
                    .bitwiseAND(F.lit(
                        -1 if widths[q] >= 64 else (1 << widths[q]) - 1
                    )).alias("key"),
                )
                for q in range(n_blocks)
            ])
        ).alias("ck"),
    ).select("id", "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.key").alias("key"))
    exploded = exploded.persist()  # self-joined: the 64-agg simhash is expensive
    a, b = exploded.alias("a"), exploded.alias("b")
    cand = (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk")) & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.simhash").alias("sh_a"), F.col("b.simhash").alias("sh_b"))
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def neardup_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over an undirected near-duplicate pair list
    -> ``(id, component)`` where ``component`` is the smallest id
    reachable from ``id`` (the canonical representative) — the
    cluster-then-keep-one step every dedup pipeline runs after pair
    generation (r6; no reference counterpart — orc-rust stops at file
    decode — but a first-class LLM-pipeline operator here).

    Physical strategy: hash-min label propagation with pointer doubling.
    Each iteration is one shuffle of the (bidirected) edge list joined to
    current labels plus a min-aggregate, then one labels self-join that
    follows ``lab -> label(lab)`` — no per-row Python, no driver-side
    graph. The doubling step shrinks chains geometrically, so convergence
    is O(log component-diameter) rounds (the 25-round ceiling raises
    rather than returning wrong labels — at that depth a graph would
    need diameter ~2^25).
    Driver state is one label-sum scalar per iteration (labels only ever
    decrease, so an unchanged sum IS the fixpoint); at 100 TB the
    edge list is the only shuffled relation and labels shuffle with it on
    the same key. Each iteration's label frame is materialized with
    ``eager_checkpoint`` — iterative plans otherwise nest one
    join tree per round and blow up the optimizer (measured: analyzer
    heap OOM at ~11 rounds) — the same durability trade cosine_topk
    documents: executor loss mid-computation fails the run rather than
    recomputing, unless a session checkpoint dir makes it reliable."""
    # bidirect in ONE pass over the pair relation (r8, guide §1.2): the
    # former union(reversed) evaluated the ENTIRE upstream pair pipeline
    # twice — once per branch — because the pair frame is lazy (its
    # persisted leaves were shared, but the candidate join, distinct and
    # verify stages re-ran). explode(array(fwd, rev)) emits both
    # directions from a single scan; measured 11.8 -> 5.2 s on the sf1
    # proxy's minhash pair graph.
    edges = pairs.select(F.explode(F.array(
        F.struct(F.col(id_a).alias("a"), F.col(id_b).alias("b")),
        F.struct(F.col(id_b).alias("a"), F.col(id_a).alias("b")),
    )).alias("e")).select("e.a", "e.b").distinct()
    edges = eager_checkpoint(edges)
    labels = (
        edges.select(F.col("a").alias("id")).distinct()
        .withColumn("lab", F.col("id"))
    )
    labels = eager_checkpoint(labels)
    # convergence probe: labels only ever DECREASE, so for NUMERIC ids the
    # fixpoint is reached exactly when sum(lab) stops falling — one scan
    # of the new labels instead of a join against the old ones. For
    # non-numeric ids (string doc keys) the decimal cast yields NULL sums
    # on both sides and would declare convergence after round 1 with
    # wrong labels (code-review r6) — those use an exact changed-row
    # probe over the two checkpointed frames instead.
    from pyspark.sql import types as T

    lab_numeric = isinstance(
        labels.schema["lab"].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
         T.FloatType, T.DoubleType, T.DecimalType),
    )

    def _label_sum(frame):
        return frame.agg(
            F.sum(F.col("lab").cast("decimal(38,0)"))).collect()[0][0]

    prev_sum = _label_sum(labels) if lab_numeric else None
    # diagnostic only (asserted in pytest, reported in BASELINE bench
    # attribution by hand); set unconditionally so a prior call's value
    # can never be mistaken for this one's
    neardup_components.last_rounds = None
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        prop = (
            edges.join(labels.select(F.col("id").alias("a"),
                                     F.col("lab").alias("alab")), "a")
            .groupBy(F.col("b").alias("id"))
            .agg(F.min("alab").alias("nlab"))
        )
        # materialized so the self-join below reads these blocks instead
        # of recomputing the edge join + min-aggregate on BOTH sides
        # (code-review r6: the un-checkpointed plan ran the dominant
        # edge-list shuffle twice per round)
        stepped = labels.join(prop, "id", "left").select(
            "id", F.least(
                F.col("lab"), F.coalesce(F.col("nlab"), F.col("lab"))
            ).alias("lab"))
        stepped = eager_checkpoint(stepped)
        # pointer doubling: follow lab -> label(lab) once per round, so
        # chains shrink geometrically and convergence is O(log diameter)
        # rather than O(diameter) edge-hops
        new_labels = (
            stepped.join(
                stepped.select(F.col("id").alias("lab"),
                               F.col("lab").alias("lab2")),
                "lab", "left")
            .select("id", F.least(
                F.col("lab"), F.coalesce(F.col("lab2"), F.col("lab"))
            ).alias("lab"))
        )
        new_labels = eager_checkpoint(new_labels)
        if lab_numeric:
            cur_sum = _label_sum(new_labels)
            converged = cur_sum == prev_sum
            prev_sum = cur_sum
        else:
            converged = (
                new_labels.alias("n")
                .join(labels.alias("p"), "id")
                .where(F.col("n.lab") != F.col("p.lab"))
                .limit(1).count() == 0
            )
        # new_labels is eagerly materialized, so the superseded round's
        # blocks (old labels + this round's intermediate) can be freed
        # now rather than at ContextCleaner GC time — up to max_iters
        # O(nodes) frames would otherwise linger
        release_checkpoint(stepped)
        release_checkpoint(labels)
        labels = new_labels
        if converged:
            neardup_components.last_rounds = rounds
            break
    else:
        raise ValueError(
            f"neardup_components did not converge in {max_iters} iterations "
            "(component diameter exceeds the ceiling; raise max_iters)")
    # the returned frame depends only on the final labels checkpoint
    release_checkpoint(edges)
    return labels.select("id", F.col("lab").alias("component"))


def neardup_cluster_summary(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
) -> DataFrame:
    """Per-cluster dedup summary over the pair graph: component id (= the
    canonical kept doc), member count, and min/max member — the shape a
    keep-one-per-cluster pipeline consumes. Columns are aliased for the
    external-SQL oracle (a recursive-CTE transitive min in DuckDB)."""
    comp = neardup_components(pairs, id_a, id_b)
    return comp.groupBy(F.col("component").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )
