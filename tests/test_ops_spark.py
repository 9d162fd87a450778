"""Training-data pipeline operators: dedup family, similarity search,
text analysis, multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base, "en"),
        (2, base, "en"),                                  # exact dup of 1
        (3, base.replace("today", "tomorrow"), "en"),     # near dup of 1
        (4, "der hund läuft durch den park und die stadt ist schön", "de"),
        (5, "completely different content about spark engines and columns", "en"),
        (6, None, "en"),
        (7, "", "en"),
        (8, base + " extra tail words here", "en"),       # near dup of 1
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((30, 16)).astype(np.float32)
    vecs[5] = vecs[1] + rng.standard_normal(16).astype(np.float32) * 0.01  # near dup
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(30)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_exact_dedup(spark, docs):
    from orc_rust_spark.operators.dedup import exact_dedup

    out = {r.doc_id: r.dup_count for r in exact_dedup(docs).collect()}
    assert out[1] == 2          # docs 1 and 2 collapse, keeper is min id
    assert 2 not in out
    assert out[3] == 1 and out[4] == 1


def test_ngram_jaccard_pairs(spark, docs):
    from orc_rust_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in ngram_jaccard_pairs(docs, n=2, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] >= 0.5
    assert not any({a, b} == {1, 5} for a, b in pairs)


def test_minhash_lsh_finds_planted_dups(spark, docs):
    from orc_rust_spark.operators.dedup import minhash_lsh_pairs

    pairs = {(r.id_a, r.id_b) for r in
             minhash_lsh_pairs(docs, n=2, num_perm=32, bands=16, threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert (1, 3) in pairs or (2, 3) in pairs
    assert not any({a, b} == {1, 4} for a, b in pairs)


def test_minhash_lsh_size_bound_boundary(spark):
    """The r8 exact size bound (min(|A|,|B|) >= t * max(|A|,|B|)) and the
    int-hash superset prefilter must keep a pair sitting EXACTLY at the
    threshold: A's 2 distinct shingles are a subset of B's 4, so
    jaccard = 2/4 = 0.5 = t and min = 2 = t * max — a `>` anywhere in the
    bound or a non-superset level-1 filter would silently drop it."""
    from orc_rust_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),           # shingles: {alpha beta, beta gamma}
            (2, "alpha beta gamma delta oak"),  # 4 shingles, superset of doc 1's
        ],
        ["doc_id", "text"],
    )
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in minhash_lsh_pairs(
                 docs, n=2, num_perm=32, bands=32, threshold=0.5).collect()}
    # bands=32 -> every single-perm band of a subset doc can collide; the
    # docs share 2 of 4 shingles so at least one band bucket matches
    assert pairs.get((1, 2)) == 0.5
    # with_card emits the exact distinct-shingle count used by the bound
    cards = {r.id: r.card for r in minhash_signatures(
        docs, n=2, num_perm=4, with_card=True).collect()}
    assert cards == {1: 2, 2: 4}


def test_simhash_hamming(spark, docs):
    from orc_rust_spark.operators.dedup import simhash, simhash_neardup_pairs

    sh = {r.id: r.simhash for r in simhash(docs).collect()}
    assert sh[1] == sh[2]  # identical docs -> identical simhash
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in simhash_neardup_pairs(docs, max_hamming=16).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs


def test_cosine_topk_exact(spark, vectors):
    from orc_rust_spark.operators.similarity import cosine_topk

    top = cosine_topk(vectors, k=3).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r.vec_id, []).append((r.rank, r.neighbor_id, r.cosine))
    # the planted near-dup must be each other's top-1
    assert sorted(by_q[1])[0][1] == 5
    assert sorted(by_q[5])[0][1] == 1
    assert all(len(v) == 3 for v in by_q.values())
    # verify against numpy brute force for one query
    import numpy as np
    pdf = vectors.toPandas().sort_values("vec_id")
    m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    q = m[7] / np.linalg.norm(m[7])
    sims = (m / np.linalg.norm(m, axis=1, keepdims=True)) @ q
    sims[7] = -np.inf
    expect = set(np.argsort(-sims)[:3].tolist())
    got = {nid for _, nid, _ in by_q[7]}
    assert got == expect


def test_lsh_topk_recall(spark, vectors):
    from orc_rust_spark.operators.similarity import cosine_topk, lsh_topk

    exact = {(r.vec_id, r.neighbor_id) for r in cosine_topk(vectors, k=1).collect()}
    approx = {(r.vec_id, r.neighbor_id) for r in lsh_topk(vectors, dim=16, k=1, n_planes=2).collect()}
    # planted near-dup pair must survive LSH bucketing (tiny angle)
    assert (1, 5) in approx and (5, 1) in approx
    recall = len(exact & approx) / len(exact)
    assert recall > 0.3  # approximate, but must be far from empty


def test_embedding_neardup(spark, vectors):
    from orc_rust_spark.operators.similarity import embedding_neardup_pairs

    pairs = {(r.id_a, r.id_b) for r in embedding_neardup_pairs(vectors, tau=0.95).collect()}
    assert pairs == {(1, 5)}


def test_blocked_broadcast_exact_ann(spark, vectors):
    """VERDICT r2 #3: exact ANN must not hold the whole corpus on the
    driver — forcing a tiny block size must produce >1 broadcast block and
    IDENTICAL results to the default path."""
    from orc_rust_spark.operators.similarity import (
        _corpus_block_broadcasts,
        cosine_topk,
        embedding_neardup_pairs,
    )

    blocks = _corpus_block_broadcasts(vectors, "vec_id", "embedding", block_rows=7)
    # greedy per-partition packing (no count/repartition pre-pass): every
    # block respects the cap and together they cover the corpus exactly
    assert len(blocks) >= 5  # 30 vectors in <=7-row blocks
    assert all(len(b.value[0]) <= 7 for b in blocks)
    ids = sorted(i for b in blocks for i in b.value[0].tolist())
    assert ids == list(range(30))

    one = {(r.vec_id, r.rank, r.neighbor_id, r.cosine)
           for r in cosine_topk(vectors, k=3).collect()}
    many = {(r.vec_id, r.rank, r.neighbor_id, r.cosine)
            for r in cosine_topk(vectors, k=3, block_rows=7).collect()}
    assert one == many
    pairs = {(r.id_a, r.id_b)
             for r in embedding_neardup_pairs(vectors, tau=0.95, block_rows=7).collect()}
    assert pairs == {(1, 5)}


def test_exact_ann_destroys_blocks_and_guards_scale(spark, vectors):
    """VERDICT r4 next #7: the corpus broadcast blocks are destroyed as
    soon as the candidate stage is materialized (executor storage returns
    to baseline), and exact search REFUSES a corpus beyond max_blocks,
    pointing at the bucketed scale path."""
    import pytest

    from orc_rust_spark.operators import similarity as sim

    before = sim.BLOCKS_DESTROYED
    got = sim.cosine_topk(vectors, k=2, block_rows=7).collect()
    assert len(got) > 0
    assert sim.BLOCKS_DESTROYED - before >= 5  # 30 vectors / <=7-row blocks

    before = sim.BLOCKS_DESTROYED
    pairs = {(r.id_a, r.id_b)
             for r in sim.embedding_neardup_pairs(
                 vectors, tau=0.95, block_rows=7).collect()}
    assert pairs == {(1, 5)}
    assert sim.BLOCKS_DESTROYED - before >= 5

    # guard: a corpus needing more than max_blocks blocks is refused with
    # a pointer to lsh/ivf, and the partial blocks are released
    before = sim.BLOCKS_DESTROYED
    with pytest.raises(ValueError, match="lsh_topk or ivf_topk"):
        sim.cosine_topk(vectors, k=2, block_rows=7, max_blocks=2)
    assert sim.BLOCKS_DESTROYED - before >= 2


def _broadcast_subtrees(plan: str) -> list[str]:
    """Each BroadcastExchange node's subtree text from an explain() tree."""
    import re

    lines = plan.splitlines()

    def indent(line: str) -> int:
        m = re.match(r"^([\s:+\-*]*)\S", line)
        return len(m.group(1)) if m else -1

    out = []
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        base = indent(line)
        sub = []
        for nxt in lines[i + 1:]:
            if indent(nxt) <= base:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


def test_exact_ann_never_broadcasts_corpus(spark, vectors):
    """VERDICT r3 #1: the exact-ANN re-score must not materialize the full
    vectors relation as a broadcast. With auto-broadcast disabled, every
    BroadcastExchange left in the plan must sit above the candidate
    mapInPandas stage — never above a bare scan of the corpus."""
    import io
    from contextlib import redirect_stdout

    from orc_rust_spark.operators.similarity import (
        cosine_topk,
        embedding_neardup_pairs,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for df in (cosine_topk(vectors, k=3, block_rows=7),
                   embedding_neardup_pairs(vectors, tau=0.95, block_rows=7)):
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain(True)
            plan = buf.getvalue()
            subs = _broadcast_subtrees(plan)
            # r8: the candidate stage now carries its exact cosine, so no
            # re-score joins remain — the usual plan has NO broadcast at
            # all; any BroadcastExchange that does appear must still sit
            # above the candidate stage, never above a corpus scan
            for sub in subs:
                # the candidate set is the checkpointed output of the
                # mapInPandas stage: it appears as a Scan ExistingRDD
                # (post-r5 block-release checkpoint) — a LocalTableScan /
                # file scan here would mean a corpus relation is broadcast
                assert "MapInPandas" in sub or "ExistingRDD" in sub, (
                    "BroadcastExchange over a non-candidate relation:\n" + sub
                )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_text_analysis_cols(spark, docs):
    from orc_rust_spark.operators.text_analysis import analyze_documents

    out = {r.doc_id: r for r in analyze_documents(docs).collect()}
    assert out[1].n_tokens == 13
    assert out[6].n_tokens is None
    assert out[7].n_tokens == 0
    assert out[1].lang_guess == "en"
    assert out[4].lang_guess == "de"
    assert out[1].fingerprint == out[2].fingerprint
    assert 0.0 <= out[5].quality <= 1.0


def test_multimodal_plumbing(spark):
    from orc_rust_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_image,
        extract_media_features,
        make_fake_media,
    )

    rows = [(i, "image", make_fake_media(i), "image/fake") for i in range(50)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(4)
    feats = extract_media_features(media, frame_stride=30).collect()
    assert len(feats) == 50
    f0 = next(f for f in feats if f.media_id == 7)
    w, h = decode_image(make_fake_media(7), fake=True)
    assert (f0.width, f0.height) == (w, h)
    assert f0.sampled_frames[0] == 0 and len(f0.sampled_frames) == (f0.n_frames + 29) // 30
    # real decode is an explicit stub
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...", fake=False)


def test_ivf_topk_and_multiprobe(spark, vectors):
    """IVF: cluster-local candidates; nprobe>1 probes the query's nearest
    clusters — recall vs exact top-1 must be monotone in nprobe and every
    (query, neighbor) pair unique (corpus keeps a single assignment)."""
    from orc_rust_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        train_ivf_centroids,
    )

    pdf = vectors.toPandas().sort_values("vec_id")
    cents = train_ivf_centroids(
        np.array(pdf["embedding"].tolist()), n_centroids=4, iters=3)
    exact = {(r.vec_id, r.neighbor_id) for r in cosine_topk(vectors, k=1).collect()}

    recalls = {}
    for nprobe in (1, 2, 4):
        rows = ivf_topk(vectors, cents, k=1, nprobe=nprobe).collect()
        pairs = [(r.vec_id, r.neighbor_id) for r in rows]
        assert len(pairs) == len(set(pairs))  # no duplicate candidates
        recalls[nprobe] = len(exact & set(pairs)) / len(exact)
    assert recalls[1] <= recalls[2] <= recalls[4]
    assert recalls[4] > recalls[1] or recalls[1] == 1.0  # probing helps
    # planted near-dup pair survives with enough probes
    full = {(r.vec_id, r.neighbor_id) for r in
            ivf_topk(vectors, cents, k=1, nprobe=4).collect()}
    assert (1, 5) in full and (5, 1) in full


def test_release_local_checkpoint_frees_blocks(spark):
    """Dataset.unpersist is a no-op for localCheckpoint blocks (they are
    cached directly, never via the CacheManager); the helper reaches the
    materialized LogicalRDD and actually frees them — otherwise every
    connected-components round leaks an O(nodes) frame until driver GC."""
    from orc_rust_spark.operators.checkpointing import release_checkpoint

    sc = spark.sparkContext

    def cached_ids():
        # by id: other tests' cached RDDs may be cleaned in the background
        # while this runs, so a count of all of them is not stable
        return {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}

    before = cached_ids()
    df = spark.range(10000).localCheckpoint(eager=True)
    added = cached_ids() - before
    assert len(added) == 1
    release_checkpoint(df)
    assert not added & cached_ids()


def test_neardup_components_chain_triangle_and_ceiling(spark):
    """Hash-min connected components (r6): a 12-node chain (needs
    several propagation rounds), a triangle, and a disjoint pair resolve
    to min-id components; an impossible iteration ceiling raises instead
    of returning wrong labels."""
    from orc_rust_spark.operators.dedup import (
        neardup_cluster_summary,
        neardup_components,
    )

    chain = [(i, i + 1) for i in range(100, 111)]       # component 100, 12 ids
    tri = [(7, 9), (9, 11), (7, 11)]                    # component 7
    pair = [(500, 501)]                                 # component 500
    pairs = spark.createDataFrame(chain + tri + pair, "id_a long, id_b long")

    comp = {r["id"]: r["component"]
            for r in neardup_components(pairs).collect()}
    # rounds diagnostic is set by a converged run; pointer doubling keeps
    # an 11-edge chain to O(log diameter) rounds (would be ~11 without)
    assert 1 <= neardup_components.last_rounds <= 6
    assert all(comp[i] == 100 for i in range(100, 112))
    assert comp[7] == comp[9] == comp[11] == 7
    assert comp[500] == comp[501] == 500
    assert len(comp) == 12 + 3 + 2

    summary = {r["cluster"]: r for r in
               neardup_cluster_summary(pairs).collect()}
    assert summary[100]["n_members"] == 12
    assert summary[100]["min_id"] == 100 and summary[100]["max_id"] == 111
    assert summary[7]["n_members"] == 3
    assert summary[500]["n_members"] == 2

    with pytest.raises(ValueError, match="did not converge"):
        neardup_components(pairs, max_iters=1).collect()
    # a non-converged run must not leave the previous run's value behind
    assert neardup_components.last_rounds is None


def test_dedup_edge_cases_r6(spark):
    """code-review r6 regressions: empty docs share no shingle; bands
    must divide num_perm; max_hamming=0 exact-simhash mode works; string
    ids converge in connected components."""
    import pytest as _pytest

    from orc_rust_spark.operators.dedup import (
        minhash_lsh_pairs,
        neardup_components,
        ngram_jaccard_pairs,
        simhash_neardup_pairs,
    )

    # empty/whitespace docs must NOT pair with each other via the ""
    # shingle (previously jaccard 1.0 for every empty pair)
    docs = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, ""), (3, "real text here"),
         (4, "real text here")],
        "doc_id long, text string")
    pairs = {(r.id_a, r.id_b)
             for r in ngram_jaccard_pairs(docs, n=1, threshold=0.5).collect()}
    assert pairs == {(3, 4)}

    with _pytest.raises(ValueError, match="bands"):
        minhash_lsh_pairs(docs, num_perm=32, bands=5)

    # max_hamming=0: single 64-bit block, mask must not overflow bigint
    dup = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha beta gamma"), (2, "unrelated")],
        "doc_id long, text string")
    got = {(r.id_a, r.id_b)
           for r in simhash_neardup_pairs(dup, max_hamming=0).collect()}
    assert got == {(0, 1)}

    # string ids: the numeric label-sum probe is unusable (NULL sums) —
    # the exact change probe must keep iterating until true convergence
    chain = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"),
         ("x", "y")],
        "id_a string, id_b string")
    comp = {r.id: r.component for r in neardup_components(chain).collect()}
    assert {comp[k] for k in "abcdef"} == {"a"}
    assert {comp[k] for k in "xy"} == {"x"}


def test_cosine_topk_zero_vector_not_rank1(spark):
    """A zero embedding must score cosine 0.0 (not NaN, which Spark ranks
    above every real neighbor) — code-review r6."""
    from orc_rust_spark.operators.similarity import cosine_topk

    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0]),
            (3, [0.0, 1.0])]
    vectors = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = cosine_topk(vectors, k=1, block_rows=4).collect()
    by_q = {r.vec_id: (r.neighbor_id, r.cosine) for r in got}
    # query 0's nearest is 1, never the zero vector with NaN
    assert by_q[0][0] == 1
    assert all(r.cosine == r.cosine for r in got)  # no NaNs anywhere


def test_pack_drops_null_embeddings(spark):
    """Null list slots must be dropped with their ids — flatten() would
    silently misalign every following row (code-review r6)."""
    from orc_rust_spark.operators.similarity import cosine_topk

    rows = [(0, [1.0, 0.0]), (1, None), (2, [1.0, 0.1]), (3, [0.0, 1.0])]
    vectors = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = cosine_topk(vectors, k=1, block_rows=8).collect()
    by_q = {r.vec_id: r.neighbor_id for r in got}
    assert by_q[0] == 2  # alignment preserved after the null row


def test_reliable_checkpoint_dir_honored(spark, tmp_path):
    """With a session checkpoint dir set, cosine_topk / neardup_components
    materialize via RELIABLE checkpoint() — files land in the dir and the
    results are unchanged (VERDICT r6 next #8: the documented executor-
    loss trade of localCheckpoint becomes opt-out on real clusters)."""
    import os

    from orc_rust_spark.operators.checkpointing import (
        eager_checkpoint, has_reliable_checkpoint_dir)
    from orc_rust_spark.operators.dedup import neardup_components
    from orc_rust_spark.operators.similarity import cosine_topk

    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
            (3, [0.1, 0.9])]
    vectors = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")

    base_top = {(r.vec_id, r.neighbor_id)
                for r in cosine_topk(vectors, k=1).collect()}
    base_comp = {(r.id, r.component)
                 for r in neardup_components(pairs).collect()}

    sc = spark.sparkContext
    assert not has_reliable_checkpoint_dir(vectors)
    ckdir = str(tmp_path / "ck")
    sc.setCheckpointDir(ckdir)
    try:
        assert has_reliable_checkpoint_dir(vectors)
        df = eager_checkpoint(vectors)
        assert df.count() == 4
        # reliable checkpoints write RDD files under the configured dir
        found = [f for root, _, fs in os.walk(ckdir) for f in fs]
        assert found, "no checkpoint files written to the configured dir"
        # releasing a superseded frame deletes its rdd-checkpoint dir —
        # long label-propagation runs must not leak one frame per round
        # to the checkpoint filesystem (code-review r7)
        from orc_rust_spark.operators.checkpointing import release_checkpoint
        release_checkpoint(df)
        import glob as _glob
        assert _glob.glob(os.path.join(ckdir, "*", "rdd-*")) == []
        top = {(r.vec_id, r.neighbor_id)
               for r in cosine_topk(vectors, k=1).collect()}
        comp = {(r.id, r.component)
                for r in neardup_components(pairs).collect()}
        assert top == base_top
        assert comp == base_comp
    finally:
        # session-scoped fixture: later tests expect the local trade back
        scala_none = getattr(getattr(sc._jvm, "scala.None$"), "MODULE$")
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(scala_none)
    assert not has_reliable_checkpoint_dir(vectors)


def test_exact_cosine_matches_jvm_fold(spark):
    """r8 pin: the NumPy cumsum kernel that replaced the JVM re-score
    fold must be BIT-identical to the zip_with/aggregate fold expression
    (including float32->float64 casts, the 0.0 seed, and the zero-norm
    guard) — the exact-ANN family's oracle equality rests on it."""
    import numpy as np

    from orc_rust_spark.operators.similarity import (
        _dot,
        _exact_cosine_pairs,
        _exact_sq_norms,
        _safe_norm,
    )

    rng = np.random.default_rng(11)
    n, dim = 300, 64
    a = rng.standard_normal((n, dim)).astype(np.float32)
    b = (rng.standard_normal((n, dim)) * 10.0 ** rng.integers(
        -12, 12, size=(n, 1))).astype(np.float32)
    a[0] = 0.0  # zero-vector guard path
    rows = [(i, [float(x) for x in a[i]], [float(x) for x in b[i]])
            for i in range(n)]
    df = spark.createDataFrame(rows, "i long, va array<float>, vb array<float>")
    jvm = {
        r["i"]: r["cos"]
        for r in df.select(
            "i",
            (_dot(F.col("va"), F.col("vb"))
             / (_safe_norm(F.col("va")) * _safe_norm(F.col("vb"))))
            .alias("cos"),
        ).collect()
    }
    am = a.astype(np.float64)
    bm = b.astype(np.float64)
    ours = _exact_cosine_pairs(
        am, _exact_sq_norms(am), bm, _exact_sq_norms(bm),
        np.arange(n), np.arange(n))
    for i in range(n):
        assert ours[i] == jvm[i], (i, ours[i], jvm[i])


def test_minhash_lsh_size_bound_rounded_threshold(spark):
    """The verify accepts round(jaccard, 6) >= t, so the size bound must
    keep pairs whose raw jaccard is just under t: a 2-shingle doc inside a
    3-shingle doc has jaccard 2/3, which rounds up to t = 0.666667, while
    min = 2 < t * max = 2.000001."""
    from orc_rust_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),        # {alpha beta, beta gamma}
            (2, "alpha beta gamma delta"),  # those two plus gamma delta
        ],
        ["doc_id", "text"],
    )
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in minhash_lsh_pairs(
                 docs, n=2, num_perm=32, bands=32, threshold=0.666667).collect()}
    assert pairs == {(1, 2): 0.666667}
