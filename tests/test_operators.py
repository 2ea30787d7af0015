"""Property tests for the non-oracle operators (MinHash-LSH, SimHash,
hyperplane LSH, as-of join, multimodal plumbing)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ic_spark.operators.asof import asof_join
from ic_spark.operators.dedup import (
    minhash_lsh_candidates,
    minhash_signatures,
    simhash,
    hamming_distance,
)
from ic_spark.operators.similarity import brute_force_top_k, lsh_top_k
from ic_spark.operators.multimodal import extract_features, media_metadata_stats

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup
    (4, "completely different content about database engines and query planning systems"),
    (5, "spark streaming watermarks bound state growth for unbounded event sources"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_minhash_exact_dup_always_pairs(spark, docs_df):
    sigs = minhash_signatures(docs_df, "doc_id", "text")
    rows = {r.id: r.sig for r in sigs.collect()}
    assert rows[1] == rows[2]  # identical text → identical signature
    cands = minhash_lsh_candidates(sigs)
    pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    assert (1, 2) in pairs  # exact dup always a candidate
    # dissimilar docs should not pair with everything
    assert (4, 5) not in pairs


def test_lsh_hot_bucket_salting_identical_candidates(spark):
    """Cell-salted hot-bucket path emits EXACTLY the plain join's
    candidate set — the salting spreads work, never changes results."""
    import random

    rng = random.Random(7)
    rows = []
    # One hot bucket: 40 docs sharing every band (identical signature),
    # plus unique-signature docs and a mid-size near-group.
    hot_sig = [rng.randrange(2**31) for _ in range(64)]
    for i in range(40):
        rows.append((i, hot_sig))
    for i in range(40, 70):
        rows.append((i, [rng.randrange(2**31) for _ in range(64)]))
    shared = [rng.randrange(2**31) for _ in range(64)]
    for i in range(70, 76):
        # agree on the first band (4 rows), differ elsewhere
        rows.append((i, shared[:4] + [rng.randrange(2**31) for _ in range(60)]))
    sigs = spark.createDataFrame(rows, "id long, sig array<long>")

    plain = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(sigs, salt="never").collect()
    }
    # in-plan full detection ("always") and the auto-probe literal path
    # must both emit the identical candidate set.
    salted = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(
            sigs, bucket_target=8, salt="always"
        ).collect()
    }
    assert salted == plain
    auto = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(sigs, bucket_target=8).collect()
    }
    assert auto == plain
    assert {(a, b) for a in range(40) for b in range(a + 1, 40)} <= plain
    # portable flavor (string band keys) takes the same salted path
    salted_p = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(
            sigs, portable=True, bucket_target=8, salt="always"
        ).collect()
    }
    assert salted_p == plain


def test_substring_dup_spans_exact(spark):
    """Known construction: a shared 10-token run yields one merged span
    in both docs; unique text yields nothing; hashed and string gram
    paths agree."""
    from ic_spark.operators.dedup import substring_dup_spans

    shared = " ".join(f"s{i}" for i in range(10))  # 10 shared tokens
    rows = [
        # doc 1: 3 unique tokens, then the shared run (positions 4..13)
        (1, "u1 u2 u3 " + shared),
        # doc 2: shared run first (positions 1..10), then unique tail
        (2, shared + " v1 v2 v3 v4"),
        # doc 3: entirely unique, long enough to produce grams
        (3, " ".join(f"w{i}" for i in range(12))),
        # doc 4: too short for any 8-gram
        (4, "a b c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        map(tuple, substring_dup_spans(df, "doc_id", "text", k=8).collect())
    )
    # 10-token shared run => grams at 3 consecutive start positions,
    # merged to one span of exactly the shared tokens.
    assert got == [(1, 4, 13, 10), (2, 1, 10, 10)]
    unhashed = sorted(
        map(
            tuple,
            substring_dup_spans(
                df, "doc_id", "text", k=8, hash_grams=False
            ).collect(),
        )
    )
    assert unhashed == got

    # two disjoint shared runs in one doc stay two spans
    gap = " ".join(f"g{i}" for i in range(9))
    rows2 = [
        (1, shared + " " + gap + " " + shared),
        (2, shared),
    ]
    df2 = spark.createDataFrame(rows2, "doc_id long, text string")
    got2 = sorted(
        map(tuple, substring_dup_spans(df2, "doc_id", "text", k=8).collect())
    )
    assert got2 == [(1, 1, 10, 10), (1, 20, 29, 10), (2, 1, 10, 10)]


@pytest.mark.slow
def test_incremental_substring_spans_matches_batch(spark):
    """Streaming == batch over a randomized append sequence: for each
    appended batch, incremental spans (probing the committed gram
    index) equal the batch operator over corpus-so-far ∪ batch
    restricted to the batch's docs; the fold-in index equals a
    from-scratch rebuild."""
    import random

    from ic_spark.operators.dedup import (
        incremental_substring_spans,
        substring_dup_spans,
        substring_gram_index,
    )

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(30)]
    runs = [
        " ".join(rng.choices(vocab, k=rng.randint(9, 14))) for _ in range(6)
    ]

    def make_doc(doc_id):
        # mix unique filler with 0-2 shared runs at random offsets
        parts = [f"u{doc_id}x{j}" for j in range(rng.randint(0, 6))]
        for _ in range(rng.randint(0, 2)):
            parts.append(rng.choice(runs))
            parts.extend(
                f"u{doc_id}y{j}" for j in range(rng.randint(0, 4))
            )
        return (doc_id, " ".join(parts) if parts else "a b c")

    next_id = 0

    def batch(n):
        nonlocal next_id
        rows = [make_doc(i) for i in range(next_id, next_id + n)]
        next_id += n
        return spark.createDataFrame(rows, "doc_id long, text string")

    corpus = batch(8)
    index = substring_gram_index(corpus, "doc_id", "text", k=8)
    seen = corpus
    for _ in range(3):
        inc = batch(rng.randint(3, 6))
        inc_ids = {r.doc_id for r in inc.select("doc_id").collect()}
        got = sorted(
            map(
                tuple,
                incremental_substring_spans(
                    inc, index, "doc_id", "text", k=8
                ).collect(),
            )
        )
        union = seen.unionByName(inc)
        want = sorted(
            tuple(r)
            for r in substring_dup_spans(
                union, "doc_id", "text", k=8
            ).collect()
            if r.doc_id in inc_ids
        )
        assert got == want
        # commit: fold the batch into the index; must equal a rebuild
        index = substring_gram_index(
            inc, "doc_id", "text", k=8, base_index=index
        )
        seen = union
        rebuilt = substring_gram_index(seen, "doc_id", "text", k=8)
        assert sorted(map(tuple, index.collect())) == sorted(
            map(tuple, rebuilt.collect())
        )
    # hashed and string-gram index paths agree on the final batch
    idx_s = substring_gram_index(
        seen.where("doc_id < 8"), "doc_id", "text", k=8, hash_grams=False
    )
    inc_s = seen.where("doc_id >= 8")
    got_s = sorted(
        map(
            tuple,
            incremental_substring_spans(
                inc_s, idx_s, "doc_id", "text", k=8, hash_grams=False
            ).collect(),
        )
    )
    idx_h = substring_gram_index(seen.where("doc_id < 8"), "doc_id", "text", k=8)
    got_h = sorted(
        map(
            tuple,
            incremental_substring_spans(
                inc_s, idx_h, "doc_id", "text", k=8
            ).collect(),
        )
    )
    assert got_s == got_h


def test_remove_contaminated_spans_exact(spark):
    """Known construction: the eval-quoted run is cut (plus the k-gram
    coverage tail), clean docs survive untouched, a fully-contaminated
    doc empties, and hashed == unhashed."""
    from ic_spark.operators.contamination import remove_contaminated_spans

    bench = " ".join(f"q{i}" for i in range(10))  # a 10-token benchmark
    train = spark.createDataFrame(
        [
            (1, "intro words here then " + bench + " and a closing remark"),
            (2, "totally clean document with enough tokens to form grams"),
            (3, bench),  # pure benchmark quote -> empties
            (4, "short doc"),  # < k tokens, never grams
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(100, bench)], "doc_id long, text string")
    out = {
        r.doc_id: (r.text_clean, r.removed_tokens)
        for r in remove_contaminated_spans(train, ev, k=8).collect()
    }
    # doc 1: benchmark tokens at positions 5..14 -> exactly those cut
    assert out[1] == ("intro words here then and a closing remark", 10)
    assert out[2][1] == 0 and out[2][0].startswith("totally clean")
    assert out[3] == ("", 10)
    assert out[4] == ("short doc", 0)

    unhashed = {
        r.doc_id: (r.text_clean, r.removed_tokens)
        for r in remove_contaminated_spans(train, ev, k=8, hashed=False).collect()
    }
    assert unhashed == out


def test_minhash_near_dup_high_overlap(spark, docs_df):
    sigs = minhash_signatures(docs_df, "doc_id", "text")
    rows = {r.id: r.sig for r in sigs.collect()}
    overlap_near = sum(a == b for a, b in zip(rows[1], rows[3])) / len(rows[1])
    overlap_far = sum(a == b for a, b in zip(rows[1], rows[4])) / len(rows[1])
    assert overlap_near > overlap_far
    assert overlap_near > 0.5


def test_simhash_distance_ordering(spark, docs_df):
    sh = {r.id: r.simhash for r in simhash(docs_df, "doc_id", "text").collect()}
    assert sh[1] == sh[2]
    df = spark.createDataFrame(
        [(sh[1], sh[3], sh[4])], "a long, near long, far long"
    ).select(
        hamming_distance(F.col("a"), F.col("near")).alias("d_near"),
        hamming_distance(F.col("a"), F.col("far")).alias("d_far"),
    )
    row = df.collect()[0]
    assert row.d_near < row.d_far


def test_minhash_permutations_independent(spark, docs_df):
    """Anti-degeneracy guard: without the mod-p wrap, ``a*h + b`` is
    monotone in h, every permutation selects the SAME argmin shingle,
    and the 64-hash signature collapses to 64 affine images of one
    value (banding goes all-or-nothing).  Recover the winning base
    hash per permutation and require more than one distinct winner."""
    from ic_spark.operators.dedup import minhash_perms

    p = 2147483647
    a, b = minhash_perms(64)
    sig = {r.id: r.sig for r in minhash_signatures(docs_df, "doc_id", "text").collect()}[4]
    winners = {
        ((s - bj) * pow(aj, -1, p)) % p for s, aj, bj in zip(sig, a, b)
    }
    assert len(winners) > 1, "all permutations picked the same shingle — degenerate"


def test_minhash_arrow_equals_expression(spark):
    """The vectorized numpy signature kernel must be bit-equal to the
    expression path — same int64 arithmetic, no float anywhere."""
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    d = load_table(spark, SF_DIR, "documents")
    e = sorted(map(tuple, minhash_signatures(d, "doc_id", "text").collect()))
    a = sorted(
        map(tuple, minhash_signatures(d, "doc_id", "text", use_arrow=True).collect())
    )
    assert e == a


def test_minhash_portable_equals_x64_pairs(spark):
    """The oracle bridge: the md5-portable window query and the
    xxhash64 production query must emit the SAME verified near-dup
    pairs on the fixture corpus — same pipeline, same permutation
    constants, only the base hash differs, and the exact-Jaccard
    verify step washes out per-family banding luck at these
    similarity levels (all fixture pairs sit far above the 0.5
    S-curve threshold, where P[band miss] < 1e-10)."""
    from ic_spark.queries import REGISTRY
    from tests.conftest import SF_DIR

    a = sorted(map(tuple, REGISTRY["dedup_minhash_lsh"].fn(spark, SF_DIR).collect()))
    b = sorted(
        map(tuple, REGISTRY["dedup_minhash_lsh_portable"].fn(spark, SF_DIR).collect())
    )
    assert a == b


def test_minhash_token_hash_kernel_edge_rows(spark):
    """The r13 token-hash kernel (composite shingle hash computed
    inside the Arrow kernel) must stay bit-equal to the expression
    path on the adversarial shapes the flat-buffer windowing could
    get wrong: rows shorter than the shingle width interleaved with
    long rows (cross-row garbage windows must be compacted away),
    empty text, repeated tokens, and a doc exactly at the width."""
    rows = [
        (1, "a"),
        (2, "a b"),
        (3, "a b c"),
        (4, ""),
        (5, "x " * 300 + "y"),
        (6, "t t t t t"),
        (7, "a b c d e f g"),
        (8, "q r"),  # short row BETWEEN long rows
        (9, "m n o p"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ea = {
        r["id"]: tuple(r["sig"])
        for r in minhash_signatures(df, "doc_id", "text", use_arrow=True).collect()
    }
    ex = {
        r["id"]: tuple(r["sig"])
        for r in minhash_signatures(df, "doc_id", "text", use_arrow=False).collect()
    }
    assert ea == ex
    # docs with < 3 tokens have no signature at all
    assert sorted(ea) == [3, 5, 6, 7, 9]


def _verify_two_join_reference(cands, sh, threshold):
    """The explicit two-INNER-join spelling of exact-Jaccard verify."""
    a = sh.withColumnsRenamed({"doc_id": "id_a", "sh": "sh_a"})
    b = sh.withColumnsRenamed({"doc_id": "id_b", "sh": "sh_b"})
    j = cands.join(a, on="id_a").join(b, on="id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    raw = inter.cast("double") / union.cast("double")
    return (
        j.select("id_a", "id_b", F.round(raw, 6).alias("jaccard"), raw.alias("r"))
        .where(F.col("r") >= threshold)
        .drop("r")
    )


def test_verify_pairs_single_pass_equals_two_join(spark):
    """The verify (round-robin pair stream -> two LEFT joins to the
    shingle frame -> one intersect per pair) must emit exactly what
    the two-inner-join shape emits: same pairs, same jaccard values —
    including a no-shingle-overlap pair (dropped by the threshold), a
    length-filtered pair, and candidates whose member ids have no
    shingle row (dropped, as the inner join drops them).  Checked for
    ``array<bigint>`` shingles and for ``array<string>``, the portable
    twin's type, and again under the shuffled plan AQE picks at scale
    (broadcast disabled)."""
    from ic_spark.queries.llm import _verify_pairs_single_pass

    cands = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (2, 5), (5, 6), (6, 7)], "id_a long, id_b long"
    )
    shingles = [
        (1, [10, 20, 30, 40]),
        (2, [10, 20, 30, 50]),
        (3, [99]),            # length-filtered vs doc 1 (1 < 0.5*4)
        (4, [70, 80, 90, 95]),  # zero overlap with doc 2
        (7, [10, 20, 30, 50]),  # 5 and 6 have no shingle row
    ]

    def rows(df):
        return sorted(map(tuple, df.collect()))

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    for elem, conv in (("bigint", int), ("string", str)):
        sh = spark.createDataFrame(
            [(d, [conv(x) for x in xs]) for d, xs in shingles],
            f"doc_id long, sh array<{elem}>",
        )
        want = rows(_verify_two_join_reference(cands, sh, 0.5))
        assert want == [(1, 2, 0.6)]
        assert rows(_verify_pairs_single_pass(cands, sh, 0.5)) == want
        spark.conf.set(key, "-1")
        try:
            out = _verify_pairs_single_pass(cands, sh, 0.5)
            assert rows(out) == want
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in plan
        finally:
            spark.conf.set(key, prev)


def test_verify_pairs_plan_shape(spark):
    """Plan pin for the verify under default settings, on the real
    pipeline over the fixture corpus: the pair list is round-robined
    to the default parallelism, ``array_intersect`` is evaluated once
    per pair, and the shingle table reaches both LEFT joins through
    one broadcast exchange (built once, then reused) — never through
    a shuffle."""
    from ic_spark.queries.llm import dedup_minhash_lsh
    from tests.conftest import SF_DIR

    out = dedup_minhash_lsh(spark, SF_DIR)
    assert out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    n = spark.sparkContext.defaultParallelism
    assert f"RoundRobinPartitioning({n})" in final
    assert final.count("array_intersect(") == 1
    joins = [ln for ln in final.splitlines() if "LeftOuter" in ln]
    assert len(joins) == 2
    assert all("BroadcastHashJoin" in ln and "BuildRight" in ln for ln in joins)
    assert any(
        "ReusedExchange" in ln and "BroadcastExchange" in ln
        for ln in final.splitlines()
    )


@pytest.mark.slow
def test_simhash_portable_properties(spark, docs_df):
    """Portable (md5, 60-bit) simhash preserves the production
    variant's contract: exact dups identical, near dups closer than
    far pairs, values inside 60 bits."""
    sh = {
        r.id: r.simhash
        for r in simhash(docs_df, "doc_id", "text", bits=60, portable=True).collect()
    }
    assert sh[1] == sh[2]
    assert all(0 <= v < (1 << 60) for v in sh.values())
    d_near = bin(sh[1] ^ sh[3]).count("1")
    d_far = bin(sh[1] ^ sh[4]).count("1")
    assert d_near < d_far


@pytest.mark.slow
def test_pq_topk_quantized_search(spark):
    """Product quantization: codes are deterministic, ADC scores match
    a Python reference exactly (same fold order), cluster structure
    survives quantization (PQ top-k finds the query's cluster), and
    Lloyd refinement runs."""
    import random

    from ic_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_top_k,
    )

    rng = random.Random(9)
    centers = [
        [float(c)] * 16 for c in (0.0, 10.0, -10.0, 25.0)
    ]
    rows = []
    for i in range(48):
        c = centers[i % 4]
        rows.append((i, [x + rng.uniform(-0.5, 0.5) for x in c]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    books = pq_codebooks(corpus, "vec_id", "embedding", m=4, ksub=8)
    assert len(books) == 4 and len(books[0]) == 8 and len(books[0][0]) == 4

    codes = {r.id: r.codes for r in pq_encode(corpus, books).collect()}
    assert all(len(c) == 4 and all(0 <= x < 8 for x in c) for c in codes.values())

    # python reference: same argmin + ADC arithmetic, same fold order
    def sub_code(vec, j):
        best = None
        for ci, cent in enumerate(books[j]):
            d = 0.0
            for x, y in zip(vec[j * 4 : (j + 1) * 4], cent):
                d = d + (x - y) * (x - y)
            if best is None or d < best[0] or (d == best[0] and ci < best[1]):
                best = (d, ci)
        return best[1]

    vecs = dict(rows)
    for i, v in vecs.items():
        assert codes[i] == [sub_code(v, j) for j in range(4)], i

    out = pq_top_k(
        corpus,
        corpus.where(F.col("vec_id") < 4),  # one query per cluster
        k=5,
        codebooks=books,
    )
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.neighbor_id, r.adc_distance))
    for qid, neigh in got.items():
        assert len(neigh) == 5
        # every retrieved neighbor is from the query's cluster
        assert all(n % 4 == qid % 4 for n, _ in neigh), (qid, neigh)
        # reference ADC for the top hit matches exactly (round 6)
        n0, d0 = neigh[0]
        ref = 0.0
        for j in range(4):
            lut = 0.0
            for x, y in zip(
                vecs[qid][j * 4 : (j + 1) * 4], books[j][codes[n0][j]]
            ):
                lut = lut + (x - y) * (x - y)
            ref = ref + lut
        assert abs(ref - d0) < 1e-6, (qid, ref, d0)

    # refinement shifts centroids toward cluster means and stays green
    refined = pq_codebooks(corpus, "vec_id", "embedding", m=4, ksub=8, refine_iters=1)
    assert refined != books
    out2 = pq_top_k(corpus, corpus.where(F.col("vec_id") < 2), k=3, codebooks=refined)
    assert out2.count() == 6


def test_lsh_topk_recall_vs_bruteforce(spark):
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    exact = brute_force_top_k(e, q, k=10).select("query_id", "neighbor_id").collect()
    approx = lsh_top_k(e, q, k=10, dim=64, n_planes=4).select(
        "query_id", "neighbor_id"
    ).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 4 hyperplanes → 16 buckets over 500 vecs; recall is approximate
    # by design but must be far above chance (10/500 = 2%).
    assert recall > 0.3, f"LSH recall suspiciously low: {recall}"


def test_ivf_topk_recall_and_determinism(spark):
    from ic_spark.operators.similarity import ivf_top_k
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    exact = brute_force_top_k(e, q, k=10).select("query_id", "neighbor_id").collect()
    approx = ivf_top_k(e, q, k=10, nlist=8, nprobe=4).select(
        "query_id", "neighbor_id"
    ).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # Probing half the cells (4/8) must recover well above chance.
    assert recall > 0.3, f"IVF recall suspiciously low: {recall}"

    again = ivf_top_k(e, q, k=10, nlist=8, nprobe=4).select(
        "query_id", "neighbor_id"
    ).collect()
    assert {(r.query_id, r.neighbor_id) for r in again} == approx_set  # deterministic

    # nprobe = nlist probes every cell → exact results.
    full = ivf_top_k(e, q, k=10, nlist=8, nprobe=8).select(
        "query_id", "neighbor_id"
    ).collect()
    assert {(r.query_id, r.neighbor_id) for r in full} == exact_set


def test_ivf_lloyd_refinement_runs(spark):
    """refine_iters>0 (the non-oracle scale path) must produce valid
    cells and not degrade recall to chance."""
    from ic_spark.operators.similarity import ivf_centroids, ivf_top_k
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    cents = ivf_centroids(e, "vec_id", "embedding", nlist=4, refine_iters=2)
    assert len(cents) == 4 and all(len(c) == 64 for c in cents)
    q = e.where(F.col("vec_id") < 3)
    out = ivf_top_k(e, q, k=5, nlist=4, nprobe=2, refine_iters=1).collect()
    assert len(out) > 0
    assert all(r.rank <= 5 for r in out)


def test_asof_exact_match_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, "e1"), (1, 20, "e2"), (2, 5, "e3")], "k long, t long, ev string"
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 6, 60.0)], "k long, t long, v double"
    )
    out = asof_join(left, right, on="k", left_time="t", right_time="t", right_payload=["v"])
    got = {(r.k, r.t): r.v for r in out.collect()}
    assert got[(1, 10)] == 100.0  # exact match included
    assert got[(1, 20)] == 150.0  # latest at-or-before
    assert got[(2, 5)] is None  # nothing at-or-before

    strict = asof_join(
        left, right, on="k", left_time="t", right_time="t",
        right_payload=["v"], allow_exact_matches=False,
    )
    got2 = {(r.k, r.t): r.v for r in strict.collect()}
    assert got2[(1, 10)] is None  # strictly-before excludes the tie


def test_multimodal_plumbing(spark):
    media = spark.createDataFrame(
        [
            (1, "image", "image/png", bytearray(b"\x89PNG fake"), 64, 64, None),
            (2, "audio", "audio/wav", bytearray(b"RIFF fake"), None, None, 1200),
            (3, "image", "image/png", None, 32, 32, None),
        ],
        "media_id long, kind string, mime string, payload binary, width int, height int, duration_ms long",
    )
    feats = extract_features(media)
    rows = {r.media_id: r for r in feats.collect()}
    assert rows[1].n_bytes == 9 and rows[1].feature.startswith("image-feat-")
    assert rows[3].feature == "empty"
    # deterministic across runs
    again = {r.media_id: r.feature for r in extract_features(media).collect()}
    assert {k: v.feature for k, v in rows.items()} == again

    stats = {r.kind: r.n_items for r in media_metadata_stats(media).collect()}
    assert stats == {"image": 2, "audio": 1}

    with pytest.raises(Exception):
        extract_features(media, strict=True).collect()


def test_multimodal_binaryfile_ingest(spark, tmp_path):
    """binaryFile directory -> MEDIA_SCHEMA rows -> feature extraction:
    the end-to-end ingest path for raw media files."""
    from ic_spark.operators.multimodal import MEDIA_SCHEMA, ingest_binary_files

    (tmp_path / "a.png").write_bytes(b"\x89PNG fake image")
    (tmp_path / "b.mp4").write_bytes(b"\x00\x00ftyp fake video")
    (tmp_path / "notes.txt").write_bytes(b"not media")

    media = ingest_binary_files(spark, str(tmp_path), glob="*.{png,mp4}")
    assert [f.name for f in media.schema.fields] == [f.name for f in MEDIA_SCHEMA.fields]
    rows = {r.kind: r for r in media.collect()}
    assert set(rows) == {"image", "video"}
    assert rows["image"].mime == "image/png"
    assert bytes(rows["image"].payload) == b"\x89PNG fake image"
    assert rows["video"].mime == "video/mp4"
    # stable ids: same path -> same media_id across reads
    again = {r.kind: r.media_id for r in ingest_binary_files(
        spark, str(tmp_path), glob="*.{png,mp4}").collect()}
    assert {k: r.media_id for k, r in rows.items()} == again

    feats = {r.media_id: r.feature for r in extract_features(media).collect()}
    assert all(v.startswith(("image-feat-", "video-feat-")) for v in feats.values())

    # kind override wins over extension sniffing
    forced = ingest_binary_files(spark, str(tmp_path), glob="*.png", kind="image")
    assert [r.kind for r in forced.collect()] == ["image"]


def test_multimodal_retrieval_pipeline(spark, tmp_path):
    """Ingest -> embed -> ANN, end to end: binary files become
    MEDIA_SCHEMA rows, the (stubbed) encoder yields deterministic
    embeddings, and brute-force cosine top-k retrieves the duplicate
    payload as the nearest neighbor with cosine 1.0."""
    from ic_spark.operators.multimodal import embed_media, ingest_binary_files
    from ic_spark.operators.similarity import brute_force_top_k

    (tmp_path / "a.png").write_bytes(b"payload-A" * 10)
    (tmp_path / "b.png").write_bytes(b"payload-B" * 10)
    (tmp_path / "c.png").write_bytes(b"payload-A" * 10)  # dup of a

    media = ingest_binary_files(spark, str(tmp_path), glob="*.png")
    emb = embed_media(media, dim=16)
    rows = {r.media_id: r.embedding for r in emb.collect()}
    assert len(rows) == 3 and all(len(v) == 16 for v in rows.values())

    by_payload = {}
    for r in media.select("media_id", "payload").collect():
        by_payload.setdefault(bytes(r.payload), []).append(r.media_id)
    dup_a, dup_c = sorted(by_payload[b"payload-A" * 10])

    top = brute_force_top_k(
        emb, emb.where(F.col("media_id") == dup_a),
        id_col="media_id", vec_col="embedding", k=1,
    ).collect()
    assert len(top) == 1
    assert top[0].neighbor_id == dup_c and abs(top[0].cosine - 1.0) < 1e-6

    with pytest.raises(Exception):
        embed_media(media, strict=True).collect()


def test_multimodal_resize_and_frame_sample(spark):
    from ic_spark.operators.multimodal import resize_images, sample_frames

    media = spark.createDataFrame(
        [
            (1, "image", "image/png", bytearray(b"\x89PNG fake"), 640, 480, None),
            (2, "video", "video/mp4", bytearray(b"mp4 fake"), 1920, 1080, 3500),
            (3, "audio", "audio/wav", bytearray(b"RIFF fake"), None, None, 1200),
        ],
        "media_id long, kind string, mime string, payload binary, width int, height int, duration_ms long",
    )
    resized = {r.media_id: r for r in resize_images(media, 224, 224).collect()}
    assert (resized[1].width, resized[1].height) == (224, 224)
    assert resized[1].payload != b"\x89PNG fake"  # payload replaced
    assert (resized[2].width, resized[2].height) == (1920, 1080)  # non-image untouched
    assert bytes(resized[3].payload) == b"RIFF fake"
    # deterministic
    again = {r.media_id: bytes(r.payload) for r in resize_images(media, 224, 224).collect()}
    assert again[1] == bytes(resized[1].payload)

    frames = sample_frames(media, every_ms=1000).collect()
    assert {r.media_id for r in frames} == {2}  # only the video fans out
    assert sorted(r.frame_idx for r in frames) == [0, 1, 2]  # 3500ms // 1000
    assert sorted(r.ts_ms for r in frames) == [0, 1000, 2000]
    assert len({bytes(r.payload) for r in frames}) == 3  # per-frame payloads

    with pytest.raises(Exception):
        resize_images(media, 10, 10, strict=True).collect()
    with pytest.raises(Exception):
        sample_frames(media, strict=True).collect()


def _gif_bytes(pixels, palette, interlace=False) -> bytes:
    """Hand-assemble a GIF: literal-codes LZW stream (a CLEAR before
    every pixel keeps all codes at the initial width — valid, just
    uncompressed)."""
    h = len(pixels)
    w = len(pixels[0])
    mcs = max(2, (len(palette) - 1).bit_length())
    clear = 1 << mcs
    eoi = clear + 1
    csize = mcs + 1
    bits = []
    rows = list(pixels)
    if interlace:
        order = (
            list(range(0, h, 8))
            + list(range(4, h, 8))
            + list(range(2, h, 4))
            + list(range(1, h, 2))
        )
        rows = [pixels[y] for y in order]
    codes = [clear]
    for row in rows:
        for idx in row:
            codes.extend([idx, clear])
    codes[-1] = eoi  # replace the trailing clear
    for c in codes:
        for j in range(csize):
            bits.append((c >> j) & 1)
    data = bytearray()
    for i in range(0, len(bits), 8):
        byte = 0
        for j, bit in enumerate(bits[i : i + 8]):
            byte |= bit << j
        data.append(byte)
    pal = bytearray()
    for rgb in palette:
        pal += bytes(rgb)
    pal += b"\x00" * (3 * ((1 << mcs) - len(palette)))  # pad table
    hdr = (
        b"GIF89a"
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + bytes([0x80 | (mcs - 1), 0, 0])
        + bytes(pal)
    )
    img = (
        b"\x2c"
        + b"\x00" * 4
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + bytes([0x40 if interlace else 0])
        + bytes([mcs])
    )
    sub = bytearray()
    for i in range(0, len(data), 255):
        blockb = data[i : i + 255]
        sub += bytes([len(blockb)]) + blockb
    sub += b"\x00"
    return hdr + img + bytes(sub) + b"\x3b"


def test_decode_gif_real_bytes():
    from ic_spark.operators.multimodal import decode_pixels

    palette = [(250, 0, 0), (0, 250, 0), (0, 0, 250), (7, 8, 9)]
    idx = [
        [0, 1, 2],
        [3, 2, 1],
        [1, 1, 0],
    ]
    fmt, arr = decode_pixels(_gif_bytes(idx, palette))
    assert fmt == "gif" and arr.shape == (3, 3, 3)
    assert arr.tolist() == [[list(palette[i]) for i in row] for row in idx]

    # interlaced variant reconstructs the same image
    tall = [[(y * 4 + x) % 4 for x in range(4)] for y in range(9)]
    fmt, a1 = decode_pixels(_gif_bytes(tall, palette))
    fmt, a2 = decode_pixels(_gif_bytes(tall, palette, interlace=True))
    assert a1.tolist() == a2.tolist()

    # animated-style extension blocks are skipped; junk returns None
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    plain = _gif_bytes(idx, palette)
    with_ext = plain[: 13 + 12] + gce + plain[13 + 12 :]
    fmt, a3 = decode_pixels(with_ext)
    assert a3.tolist() == arr.tolist()
    assert decode_pixels(b"GIF89a" + b"\x00" * 4) is None


def test_decode_jpeg_baseline():
    """Baseline JPEG decode validated against an INDEPENDENT encoder
    (textbook forward DCT, own Huffman tables): grayscale exact with
    unit quant tables; RGB within color-convert rounding; 4:2:0 close
    on smooth images; restart intervals exact; progressive/truncated
    payloads return None."""
    import numpy as np
    from jpegref import encode_jpeg, fdct_ref

    from ic_spark.operators.jpeg_codec import decode_jpeg, idct2
    from ic_spark.operators.multimodal import decode_pixels

    # the matrix IDCT inverts the independent triple-loop forward DCT
    rng = np.random.default_rng(0)
    px = rng.integers(0, 256, (8, 8)).astype(float) - 128
    assert np.abs(idct2(fdct_ref(px)) - px).max() < 1e-9

    flat = np.full((8, 8), 77, dtype=np.uint8)
    assert decode_jpeg(encode_jpeg(flat))[..., 0].tolist() == flat.tolist()

    g = (np.add.outer(np.arange(16) * 9, np.arange(24) * 5) % 256).astype(
        np.uint8
    )
    assert decode_jpeg(encode_jpeg(g))[..., 0].tolist() == g.tolist()
    assert (
        decode_jpeg(encode_jpeg(g, restart=2))[..., 0].tolist() == g.tolist()
    )

    rgb = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
    err = np.abs(
        decode_jpeg(encode_jpeg(rgb)).astype(int) - rgb.astype(int)
    ).max()
    assert err <= 2  # YCbCr round-trip rounding only

    smooth = np.zeros((16, 16, 3), dtype=np.uint8)
    for y in range(16):
        for x in range(16):
            smooth[y, x] = (y * 8, x * 8, 128)
    err420 = np.abs(
        decode_jpeg(encode_jpeg(smooth, subsample=True)).astype(int)
        - smooth.astype(int)
    ).max()
    assert err420 <= 8  # chroma averaged 2x2 then replicated

    # quantization actually applies (non-unit table -> small error)
    q = np.full((8, 8), 4)
    errq = np.abs(
        decode_jpeg(encode_jpeg(g, quant=q)).astype(int)[..., 0]
        - g.astype(int)
    ).max()
    assert 0 < errq <= 8

    # decode_pixels routes jpegs; non-baseline/truncated yield None
    fmt, arr = decode_pixels(encode_jpeg(rgb))
    assert fmt == "jpeg" and arr.shape == (16, 16, 3)
    full = encode_jpeg(g)
    assert decode_jpeg(full[:40]) is None
    progressive = bytearray(full)
    sof_at = full.index(b"\xff\xc0")
    progressive[sof_at + 1] = 0xC2  # pretend SOF2
    assert decode_jpeg(bytes(progressive)) is None


def test_real_resize_and_perceptual_hash(spark):
    """Decodable images resize for real (nearest-neighbor, PNG out)
    and dHash is pixel-derived: same pixels across containers hash
    identically; small edits stay within a few bits; different images
    diverge."""
    import numpy as np

    from ic_spark.operators.dedup import hamming_distance
    from ic_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_pixels,
        perceptual_hash,
        resize_images,
    )

    px = [
        [(0, 0, 0), (10, 10, 10), (20, 20, 20), (30, 30, 30)],
        [(40, 40, 40), (50, 50, 50), (60, 60, 60), (70, 70, 70)],
        [(80, 80, 80), (90, 90, 90), (100, 100, 100), (110, 110, 110)],
        [(120, 120, 120), (130, 130, 130), (140, 140, 140), (150, 150, 150)],
    ]
    png = _png_bytes(px)
    bmp = _bmp_bytes(px)
    media = spark.createDataFrame(
        [
            (1, "image", "image/png", bytearray(png), None, None, None),
            (2, "image", "image/bmp", bytearray(bmp), None, None, None),
        ],
        MEDIA_SCHEMA,
    )
    out = {r.media_id: r for r in resize_images(media, 2, 2, strict=True).collect()}
    fmt, arr = decode_pixels(bytes(out[1].payload))
    assert fmt == "png" and arr.shape == (2, 2, 3)
    # nearest-neighbor picks source pixels (0,0),(0,2),(2,0),(2,2)
    assert arr.tolist() == [
        [[0, 0, 0], [20, 20, 20]],
        [[80, 80, 80], [100, 100, 100]],
    ]
    # same pixels via BMP resize to the same PNG bytes
    assert bytes(out[2].payload) == bytes(out[1].payload)

    # dHash: container-independent, edit-tolerant, content-sensitive
    grad = [[tuple([(x * 16) % 256] * 3) for x in range(16)] for _ in range(16)]
    edited = [row[:] for row in grad]
    edited[0][0] = (255, 255, 255)  # one-pixel edit
    rev = [row[::-1] for row in grad]
    m2 = spark.createDataFrame(
        [
            (1, "image", "image/png", bytearray(_png_bytes(grad)), None, None, None),
            (2, "image", "image/bmp", bytearray(_bmp_bytes(grad)), None, None, None),
            (3, "image", "image/png", bytearray(_png_bytes(edited)), None, None, None),
            (4, "image", "image/png", bytearray(_png_bytes(rev)), None, None, None),
        ],
        MEDIA_SCHEMA,
    )
    hashes = {r.media_id: r.phash for r in perceptual_hash(m2, strict=True).collect()}
    assert hashes[1] == hashes[2]  # same pixels, different container

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    assert ham(hashes[1], hashes[3]) <= 4    # near-dup
    assert ham(hashes[1], hashes[4]) >= 16   # different content
    # Spark-side hamming_distance agrees with the Python popcount
    d = spark.createDataFrame(
        [(hashes[1], hashes[3])], "a long, b long"
    ).select(hamming_distance(F.col("a"), F.col("b")).alias("d")).collect()[0].d
    assert d == ham(hashes[1], hashes[3])


def test_embed_media_content_derived(spark):
    """Decodable media embed from CONTENT: same pixels across
    containers give the same vector, near-identical images sit at high
    cosine, different images lower; audio embeddings separate pitches
    and reproduce exactly for identical waveforms."""
    import math
    import struct

    from ic_spark.operators.multimodal import MEDIA_SCHEMA, embed_media

    grad = [[tuple([(x * 16) % 256] * 3) for x in range(16)] for _ in range(16)]
    edited = [row[:] for row in grad]
    edited[0][0] = (255, 255, 255)
    rev = [row[::-1] for row in grad]

    def sine_wav(freq, rate=8000, n=4000):
        samples = b"".join(
            struct.pack("<h", int(20000 * math.sin(2 * math.pi * freq * i / rate)))
            for i in range(n)
        )
        fmt = (
            b"fmt " + (16).to_bytes(4, "little") + (1).to_bytes(2, "little")
            + (1).to_bytes(2, "little") + rate.to_bytes(4, "little")
            + (rate * 2).to_bytes(4, "little") + (2).to_bytes(2, "little")
            + (16).to_bytes(2, "little")
        )
        body = b"WAVE" + fmt + b"data" + len(samples).to_bytes(4, "little") + samples
        return b"RIFF" + len(body).to_bytes(4, "little") + body

    media = spark.createDataFrame(
        [
            (1, "image", "image/png", bytearray(_png_bytes(grad)), None, None, None),
            (2, "image", "image/bmp", bytearray(_bmp_bytes(grad)), None, None, None),
            (3, "image", "image/png", bytearray(_png_bytes(edited)), None, None, None),
            (4, "image", "image/png", bytearray(_png_bytes(rev)), None, None, None),
            (5, "audio", "audio/wav", bytearray(sine_wav(440)), None, None, None),
            (6, "audio", "audio/wav", bytearray(sine_wav(440)), None, None, None),
            (7, "audio", "audio/wav", bytearray(sine_wav(2500)), None, None, None),
        ],
        MEDIA_SCHEMA,
    )
    vecs = {
        r.media_id: r.embedding
        for r in embed_media(media, dim=16, strict=True).collect()
    }

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return num / den

    assert vecs[1] == vecs[2]                 # container-independent
    assert cos(vecs[1], vecs[3]) > 0.95       # near-identical image
    assert cos(vecs[1], vecs[4]) < cos(vecs[1], vecs[3])
    assert vecs[5] == vecs[6]                 # identical waveform
    assert cos(vecs[5], vecs[7]) < 0.95       # different pitch profile


def test_audio_frames_spectral(spark):
    """PCM WAV fans out to per-frame spectral rows: frame count tracks
    duration, a 440 Hz tone concentrates energy in a LOWER band than a
    3 kHz tone, silence has zero rms, and non-audio rows are skipped."""
    import math
    import struct

    from ic_spark.operators.multimodal import MEDIA_SCHEMA, audio_frames

    def sine_wav(freq, rate=8000, n=8000):
        samples = b"".join(
            struct.pack("<h", int(20000 * math.sin(2 * math.pi * freq * i / rate)))
            for i in range(n)
        )
        fmt = (
            b"fmt " + (16).to_bytes(4, "little") + (1).to_bytes(2, "little")
            + (1).to_bytes(2, "little") + rate.to_bytes(4, "little")
            + (rate * 2).to_bytes(4, "little") + (2).to_bytes(2, "little")
            + (16).to_bytes(2, "little")
        )
        body = b"WAVE" + fmt + b"data" + len(samples).to_bytes(4, "little") + samples
        return b"RIFF" + len(body).to_bytes(4, "little") + body

    media = spark.createDataFrame(
        [
            (1, "audio", "audio/wav", bytearray(sine_wav(440)), None, None, None),
            (2, "audio", "audio/wav", bytearray(sine_wav(3000)), None, None, None),
            (3, "audio", "audio/wav", bytearray(_wav_bytes(1)), None, None, None),
            (4, "image", "image/png", bytearray(REAL_PNG_1x1), None, None, None),
        ],
        MEDIA_SCHEMA,
    )
    frames = audio_frames(media, frame_ms=250, bands=8, strict=True).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r)
    assert set(by_id) == {1, 2, 3}  # image rows skipped
    assert len(by_id[1]) == 4  # 1 s / 250 ms
    assert all(r.ts_ms == r.frame_idx * 250 for r in by_id[1])

    def peak_band(r):
        be = r.band_energy
        return be.index(max(be))

    assert peak_band(by_id[1][0]) < peak_band(by_id[2][0])  # 440 Hz < 3 kHz
    assert all(r.rms == 0.0 and r.peak == 0 for r in by_id[3])  # silence
    assert all(r.rms > 1000 for r in by_id[1])  # tone is loud

    # compressed audio trips the strict gate
    mp3ish = spark.createDataFrame(
        [(9, "audio", "audio/mpeg", bytearray(b"\xff\xfb\x90\x00junk"), None, None, None)],
        MEDIA_SCHEMA,
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="NotImplementedError|codec"):
        audio_frames(mp3ish, strict=True).collect()
    assert audio_frames(mp3ish).count() == 0  # non-strict: skipped


def test_approx_sketches_accuracy(spark):
    """approx_count_distinct within rsd bounds; approx median near exact."""
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")
    exact = {
        r.l_returnflag: (r.n, r.med)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("med"),
        )
        .collect()
    }
    approx = {
        r.l_returnflag: (r.approx_parts, r.approx_median_price)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median_price"),
        )
        .collect()
    }
    for k, (n, med) in exact.items():
        an, amed = approx[k]
        assert abs(an - n) / n < 0.05, f"{k}: hll {an} vs exact {n}"
        assert abs(amed - med) / med < 0.05, f"{k}: median {amed} vs exact {med}"


def test_salted_join_equals_plain_join(spark):
    from ic_spark.operators.skew import salted_join
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR, normalize

    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    plain = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_quantity", "o_totalprice"
    )
    r = o.withColumnRenamed("o_orderkey", "l_orderkey")
    salted = salted_join(li, r, on="l_orderkey", salt_n=4).select(
        "l_orderkey", "l_quantity", "o_totalprice"
    )
    assert normalize(map(tuple, salted.collect())) == normalize(
        map(tuple, plain.collect())
    )


def test_two_stage_agg_equals_plain(spark):
    from ic_spark.operators.skew import two_stage_agg
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR, normalize

    li = load_table(spark, SF_DIR, "lineitem")
    plain = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    staged = two_stage_agg(
        li,
        ["l_returnflag"],
        partial_aggs=[
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__ps"),
            F.count(F.lit(1)).alias("__pn"),
        ],
        final_aggs=[
            F.sum("__ps").cast("double").alias("s"),
            F.sum("__pn").alias("n"),
        ],
    )
    assert normalize(map(tuple, staged.collect())) == normalize(
        map(tuple, plain.collect())
    )


@pytest.mark.slow
def test_interval_join_bucket_boundaries(spark):
    """Bucketed keyless interval join == naive theta join, including
    intervals that span buckets and end exactly on boundaries."""
    from ic_spark.operators.rangejoin import interval_join
    from tests.conftest import normalize

    left = spark.createDataFrame(
        [(i, i * 100) for i in range(50)], "lid long, t long"
    ).select("lid", F.timestamp_seconds("t").alias("t"))
    right = spark.createDataFrame(
        [
            (1, 0, 300),      # spans buckets at width 200
            (2, 200, 400),    # ends exactly on a boundary
            (3, 350, 351),    # sub-bucket interval
            (4, 4800, 5200),  # tail
        ],
        "rid long, s long, e long",
    ).select("rid", F.timestamp_seconds("s").alias("s"), F.timestamp_seconds("e").alias("e"))
    bucketed = interval_join(
        left, right, "t", "s", "e", bucket_width_seconds=200
    ).select("lid", "rid")
    naive = (
        left.crossJoin(right)
        .where((F.col("t") >= F.col("s")) & (F.col("t") < F.col("e")))
        .select("lid", "rid")
    )
    assert normalize(map(tuple, bucketed.collect())) == normalize(
        map(tuple, naive.collect())
    )


def test_interval_join_outer_keeps_unmatched(spark):
    """Outer variants must keep null-extended unmatched rows — the range
    predicate is part of the join condition, not a post-join filter
    (which would silently degrade outer to inner)."""
    from ic_spark.operators.rangejoin import interval_join
    from tests.conftest import normalize

    left = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 900), (3, "b", 150)], "lid long, k string, t long"
    ).select("lid", "k", F.timestamp_seconds("t").alias("t"))
    right = spark.createDataFrame(
        [(10, "a", 0, 200), (11, "b", 500, 600)], "rid long, k string, s long, e long"
    ).select(
        "rid", "k", F.timestamp_seconds("s").alias("s"), F.timestamp_seconds("e").alias("e")
    )
    # Equi-key left join: lid=2 (out of range) and lid=3 (wrong window)
    # survive with null rid.
    eq = interval_join(left, right, "t", "s", "e", on="k", how="left")
    got = normalize((r.lid, r.rid) for r in eq.select("lid", "rid").collect())
    assert got == normalize([(1, 10), (2, None), (3, None)])
    assert eq.columns.count("k") == 1  # key collapsed like on=<name>

    # Full outer keeps both unmatched sides.
    fo = interval_join(left, right, "t", "s", "e", on="k", how="full")
    got = normalize((r.lid, r.rid) for r in fo.select("lid", "rid").collect())
    assert got == normalize([(1, 10), (2, None), (3, None), (None, 11)])

    # Keyless bucketed left join: unmatched left rows null-extend, and
    # bucket replication must not duplicate them.
    kl = interval_join(
        left.drop("k"), right.drop("k"), "t", "s", "e", bucket_width_seconds=100, how="left"
    )
    got = normalize((r.lid, r.rid) for r in kl.select("lid", "rid").collect())
    assert got == normalize([(1, 10), (3, 10), (2, None)])


def test_minhash_safe_under_ansi_mode(spark, docs_df):
    """Spark 4 defaults ANSI on (long overflow = error); the engine's
    own session disables it, but driver-owned sessions may not — the
    operator must work either way."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        sigs = minhash_signatures(docs_df, "doc_id", "text")
        rows = {r.id: r.sig for r in sigs.collect()}
        assert rows[1] == rows[2]
        cands = minhash_lsh_candidates(sigs)
        assert (1, 2) in {(r.id_a, r.id_b) for r in cands.collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_zorder_key_matches_reference_morton(spark):
    """zorder_key == a bit-at-a-time Python Morton encoding, 2D and 3D."""
    from ic_spark.functions.zorder import zorder_key

    def morton(vals, bits):
        out = 0
        for b in range(bits):
            for i, v in enumerate(vals):
                out |= ((v >> b) & 1) << (b * len(vals) + i)
        return out

    rows = [(x, y, z) for x in (0, 1, 5, 1000, 2**20) for y in (0, 3, 77) for z in (0, 9)]
    df = spark.createDataFrame(rows, "x long, y long, z long")
    got2 = {
        (r.x, r.y): r.k
        for r in df.select("x", "y", zorder_key("x", "y").alias("k")).collect()
    }
    for x, y, _ in rows:
        assert got2[(x, y)] == morton([x, y], 32), (x, y)
    got3 = {
        (r.x, r.y, r.z): r.k
        for r in df.select("x", "y", "z", zorder_key("x", "y", "z").alias("k")).collect()
    }
    for x, y, z in rows:
        assert got3[(x, y, z)] == morton([x & 0x1FFFFF, y, z], 21), (x, y, z)


@pytest.mark.slow
def test_zorder_write_clusters_both_dimensions(spark, tmp_path):
    """Z-ordered rewrite: per-file footer ranges are narrow in BOTH
    interleaved columns, unlike a single-column sort."""
    import os

    from ic_spark.compaction.request import FileScanTask, RewriteFilesRequest
    from ic_spark.compaction.writer import rewrite_files

    n = 64
    grid = spark.createDataFrame(
        [(i, i % n, i // n) for i in range(n * n)], "id long, x long, y long"
    )
    p = str(tmp_path / "grid")
    grid.coalesce(1).write.parquet(p)
    f = next(os.path.join(p, q) for q in os.listdir(p) if q.endswith(".parquet"))
    req = RewriteFilesRequest(
        schema=grid.schema,
        data_files=[FileScanTask(f, sequence_number=1)],
        dir_path=str(tmp_path / "z_out"),
        target_partitions=1,
        max_records_per_file=256,  # 16 files over the 64x64 grid
        zorder_by=["x", "y"],
    )
    resp = rewrite_files(spark, req)
    assert len(resp.data_files) >= 8
    # A 256-row Morton block of a 64x64 grid spans a 16x16 tile: both
    # dimensions bounded at sqrt(rows), not one tight and one full-range.
    for fmeta in resp.data_files:
        xs, ys = fmeta.column_stats["x"], fmeta.column_stats["y"]
        assert xs["max"] - xs["min"] <= 16, fmeta
        assert ys["max"] - ys["min"] <= 16, fmeta
    out = spark.read.parquet(str(tmp_path / "z_out"))
    assert out.count() == n * n


def test_ivf_arrow_assignment_agrees_with_expression(spark):
    """The Arrow/numpy cell assigner (scale path) must agree with the
    oracle-exact expression path — identical result pairs end to end."""
    from ic_spark.operators.similarity import ivf_top_k
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    expr = ivf_top_k(e, q, k=10, nlist=8, nprobe=4).select(
        "query_id", "neighbor_id"
    ).collect()
    arrow = ivf_top_k(e, q, k=10, nlist=8, nprobe=4, use_arrow=True).select(
        "query_id", "neighbor_id"
    ).collect()
    assert {(r.query_id, r.neighbor_id) for r in arrow} == {
        (r.query_id, r.neighbor_id) for r in expr
    }


def test_semantic_dedup_invariants(spark):
    """SemDeDup clustered dedup: survivors are exactly the vectors with
    no lower-id in-cell neighbor above threshold (checked against a
    naive driver-side recomputation); arrow and expression assigners
    agree; threshold=1.1 keeps everything."""
    import math

    from ic_spark.operators.similarity import semantic_dedup
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    out = semantic_dedup(e, nlist=8, threshold=0.35)
    got = {(r.vec_id, r.cell) for r in out.select("vec_id", "cell").collect()}

    # Naive reference: recompute cells + drops in Python.
    rows = sorted(
        ((r.vec_id, list(r.embedding)) for r in e.collect()), key=lambda t: t[0]
    )
    cents = [v for _, v in rows[:8]]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    def cell_of(v):
        sims = [cos(v, c) for c in cents]
        return max(range(8), key=lambda i: (sims[i], -i)) + 1

    cells = {vid: cell_of(v) for vid, v in rows}
    vecs = dict(rows)
    want = set()
    for vid, v in rows:
        dup = any(
            cells[o] == cells[vid] and o < vid and cos(vecs[o], v) >= 0.35
            for o, _ in rows
        )
        if not dup:
            want.add((vid, cells[vid]))
    assert got == want

    arrow = semantic_dedup(e, nlist=8, threshold=0.35, use_arrow=True)
    assert {(r.vec_id, r.cell) for r in arrow.select("vec_id", "cell").collect()} == got

    keep_all = semantic_dedup(e, nlist=8, threshold=1.1)
    assert keep_all.count() == e.count()


def test_pack_shards_invariants(spark):
    """Distributed prefix-sum packing: shard ids are consecutive from 0,
    every shard except the last stops only once its budget is crossed,
    docs never split, and the result is identical across partition
    counts (global order, not partition layout, decides)."""
    from ic_spark.operators.packing import pack_shards

    rows = [(i, 10 + (i * 7) % 50) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    budget = 300

    def run(parts):
        packed = pack_shards(df, "n_tokens", ["doc_id"], budget, num_partitions=parts)
        return {r.doc_id: r.shard_id for r in packed.collect()}

    a, b, c = run(1), run(4), run(13)
    assert a == b == c  # layout-independent

    # Reference single-threaded packing.
    want, cum = {}, 0
    for doc_id, t in rows:
        want[doc_id] = cum // budget
        cum += t
    assert a == want

    shards = sorted(set(a.values()))
    assert shards == list(range(len(shards)))  # consecutive from 0


def test_connected_components_transitivity_and_survivors(spark):
    from ic_spark.operators.cluster import connected_components, dedup_survivors

    # Chain 1-2-3-4 (diameter 3), pair (10,11), singleton 99.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    comps = {r.node: r.component for r in connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 4, 10, 11, 99)], "doc_id long, text string"
    )
    kept = sorted(r.doc_id for r in dedup_survivors(docs, pairs, "doc_id").collect())
    assert kept == [1, 10, 99]  # one survivor per cluster + untouched singleton


def test_connected_components_iteration_guard(spark):
    from ic_spark.operators.cluster import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(chain, max_iters=2)
    comps = {r.node: r.component for r in connected_components(chain).collect()}
    assert set(comps.values()) == {0}


def test_int8_quantization_roundtrip(spark):
    from ic_spark.functions.vectors import (
        cosine_similarity,
        dequantize_int8,
        linf_norm,
        quantize_int8,
    )
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings").limit(50)
    scale = linf_norm(F.col("embedding")) / F.lit(127.0)
    rt = e.select(
        "vec_id",
        cosine_similarity(
            F.col("embedding"), dequantize_int8(quantize_int8(F.col("embedding")), scale)
        ).alias("cos"),
        F.array_max(
            F.transform(
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    dequantize_int8(quantize_int8(F.col("embedding")), scale),
                    lambda a, b: F.abs(a - b),
                ),
                lambda x: x,
            )
        ).alias("max_err"),
        scale.alias("s"),
    )
    for r in rt.collect():
        assert r.cos > 0.999, r  # ranking-preserving fidelity
        assert r.max_err <= r.s / 2 + 1e-12, r  # per-element bound


# ------------------------------------------------------------- textprep


def test_chunk_documents_boundaries(spark):
    from ic_spark.operators.textprep import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(40))),  # 40 toks: 2 chunks
            (2, " ".join(f"w{i}" for i in range(32))),  # exactly one window
            (3, "a b c"),  # shorter than one window
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, "doc_id", "text", chunk_tokens=32, overlap=8)
    rows = {(r.doc_id, r.chunk_idx): r for r in out.collect()}
    # 40 tokens: starts 1 and 25; second chunk is the 16-token tail.
    assert rows[(1, 0)].n_tokens == 32
    assert rows[(1, 1)].n_tokens == 16
    assert rows[(1, 1)].chunk_text.split()[:8] == [f"w{i}" for i in range(24, 32)]
    # 32 tokens: the trailing fragment would duplicate the overlap — not emitted.
    assert [k for k in rows if k[0] == 2] == [(2, 0)]
    # Short doc: one partial chunk, all tokens.
    assert rows[(3, 0)].n_tokens == 3
    # Overlap >= chunk size is rejected.
    with pytest.raises(ValueError):
        chunk_documents(docs, "doc_id", "text", chunk_tokens=8, overlap=8)


def test_scrub_pii_patterns(spark):
    from ic_spark.operators.textprep import pii_counts, scrub_pii

    df = spark.createDataFrame(
        [("mail a.b+c@x-y.org call 555-0042 from 192.168.0.1 ok 1234-56",)],
        "raw string",
    )
    got = df.select(
        scrub_pii("raw").alias("s"), *[c.alias(f"c{i}") for i, c in enumerate(pii_counts("raw"))]
    ).first()
    assert got.s == "mail <EMAIL> call <PHONE> from <IP> ok 1234-56"
    assert (got.c0, got.c1, got.c2) == (1, 1, 1)


def test_grouped_udf_operators(spark):
    """applyInPandas / pandas-UDAF operators: exact semantics on a
    hand-computed group, plus argument validation."""
    import pytest
    from ic_spark.operators.grouped import mad_outliers, trimmed_mean

    df = spark.createDataFrame(
        [("a", float(v)) for v in [1, 2, 3, 4, 100]]
        + [("b", float(v)) for v in [10, 20]],
        "g string, v double",
    )
    mo = {r.g: r for r in mad_outliers(df, "g", "v", k=3.0).collect()}
    # group a: med=3, adev=[2,1,0,1,97] -> mad=1; outliers: |x-3|>3 -> 100
    assert mo["a"].med == 3.0 and mo["a"].mad == 1.0
    assert mo["a"].n_rows == 5 and mo["a"].n_outliers == 1
    # group b: med=15, mad=5, no |x-15|>15
    assert mo["b"].med == 15.0 and mo["b"].mad == 5.0 and mo["b"].n_outliers == 0

    tm = {r.g: r for r in trimmed_mean(df, "g", "v", trim=0.2).collect()}
    # a: q20=1.8, q80=4.2 -> kept [2,3,4] -> 3.0
    assert tm["a"].trimmed_mean == 3.0 and tm["a"].n_rows == 5
    with pytest.raises(ValueError, match="trim"):
        trimmed_mean(df, "g", "v", trim=0.5)


def test_contamination_hashed_equals_unhashed(spark):
    """xxhash64 gram keys (production) flag exactly the same pairs as
    joining on gram strings (oracle path)."""
    from ic_spark.operators.contamination import contamination_overlap
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ev = docs.where("doc_id % 97 = 0")
    tr = docs.where("doc_id % 97 <> 0")
    a = contamination_overlap(tr, ev, n=3, hashed=True)
    b = contamination_overlap(tr, ev, n=3, hashed=False)
    ra = sorted((r.train_id, r.eval_id, r.n_shared) for r in a.collect())
    rb = sorted((r.train_id, r.eval_id, r.n_shared) for r in b.collect())
    assert ra == rb and len(ra) > 0


def test_count_rows_from_manifest(spark, tmp_path):
    """COUNT(*) from manifest stats: exact when delete-free, None
    (fallback) when deletes or missing counts make it unanswerable."""
    from ic_spark.compaction.deletes import merge_upsert, write_equality_deletes
    from ic_spark.compaction.manifest import ManifestTable

    t = ManifestTable(str(tmp_path / "cr"))
    assert t.count_rows() == 0
    merge_upsert(spark, t, spark.range(100).selectExpr("id", "id AS v"), ["id"])
    # upsert commits an equality-delete file -> metadata can't answer
    assert t.count_rows() is None
    from ic_spark.compaction.orchestrator import Compaction
    from ic_spark.compaction.deletes import read_table
    Compaction(spark).full_compact(t, read_table(spark, t).schema)
    assert t.count_rows() == 100
    sid = t.current_snapshot().snapshot_id
    write_equality_deletes(spark, t, spark.range(5), ["id"])
    assert t.count_rows() is None          # deletes present again
    assert t.count_rows(snapshot_id=sid) == 100  # time-travel still exact


def test_hll_partials_merge_losslessly(spark):
    """Unioning per-group HLL partials must equal sketching the union
    directly (HLL union is lossless at equal lgK) and land within 5% of
    the exact distinct count — the re-aggregatable rollup property."""
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")
    merged = {
        r.l_returnflag: r.est
        for r in li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.hll_sketch_agg("l_partkey").alias("s"))
        .groupBy("l_returnflag")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("s")).alias("est"))
        .collect()
    }
    direct = {
        r.l_returnflag: r.est
        for r in li.groupBy("l_returnflag")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey")).alias("est"))
        .collect()
    }
    exact = {
        r.l_returnflag: r.d
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("d"))
        .collect()
    }
    assert merged == direct  # lossless merge
    for k, est in merged.items():
        assert abs(est - exact[k]) / exact[k] < 0.05


# -------------------------------------------------- gopher / c4 filters


def test_gopher_rules_fire_individually(spark):
    from ic_spark.operators.textprep import gopher_quality_signals

    good = "the quick brown fox jumps over a lazy dog and runs far " * 5
    docs = [
        (1, good),                                   # passes everything
        (2, "tok " * 10),                            # too short
        (3, good + " " + "# " * 40),                 # symbol ratio + short words
        (4, good + "\n- b one\n- b two\n- b three"), # bullets (frac < 0.9 → ok)
        (5, "\n".join(["- b" for _ in range(20)]) + "\n" + good),  # bullet-heavy
        (6, good + "\n" + "\n".join(f"line {i}..." for i in range(20))),  # ellipsis
        (7, ("zz " * 60).strip()),                   # no stopwords, short words
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    out = {r.doc_id: r for r in gopher_quality_signals(df, "doc_id", "text").collect()}
    assert out[1].passes_gopher == 1
    assert out[2].passes_gopher == 0 and out[2].n_tokens < 50
    assert out[3].passes_gopher == 0 and out[3].symbol_ratio > 0.1
    assert out[4].passes_gopher == 1 and 0 < out[4].bullet_line_frac <= 0.9
    assert out[5].passes_gopher == 0 and out[5].bullet_line_frac > 0.9
    assert out[6].passes_gopher == 0 and out[6].ellipsis_line_frac > 0.3
    assert out[7].passes_gopher == 0 and out[7].stopword_hits == 0


def test_c4_line_rules(spark):
    from ic_spark.operators.textprep import c4_line_filter

    docs = [
        # three well-formed sentences → kept, doc kept
        (1, "this is sentence one.\nthis is sentence two.\nand here is three."),
        # short line + unterminated line dropped; only 1 sentence → doc dropped
        (2, "too short.\nno terminal punctuation here\nthis one survives fine."),
        (3, "good sentence number one.\nlorem ipsum dolor sit amet.\nmore text here."),
        (4, "code block follows {\nint main.\nreturn zero.\nend of it all."),
        (5, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    out = {r.doc_id: r for r in c4_line_filter(df, "doc_id", "text").collect()}
    assert out[1].keep_doc == 1 and out[1].n_lines_kept == 3
    assert out[2].keep_doc == 0 and out[2].n_lines_kept == 1
    assert out[2].clean_text == "this one survives fine."
    assert out[3].keep_doc == 0  # lorem ipsum gate
    assert out[4].keep_doc == 0  # brace gate
    assert out[5].keep_doc == 0 and out[5].clean_text == ""


def test_token_jaccard_subblock_salting_exactly_once(spark):
    """Sub-block salting (hot-block compute-skew defense) must emit
    each qualifying pair EXACTLY once and match the unsalted result:
    forcing k>1 via a tiny subblock_target changes the plan, never the
    answer."""
    from ic_spark.operators.dedup import token_jaccard_pairs

    rows = []
    # One hot block of 40 docs with overlapping token sets + one small
    # block; several exact-duplicate texts guarantee J=1.0 pairs.
    for i in range(40):
        toks = " ".join(f"t{j}" for j in range(i % 5, i % 5 + 20))
        rows.append((i, "en", "hot", toks))
    for i in range(40, 46):
        rows.append((i, "fr", "cold", "a b c d e f g h"))
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")

    plain = token_jaccard_pairs(
        df, "doc_id", "text", ["lang", "source"], threshold=0.5,
        salt="never",  # k=1 everywhere: the unsalted plan
    )
    salted = token_jaccard_pairs(
        df, "doc_id", "text", ["lang", "source"], threshold=0.5,
        subblock_target=8,  # hot block splits into k=5 sub-blocks
        salt="always",
    )
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert a == b and len(b) == len(set((x, y) for x, y, _ in b))
    assert len(b) > 0  # the fixture genuinely produces pairs
    # auto probe (sampled detection) — whichever path it picks, the
    # answer is pinned identical.
    c = sorted(
        map(
            tuple,
            token_jaccard_pairs(
                df, "doc_id", "text", ["lang", "source"], threshold=0.5,
                subblock_target=8,
            ).collect(),
        )
    )
    assert c == a


# Real fixture bytes: a canonical 1x1 PNG, a hand-assembled JPEG with a
# SOF0 frame header (9x7), a GIF89a screen descriptor (3x5), and a PCM
# WAV whose data/byte-rate ratio is exactly 2 s.
import base64 as _b64

REAL_PNG_1x1 = _b64.b64decode(
    "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNkYPhf"
    "DwAChwGA60e6kgAAAABJRU5ErkJggg=="
)


def _jpeg_bytes(width: int, height: int) -> bytes:
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00\x01\x01\x00" + b"\x00" * 6
    sof0 = (
        b"\xff\xc0"
        + (11).to_bytes(2, "big")
        + b"\x08"  # precision
        + height.to_bytes(2, "big")
        + width.to_bytes(2, "big")
        + b"\x01\x11\x00"  # 1 component
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def _wav_bytes(seconds: int = 2, byte_rate: int = 16000) -> bytes:
    data = b"\x00" * (seconds * byte_rate)
    fmt = (
        b"fmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")      # PCM
        + (1).to_bytes(2, "little")      # mono
        + (8000).to_bytes(4, "little")   # sample rate
        + byte_rate.to_bytes(4, "little")
        + (2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    body = b"WAVE" + fmt + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def test_parse_media_header_real_bytes():
    from ic_spark.operators.multimodal import parse_media_header

    png = parse_media_header(REAL_PNG_1x1)
    assert png == {"format": "png", "width": 1, "height": 1, "duration_ms": None}

    jpg = parse_media_header(_jpeg_bytes(9, 7))
    assert (jpg["format"], jpg["width"], jpg["height"]) == ("jpeg", 9, 7)

    gif = parse_media_header(
        b"GIF89a" + (3).to_bytes(2, "little") + (5).to_bytes(2, "little") + b"\x00" * 4
    )
    assert (gif["format"], gif["width"], gif["height"]) == ("gif", 3, 5)

    wav = parse_media_header(_wav_bytes(seconds=2))
    assert (wav["format"], wav["duration_ms"]) == ("wav", 2000)

    # corrupt / unknown / empty payloads never raise
    for junk in (None, b"", b"\x00\x01", REAL_PNG_1x1[:10], b"\xff\xd8\xff"):
        out = parse_media_header(junk)
        assert out["width"] is None and out["height"] is None


def _mp4_bytes(duration_s=7, timescale=1000, w=640, h=360, version=0) -> bytes:
    def box(t, body):
        return (len(body) + 8).to_bytes(4, "big") + t + body

    vf = bytes([version, 0, 0, 0])
    if version:
        mvhd = vf + b"\x00" * 16 + timescale.to_bytes(4, "big") + (
            duration_s * timescale
        ).to_bytes(8, "big") + b"\x00" * 80
        tk_pre = vf + b"\x00" * 32
    else:
        mvhd = vf + b"\x00" * 8 + timescale.to_bytes(4, "big") + (
            duration_s * timescale
        ).to_bytes(4, "big") + b"\x00" * 80
        tk_pre = vf + b"\x00" * 20
    tkhd = tk_pre + b"\x00" * 16 + b"\x00" * 36 + (w << 16).to_bytes(
        4, "big"
    ) + (h << 16).to_bytes(4, "big")
    moov = box(b"moov", box(b"mvhd", mvhd) + box(b"trak", box(b"tkhd", tkhd)))
    return box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov


def test_parse_mp4_header():
    from ic_spark.operators.multimodal import parse_media_header

    for ver in (0, 1):
        m = parse_media_header(_mp4_bytes(duration_s=7, w=640, h=360, version=ver))
        assert m == {
            "format": "mp4",
            "width": 640,
            "height": 360,
            "duration_ms": 7000,
        }, (ver, m)
    # truncated / junk never raises
    assert parse_media_header(_mp4_bytes()[:20])["duration_ms"] is None
    assert parse_media_header(b"\x00" * 12)["format"] is None


def test_extract_features_real_header_metadata(spark):
    """extract_features now carries REAL format-parsed metadata next to
    the stubbed pixel feature; with_media_headers fills the media
    schema's width/height/duration in place."""
    from ic_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
        with_media_headers,
    )

    rows = [
        (1, "image", "image/png", bytearray(REAL_PNG_1x1), None, None, None),
        (2, "image", "image/jpeg", bytearray(_jpeg_bytes(640, 480)), None, None, None),
        (3, "audio", "audio/wav", bytearray(_wav_bytes(3)), None, None, None),
        (4, "image", "image/png", bytearray(b"not a png"), None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    feats = {r.media_id: r for r in extract_features(media).collect()}
    assert (feats[1].format, feats[1].width, feats[1].height) == ("png", 1, 1)
    assert (feats[2].format, feats[2].width, feats[2].height) == ("jpeg", 640, 480)
    assert (feats[3].format, feats[3].duration_ms) == ("wav", 3000)
    assert feats[4].format is None and feats[4].width is None
    assert all(f.feature for f in feats.values())  # stub feature intact

    filled = {r.media_id: r for r in with_media_headers(media).collect()}
    assert (filled[2].width, filled[2].height) == (640, 480)
    assert filled[3].duration_ms == 3000
    assert filled[1].kind == "image"  # untouched columns survive

    # pixel decode stays honestly gated
    import pytest as _pytest

    with _pytest.raises(Exception, match="NotImplementedError|codecs|codec"):
        extract_features(media, strict=True).collect()


def _bmp_bytes(pixels) -> bytes:
    """Hand-assemble a bottom-up 24-bit BI_RGB BMP from an RGB
    row-major pixel list-of-lists."""
    h = len(pixels)
    w = len(pixels[0])
    stride = ((24 * w + 31) // 32) * 4
    raster = b""
    for row in reversed(pixels):  # bottom-up
        line = b"".join(bytes([b_, g, r]) for r, g, b_ in row)  # BGR
        raster += line + b"\x00" * (stride - len(line))
    header = (
        b"BM"
        + (54 + len(raster)).to_bytes(4, "little")
        + b"\x00" * 4
        + (54).to_bytes(4, "little")           # pixel data offset
        + (40).to_bytes(4, "little")           # BITMAPINFOHEADER
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")            # BI_RGB
        + len(raster).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return header + raster


def test_decode_pixels_real_formats():
    """Pure-Python pixel decode: BMP/PPM/PGM yield exact arrays; WAV
    PCM yields exact samples; compressed formats return None."""
    import numpy as np

    from ic_spark.operators.multimodal import (
        decode_audio_samples,
        decode_pixels,
    )

    px = [
        [(255, 0, 0), (0, 255, 0)],
        [(0, 0, 255), (10, 20, 30)],
    ]
    fmt, arr = decode_pixels(_bmp_bytes(px))
    assert fmt == "bmp" and arr.shape == (2, 2, 3)
    assert arr.tolist() == [[list(p) for p in row] for row in px]

    ppm = b"P6\n# comment\n2 2\n255\n" + bytes(
        v for row in px for p in row for v in p
    )
    fmt, arr2 = decode_pixels(ppm)
    assert fmt == "ppm" and arr2.tolist() == arr.tolist()

    pgm = b"P5 3 1 255 " + bytes([7, 8, 9])
    fmt, arr3 = decode_pixels(pgm)
    assert fmt == "pgm" and arr3.tolist() == [[[7], [8], [9]]]

    samples, rate, ch = decode_audio_samples(_wav_bytes(seconds=1))
    assert (rate, ch) == (8000, 1) and samples.shape == (8000, 1)
    assert int(np.abs(samples).max()) == 0  # silence fixture

    # codec-requiring / junk formats: None, never an exception
    # (PNG moved to the decodable set — see test_decode_png_all_filters)
    for b in (_jpeg_bytes(4, 4), b"BMxx", b"P6 bad", None, b""):
        assert decode_pixels(b) is None
    assert decode_audio_samples(REAL_PNG_1x1) is None


def test_extract_features_real_pixel_stats(spark):
    """Uncompressed formats flow through strict mode with REAL decoded
    stats; a compressed payload in the same frame still trips the
    gate."""
    from ic_spark.operators.multimodal import MEDIA_SCHEMA, extract_features

    px = [[(10, 10, 10), (30, 30, 30)]]
    rows = [
        (1, "image", "image/bmp", bytearray(_bmp_bytes(px)), None, None, None),
        (2, "audio", "audio/wav", bytearray(_wav_bytes(1)), None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r.feature for r in extract_features(media, strict=True).collect()}
    assert feats[1] == "bmp-2x1-mean20.000-std10.000-min10-max30"
    assert feats[2].startswith("wav-pcm-8000hz-1ch-n8000-rms0.000")

    import pytest as _pytest

    # r10 policy: corrupt bytes of a REAL format (this header-only
    # jpeg decodes to None) are DATA in strict mode — null feature,
    # not a NotImplementedError blaming a missing codec.
    rows.append((3, "image", "image/jpeg", bytearray(_jpeg_bytes(4, 4)), None, None, None))
    media2 = spark.createDataFrame(rows, MEDIA_SCHEMA)
    strict2 = {
        r.media_id: r.feature
        for r in extract_features(media2, strict=True).collect()
    }
    assert strict2[1] == feats[1] and strict2[3] is None
    # a genuinely codec-gated format still trips the strict gate
    mp4 = b"\x00\x00\x00\x18ftypisom\x00\x00\x02\x00isomiso2"
    rows.append((4, "video", "video/mp4", bytearray(mp4), None, None, None))
    media3 = spark.createDataFrame(rows, MEDIA_SCHEMA)
    with _pytest.raises(Exception, match="compressed format 'mp4'"):
        extract_features(media3, strict=True).collect()
    # non-strict: compressed falls back to the deterministic fake
    feats2 = {r.media_id: r.feature for r in extract_features(media2).collect()}
    assert feats2[1] == feats[1] and feats2[3].startswith("image-feat-")


def _png_bytes(pixels, color=2, filters=None, palette=None) -> bytes:
    """Hand-assemble a PNG: forward-filter known pixel rows with the
    given per-row filter types, deflate, wrap in chunks."""
    import struct
    import zlib

    h = len(pixels)
    w = len(pixels[0])
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    filters = filters or [0] * h
    raw = bytearray()
    flat = [
        bytes(
            v
            for px in row
            for v in (px if isinstance(px, (tuple, list)) else (px,))
        )
        for row in pixels
    ]
    for y, ftype in enumerate(filters):
        row = flat[y]
        prev = flat[y - 1] if y else bytes(len(row))
        raw.append(ftype)
        for i in range(len(row)):
            a = row[i - nch] if i >= nch else 0
            b = prev[i]
            c = prev[i - nch] if i >= nch else 0
            if ftype == 0:
                enc = row[i]
            elif ftype == 1:
                enc = (row[i] - a) & 0xFF
            elif ftype == 2:
                enc = (row[i] - b) & 0xFF
            elif ftype == 3:
                enc = (row[i] - ((a + b) >> 1)) & 0xFF
            else:  # paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                enc = (row[i] - pred) & 0xFF
            raw.append(enc)

    def chunk(ctype, data):
        body = ctype + data
        return (
            struct.pack(">I", len(data))
            + body
            + struct.pack(">I", zlib.crc32(body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", bytes(v for rgb in palette for v in rgb))
    out += chunk(b"IDAT", zlib.compress(bytes(raw)))
    return out + chunk(b"IEND", b"")


def test_decode_png_all_filters():
    """PNG decode round-trips every filter type, color type, and the
    palette expansion; out-of-scope variants return None."""
    from ic_spark.operators.multimodal import decode_pixels

    px = [
        [(255, 0, 0), (0, 255, 0), (17, 34, 51)],
        [(0, 0, 255), (10, 20, 30), (200, 150, 100)],
        [(1, 2, 3), (4, 5, 6), (250, 251, 252)],
        [(9, 8, 7), (6, 5, 4), (3, 2, 1)],
        [(128, 128, 128), (0, 0, 0), (255, 255, 255)],
    ]
    want = [[list(p) for p in row] for row in px]
    # one row per filter type: none, sub, up, average, paeth
    fmt, arr = decode_pixels(_png_bytes(px, filters=[0, 1, 2, 3, 4]))
    assert fmt == "png" and arr.shape == (5, 3, 3)
    assert arr.tolist() == want

    # the canonical 1x1 fixture decodes too
    fmt, tiny = decode_pixels(REAL_PNG_1x1)
    assert fmt == "png" and tiny.shape[0] == 1 and tiny.shape[1] == 1

    # grayscale (color 0) and RGBA (color 6)
    fmt, g = decode_pixels(_png_bytes([[7, 8], [9, 10]], color=0, filters=[0, 2]))
    assert g.tolist() == [[[7], [8]], [[9], [10]]]
    fmt, ga = decode_pixels(
        _png_bytes([[(1, 2, 3, 4), (5, 6, 7, 8)]], color=6, filters=[1])
    )
    assert ga.tolist() == [[[1, 2, 3, 4], [5, 6, 7, 8]]]

    # palette expansion
    fmt, pal = decode_pixels(
        _png_bytes(
            [[0, 1], [1, 0]],
            color=3,
            palette=[(10, 20, 30), (40, 50, 60)],
        )
    )
    assert pal.tolist() == [
        [[10, 20, 30], [40, 50, 60]],
        [[40, 50, 60], [10, 20, 30]],
    ]

    # out of scope: 16-bit depth (byte 8 of IHDR patched), corrupt IDAT
    good = _png_bytes(px)
    deep = bytearray(good)
    deep[24] = 16  # IHDR bit-depth byte
    assert decode_pixels(bytes(deep)) is None
    corrupt = good[:40] + b"\x00" * 10 + good[50:]
    assert decode_pixels(corrupt) is None or True  # never raises


def test_ivfpq_topk_composed_search(spark):
    """IVF-PQ (IVFADC): residual codes match a Python reference exactly
    (same centroid seeding, same argmin + fold order), every retrieved
    neighbor comes from the query's cluster on clustered data, and ADC
    of the top hit reproduces the reference arithmetic bit-for-bit."""
    import random

    from ic_spark.operators.similarity import (
        ivf_centroids,
        ivf_pq_top_k,
        pq_codebooks,
    )

    rng = random.Random(11)
    # DIRECTION-distinct centers (cosine cell assignment is
    # scale-invariant — collinear centers would share one cell)
    centers = [
        [10.0] * 8 + [0.0] * 8,
        [0.0] * 8 + [10.0] * 8,
        [10.0] * 8 + [-10.0] * 8,
        [-10.0] * 8 + [10.0] * 8,
    ]
    rows = []
    for i in range(64):
        c = centers[i % 4]
        rows.append((i, [x + rng.uniform(-0.5, 0.5) for x in c]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    vecs = dict(rows)

    nlist, m, ksub, dsub = 4, 4, 8, 4
    out = ivf_pq_top_k(
        corpus,
        corpus.where(F.col("vec_id") < 4),
        k=5,
        nlist=nlist,
        nprobe=1,
        m=m,
        ksub=ksub,
    )
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.neighbor_id, r.adc_distance))

    # Python reference: same deterministic pipeline.
    cents = ivf_centroids(corpus, "vec_id", "embedding", nlist)

    def cos(a, b):
        num = den_a = den_b = 0.0
        for x, y in zip(a, b):
            num += x * y
            den_a += x * x
            den_b += y * y
        return num / ((den_a ** 0.5) * (den_b ** 0.5) or 1.0)

    def cell_of(v):
        best = None
        for ci, c in enumerate(cents):
            s = cos(v, c)
            if best is None or s > best[0] or (s == best[0] and ci < best[1]):
                best = (s, ci)
        return best[1] + 1

    def residual(v):
        c = cents[cell_of(v) - 1]
        return [x - y for x, y in zip(v, c)]

    # codebooks learned on residuals with original ids — rebuild the
    # training frame exactly as the operator does
    train = spark.createDataFrame(
        [(i, residual(v)) for i, v in vecs.items()],
        "vec_id long, __pqv array<double>",
    )
    books = pq_codebooks(train, "vec_id", "__pqv", m=m, ksub=ksub)

    def sub_code(res, j):
        best = None
        for ci, cent in enumerate(books[j]):
            d = 0.0
            for x, y in zip(res[j * dsub : (j + 1) * dsub], cent):
                d = d + (x - y) * (x - y)
            if best is None or d < best[0] or (d == best[0] and ci < best[1]):
                best = (d, ci)
        return best[1]

    for qid, neigh in got.items():
        assert len(neigh) == 5
        # clustered data + nprobe=1: every neighbor from the query's cell
        assert all(cell_of(vecs[n]) == cell_of(vecs[qid]) for n, _ in neigh)
        # reference ADC for the top hit (residual LUT) matches exactly
        n0, d0 = neigh[0]
        qres = residual(vecs[qid])
        nres = residual(vecs[n0])
        codes = [sub_code(nres, j) for j in range(m)]
        ref = 0.0
        for j in range(m):
            lut = 0.0
            for x, y in zip(qres[j * dsub : (j + 1) * dsub], books[j][codes[j]]):
                lut = lut + (x - y) * (x - y)
            ref = ref + lut
        assert abs(ref - d0) < 1e-6, (qid, ref, d0)


@pytest.mark.slow
def test_ivfpq_recall_and_refinement(spark):
    """Recall floor vs exact L2 brute force on the fixture embeddings,
    and Lloyd-refined residual codebooks must not degrade it — the
    quality knobs move in the right direction (all deterministic:
    seeded centroids, expression fold order)."""
    from ic_spark.operators.similarity import ivf_pq_top_k
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    a = e.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    b = q.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    d2 = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = {}
    for r in (
        a.crossJoin(F.broadcast(b))
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid", d2.alias("d"))
        .collect()
    ):
        exact.setdefault(r.qid, []).append((r.d, r.nid))
    gt = {k: {n for _, n in sorted(v)[:10]} for k, v in exact.items()}

    def recall(out):
        ap = {}
        for r in out.collect():
            ap.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(gt[k] & ap.get(k, set())) / 10 for k in gt) / len(gt)

    plain = recall(ivf_pq_top_k(e, q, k=10, nprobe=8))
    refined = recall(ivf_pq_top_k(e, q, k=10, nprobe=8, pq_refine_iters=2))
    assert plain >= 0.2  # quantized search is approximate, never junk
    assert refined >= plain  # refinement helps (or at worst ties)


def test_ivfpq_plan_no_corpus_float_shuffle(spark):
    """100 TB shape pin: the only hash-partitioned exchange in IVF-PQ
    carries (query_id, neighbor_id, adc) scalars — corpus embeddings
    are consumed at the scan (cell id + codes) and never shuffled; the
    query LUTs ride a broadcast."""
    from ic_spark.operators.similarity import ivf_pq_top_k
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    out = ivf_pq_top_k(e, e.where(F.col("vec_id") < 3), k=5)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(mode)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    for seg in plan.split("\n\n"):
        head = seg.split("\n")[0]
        if "Exchange" in head and "hashpartitioning" in seg:
            inputs = [ln for ln in seg.split("\n") if ln.startswith("Input")]
            for ln in inputs:
                assert "embedding" not in ln and "__v" not in ln, ln
                assert "__pqv" not in ln and "codes" not in ln, ln


@pytest.mark.slow
def test_ivfpq_seed_and_arrow_refine_paths_identical(spark):
    """The r7 fixed-cost cuts must not move a single float: (a) the
    driver-side seed residuals (_py_nearest_cell fold replica) produce
    codebooks EXACTLY equal to pq_codebooks' own collect over the
    residual frame; (b) the Arrow refine assignment yields the same
    refined books as the expression path (dsub=2: numpy's 2-term sums
    equal the left-to-right fold bit-for-bit); (c) the full operator
    returns identical rows either way."""
    from ic_spark.operators.similarity import (
        _as_dl,
        _nearest_centroid_idx,
        _py_nearest_cell,
        ivf_centroids,
        ivf_pq_top_k,
        pq_codebooks,
    )
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    nlist, m, ksub = 16, 8, 16
    cents = ivf_centroids(e, "vec_id", "embedding", nlist)
    cents_arr = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in cents]
    )
    train = e.select(
        F.col("vec_id"),
        F.zip_with(
            _as_dl("embedding"),
            F.element_at(cents_arr, _nearest_centroid_idx("embedding", cents)),
            lambda x, y: x - y,
        ).alias("__pqv"),
    )
    # (a) seed equivalence, exact
    via_collect = pq_codebooks(train, "vec_id", "__pqv", m=m, ksub=ksub)
    seed_rows = (
        e.select(F.col("vec_id").alias("i"), _as_dl("embedding").alias("v"))
        .orderBy("i")
        .limit(ksub)
        .collect()
    )
    seeds = [
        [x - y for x, y in zip(r.v, cents[_py_nearest_cell(list(r.v), cents)])]
        for r in seed_rows
    ]
    via_driver = pq_codebooks(
        train, "vec_id", "__pqv", m=m, ksub=ksub, seed_vecs=seeds
    )
    assert via_driver == via_collect
    # (b) refine path equivalence, exact at dsub=2
    ref_expr = pq_codebooks(
        train, "vec_id", "__pqv", m=m, ksub=ksub, refine_iters=1,
        seed_vecs=seeds,
    )
    ref_arrow = pq_codebooks(
        train, "vec_id", "__pqv", m=m, ksub=ksub, refine_iters=1,
        seed_vecs=seeds, use_arrow=True,
    )
    assert ref_arrow == ref_expr
    # (c) end-to-end row equality
    q = e.where(F.col("vec_id") < 3)
    rows_expr = sorted(
        map(tuple, ivf_pq_top_k(e, q, k=5, pq_refine_iters=1).collect())
    )
    rows_arrow = sorted(
        map(
            tuple,
            ivf_pq_top_k(
                e, q, k=5, pq_refine_iters=1, use_arrow=True
            ).collect(),
        )
    )
    assert rows_expr == rows_arrow


def test_decode_jpeg_progressive():
    """SOF2 progressive decode pinned bit-identical to the baseline
    decode of the same pixels, across successive approximation,
    spectral-selection-only, restart intervals and 4:2:0 subsampling
    (the independent test-side progressive encoder is the other half,
    as with baseline)."""
    import numpy as np

    from ic_spark.operators.jpeg_codec import decode_jpeg
    from jpegref import encode_jpeg, encode_progressive_jpeg

    rng = np.random.RandomState(42)
    g = np.tile(np.arange(24, dtype=np.uint8) * 10 % 256, (16, 1))
    rgb = rng.randint(0, 256, (24, 24, 3), dtype=np.uint8)
    odd = (np.indices((17, 23)).sum(axis=0) * 5 % 256).astype(np.uint8)

    for img, kw in [
        (g, {}),
        (g, {"successive": False}),
        (g, {"restart": 2}),
        (rgb, {}),
        (rgb, {"successive": False}),
        (rgb, {"restart": 3}),
        # 4:2:0: luma's non-interleaved AC grid (3 block cols) diverges
        # from its interleaved DC grid (4) — the geometry split path
        (rgb, {"subsample": True}),
        (odd, {}),  # non-multiple-of-8 dims
    ]:
        sub = bool(kw.get("subsample"))
        prog = decode_jpeg(encode_progressive_jpeg(img, **kw))
        base = decode_jpeg(encode_jpeg(img, subsample=sub))
        assert prog is not None and base is not None, kw
        assert prog.shape == base.shape, kw
        assert (prog == base).all(), (kw, np.abs(prog.astype(int) - base.astype(int)).max())
    # unquantized round-trips are exact for gray
    assert decode_jpeg(encode_progressive_jpeg(g))[..., 0].tolist() == g.tolist()


def test_jpeg_progressive_flat_image_below_two_bits_per_unit():
    """An optimized-Huffman progressive stream legitimately spends
    ~1 bit per data unit on a flat image (1-bit DC category-0 code,
    DC-only scan) — the old >=2-bit corruption floor decoded it to
    None, silently dropping valid rows (r10 ADVICE find).  The
    allocation bomb the floor was defending against is now gated on
    the ACTUAL coefficient-array size, so a bomb whose padded payload
    passes the relaxed entropy floor must still return None without
    allocating."""
    import struct

    import numpy as np

    from ic_spark.operators.jpeg_codec import decode_jpeg

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def flat_progressive(h, w, dc_payload):
        out = b"\xff\xd8"
        out += seg(0xDB, bytes([0]) + bytes([1] * 64))
        out += seg(0xC2, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
        # DC table 0: single 1-bit code '0' -> category 0 (diff = 0)
        out += seg(0xC4, bytes([0x00, 1] + [0] * 15 + [0]))
        out += seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x00])) + dc_payload
        return out + b"\xff\xd9"

    # 128x128 gray = 256 MCUs at 1 bit each = 32 zero bytes: decodes
    # to solid mid-gray (all-zero coefficients + level shift).
    img = decode_jpeg(flat_progressive(128, 128, b"\x00" * 32))
    assert img is not None and img.shape == (128, 128, 1)
    assert np.unique(img) .tolist() == [128]

    # 65504x65504 SOF2 with 5 MB of padding: passes the entropy floor
    # (~0.6 bits/unit declared vs 0.5 floor) but would allocate ~34 GB
    # of coefficient planes — the allocation cap must reject it.
    assert decode_jpeg(flat_progressive(65504, 65504, b"\x00" * (5 << 20))) is None


def test_jpeg_entropy_segment_split_ambiguity():
    """The restart-segment split happens AT the marker scan, where
    0xFF00 stuffing is still visible: an unstuffed 0xFF data byte
    followed by a data byte in 0xD0-0xD7 must stay INSIDE its segment
    (the post-hoc split it replaces misread it as a restart marker and
    desynced the decoder)."""
    from ic_spark.operators.jpeg_codec import _scan_entropy_segments

    raw = b"\x12\xff\x00\xd3\x45" + b"\xff\xd0" + b"\x99" + b"\xff\xd9"
    segments, j = _scan_entropy_segments(raw, 0)
    assert segments == [b"\x12\xff\xd3\x45", b"\x99"]
    assert raw[j : j + 2] == b"\xff\xd9"


def _avi_bytes(jpegs, usec_per_frame=40000, w=16, h=16) -> bytes:
    """Minimal RIFF AVI wrapping JPEG frames as 00dc chunks (avih main
    header with the standard field layout: usec/frame @0, total frames
    @16, width @32, height @36)."""

    def chunk(cid, body):
        pad = b"\x00" if len(body) % 2 else b""
        return cid + len(body).to_bytes(4, "little") + body + pad

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    z4 = (0).to_bytes(4, "little")
    avih = (
        usec_per_frame.to_bytes(4, "little") + z4 * 3
        + len(jpegs).to_bytes(4, "little") + z4
        + (1).to_bytes(4, "little") + z4
        + w.to_bytes(4, "little") + h.to_bytes(4, "little") + z4 * 4
    )
    strh = (
        b"vids" + b"MJPG" + z4 * 3
        + (1).to_bytes(4, "little") + (25).to_bytes(4, "little") + z4
        + len(jpegs).to_bytes(4, "little") + z4 * 4
    )
    strf = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little") + h.to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + b"MJPG" + z4 * 5
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", j) for j in jpegs))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def _animated_gif_bytes(frames_idx, palette, delays_cs, offsets=None,
                        disposals=None, transparent=None) -> bytes:
    """GIF89a with a Graphic Control Extension per frame (delay in
    centiseconds, optional transparency/disposal); LZW-encoded with a
    clear code before every index (valid, dictionary-free)."""
    f0 = frames_idx[0]
    sh, sw = len(f0), len(f0[0])
    for fr, (top, left) in zip(frames_idx, offsets or [(0, 0)] * len(frames_idx)):
        sh = max(sh, top + len(fr))
        sw = max(sw, left + len(fr[0]))
    depth = max(1, (max(2, len(palette)) - 1).bit_length())
    out = bytearray(b"GIF89a")
    out += sw.to_bytes(2, "little") + sh.to_bytes(2, "little")
    out += bytes([0x80 | (depth - 1), 0, 0])
    pal = list(palette) + [(0, 0, 0)] * ((1 << depth) - len(palette))
    for r, g, bb in pal:
        out += bytes([r, g, bb])
    for fi, fr in enumerate(frames_idx):
        delay = delays_cs[fi] if fi < len(delays_cs) else 10
        disp = (disposals or [0] * len(frames_idx))[fi]
        tflag = 1 if transparent is not None else 0
        out += bytes([0x21, 0xF9, 4, (disp << 2) | tflag])
        out += delay.to_bytes(2, "little")
        out += bytes([transparent or 0, 0])
        top, left = (offsets or [(0, 0)] * len(frames_idx))[fi]
        ih, iw = len(fr), len(fr[0])
        out += bytes([0x2C])
        out += left.to_bytes(2, "little") + top.to_bytes(2, "little")
        out += iw.to_bytes(2, "little") + ih.to_bytes(2, "little")
        out += bytes([0])
        min_code = max(2, depth)
        clear, end = 1 << min_code, (1 << min_code) + 1
        codes = [clear]
        for row in fr:
            for v in row:
                codes += [v, clear]
        codes[-1] = end
        bits = []
        for c in codes:
            for k in range(min_code + 1):
                bits.append((c >> k) & 1)
        data = bytearray()
        for k in range(0, len(bits), 8):
            byte = 0
            for j, bit in enumerate(bits[k : k + 8]):
                byte |= bit << j
            data.append(byte)
        out += bytes([min_code])
        for k in range(0, len(data), 255):
            blk = data[k : k + 255]
            out += bytes([len(blk)]) + blk
        out += bytes([0])
    out += bytes([0x3B])
    return bytes(out)


def test_sample_frames_real_mjpeg_avi(spark):
    """MJPEG-AVI frame sampling is REAL: each emitted payload is the
    container's own JPEG chunk, decodable by the engine's codec and
    matching the source frame; tick sampling honors the avih frame
    rate; strict mode does NOT raise for a decodable container."""
    import numpy as np

    from ic_spark.operators.multimodal import MEDIA_SCHEMA, decode_pixels, sample_frames
    from jpegref import encode_jpeg

    imgs = [np.full((16, 16), v, dtype=np.uint8) for v in (10, 100, 200)]
    avi = _avi_bytes([encode_jpeg(im) for im in imgs], usec_per_frame=40000)
    media = spark.createDataFrame(
        [(7, "video", "video/x-msvideo", bytearray(avi), None, None, None)],
        MEDIA_SCHEMA,
    )
    # 25 fps -> 40ms/frame; sample at the frame rate: all three frames
    frames = sorted(
        sample_frames(media, every_ms=40, strict=True).collect(),
        key=lambda r: r.frame_idx,
    )
    assert [r.ts_ms for r in frames] == [0, 40, 80]
    for r, im in zip(frames, imgs):
        fmt, arr = decode_pixels(bytes(r.payload))
        assert fmt == "jpeg"
        assert np.abs(arr[..., 0].astype(int) - im.astype(int)).max() <= 1
    # sample sparser than the frame rate: 1 tick per 80ms -> frames 0, 2
    sparse = sorted(
        sample_frames(media, every_ms=80).collect(), key=lambda r: r.frame_idx
    )
    assert [r.ts_ms for r in sparse] == [0, 80]
    fmt, arr = decode_pixels(bytes(sparse[1].payload))
    assert np.abs(arr[..., 0].astype(int) - imgs[2].astype(int)).max() <= 1


def test_sample_frames_animated_gif(spark):
    """Animated-GIF sampling composites GCE-timed frames onto the
    screen canvas (offsets honored) and emits PNG payloads the engine
    decodes back to the exact composited pixels."""
    import numpy as np

    from ic_spark.operators.multimodal import MEDIA_SCHEMA, decode_pixels, sample_frames

    pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    f1 = [[1] * 4 for _ in range(4)]      # full red
    f2 = [[2] * 2 for _ in range(2)]      # green patch at (1,1)
    gif = _animated_gif_bytes(
        [f1, f2], pal, delays_cs=[5, 7], offsets=[(0, 0), (1, 1)]
    )
    media = spark.createDataFrame(
        [(9, "video", "image/gif", bytearray(gif), None, None, None)],
        MEDIA_SCHEMA,
    )
    rows = sorted(
        sample_frames(media, every_ms=50, strict=True).collect(),
        key=lambda r: r.frame_idx,
    )
    # frames at ts 0 (f1) and 50 (f1+f2 composited); total 120ms ->
    # ticks 0, 50, 100 -> f1, composite, composite
    assert [r.ts_ms for r in rows] == [0, 50, 100]
    _, c0 = decode_pixels(bytes(rows[0].payload))
    _, c1 = decode_pixels(bytes(rows[1].payload))
    assert c0[0, 0].tolist()[:3] == [255, 0, 0]
    assert c1[0, 0].tolist()[:3] == [255, 0, 0]      # red survives
    assert c1[1, 1].tolist()[:3] == [0, 255, 0]      # patch composited
    _, c2 = decode_pixels(bytes(rows[2].payload))
    assert (c2 == c1).all()


def test_parse_media_header_avi():
    import numpy as np

    from ic_spark.operators.multimodal import parse_media_header
    from jpegref import encode_jpeg

    avi = _avi_bytes(
        [encode_jpeg(np.zeros((8, 8), dtype=np.uint8))] * 5,
        usec_per_frame=40000, w=320, h=240,
    )
    got = parse_media_header(avi)
    assert got == {
        "format": "avi", "width": 320, "height": 240, "duration_ms": 200,
    }


def _png16_bytes(pixels, color=0, filters=None) -> bytes:
    """Hand-assemble a 16-bit-depth PNG: big-endian u16 samples,
    forward-filtered on BYTES with the spec's bpp (= 2·channels) left
    reference."""
    import struct
    import zlib

    h = len(pixels)
    w = len(pixels[0])
    nch = {0: 1, 2: 3, 4: 2, 6: 4}[color]
    bpp = nch * 2
    filters = filters or [0] * h
    flat = []
    for row in pixels:
        rb = bytearray()
        for px in row:
            for v in px if isinstance(px, (tuple, list)) else (px,):
                rb += int(v).to_bytes(2, "big")
        flat.append(bytes(rb))
    raw = bytearray()
    for y, ftype in enumerate(filters):
        row = flat[y]
        prev = flat[y - 1] if y else bytes(len(row))
        raw.append(ftype)
        for i in range(len(row)):
            a = row[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ftype == 0:
                enc = row[i]
            elif ftype == 1:
                enc = (row[i] - a) & 0xFF
            elif ftype == 2:
                enc = (row[i] - b) & 0xFF
            elif ftype == 3:
                enc = (row[i] - ((a + b) >> 1)) & 0xFF
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                enc = (row[i] - pred) & 0xFF
            raw.append(enc)

    def chunk(ctype, data):
        body = ctype + data
        return (
            struct.pack(">I", len(data))
            + body
            + struct.pack(">I", zlib.crc32(body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 16, color, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    out += chunk(b"IDAT", zlib.compress(bytes(raw)))
    return out + chunk(b"IEND", b"")


def test_decode_png_16bit():
    """16-bit PNGs decode through the byte-pair filter path (bpp = 2·
    channels) and reduce to the high byte of each sample, across every
    filter type and gray/RGB color types."""
    from ic_spark.operators.multimodal import decode_pixels

    gray = [
        [256 * (x + 7 * y) + x for x in range(6)] for y in range(5)
    ]
    fmt, arr = decode_pixels(_png16_bytes(gray, color=0, filters=[0, 1, 2, 3, 4]))
    assert fmt == "png" and arr.shape == (5, 6, 1)
    assert arr[..., 0].tolist() == [[(x + 7 * y) for x in range(6)] for y in range(5)]

    rgb = [
        [(256 * (x + y), 256 * (2 * x) + 9, 65535 - 256 * y) for x in range(4)]
        for y in range(4)
    ]
    fmt, arr = decode_pixels(_png16_bytes(rgb, color=2, filters=[4, 3, 1, 2]))
    assert fmt == "png" and arr.shape == (4, 4, 3)
    for y in range(4):
        for x in range(4):
            assert arr[y, x].tolist() == [x + y, 2 * x, 255 - y]


def test_decode_flac_lossless_roundtrip():
    """FLAC decode is LOSSLESS: every subframe type (constant,
    verbatim, fixed orders 0-4, LPC), Rice partitioning, wasted bits
    and all three stereo decorrelation modes reproduce the source
    samples bit-for-bit against the independent test-side encoder."""
    import random

    import numpy as np

    from flacref import encode_flac
    from ic_spark.operators.flac_codec import decode_flac

    rng = random.Random(3)
    mono = [rng.randrange(-2000, 2000) for _ in range(300)]
    smooth = [int(1000 * np.sin(i / 7)) for i in range(300)]
    left = [rng.randrange(-5000, 5000) for _ in range(250)]
    right = [l - rng.randrange(-30, 30) for l in left]

    cases = [
        ([mono], dict(subframe_kind="fixed", order=2)),
        ([mono], dict(subframe_kind="fixed", order=0)),
        ([smooth], dict(subframe_kind="fixed", order=4, rice_param=6)),
        ([mono], dict(subframe_kind="verbatim")),
        ([[42] * 200], dict(subframe_kind="constant")),
        (
            [mono[:256]],
            dict(subframe_kind="fixed", order=1, partition_order=2,
                 block_size=128),
        ),
        ([left, right], dict()),
        ([left, right], dict(stereo_mode="left_side")),
        ([left, right], dict(stereo_mode="right_side")),
        ([left, right], dict(stereo_mode="mid_side")),
        (
            [[s * 4 for s in mono[:128]]],
            dict(subframe_kind="fixed", order=1, wasted=2),
        ),
        (
            [smooth],
            dict(subframe_kind="lpc", lpc_coefs=[3, -3, 1], lpc_shift=1,
                 rice_param=5),
        ),
    ]
    for chans, kw in cases:
        got = decode_flac(encode_flac(chans, **kw))
        assert got is not None, kw
        arr, rate, nch = got
        want = np.asarray(chans).T
        assert rate == 8000 and nch == len(chans)
        assert arr.shape == want.shape and (arr == want).all(), kw


def test_flac_header_and_features():
    """parse_media_header reads STREAMINFO duration; extract_features'
    real decode path labels FLAC payloads with exact sample stats."""
    import numpy as np

    from flacref import encode_flac
    from ic_spark.operators.multimodal import _real_decode, parse_media_header

    samples = [int(5000 * np.sin(i / 5)) for i in range(16000)]
    b = encode_flac([samples], rate=8000, block_size=256)
    got = parse_media_header(b)
    assert got == {
        "format": "flac", "width": None, "height": None, "duration_ms": 2000,
    }
    feat = _real_decode(b)
    assert feat is not None and feat.startswith("flac-8000hz-1ch-n16000")
    x = np.asarray(samples, dtype=np.float64)
    rms = float(np.sqrt((x * x).mean()))
    assert f"rms{rms:.3f}" in feat and f"peak{int(np.abs(x).max())}" in feat


def test_flac_corrupt_is_none():
    from flacref import encode_flac
    from ic_spark.operators.flac_codec import decode_flac

    good = encode_flac([[i % 100 for i in range(200)]])
    assert decode_flac(b"fLaC" + b"\x00" * 10) is None
    assert decode_flac(good[:30]) is None
    # CRC-8 mismatch in a frame header ends the stream at the last
    # good frame instead of emitting garbage
    mut = bytearray(good)
    # flip a byte inside the SECOND frame's header region
    second = good.index(b"\xff\xf8", 60)
    mut[second + 3] ^= 0x41
    got = decode_flac(bytes(mut))
    assert got is None or got[0].shape[0] <= 200


def test_pq_arrow_encoder_equals_expression(spark):
    """The Arrow PQ encoder (numpy batch argmin) assigns the same codes
    as the expression path on the fixture embeddings — same seeds, same
    tie rule (lowest index)."""
    from ic_spark.operators.similarity import pq_codebooks, pq_encode
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    books = pq_codebooks(e, "vec_id", "embedding", m=8, ksub=16)
    expr = {r.id: r.codes for r in pq_encode(e, books).collect()}
    arrow = {
        r.id: r.codes for r in pq_encode(e, books, use_arrow=True).collect()
    }
    assert expr == arrow


def test_ivfpq_fused_kernels_equal_separate_steps(spark):
    """The r8 fused kernels must not move a single value on the
    fixture: (a) the corpus kernel (cell + exact residual + codes in
    one Arrow pass) equals cell-assigner + expression residual +
    arrow encoder composed stepwise; (b) the query kernel (top-nprobe
    cells + fold-order LUTs) equals the expression ranking + expression
    residual + arrow LUT builder."""
    from ic_spark.operators.similarity import (
        _arrow_cell_assigner,
        _arrow_cell_residual_encoder,
        _arrow_lut_builder,
        _arrow_pq_encoder,
        _arrow_query_lut,
        _as_dl,
        _centroid_cosines,
        _cents_literal,
        ivf_centroids,
        pq_codebooks,
    )
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    nlist, m, ksub, nprobe = 16, 8, 16, 4
    cents = ivf_centroids(e, "vec_id", "embedding", nlist)
    cents_arr = _cents_literal(cents)

    def eresid(vc, cell_col):
        return F.zip_with(
            _as_dl(vc), F.element_at(cents_arr, cell_col), lambda x, y: x - y
        )

    books = pq_codebooks(
        e.select(
            F.col("vec_id"),
            eresid(
                "embedding", _arrow_cell_assigner(cents)(_as_dl("embedding"))
            ).alias("__pqv"),
        ),
        "vec_id",
        "__pqv",
        m=m,
        ksub=ksub,
    )

    # (a) corpus side
    step = e.select(
        F.col("vec_id"),
        _arrow_cell_assigner(cents)(_as_dl("embedding")).alias("cell"),
        _as_dl("embedding").alias("__v"),
    ).select(
        "vec_id",
        "cell",
        _arrow_pq_encoder(books)(eresid("__v", F.col("cell"))).alias("codes"),
    )
    fused = e.select(
        F.col("vec_id"),
        _arrow_cell_residual_encoder(cents, books)(
            _as_dl("embedding")
        ).alias("cc"),
    ).select("vec_id", F.col("cc.cell").alias("cell"), F.col("cc.codes").alias("codes"))
    got_step = {r.vec_id: (r.cell, tuple(r.codes)) for r in step.collect()}
    got_fused = {r.vec_id: (r.cell, tuple(r.codes)) for r in fused.collect()}
    assert got_fused == got_step

    # (b) query side
    q = e.where(F.col("vec_id") < 5)
    coss = _centroid_cosines("embedding", cents)
    ranked = F.reverse(
        F.array_sort(
            F.zip_with(
                coss,
                F.sequence(F.lit(-1), F.lit(-nlist), F.lit(-1)),
                lambda c, ni: F.struct(c.alias("c"), ni.alias("ni")),
            )
        )
    )
    qprobe = q.select(
        F.col("vec_id"),
        _as_dl("embedding").alias("__qv"),
        F.explode(
            F.transform(
                F.slice(ranked, 1, nprobe), lambda s: (-s["ni"]).cast("int")
            )
        ).alias("cell"),
    ).select(
        "vec_id",
        "cell",
        _arrow_lut_builder(books)(eresid("__qv", F.col("cell"))).alias("lut"),
    )
    step_q = {
        (r.vec_id, r.cell): [tuple(row) for row in r.lut]
        for r in qprobe.collect()
    }
    fused_q = {
        (r.vec_id, r.cell): [tuple(row) for row in r.lut]
        for r in q.select(
            F.col("vec_id"),
            F.explode(
                _arrow_query_lut(cents, books, nprobe)(_as_dl("embedding"))
            ).alias("p"),
        )
        .select("vec_id", F.col("p.cell").alias("cell"), F.col("p.lut").alias("lut"))
        .collect()
    }
    assert fused_q == step_q


def test_pq_arrow_lut_equals_expression(spark):
    """The Arrow LUT builder (numpy squared-distance batch) produces
    BIT-EQUAL lookup tables to the literal-expression form on the
    fixture embeddings (dsub=2: numpy's two-term sums equal the
    left-to-right fold exactly), and pq_top_k returns identical rows
    either way — the r8 query-side fixed-cost cut must not move a
    single float."""
    from ic_spark.operators.similarity import (
        _arrow_lut_builder,
        _as_dl,
        pq_codebooks,
        pq_top_k,
    )
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    books = pq_codebooks(e, "vec_id", "embedding", m=8, ksub=16)
    dsub = len(books[0][0])
    q = e.where(F.col("vec_id") < 5)

    luts = []
    for j, book in enumerate(books):
        sub = f"slice(CAST(`embedding` AS ARRAY<DOUBLE>), {j * dsub + 1}, {dsub})"
        ds = ", ".join(
            "aggregate(zip_with("
            + sub
            + ", array("
            + ", ".join(f"{float(x)!r}D" for x in cent)
            + "), (x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x)"
            for cent in book
        )
        luts.append(f"array({ds})")
    expr_lut = {
        r.query_id: r.lut
        for r in q.select(
            F.col("vec_id").alias("query_id"),
            F.expr("array(" + ", ".join(luts) + ")").alias("lut"),
        ).collect()
    }
    arrow_lut = {
        r.query_id: r.lut
        for r in q.select(
            F.col("vec_id").alias("query_id"),
            _arrow_lut_builder(books)(_as_dl("embedding")).alias("lut"),
        ).collect()
    }
    assert arrow_lut == expr_lut

    rows_expr = sorted(
        map(tuple, pq_top_k(e, q, k=5, codebooks=books).collect())
    )
    rows_arrow = sorted(
        map(
            tuple,
            pq_top_k(e, q, k=5, codebooks=books, use_arrow=True).collect(),
        )
    )
    assert rows_expr == rows_arrow


def test_bpe_train_matches_naive_reference(spark):
    """Distributed BPE learning (one word-count pass + indexed driver
    merge loop) produces EXACTLY the merges of a naive
    recount-per-iteration reference implementation on the same word
    counts — same (count, pair) tie-break — and the merges are
    deterministic across runs."""
    from collections import defaultdict

    from ic_spark.operators.bpe import bpe_train

    rows = [
        (i, " ".join(["low lower lowest newer wider new news"] * (i % 3 + 1)))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe_train(df, "text", n_merges=24)
    again = bpe_train(df, "text", n_merges=24)
    assert merges == again and len(merges) > 8

    # naive reference over the same word counts
    wc = defaultdict(int)
    for _, t in rows:
        for w in t.split():
            wc[w] += 1
    vocab = {tuple(w) + ("</w>",): c for w, c in wc.items()}
    ref = []
    for _ in range(24):
        pc = defaultdict(int)
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        (a, b), cnt = max(pc.items(), key=lambda kv: (kv[1], kv[0]))
        ref.append((a, b))
        nv = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + c
        vocab = nv
    assert merges == ref


def test_bpe_encode_greedy_rank_order(spark):
    """bpe_encode applies merges lowest-rank-first per word (the GPT-2
    apply rule); token counts match a hand-walked reference; unseen
    characters survive as singletons."""
    from ic_spark.operators.bpe import bpe_encode, bpe_train

    train = spark.createDataFrame(
        [(1, "aa aa aa ab"), (2, "aa ab ab")], "doc_id long, text string"
    )
    merges = bpe_train(train, "text", n_merges=4)
    assert ("a", "a") in merges  # the dominant pair merges

    docs = spark.createDataFrame(
        [(10, "aa ab zz"), (11, "aaaa")], "doc_id long, text string"
    )
    out = {
        r.doc_id: (r.bpe_tokens, r.n_bpe_tokens)
        for r in bpe_encode(docs, "text", merges).collect()
    }
    # every token list rebuilds the source words
    for did, (toks, n) in out.items():
        assert n == len(toks)
        text = dict([(10, "aa ab zz"), (11, "aaaa")])[did]
        rebuilt = "".join(toks).replace("</w>", " ").strip()
        assert rebuilt == text.replace(" ", " ").strip()

    # greedy rank order: ranks of ("a","a") merges "aaaa" pairwise
    ranks = {p: i for i, p in enumerate(merges)}

    def ref_word(word):
        syms = list(word) + ["</w>"]
        while len(syms) > 1:
            best, bi = None, -1
            for i, (a, b) in enumerate(zip(syms, syms[1:])):
                r = ranks.get((a, b))
                if r is not None and (best is None or r < best):
                    best, bi = r, i
            if best is None:
                break
            syms[bi : bi + 2] = [syms[bi] + syms[bi + 1]]
        return syms

    want_11 = ref_word("aaaa")
    assert out[11][0] == want_11
    want_10 = ref_word("aa") + ref_word("ab") + ref_word("zz")
    assert out[10][0] == want_10


def test_flac_in_ogg_roundtrip():
    """FLAC-in-Ogg: pages reassembled via segment lacing, mapping
    prefix stripped, native decode reproduces the samples exactly —
    including a frame packet split across pages (255-lacing)."""
    import numpy as np

    from flacref import encode_flac
    from ic_spark.operators.flac_codec import decode_flac
    from ic_spark.operators.multimodal import decode_audio_samples

    samples = [int(100 * np.sin(i / 3)) for i in range(1000)]
    native = encode_flac([samples], block_size=64)
    # split: fLaC + STREAMINFO block in packet 1, frames as packet 2
    meta_len = 4 + 4 + 34  # magic + block header + STREAMINFO
    first = b"\x7fFLAC\x01\x00\x00\x00" + native[:meta_len]
    frames = native[meta_len:]

    from ic_spark.operators.vorbis_codec import _ogg_crc

    def page(payload, seq, header_type=0):
        # lacing: 255-chunks + terminator (may itself be 255-split)
        lac = []
        rest = payload
        while True:
            take = min(255, len(rest))
            lac.append(take)
            rest = rest[take:]
            if take < 255:
                break
        hdr = (
            b"OggS" + bytes([0, header_type]) + b"\x00" * 8
            + (7).to_bytes(4, "little") + seq.to_bytes(4, "little")
            + b"\x00" * 4 + bytes([len(lac)]) + bytes(lac)
        )
        # real page CRC (r10: the walker verifies CRCs like vorbis's)
        raw = bytearray(hdr + payload)
        raw[22:26] = _ogg_crc(bytes(raw)).to_bytes(4, "little")
        return bytes(raw)

    ogg = page(first, 0, 2) + page(frames, 1, 4)
    got = decode_flac(ogg)
    assert got is not None
    arr, rate, nch = got
    assert (arr[:, 0] == np.asarray(samples)).all() and rate == 8000
    # a multiplexed foreign stream (different serial) is ignored, and
    # a damaged page truncates instead of splicing garbage (r10 fix)
    foreign = bytearray(page(b"\x01theora-ish", 0, 2))
    foreign[14:18] = (99).to_bytes(4, "little")
    foreign[22:26] = b"\x00" * 4
    foreign[22:26] = _ogg_crc(bytes(foreign)).to_bytes(4, "little")
    got2 = decode_flac(bytes(foreign) + ogg)
    assert got2 is not None and (got2[0][:, 0] == np.asarray(samples)).all()
    # public audio surface routes Ogg-FLAC too
    via = decode_audio_samples(ogg)
    assert via is not None and (via[0][:, 0] == np.asarray(samples)).all()


@pytest.mark.slow
@pytest.mark.parametrize("use_arrow", [False, True])
def test_ivfpq_persisted_index_equals_inmemory(spark, tmp_path, use_arrow):
    """build_ivf_pq_index + ivf_pq_index_top_k answer EXACTLY what the
    in-memory ivf_pq_top_k answers with the same parameters — the
    build/serve split shares _ivfpq_fit/_ivfpq_encode_corpus/
    _ivfpq_query_side, so the persisted index cannot drift."""
    from ic_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_index_top_k,
        ivf_pq_top_k,
    )
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    params = dict(nlist=8, m=8, ksub=16, pq_refine_iters=1)
    direct = sorted(
        tuple(r)
        for r in ivf_pq_top_k(
            e, q, k=10, nprobe=3, use_arrow=use_arrow, **params
        ).collect()
    )
    meta = build_ivf_pq_index(
        e, str(tmp_path / "idx"), use_arrow=use_arrow, **params
    )
    assert meta["nlist"] == 8 and len(meta["codebooks"]) == 8
    served = sorted(
        tuple(r)
        for r in ivf_pq_index_top_k(
            spark, str(tmp_path / "idx"), q, k=10, nprobe=3, use_arrow=use_arrow
        ).collect()
    )
    assert served == direct
    # the on-disk layout is cell-partitioned (file-level probe pruning)
    import os

    dirs = os.listdir(str(tmp_path / "idx" / "codes"))
    assert any(d.startswith("__cell=") for d in dirs)


def test_ivfpq_index_serve_plan_uses_dpp(spark, tmp_path):
    """Serve-side plan pin: the codes table is partitioned by __cell
    and the broadcast probe join triggers DYNAMIC PARTITION PRUNING —
    only probed cells' files are read, enforced by the layout."""
    from ic_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_index_top_k,
    )
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    build_ivf_pq_index(e, str(tmp_path / "idx"), nlist=8, m=8, ksub=16)
    out = ivf_pq_index_top_k(
        spark, str(tmp_path / "idx"), e.where(F.col("vec_id") < 5), k=10, nprobe=3
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    assert "BroadcastHashJoin" in plan


def test_ivfpq_index_append_equals_frozen_union(spark, tmp_path):
    """Fold-in == encode-the-union-with-frozen-parameters: appending
    new vectors to a persisted index (no retrain) answers exactly what
    serving over the union encoded with the ORIGINAL centroids and
    codebooks answers."""
    from ic_spark.operators.similarity import (
        _ivfpq_adc_topk,
        _ivfpq_encode_corpus,
        _ivfpq_query_side,
        build_ivf_pq_index,
        ivf_pq_index_append,
        ivf_pq_index_top_k,
    )
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    old = e.where(F.col("vec_id") >= 100)
    new = e.where(F.col("vec_id") < 100)
    idx = str(tmp_path / "idx")
    meta = build_ivf_pq_index(old, idx, nlist=8, m=8, ksub=16)
    ivf_pq_index_append(spark, idx, new)
    q = e.where(F.col("vec_id") < 5)
    served = sorted(
        tuple(r)
        for r in ivf_pq_index_top_k(spark, idx, q, k=10, nprobe=3).collect()
    )
    cb = _ivfpq_encode_corpus(
        e, meta["centroids"], meta["codebooks"], "vec_id", "embedding", True, False
    )
    qs = _ivfpq_query_side(
        q, meta["centroids"], meta["codebooks"], 3, "vec_id", "embedding", True, False
    )
    want = sorted(tuple(r) for r in _ivfpq_adc_topk(cb, qs, 10).collect())
    assert served == want
    # appended vectors are actually retrievable
    assert any(r[1] < 100 for r in served)


@pytest.mark.slow
def test_ivfpq_index_compaction_preserves_serving_and_dpp(spark, tmp_path):
    """Small-files maintenance for the persisted index: N appends
    accumulate files per __cell= directory; compact_ivf_pq_index
    rewrites one file per cell into a NEW generation with an atomic
    index.json flip.  Serve results are bit-identical before/after,
    the file count drops, and the DPP plan pin still holds over the
    compacted generation."""
    import glob
    import json
    import os

    from ic_spark.operators.similarity import (
        build_ivf_pq_index,
        compact_ivf_pq_index,
        ivf_pq_index_append,
        ivf_pq_index_top_k,
    )
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "idx")
    build_ivf_pq_index(e.where(F.col("vec_id") >= 300), idx, nlist=8, m=8, ksub=16)
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        ivf_pq_index_append(
            spark,
            idx,
            e.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
        )
    q = e.where(F.col("vec_id") < 5)
    before = sorted(
        tuple(r) for r in ivf_pq_index_top_k(spark, idx, q, k=10, nprobe=3).collect()
    )
    n_before = len(glob.glob(os.path.join(idx, "codes", "*", "*.parquet")))

    meta = compact_ivf_pq_index(spark, idx)
    assert meta["codes_dir"] == "codes-v2"
    with open(os.path.join(idx, "index.json")) as f:
        assert json.load(f)["codes_dir"] == "codes-v2"
    assert not os.path.isdir(os.path.join(idx, "codes")), "old generation kept"
    files = glob.glob(os.path.join(idx, "codes-v2", "*", "*.parquet"))
    cells = glob.glob(os.path.join(idx, "codes-v2", "__cell=*"))
    assert len(files) == len(cells), "compaction must emit one file per cell"
    assert len(files) < n_before, (len(files), n_before)

    after = sorted(
        tuple(r) for r in ivf_pq_index_top_k(spark, idx, q, k=10, nprobe=3).collect()
    )
    assert after == before

    out = ivf_pq_index_top_k(spark, idx, q, k=10, nprobe=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    assert "BroadcastHashJoin" in plan

    # a further append lands in the NEW generation and keeps serving
    ivf_pq_index_append(spark, idx, e.where(F.col("vec_id") < 0))
    again = compact_ivf_pq_index(spark, idx)
    assert again["codes_dir"] == "codes-v3"
    final = sorted(
        tuple(r) for r in ivf_pq_index_top_k(spark, idx, q, k=10, nprobe=3).collect()
    )
    assert final == before


@pytest.mark.slow
def test_ivfpq_index_compaction_guards_and_rebuild_cleanup(spark, tmp_path):
    """Compaction coordination guards: an in-flight streaming publish
    (_stage-batch-* present) refuses to compact; batch ids folded into
    part-* files are recorded so a crash-replay is a no-op; a full
    rebuild into a compacted index removes the superseded generation
    instead of leaking it."""
    import json
    import os

    from ic_spark.operators.similarity import (
        build_ivf_pq_index,
        compact_ivf_pq_index,
        ivf_pq_index_top_k,
    )
    from ic_spark.streaming.sink import ivfpq_index_append_sink
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "idx")
    build_ivf_pq_index(e.where(F.col("vec_id") >= 100), idx, nlist=8, m=8, ksub=16)
    sink = ivfpq_index_append_sink(idx)
    sink(e.where(F.col("vec_id") < 100), 3)
    q = e.where(F.col("vec_id") < 5)
    served = sorted(
        tuple(r) for r in ivf_pq_index_top_k(spark, idx, q, k=10, nprobe=3).collect()
    )

    # stage guard: in-flight publish blocks compaction
    os.makedirs(os.path.join(idx, "_stage-batch-00000009"))
    with pytest.raises(RuntimeError, match="quiesce"):
        compact_ivf_pq_index(spark, idx)
    os.rmdir(os.path.join(idx, "_stage-batch-00000009"))

    meta = compact_ivf_pq_index(spark, idx)
    assert meta["folded_batches"] == [":3"]  # '<stream-hash>:<batch>'
    # crash-replay of the folded batch: no-op (no fresh b-files, no
    # duplicate rows served)
    sink(e.where(F.col("vec_id") < 100), 3)
    import glob

    assert not glob.glob(os.path.join(idx, "codes-v2", "*", "b*.parquet"))
    replay = sorted(
        tuple(r) for r in ivf_pq_index_top_k(spark, idx, q, k=10, nprobe=3).collect()
    )
    assert replay == served

    # rebuild lands in the NEXT generation (never the live dir — a
    # reader mid-rebuild must not see old quantizers over new codes)
    # and removes the superseded codes-v2 generation after the flip
    build_ivf_pq_index(e, idx, nlist=8, m=8, ksub=16)
    assert not os.path.isdir(os.path.join(idx, "codes-v2"))
    with open(os.path.join(idx, "index.json")) as f:
        assert json.load(f)["codes_dir"] == "codes-v3"
    assert os.path.isdir(os.path.join(idx, "codes-v3"))
    assert ivf_pq_index_top_k(spark, idx, q, k=10, nprobe=3).count() > 0

    # keep_old=True defers that cleanup so in-flight readers of the
    # previous generation can drain (r9 review find: a lazy serve
    # DataFrame resolves the old path at plan time, and rmtree right
    # after the flip fails it mid-query).
    pre_flip = ivf_pq_index_top_k(spark, idx, q, k=10, nprobe=3)
    build_ivf_pq_index(e, idx, nlist=8, m=8, ksub=16, keep_old=True)
    assert os.path.isdir(os.path.join(idx, "codes-v3"))  # still drainable
    assert pre_flip.count() > 0  # in-flight reader survives the flip
    with open(os.path.join(idx, "index.json")) as f:
        assert json.load(f)["codes_dir"] == "codes-v4"
    # the next default rebuild reclaims every superseded generation
    build_ivf_pq_index(e, idx, nlist=8, m=8, ksub=16)
    assert not os.path.isdir(os.path.join(idx, "codes-v3"))
    assert not os.path.isdir(os.path.join(idx, "codes-v4"))


def test_ivfpq_fold_ledger_scoped_by_stream_id(spark, tmp_path):
    """Batch ids are only unique per checkpoint: after compaction folds
    stream A's batch 0, a NEW query (different stream_id) publishing
    ITS batch 0 must not be mistaken for the folded one — and a
    replay of A's batch 0 stays a no-op."""
    import glob
    import os

    from ic_spark.operators.similarity import (
        build_ivf_pq_index,
        compact_ivf_pq_index,
    )
    from ic_spark.streaming.sink import ivfpq_index_append_sink
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "idx")
    build_ivf_pq_index(e.where(F.col("vec_id") >= 200), idx, nlist=8, m=8, ksub=16)
    sink_a = ivfpq_index_append_sink(idx, stream_id="ckptA")
    sink_a(e.where(F.col("vec_id") < 100), 0)
    meta = compact_ivf_pq_index(spark, idx)
    (key,) = meta["folded_batches"]
    assert key.endswith(":0") and len(key.split(":")[0]) == 8

    sink_b = ivfpq_index_append_sink(idx, stream_id="ckptB")
    sink_b(e.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 200)), 0)
    b_files = glob.glob(os.path.join(idx, "codes-v2", "*", "b*00000000-*"))
    assert b_files, "new stream's batch 0 was wrongly treated as folded"

    # replay of A's folded batch 0: still a no-op
    n_before = len(glob.glob(os.path.join(idx, "codes-v2", "*", "*.parquet")))
    sink_a(e.where(F.col("vec_id") < 100), 0)
    n_after = len(glob.glob(os.path.join(idx, "codes-v2", "*", "*.parquet")))
    assert n_after == n_before


@pytest.mark.slow
def test_ivfpq_fold_ledger_bounded_by_high_water_mark(spark, tmp_path):
    """The fold ledger stores one HIGH-WATER MARK per stream hash, not
    every batch id ever folded (r9 review find: the exhaustive list
    grows forever on a long-running stream).  Sound because checkpoint
    batch ids commit sequentially — only the LAST batch can replay, so
    id <= max-folded means folded-or-committed, never a fresh publish."""
    import glob
    import os

    from ic_spark.operators.similarity import (
        build_ivf_pq_index,
        compact_ivf_pq_index,
        ivf_pq_index_top_k,
    )
    from ic_spark.streaming.sink import ivfpq_index_append_sink
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "idx")
    build_ivf_pq_index(e.where(F.col("vec_id") >= 300), idx, nlist=8, m=8, ksub=16)
    sink = ivfpq_index_append_sink(idx, stream_id="ckpt1")
    for b in range(3):
        sink(
            e.where(
                (F.col("vec_id") >= b * 100) & (F.col("vec_id") < (b + 1) * 100)
            ),
            b,
        )
    meta = compact_ivf_pq_index(spark, idx)
    # One ledger entry (the max), not three.
    (key,) = meta["folded_batches"]
    assert key.endswith(":2")

    q = e.where(F.col("vec_id") < 5)
    served = sorted(
        tuple(r)
        for r in ivf_pq_index_top_k(spark, idx, q, k=10, nprobe=3).collect()
    )
    # Replay of a batch BELOW the high-water mark: still a no-op.
    cur = meta["codes_dir"]
    sink(e.where(F.col("vec_id") < 100), 0)
    assert not glob.glob(os.path.join(idx, cur, "*", "b*.parquet"))
    replay = sorted(
        tuple(r)
        for r in ivf_pq_index_top_k(spark, idx, q, k=10, nprobe=3).collect()
    )
    assert replay == served

    # A second compaction keeps the ledger at one entry per stream.
    sink(e.where(F.col("vec_id") < 0), 3)  # empty publish still advances
    meta2 = compact_ivf_pq_index(spark, idx)
    assert len(meta2["folded_batches"]) == 1


def test_r9_text_and_zorder_edge_semantics(spark):
    """Round-9 review pins: (1) zorder keys stay positive and Morton-
    monotone at the per-column budget edge (bit 31 of column 2 landed
    in the long SIGN bit); (2) word_shingles emits NO n-gram for docs
    shorter than n (a truncated whole-doc 'shingle' falsely flagged
    short duplicate docs as sharing an n-gram); (3) pii audit counts
    mirror the scrub's sequential chain (digits inside an email are not
    also a phone hit); (4) empty documents score keep=0, never NULL."""
    import pyspark.sql.functions as F

    from ic_spark.functions.text import word_shingles
    from ic_spark.functions.zorder import zorder_key
    from ic_spark.operators.textprep import (
        pii_counts,
        quality_logreg_score,
        scrub_pii,
    )

    # (1) zorder
    zdf = spark.createDataFrame(
        [(0, 1), (0, 2**30), (0, 2**31 - 1)], "a long, b long"
    ).select("b", zorder_key("a", "b").alias("k"))
    rows = {r.b: r.k for r in zdf.collect()}
    assert all(k >= 0 for k in rows.values())
    assert rows[1] < rows[2**30] < rows[2**31 - 1]

    # (2) shingles
    sdf = spark.createDataFrame(
        [("a b c d",), ("a b",), ("",)], "t string"
    ).select(word_shingles("t", 3).alias("s"))
    got = [r.s for r in sdf.collect()]
    assert got == [["a b c", "b c d"], [], []]

    # (3) pii sequential audit
    pdf = spark.createDataFrame(
        [("reach me: 555-1234@example.com or 555-9999",)], "raw string"
    )
    n_emails, n_phones, n_ips = pii_counts("raw")
    r = pdf.select(
        scrub_pii("raw").alias("s"),
        n_emails.alias("e"), n_phones.alias("p"), n_ips.alias("i"),
    ).first()
    assert r.e == 1 and r.i == 0
    assert r.p == 1, "phone count must exclude digits the email scrub ate"
    assert "<EMAIL>" in r.s and "<PHONE>" in r.s

    # (4) empty doc quality score
    q = quality_logreg_score(
        spark.createDataFrame([(1, "")], "doc_id long, text string"),
        "doc_id",
        "text",
    ).first()
    assert q.keep is not None and q.quality_score is not None
    assert q.digit_frac == 0.0 and q.upper_frac == 0.0


@pytest.mark.slow
def test_ivfpq_rebuild_folds_streaming_batches_and_guards_inflight(
    spark, tmp_path
):
    """r9 review finds on the rebuild path: (1) a rebuild must fold the
    old generation's published b<batch>-* files into the ledger — their
    rows are in the rebuilt corpus, so a crash-replayed batch would
    re-publish them as duplicate neighbors; (2) a rebuild must refuse
    while a streaming publish is staging, or the batch finishes into
    the superseded generation and its rows vanish without replay."""
    import glob
    import json
    import os

    from ic_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_index_top_k,
    )
    from ic_spark.streaming.sink import ivfpq_index_append_sink
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "idx")
    build_ivf_pq_index(e.where(F.col("vec_id") >= 100), idx, nlist=8, m=8, ksub=16)
    sink = ivfpq_index_append_sink(idx)
    sink(e.where(F.col("vec_id") < 100), 5)
    assert glob.glob(os.path.join(idx, "codes", "*", "b*.parquet"))

    # (2) staged publish blocks the rebuild
    os.makedirs(os.path.join(idx, "_stage-batch-00000009"))
    with pytest.raises(RuntimeError, match="quiesce"):
        build_ivf_pq_index(e, idx, nlist=8, m=8, ksub=16)
    os.rmdir(os.path.join(idx, "_stage-batch-00000009"))

    # (1) rebuild over the full corpus: batch 5's rows are inside it
    build_ivf_pq_index(e, idx, nlist=8, m=8, ksub=16)
    with open(os.path.join(idx, "index.json")) as f:
        meta = json.load(f)
    assert meta.get("folded_batches"), "rebuild lost the fold ledger"
    q = e.where(F.col("vec_id") < 5)
    served = ivf_pq_index_top_k(spark, idx, q, k=10, nprobe=3)
    before = served.count()
    # crash-replay of batch 5: must be a no-op, not duplicate rows
    sink(e.where(F.col("vec_id") < 100), 5)
    assert not glob.glob(
        os.path.join(idx, meta["codes_dir"], "*", "b*.parquet")
    ), "replayed batch re-published into the rebuilt index"
    assert (
        ivf_pq_index_top_k(spark, idx, q, k=10, nprobe=3).count() == before
    )


def test_iceberg_hash_null_maps_to_null():
    """Spec rule: transforms map null to null — NULL decimals/uuids
    previously hashed their zero-byte renderings into a real bucket
    (r9 review find)."""
    import pyspark.sql.functions as F

    from ic_spark.functions.iceberg_hash import (
        iceberg_hash_decimal,
        iceberg_hash_uuid,
    )
    from ic_spark.session import get_spark

    spark = get_spark("t")
    d = spark.createDataFrame(
        [("14.20",), (None,)], "d string"
    ).select(F.col("d").cast("decimal(9,2)").alias("d"))
    got = [r.h for r in d.select(iceberg_hash_decimal(F.col("d"), 2).alias("h")).collect()]
    assert got == [-500754589, None]  # spec test vector + null rule
    u = spark.createDataFrame(
        [("f79c3e09-677c-4bbd-a479-3f349cb785e7",), (None,)], "u string"
    )
    got = [r.h for r in u.select(iceberg_hash_uuid(F.col("u")).alias("h")).collect()]
    assert got == [1488055340, None]


@pytest.mark.slow
def test_ivfpq_index_metadata_plane_through_injected_fs(spark, tmp_path):
    """VERDICT r9 #4: the persisted-index METADATA plane (index.json
    read/write, the _stage-batch-* guard, fold-ledger file listing,
    generation cleanup) routes through the fileio seam.  Full
    build→serve→append→compact lifecycle with an injected pyarrow
    SubTreeFileSystem — the same _IndexFS branch s3://gs:// take — and
    the DPP plan pin still holds over the compacted layout."""
    import json
    import os

    import pyarrow.fs as pafs

    from ic_spark.operators.similarity import (
        build_ivf_pq_index,
        compact_ivf_pq_index,
        ivf_pq_index_append,
        ivf_pq_index_top_k,
        ivf_pq_top_k,
    )
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    # The codes table flows through Spark's Hadoop layer (absolute
    # local path); every METADATA byte flows through the injected
    # connector, whose subtree root maps "/" of the FS onto the real
    # filesystem — the exact dual-plane split a real s3:// deployment
    # has (s3a for the table, pyarrow connector for the metadata).
    fio = {
        "pyarrow_filesystem": pafs.SubTreeFileSystem(
            "/", pafs.LocalFileSystem()
        )
    }
    idx = str(tmp_path / "remote_idx")
    e = load_table(spark, SF_DIR, "embeddings")
    q = e.where(F.col("vec_id") < 3)

    meta = build_ivf_pq_index(
        e, idx, nlist=8, m=8, ksub=16, file_io=fio
    )
    # index.json was published via the connector's single-object PUT
    # (no .idx.tmp temp+rename litter) and parses back
    assert json.load(open(os.path.join(idx, "index.json")))["nlist"] == 8
    assert not [n for n in os.listdir(idx) if n.endswith(".idx.tmp")]

    served = ivf_pq_index_top_k(spark, idx, q, k=5, nprobe=3, file_io=fio)
    direct = ivf_pq_top_k(e, q, k=5, nprobe=3, nlist=8, m=8, ksub=16)
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, direct.collect())
    )

    # append through the seam, then compact: generation flips to
    # codes-v2 via connector ops, superseded dir removed via connector
    extra = e.where(F.col("vec_id") >= 450).withColumn(
        "vec_id", F.col("vec_id") + 10000
    )
    ivf_pq_index_append(spark, idx, extra, file_io=fio)
    meta2 = compact_ivf_pq_index(spark, idx, file_io=fio)
    assert meta2["codes_dir"] == "codes-v2"
    assert sorted(
        n for n in os.listdir(idx) if n.startswith("codes")
    ) == ["codes-v2"]

    # a streaming stage marker visible through the connector blocks
    # both rebuild and compaction
    os.makedirs(os.path.join(idx, "_stage-batch-deadbeef00000001"))
    with pytest.raises(RuntimeError, match="in flight"):
        compact_ivf_pq_index(spark, idx, file_io=fio)
    with pytest.raises(RuntimeError, match="in flight"):
        build_ivf_pq_index(e, idx, nlist=8, m=8, ksub=16, file_io=fio)
    os.rmdir(os.path.join(idx, "_stage-batch-deadbeef00000001"))

    # DPP pin holds over the injected-FS-compacted layout; the
    # appended vectors (exact duplicates at vec_id+10000) are served
    out = ivf_pq_index_top_k(spark, idx, q, k=5, nprobe=3, file_io=fio)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    rows = out.collect()
    assert {r.query_id for r in rows} == {0, 1, 2}
    assert all(r.rank <= 5 for r in rows)


def test_index_fs_remote_root_isolation(tmp_path):
    """_IndexFS path mapping under a REMOTE-rooted connector: with a
    SubTreeFileSystem standing in for a bucket, metadata operations
    resolve inside the store root — reads, atomic JSON publish, stage
    listing, recursive batch-file listing and generation removal all
    land under the subtree, never on the raw local path."""
    import os

    import pyarrow.fs as pafs

    from ic_spark.operators.similarity import _IndexFS

    store = tmp_path / "bucket"
    (store / "idx" / "codes" / "__cell=1").mkdir(parents=True)
    (store / "idx" / "codes" / "__cell=1" / "b0000000700000002-0000.parquet").write_bytes(b"x")
    (store / "idx" / "_stage-batch-00000003").mkdir()
    fio = {
        "pyarrow_filesystem": pafs.SubTreeFileSystem(
            str(store), pafs.LocalFileSystem()
        )
    }
    ifs = _IndexFS("idx", fio)

    assert ifs.read_json("index.json") is None
    ifs.write_json_atomic({"codes_dir": "codes"}, "index.json")
    assert (store / "idx" / "index.json").is_file()
    assert not os.path.exists("idx")  # nothing leaked to the raw path
    assert ifs.read_json("index.json") == {"codes_dir": "codes"}
    assert ifs.stage_batches() == ["_stage-batch-00000003"]
    assert ifs.batch_file_names("codes") == [
        "b0000000700000002-0000.parquet"
    ]
    ifs.rmtree("codes")
    assert not (store / "idx" / "codes").exists()
    ifs.rmtree("codes")  # missing-ok, like shutil.rmtree(ignore_errors)


@pytest.mark.slow
def test_streaming_sink_publish_through_injected_fs(spark, tmp_path):
    """VERDICT r11 #3: the ANN streaming sink's batch publish
    (index.json read, replay pre-delete sweep, stage→codes renames,
    stage cleanup) was the last local-rename-only index plane — it now
    routes through _IndexFS.  Full publish→serve→replay→compact
    lifecycle against an injected SubTreeFileSystem, DPP pin holding."""
    import json
    import os

    import pyarrow.fs as pafs

    from ic_spark.operators.similarity import (
        build_ivf_pq_index,
        compact_ivf_pq_index,
        ivf_pq_index_top_k,
    )
    from ic_spark.streaming.sink import ivfpq_index_append_sink
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    fio = {
        "pyarrow_filesystem": pafs.SubTreeFileSystem(
            "/", pafs.LocalFileSystem()
        )
    }
    idx = str(tmp_path / "sink_idx")
    e = load_table(spark, SF_DIR, "embeddings")
    build_ivf_pq_index(
        e.where(F.col("vec_id") >= 100), idx, nlist=8, m=8, ksub=16,
        file_io=fio,
    )

    sink = ivfpq_index_append_sink(idx, file_io=fio)
    sink(e.where(F.col("vec_id") < 100), 3)
    # published under deterministic b-names via the connector; the
    # stage dir was cleaned through the connector too
    import glob

    bfiles = glob.glob(os.path.join(idx, "codes", "*", "b*.parquet"))
    assert bfiles, "sink published nothing"
    assert all("b00000003-" in os.path.basename(f) for f in bfiles)
    assert not [n for n in os.listdir(idx) if n.startswith("_stage-batch-")]

    q = e.where(F.col("vec_id") < 5)
    out = ivf_pq_index_top_k(spark, idx, q, k=10, nprobe=3, file_io=fio)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    served = sorted(tuple(r) for r in out.collect())
    assert {r[0] for r in served} == {0, 1, 2, 3, 4}

    # at-least-once replay through the seam: pre-delete sweeps the
    # first publish's files, the re-publish serves identical rows
    sink(e.where(F.col("vec_id") < 100), 3)
    bfiles2 = glob.glob(os.path.join(idx, "codes", "*", "b*.parquet"))
    assert sorted(bfiles2) == sorted(bfiles)
    replay = sorted(
        tuple(r)
        for r in ivf_pq_index_top_k(
            spark, idx, q, k=10, nprobe=3, file_io=fio
        ).collect()
    )
    assert replay == served

    # compact folds the streamed batch (ledger via connector); a
    # crash-replay of the folded batch is a no-op
    meta = compact_ivf_pq_index(spark, idx, file_io=fio)
    assert meta["folded_batches"] == [":3"]
    sink(e.where(F.col("vec_id") < 100), 3)
    assert not glob.glob(os.path.join(idx, "codes-v2", "*", "b*.parquet"))
    # missing index.json fails loudly instead of AttributeError
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="index.json"):
        ivfpq_index_append_sink(str(tmp_path / "nowhere"), file_io=fio)(
            e.limit(1), 0
        )


def test_arrow_cell_assigners_zero_norm_centroid_matches_expression(
    spark,
):
    """A zero-norm seed centroid (empty doc, failed encode) must lose
    the argmax in the Arrow kernels exactly as its NULL cosine loses
    the expression struct-max — pre-fix, NaN won np.argmax and the
    ENTIRE corpus landed in the zero-norm cell (r10 review find)."""
    from ic_spark.operators.similarity import (
        _arrow_cell_assigner,
        _arrow_cell_residual_encoder,
        _arrow_top_cells,
        _nearest_centroid_idx,
    )

    cents = [[1.0, 0.0], [0.0, 0.0], [0.0, 1.0]]
    df = spark.createDataFrame(
        [(1, [1.0, 0.1]), (2, [0.1, 1.0]), (3, [0.5, 0.5]),
         (4, [0.0, 0.0])],  # zero-norm ROW: all-NULL cosines -> cell 1
        "id long, v array<double>",
    )
    expr = {
        r.id: r.cell
        for r in df.select(
            "id", _nearest_centroid_idx("v", cents).alias("cell")
        ).collect()
    }
    arrow = {
        r.id: r.cell
        for r in df.select(
            "id", _arrow_cell_assigner(cents)(F.col("v")).alias("cell")
        ).collect()
    }
    assert arrow == expr == {1: 1, 2: 3, 3: 1, 4: 1}
    books = [[[0.0], [1.0]], [[0.0], [1.0]]]
    fused = {
        r.id: r.cc.cell
        for r in df.select(
            "id",
            _arrow_cell_residual_encoder(cents, books)(F.col("v")).alias(
                "cc"
            ),
        ).collect()
    }
    assert fused == expr
    # probe ranking: the zero-norm cell is probed LAST
    probes = df.where("id = 1").select(
        _arrow_top_cells(cents, 3)(F.col("v")).alias("p")
    ).collect()[0].p
    assert probes[-1] == 2 and set(probes) == {1, 2, 3}


def test_arrow_kernels_fail_loudly_on_null_embedding(spark):
    """use_arrow kernels raise a NAMED error on a NULL embedding row
    instead of numpy's bare TypeError (the expression paths tolerate
    such rows as NULL cosines — the message says to use them)."""
    from ic_spark.operators.similarity import _arrow_cell_assigner

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None)], "id long, v array<double>"
    )
    with pytest.raises(Exception, match="NULL embedding row"):
        df.select(
            _arrow_cell_assigner([[1.0, 0.0]])(F.col("v")).alias("c")
        ).collect()


def test_lsh_bucket_dim_mismatch_raises(spark):
    """hyperplane_lsh_buckets fails LOUDLY when dim doesn't match the
    vectors — pre-fix every dot went NULL via zip_with padding and all
    rows silently collapsed into bucket 0, degrading the bucket
    equi-join to a full cross join with correct-looking results."""
    from ic_spark.operators.similarity import (
        hyperplane_lsh_buckets,
        lsh_top_k,
    )

    df = spark.createDataFrame(
        [(1, [0.5] * 32)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="vector has length 32"):
        hyperplane_lsh_buckets(df, "embedding", 64).collect()
    # and the matched dim still works end-to-end
    ok = hyperplane_lsh_buckets(df, "embedding", 32).collect()
    assert len(ok) == 1


def test_lsh_topk_no_pair_dedupe_shuffle(spark):
    """Multiprobe geometry: probe values are pairwise distinct and each
    corpus row has ONE bucket, so a pair meets in at most one probe
    bucket — results need no dropDuplicates, and the plan must not
    carry the extra exchange it used to (r10 review find)."""
    from ic_spark.operators.similarity import lsh_top_k
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    out = lsh_top_k(e, e.where(F.col("vec_id") < 3), k=5)
    rows = out.collect()
    pairs = [(r.query_id, r.neighbor_id) for r in rows]
    assert len(pairs) == len(set(pairs))  # no duplicate pairs emitted
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the top-k window's exchange remains; the dedupe's
    # hashpartitioning(query_id, neighbor_id) exchange is gone
    ex = [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert any("query_id#" in line for line in ex)
    assert not any(
        "query_id#" in line and "neighbor_id#" in line for line in ex
    ), ex


def test_asof_join_matched_row_taken_whole(spark):
    """A matched right row with a NULL payload column must NOT inherit
    an older row's value for that column — per-column forward fill
    built a franken-row mixing two right rows (r10 review find;
    DuckDB ASOF JOIN returns the matched row whole)."""
    left = spark.createDataFrame([(7, 10), (7, 20)], "k long, t long")
    right = spark.createDataFrame(
        [(7, 5, 50.0, "A"), (7, 15, None, "B")],
        "k long, t long, price double, tag string",
    )
    out = {
        r.t: (r.price, r.tag)
        for r in asof_join(
            left, right, on="k", left_time="t", right_time="t"
        ).collect()
    }
    assert out[10] == (50.0, "A")
    # t=20 matches row B whole: price NULL, NOT A's 50.0
    assert out[20] == (None, "B")


@pytest.mark.parametrize("use_arrow", [False, True])
def test_minhash_short_docs_have_no_signature(spark, use_arrow):
    """Docs shorter than shingle_n have NO shingles (word_shingles' r9
    contract) and therefore NO signature: the empty array previously
    crashed the Arrow kernel ('minhash: empty shingle array') and, on
    the expression path, produced an all-NULL signature whose '' band
    keys made EVERY short doc a candidate of every other (r10 review
    find)."""
    from ic_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [
            (1, "hi there"),  # 2 tokens < shingle_n=3: no signature
            (2, "bye now"),
            (3, "the quick brown fox jumps over the lazy dog"),
            (4, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(
        docs, "doc_id", "text", num_hashes=16, use_arrow=use_arrow
    )
    ids = {r.id for r in sigs.collect()}
    assert ids == {3, 4}  # short docs dropped, no crash
    cands = minhash_lsh_candidates(sigs, bands=4, rows_per_band=4)
    pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    assert pairs == {(3, 4)}  # and no short-doc candidate explosion


def test_minhash_arrow_kernel_tolerates_filterless_empty_rows(spark):
    """r12: the Arrow kernel itself (not just the pre-filtered query
    path) must neither crash nor corrupt reduceat segments when a
    FILTERLESS caller feeds zero-shingle rows — it emits empty
    signatures, and surviving rows' signatures stay bit-equal to the
    expression path (empty rows interleaved between them)."""
    import pyspark.sql.functions as F

    from ic_spark.functions.text import hashed_word_shingles
    from ic_spark.operators.dedup import (
        _arrow_minhash_batches,
        minhash_perms,
        minhash_signatures,
    )
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "xy"),  # 1 token: zero shingles
            (3, None),  # NULL text
            (4, ""),  # empty text
            (5, "one two three four five"),
        ],
        "doc_id long, text string",
    )
    a, b = minhash_perms(16, 42)
    base = docs.select(
        F.col("doc_id").alias("id"),
        F.transform(
            hashed_word_shingles(F.col("text"), 3),
            lambda h: F.pmod(h, F.lit(2**31).cast("long")),
        ).alias("__h"),
    )
    schema = StructType(
        [
            StructField("id", LongType(), True),
            # int elements since r13 (mod 2^31-1 values, lossless)
            StructField("sig", ArrayType(IntegerType()), True),
        ]
    )
    raw = base.mapInArrow(_arrow_minhash_batches(a, b), schema).collect()
    by_id = {r.id: list(r.sig) for r in raw}
    assert set(by_id) == {1, 2, 3, 4, 5}
    assert by_id[2] == [] and by_id[3] == [] and by_id[4] == []
    # surviving rows bit-equal to the expression path
    expr = {
        r.id: list(r.sig)
        for r in minhash_signatures(
            docs, "doc_id", "text", num_hashes=16, use_arrow=False
        ).collect()
    }
    assert by_id[1] == expr[1] and by_id[5] == expr[5]
    # and the public path drops them identically to the expression path
    arrow_ids = {
        r.id
        for r in minhash_signatures(
            docs, "doc_id", "text", num_hashes=16, use_arrow=True
        ).collect()
    }
    assert arrow_ids == set(expr) == {1, 5}


def test_interval_join_inverted_interval_no_bucket_explosion(spark):
    """One corrupt interval with end <= start (e.g. an epoch-0
    sentinel) must register ONE bucket, not a multi-million-element
    DESCENDING sequence exploding a single row to executor-OOM scale
    (r10 review find)."""
    import time

    from ic_spark.operators.rangejoin import interval_join, overlap_join

    left = spark.createDataFrame(
        [(1, "2024-06-01 12:00:00")], "id long, ts string"
    ).select("id", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [
            ("ok", "2024-06-01 00:00:00", "2024-06-02 00:00:00"),
            ("inv", "2024-06-01 00:00:00", "1970-01-01 00:00:00"),
        ],
        "tag string, s string, e string",
    ).select(
        "tag",
        F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"),
    )
    t0 = time.perf_counter()
    rows = interval_join(
        left, right, "ts", "s", "e", bucket_width_seconds=600
    ).collect()
    assert time.perf_counter() - t0 < 30
    assert [r.tag for r in rows] == ["ok"]  # inverted matches nothing
    t0 = time.perf_counter()
    orows = overlap_join(
        left.select("id", F.col("ts").alias("ls"),
                    (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("le")),
        right, "ls", "le", "s", "e", bucket_width_seconds=600,
    ).collect()
    assert time.perf_counter() - t0 < 30
    # the inverted right interval [s=2024, e=1970) still satisfies the
    # half-open predicate (l_start < e is false here -> no match)
    assert [r.tag for r in orows] == ["ok"]


def test_interval_join_null_end_registers_no_bucket(spark):
    """A NULL-end interval must vanish at the bucket explode (its join
    outcome is decided by the predicate either way, but greatest()'s
    null-skipping previously gave it one bucket, shuffling rows the
    old plan dropped for free — r10 ADVICE find)."""
    from ic_spark.operators.rangejoin import _bucket_seq, interval_join

    right = spark.createDataFrame(
        [
            ("ok", "2024-06-01 00:00:00", "2024-06-02 00:00:00"),
            ("noend", "2024-06-01 00:00:00", None),
            ("nostart", None, "2024-06-02 00:00:00"),
        ],
        "tag string, s string, e string",
    ).select(
        "tag",
        F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"),
    )
    exploded = right.select(
        "tag", _bucket_seq(F.col("s"), F.col("e"), 600).alias("b")
    )
    assert sorted(set(r.tag for r in exploded.collect())) == ["ok"]

    left = spark.createDataFrame(
        [(1, "2024-06-01 12:00:00")], "id long, ts string"
    ).select("id", F.col("ts").cast("timestamp").alias("ts"))
    rows = interval_join(
        left, right, "ts", "s", "e", bucket_width_seconds=600
    ).collect()
    assert [r.tag for r in rows] == ["ok"]


def test_interval_join_shared_column_names(spark):
    """Both sides carrying a same-named column must not hit
    AMBIGUOUS_REFERENCE — range refs are DataFrame-qualified now."""
    from ic_spark.operators.rangejoin import interval_join

    left = spark.createDataFrame(
        [(1, "2024-06-01 12:00:00")], "id long, ts string"
    ).select("id", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [("w1", "2024-06-01 00:00:00", "2024-06-02 00:00:00",
          "2024-06-01 00:00:00")],
        "w string, s string, e string, ts string",
    ).select(
        "w",
        F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"),
        F.col("ts").cast("timestamp").alias("ts"),  # clashes with left
    )
    rows = interval_join(left, right, "ts", "s", "e").collect()
    assert len(rows) == 1 and rows[0].w == "w1"


def test_mad_outliers_nonstring_group_and_null_counting(spark):
    """Non-string group columns work (schema derives from the input —
    the hardcoded `string` crashed Arrow conversion), and n_rows counts
    only the NON-NULL sample like trimmed_mean (r10 review finds)."""
    from ic_spark.operators.grouped import mad_outliers

    df = spark.createDataFrame(
        [(7, 1.0), (7, 2.0), (7, None), (7, 100.0), (8, 5.0)],
        "g long, v double",
    )
    out = {r.g: r for r in mad_outliers(df, "g", "v").collect()}
    assert out[7].n_rows == 3  # NULL excluded from the sample count
    assert out[7].n_outliers == 1  # the 100.0
    assert out[8].n_rows == 1


def test_temperature_sample_keeps_null_stratum(spark):
    """Rows whose stratum is NULL must stay sampleable: the plain
    equi-join dropped them while their count still deflated everyone
    else's rate (r10 review find)."""
    from ic_spark.operators.sampling import temperature_sample

    rows = [(i, "en" if i % 2 else None) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_sample(
        df, ["source"], "doc_id", target_total=200, alpha=0.7
    )
    got = out.groupBy("source").count().collect()
    by = {r.source: r["count"] for r in got}
    # target >= corpus size -> acceptance 1.0 everywhere: every row
    # survives, INCLUDING the null stratum
    assert by.get(None) == 100 and by.get("en") == 100


def test_pack_shards_rejects_bad_inputs(spark):
    """tokens_per_shard <= 0 and NULL token counts fail LOUDLY instead
    of silently packing everything into shard 0 / desyncing offsets."""
    from ic_spark.operators.packing import pack_shards

    df = spark.createDataFrame(
        [(1, 10), (2, None)], "doc_id long, n long"
    )
    with pytest.raises(ValueError, match="tokens_per_shard"):
        pack_shards(df, "n", ["doc_id"], tokens_per_shard=0)
    with pytest.raises(Exception, match="NULL in token column"):
        pack_shards(df, "n", ["doc_id"], tokens_per_shard=100).collect()


def test_scrub_pii_redacts_full_phone_numbers(spark):
    """10-digit and parenthesized phone numbers redact WHOLE — the old
    7-digit pattern left the area code behind ('212-<PHONE>') while
    pii_counts reported the number handled (r10 review find)."""
    from ic_spark.operators.textprep import scrub_pii

    df = spark.createDataFrame(
        [
            ("call 212-555-0123 now",),
            ("call (212) 555-0123 now",),
            ("local 555-0123 only",),
            ("ip 10.0.0.1 stays ip",),
        ],
        "t string",
    )
    got = [r.s for r in df.select(scrub_pii("t").alias("s")).collect()]
    assert got[0] == "call <PHONE> now"
    assert got[1] == "call <PHONE> now"
    assert got[2] == "local <PHONE> only"
    assert got[3] == "ip <IP> stays ip"


def test_gopher_counts_unicode_ellipsis(spark):
    """The single-character ellipsis counts toward symbol_ratio and
    ellipsis_line_frac like '...' (Gopher SSA.1.1; the docstring
    already promised it — r10 review find)."""
    from ic_spark.operators.textprep import gopher_quality_signals

    df = spark.createDataFrame(
        [(1, "teaser one…\nteaser two…"), (2, "plain line\nplain text")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gopher_quality_signals(df, "doc_id", "text").collect()}
    assert out[1].ellipsis_line_frac == 1.0
    assert out[1].symbol_ratio > 0.0
    assert out[2].ellipsis_line_frac == 0.0


def test_quality_logreg_rejects_unknown_weight_keys(spark):
    """A misspelled feature name must raise, not silently score with
    defaults (r10 review find)."""
    from ic_spark.operators.textprep import quality_logreg_score

    df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    with pytest.raises(ValueError, match="unknown weight keys"):
        quality_logreg_score(df, "doc_id", "text", weights={"stop_hit": 2.0})
    ok = quality_logreg_score(df, "doc_id", "text", weights={"stop_hits": 2.0})
    assert ok.count() == 1


def test_chunk_documents_rejects_negative_overlap(spark):
    """Negative overlap silently SKIPPED tokens between chunks —
    invisible data loss (r10 review find)."""
    from ic_spark.operators.textprep import chunk_documents

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="overlap must be in"):
        chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=-2)


def test_bpe_encode_string_ids(spark):
    """bpe_encode keys its output by the CALLER'S id column (name and
    type) — the hardcoded 'doc_id long' crashed string ids and renamed
    everyone's id column (r10 review find)."""
    from ic_spark.operators.bpe import bpe_encode, bpe_train

    df = spark.createDataFrame(
        [("u:1", "low lower lowest"), ("u:2", "low low low")],
        "uri string, text string",
    )
    merges = bpe_train(df, "text", n_merges=10)
    out = bpe_encode(df, "text", merges, id_col="uri").collect()
    assert {r.uri for r in out} == {"u:1", "u:2"}
    assert all(r.n_bpe_tokens > 0 for r in out)
