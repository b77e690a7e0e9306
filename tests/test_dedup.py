"""Dedup family quality bars: exact Jaccard is ground truth for MinHash;
brute-force hamming is ground truth for the SimHash block join."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from vector_database_in_rust_spark.operators import dedup
from tests.conftest import SF_SMOKE

THRESH = 0.5


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").cache()
    df.count()
    return df


def _pairs(df):
    return {(r["doc_a"], r["doc_b"]) for r in df.collect()}


def test_minhash_lsh_recall_and_precision(spark, docs):
    exact = _pairs(dedup.ngram_jaccard_pairs(docs, threshold=THRESH))
    approx = _pairs(dedup.minhash_lsh_pairs(docs, threshold=THRESH))
    # Precision is exact by construction (candidates are re-verified).
    assert approx <= exact
    if exact:
        assert len(approx & exact) / len(exact) >= 0.8


def test_minhash_clusters_refines_pair_closure(spark, docs):
    """Clique-mode MinHash (round 10): full corpus partition; every
    verified-star-edge cluster sits INSIDE one pair-closure cluster
    (star edges are a subset of the verified pair set); docs the pair
    route leaves unpaired are singletons; sf-smoke coverage is 1.0
    (every pair-clustered doc stays clustered)."""
    clusters = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in dedup.minhash_clusters(docs, threshold=THRESH).collect()
    }
    assert len(clusters) == docs.count()
    pair_cc = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(
            dedup.minhash_lsh_pairs(docs, threshold=THRESH)
        ).collect()
    }
    # containment: one pair label per clique cluster
    label_of_clique: dict = {}
    for d, (cl, size) in clusters.items():
        if d in pair_cc:
            label_of_clique.setdefault(cl, set()).add(pair_cc[d])
        else:
            assert size == 1, f"unpaired doc {d} clustered (size {size})"
    assert all(len(s) == 1 for s in label_of_clique.values())
    # coverage on this corpus: every pair-clustered doc stays clustered
    for d in pair_cc:
        assert clusters[d][1] > 1
    # partition invariants
    by_cluster: dict = {}
    for d, (cl, size) in clusters.items():
        by_cluster.setdefault(cl, []).append((d, size))
    for cl, members in by_cluster.items():
        assert cl == min(d for d, _ in members)
        assert {s for _, s in members} == {len(members)}


def test_minhash_clusters_verdict_green(spark, docs):
    row = dedup.minhash_clusters_verdict(docs, threshold=THRESH).first()
    assert row["n_docs"] == docs.count()
    assert row["one_cluster_per_doc"]
    assert row["labels_are_min_member"]
    assert row["sizes_consistent"]
    assert row["refines_pair_closure"]
    assert row["coverage_ok"]


def test_minhash_clusters_no_dups_all_singletons(spark):
    """A corpus with no near-dups (and hence no verified edges) must
    come back as all singleton clusters — the empty-edge path through
    the star CC."""
    rows = [
        (i, " ".join(f"u{i}_{j}" for j in range(30))) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = dedup.minhash_clusters(df, threshold=0.5).collect()
    assert len(out) == 40
    assert all(r["cluster_id"] == r["doc_id"] and r["cluster_size"] == 1
               for r in out)


def test_shingle_impls_identical(spark, docs):
    """The Arrow-batched shingler and the Catalyst expression must emit
    the SAME (doc_id, shingle) set — the exact dedup oracle rests on it."""
    a = {
        (r["doc_id"], r["shingle"])
        for r in dedup._shingle_index(docs, "doc_id", "text", 3, impl="pandas").collect()
    }
    b = {
        (r["doc_id"], r["shingle"])
        for r in dedup._shingle_index(docs, "doc_id", "text", 3, impl="expr").collect()
    }
    assert a == b


def test_prefix_filter_equals_full_join(spark, docs):
    """Prefix filtering is an EXACT optimization: identical (pair,
    jaccard) output to the plain self-join, at several thresholds."""
    for t in (0.3, 0.5, 0.8):
        full = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(docs, threshold=t, method="full").collect()
        }
        pref = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(docs, threshold=t, method="prefix").collect()
        }
        assert pref == full, f"threshold {t}: prefix != full"


def test_ngram_jaccard_auto_routes_by_size(spark, docs):
    """method='auto' (round 8): full at or under PREFIX_AUTO_ROWS,
    prefix above — both exact, so the routed outputs must be
    identical; known_count forces each branch without a count job."""
    full = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(docs, method="full").collect()
    }
    small = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(
            docs, known_count=dedup.PREFIX_AUTO_ROWS
        ).collect()
    }
    big = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(
            docs, known_count=dedup.PREFIX_AUTO_ROWS + 1
        ).collect()
    }
    assert small == full == big


def test_exact_jaccard_finds_known_near_dups(spark, docs):
    """The synthetic corpus contains generated near-duplicate pairs; the
    exact shingle join must surface at least one."""
    got = dedup.ngram_jaccard_pairs(docs, threshold=THRESH).collect()
    assert all(r["jaccard"] >= THRESH for r in got)
    assert all(r["doc_a"] < r["doc_b"] for r in got)


def test_simhash_block_join_equals_bruteforce(spark, docs):
    """Pigeonhole block join must find EXACTLY the pairs a brute-force
    hamming scan finds (full recall at the fingerprint level)."""
    fps = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_fingerprints(docs).collect()
    }
    # Mask to 64 bits: Python xor of signed int64s otherwise miscounts
    # (bin() of a negative renders sign-magnitude, not two's complement).
    mask = (1 << 64) - 1
    brute = {
        (a, b)
        for a, b in itertools.combinations(sorted(fps), 2)
        if bin((fps[a] ^ fps[b]) & mask).count("1") <= 3
    }
    got = _pairs(dedup.simhash_pairs(docs, max_hamming=3))
    assert got == brute


def test_dedup_exact_counts_injected_dups(spark, docs):
    """No exact dups exist in the corpus; inject one and catch it."""
    clone = docs.filter(F.col("doc_id") == 5).withColumn(
        "doc_id", F.lit(99999).cast("bigint")
    )
    res = dedup.dedup_exact(docs.unionByName(clone))
    dup = res.filter(F.col("n_copies") > 1).collect()
    assert len(dup) == 1
    assert dup[0]["keep_id"] == 5
    assert dup[0]["n_copies"] == 2


def test_embedding_cosine_pairs_symmetric_free(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    got = dedup.embedding_cosine_pairs(emb, threshold=0.4).collect()
    assert all(r["doc_a"] < r["doc_b"] for r in got)
    assert all(r["cosine"] >= 0.4 for r in got)


def test_embedding_cosine_auto_routes_by_size(spark):
    """impl='auto' must take the exact path under the row guard and the
    LSH path above it — the scale-killer (corpus collect) is only
    reachable when the corpus is small by construction."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    exact = _pairs(dedup.embedding_cosine_pairs(emb, threshold=0.4, impl="pandas"))
    auto_small = _pairs(dedup.embedding_cosine_pairs(emb, threshold=0.4))
    assert auto_small == exact
    lsh = _pairs(dedup.lsh_cosine_pairs(emb, threshold=0.4))
    auto_big = _pairs(
        dedup.embedding_cosine_pairs(emb, threshold=0.4, max_exact_rows=10)
    )
    assert auto_big == lsh


def test_lsh_cosine_pairs_recover_exact(spark):
    """Banded SRP-LSH (scale path, round-8 redesign) vs exact
    pairwise: recall >= 0.7 with 16 x 4-bit adaptive bands on
    500 x 64-d (measured 0.97; every emitted pair exact-verified, so
    false positives are structurally zero)."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    exact = _pairs(dedup.embedding_cosine_pairs(emb, threshold=0.4))
    approx = _pairs(dedup.lsh_cosine_pairs(emb, threshold=0.4))
    if exact:
        assert len(approx & exact) / len(exact) >= 0.7


def test_cosine_pair_staging_contracts(spark):
    """The shared staging layer (round-8 review findings): NULL
    embeddings are dropped — matching the SQL oracle, where cosine
    against a NULL array is NULL and never passes a threshold — on
    BOTH routes instead of crashing np.vstack executor-side; and a
    non-integral id column fails fast with a TypeError naming the
    column, not a misleading mid-stage scratch error."""
    import pytest

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.01, 0.0, 0.0]),
        (3, None),
    ]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    for route in (
        lambda df: dedup.embedding_cosine_pairs(df, threshold=0.9, impl="pandas"),
        lambda df: dedup.lsh_cosine_pairs(df, threshold=0.9),
    ):
        got = {(r["doc_a"], r["doc_b"]) for r in route(emb).collect()}
        assert got == {(1, 2)}
    bad = spark.createDataFrame(
        [("a", [1.0, 0.0])], "vec_id STRING, embedding ARRAY<FLOAT>"
    )
    with pytest.raises(TypeError, match="integral id"):
        dedup.lsh_cosine_pairs(bad)


def test_dedup_clusters_match_union_find(spark, docs):
    """Label-propagation clusters == driver-side union-find ground truth
    over the same pair list."""
    pairs_df = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    pair_list = [(r["doc_a"], r["doc_b"]) for r in pairs_df.collect()]
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(pairs_df).collect()
    }

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pair_list:
        union(a, b)
    want = {x: find(x) for x in parent}
    assert got == want
    assert got, "no pairs -> vacuous test"
    # every cluster id is the min member of its cluster
    by_cluster = {}
    for d, c in got.items():
        by_cluster.setdefault(c, []).append(d)
    assert all(c == min(ms) for c, ms in by_cluster.items())


def _brute_jaccard_pairs(texts, threshold, n=3, max_shingle_freq=None):
    """Driver-side ground truth mirroring word_shingles semantics:
    distinct word n-grams; docs shorter than n words -> whole text."""
    def shingles(t):
        toks = t.split(" ")
        if len(toks) >= n:
            return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        return {t}

    sh = {d: shingles(t) for d, t in texts.items()}
    if max_shingle_freq is not None:
        freq = {}
        for s_set in sh.values():
            for s in s_set:
                freq[s] = freq.get(s, 0) + 1
        sh = {
            d: {s for s in s_set if freq[s] <= max_shingle_freq}
            for d, s_set in sh.items()
        }
    out = set()
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            union = len(sh[a] | sh[b])
            if union and round(inter / union, 6) >= threshold:
                out.add((a, b))
    return out


def test_hot_shingle_frequency_cut(spark):
    """Adversarial corpus: every doc shares a long hot phrase, so without
    a frequency cut EVERY pair exceeds the threshold — quadratic
    candidate fan-out. With the cut, the hot shingles are dropped before
    the self-join and only the genuine near-dup pair survives. Both
    modes must match a driver-side brute force with the SAME cut applied
    (the documented 'Jaccard over retained shingles' semantics)."""
    hot = " ".join(f"h{i}" for i in range(12))  # 10 hot shingles, freq = n_docs
    texts = {i: f"{hot} u{i}x u{i}y u{i}z" for i in range(20)}
    texts[100] = f"{hot} qq ww rr tt"
    texts[101] = f"{hot} qq ww rr uu"
    docs = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id BIGINT, text STRING"
    )

    cut = _pairs(dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_freq=5))
    assert cut == _brute_jaccard_pairs(texts, 0.5, max_shingle_freq=5)
    assert cut == {(100, 101)}, "only the true near-dup pair survives the cut"

    uncut = _pairs(dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_freq=None))
    assert uncut == _brute_jaccard_pairs(texts, 0.5, max_shingle_freq=None)
    n = len(texts)
    assert len(uncut) == n * (n - 1) // 2, "hot phrase makes ALL pairs match"


def test_dedup_clusters_chain(spark):
    """A chain a-b, b-c, c-d must collapse into ONE cluster (transitive
    closure — the property pairwise thresholds alone don't give you)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a BIGINT, doc_b BIGINT"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_clusters_long_chain_converges(spark):
    """A 12-hop path needs ~12 propagation rounds — the frontier variant
    must still reach the fixpoint (everything labeled 0)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a BIGINT, doc_b BIGINT"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(pairs, max_iterations=20).collect()
    }
    assert got == {i: 0 for i in range(13)}


def test_dedup_clusters_nonconvergence_warns(spark, caplog):
    """Exiting with labels still changing must WARN, not silently return
    partial clusters (ADVICE r1)."""
    import logging

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a BIGINT, doc_b BIGINT"
    )
    with caplog.at_level(
        logging.WARNING, logger="vector_database_in_rust_spark.operators.dedup"
    ):
        dedup.dedup_clusters(pairs, max_iterations=2).collect()
    assert any("did NOT converge" in r.message for r in caplog.records)


def test_dedup_clusters_star_matches_frontier_and_union_find(spark, docs):
    """Large-star/small-star (Kiveris et al.) must produce EXACTLY the
    same (doc_id, cluster_id) labels as the frontier variant and the
    driver-side union-find ground truth on the real near-dup graph."""
    pairs_df = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    frontier = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(pairs_df).collect()
    }
    star = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters_star(pairs_df).collect()
    }
    assert star == frontier and star


def test_dedup_clusters_star_log_rounds_on_long_chain(spark):
    """The star variant's raison d'etre: a 100-hop path (diameter 100)
    must reach the fixpoint within an O(log n) round budget — 10 rounds
    here, where frontier propagation would need ~100."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "doc_a BIGINT, doc_b BIGINT"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters_star(pairs, max_iterations=10).collect()
    }
    assert got == {i: 0 for i in range(101)}


def test_dedup_clusters_star_random_graphs(spark):
    """Seeded random graphs vs driver-side union-find."""
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = {
            (rng.randrange(n), rng.randrange(n)) for _ in range(45)
        }
        edges = {(a, b) for a, b in edges if a != b}
        pairs = spark.createDataFrame(
            [(a, b) for a, b in sorted(edges)], "doc_a BIGINT, doc_b BIGINT"
        )
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.dedup_clusters_star(pairs).collect()
        }

        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in parent}
        assert got == want, f"trial {trial}"


def test_decontaminate_flags_planted_leaks(spark):
    """Planted-leak fixture: an exact copy and a near-copy of benchmark
    docs must be flagged; unrelated docs must not."""
    bench = spark.createDataFrame(
        [
            (1000, "alpha beta gamma delta epsilon zeta eta theta"),
            (1001, "one two three four five six seven eight nine"),
        ],
        "doc_id BIGINT, text STRING",
    )
    train = spark.createDataFrame(
        [
            # exact leak of 1000
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            # near leak of 1001 (one word changed at the end)
            (2, "one two three four five six seven eight ten"),
            # clean
            (3, "totally unrelated content about something else entirely"),
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {
        r["doc_id"]: r["contaminated"]
        for r in dedup.decontaminate(train, bench, threshold=0.5).collect()
    }
    assert got == {1: True, 2: True, 3: False}


def test_contamination_pairs_cross_corpus_jaccard(spark):
    """Cross-corpus pair scores equal the driver-side brute force over
    the same shingle sets."""
    texts_tr = {i: f"w{i}a w{i}b common phrase words here x{i}" for i in range(5)}
    texts_tr[10] = "the quick brown fox jumps over the lazy dog"
    texts_te = {100: "the quick brown fox jumps over the lazy dog"}
    train = spark.createDataFrame(
        list(texts_tr.items()), "doc_id BIGINT, text STRING"
    )
    test = spark.createDataFrame(
        list(texts_te.items()), "doc_id BIGINT, text STRING"
    )
    got = {
        (r["train_id"], r["test_id"]): r["jaccard"]
        for r in dedup.contamination_pairs(train, test, threshold=0.3).collect()
    }
    assert got == {(10, 100): 1.0}


def test_dedup_apply_keeps_canonicals_and_singletons(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 7)], "doc_id BIGINT, text STRING"
    )
    # components {1,2,3} and {4,5}; 6 never appears in a pair
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "doc_a BIGINT, doc_b BIGINT"
    )
    clusters = dedup.dedup_clusters(pairs)
    kept = sorted(
        r["doc_id"] for r in dedup.dedup_apply(docs, clusters).collect()
    )
    assert kept == [1, 4, 6]


def test_dedup_apply_empty_pairs_is_identity(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(5)], "doc_id BIGINT, text STRING"
    )
    clusters = spark.createDataFrame([], "doc_id BIGINT, cluster_id BIGINT")
    assert dedup.dedup_apply(docs, clusters).count() == 5


def test_dedup_incremental_verdicts(spark):
    corpus = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id BIGINT, text STRING"
    )
    batch = spark.createDataFrame(
        [
            (10, "alpha"),   # corpus dup
            (11, "gamma"),   # kept (first occurrence in batch)
            (12, "gamma"),   # batch dup of 11
            (13, "delta"),   # kept
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {
        r["doc_id"]: (r["kept"], r["drop_reason"])
        for r in dedup.dedup_incremental(corpus, batch).collect()
    }
    assert got[10] == (False, "corpus_dup")
    assert got[11] == (True, None)
    assert got[12] == (False, "batch_dup")
    assert got[13] == (True, None)


def test_dedup_incremental_corpus_dup_outranks_batch_dup(spark):
    """Two batch copies of a corpus text: BOTH are corpus_dup (corpus
    precedence), not one corpus_dup + one batch_dup."""
    corpus = spark.createDataFrame([(1, "alpha")], "doc_id BIGINT, text STRING")
    batch = spark.createDataFrame(
        [(10, "alpha"), (11, "alpha")], "doc_id BIGINT, text STRING"
    )
    reasons = {
        r["doc_id"]: r["drop_reason"]
        for r in dedup.dedup_incremental(corpus, batch).collect()
    }
    assert reasons == {10: "corpus_dup", 11: "corpus_dup"}


def test_minhash_incremental_finds_planted_rewrites(spark):
    corpus = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(60))) for i in range(20)],
        "doc_id BIGINT, text STRING",
    )
    # batch: doc 100 is a one-token rewrite of corpus doc 3; doc 101 is
    # entirely novel vocabulary
    rewrite = " ".join(f"w3_{j}" for j in range(60)) + " extra"
    novel = " ".join(f"q{j}" for j in range(60))
    batch = spark.createDataFrame(
        [(100, rewrite), (101, novel)], "doc_id BIGINT, text STRING"
    )
    pairs = {
        (r["batch_id"], r["corpus_id"])
        for r in dedup.minhash_incremental(
            corpus, batch, threshold=0.7, num_perm=64, num_bands=32
        ).collect()
    }
    assert pairs == {(100, 3)}


def test_minhash_incremental_rejects_overlapping_ids(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id BIGINT, text STRING")
    with pytest.raises(ValueError):
        dedup.minhash_incremental(docs, docs)


def test_minhash_incremental_default_banding_recall(spark, docs):
    """At the scale-default S-curve (r=4, b=16) recall vs the exact
    cross-corpus join must stay >= 0.9 for the harness's constructed
    batch (measured 78/79 at sf0.001 — the one miss straddles the
    threshold)."""
    from vector_database_in_rust_spark import harness

    did = F.col("doc_id")
    near = docs.filter(did % 7 == 0).select(
        (did + 50000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xtra")).alias("text"),
    )
    got = dedup.minhash_incremental(docs, near, threshold=0.7)
    exact = dedup.minhash_incremental(
        docs, near, threshold=0.7, num_perm=64, num_bands=32
    )
    n_got, n_exact = got.count(), exact.count()
    assert n_exact > 0
    assert n_got / n_exact >= 0.9


def test_pagerank_hub_outranks_leaves(spark):
    """Star graph: the hub holds the most mass; leaves tie exactly."""
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "doc_a BIGINT, doc_b BIGINT"
    )
    ranks = {r["doc_id"]: r["rank"] for r in dedup.pagerank(pairs).collect()}
    assert ranks[0] > max(ranks[i] for i in range(1, 6))
    assert len({ranks[i] for i in range(1, 6)}) == 1


def test_pagerank_mass_conserved(spark):
    """No dangling vertices on a symmetrized pair graph -> each
    iteration preserves total mass; the final ranks sum to ~1."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "doc_a BIGINT, doc_b BIGINT"
    )
    total = sum(r["rank"] for r in dedup.pagerank(pairs).collect())
    assert abs(total - 1.0) < 1e-4


def test_duplicated_span_stats_constructed(spark):
    """Hand-checkable corpus for the substring detector: a block copied
    across docs, a within-doc repeat, a unique doc, and a doc shorter
    than the gram length (must surface with zero grams, not vanish)."""
    block = " ".join(f"w{i}" for i in range(8))  # exactly one 8-gram
    uniq = " ".join(f"u{i}" for i in range(10))  # 3 grams, all unique
    rows = [
        (0, block),                # copied to doc 1 -> its 1 gram is dup
        (1, block),
        (2, block + " " + block),  # 9 grams; within+cross dups
        (3, uniq),
        (4, "too short"),          # < 8 tokens -> 0 grams
    ]
    out = {
        r["doc_id"]: r
        for r in dedup.duplicated_span_stats(
            spark.createDataFrame(rows, "doc_id long, text string"), n=8
        ).collect()
    }
    assert out[0]["n_grams"] == 1 and out[0]["n_dup_grams"] == 1
    assert out[1]["dup_frac"] == 1.0
    # doc 2: 16 tokens -> 9 grams. Every gram of doc 2 contains the
    # wrap-around except positions 1 and 9 (the block itself, dup'd via
    # docs 0/1 AND its own repeat); the 7 wrap grams are unique.
    assert out[2]["n_grams"] == 9
    assert out[2]["n_dup_grams"] == 2
    assert out[3]["n_dup_grams"] == 0 and out[3]["n_grams"] == 3
    assert out[4]["n_grams"] == 0 and out[4]["dup_frac"] == 0.0


# ---------------------------------------------------------------------------
# Segment-level boilerplate removal + winnowing fingerprints (round 5)
# ---------------------------------------------------------------------------


def _mkdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_segment_filter_drops_shared_reassembles_order(spark):
    """The shared 4-token run is removed from BOTH docs; unique
    segments survive in original order; an all-boilerplate doc exits."""
    shared = "aa bb cc dd"
    df = _mkdocs(
        spark,
        [
            (1, f"{shared} u1 u2 u3 u4 tail1"),
            (2, f"v1 v2 v3 v4 {shared} tail2"),
            (3, shared),
            (4, f"m1 m2 m3 {shared} tail4"),
        ],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in dedup.segment_boilerplate_filter(df, seg_words=4, max_df=1).collect()
    }
    assert out[1]["clean_text"] == "u1 u2 u3 u4 tail1"
    assert out[1]["n_segments"] == 3 and out[1]["n_dropped"] == 1
    # doc 2's 4-token prefix puts the shared run exactly on a segment
    # boundary — its middle segment IS the boilerplate and is dropped.
    assert out[2]["clean_text"] == "v1 v2 v3 v4 tail2"
    assert out[2]["n_dropped"] == 1
    # doc 3 IS exactly the shared segment: dropped everywhere, doc
    # reassembles to empty and exits the corpus (CCNet semantics).
    assert 3 not in out
    # doc 4's 3-token prefix MISALIGNS the shared run — its segments
    # straddle the boundary, differ textually, and all survive:
    # positional segmenting is alignment-sensitive, exactly like CCNet
    # lines are newline-alignment-sensitive.
    assert out[4]["n_dropped"] == 0


def test_segment_filter_noop_when_all_unique(spark):
    df = _mkdocs(spark, [(1, "a b c d e"), (2, "f g h i j")])
    out = {r["doc_id"]: r for r in dedup.segment_boilerplate_filter(df).collect()}
    assert out[1]["clean_text"] == "a b c d e"
    assert out[2]["clean_text"] == "f g h i j"
    assert all(r["n_dropped"] == 0 for r in out.values())


def test_winnow_guarantee_shared_substring_shares_fingerprint(spark):
    """Winnowing guarantee (SIGMOD 2003): a shared substring of
    >= k + window - 1 tokens forces >= 1 shared selected hash."""
    run = "p q r s t u"  # 6 tokens = k + window - 1 for k=4, w=3
    df = _mkdocs(
        spark,
        [
            (1, f"one two three {run} four five six"),
            (2, f"alpha beta {run} gamma delta epsilon zeta"),
        ],
    )
    fps = dedup.winnow_fingerprints(df, k=4, window=3)
    h1 = {r["fp_hash"] for r in fps.where(F.col("doc_id") == 1).collect()}
    h2 = {r["fp_hash"] for r in fps.where(F.col("doc_id") == 2).collect()}
    assert h1 & h2
    pairs = dedup.winnow_pairs(df, k=4, window=3, min_shared=1).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(1, 2)}


def test_winnow_density_every_window_covered(spark):
    """Each full window of `window` consecutive gram positions contains
    at least one selected fingerprint position (coverage property of
    winnowing: gaps between selections are < window)."""
    text = " ".join(f"w{i % 7}x{i % 11}" for i in range(40))
    df = _mkdocs(spark, [(1, text)])
    pos = sorted(
        r["fp_pos"] for r in dedup.winnow_fingerprints(df, k=4, window=3).collect()
    )
    n_grams = 40 - 4 + 1
    assert pos[0] < 3 and pos[-1] >= n_grams - 3 - 2
    assert all(b - a < 3 + 3 for a, b in zip(pos, pos[1:]))


def test_winnow_short_doc_excluded(spark):
    df = _mkdocs(spark, [(1, "a b c d e"), (2, "a b c d e f")])
    out = dedup.winnow_fingerprints(df, k=4, window=3)
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {2}  # doc 1 has 5 < k + window - 1 = 6 tokens


def test_winnow_pairs_hot_fingerprint_guard(spark):
    """Round-8 scaling-study fix #3: ``max_fp_freq`` cuts corpus-hot
    (boilerplate) fingerprints before the self-join. On a corpus where
    every doc shares one 20-token boilerplate run, the unguarded join
    is the full clique (freq² fan-out — the shape measured at 2.5e8
    candidate rows on the 50k zipf corpus); with the cut active the
    clique vanishes while a planted pair sharing a UNIQUE run still
    surfaces through its rare fingerprints. A guard level the corpus
    cannot reach must be bit-identical to no guard — on both the
    skip path (cut >= n_docs: provably no-op, plan untouched) and the
    fired-but-nothing-hot path (n_docs > cut >= max df)."""
    boiler = " ".join(f"b{i}" for i in range(20))
    rng = __import__("random").Random(8)
    rows = []
    for i in range(121):
        uniq = " ".join(f"u{i}_{rng.randrange(10**6)}" for _ in range(20))
        rows.append((i, f"{boiler} {uniq}"))
    shared = " ".join(f"s{rng.randrange(10**6)}" for _ in range(20))
    rows.append((200, f"{shared} only tail here x1 y1 z1 q1 r1 t1"))
    rows.append((201, f"{shared} other tail text x2 y2 z2 q2 r2 t2"))
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")

    def run(**kw):
        return {
            (r["doc_a"], r["doc_b"], r["n_shared"])
            for r in dedup.winnow_pairs(docs, min_shared=2, **kw).collect()
        }

    unguarded = run(max_fp_freq=None)
    clique = {(a, b) for a, b, _ in unguarded if a < 121 and b < 121}
    assert len(clique) == 121 * 120 // 2  # boilerplate full clique
    assert (200, 201) in {(a, b) for a, b, _ in unguarded}

    cut = run(max_fp_freq=50)  # 123 docs > 50: guard fires, df=121 cut
    assert (200, 201) in {(a, b) for a, b, _ in cut}
    # A handful of clique pairs legitimately survive: windows at the
    # boilerplate/unique seam select boiler grams in only a SUBSET of
    # docs (df lands under the cut). The guard's job is killing the
    # freq² bulk, not every echo — measured: 7260 → 66 here.
    leaked = {(a, b) for a, b, _ in cut if a < 121 and b < 121}
    assert len(leaked) < 0.02 * len(clique), len(leaked)
    # an aggressive cut removes even the seam echoes, keeps the pair
    tight = run(max_fp_freq=10)
    assert {(a, b) for a, b, _ in tight if a < 121 and b < 121} == set()
    assert (200, 201) in {(a, b) for a, b, _ in tight}

    # nothing hot enough to cut → bit-identical, both guard paths
    assert run(max_fp_freq=1000) == unguarded  # 123 <= 1000: skip path
    assert run(max_fp_freq=122) == unguarded  # fires; max df 121 <= 122


def test_triangle_enumerate_on_constructed_graph(spark):
    """4-clique -> 4 triangles; a chain contributes none."""
    pairs = spark.createDataFrame(
        # clique {1,2,3,4} + chain 10-11-12
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (10, 11), (11, 12)],
        "doc_a long, doc_b long",
    )
    got = {
        (r["doc_a"], r["doc_b"], r["doc_c"])
        for r in dedup.triangle_enumerate(pairs).collect()
    }
    assert got == {(1, 2, 3), (1, 2, 4), (1, 3, 4), (2, 3, 4)}


def test_minhash_boilerplate_guards(spark):
    """The round-8 scaling-study fix: on a boilerplate-heavy corpus
    (every doc shares a dominant phrase), un-guarded minhash collapses
    signatures into corpus-sized band buckets (quadratic join
    fan-out). With the shingle-frequency cut active (boilerplate df >
    cut), signatures are built from each doc's DISTINCTIVE content:
    the planted near-dup pair must surface, unrelated docs must not,
    and with an aggressive bucket cap the result is unchanged (true
    pairs collide in rare buckets, not boilerplate cliques)."""
    from vector_database_in_rust_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    boiler = " ".join(f"b{i}" for i in range(60))
    rng = __import__("random").Random(3)
    rows = []
    for i in range(300):
        uniq = " ".join(f"u{i}_{rng.randrange(10**6)}" for _ in range(60))
        rows.append((i, f"{boiler} {uniq}"))
    # planted near-dup: doc 300 shares doc 0's unique tail (one edit)
    tail = rows[0][1].split(boiler)[1].strip().split(" ")
    tail[5] = "edited"
    rows.append((300, f"{boiler} {' '.join(tail)}"))
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")

    pairs = minhash_lsh_pairs(
        docs, threshold=0.5, max_shingle_freq=100, max_band_bucket=50
    ).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (0, 300) in found, pairs
    assert len(found) <= 3, f"boilerplate produced spurious pairs: {found}"


def test_minhash_hot_cut_raw_persist_band(spark):
    """Round 15 (single-tokenize materialization): when the hot-shingle
    cut fires on a KNOWN mid-band corpus, `_minhash_retained_index`
    persists the RAW index so the tokenize stage runs once instead of
    twice. The band must (a) return a non-empty cache list exactly when
    (cut fires AND size is known AND <= SHUFFLE_HASH_SAFE_ROWS), (b)
    leave results identical to the unpersisted (size-unknown) path, and
    (c) be fully RELEASED by the public caller — no persistent RDDs may
    outlive `minhash_lsh_pairs`."""
    from vector_database_in_rust_spark.operators import dedup

    boiler = " ".join(f"b{i}" for i in range(30))
    rows = [
        (i, f"{boiler} u{i}_a u{i}_b u{i}_c u{i}_d u{i}_e") for i in range(60)
    ]
    rows.append((60, rows[0][1]))  # exact dup of doc 0
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")

    # (a) banding: known mid-band -> cache; None or no-cut -> no cache
    idx_banded, caches = dedup._minhash_retained_index(
        docs, "doc_id", "text", 3, 10, 61, hashed=False
    )
    assert len(caches) == 1
    idx_unknown, none_caches = dedup._minhash_retained_index(
        docs, "doc_id", "text", 3, 10, None, hashed=False
    )
    assert none_caches == []
    idx_nocut, nocut_caches = dedup._minhash_retained_index(
        docs, "doc_id", "text", 3, 10_000, 61, hashed=False
    )
    assert nocut_caches == []
    # (b) identical retained rows either way
    assert sorted(map(tuple, idx_banded.collect())) == sorted(
        map(tuple, idx_unknown.collect())
    )
    for c in caches:
        c.unpersist()

    # (c) the public caller releases everything it (and the helper)
    # cached: the persistent-RDD census must not GROW across the call
    # (other fixtures in a shared session may hold their own caches).
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    pairs_known = {
        tuple(r)
        for r in dedup.minhash_lsh_pairs(
            docs, threshold=0.5, max_shingle_freq=10, known_count=61
        ).collect()
    }
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    # exactly ONE persistent RDD may be added: the returned pair list's
    # own eager localCheckpoint (it IS the result; GC-collected when the
    # caller drops it). The shingle/banded/raw-index caches must be gone.
    assert after - before <= 1, (
        f"minhash_lsh_pairs leaked {after - before - 1} intermediate caches"
    )
    pairs_unknown = {
        tuple(r)
        for r in dedup.minhash_lsh_pairs(
            docs, threshold=0.5, max_shingle_freq=10
        ).collect()
    }
    assert pairs_known == pairs_unknown
    assert (0, 60) in {(a, b) for (a, b, _j) in pairs_known}


def test_simhash_impls_identical_on_convergent_corpus(spark):
    """Both block-join routes must be row-identical on a corpus where
    fingerprints DO converge (shared boilerplate collapses docs onto
    few fingerprints — the case the distinct route exists for), and
    auto must pick the distinct route there."""
    from vector_database_in_rust_spark.operators.dedup import simhash_pairs

    boiler = " ".join(f"x{i}" for i in range(40))
    rows = [(i, boiler) for i in range(30)]  # 30 identical docs
    rows += [(100 + i, f"{boiler} extra{i} w{i*7}") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    direct = {tuple(r) for r in simhash_pairs(docs, impl="direct").collect()}
    dist = {tuple(r) for r in simhash_pairs(docs, impl="distinct").collect()}
    auto = {tuple(r) for r in simhash_pairs(docs).collect()}
    assert direct == dist == auto
    # the 30 identical docs form a full hamming-0 clique
    assert sum(1 for (a, b, h) in direct if h == 0 and a < 30 and b < 30) == 435


# ---- SemDeDup: cluster-scoped semantic dedup (round 8) ----------------


def _semantic_corpus(spark):
    """4 well-separated direction clusters in d=8; each cluster gets
    singletons (mutually far) plus one planted near-dup pair where the
    SECOND member is measurably farther from the cluster direction —
    the paper's keep-the-outlier rule predicts which one survives."""
    import numpy as np

    rows = []
    vid = 0
    planted = []  # (typical_id, outlier_id) per cluster
    rng = np.random.RandomState(7)
    for c in range(4):
        e = np.zeros(8)
        e[c] = 10.0
        for _ in range(5):  # singletons: distinct noisy directions
            v = e + rng.randn(8) * 2.0
            rows.append((vid, [float(x) for x in v]))
            vid += 1
        off = np.zeros(8)
        off[(c + 4) % 8] = 1.0
        typical = e + off * 0.5  # ~2.9 deg off the cluster direction
        outlier = e + off * 1.5  # ~8.5 deg off; cos(typical,outlier)~0.995
        planted.append((vid, vid + 1))
        rows.append((vid, [float(x) for x in typical]))
        rows.append((vid + 1, [float(x) for x in outlier]))
        vid += 2
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    return df, planted


def test_semantic_dedup_drops_planted_keeps_outlier(spark):
    """Each planted near-dup group loses exactly one member, and the
    survivor is the LEAST centroid-similar one (SemDeDup's
    keep-the-outlier rule); singletons are all kept."""
    df, planted = _semantic_corpus(spark)
    res = dedup.semantic_dedup(df, threshold=0.99, num_cells=4, seed=42)
    keep = {r["vec_id"]: r["keep"] for r in res.collect()}
    assert len(keep) == df.count()
    for typical_id, outlier_id in planted:
        assert keep[outlier_id], "least-centroid-similar member must survive"
        assert not keep[typical_id], "centroid-typical duplicate must drop"
    dropped = {v for v, k in keep.items() if not k}
    assert dropped == {t for t, _ in planted}, "no singleton may be dropped"


def test_semantic_dedup_repeatable(spark):
    """Two runs over the same input layout produce identical decisions
    (seeded KMeans + deterministic greedy order). Cross-partitioning
    identity is NOT claimed: KMeans|| init samples per partition, so a
    different input layout may fit different clusters — the verdict's
    invariants are what hold under ANY clustering."""
    df, _ = _semantic_corpus(spark)
    a = dedup.semantic_dedup(df, threshold=0.99, num_cells=4, seed=42)
    b = dedup.semantic_dedup(df, threshold=0.99, num_cells=4, seed=42)
    assert sorted(a.collect()) == sorted(b.collect())


def test_semantic_dedup_verdict_catches_flipped_decision(spark, monkeypatch):
    """The verdict's independent re-check must flip a boolean when the
    decisions are corrupted: un-dropping a duplicate breaks kept_valid,
    dropping a singleton breaks dropped_valid."""
    df, _ = _semantic_corpus(spark)
    real = dedup.semantic_dedup

    def corrupted(emb, **kw):
        out = real(emb, **kw)
        # invert every decision: kept duplicates now coexist (kept_valid
        # false) and dropped singletons lack witnesses (dropped_valid false)
        return out.withColumn("keep", ~F.col("keep"))

    monkeypatch.setattr(dedup, "semantic_dedup", corrupted)
    row = dedup.semantic_dedup_verdict(
        df, threshold=0.99, num_cells=4, seed=42
    ).first()
    assert row["n_total"] == df.count()
    assert not (row["kept_valid"] and row["dropped_valid"])


def test_embedding_cosine_pandas_empty_corpus(spark):
    """Empty input must yield zero pairs, not crash: the executor-side
    corpus load runs before the batch loop, so without the n_rows
    short-circuit an empty staged parquet np.vstack-crashed every
    task."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    empty = emb.filter("vec_id < 0")
    assert dedup.embedding_cosine_pairs(empty, threshold=0.4, impl="pandas").count() == 0


def test_staging_memoized_per_plan(spark):
    """Round-9 advisor fix: repeated staging of the SAME input plan
    reuses one scratch dir (bench repeats / LSH-then-exact in one
    session no longer accumulate a fresh corpus copy per call), while
    a semantically different plan stages fresh."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    p1, n1 = dedup._stage_unit_corpus(emb, id_col="vec_id", vec_col="embedding")
    p2, n2 = dedup._stage_unit_corpus(emb, id_col="vec_id", vec_col="embedding")
    assert (p1, n1) == (p2, n2)
    sub = emb.filter("vec_id % 2 = 0")
    p3, n3 = dedup._stage_unit_corpus(sub, id_col="vec_id", vec_col="embedding")
    assert p3 != p1 and n3 < n1


def test_staged_rows_cap_errors(spark):
    """Residency caps fail LOUDLY (round-9 advisor finding): staging
    above spark.vdb.cosine.maxStagedRows is a ValueError naming the
    conf, and the object-store heap fallback above FALLBACK_HEAP_ROWS
    is a RuntimeError pointing at shared-filesystem scratch — neither
    path may proceed into an OOM."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    spark.conf.set("spark.vdb.cosine.maxStagedRows", "3")
    try:
        with pytest.raises(ValueError, match="maxStagedRows"):
            # fresh plan (limit) so the staging memo cannot short-circuit
            dedup._stage_unit_corpus(
                emb.filter("vec_id >= 7"), id_col="vec_id", vec_col="embedding"
            )
    finally:
        spark.conf.unset("spark.vdb.cosine.maxStagedRows")
    with pytest.raises(RuntimeError, match="FALLBACK_HEAP_ROWS"):
        dedup._load_unit_corpus(
            "/nonexistent/vdb-test-path", dedup.FALLBACK_HEAP_ROWS + 1
        )


def test_semantic_verdict_releases_cache(spark):
    """The verdict materializes its one-row result and unpersists the
    decisions table (round-9 advisor finding): repeated calls in a
    long-lived session must not accumulate the corpus-sized decision
    cache — only the one-row local checkpoints remain."""
    df, _ = _semantic_corpus(spark)
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    for _ in range(2):
        row = dedup.semantic_dedup_verdict(
            df, threshold=0.99, num_cells=4, seed=42
        ).first()
        assert row["n_total"] == df.count()
    grown = jsc.getPersistentRDDs().size() - before
    # two one-row checkpoint RDDs at most; a leaked decisions persist
    # per call would add two more corpus-sized entries
    assert grown <= 2, f"persistent RDDs grew by {grown}"


def test_semantic_threshold_releases_clustering_blocks(spark):
    """The calibrator builds and rebalances its own clustering index per
    call; it must drop that index's stored assignment blocks once its
    survival counts are collected, so repeated calibrations in a
    long-lived session do not pin corpus-sized blocks."""
    df, _ = _semantic_corpus(spark)
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    for _ in range(2):
        cal = dedup.semantic_threshold_for(df, 0.5, num_cells=4, seed=42)
        assert 0.0 < cal["threshold"] <= 1.0
    grown = jsc.getPersistentRDDs().size() - before
    # <= 0, not == 0: the context cleaner may drop an earlier test's
    # blocks while this one runs
    assert grown <= 0, f"persistent RDDs grew by {grown}"


def test_simhash_clusters_match_pair_closure(spark, docs):
    """Clique mode (round 9) must be the SAME partition as the
    recursive closure of the pair mode — on the driver corpus AND on a
    convergent-fingerprint corpus (the case it exists for) — while
    covering every doc (singletons included) with min-member labels
    and consistent sizes."""

    def check(corpus):
        clusters = {
            r["doc_id"]: (r["cluster_id"], r["cluster_size"])
            for r in dedup.simhash_clusters(corpus, max_hamming=3).collect()
        }
        assert len(clusters) == corpus.count()
        # union-find ground truth over the pair list
        pair_list = [
            (r["doc_a"], r["doc_b"])
            for r in dedup.simhash_pairs(corpus, max_hamming=3).collect()
        ]
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pair_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comps: dict[int, set] = {}
        for d in clusters:
            comps.setdefault(find(d) if d in parent else d, set()).add(d)
        for root, members in comps.items():
            want_label = min(members)
            for m in members:
                got_label, got_size = clusters[m]
                assert got_label == want_label, (m, got_label, want_label)
                assert got_size == len(members)

    check(docs)
    boiler = " ".join(f"x{i}" for i in range(40))
    rows = [(i, boiler) for i in range(30)]
    rows += [(100 + i, f"{boiler} extra{i} w{i*7}") for i in range(10)]
    rows += [(500 + i, f"unique{i} " + " ".join(f"z{i}_{j}" for j in range(30)))
             for i in range(5)]
    check(spark.createDataFrame(rows, "doc_id BIGINT, text STRING"))


def test_simhash_clusters_verdict_all_green(spark, docs):
    """The verdict twin's five booleans must all hold on the driver
    corpus and the count must equal the corpus size."""
    row = dedup.simhash_clusters_verdict(docs, max_hamming=3).first()
    assert row["n_docs"] == docs.count()
    assert row["one_cluster_per_doc"]
    assert row["labels_are_min_member"]
    assert row["sizes_consistent"]
    assert row["matches_pair_closure"]


def test_winnow_doc_cap_rarest_first(spark, monkeypatch):
    """The per-doc cap (round 9) keeps each doc's RAREST fingerprints,
    so a planted near-dup pair — which shares its rare fingerprints —
    survives a tight cap while the guard is a provable no-op below the
    activation size."""
    import random

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(400)]
    base = " ".join(rng.choice(vocab) for _ in range(120))
    dup = base + " tail1 tail2 tail3"
    rows = [(0, base), (1, dup)]
    rows += [
        (10 + i, " ".join(rng.choice(vocab) for _ in range(100)))
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    uncapped = _pairs(dedup.winnow_pairs(docs, min_shared=2))
    # below activation: max_doc_fps present but inert — identical output
    assert _pairs(dedup.winnow_pairs(docs, min_shared=2, max_doc_fps=4)) == uncapped
    # force activation: a tight rarest-first cap must still find the
    # planted pair (its shared fingerprints are globally rare)
    monkeypatch.setattr(dedup, "WINNOW_DOC_CAP_ACTIVATION", 1)
    capped = _pairs(dedup.winnow_pairs(docs, min_shared=2, max_doc_fps=8))
    assert (0, 1) in capped
    # the cap can only REMOVE pairs, never invent them
    assert capped <= uncapped


def _winnow_cluster_corpus(spark):
    """Two planted dup groups, a bridge doc, a loner, a too-short doc.
    Shared runs are >= k + window - 1 = 6 tokens so the winnowing
    guarantee forces a shared fingerprint within each group."""
    run1 = "p1 q1 r1 s1 t1 u1 v1 w1"
    run2 = "m2 n2 o2 p2 q2 r2 s2 t2"
    return _mkdocs(
        spark,
        [
            (1, f"one two three {run1} four five six"),
            (2, f"alpha beta {run1} gamma delta epsilon"),
            (3, f"misc words here {run2} and more yet"),
            (4, f"other stuff {run2} trailing tokens now"),
            (5, "completely unrelated text with many distinct tokens here"),
            (6, "too short"),  # < 6 tokens: no fingerprints at all
            (7, f"bridge doc {run1} mid part {run2} tail bits"),
        ],
    )


def test_winnow_clusters_partition_and_transitivity(spark):
    """Clique contract (round 10): full corpus partition, min-member
    labels, consistent sizes — and the bridge doc (sharing run1 with
    group A and run2 with group B) transitively merges both groups,
    exactly what connected components must do."""
    docs = _winnow_cluster_corpus(spark)
    out = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in dedup.winnow_clusters(docs, k=4, window=3).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5, 6, 7}
    # 1,2 share run1; 3,4 share run2; 7 bridges both -> one component
    for d in (1, 2, 3, 4, 7):
        assert out[d] == (1, 5)
    # loner and too-short doc are singleton clusters (full partition)
    assert out[5] == (5, 1)
    assert out[6] == (6, 1)


def test_winnow_clusters_matches_pair_closure(spark):
    """The clique route must equal the independently computed
    transitive closure of winnow_pairs(min_shared=1), label for
    label — the lossless-contract claim the verdict hash-checks."""
    docs = _winnow_cluster_corpus(spark)
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.winnow_clusters(docs, k=4, window=3).collect()
    }
    pair_cc = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(
            dedup.winnow_pairs(docs, k=4, window=3, min_shared=1)
        ).collect()
    }
    for d, lbl in pair_cc.items():
        assert clusters[d] == lbl
    # docs absent from the pair graph are singletons in the partition
    for d in set(clusters) - set(pair_cc):
        assert clusters[d] == d


def test_winnow_clusters_verdict_green(spark):
    docs = _winnow_cluster_corpus(spark)
    row = dedup.winnow_clusters_verdict(docs, k=4, window=3).first()
    assert row["n_docs"] == 7
    assert row["one_cluster_per_doc"]
    assert row["labels_are_min_member"]
    assert row["sizes_consistent"]
    assert row["matches_pair_closure"]


def test_winnow_clusters_edge_count_is_incidence_bounded(spark):
    """The contract's cost claim: a b-doc fingerprint bucket feeds the
    CC b−1 star edges, not b(b−1)/2 pairs. 40 docs sharing one run =
    one component via 39-ish edges; the pair route would materialize
    780 pairs for the same answer."""
    run = "z1 z2 z3 z4 z5 z6 z7 z8"
    rows = [(i, f"doc {i} filler_{i}a filler_{i}b {run} tail_{i}c tail_{i}d")
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in dedup.winnow_clusters(docs, k=4, window=3).collect()
    }
    assert all(v == (0, 40) for v in out.values())


def test_ngram_auto_router_never_executes_derived_plans(spark):
    """Round-10 advisor fix: `method=\"auto\"` without known_count must
    not run an eager count over a DERIVED plan (joins/aggregates/Python
    stages) just to route — it routes straight to \"prefix\". A bare
    parquet-style scan still counts (one columnar scan, the documented
    cheap case)."""
    rows = [(i, f"tok{i} a b c d e f g h tok{i}x") for i in range(30)]
    base = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    # derived plan: an aggregate makes count() a full recompute
    derived = (
        base.groupBy("doc_id").agg(F.first("text").alias("text"))
    )
    assert not dedup._count_is_scan_cheap(derived)
    assert dedup._count_is_scan_cheap(base.select("doc_id", "text"))
    assert dedup._count_is_scan_cheap(base.filter(F.col("doc_id") < 100))
    # poison count(): the router must never call it on the derived plan
    called = {"n": 0}
    orig = type(derived).count

    def counting(self):
        called["n"] += 1
        return orig(self)

    try:
        type(derived).count = counting
        out = dedup.ngram_jaccard_pairs(derived, method="auto")
    finally:
        type(derived).count = orig
    assert called["n"] == 0
    # and the routed result is still the exact prefix-filtered join
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(
            base, method="prefix", known_count=30
        ).collect()
    }
    got = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in out.collect()}
    assert got == want


def test_scaled_side_three_band_policy(spark):
    """The corpus-scaled join-side policy has three measured bands
    (round 8 found the bottom trap, round 9 the top one): small
    corpora keep AQE broadcast freedom (no hint), the mid band pins
    shuffle_hash (compressed-broadcast driver-collect trap), and
    above SHUFFLE_HASH_SAFE_ROWS the hash pin switches to a ``merge``
    pin, so the join can spill instead of the hash build aborting
    ("Can't acquire ... bytes memory to build hash relation", measured
    at 5M docs / 32 partitions) while staying hint-protected from
    AQE's compressed-size broadcast conversion under caller-provided
    sessions (round-10 advisor — no-hint relied on the STUDY session's
    8 MB adaptive cap). Unknown size takes the defensive mid-band
    hint."""
    df = spark.createDataFrame([(1, "a")], "doc_id BIGINT, shingle STRING")
    # bottom band: returned plan is the input, untouched (AQE freedom)
    assert dedup._scaled_side(df, dedup.BROADCAST_SAFE_ROWS) is df
    # top band: merge-pinned (spillable, broadcast-proof)
    top = dedup._scaled_side(df, dedup.SHUFFLE_HASH_SAFE_ROWS + 1)
    assert top is not df
    top_plan = top._jdf.queryExecution().logical().toString()
    assert "merge" in top_plan and "shuffle_hash" not in top_plan
    # mid band and unknown: a hinted (new) plan
    mid = dedup._scaled_side(df, dedup.BROADCAST_SAFE_ROWS + 1)
    assert mid is not df
    assert "shuffle_hash" in mid._jdf.queryExecution().logical().toString()
    unknown = dedup._scaled_side(df, None)
    assert unknown is not df
    assert (
        "shuffle_hash"
        in unknown._jdf.queryExecution().logical().toString()
    )
    # round 11: the top band is PARTITION-AWARE — the r9 abort is a
    # per-task quantity (corpus_rows / shuffle_partitions), so a
    # session running corpus-scaled partitions keeps the no-sort hash
    # join (the merge pin's sort spilled ~70 GB at 5M and ENOSPC'd),
    # while 32-partition sessions keep the r9-safe merge pin above.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "256")
        wide = dedup._scaled_side(df, 5_000_000)
        wide_plan = wide._jdf.queryExecution().logical().toString()
        assert "shuffle_hash" in wide_plan and "merge" not in wide_plan
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_dedup_clusters_nonconvergence_raises_under_contract(spark):
    """Round-11 advisor (medium): the clique-contract operators promise
    EXACT connected components, so their CC call must RAISE — not warn —
    when labels are still changing at max_iterations. Both engines honor
    on_nonconverge="raise"; a converged run is unaffected."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a BIGINT, doc_b BIGINT"
    )
    with pytest.raises(RuntimeError, match="did NOT converge"):
        dedup.dedup_clusters(
            pairs, max_iterations=2, on_nonconverge="raise"
        ).collect()
    with pytest.raises(RuntimeError, match="did NOT reach a fixpoint"):
        dedup.dedup_clusters_star(
            pairs, max_iterations=1, on_nonconverge="raise"
        ).collect()
    # converged runs return normally under the same flag
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(
            pairs, max_iterations=20, on_nonconverge="raise"
        ).collect()
    }
    assert got == {i: 0 for i in range(13)}
    with pytest.raises(ValueError, match="on_nonconverge"):
        dedup.dedup_clusters(pairs, on_nonconverge="explode")


def test_count_router_node_tokens_not_fooled_by_names(spark):
    """Round-11 advisor: _count_is_scan_cheap matches node NAMES at line
    start — an attribute literally aliased "Union" (printed `Union#12`
    inside the Project's expression list) must not misroute a genuinely
    cheap scan, while a real Union/aggregate node still classifies
    derived. Cached inputs (InMemoryRelation) classify derived too: an
    unmaterialized cache makes count() compute the whole upstream."""
    rows = [(i, f"tok{i} a b c") for i in range(10)]
    base = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    named = base.select(
        F.col("doc_id").alias("Union"), F.col("text").alias("Distinct")
    )
    assert dedup._count_is_scan_cheap(named)
    assert not dedup._count_is_scan_cheap(base.union(base))
    assert not dedup._count_is_scan_cheap(base.distinct())
    cached = base.select("doc_id", "text").persist()
    try:
        assert not dedup._count_is_scan_cheap(cached)
    finally:
        cached.unpersist()


def test_minhash_router_never_executes_derived_plans(spark):
    """Round-11 advisor: minhash_lsh_pairs / minhash_clusters take
    known_count and, without it, follow the ngram router discipline —
    zero count() calls on a DERIVED plan (the defensive guards they
    then enable are provably output-identical no-ops at this scale)."""
    rows = [(i, f"tok{i % 10} a b c d e f g h i j k") for i in range(30)]
    base = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    derived = base.groupBy("doc_id").agg(F.first("text").alias("text"))
    called = {"n": 0}
    orig = type(derived).count

    def counting(self):
        called["n"] += 1
        return orig(self)

    try:
        type(derived).count = counting
        pairs = dedup.minhash_lsh_pairs(derived).collect()
        clusters = dedup.minhash_clusters(derived).collect()
    finally:
        type(derived).count = orig
    assert called["n"] == 0
    # defensive-arm output == known_count-arm output (guards are no-ops)
    want_pairs = dedup.minhash_lsh_pairs(base, known_count=30).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {
        (r["doc_a"], r["doc_b"]) for r in want_pairs
    }
    want_clusters = dedup.minhash_clusters(base, known_count=30).collect()
    assert {(r["doc_id"], r["cluster_id"]) for r in clusters} == {
        (r["doc_id"], r["cluster_id"]) for r in want_clusters
    }


def test_ngram_clusters_groups_planted_dups(spark):
    """Planted near-dup groups collapse to one cluster each (canonical
    min-id label, consistent sizes); unrelated docs stay singletons —
    and every corpus doc gets exactly one row (full partition)."""
    rows = []
    for g in range(4):
        base = " ".join(f"g{g}w{i}" for i in range(30))
        rows.append((g * 10, base))
        rows.append((g * 10 + 1, base + " extraA extraB"))
        rows.append((g * 10 + 2, base.replace(f"g{g}w7", "mutated")))
    for s in range(100, 112):
        rows.append((s, " ".join(f"s{s}x{i}" for i in range(25))))
    docs_df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in dedup.ngram_clusters(
            docs_df, known_count=len(rows)
        ).collect()
    }
    assert len(out) == len(rows)
    for g in range(4):
        assert out[g * 10] == (g * 10, 3)
        assert out[g * 10 + 1] == (g * 10, 3)
        assert out[g * 10 + 2] == (g * 10, 3)
    for s in range(100, 112):
        assert out[s] == (s, 1)


def test_ngram_clusters_refine_pair_closure_on_corpus(spark, docs):
    """On the real driver corpus: every clique cluster is CONTAINED in
    one exact-pair-closure cluster (verified star edges are a subset of
    the lossless pair set), and star-edge coverage is total at this
    scale — every pair-clustered doc stays non-singleton."""
    n = docs.count()
    clusters = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in dedup.ngram_clusters(docs, known_count=n).collect()
    }
    pair_cc = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters_star(
            dedup.ngram_jaccard_pairs(docs, threshold=0.5, known_count=n)
        ).collect()
    }
    assert len(clusters) == n
    # containment: one pair label per clique cluster; unpaired docs
    # must be singletons here
    by_clique: dict[int, set] = {}
    for d, (c, sz) in clusters.items():
        if d in pair_cc:
            by_clique.setdefault(c, set()).add(pair_cc[d])
        else:
            assert sz == 1, f"doc {d} clustered without a pair witness"
    assert all(len(lbls) == 1 for lbls in by_clique.values())
    # coverage at driver scale: 1.0 (the verdict floors it at 0.8)
    uncovered = [d for d in pair_cc if clusters[d][1] == 1]
    assert not uncovered, f"pair-clustered docs left singleton: {uncovered}"


def test_ngram_clusters_verdict_all_green(spark, docs):
    row = dedup.ngram_clusters_verdict(docs, known_count=docs.count()).first()
    assert row["n_docs"] == docs.count()
    assert row["one_cluster_per_doc"]
    assert row["labels_are_min_member"]
    assert row["sizes_consistent"]
    assert row["refines_pair_closure"]
    assert row["coverage_ok"]


def test_ngram_clusters_star_cap_keeps_planted_recall(spark):
    """The rarest-first star cap (R=16 default) is the linearity lever;
    planted dup groups must survive an aggressively small cap too —
    near-dups share their RAREST shingles first, so the witness edge
    rides one of the R rarest buckets."""
    rows = []
    base = " ".join(f"w{i}" for i in range(60))
    for d in range(6):
        rows.append((d, base + f" tail{d}a tail{d}b"))
    for s in range(50, 70):
        rows.append((s, " ".join(f"s{s}x{i}" for i in range(30))))
    docs_df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in dedup.ngram_clusters(
            docs_df, known_count=len(rows), max_doc_star_shingles=4
        ).collect()
    }
    assert all(out[d] == (0, 6) for d in range(6))
    assert all(out[s] == (s, 1) for s in range(50, 70))


def test_semantic_dedup_reduced_geometry_decisions_stay_exact(spark):
    """Round-11 verdict item 7: semantic_dedup under coarse_dim — the
    clustering GEOMETRY runs in the projected space (the 384-d KMeans
    collapse fix), but duplicate decisions are full-dimension exact:
    the verdict invariants (independent full-d BLAS re-check) must all
    hold, and planted near-dup groups must still lose a member."""
    df, planted = _semantic_corpus(spark)
    res = dedup.semantic_dedup(
        df, threshold=0.99, num_cells=4, seed=42, coarse_dim=4
    )
    keep = {r["vec_id"]: r["keep"] for r in res.collect()}
    assert len(keep) == df.count()
    # The reduced-space clustering may group differently, so assert the
    # contract (some planted member drops; nothing without a witness)
    # via the verdict's independent full-d re-check:
    row = dedup.semantic_dedup_verdict(
        df, threshold=0.99, num_cells=4, seed=42, coarse_dim=4
    ).first()
    assert row["n_total"] == df.count()
    assert row["ids_unique"]
    assert row["kept_valid"]
    assert row["dropped_valid"]
    assert row["some_dropped"]


def _survival(res) -> float:
    rows = res.collect()
    return sum(1 for r in rows if r["keep"]) / len(rows)


def test_semantic_threshold_calibrator_hits_target(spark):
    """Round 13 (verdict item 6): the calibrator must return an eps at
    which semantic_dedup's MEASURED survival lands within +-10% of the
    target, at TWO corpus sizes — the measured r12 effect this exists
    for is the same threshold keeping 67% at 50k but 11% at 5M
    (within-cluster cosine conditioning tightens with corpus size)."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    # this corpus's within-cluster cosines live in ~[0, 0.5] (centered
    # synthetic vectors), so give the calibrator a grid spanning that
    # range — the default grid targets high-cosine encoder geometry
    grid = tuple(round(0.05 * i, 2) for i in range(19))
    for corpus, cells in ((emb.filter(F.col("vec_id") < 200), 4), (emb, 8)):
        cal = dedup.semantic_threshold_for(
            corpus, 0.5, num_cells=cells, seed=42, grid=grid
        )
        res = dedup.semantic_dedup(
            corpus, threshold=cal["threshold"], num_cells=cells, seed=42
        )
        got = _survival(res)
        assert abs(got - 0.5) <= 0.10, (
            f"calibrated eps={cal['threshold']:.4f} gave survival "
            f"{got:.3f} (curve {cal['curve']})"
        )


def test_semantic_threshold_calibrator_contract(spark):
    """Edges: unreachable targets clamp to the measured curve's
    endpoints; the curve is monotone non-decreasing (more permissive
    eps never keeps fewer rows on these corpora); invalid targets
    raise."""
    import pytest as _pytest

    emb = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 200)
    )
    with _pytest.raises(ValueError):
        dedup.semantic_threshold_for(emb, 0.0, num_cells=4)
    lo = dedup.semantic_threshold_for(
        emb, 0.001, num_cells=4, seed=42, grid=(0.9, 0.99)
    )
    assert lo["threshold"] == 0.9  # clamp to the lowest measured point
    hi = dedup.semantic_threshold_for(emb, 1.0, num_cells=4, seed=42)
    # target 1.0 is exactly achieved on the measured curve; the
    # returned eps must carry measured survival 1.0
    assert hi["survival"] == 1.0
    surv = [s for _, s in hi["curve"]]
    assert surv == sorted(surv)
    # r13 ADVICE: an empty corpus has no measurable survival curve —
    # must raise a clear ValueError, not KeyError on the empty
    # aggregate
    with _pytest.raises(ValueError, match="empty corpus"):
        dedup.semantic_threshold_for(
            emb.filter(F.col("vec_id") < 0), 0.5, num_cells=4
        )


def test_parsed_sql_construction_identical_to_fluent_algebra(spark, docs):
    """Round 16: the minhash signature/band and simhash fingerprint
    expressions are built as parsed SQL strings (one py4j round trip
    each) instead of fluent Column chains (~8 round trips each —
    measured 8-11x construction slowdown and the dominant warm cost of
    both lanes). The parsed algebra must stay value-identical to the
    fluent form this test inlines from the round-15 code."""
    from vector_database_in_rust_spark.functions.text import (
        MINHASH_PRIME,
        minhash_permutation_params,
    )

    # --- minhash signatures: fluent round-15 form vs shipped form ---
    sh = dedup._shingle_index(docs, "doc_id", "text", 3)
    params = minhash_permutation_params(64, 42)
    h32 = F.xxhash64("shingle").bitwiseAND(F.lit((1 << 32) - 1))
    old_sig = (
        sh.select("doc_id", h32.alias("h"))
        .groupBy("doc_id")
        .agg(
            *[
                F.min(
                    (F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_PRIME)
                ).alias(f"s{i}")
                for i, (a, b) in enumerate(params)
            ]
        )
    )
    new_sig = dedup.minhash_signatures(docs)
    assert old_sig.schema == new_sig.schema
    assert old_sig.exceptAll(new_sig).count() == 0
    assert new_sig.exceptAll(old_sig).count() == 0

    # --- banded rows: explode+unpack vs inline ---
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(
                    *[F.col(f"s{b * 4 + r}") for r in range(4)]
                ).alias("band_hash"),
            )
            for b in range(16)
        ]
    )
    old_banded = old_sig.select(
        "doc_id", F.explode(bands).alias("band")
    ).select(
        "doc_id",
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_hash").alias("band_hash"),
    )
    new_banded = dedup._minhash_banded(new_sig, 64, 16)
    assert old_banded.schema == new_banded.schema
    assert old_banded.exceptAll(new_banded).count() == 0
    assert new_banded.exceptAll(old_banded).count() == 0

    # --- simhash fingerprints: fluent round-15 form vs shipped form ---
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).select("doc_id", F.xxhash64("tok").alias("h"))
    aggs = [
        F.sum(
            F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"b{i}")
        for i in range(64)
    ]
    sums = toks.groupBy("doc_id").agg(*aggs)
    fp = F.lit(0).cast("bigint")
    for i in range(64):
        fp = fp + F.shiftleft(
            F.when(F.col(f"b{i}") > 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint"),
            i,
        )
    old_fp = sums.select("doc_id", fp.alias("simhash"))
    new_fp = dedup.simhash_fingerprints(docs)
    assert old_fp.schema == new_fp.schema
    assert old_fp.exceptAll(new_fp).count() == 0
    assert new_fp.exceptAll(old_fp).count() == 0


def test_window_frequency_cut_identical_to_agg_cut(spark, docs):
    """Round 16 (verdict item 7): the unknown-size minhash hot cut and
    the prefix/clique routes compute shingle frequencies with a count
    window over the shingle partitioning (one pass, one reference to
    the opaque tokenize stage) instead of the round-15 aggregate +
    (anti-)join (two references = two tokenizes on unpersisted/derived
    inputs). The retained rows must be identical at a threshold low
    enough that the cut actually fires on this corpus."""
    from pyspark.sql import Window as W

    sh = dedup._shingle_index(docs, "doc_id", "text", 3)
    max_f = 2  # low enough to cut real shingles in the smoke corpus
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_f"))
        .filter(F.col("_f") > max_f)
        .select("shingle")
    )
    agg_cut = sh.join(hot, "shingle", "left_anti").select("doc_id", "shingle")
    win_cut = (
        sh.withColumn("_f", F.count(F.lit(1)).over(W.partitionBy("shingle")))
        .filter(F.col("_f") <= max_f)
        .select("doc_id", "shingle")
    )
    assert agg_cut.count() < sh.count()  # the cut fired
    assert agg_cut.exceptAll(win_cut).count() == 0
    assert win_cut.exceptAll(agg_cut).count() == 0
    # End-to-end: the unknown-size (derived-plan) route — which now
    # takes the window arm with no persist — must yield the same pairs
    # as the known-size route on the same rows.
    derived = docs.select("doc_id", "text").distinct()  # derived plan
    known = dedup.minhash_lsh_pairs(
        docs, threshold=0.5, max_shingle_freq=max_f,
        known_count=docs.count(),
    )
    unknown = dedup.minhash_lsh_pairs(
        derived, threshold=0.5, max_shingle_freq=max_f
    )
    k = sorted(tuple(r) for r in known.collect())
    u = sorted(tuple(r) for r in unknown.collect())
    assert k == u
