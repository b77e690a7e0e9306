"""Hybrid retrieval: BM25 keyword scoring fused with vector kNN.

The reference is a pure vector store — its only retrieval mode is
embedding distance (src/lib.rs:74-97, 152-169). Production search over
the same corpus almost always runs HYBRID: a lexical ranker (BM25) and
a vector ranker, fused by reciprocal-rank fusion (RRF, Cormack et al.
2009 — the fusion TREC uses; score(d) = sum over rankers of
1/(rrf_k + rank_d)). This module adds the lexical half and the fusion
as pure Catalyst plans over the same ``documents``/``embeddings``
tables the vector operators serve.

Scale shape (BM25): tokenization stays a narrow per-row expression;
only tokens MATCHING the query terms are exploded (``F.filter`` before
``explode``), so the exploded relation is |docs| x |query| at worst,
not |docs| x |doc length|. Per-term document frequencies aggregate
map-side into a query-sized table that broadcasts back; corpus-level
N/avgdl is one 1-row aggregate. No UDFs anywhere; everything runs in
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_database_in_rust_spark.functions.vectors import cosine_similarity


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 10,
) -> DataFrame:
    """Okapi BM25 top-N for a bag of query terms.

    idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)   (Lucene's variant —
    always positive, no negative-idf cliff for terms in >half the
    corpus), tf saturation k1, length normalization b. Deterministic
    output order: (rounded score desc, doc id) — both engines rank the
    ROUNDED score, so the driver's hash check can't flip on a
    last-bit float difference at the cutoff.
    """
    toks = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        F.filter(toks, lambda t: t.isin(*query_terms)).alias("_hits"),
    )
    # Corpus stats (N, avgdl) stay IN the DAG as a broadcast 1-row
    # aggregate — a `.first()` here would be an extra full scan action
    # per query on the driver (the same pattern events_anomalies
    # broadcasts its stats; pinned in tests/test_plans.py).
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.avg("dl").alias("_avgdl"),
    )

    tf = (
        base.select(id_col, "dl", F.explode("_hits").alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("_n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    term_score = idf * (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("_avgdl")))
    )
    return (
        tf.join(F.broadcast(df_), on="term")
        .join(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(term_score), 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), id_col)
        .limit(top_n)
    )


def tfidf_scores(
    docs: DataFrame,
    query_terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 10,
) -> DataFrame:
    """Vector-space TF-IDF top-N for a bag of query terms — the third
    lexical lane next to BM25 (SMART "ltn" weighting with doc-length
    damping): score(d) = sum_t (1 + ln(tf)) * (ln((1+N)/(1+df)) + 1)
    / sqrt(dl). The smoothed idf (sklearn's smooth_idf form) is always
    positive; sqrt-of-length damping approximates cosine normalization
    without materializing the full-vocabulary weight vector per doc
    (which would force tokenizing ALL terms, not just query hits).

    Same scale shape as :func:`bm25_scores`: only query-term hits are
    exploded (|docs| x |query| worst case), df aggregates into a
    query-sized broadcast, corpus length stats are one 1-row aggregate,
    everything stays in whole-stage codegen.
    """
    toks = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        F.filter(toks, lambda t: t.isin(*query_terms)).alias("_hits"),
    )
    # N folded into the DAG as a broadcast 1-row aggregate, not a
    # driver-side count() action — see bm25_scores.
    stats = base.agg(F.count(F.lit(1)).cast("double").alias("_n"))

    tf = (
        base.select(id_col, "dl", F.explode("_hits").alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((1.0 + F.col("_n")) / (1.0 + F.col("df"))) + 1.0
    term_score = (1.0 + F.log(F.col("tf"))) * idf / F.sqrt(F.col("dl"))
    return (
        tf.join(F.broadcast(df_), on="term")
        .join(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(term_score), 4).alias("tfidf"))
        .orderBy(F.col("tfidf").desc(), id_col)
        .limit(top_n)
    )


def hybrid_search_rrf3(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec: list[float],
    *,
    k: int = 10,
    depth: int = 20,
    rrf_k: int = 60,
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    text_col: str = "text",
    vec_col: str = "embedding",
) -> DataFrame:
    """Three-lane reciprocal-rank fusion: BM25 + TF-IDF + exact kNN.

    Same RRF contract as :func:`hybrid_search_rrf` extended to three
    rankers — the standard ensemble shape when a probabilistic ranker
    (BM25), a vector-space ranker (TF-IDF) and a semantic ranker
    disagree on the tail. Each rank list is ``depth`` rows, so the
    two fusion joins move 3 x ``depth`` rows total regardless of
    corpus size; the corpus itself is scanned once per lane and never
    re-read by the fusion.

    Bounded-input windows: the three unpartitioned
    ``Window.orderBy`` rank assignments here LOOK like the
    single-partition anti-pattern but each runs over an
    already-top-``depth``-truncated relation (``bm25_scores`` /
    ``tfidf_scores`` ``top_n`` and ``knn_exact`` ``k`` are applied
    upstream), so the single task ranks <= ``depth`` rows at any
    corpus size — see SCALE.md's claim->pin table.
    """
    from pyspark.sql import Window

    from vector_database_in_rust_spark.operators.knn import knn_exact

    lex = bm25_scores(
        docs, query_terms, id_col=doc_id_col, text_col=text_col, top_n=depth
    ).withColumn(
        "lex_rank",
        F.row_number().over(
            Window.orderBy(F.col("bm25").desc(), F.col(doc_id_col))
        ),
    )
    vsm = tfidf_scores(
        docs, query_terms, id_col=doc_id_col, text_col=text_col, top_n=depth
    ).withColumn(
        "vsm_rank",
        F.row_number().over(
            Window.orderBy(F.col("tfidf").desc(), F.col(doc_id_col))
        ),
    )
    sem = knn_exact(
        embeddings, query_vec, depth, id_col=vec_id_col, vec_col=vec_col
    ).withColumn(
        "sem_rank",
        F.row_number().over(Window.orderBy(F.col("dist"), F.col(vec_id_col))),
    )
    fused = (
        lex.select(F.col(doc_id_col).alias("_id"), "lex_rank")
        .join(
            vsm.select(F.col(doc_id_col).alias("_id"), "vsm_rank"),
            on="_id",
            how="full_outer",
        )
        .join(
            sem.select(F.col(vec_id_col).alias("_id"), "sem_rank"),
            on="_id",
            how="full_outer",
        )
    )
    contrib = (
        F.coalesce(1.0 / (F.lit(rrf_k) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("vsm_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("sem_rank")), F.lit(0.0))
    )
    return (
        fused.select(
            F.col("_id").alias(doc_id_col),
            F.round(contrib, 6).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), doc_id_col)
        .limit(k)
    )


def hybrid_search_rrf(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec: list[float],
    *,
    k: int = 10,
    depth: int = 20,
    rrf_k: int = 60,
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    text_col: str = "text",
    vec_col: str = "embedding",
) -> DataFrame:
    """Reciprocal-rank fusion of BM25 top-``depth`` and exact-kNN
    top-``depth`` (doc ids and vector ids share the id space, the same
    correspondence knn_join_documents serves). A document missing from
    one ranker simply contributes nothing from it — the standard RRF
    outer-join semantics. Both rank lists are ``depth`` rows, so the
    fusion join is a broadcast of two tiny relations regardless of
    corpus size. The two unpartitioned ``Window.orderBy`` rank
    assignments run over those same <= ``depth``-row relations
    (truncated upstream by ``top_n``/``k``), so the single-partition
    window is depth-bounded, not corpus-sized — see SCALE.md's
    claim->pin table."""
    from pyspark.sql import Window

    from vector_database_in_rust_spark.operators.knn import knn_exact

    lex = bm25_scores(
        docs,
        query_terms,
        id_col=doc_id_col,
        text_col=text_col,
        top_n=depth,
    ).withColumn(
        "lex_rank",
        F.row_number().over(
            Window.orderBy(F.col("bm25").desc(), F.col(doc_id_col))
        ),
    )
    sem = knn_exact(
        embeddings, query_vec, depth, id_col=vec_id_col, vec_col=vec_col
    ).withColumn(
        "sem_rank",
        F.row_number().over(Window.orderBy(F.col("dist"), F.col(vec_id_col))),
    )
    fused = lex.select(
        F.col(doc_id_col).alias("_id"), "lex_rank"
    ).join(
        sem.select(F.col(vec_id_col).alias("_id"), "sem_rank"),
        on="_id",
        how="full_outer",
    )
    contrib = F.coalesce(
        1.0 / (F.lit(rrf_k) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("sem_rank")), F.lit(0.0))
    return (
        fused.select(
            F.col("_id").alias(doc_id_col),
            F.round(contrib, 6).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), doc_id_col)
        .limit(k)
    )


def build_inverted_index(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_terms: int | None = None,
) -> DataFrame:
    """Materialize the lexical inverted index as a DataFrame — the
    artifact BM25/TF-IDF implicitly recompute per query, built once so
    repeated retrieval amortizes the tokenization pass:

    ``(term, df, cf, posting_md5)`` where df = document frequency,
    cf = collection frequency, and posting_md5 digests the full
    ``doc_id:tf`` posting list sorted by doc_id (the digest makes a
    variable-length list hash-checkable; a production sink would keep
    the list column itself).

    Scale shape: explode -> (term, doc) partial-agg -> per-term agg.
    Both shuffles are token-count-shaped with map-side combine; the
    posting list concentrates per term, so a degenerate stop-word term
    concentrates its postings on one reducer — cap with ``top_terms``
    or pre-filter a stop list if the term distribution is Zipfian and
    the full lists (not digests) are materialized.
    """
    toks = F.split(F.col(text_col), " ")
    tf = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    posting = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "tf"))),
            lambda s: F.concat_ws(":", s["doc_id"], s["tf"]),
        ),
        " ",
    )
    out = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
        F.md5(posting).alias("posting_md5"),
    )
    if top_terms is not None:
        out = out.orderBy(F.col("cf").desc(), "term").limit(top_terms)
    return out


MMR_SCHEMA = (
    "query_id BIGINT, rank INT, vec_id BIGINT, rel DOUBLE, mmr_score DOUBLE"
)


def mmr_rerank(
    candidates: DataFrame,
    *,
    k: int = 5,
    lambda_: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_col: str = "rel",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick k results maximizing
    ``lambda * rel - (1 - lambda) * max_cos_to_already_selected`` —
    the standard diversification pass between retrieval and the user.

    Input is a CANDIDATE list (query_id, vec_id, rel, embedding),
    typically the top 3-10x k rows from knn/ANN — MMR is a re-ranker,
    not a retriever. The greedy loop is inherently sequential per
    query, so it runs as ``applyInPandas`` grouped by query_id: each
    group is a few dozen rows in one task, queries parallelize across
    executors, and nothing touches the driver. Ties break on higher
    rel then lower id, making the selection fully deterministic.
    """
    import numpy as np
    import pandas as pd

    lam = float(lambda_)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        ids = pdf[id_col].to_numpy()
        rel = pdf[rel_col].to_numpy(dtype="float64")
        emb = np.stack(pdf[vec_col].to_numpy()).astype("float64")
        norms = np.linalg.norm(emb, axis=1)
        norms[norms == 0.0] = 1.0
        unit = emb / norms[:, None]
        n = len(ids)
        chosen: list[int] = []
        max_sim = np.zeros(n)
        picked = np.zeros(n, dtype=bool)
        scores: list[float] = []
        for _ in range(min(k, n)):
            mmr = lam * rel - (1.0 - lam) * max_sim
            mmr[picked] = -np.inf
            best = mmr.max()
            # deterministic tie-break: highest rel, then lowest id
            tied = np.flatnonzero(mmr == best)
            tied = tied[np.lexsort((ids[tied], -rel[tied]))]
            i = int(tied[0])
            chosen.append(i)
            scores.append(float(best))
            picked[i] = True
            max_sim = np.maximum(max_sim, unit @ unit[i])
        return pd.DataFrame(
            {
                "query_id": qid,
                "rank": np.arange(1, len(chosen) + 1, dtype="int32"),
                "vec_id": ids[chosen],
                "rel": np.round(rel[chosen], 6),
                "mmr_score": np.round(scores, 6),
            }
        )

    return (
        candidates.groupBy("query_id")
        .applyInPandas(fn, schema=MMR_SCHEMA)
        .orderBy("query_id", "rank")
    )


def _token_vec(token, dim: int = 16):
    """Deterministic dense token 'embedding' from md5 bytes: dim j =
    (byte_j - 127.5) / 127.5 in [-1, 1]. A model-free stand-in with the
    properties MaxSim needs — identical tokens embed identically (cos
    1.0), distinct tokens decorrelate — and portable bit-for-bit to the
    SQL oracle (pure hex arithmetic; a trained ColBERT encoder drops
    into this slot unchanged)."""
    return F.array(
        *[
            (
                F.conv(F.substring(F.md5(token), 2 * j + 1, 2), 16, 10).cast(
                    "double"
                )
                - F.lit(127.5)
            )
            / F.lit(127.5)
            for j in range(dim)
        ]
    )


def maxsim_search(
    docs: DataFrame,
    query_doc_id: int,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Late-interaction retrieval (ColBERT-style MaxSim — Khattab &
    Zaharia, SIGIR 2020): score(q, d) = Σ_{qt ∈ q} max_{dt ∈ d}
    cos(qt, dt) over TOKEN-level vectors — every query token finds its
    best-matching document token, so partial/soft overlap scores
    smoothly where whole-doc single-vector cosine collapses everything
    into one dot product. Token sets are per-doc DISTINCT (standard
    ColBERT practice is near-dedup of doc tokens).

    Returns top-k (doc_id, maxsim) by (maxsim desc, doc_id); the query
    doc itself scores exactly its distinct-token count (each token's
    best match is itself at cos 1.0) — the self-retrieval invariant the
    tests pin.

    Scale: the vocabulary of DISTINCT tokens embeds ONCE (a broadcast-
    sized table at any corpus size — vocabulary grows sublinearly);
    query tokens broadcast; the (doc-token × query-token) similarity
    join is the real ColBERT cost profile, bounded by
    |distinct doc tokens| × |query tokens| with the per-(doc, qt) max
    and per-doc sum as map-side-combinable aggregates. At serving
    scale the doc-token side is the inverted layout ColBERT's own
    index uses (token-major), which this join shape matches.
    """
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    ).distinct()
    vocab = tok.select("token").distinct().select(
        "token", _token_vec(F.col("token")).alias("tv")
    )
    dtok = tok.join(F.broadcast(vocab), "token").select(
        "doc_id", F.col("token").alias("dtoken"), F.col("tv").alias("dv")
    )
    qtok = (
        tok.filter(F.col("doc_id") == query_doc_id)
        .select(F.col("token").alias("qtoken"))
        .join(F.broadcast(vocab), F.col("qtoken") == F.col("token"))
        .select("qtoken", F.col("tv").alias("qv"))
    )
    sims = dtok.crossJoin(F.broadcast(qtok)).select(
        "doc_id",
        "qtoken",
        F.round(cosine_similarity("`dv`", "`qv`"), 6).alias("cos"),
    )
    per_qt = sims.groupBy("doc_id", "qtoken").agg(F.max("cos").alias("best"))
    return (
        per_qt.groupBy("doc_id")
        .agg(F.round(F.sum("best"), 6).alias("maxsim"))
        .orderBy(F.col("maxsim").desc(), F.col("doc_id"))
        .limit(k)
    )


def rank_metrics(
    system: DataFrame,
    truth: DataFrame,
    *,
    k: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Retrieval-evaluation metrics — the IR measurement lane every
    search engine ships: per query, ``recall_at_k`` (fraction of the
    truth set retrieved), ``mrr`` (reciprocal rank of the first
    relevant hit), and binary ``ndcg_at_k`` (positionally discounted,
    1/log2(rank+1), normalized by the ideal DCG of min(k, |truth|)
    relevant items in the top positions).

    ``system`` and ``truth`` are (query_id, vec_id, ...) result
    tables; ranks are recomputed here by ``(dist, vec_id)`` when a
    ``dist`` column is present (deterministic total order), else by
    the given ``rank`` column. Relevance is binary membership in the
    truth set — the standard protocol when truth is an exact top-k.

    Scale: one broadcast-sized join of two (queries × k)-row tables +
    a per-query aggregate — evaluation tables are tiny by definition;
    the arithmetic is plain codegen'd doubles, portable to the SQL
    oracle (log2 as ln ratios).
    """
    from pyspark.sql import Window

    def ranked(df):
        if "dist" in df.columns:
            w = Window.partitionBy("query_id").orderBy("dist", "vec_id")
            return df.select(
                "query_id", "vec_id", F.row_number().over(w).alias("rank")
            ).filter(F.col("rank") <= k)
        return df.select("query_id", "vec_id", "rank").filter(
            F.col("rank") <= k
        )

    s = ranked(system)
    t = ranked(truth).select("query_id", "vec_id")
    n_truth = t.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_truth"))
    hits = s.join(t, ["query_id", "vec_id"], "left_semi")
    log2 = lambda c: F.log(c.cast("double")) / F.log(F.lit(2.0))  # noqa: E731
    per_q = (
        hits.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_hit"),
            F.min("rank").alias("_first"),
            F.sum(1.0 / log2(F.col("rank") + 1)).alias("_dcg"),
        )
        .join(n_truth, "query_id", "right")
    )
    ideal_n = F.least(F.col("n_truth"), F.lit(k))
    # IDCG = sum_{p=1..ideal_n} 1/log2(p+1), as a closed in-plan fold
    idcg = F.aggregate(
        F.sequence(F.lit(1), ideal_n),
        F.lit(0.0),
        lambda acc, p: acc + 1.0 / log2(p + 1),
    )
    return per_q.select(
        "query_id",
        F.round(
            F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_truth"), round_digits
        ).alias("recall_at_k"),
        F.round(
            F.coalesce(1.0 / F.col("_first"), F.lit(0.0)), round_digits
        ).alias("mrr"),
        F.round(
            F.coalesce(F.col("_dcg"), F.lit(0.0)) / idcg, round_digits
        ).alias("ndcg_at_k"),
    )
