"""Keyword (BM25) and hybrid (reciprocal-rank-fusion) retrieval.

The reference engine searches only by vector similarity
(py/bruteforce.py:11-19, py/hnsw.py:394-410). A production corpus
pipeline pairs that dense path with a sparse keyword path and fuses the
two rankings — the standard hybrid-retrieval shape (BM25 ⊕ ANN with
reciprocal rank fusion, as in Elasticsearch/Vespa/Lucene). Both sides
here are pure Catalyst:

- :func:`bm25_topk` — Okapi BM25 over a tokenized corpus. The plan is
  the relational form of an inverted-index probe: term-frequency table
  (one explode + groupBy), document-frequency table (groupBy on term),
  broadcast the (small) query-term list into the postings join, fold
  per-(query, doc) contributions, window top-k. At 100 TB: the tf/df
  aggregations are ordinary partial-agg shuffles on (doc_id, term) /
  (term); the probe is a broadcast join so postings never shuffle; no
  global index structure is materialized (or needed — recomputing tf/df
  per query batch is one scan, and both tables can be written out once
  and reused as a real inverted index).

- :func:`rrf_fuse` — reciprocal rank fusion of any two rankings:
  score = Σ 1/(k0 + rank). Rank-only fusion (Cormack et al., SIGIR'09)
  sidesteps score-scale mismatch between BM25 and cosine distances.
  One full-outer join on (query_id, item) — broadcastable when the
  inputs are top-k lists (k · |queries| rows).

Determinism note (oracle parity): per-(query, doc) BM25 scores fold the
per-term contributions in ascending term order via ``F.aggregate`` over
a ``sort_array``-ed list — the same left-to-right double summation the
DuckDB oracle's ``list_sum(list(... ORDER BY term))`` performs — so
value hashes match bit-for-bit; ranks are computed on the exact folded
double, never on a rounded copy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_search_spark.functions import texts as T


def bm25_tables(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Corpus-side BM25 state: (tf, df, dl, stats).

    tf(doc_id, term, tf) and df(term, df) are the inverted-index
    relations; dl(doc_id, dl) the document lengths; stats a single row
    (n_docs, avgdl). All four are plain DataFrames — persist them as
    parquet to reuse across query batches (that IS the index).

    ``materialize=True`` eagerly pins the tokenized relation
    (localCheckpoint) before fanning out: all four tables are subtrees
    of the same tokenization, and Spark does not reuse the exchange
    across subtrees of one action — an ad-hoc search otherwise
    re-tokenizes the corpus up to four times (the same measured
    multi-subtree race dedup's shingle table fixed). Leave False when
    the caller persists the tables to parquet anyway.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), T.tokens(text_col).alias("t")
    )
    if materialize:
        toks = toks.localCheckpoint()
    dl = toks.select("doc_id", F.size("t").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.select("doc_id", F.explode("t").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return tf, df, dl, stats


def bm25_topk(
    docs: DataFrame,
    query_terms: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 top-k: (query_id, doc_id, score, rank).

    ``query_terms`` is a small (query_id, term) relation — distinct
    terms per query (query-side tf is ignored, standard for short
    queries). idf is the Robertson/Lucene form ln(1 + (N-df+.5)/(df+.5)),
    non-negative for any df. Docs sharing no term with a query simply
    don't appear (score floor, as in any inverted-index engine).
    """
    tf, df, dl, stats = bm25_tables(docs, text_col, id_col, materialize=True)
    qt = query_terms.select("query_id", "term").distinct()
    # df/dl/stats are needed only for matched terms; the probe joins are
    # broadcasts (query terms and the semi-joined df slice are tiny).
    matched = (
        tf.join(F.broadcast(qt), "term")
        .join(F.broadcast(df.join(F.broadcast(qt.select("term").distinct()), "term", "left_semi")), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    # Expression shape mirrors the oracle SQL token-for-token so the
    # IEEE evaluation order (and thus every last ulp) is identical.
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    contrib = idf * (
        (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (
                F.lit(1.0)
                - F.lit(b)
                + F.lit(b) * (F.col("dl") / F.col("avgdl"))
            )
        )
    )
    scored = (
        matched.withColumn("contrib", contrib)
        .groupBy("query_id", "doc_id")
        .agg(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("term", "contrib"))),
                F.lit(0.0),
                lambda acc, x: acc + x["contrib"],
            ).alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    k: int = 10,
    k0: int = 60,
    item_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion of two (query_id, item, rank) rankings:
    rrf = Σ_sides 1/(k0 + rank), missing side contributes 0. Returns
    (query_id, item, rrf_score, rank<=k). k0=60 is the standard
    Cormack et al. constant. Deterministic: integer ranks → the two
    addends are exact dyadic doubles summed in a fixed order.
    """
    ra = a.select(
        "query_id", F.col(item_col), F.col("rank").alias("_ra")
    )
    rb = b.select(
        "query_id", F.col(item_col), F.col("rank").alias("_rb")
    )
    fused = ra.join(rb, ["query_id", item_col], "full_outer").select(
        "query_id",
        item_col,
        (
            F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("_ra")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("_rb")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col(item_col)
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", item_col, "rrf_score", "rank")
    )


def mmr_rerank(
    candidates: DataFrame,
    vectors: DataFrame,
    k: int,
    lam: float = 0.7,
    query_id: str = "query_id",
    item_id: str = "vec_id",
    rel_col: str = "rel",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98): from each query's candidate list, greedily pick the item
    maximizing ``lam*rel - (1-lam)*max_sim_to_already_picked`` — the
    diversity pass that keeps a retrieval shortlist from collapsing
    onto near-duplicates (the consumer side of what SemDeDup fixes at
    corpus build time).

    ``candidates`` is (query_id, item_id, rel) — a top-n list from any
    retriever (here: cosine relevance). ``vectors`` supplies item
    embeddings for the pairwise-similarity term. The greedy scan is
    inherently sequential per query but bounded by the candidate list
    (n is tens, never corpus-sized), so each query group is one small
    numpy loop inside applyInPandas — same justification as the HNSW
    SelectNeighbors heuristic, and the same 100 TB shape: work scales
    with queries x n^2, independent of N.

    First pick has no diversity term (empty selected set); afterwards
    the penalty is the TRUE running max similarity — it may be negative,
    in which case it raises the score (classic MMR, no zero floor).
    Ties break to the lower item id. Similarity = cosine of
    L2-normalized vectors.
    Returns (query_id, item_id, mmr double, pick int) with pick 1..k.
    """
    import numpy as np
    import pandas as pd

    from vector_search_spark.functions.distance import as_double_array
    from vector_search_spark.operators.knn import _unit_rows

    cand = candidates.join(
        vectors.select(
            F.col(item_id), as_double_array(vec_col).alias("_v")
        ),
        item_id,
    ).select(query_id, item_id, rel_col, "_v")

    def per_query(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[item_id].to_numpy(dtype=np.int64)
        rel = pdf[rel_col].to_numpy(dtype=np.float64)
        Mn = _unit_rows(np.vstack(pdf["_v"].to_numpy()).astype(np.float64))
        S = Mn @ Mn.T
        n_pick = min(k, len(ids))
        max_sim = None  # true max over picked — may be negative, no floor
        remaining = np.ones(len(ids), dtype=bool)
        out_ids, out_mmr = [], []
        for _ in range(n_pick):
            if max_sim is None:
                mmr = lam * rel  # empty picked set: no diversity term
            else:
                mmr = lam * rel - (1.0 - lam) * max_sim
            # argmax among remaining; ties -> lowest item id
            order = np.lexsort((ids, -mmr))
            best = next(i for i in order if remaining[i])
            remaining[best] = False
            out_ids.append(ids[best])
            out_mmr.append(mmr[best])
            col = S[:, best]
            max_sim = col.copy() if max_sim is None else np.maximum(max_sim, col)
        return pd.DataFrame(
            {
                query_id: pdf[query_id].iloc[0],
                item_id: out_ids,
                "mmr": out_mmr,
                "pick": np.arange(1, n_pick + 1, dtype=np.int32),
            }
        )

    return cand.groupBy(query_id).applyInPandas(
        per_query, f"{query_id} long, {item_id} long, mmr double, pick int"
    )


def maxsim_rerank(
    pairs: DataFrame,
    q_tokens: DataFrame,
    d_tokens: DataFrame,
    token_vecs: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Multi-vector late-interaction re-ranking (ColBERT MaxSim,
    Khattab & Zaharia, SIGIR'20): score(q, d) = Σ_{t∈q} max_{u∈d}
    cos(t, u) over per-TOKEN embeddings — the quality step above
    single-vector ANN in modern retrieval stacks, and the set-of-
    vectors generalization of the reference's query-set×dataset
    scoring (py/bruteforce.py:11-19: one vector per item there, a bag
    of token vectors per item here).

    Candidate-generator-agnostic BY DESIGN: ``pairs`` (query_id,
    doc_id) is the shortlist to re-rank, from ANY first-stage
    retriever — pooled-vector brute cosine in the catalog entry
    (DuckDB-replayable), ``ivf.ivf_topk`` on pooled vectors at scale.
    MaxSim itself never goes near all-pairs: the token-level work is
    |pairs| × (q_len + d_len) rows, assembled by two equi-joins
    (pairs⋈q_tokens on query_id, pairs⋈d_tokens on doc_id), and each
    (query, doc) group is one small gemm — query and doc token counts
    are capped upstream (ColBERT's own protocol: 32 query tokens,
    ~128 doc tokens), so per-group state is model-sized. Same
    applyInPandas justification as mmr_rerank / SelectNeighbors:
    bounded groups, numpy-batched, work scales with |pairs|,
    independent of corpus size.

    Inputs: ``q_tokens`` (query_id, token) and ``d_tokens`` (doc_id,
    token), both DISTINCT per owner; ``token_vecs`` (token, tvec
    array<double>, tnorm double) from
    :func:`textstats.token_trigram_embed`. Zero-norm tokens score
    cos = 0 against everything (guard, not NaN).

    Determinism (oracle parity): vote-sum vectors are exact small
    integers in float64, so the gemm dots are exact and
    order-independent; cos = dot/(tnorm·tnorm') is one multiply + one
    divide of identical doubles on both engines; the per-query-token
    maxima are order-free; and the final Σ over query tokens folds in
    ascending token order (sort_array + F.aggregate — the bm25_topk
    recipe, DuckDB ``list_sum(list(ms ORDER BY qt))``).

    Returns (query_id, doc_id, score double, rank int) with rank ≤ k
    per query (score desc, doc_id tie-break). EVERY shortlisted pair is
    covered: a pair with no embeddable token rows on one side (a
    zero-token doc, or tokens missing from ``token_vecs``) scores 0.0
    rather than silently dropping out of the re-ranked output.
    """
    import numpy as np
    import pandas as pd

    # Defensive distinct: the shortlist may come from ANY first-stage
    # retriever (a union of retrievers can carry duplicate pairs), and
    # a duplicated pair would double its token rows into the per-pair
    # group — doubling the summed score — and re-emit as two ranked
    # rows eating two top-k slots. One |pairs|-sized shuffle buys
    # idempotence.
    pairs = pairs.select("query_id", "doc_id").distinct()

    qv = q_tokens.join(token_vecs, "token").select(
        "query_id",
        F.col("token"),
        F.lit("q").alias("role"),
        F.col("tvec").alias("vec"),
        F.col("tnorm").alias("nrm"),
    )
    dv = d_tokens.join(token_vecs, "token").select(
        "doc_id",
        F.col("token"),
        F.lit("d").alias("role"),
        F.col("tvec").alias("vec"),
        F.col("tnorm").alias("nrm"),
    )
    both = pairs.join(qv, "query_id").select(
        "query_id", "doc_id", "role", "token", "vec", "nrm"
    ).unionByName(
        pairs.join(dv, "doc_id").select(
            "query_id", "doc_id", "role", "token", "vec", "nrm"
        )
    )

    def per_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        qm = pdf[pdf["role"] == "q"]
        dm = pdf[pdf["role"] == "d"]
        if len(qm) == 0 or len(dm) == 0:  # defensive: join-built groups
            return pd.DataFrame(
                {"query_id": [], "doc_id": [], "qt": [], "ms": []}
            )
        Q = np.vstack(qm["vec"].to_numpy()).astype(np.float64)
        D = np.vstack(dm["vec"].to_numpy()).astype(np.float64)
        qn = qm["nrm"].to_numpy(dtype=np.float64)
        dn = dm["nrm"].to_numpy(dtype=np.float64)
        dots = Q @ D.T  # exact: integer-valued float64 entries
        denom = np.outer(qn, dn)
        cos = np.divide(
            dots, denom, out=np.zeros_like(dots), where=denom > 0
        )
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "doc_id": pdf["doc_id"].iloc[0],
                "qt": qm["token"].to_numpy(),
                "ms": cos.max(axis=1),
            }
        )

    per_qtoken = both.groupBy("query_id", "doc_id").applyInPandas(
        per_pair, "query_id long, doc_id long, qt string, ms double"
    )
    scored = per_qtoken.groupBy("query_id", "doc_id").agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("qt", "ms"))),
            F.lit(0.0),
            lambda acc, x: acc + x["ms"],
        ).alias("score")
    )
    # Shortlist-coverage contract: a pair whose query or doc side
    # contributed no token rows (zero-token doc, or tokens absent from
    # token_vecs after the inner join) has no per_qtoken rows and would
    # silently VANISH from the ranking; the re-ranker must cover its
    # whole shortlist, so such pairs score 0.0 instead (left join back
    # from `pairs` — |pairs|-sized, the relation we already shuffled).
    scored_full = pairs.join(
        scored, ["query_id", "doc_id"], "left"
    ).select(
        "query_id",
        "doc_id",
        F.coalesce(F.col("score"), F.lit(0.0)).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        scored_full.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def rank_eval(
    run: DataFrame,
    qrels: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Graded ranking-quality evaluation — the metric suite above
    :func:`knn.recall_per_query`'s set-overlap recall: per query,
    nDCG@k (position-discounted, the standard order-sensitive IR
    metric), MRR (reciprocal rank of the first relevant hit), and
    P@k. Evaluating a retriever is itself a relational job at corpus
    scale: ``run`` (query_id, doc_id, rank) is any retriever's output,
    ``qrels`` (query_id, doc_id, rel) the graded judgments; both joins
    are on (query_id, doc_id) and every aggregate is per-query, so the
    work is |run| + |qrels| rows however big the corpus behind them.

    DCG folds rel/log2(rank+1) in ascending rank order and IDCG folds
    the ideal ordering (rel desc, doc_id tie-break, top-k) the same
    way — deterministic left-to-right double sums, the bm25/maxsim
    parity discipline. Queries with no positive judgment score 0 on
    all three metrics (not NULL/NaN).

    Returns ``(query_id, n_rel_ret bigint, p_at_k double, rr double,
    ndcg double)`` — one row per query present in ``run``.
    """
    rels = qrels.select(
        "query_id", "doc_id", F.col("rel").cast("double").alias("rel")
    )
    r = (
        run.filter(F.col("rank") <= k)
        .select("query_id", "doc_id", F.col("rank").cast("int").alias("rank"))
        .join(rels, ["query_id", "doc_id"], "left")
        .withColumn("rel", F.coalesce(F.col("rel"), F.lit(0.0)))
    )
    contrib = F.col("rel") / F.log2(F.col("rank") + F.lit(1))
    got = r.withColumn("_c", contrib).groupBy("query_id").agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("rank", "_c"))),
            F.lit(0.0),
            lambda acc, x: acc + x["_c"],
        ).alias("_dcg"),
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_rel_ret"),
        F.min(F.when(F.col("rel") > 0, F.col("rank"))).alias("_minr"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), "doc_id")
    ideal = (
        rels.filter(F.col("rel") > 0)
        .withColumn("_i", F.row_number().over(w))
        .filter(F.col("_i") <= k)
        .withColumn("_c", F.col("rel") / F.log2(F.col("_i") + F.lit(1)))
        .groupBy("query_id")
        .agg(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("_i", "_c"))),
                F.lit(0.0),
                lambda acc, x: acc + x["_c"],
            ).alias("_idcg")
        )
    )
    return got.join(ideal, "query_id", "left").select(
        "query_id",
        "n_rel_ret",
        (F.col("n_rel_ret").cast("double") / F.lit(float(k))).alias("p_at_k"),
        F.coalesce(F.lit(1.0) / F.col("_minr"), F.lit(0.0)).alias("rr"),
        F.when(
            F.col("_idcg") > 0, F.col("_dcg") / F.col("_idcg")
        )
        .otherwise(F.lit(0.0))
        .alias("ndcg"),
    )
