"""Deduplication operators for large-scale document pipelines.

Five dedup families, each the Spark-idiomatic shape that survives 100 TB:

- exact: md5(normalized text) group — one shuffle on the hash key.
- MinHash + LSH: shingle → P permutation min-hashes → band buckets →
  bucket self-join. Work is linear in (docs × shingles × perms) and the
  join is output-sensitive (only docs sharing a bucket ever meet);
  the N² pair space is never materialized.
- SimHash: 32-bit sign-fingerprint + byte-block LSH for Hamming pairs.
- exact n-gram Jaccard: shingle-key self-join (output-sensitive: pairs
  with zero shared shingles never appear) — the brute-force baseline
  the approximate families are validated against.
- embedding cosine near-dup: BLAS gemm pass with a threshold (the
  all-pairs baseline; the IVF/LSH scale path lives in operators/ivf.py).

Hashing is md5-derived throughout (functions/texts.py) so the DuckDB
oracle reproduces every value exactly; no engine-private hash functions.

Reference parity note: the reference (renanGit/Vector-Search) has no
dedup surface at all — this module is part of the LLM-training-pipeline
extension mandated by the build brief (SURVEY.md §7 step 8).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vector_search_spark.functions import texts as T
from vector_search_spark.functions.fanout import fanout_small

__all__ = [
    "exact_dedup",
    "keep_canonical",
    "shingle_table",
    "minhash_signatures",
    "minhash_signatures_wide",
    "lsh_buckets_wide",
    "lsh_candidate_pairs",
    "pair_jaccard",
    "lsh_band_curve",
    "dup_rate_by_source",
    "minhash_lsh_pairs",
    "connected_components",
    "ngram_jaccard_pairs",
    "simhash_table",
    "simhash_near_dup",
    "embedding_near_dup",
    "semantic_dedup",
    "incremental_lsh_pairs",
    "incremental_lsh_pairs_shared",
    "shared_span_pairs",
    "excise_spans",
    "line_dedup",
]


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate grouping by md5 of normalized text.

    Returns (id, canonical_id, group_size): every row keeps its group's
    min-id as canonical. Per-hash stats come from a two-long-state
    ``groupBy(_h).agg(min, count)`` joined back on the hash — NOT a
    window over the hash key: an aggregate gets map-side partial
    aggregation and the join back is AQE-skew-splittable, so a
    boilerplate page duplicated 10^7x corpus-wide costs a partial agg
    plus a skew-split join, never a single 10^7-row window partition
    buffered in one task (the excise_spans / line_dedup skeleton).

    NULL policy: a NULL text normalizes to a NULL hash, coalesced to
    the sentinel '' (md5 strings are 32 hex chars, so the sentinel
    cannot collide) — NULL-text docs dedup AGAINST EACH OTHER, exactly
    as the former window grouped its NULL partition together;
    whitespace-only docs normalize to '' and share md5('') — a
    separate, also mutually-deduping group.
    """
    base = docs.select(
        F.col(id_col),
        F.coalesce(F.md5(T.norm_text(text_col)), F.lit("")).alias("_h"),
    )
    stats = base.groupBy("_h").agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return base.join(stats, "_h").select(
        F.col(id_col), F.col("canonical_id"), F.col("group_size")
    )


def keep_canonical(
    docs: DataFrame,
    groups: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The dedup pipeline's endpoint: drop every non-canonical member of
    a near-dup cluster, keep everything else. ``groups`` is
    connected_components output (node, canonical_id, group_size); docs
    absent from it were never in a near-dup pair and survive untouched.
    One broadcast-sized anti-join at typical dup rates (the losers list
    is |clustered docs| - |clusters| rows), or a plain shuffled anti-join
    when dup volume is itself huge — either way no full-corpus shuffle
    of the payload columns beyond the join."""
    losers = groups.filter(
        F.col("node") != F.col("canonical_id")
    ).select(F.col("node").alias(id_col))
    return docs.join(losers, id_col, "left_anti")


def shingle_explode(
    docs: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """RAW (id, shingle) occurrence rows — NOT deduplicated. Sufficient
    for DUPLICATE-INSENSITIVE consumers (the MinHash signature
    aggregation: min over repeated shingles == min over distinct
    shingles), which then skip :func:`shingle_table`'s distinct — a
    full shuffle of the shingle relation at any scale (r17
    optimization, guide §2.4). Consumers that COUNT shingles (exact
    Jaccard) must use :func:`shingle_table`.

    The tokenize + n-gram explode is the densest per-row work in the
    dedup family (~100x the scan bytes), so the doc relation is
    fanned out when the scan is too small to parallelize natively
    (identity at scale — functions/fanout.py)."""
    return (
        fanout_small(docs.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col), T.shingles(T.tokens(text_col), n).alias("_sh")
        )
        .select(id_col, F.explode("_sh").alias("shingle"))
    )


def shingle_table(
    docs: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct (id, shingle) pairs — the base relation for MinHash and
    exact Jaccard. Explode is linear in total tokens; the distinct is a
    shuffle on (id, shingle)."""
    return shingle_explode(docs, n, text_col, id_col).distinct()


def minhash_signatures(
    sh: DataFrame, num_perms: int, id_col: str = "doc_id"
) -> DataFrame:
    """MinHash signature rows (id, perm, minh).

    Permutation ``i`` is simulated by re-keying each shingle as
    ``md5('<i>:' || shingle)`` and taking the lexicographic min — the
    classic "min of a random permutation" with md5 as the permutation
    family. String-min of fixed-width hex is order-isomorphic to the
    integer min, and (unlike ``(a*h+b) mod p``) needs no 64-bit modular
    arithmetic, which keeps the DuckDB oracle exact.

    Physical shape: the P permutation hashes are P COLUMNS of one
    shingle-table pass aggregated with P ``min`` expressions — one
    map-side-combinable shuffle of |sh| narrow rows. (The naive layout,
    posexplode to |sh| x P rows then groupBy(id, perm), shuffles P
    times the data for the same answer.) The long (id, perm, minh)
    output shape is then a cheap per-doc explode.
    """
    wide = minhash_signatures_wide(sh, num_perms, id_col)
    return wide.select(
        id_col,
        F.posexplode(
            F.array(*[F.col(f"h{i}") for i in range(num_perms)])
        ).alias("perm", "minh"),
    )


def minhash_signatures_wide(
    sh: DataFrame, num_perms: int, id_col: str = "doc_id"
) -> DataFrame:
    """(id, h0..h{P-1}) one row per doc — the columnar signature form
    shared by minhash_signatures and lsh_buckets_wide."""
    return sh.groupBy(id_col).agg(
        *[
            F.min(
                F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))
            ).alias(f"h{i}")
            for i in range(num_perms)
        ]
    )


def lsh_buckets_wide(
    wide: DataFrame,
    rows_per_band: int,
    num_perms: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH banding of the wide signature form: (id, band, key), band
    keys md5 of the band's minhashes in perm order, built as row-local
    concat+md5 expressions — zero additional shuffle."""
    n_bands = num_perms // rows_per_band
    keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"h{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ],
                )
            )
            for b in range(n_bands)
        ]
    )
    return wide.select(
        id_col, F.posexplode(keys).alias("band", "key")
    )


def lsh_candidate_pairs(buckets: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct (a, b) with a < b sharing at least one band bucket.

    Equi-join on (band, key): only same-bucket docs ever pair, so the
    cost is sum over buckets of |bucket|² — output-sensitive, no N².
    A pathological mega-bucket (all-identical docs) is the one skew risk;
    AQE skew-join splitting handles it.
    """
    a = buckets.select(F.col(id_col).alias("a"), "band", "key")
    b = buckets.select(F.col(id_col).alias("b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def pair_jaccard(
    pairs: DataFrame, sh: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard for given candidate (a, b) pairs from the shingle
    table: |A∩B| via a two-hop equi-join restricted to candidates,
    |A∪B| = |A|+|B|-|A∩B|."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col(id_col).alias("a"), "shingle")
    sb = sh.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        pairs.join(sa, "a")
        .join(sb, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col(id_col).alias("a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "a")
        .join(nb, "b")
        .select(
            "a",
            "b",
            (
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


def lsh_band_curve(
    docs: DataFrame,
    shingle_n: int = 3,
    num_perms: int = 12,
    r_values: tuple[int, ...] = (2, 3, 4, 6),
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The LSH banding TUNING CURVE as one relational pass — for each
    rows-per-band setting r, how many candidate pairs does banding
    surface and how many survive exact-Jaccard verification at
    ``threshold``? Returns one row per r:
    (rows_per_band, n_bands, n_candidates, n_true_pairs).

    This is the dedup twin of queries_vector's ivf_recall_curve: a
    pipeline owner choosing r for a 100 TB dedup run needs the
    candidate-volume/precision trade-off MEASURED on their corpus
    (match probability 1-(1-s^r)^(P/r) — smaller r = more bands =
    more candidates = fewer LSH false negatives, but the verify join
    pays |candidates|). Running the sweep naively re-shingles and
    re-hashes the corpus per r; here the expensive relations are
    computed ONCE — one shingle pass, one wide-signature aggregation
    (P min-hash columns in a single shuffle), one exact-Jaccard verify
    over the DISTINCT union of candidates — and only the band-key
    explode (row-local md5 concats, zero extra shuffle) differs per r.

    All output columns are integers, so the driver's value-hash
    compare is float-free. Candidates whose verified Jaccard falls
    below threshold still count in n_candidates (they are the cost the
    curve exists to expose); a candidate pair sharing no shingle at
    all (possible only through md5 collisions) counts with Jaccard 0.
    """
    if not r_values:
        raise ValueError("r_values must be non-empty")
    for r in r_values:
        if num_perms % r:
            raise ValueError(
                f"rows_per_band {r} must divide num_perms {num_perms}"
            )
    sh = shingle_table(docs, shingle_n, text_col, id_col).localCheckpoint()
    wide = minhash_signatures_wide(sh, num_perms, id_col).localCheckpoint()
    per_r = []
    for r in r_values:
        buckets = lsh_buckets_wide(wide, r, num_perms, id_col)
        per_r.append(
            lsh_candidate_pairs(buckets, id_col).withColumn(
                "rows_per_band", F.lit(int(r))
            )
        )
    cands = per_r[0]
    for c in per_r[1:]:
        cands = cands.unionByName(c)
    # candidate-volume-sized eager pin: the union feeds BOTH the
    # distinct-union verify side and the final per-level left join —
    # left lazy, the whole 4-level bucket-join pipeline runs twice
    # (measured ~40% of the query's wall at sf0.1)
    cands = cands.localCheckpoint()
    # verify each DISTINCT pair once, then join the verdict back to
    # every banding level that surfaced it — the verify join is paid
    # once, not len(r_values) times. (Nesting note: candidates(r2) is
    # a subset of candidates(r1) only when every r2-aligned block
    # contains a full r1-aligned band — automatic when r1 | r2, and
    # true of every default level vs r=2 since any aligned block of
    # length >= 3 contains an aligned 2-band; r=3 vs r=4 are
    # INCOMPARABLE, so the distinct union is not simply the loosest
    # level's set.)
    verified = pair_jaccard(
        cands.select("a", "b").distinct(), sh, id_col
    )
    return (
        cands.join(verified, ["a", "b"], "left")
        .groupBy("rows_per_band")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.count(
                F.when(
                    F.coalesce(F.col("jaccard"), F.lit(0.0))
                    >= float(threshold),
                    1,
                )
            ).alias("n_true_pairs"),
        )
        .withColumn(
            "n_bands",
            (F.lit(int(num_perms)) / F.col("rows_per_band")).cast("int"),
        )
        .select("rows_per_band", "n_bands", "n_candidates", "n_true_pairs")
    )


def dup_rate_by_source(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-health dashboard row per source: how duplicated is each
    ingest feed? (n_docs, n_distinct md5-of-normalized-text, dup_rate,
    avg_chars). The first triage query a training-data pipeline runs
    when a crawl source goes bad — one grouped aggregation, map-side
    combinable, no joins; the hash is the same canonical form
    exact_dedup groups on, so the dashboard and the dedup pass agree
    on what "duplicate" means.
    """
    return (
        docs.select(
            F.col(group_col),
            F.md5(T.norm_text(text_col)).alias("_h"),
            F.length(text_col).alias("_len"),
        )
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("_h").alias("n_distinct"),
            F.avg(F.col("_len").cast("double")).alias("_avg_len"),
        )
        .select(
            group_col,
            "n_docs",
            "n_distinct",
            (
                F.round(
                    1.0 - F.col("n_distinct") / F.col("n_docs"), 6
                )
                + F.lit(0.0)
            ).alias("dup_rate"),
            (F.round("_avg_len", 4) + F.lit(0.0)).alias("avg_chars"),
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    shingle_n: int = 3,
    num_perms: int = 12,
    rows_per_band: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline → (a, b, jaccard ≥ threshold).

    Candidates come from LSH banding (P=num_perms, r=rows_per_band,
    b=P/r bands; match probability 1-(1-s^r)^b), then each candidate is
    *verified* with exact Jaccard so the output has no false positives —
    only LSH false negatives remain, governed by the band curve.

    The shingle table is EAGERLY materialized (localCheckpoint), not
    lazily cached: four downstream branches (signatures, both join
    sides of the intersection, the size table) otherwise race to
    compute it concurrently inside one action before the cache fills —
    measured ~3× the whole-pipeline wall at sf0.1.
    """
    sh = shingle_table(docs, shingle_n, text_col, id_col).localCheckpoint()
    wide = minhash_signatures_wide(sh, num_perms, id_col)
    buckets = lsh_buckets_wide(wide, rows_per_band, num_perms, id_col)
    cands = lsh_candidate_pairs(buckets, id_col)
    return pair_jaccard(cands, sh, id_col).filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    shingle_n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ threshold (the dedup ground truth).

    The shingle-key self-join only materializes pairs that share ≥1
    shingle; with a stopword-free shingle length (n≥3) this is far below
    N² on natural text. Hot shingles (boilerplate) are the skew risk:
    ``max_shingle_df`` drops shingles whose document frequency exceeds
    the cap BEFORE the self-join (one extra groupBy + semi-join on the
    shingle key), bounding the per-shingle join fan-out at df², so one
    boilerplate shingle can never produce an N² pair blow-up. The
    intersection counts then undercount by the dropped shingles — with
    |A|,|B| still exact, reported Jaccard is a lower bound, which only
    *drops* borderline pairs (standard practice in web-dedup pipelines).
    With the cap unset (or above every df) output is exactly the
    ground-truth Jaccard.
    """
    # eager: three branches reuse sh (see minhash_lsh_pairs)
    sh = shingle_table(docs, shingle_n, text_col, id_col).localCheckpoint()
    joinable = sh
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        joinable = sh.join(rare, "shingle", "left_semi")
    a = joinable.select(F.col(id_col).alias("a"), "shingle")
    b = joinable.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    na = sizes.select(F.col(id_col).alias("a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "a")
        .join(nb, "b")
        .select(
            "a",
            "b",
            (
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def cross_corpus_ngram_overlap(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    shingle_n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Train/eval decontamination: per TRAIN doc, its token n-gram
    overlap with any EVAL doc — the GPT-3-style contamination check
    every training pipeline runs before a model ever sees the corpus
    (the reference has no text surface; this extends the brief's
    LLM-pipeline mandate alongside :func:`ngram_jaccard_pairs`).

    Returns (doc_id, n_shared_ngrams, n_eval_docs, sample_ngram):
    distinct contaminating shingles, distinct eval docs hit, and the
    lexicographically first shared shingle as evidence. Filtering the
    corpus is then one left-anti join against this relation.

    Plan shape at 100 TB: both sides explode to distinct (id, shingle)
    and equi-join on the shingle key — the eval side is the small one
    (eval sets are thousands of docs, not billions), so the join
    broadcasts it; nothing is ever N². ``max_shingle_df`` (train-side
    document-frequency cap, same device as :func:`ngram_jaccard_pairs`)
    drops boilerplate shingles before the join, bounding per-shingle
    fan-out; dropped shingles only under-report contamination from
    boilerplate, which decontamination deliberately ignores anyway
    (long n defaults make this rare: 5-grams are near-unique).
    """
    tr = shingle_table(train_docs, shingle_n, text_col, id_col)
    if max_shingle_df is not None:
        rare = (
            tr.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        tr = tr.join(rare, "shingle", "left_semi")
    ev = shingle_table(eval_docs, shingle_n, text_col, id_col).select(
        F.col(id_col).alias("_eval_id"), "shingle"
    )
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy(id_col)
        .agg(
            F.countDistinct("shingle").alias("n_shared_ngrams"),
            F.countDistinct("_eval_id").alias("n_eval_docs"),
            F.min("shingle").alias("sample_ngram"),
        )
    )


def connected_components(
    pairs: DataFrame, max_iter: int = 30, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Connected components over near-dup pairs by min-label
    propagation: every node starts as its own label; each round a node
    takes the min of its and its neighbors' labels; fixpoint = min id
    of the component. Returns (node, canonical_id, group_size) for
    every node that appears in a pair.

    This is the canonicalization step of a dedup pipeline ("keep one
    doc per near-dup cluster"). Per message round: one join + one
    groupBy — O(E) shuffle, rounds bounded by component diameter
    (near-dup clusters are shallow; the 30-round cap is generous).

    Scheduling shape (the wall-clock cost at tiny data is sequential
    jobs, not rows): TWO message rounds plus ONE pointer-doubling
    short-circuit (lab <- lab(lab)) are fused into a single lazy block
    that is materialized (localCheckpoint) and convergence-probed
    (label sum — strictly decreasing until fixpoint, one tiny agg, no
    row-level compare) ONCE. Labels propagate distance ~4x per block,
    so blocks ~ log4(diameter) with half the actions of a
    probe-every-round loop; the min-label fixpoint is schedule-
    independent, so results are identical, at worst one extra lazy
    block past convergence.

    Labels are SEEDED with min(node, min neighbor) — the first message
    round folded into initialization as one groupBy over the edge list,
    which removes a full join+probe block from the loop; shallow
    near-dup clusters then converge in a single probed block.
    """
    e = pairs.select(F.col(a_col).alias("x"), F.col(b_col).alias("y"))
    und = e.unionByName(
        e.select(F.col("y").alias("x"), F.col("x").alias("y"))
    ).distinct()
    und = und.localCheckpoint()
    labels = (
        und.groupBy(F.col("x").alias("node"))
        .agg(F.min("y").alias("_nmin"))
        .select(
            "node", F.least(F.col("node"), F.col("_nmin")).alias("lab")
        )
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("lab")).first()[0]
    rounds = 0
    first_block = True
    while rounds < max_iter:
        # FIRST block = ONE message round, no pointer doubling (r18,
        # guide §1.2/§2.4): the seeded init (min of node and neighbors)
        # is ALREADY the fixpoint for the shallow star/clique clusters
        # near-dup pairs produce, so the typical run's first block is
        # pure CONFIRMATION — and one round is the minimal confirmation
        # (sum unchanged after a round ⟹ no label decreased ⟹ message
        # fixpoint ⟹ component-min labels, the docstring invariant).
        # The old 2-rounds+doubling first block spent two extra O(E)
        # join passes (and their scheduled stages) inside a block that
        # usually changes nothing. Deep components fall through to the
        # original 2+doubling blocks after the first probe; at worst
        # that is one extra probe+checkpoint pair on a deep graph, and
        # the fixpoint (hence the output) is schedule-independent.
        block = 1 if first_block else min(2, max_iter - rounds)
        upd = labels
        for _ in range(block):  # message rounds, fused lazily
            msgs = (
                und.join(upd, und["y"] == upd["node"])
                .groupBy(F.col("x").alias("node"))
                .agg(F.min("lab").alias("nlab"))
            )
            upd = upd.join(msgs, "node", "left").select(
                "node",
                F.least(
                    F.col("lab"), F.coalesce(F.col("nlab"), F.col("lab"))
                ).alias("lab"),
            )
            rounds += 1
        if not first_block:
            # one pointer-doubling short-circuit per block
            lmap = upd.select(
                F.col("node").alias("_n"), F.col("lab").alias("_l")
            )
            upd = upd.join(lmap, upd["lab"] == lmap["_n"], "left").select(
                "node",
                F.least(
                    F.col("lab"), F.coalesce(F.col("_l"), F.col("lab"))
                ).alias("lab"),
            )
        first_block = False
        labels = upd.localCheckpoint()
        cur_sum = labels.agg(F.sum("lab")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    sizes = labels.groupBy("lab").agg(F.count(F.lit(1)).alias("group_size"))
    return labels.join(sizes, "lab").select(
        F.col("node"),
        F.col("lab").alias("canonical_id"),
        "group_size",
    )


def simhash_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """32-bit SimHash per document (Charikar 2002): each token votes its
    hash bits (±count), fingerprint bit j = sign of the column sum.

    Bit extraction is ``floor(h / 2^j) mod 2`` — plain arithmetic, exact
    for h < 2^32 in float64, so the DuckDB oracle matches bit-for-bit
    (no engine-specific bitwise operators needed on the build side).

    The 32 per-bit vote sums are 32 aggregate COLUMNS of one grouped
    pass over (doc, token, cnt) — not an exploded (doc, j) relation —
    so there is a single map-side-combinable shuffle of |token| rows
    and the fingerprint assembly is a plain projection.
    """
    # tokenize + explode is compute-dense vs the scan bytes: fan the doc
    # relation out when the scan is too small to parallelize natively
    # (identity at scale — functions/fanout.py)
    toks = fanout_small(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(T.tokens(text_col)).alias("token")
    )
    tok_counts = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    withh = tok_counts.select(id_col, "cnt", T.h32("token").alias("h"))
    votes = [
        F.sum(
            F.col("cnt")
            * (
                2
                * (
                    F.floor(F.col("h") / F.lit(float(2**j))).cast("bigint")
                    % 2
                )
                - 1
            )
        ).alias(f"_s{j}")
        for j in range(32)
    ]
    g = withh.groupBy(id_col).agg(*votes)
    fingerprint = None
    for j in range(32):
        term = F.when(F.col(f"_s{j}") >= 0, F.lit(2**j)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return g.select(
        F.col(id_col), fingerprint.cast("bigint").alias("simhash")
    )


def simhash_near_dup(
    sh: DataFrame, max_hamming: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup pairs by SimHash: block on the 4 bytes of the 32-bit
    fingerprint (pigeonhole: Hamming ≤ 3 ⇒ at least one byte equal),
    then verify Hamming via xor+bit_count. Returns (a, b, hamming).

    The block join is the LSH step — pairs differing in every byte are
    never materialized. Semantics (documented, oracle-replicated):
    a pair is reported iff it shares ≥1 byte-block AND Hamming ≤ max.
    """
    # eager: the self-join reads blocks twice; without materialization
    # the (possibly expensive) fingerprint lineage runs twice
    blocks = sh.select(
        id_col,
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("blk"),
    ).withColumn(
        "bkey",
        F.floor(
            F.col("simhash") / F.pow(F.lit(2.0), F.col("blk") * 8)
        ).cast("bigint")
        % 256,
    ).localCheckpoint()
    a = blocks.select(
        F.col(id_col).alias("a"), F.col("simhash").alias("ha"), "blk", "bkey"
    )
    b = blocks.select(
        F.col(id_col).alias("b"), F.col("simhash").alias("hb"), "blk", "bkey"
    )
    return (
        a.join(b, ["blk", "bkey"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "ha", "hb")
        .distinct()
        .select(
            "a",
            "b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_near_dup(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
    nprobe: int = 2,
    max_broadcast_rows: int = 200_000,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (a < b, sim ≥ threshold).

    Two shapes:

    - ``centroids`` given (the SCALE path): IVF-cell blocking, the
      mirror of graph.knn_graph_blocked — every vector is routed to its
      ``nprobe`` nearest coarse cells, candidate pairs exist only
      within a shared cell (one side routed, one side home), scored
      per-cell with a normalized gemm inside applyInPandas. Work is
      Σ|cell|·|routed-to-cell|, never N², and nothing is ever collected
      to the driver or broadcast whole. Pairs whose members share no
      probed cell are the (tunable) false negatives, exactly as in any
      IVF-blocked similarity join.
    - ``centroids=None`` (exact baseline): broadcast the full
      normalized matrix, one BLAS pass over the partitions — the
      all-pairs ground truth, valid only while the set fits a
      broadcast (same constraint as any broadcast join).
    """
    import numpy as np
    import pandas as pd

    from vector_search_spark.functions.distance import as_double_array
    from vector_search_spark.operators.kmeans import _batch_vectors
    from vector_search_spark.operators.knn import _unit_rows

    if centroids is not None:
        from vector_search_spark.operators.graph import route_to_cells

        routed = route_to_cells(emb, centroids, nprobe, id_col, vec_col)

        def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame({"a": [], "b": [], "cos_sim": []}).astype(
                {"a": np.int64, "b": np.int64, "cos_sim": np.float64}
            )
            if not len(pdf):
                return empty
            home = pdf[pdf["probe_rank"] == 0]
            if not len(home):
                return empty
            S = np.vstack(pdf["v"].to_numpy())
            B = np.vstack(home["v"].to_numpy())
            sid = pdf["vec_id"].to_numpy(dtype=np.int64)
            bid = home["vec_id"].to_numpy(dtype=np.int64)
            C = _unit_rows(S) @ _unit_rows(B).T
            ii, jj = np.nonzero(
                (C >= threshold) & (sid[:, None] != bid[None, :])
            )
            a = np.minimum(sid[ii], bid[jj])
            b = np.maximum(sid[ii], bid[jj])
            return pd.DataFrame({"a": a, "b": b, "cos_sim": C[ii, jj]})

        scored = routed.groupBy("cell").applyInPandas(
            per_cell, "a long, b long, cos_sim double"
        )
        # a pair sharing several cells (or seen from both directions)
        # dedups on the key; max() guards against last-bit gemm drift
        # between different per-cell matrix shapes
        return scored.groupBy("a", "b").agg(F.max("cos_sim").alias("cos_sim"))

    n = emb.select(id_col).count()
    if n > max_broadcast_rows:
        raise ValueError(
            f"exact all-pairs path would broadcast {n} rows "
            f"(> max_broadcast_rows={max_broadcast_rows}); pass "
            "`centroids=` for the IVF-blocked scale path"
        )
    pdf = emb.select(
        F.col(id_col).alias("_id"), as_double_array(vec_col).alias("_v")
    ).toPandas()
    ids = pdf["_id"].to_numpy(dtype=np.int64)
    Mn = _unit_rows(np.vstack(pdf["_v"].to_numpy()).astype(np.float64))
    bc = emb.sparkSession.sparkContext.broadcast((ids, Mn))

    src = emb.select(
        F.col(id_col).alias("a"), as_double_array(vec_col).alias("_v")
    )

    def fn(batches):
        b_ids, b_Mn = bc.value
        for pdf_, A in _batch_vectors(batches):
            aid = pdf_["a"].to_numpy(dtype=np.int64)
            S = _unit_rows(A) @ b_Mn.T
            ii, jj = np.nonzero((S >= threshold) & (aid[:, None] < b_ids[None, :]))
            yield pd.DataFrame(
                {"a": aid[ii], "b": b_ids[jj], "cos_sim": S[ii, jj]}
            )

    return src.mapInPandas(fn, "a long, b long, cos_sim double")


# --------------------------------------------------------------------------
# Bloom-prefiltered membership (reference-corpus containment check)
# --------------------------------------------------------------------------


def _bloom_params(n: int, fpp: float) -> tuple[int, int]:
    """Standard Bloom sizing: m bits, k hashes for n items at fpp."""
    import math

    n = max(1, n)
    m_bits = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    m_bits = (m_bits + 63) // 64 * 64  # whole words
    k = max(1, round(m_bits / n * math.log(2)))
    return m_bits, k


def _hex_to_h1h2(hh) -> tuple:
    """Vectorized split of 32-hex-char md5 strings into two uint64s
    (Kirsch-Mitzenmacher double hashing). One C-level join + frombuffer;
    no per-row Python."""
    import numpy as np

    raw = bytes.fromhex("".join(hh))
    w = np.frombuffer(raw, dtype=">u8").reshape(-1, 2)
    h1 = w[:, 0].astype(np.uint64)
    h2 = (w[:, 1] | np.uint64(1)).astype(np.uint64)  # odd -> full-period
    return h1, h2


def _bloom_positions(h1, h2, k: int, m_bits: int):
    import numpy as np

    i = np.arange(k, dtype=np.uint64)[None, :]
    with np.errstate(over="ignore"):
        return (h1[:, None] + i * h2[:, None]) % np.uint64(m_bits)


def build_bloom(
    keys: DataFrame, n_items: int, fpp: float = 0.01, key_col: str = "_h"
):
    """Distributed Bloom-filter build over a key column (md5 hex
    strings): mapInPandas emits one partial bit array per batch, the
    driver ORs them — the same partial/combine shape as Lloyd's sums
    (treeAggregate semantics). Returns (bits uint64[], m_bits, k).

    Scale note: the filter is O(n_items) BITS regardless of row width —
    1e9 keys @1% fpp is ~1.2 GB, the point where production systems
    shard the filter by key range or raise fpp; same trade Spark's own
    runtime-filter bloom makes (spark.sql.optimizer.runtime.bloomFilter
    caps creation-side size). Collected state is bits, never keys.
    """
    import numpy as np
    import pandas as pd

    m_bits, k = _bloom_params(n_items, fpp)
    n_words = m_bits // 64

    def fn(batches):
        bits = np.zeros(n_words, dtype=np.uint64)
        any_rows = False
        for pdf in batches:
            if not len(pdf):
                continue
            any_rows = True
            h1, h2 = _hex_to_h1h2(pdf[key_col])
            pos = _bloom_positions(h1, h2, k, m_bits).ravel()
            np.bitwise_or.at(
                bits, (pos >> np.uint64(6)).astype(np.int64),
                np.uint64(1) << (pos & np.uint64(63)),
            )
        if any_rows:
            yield pd.DataFrame({"bits": [bits.tobytes()]})

    parts = keys.select(F.col(key_col)).mapInPandas(
        fn, "bits binary"
    ).collect()
    bits = np.zeros(n_words, dtype=np.uint64)
    for row in parts:
        bits |= np.frombuffer(row.bits, dtype=np.uint64)
    return bits, m_bits, k


def bloom_membership(
    candidates: DataFrame,
    reference: DataFrame,
    fpp: float = 0.01,
    text_col: str = "text",
    id_col: str = "doc_id",
    key_expr=None,
) -> DataFrame:
    """Which candidate docs' normalized text appears in a REFERENCE
    corpus — the membership probe behind incremental dedup ("have we
    already ingested this?") and blocklist filtering, at
    bits-per-reference-row cost instead of a full shuffle of both sides.

    Two stages, exact end-to-end:

    1. Bloom prefilter: build the filter over the reference's md5 keys
       (:func:`build_bloom`, broadcast bits), probe candidates with a
       vectorized mapInPandas pass — no false negatives, ~fpp false
       positives, and the big candidate side never shuffles.
    2. Exact verify: the surviving (tiny) slice semi-joins the reference
       keys, removing false positives — output EXACTLY equals the plain
       semi-join, which is what the oracle replays.

    Returns (id, n_ref_matches): matching candidates with the count of
    distinct reference docs sharing their key. ``key_expr`` overrides
    the membership key (a Column producing md5 hex — e.g. a token-prefix
    fingerprint for truncation-tolerant matching); default is
    md5(normalized full text).
    """
    import numpy as np

    if key_expr is None:
        key_expr = F.md5(T.norm_text(text_col))

    key = lambda df: df.select(  # noqa: E731
        F.col(id_col), key_expr.alias("_h")
    )
    ref_keys = key(reference)
    n_ref = ref_keys.count()
    bits, m_bits, k = build_bloom(ref_keys, n_ref, fpp)
    spark = candidates.sparkSession
    bc = spark.sparkContext.broadcast(bits)

    def probe(batches):
        bb = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            h1, h2 = _hex_to_h1h2(pdf["_h"])
            pos = _bloom_positions(h1, h2, k, m_bits)
            word = bb[(pos >> np.uint64(6)).astype(np.int64)]
            hit = ((word >> (pos & np.uint64(63))) & np.uint64(1)).astype(
                bool
            ).all(axis=1)
            if hit.any():
                yield pdf.loc[hit]

    cand_keys = key(candidates)
    maybe = cand_keys.mapInPandas(probe, f"{id_col} long, _h string")
    # exact verify: count distinct reference matches per surviving key
    ref_cnt = ref_keys.groupBy("_h").agg(
        F.count(F.lit(1)).alias("n_ref_matches")
    )
    return maybe.join(ref_cnt, "_h").select(id_col, "n_ref_matches")


def semantic_dedup(
    emb: DataFrame,
    centroids,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv 2303.09540): cluster the
    embedding space, then near-dedup WITHIN each cluster by cosine
    similarity — the semantic complement of the lexical MinHash/SimHash
    family (those catch copies; this catches paraphrases).

    Deterministic id-canonical variant: an item is dropped iff some
    LOWER-id item in the same cluster has cosine >= threshold (the
    paper keeps the member farthest from the centroid; lowest-id keeps
    the rule engine-reproducible — documented deviation).

    Scale shape (the paper's own): one argmin assignment pass, then one
    gemm per cluster inside applyInPandas — work is sum over clusters
    of |cluster|^2, never N^2, and cluster granularity is the knob that
    bounds it. Nothing is collected or broadcast beyond the K centroids.

    Returns (id_col, cluster_id, kept boolean) for every input row.
    """
    import numpy as np
    import pandas as pd

    from vector_search_spark.operators import kmeans
    from vector_search_spark.operators.knn import _unit_rows

    assigned = kmeans.assign(
        emb, centroids, id_col=id_col, vec_col=vec_col, with_vec=True
    )
    with_vec = assigned.select(id_col, "cluster_id", F.col("vec").alias("_v"))

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        Mn = _unit_rows(np.vstack(pdf["_v"].to_numpy()[order]).astype(np.float64))
        C = Mn @ Mn.T
        # dropped iff similar to any strictly-lower-id row (upper
        # triangle, column-wise any)
        dup = np.triu(C >= threshold, k=1).any(axis=0)
        return pd.DataFrame(
            {
                id_col: ids,
                "cluster_id": pdf["cluster_id"].to_numpy()[order],
                "kept": ~dup,
            }
        )

    return with_vec.groupBy("cluster_id").applyInPandas(
        per_cluster, f"{id_col} long, cluster_id int, kept boolean"
    )


def incremental_lsh_pairs(
    new_docs: DataFrame,
    corpus: DataFrame,
    shingle_n: int,
    num_perms: int,
    rows_per_band: int,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental-ingest near-dedup: candidate pairs between a NEW
    batch and the EXISTING corpus only (never corpus x corpus — that
    work was already paid when the corpus was built; re-doing it every
    ingest is the classic accidental-quadratic pipeline).

    Same MinHash+LSH machinery as minhash_lsh_pairs, but the band-bucket
    join is new x old: the new batch's buckets (small) broadcast into
    the corpus bucket table, so each ingest costs
    O(|batch| + matching buckets), independent of corpus size. Exact
    Jaccard verify on the union of both shingle tables.

    Returns (new_id, corpus_id, jaccard) with jaccard >= threshold.
    """
    sh_new = shingle_table(new_docs, shingle_n, text_col, id_col)
    sh_old = shingle_table(corpus, shingle_n, text_col, id_col)
    # An id present in BOTH sides is an UPDATED doc (the normal
    # incremental-ingest case): the new batch's version supersedes the
    # corpus row. Drop the superseded corpus shingles BEFORE bucketing
    # and verification — otherwise the doc pairs with itself in the
    # candidates and its double-counted shingles corrupt the exact
    # Jaccard of every pair it touches. Anti-join against the
    # batch-sized (broadcast) id set: cost scales with the batch.
    new_ids = sh_new.select(id_col).distinct()
    sh_old = sh_old.join(F.broadcast(new_ids), id_col, "left_anti")
    b_new = lsh_buckets_wide(
        minhash_signatures_wide(sh_new, num_perms, id_col),
        rows_per_band,
        num_perms,
        id_col,
    ).select(F.col(id_col).alias("new_id"), "band", "key")
    b_old = lsh_buckets_wide(
        minhash_signatures_wide(sh_old, num_perms, id_col),
        rows_per_band,
        num_perms,
        id_col,
    ).select(F.col(id_col).alias("corpus_id"), "band", "key")
    cand = (
        b_old.join(F.broadcast(b_new), ["band", "key"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    sh_all = sh_new.unionByName(sh_old)
    verified = pair_jaccard(
        cand.select(
            F.col("new_id").alias("a"), F.col("corpus_id").alias("b")
        ),
        sh_all,
        id_col,
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        F.col("a").alias("new_id"),
        F.col("b").alias("corpus_id"),
        "jaccard",
    )


def incremental_lsh_pairs_shared(
    docs: DataFrame,
    is_new,
    shingle_n: int,
    num_perms: int,
    rows_per_band: int,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """:func:`incremental_lsh_pairs` for the common case where batch and
    corpus live in ONE table split by a predicate (``is_new``: boolean
    Column over docs).

    The shingle table is materialized once (localCheckpoint): it feeds
    the signature aggregation AND three subtrees of the exact-Jaccard
    verify, and Spark re-derives a shared lazy subtree under every
    consumer (exchange reuse does not fire across these boundaries —
    verified on the physical plan). At bench scale the checkpoint is a
    small fixed cost (~0.4s at sf0.1, parity with the two-source form);
    at corpus scale re-shingling 5x is what it removes. The real
    per-ingest saving in production is persisting the CORPUS-side
    shingles/buckets as parquet artifacts across batches — then each
    ingest shingles only the batch.
    """
    flagged = docs.withColumn("_new", is_new)
    # the shingle table feeds the signature agg AND three subtrees of
    # the exact-Jaccard verify; materialize it once
    sh = shingle_table(flagged, shingle_n, text_col, id_col).localCheckpoint()
    buckets = lsh_buckets_wide(
        minhash_signatures_wide(sh, num_perms, id_col),
        rows_per_band,
        num_perms,
        id_col,
    ).join(flagged.select(id_col, "_new"), id_col)
    b_new = buckets.filter(F.col("_new")).select(
        F.col(id_col).alias("new_id"), "band", "key"
    )
    b_old = buckets.filter(~F.col("_new")).select(
        F.col(id_col).alias("corpus_id"), "band", "key"
    )
    cand = (
        b_old.join(F.broadcast(b_new), ["band", "key"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    verified = pair_jaccard(
        cand.select(
            F.col("new_id").alias("a"), F.col("corpus_id").alias("b")
        ),
        sh,
        id_col,
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        F.col("a").alias("new_id"),
        F.col("b").alias("corpus_id"),
        "jaccard",
    )


def shared_span_pairs(
    docs: DataFrame,
    shingle_n: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document shared-SPAN detection (the MOSS shape: Schleimer
    et al., SIGMOD 2003 §4): pairs of documents sharing at least
    ``min_shared`` winnowing fingerprints, with the shared count.

    Where MinHash/SimHash answer "are these documents near-duplicates
    as wholes", this answers "do they share verbatim PASSAGES" — the
    boilerplate/quotation/template signal a training-data pipeline
    wants before span-level scrubbing. Same relational shape as the
    n-gram-Jaccard ground truth: fingerprint-key self-join (only pairs
    sharing >=1 fingerprint ever materialize), count per pair, floor.

    ``max_fp_df`` drops fingerprints whose document frequency exceeds
    the cap BEFORE the self-join (sitewide boilerplate is exactly the
    hot-key skew risk — one fingerprint in d documents fans out d^2
    pairs); reported counts then undercount by the dropped
    fingerprints, dropping only boilerplate-borne pairs, never
    distinctive shared passages. Returns (a, b, shared) with a < b.
    """
    from vector_search_spark.operators import textstats

    fp = textstats.winnow_fingerprints(
        docs, shingle_n=shingle_n, window=window,
        text_col=text_col, id_col=id_col,
    )
    if max_fp_df is not None:
        rare = (
            fp.groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_fp_df)
            .select("fingerprint")
        )
        fp = fp.join(rare, "fingerprint", "left_semi")
    a = fp.select(F.col(id_col).alias("a"), "fingerprint")
    b = fp.select(F.col(id_col).alias("b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


# Position-key stride for the keep-first rule: occurrence key =
# doc_id * 2^20 + pos. pos is a within-document token/line index
# (< 2^20 = ~1M — far beyond any trainable document), so keys order
# lexicographically by (doc_id, pos) and the global first occurrence
# is a plain MIN — no cross-engine struct-comparison semantics needed.
# The assumption is ENFORCED in-plan where _key is built (pos >=
# stride or a negative id raises rather than silently colliding keys
# across documents — doc d pos 2^20 would equal doc d+1 pos 0, keeping
# or excising the WRONG occurrence with no signal).
EXCISE_POS_STRIDE = 1 << 20


def _keep_first_key(id_col: str, ctx: str) -> Column:
    """Guarded occurrence key ``id * EXCISE_POS_STRIDE + pos`` for the
    keep-first-by-(id, pos) rule shared by :func:`excise_spans` and
    :func:`line_dedup`. Raises IN-PLAN (evaluated for every row, like
    prefix_sum_offsets' NULL-id guard) when the encoding's
    collision-freedom precondition breaks: pos >= stride, id < 0, or a
    NULL id — a NULL id would slip through the comparisons (NULL < 0
    is NULL, not false), yield a NULL key, and silently corrupt the
    keep-first MIN downstream. A NULL ``pos`` (line_dedup's
    NULL-text marker row, whose id is non-null) stays allowed: its
    NULL condition falls to the otherwise-branch, and the marker row
    never consults its key."""
    bad = (
        F.col(id_col).isNull()
        | (F.col(id_col) < 0)
        | (F.col("pos") >= F.lit(int(EXCISE_POS_STRIDE)))
    )
    return F.when(
        bad,
        F.raise_error(
            F.lit(
                f"{ctx}: keep-first key needs 0 <= pos < "
                f"{EXCISE_POS_STRIDE} and a non-NULL {id_col} >= 0 — "
                "the key encoding would collide or go NULL across "
                "documents"
            )
        ).cast("long"),
    ).otherwise(
        F.col(id_col) * F.lit(int(EXCISE_POS_STRIDE)) + F.col("pos")
    )


def excise_spans(
    docs: DataFrame,
    span_n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Duplicate-SPAN removal — the actionable half of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better",
    ExactSubstr): where :func:`shared_span_pairs` only DETECTS shared
    passages, this rewrites the corpus with them excised.

    Rule: hash every ``span_n``-token shingle occurrence; a shingle
    occurring >= 2 times corpus-wide (across OR within documents) is a
    duplicated span; its FIRST occurrence (smallest (doc_id, pos)) is
    kept, and the token range [pos, pos+span_n) of every other
    occurrence is removed. A token survives iff no removed span covers
    it — overlapping removals union position-wise, so a long duplicated
    passage (a run of duplicated shingles) is excised whole from every
    non-first document and kept intact in the first.

    Fully distributed, shuffle shapes only: tokenize once
    (localCheckpoint — the artifact boundary; both the token-position
    and shingle-occurrence relations consume it), one groupBy(hash)
    whose per-key state is two longs (count + min key — hot boilerplate
    shingles cost a partial-agg, never a fan-out), one join back on
    hash (linear in occurrences), a bounded explode (span_n rows per
    removed occurrence), and one anti-join on (doc_id, pos). Per-doc
    reassembly sorts each document's own kept tokens (group state
    bounded by document length, the module-wide assumption).

    Returns one row per input document:
    ``(id_col, n_orig bigint, n_kept bigint, n_removed bigint,
    clean_text string)`` — ``clean_text`` is the surviving tokens in
    position order, space-joined ('' when everything was removed, also
    for zero-token docs). The rewrite is over the TOKENIZED stream
    (lowercased, whitespace-normalized), the form a training pipeline
    feeds downstream; conservation: n_kept + n_removed == n_orig.

    Documents shorter than ``span_n`` tokens emit no shingles and are
    never excised. A NULL-text document is preserved with NULL token
    accounting (n_orig/n_removed NULL, n_kept 0, clean_text '') — the
    NULLs are the upstream signal; conservation applies to non-NULL
    documents. The keep-first key encoding's preconditions
    (token position < 2^20, non-negative id) raise in-plan via
    :func:`_keep_first_key` — never a silent cross-document collision.
    """
    from vector_search_spark.functions import texts as T

    if span_n < 1:
        raise ValueError(f"span_n must be >= 1, got {span_n}")
    tk = docs.select(
        F.col(id_col), T.tokens(text_col).alias("_t")
    ).localCheckpoint()
    toks = tk.select(
        id_col, F.posexplode(F.col("_t")).alias("pos", "tk")
    )
    occ = tk.select(
        id_col,
        F.posexplode(T.shingles(F.col("_t"), span_n)).alias("pos", "_sh"),
    ).select(
        id_col,
        "pos",
        # FULL md5, not the 60-bit integer prefix: this is EXACT
        # surgery (exact_dedup's precedent) — at 10^10+ distinct
        # shingles a 60-bit birthday collision would merge two
        # different spans and excise innocent text; integer h64 stays
        # reserved for arithmetic (winnowing mins, band buckets).
        F.md5("_sh").alias("_h"),
        _keep_first_key(id_col, "excise_spans").alias("_key"),
    )
    dup = (
        occ.groupBy("_h")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.min("_key").alias("_first"),
        )
        .filter(F.col("_c") >= 2)
        .select("_h", "_first")
    )
    rm = (
        occ.join(dup, "_h")
        .filter(F.col("_key") != F.col("_first"))
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(span_n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    kept = toks.join(rm, [id_col, "pos"], "left_anti")
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("tk")))),
        lambda x: x["tk"],
    )
    kept_agg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.concat_ws(" ", ordered).alias("clean_text"),
    )
    orig = tk.select(
        id_col, F.size("_t").cast("long").alias("n_orig")
    )
    return orig.join(kept_agg, id_col, "left").select(
        id_col,
        "n_orig",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        (F.col("n_orig") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-wide LINE-level exact dedup, keep-first — the
    C4/FineWeb/Dolma repeated-line filter and the line-structured
    sibling of :func:`excise_spans` (same keep-first-by-(id, pos)
    skeleton; lines instead of token shingles): boilerplate headers,
    cookie banners and license footers are LINE-structured, so
    span_n-token shingles miss short repeated lines entirely.

    Rule: split each document on ``\\n``; a line occurring >= 2 times
    corpus-wide (across or within documents) keeps only its FIRST
    occurrence (smallest (id, line_index), via the guarded
    ``id * 2^20 + index`` key — :func:`_keep_first_key` raises in-plan
    on >= 2^20 lines or a negative id). Lines shorter than
    ``min_chars`` characters are ALWAYS kept (default 1 exempts empty
    lines — deduping paragraph breaks would destroy document structure
    for no dedup value; raise it to exempt "the usual short lines").

    Fully distributed, shuffle shapes only: one posexplode, one
    groupBy(line-hash) whose per-key state is two longs (count + min
    key — a million-fold repeated banner costs a map-side partial agg,
    never a fan-out), one hash join back (both sides partition on the
    hash, so the split subtree feeds one exchange, reused), and one
    per-document reassembly groupBy (group state bounded by document
    line count, the module-wide assumption).

    Returns one row per input document: ``(id_col, n_lines bigint,
    n_kept bigint, n_removed bigint, clean_text string)`` —
    ``clean_text`` re-joins the kept lines with ``\\n`` in original
    order ('' when everything was removed). Conservation:
    n_kept + n_removed == n_lines; n_lines == the split's length
    (trailing/leading/empty lines included). A NULL-text document is
    PRESERVED as ``(0, 0, 0, NULL clean_text)`` — never silently
    dropped (posexplode_outer; the NULL clean_text is the upstream
    signal). Lines are ``\\n``-split
    verbatim: CRLF corpora should normalize ``\\r`` upstream, else the
    trailing ``\\r`` rides the line into the hash (two visually equal
    lines with different endings are different lines — deliberate:
    byte-level surgery must not canonicalize what it re-emits).
    """
    if min_chars < 0:
        raise ValueError(f"min_chars must be >= 0, got {min_chars}")
    # The split relation feeds two consumers whose subtrees diverge
    # (the dup side filters _elig before its exchange, so ReuseExchange
    # can't collapse them) — localCheckpoint is the artifact boundary,
    # exactly excise_spans' tk: one source scan + one split, ever.
    lx = docs.select(
        F.col(id_col), F.split(F.col(text_col), "\n").alias("_l")
    ).localCheckpoint()
    # posexplode_OUTER: a NULL-text doc has a NULL line array, and the
    # inner explode would DROP its row entirely — silent row loss in a
    # corpus-rewriting pass (the module discipline). It surfaces
    # instead as one NULL-line row -> n_lines 0, clean_text NULL.
    occ = lx.select(
        F.col(id_col),
        F.posexplode_outer(F.col("_l")).alias("pos", "line"),
    ).select(
        id_col,
        "pos",
        "line",
        # full md5 group identity, same rationale as excise_spans
        F.md5("line").alias("_h"),
        _keep_first_key(id_col, "line_dedup").alias("_key"),
        (F.length("line") >= min_chars).alias("_elig"),
    )
    # Two-long state per distinct line; eligibility is a function of
    # the line text, so an ineligible line can never share a hash
    # group with an eligible one — the left join below misses exactly
    # the always-kept lines.
    dup = (
        occ.filter(F.col("_elig"))
        .groupBy("_h")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.min("_key").alias("_first"),
        )
    )
    flagged = occ.join(dup, "_h", "left").select(
        id_col,
        "pos",
        "line",
        F.when(F.col("line").isNull(), F.lit(False))
        .otherwise(
            (~F.col("_elig"))
            | (F.col("_c") == 1)
            | (F.col("_key") == F.col("_first"))
        )
        .alias("_keep"),
    )
    ordered = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("_keep"), F.struct(F.col("pos"), F.col("line"))
                )
            )
        ),
        lambda x: x["line"],
    )
    # count("line"), not count(*): the NULL-line marker row of a
    # NULL-text doc is not a line; such docs surface (0, 0, 0, NULL).
    return flagged.groupBy(id_col).agg(
        F.count("line").cast("long").alias("n_lines"),
        F.sum(F.col("_keep").cast("int")).cast("long").alias("n_kept"),
        (F.count("line") - F.sum(F.col("_keep").cast("int")))
        .cast("long")
        .alias("n_removed"),
        F.when(F.count("line") == 0, F.lit(None))
        .otherwise(F.concat_ws("\n", ordered))
        .alias("clean_text"),
    )


# --------------------------------------------------------------------------
# Deletion-list purge (right-to-be-forgotten / opt-out, round 13)
# --------------------------------------------------------------------------


def purge_docs(
    docs: DataFrame,
    deletions: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus purge by deletion list — the right-to-be-forgotten /
    opt-out endpoint every production training-data pipeline carries:
    drop every document whose id appears in ``deletions`` and return
    the kept corpus, schema unchanged.

    One anti-join on the id key: the corpus shuffles (or, when the
    deletion list is small enough for AQE to demote the join, streams
    map-side against a broadcast hash set) and nothing else moves —
    cost is one corpus pass regardless of list size. No broadcast
    HINT: a legal deletion backlog can be millions of ids, and the
    optimizer's size-based demotion is the right call per batch.

    NULL policy: a NULL id in ``deletions`` never equi-matches and is
    inert (it cannot name a document); a NULL-id document row likewise
    never matches and is always KEPT — purge only removes rows
    positively named by the list. Callers auditing list hygiene pair
    this with :func:`purge_missing`; conservation accounting
    (n_purged + n_kept == n_total, per group) is
    :func:`purge_accounting` on the SAME join semantics.
    """
    return docs.join(
        deletions.select(F.col(id_col)).distinct(), id_col, "left_anti"
    )


def purge_missing(
    docs: DataFrame,
    deletions: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deletion-list hygiene audit: the ids in ``deletions`` that name
    NO document in ``docs`` (already purged by an earlier batch,
    stale, or mistyped). Production deletion lists are append-only
    logs replayed against a moving corpus, so a non-empty result is
    normal — but it must be REPORTED, not silently swallowed, for the
    purge run to be attestable. Anti-join with the sides of
    :func:`purge_docs` swapped; deletion-list-sized output."""
    return (
        deletions.select(F.col(id_col))
        .distinct()
        .join(docs.select(F.col(id_col)), id_col, "left_anti")
    )


def purge_accounting(
    docs: DataFrame,
    deletions: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group conservation accounting for a purge run — the
    attestation artifact filed alongside the purged corpus: for each
    ``group_col`` value, how many documents existed, how many the
    deletion list removed, how many remain, and a membership checksum
    over the kept ids.

    Returns ``(group_col, n_total, n_purged, n_kept, kept_id_sum)``
    (all counts BIGINT; ``kept_id_sum`` = sum of kept ids — a
    value-level witness that the kept SET, not just its size, is
    right). ``n_purged + n_kept == n_total`` holds per row by
    construction (each doc is flagged exactly once: the deletion list
    is ``distinct()``-ed before the membership join, so duplicate
    list entries cannot double-flag a row).

    One corpus scan: a LEFT join marks membership (same equi-join key
    and NULL semantics as :func:`purge_docs` — a flagged row here is
    exactly a dropped row there), then one map-side-combinable
    groupBy rolls up. Group-count-sized output.
    """
    dels = (
        deletions.select(F.col(id_col))
        .distinct()
        .withColumn("_purged", F.lit(1))
    )
    flagged = docs.select(F.col(group_col), F.col(id_col)).join(
        dels, id_col, "left"
    )
    purged = F.coalesce(F.col("_purged"), F.lit(0))
    return flagged.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(purged).cast("long").alias("n_purged"),
        F.sum(F.lit(1) - purged).cast("long").alias("n_kept"),
        F.sum(
            F.when(purged == 0, F.col(id_col)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("kept_id_sum"),
    )
