"""Property-based checks (hypothesis): the Catalyst distance kernels
must agree with numpy on arbitrary inputs, and metric axioms must hold.

The reference asserts these properties on hand-picked cases
(py/test_hnsw.py:384-447 edge cases, :395-407 identical-vector zero);
hypothesis generalizes them to generated data. All examples for a
property are batched into ONE DataFrame so each property costs one
Spark job, not one per example."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from vector_search_spark.functions import distance as D

finite = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


def _vec_pairs(draw, max_dim=16, max_pairs=8):
    dim = draw(st.integers(1, max_dim))
    n = draw(st.integers(1, max_pairs))
    pairs = draw(
        st.lists(
            st.tuples(
                st.lists(finite, min_size=dim, max_size=dim),
                st.lists(finite, min_size=dim, max_size=dim),
            ),
            min_size=n,
            max_size=n,
        )
    )
    return pairs


@pytest.fixture(scope="module")
def session(spark):
    return spark


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_l2_matches_numpy_and_axioms(session, data):
    pairs = _vec_pairs(data.draw)
    df = session.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i long, a array<double>, b array<double>",
    )
    rows = df.select(
        "i",
        D.l2_sqr("a", "b").alias("ab"),
        D.l2_sqr("b", "a").alias("ba"),
        D.l2_sqr("a", "a").alias("aa"),
    ).collect()
    for r, (a, b) in zip(sorted(rows, key=lambda r: r.i), pairs):
        want = float(((np.array(a) - np.array(b)) ** 2).sum())
        assert math.isclose(r.ab, want, rel_tol=1e-9, abs_tol=1e-9)
        assert r.ab == r.ba  # symmetry
        assert r.aa == 0.0  # identity
        assert r.ab >= 0.0  # non-negativity


def _check_dot_and_cosine(session, pairs):
    """``D.dot`` against the exactly rounded sum of the products
    (``math.fsum``), within the forward-error bound of an n-term
    sequential sum, n * 2**-53 * sum(|a_i * b_i|), plus a tiny floor.
    numpy's ``a @ b`` is no reference here: its summation order loses
    the small terms under cancellation."""
    df = session.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i long, a array<double>, b array<double>",
    )
    rows = df.select(
        "i",
        D.dot("a", "b").alias("d"),
        D.cosine_distance("a", "b").alias("c"),
    ).collect()
    for r, (a, b) in zip(sorted(rows, key=lambda r: r.i), pairs):
        exact = math.fsum(x * y for x, y in zip(a, b))
        bound = len(a) * 2.0**-53 * math.fsum(abs(x * y) for x, y in zip(a, b))
        assert abs(r.d - exact) <= bound + 1e-300
        na, nb = np.array(a), np.array(b)
        denom = float(np.linalg.norm(na) * np.linalg.norm(nb))
        if denom > 1e-9:
            want_c = 1.0 - exact / denom
            assert math.isclose(r.c, want_c, rel_tol=1e-6, abs_tol=1e-6)
        assert -1e-9 <= r.c <= 2.0 + 1e-9  # cosine distance range


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_dot_and_cosine_match_numpy(session, data):
    _check_dot_and_cosine(session, _vec_pairs(data.draw))


def test_dot_matches_the_exact_sum_under_cancellation(session):
    """A recorded hypothesis pair: the ±1e12 products cancel, leaving
    17 * 2**-24 ≈ 1.01e-6. The sequential fold keeps it; numpy's
    ``a @ b`` returns 0.0, which the old numpy-referenced check (fixed
    abs_tol 1e-6) rejected."""
    a = [0.0, 999999.0, -999999.0, 0.0, 2.0**-24, 0.0]
    b = [0.0, -1e6, -1e6, 0.0, 17.0, 0.0]
    _check_dot_and_cosine(session, [(a, b)])


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 2**31 - 1),
    n_edges=st.integers(3, 40),
    m=st.integers(1, 5),
)
def test_symmetrize_and_cap_invariants(session, seed, n_edges, m):
    """Random directed weighted edges: after symmetrize_and_cap,
    (a) out-degree <= m everywhere, (b) every kept edge's dist is the
    MIN over the input multiset for that (src,dst) in either direction,
    (c) kept edges are the rank-<=m smallest per src."""
    from vector_search_spark.operators.graph import symmetrize_and_cap

    rng = np.random.default_rng(seed)
    rows = [
        (int(rng.integers(0, 8)), int(rng.integers(0, 8)),
         float(rng.uniform(0, 10)))
        for _ in range(n_edges)
    ]
    rows = [(s, d, x) for s, d, x in rows if s != d]
    if not rows:
        return
    df = session.createDataFrame(rows, "src long, dst long, dist double")
    got = symmetrize_and_cap(df, m=m).collect()
    # expected: undirected min-dist per pair, rank<=m per src
    best: dict[tuple[int, int], float] = {}
    for s, d, x in rows:
        for a, b in ((s, d), (d, s)):
            best[(a, b)] = min(best.get((a, b), float("inf")), x)
    per_src: dict[int, list] = {}
    for (a, b), x in best.items():
        per_src.setdefault(a, []).append((x, b))
    want = set()
    for a, cands in per_src.items():
        for x, b in sorted(cands)[:m]:
            want.add((a, b, round(x, 9)))
    assert {(r.src, r.dst, round(r.dist, 9)) for r in got} == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seed=st.integers(0, 2**31 - 1), n=st.integers(4, 24))
def test_select_neighbors_heuristic_matches_sequential_model(session, seed, n):
    """The salted-bucket pandas implementation must equal a direct
    sequential model of the paper's Algorithm 4 on random candidates."""
    from vector_search_spark.operators.graph import select_neighbors_heuristic

    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, 3))
    pts = session.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    src = 0
    cand_ids = list(range(1, n))
    d_to_src = {j: float(((X[j] - X[src]) ** 2).sum()) for j in cand_ids}
    cand = session.createDataFrame(
        [(src, j, d_to_src[j]) for j in cand_ids],
        "src long, dst long, dist double",
    )
    m = 3
    got = sorted(
        r.dst for r in select_neighbors_heuristic(cand, pts, m=m).collect()
    )
    admitted: list[int] = []
    for j in sorted(cand_ids, key=lambda j: (d_to_src[j], j)):
        if len(admitted) >= m:
            break
        if all(
            float(((X[j] - X[a]) ** 2).sum()) >= d_to_src[j]
            for a in admitted
        ):
            admitted.append(j)
    assert got == sorted(admitted)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 2**31 - 1),
    n_docs=st.integers(1, 6),
    dim=st.sampled_from([4, 16, 32]),
)
def test_hashing_embed_matches_python_model(session, seed, n_docs, dim):
    """The Catalyst hashing embedder must equal a direct python model:
    bucket = md5-h32(token) % dim, sign from the next hash bit, vector =
    per-bucket vote sums over token occurrences."""
    import hashlib

    from vector_search_spark.operators import textstats

    rng = np.random.default_rng(seed)
    vocab = ["alpha", "beta", "gamma", "delta", "Qx", "z9"]
    docs = [
        (i, " ".join(rng.choice(vocab, size=rng.integers(1, 12))))
        for i in range(n_docs)
    ]
    df = session.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: list(r.vec)
        for r in textstats.hashing_embed(df, dim=dim).collect()
    }

    def h32(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)

    for i, text in docs:
        want = [0.0] * dim
        for tok in text.lower().split():
            h = h32(tok)
            want[h % dim] += 1.0 if (h // dim) % 2 == 0 else -1.0
        assert got[i] == want, (i, text)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 2**31 - 1),
    n=st.integers(5, 40),
    k=st.integers(1, 12),
)
def test_topk_invariants_random_data(session, seed, n, k):
    """Top-k over random vectors: dense ranks 1..min(k,n), ascending
    distances, and rank-1 = self when the query is in the base set."""
    from vector_search_spark.operators import knn

    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, 4))
    df = session.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    res = knn.brute_force_knn(df.limit(3), df, k=k).collect()
    by_q: dict[int, list] = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, min(k, n) + 1))
        dists = [r.dist for r in rows]
        assert dists == sorted(dists)
        assert rows[0].vec_id == q and rows[0].dist == 0.0


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seed=st.integers(0, 2**31 - 1), n=st.integers(2, 24))
@pytest.mark.slow
def test_bq_packing_and_hamming_match_numpy_model(session, seed, n):
    """Packed words and Hamming distances must equal the independent
    numpy bit model for random vectors (incl. exact zeros, which must
    NOT set bits: strict > 0)."""
    import numpy as np

    from vector_search_spark.operators import bq

    rng = np.random.default_rng(seed)
    X = rng.standard_normal((n, 64))
    X[rng.random((n, 64)) < 0.1] = 0.0  # sprinkle exact zeros
    df = session.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.vec_id: list(r.bits)
        for r in bq.encode_bits(df, dim=64).collect()
    }
    # float32 storage can flip signs of tiny values -> model on float32
    B = (X.astype(np.float32) > 0).astype(np.uint64)
    pow2 = 1 << np.arange(32, dtype=np.uint64)
    words = np.stack(
        [(B[:, :32] * pow2).sum(axis=1), (B[:, 32:] * pow2).sum(axis=1)],
        axis=1,
    )
    for i in range(n):
        assert got[i] == [int(words[i, 0]), int(words[i, 1])]
    # Hamming via the operator == popcount of the numpy model
    qb = bq.encode_bits(df, dim=64).select(
        df.vec_id.alias("query_id").cast("long").alias("query_id"), "bits"
    )
    ham = {
        (r.query_id, r.vec_id): r.hamming
        for r in bq.hamming_topk(
            qb, bq.encode_bits(df, dim=64), n_words=2, k=n
        ).collect()
    }
    for i in range(n):
        for j in range(n):
            expect = int(
                bin(int(words[i, 0]) ^ int(words[j, 0])).count("1")
                + bin(int(words[i, 1]) ^ int(words[j, 1])).count("1")
            )
            assert ham[(i, j)] == expect


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 2**31 - 1),
    keys=st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=40),
)
@pytest.mark.slow
def test_cms_guarantee_random_streams(session, keys, seed):
    """For ANY multiset, every estimate >= its true count (the CMS
    one-sided guarantee) — with a deliberately tiny width so collisions
    actually occur and the inequality is non-trivial."""
    from collections import Counter

    from vector_search_spark.operators import sketch as cms

    items = session.createDataFrame([(k,) for k in keys], "g string")
    sk = cms.cms_build(items, "g", depth=2, width=4)
    probes = session.createDataFrame(
        [(k,) for k in set(keys)], "g string"
    )
    est = {
        r.g: r.cms_est
        for r in cms.cms_estimate(sk, probes, "g", depth=2, width=4).collect()
    }
    truth = Counter(keys)
    for k, t in truth.items():
        assert est[k] >= t, (k, est[k], t)
        assert est[k] <= len(keys)  # can never exceed the stream size


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 2**31 - 1),
    dim=st.sampled_from([4, 8, 16, 32]),
)
def test_random_rotation_is_orthogonal_and_isometric(session, seed, dim):
    """bq.random_rotation properties for arbitrary (dim, seed): exact
    orthogonality (Q Q^T = I), determinism, and numpy-level isometry —
    the invariants that make the rotated re-rank exact."""
    import numpy as np

    from vector_search_spark.operators import bq

    Q = bq.random_rotation(dim, seed)
    assert Q.shape == (dim, dim)
    assert np.allclose(Q @ Q.T, np.eye(dim), atol=1e-9)
    assert np.allclose(Q, bq.random_rotation(dim, seed))
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(6, dim))
    G0 = ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    XR = X @ Q.T
    G1 = ((XR[:, None, :] - XR[None, :, :]) ** 2).sum(-1)
    assert np.allclose(G0, G1, atol=1e-8)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 2**31 - 1),
    n_docs=st.integers(6, 18),
)
@pytest.mark.slow
def test_lsh_band_curve_containment_random_corpora(session, seed, n_docs):
    """The provable band-curve containment chains (r1 | r2 =>
    candidates(r2) ⊆ candidates(r1), plus r=2 dominance at P=12) must
    hold on ARBITRARY corpora, not just the oracle fixture — this is
    the property the round-7 review showed is NOT total (r=3 vs r=4
    are incomparable), so the chains asserted here are exactly the
    provable ones."""
    import random

    from vector_search_spark.operators import dedup

    rnd_ = random.Random(seed)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    rows = []
    for i in range(n_docs):
        base = [rnd_.choice(vocab) for _ in range(rnd_.randint(4, 12))]
        rows.append((i, " ".join(base)))
        if rnd_.random() < 0.4:  # planted near-dup
            j = len(rows)
            mut = list(base)
            if mut:
                mut[rnd_.randrange(len(mut))] = rnd_.choice(vocab)
            rows.append((1000 + j, " ".join(mut)))
    docs = session.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.rows_per_band: r.n_candidates
        for r in dedup.lsh_band_curve(
            docs, shingle_n=2, num_perms=12, r_values=(2, 3, 4, 6)
        ).collect()
    }
    if not got:  # degenerate corpus: no candidates anywhere — fine
        return
    c = {r: got.get(r, 0) for r in (2, 3, 4, 6)}
    for hi, lo in [(2, 3), (2, 4), (2, 6), (3, 6), (4, 6)]:
        assert c[hi] >= c[lo], (seed, c)


# --------------------------------------------------------------------------
# Mixture-construction invariants (round 9): waterfill conservation /
# clipping, temperature-weight normalization / monotonicity, and
# materialization nestedness. Small generated corpora — one operator
# call is one Spark job, so examples are few and tiny.
# --------------------------------------------------------------------------


def _mix_docs(session, groups):
    """groups: list of (name, [n_tokens per doc]) -> documents frame."""
    rows = []
    i = 0
    for g, sizes in groups:
        for n in sizes:
            rows.append((i, g, "w " * n))
            i += 1
    return session.createDataFrame(rows, "doc_id long, lang string, text string")


_group_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c", "d", "e", "f"]),
        st.lists(st.integers(1, 20), min_size=1, max_size=4),
    ),
    min_size=2,
    max_size=5,
    unique_by=lambda t: t[0],
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    groups=_group_strategy,
    cap=st.integers(1, 4),
    pct=st.integers(10, 100),
)
def test_waterfill_conserves_budget_and_clips(session, groups, cap, pct):
    """For ANY group sizes/cap/budget: (1) 0 <= alloc <= avail,
    (2) sum(alloc) == C exactly (the closed-form waterline is not
    approximate), (3) all clipped groups sit at one common level."""
    from vector_search_spark.operators import textstats

    docs = _mix_docs(session, groups)
    out = textstats.waterfill_budget(
        docs, group_col="lang", epoch_cap=cap, budget_pct=pct
    ).collect()
    avail_tot = sum(r["avail"] for r in out)
    C = (pct * avail_tot) // 100
    for r in out:
        assert 0.0 <= r["alloc"] <= float(r["avail"]) + 1e-9, r
    assert math.isclose(
        sum(r["alloc"] for r in out), float(C), rel_tol=1e-12, abs_tol=1e-6
    ), (groups, cap, pct)
    clipped = [r["alloc"] for r in out if r["alloc"] < float(r["avail"]) - 1e-9]
    for x in clipped:
        assert math.isclose(x, clipped[0], rel_tol=1e-12, abs_tol=1e-9)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    groups=_group_strategy,
    alpha=st.floats(0.0, 1.0, allow_nan=False),
)
def test_mixture_weights_normalized_and_monotone(session, groups, alpha):
    """Weights sum to 1; a bigger group never gets a smaller weight;
    the up-sampling boost is non-increasing in group size (the whole
    point of temperature smoothing)."""
    from vector_search_spark.operators import textstats

    out = textstats.mixture_weights(
        _mix_docs(session, groups), group_col="lang", alpha=alpha
    ).collect()
    assert math.isclose(sum(r["weight"] for r in out), 1.0, rel_tol=1e-9)
    by_size = sorted(out, key=lambda r: r["toks"])
    for lo, hi in zip(by_size, by_size[1:]):
        assert hi["weight"] >= lo["weight"] - 1e-12
        if lo["toks"] < hi["toks"]:
            assert lo["boost"] >= hi["boost"] - 1e-12


def test_materialize_mixture_nested_under_allocation_growth(session):
    """Same seed, larger epochs -> the materialized multiset only
    GROWS: every (doc_id, rep) pair at the lower allocation survives
    at the higher one (floor copies only add; the fractional draw's
    threshold rises while each row's hash stays fixed)."""
    from vector_search_spark.operators import sampling

    docs = session.createDataFrame(
        [(i, "a") for i in range(30)] + [(100 + i, "b") for i in range(30)],
        "doc_id long, lang string",
    )
    lo_ep = session.createDataFrame(
        [("a", 0.3), ("b", 1.6)], "lang string, epochs double"
    )
    hi_ep = session.createDataFrame(
        [("a", 1.4), ("b", 2.9)], "lang string, epochs double"
    )
    lo = {
        (r["doc_id"], r["rep"])
        for r in sampling.materialize_mixture(docs, lo_ep).collect()
    }
    hi = {
        (r["doc_id"], r["rep"])
        for r in sampling.materialize_mixture(docs, hi_ep).collect()
    }
    assert lo and lo < hi


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sizes=st.lists(st.integers(1, 9), min_size=1, max_size=25),
    ctx=st.integers(1, 10),
    shard_size=st.integers(1, 6),
)
def test_assemble_packs_partitions_any_corpus(session, sizes, ctx, shard_size):
    """For ANY doc sizes / ctx / shard size: packs conserve the token
    count, every pack but the last holds exactly ctx tokens, pack ids
    are dense from 0, doc spans tile the id order, and every ordered
    fingerprint equals the naive single-process cut of the
    concatenated stream."""
    import hashlib

    from vector_search_spark.operators import textstats

    rows = [(i, [f"t{i}x{j}" for j in range(n)]) for i, n in enumerate(sizes)]
    df = session.createDataFrame(
        rows, "doc_id long, t array<string>"
    ).withColumn("n_toks", F.size("t"))
    out = sorted(
        textstats.assemble_packs(
            df, ctx=ctx, shard_size=shard_size
        ).collect(),
        key=lambda r: r["pack_id"],
    )
    total = sum(sizes)
    assert sum(r["n_toks"] for r in out) == total
    assert [r["pack_id"] for r in out] == list(range(len(out)))
    assert all(r["n_toks"] == ctx for r in out[:-1])
    assert 1 <= out[-1]["n_toks"] <= ctx
    stream = [tk for _, t in rows for tk in t]
    for r in out:
        seq = stream[r["pack_id"] * ctx : (r["pack_id"] + 1) * ctx]
        assert (
            r["pack_md5"]
            == hashlib.md5(" ".join(seq).encode()).hexdigest()
        ), (sizes, ctx, shard_size, r["pack_id"])
        assert r["first_doc"] <= r["last_doc"]
    for a, b in zip(out, out[1:]):
        # consecutive packs: the boundary doc either straddles
        # (a.last == b.first) or the cut fell exactly between docs
        assert b["first_doc"] - a["last_doc"] in (0, 1)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 2**31 - 1),
    n_tokens=st.integers(1, 10),
)
def test_token_trigram_embed_matches_python_model(session, seed, n_tokens):
    """token_trigram_embed must equal the direct python model: char
    3-grams (whole token when shorter), bucket = md5-h32(gram) % dim,
    sign from the next hash bit, vote sums + L2 norm."""
    import hashlib

    from vector_search_spark.operators import textstats

    rng = np.random.default_rng(seed)
    alphabet = list("abcxyz019")
    toks = sorted(
        {
            "".join(rng.choice(alphabet, size=rng.integers(1, 9)))
            for _ in range(n_tokens)
        }
    )
    dim = 8
    df = session.createDataFrame([(t,) for t in toks], "token string")
    got = {
        r.token: (list(r.tvec), r.tnorm)
        for r in textstats.token_trigram_embed(df, dim=dim).collect()
    }

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    for t in toks:
        grams = [t] if len(t) < 3 else [t[i : i + 3] for i in range(len(t) - 2)]
        want = [0.0] * dim
        for g in grams:
            h = h32(g)
            want[h % dim] += 1.0 if (h // dim) % 2 == 0 else -1.0
        vec, norm = got[t]
        assert vec == want, (t, vec, want)
        assert norm == pytest.approx(
            math.sqrt(sum(v * v for v in want)), abs=0
        ), t


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 2**31 - 1),
    n_docs=st.integers(1, 8),
    span_n=st.integers(2, 4),
)
def test_excise_spans_conservation_and_first_keeper(session, seed, n_docs, span_n):
    """excise_spans on arbitrary small corpora: (a) conservation —
    n_kept + n_removed == n_orig and clean_text holds exactly n_kept
    tokens; (b) the clean text is a SUBSEQUENCE of the original token
    stream (surgery only deletes, never reorders/rewrites); (c) the
    globally first document is never excised when it owns every
    duplicated span's first occurrence (tiny vocab makes duplicates
    likely, the interesting regime)."""
    from vector_search_spark.operators import dedup

    rng = np.random.default_rng(seed)
    vocab = ["a", "b", "c"]
    rows = [
        (i, " ".join(rng.choice(vocab, size=rng.integers(1, 15))))
        for i in range(n_docs)
    ]
    df = session.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.excise_spans(df, span_n=span_n).collect()}
    assert set(out) == {i for i, _ in rows}

    def is_subseq(sub, seq):
        it = iter(seq)
        return all(x in it for x in sub)

    for i, text in rows:
        r = out[i]
        orig = text.lower().split()
        kept = r.clean_text.split() if r.clean_text else []
        assert r.n_orig == len(orig), r
        assert r.n_kept + r.n_removed == r.n_orig, r
        assert len(kept) == r.n_kept, r
        assert is_subseq(kept, orig), (kept, orig)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 2**31 - 1),
    n_docs=st.integers(1, 8),
    min_chars=st.integers(0, 3),
)
def test_line_dedup_matches_naive_reference(session, seed, n_docs, min_chars):
    """line_dedup on arbitrary small corpora vs a sequential Python
    reference of the spec (corpus-wide keep-first by (doc_id, pos),
    lines under min_chars always kept): identical kept lines per doc,
    conservation everywhere. Tiny line vocab makes cross- and
    within-doc repeats likely — the interesting regime."""
    from vector_search_spark.operators import dedup

    rng = np.random.default_rng(seed)
    vocab = ["", "x", "yy", "zzz", "wwww"]
    rows = [
        (
            i,
            "\n".join(
                vocab[rng.integers(0, len(vocab))]
                for _ in range(rng.integers(1, 6))
            ),
        )
        for i in range(n_docs)
    ]
    df = session.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in dedup.line_dedup(df, min_chars=min_chars).collect()
    }
    assert set(out) == {i for i, _ in rows}

    # sequential reference: first (doc, pos) wins per distinct line
    seen: set[str] = set()
    want: dict[int, list[str]] = {}
    counts: dict[str, int] = {}
    for i, text in rows:
        for line in text.split("\n"):
            counts[line] = counts.get(line, 0) + 1
    for i, text in rows:
        want[i] = []
        for line in text.split("\n"):
            if len(line) < min_chars or counts[line] == 1:
                want[i].append(line)
            elif line not in seen:
                seen.add(line)
                want[i].append(line)
    for i, text in rows:
        r = out[i]
        kept = r.clean_text.split("\n") if r.n_kept else []
        assert kept == want[i], (i, kept, want[i])
        assert r.n_lines == len(text.split("\n")), r
        assert r.n_kept + r.n_removed == r.n_lines, r


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seed=st.integers(0, 2**31 - 1), n_docs=st.integers(1, 6))
def test_pii_scrub_matches_python_re(session, seed, n_docs):
    """pii_scrub vs Python `re` as a THIRD regex engine (the oracle
    gate already pins Java==RE2): counts and sequential redaction must
    agree on adversarial digit/dot/@/hyphen soup, where near-miss
    shapes (wrong group widths, 3-part dotted numbers) are dense."""
    import re as pyre

    from vector_search_spark.operators import textstats

    rng = np.random.default_rng(seed)
    atoms = [
        "a@b.io", "x.y@example.org", "10.0.0.1", "1.2.3", "12.34.56.789",
        "123-45-6789", "555-123-4567", "555.123.4567", "1234-56-7890",
        "word", "w0rd", "-", ".", "@", "9", "42", "a@b", "b.c",
    ]
    rows = [
        (
            i,
            " ".join(
                atoms[rng.integers(0, len(atoms))]
                for _ in range(rng.integers(1, 12))
            ),
        )
        for i in range(n_docs)
    ]
    df = session.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textstats.pii_scrub(df).collect()}
    for i, text in rows:
        r = got[i]
        red = text
        for name, pat, repl in textstats.PII_PATTERNS:
            want_n = len(pyre.findall(pat, text))
            assert getattr(r, f"n_{name}") == want_n, (name, text)
            red = pyre.sub(pat, repl, red)
        assert r.clean_text == red, (text, r.clean_text, red)


@settings(max_examples=10, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    n_docs=st.integers(1, 40),
    n_dels=st.integers(0, 60),
)
@pytest.mark.slow
def test_purge_conservation_random_lists(session, seed, n_docs, n_dels):
    """Purge triple on arbitrary corpora/lists (duplicated entries,
    stale ids, multi-group): purge_docs ∪ flagged == corpus,
    accounting conserves per group, purge_missing ∪ matched ==
    distinct list. Model = plain Python sets."""
    import random

    from vector_search_spark.operators import dedup

    rng = random.Random(seed)
    docs = [(i, f"s{rng.randrange(3)}") for i in range(n_docs)]
    # deletion list draws from a RANGE WIDER than the corpus (stale
    # ids) and with replacement (duplicates)
    dels = [rng.randrange(2 * n_docs + 1) for _ in range(n_dels)]

    docs_df = session.createDataFrame(docs, "doc_id long, source string")
    dels_df = session.createDataFrame(
        [(d,) for d in dels] or [(None,)], "doc_id long"
    )

    del_set = set(dels)
    expect_kept = {i for i, _ in docs if i not in del_set}
    expect_missing = {d for d in del_set if d >= n_docs}

    kept = {r.doc_id for r in dedup.purge_docs(docs_df, dels_df).collect()}
    assert kept == expect_kept

    missing = {
        r.doc_id
        for r in dedup.purge_missing(docs_df, dels_df).collect()
        if r.doc_id is not None
    }
    assert missing == expect_missing

    acct = dedup.purge_accounting(docs_df, dels_df, "source").collect()
    by_src = {r.source: r for r in acct}
    assert sum(r.n_total for r in acct) == n_docs
    for s, r in by_src.items():
        grp = {i for i, src in docs if src == s}
        assert r.n_purged + r.n_kept == r.n_total == len(grp)
        assert r.n_kept == len(grp & expect_kept)
        assert r.kept_id_sum == sum(grp & expect_kept)


@settings(max_examples=8, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    n_docs=st.integers(2, 25),
)
@pytest.mark.slow
def test_nb_logodds_matches_python_model(session, seed, n_docs):
    """nb_logodds vs a transparent pure-Python Naive Bayes on random
    tiny corpora: same smoothing, same prior, same OOV default —
    values must agree to float tolerance doc by doc. Random corpora
    exercise OOV tokens (scored docs draw from a wider vocabulary
    than the seeds), skewed class sizes, and repeated tokens."""
    import math
    import random

    from vector_search_spark.operators import textstats

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(12)]
    def doc(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    labeled = [(i, doc(rng.randint(1, 8)), rng.random() < 0.6)
               for i in range(n_docs)]
    # ensure both classes non-empty
    labeled[0] = (labeled[0][0], labeled[0][1], True)
    labeled[1] = (labeled[1][0], labeled[1][1], False)
    # scored docs use a WIDER vocab (OOV guaranteed possible)
    wide = vocab + ["oov1", "oov2"]
    scored = [(100 + i, " ".join(rng.choice(wide) for _ in range(rng.randint(1, 8))))
              for i in range(n_docs)]

    k = 0.5
    pos_toks = [t for _, txt, is_p in labeled if is_p for t in txt.split()]
    neg_toks = [t for _, txt, is_p in labeled if not is_p for t in txt.split()]
    seen = set(pos_toks) | set(neg_toks)
    V, tp, tn = len(seen), len(pos_toks), len(neg_toks)
    n_pos = sum(1 for r in labeled if r[2])
    n_neg = len(labeled) - n_pos
    cp, cn = {}, {}
    for t in pos_toks:
        cp[t] = cp.get(t, 0) + 1
    for t in neg_toks:
        cn[t] = cn.get(t, 0) + 1

    def w(t):
        return math.log((cp.get(t, 0) + k) / (tp + k * V)) - math.log(
            (cn.get(t, 0) + k) / (tn + k * V)
        )

    expect = {
        i: math.log(n_pos / n_neg) + sum(w(t) for t in txt.split())
        for i, txt in scored
    }

    pos_df = session.createDataFrame(
        [(i, txt) for i, txt, is_p in labeled if is_p],
        "doc_id long, text string",
    )
    neg_df = session.createDataFrame(
        [(i, txt) for i, txt, is_p in labeled if not is_p],
        "doc_id long, text string",
    )
    target = session.createDataFrame(scored, "doc_id long, text string")
    got = {
        r.doc_id: r.log_odds
        for r in textstats.nb_logodds(target, pos_df, neg_df, k=k).collect()
    }
    assert set(got) == set(expect)
    for i in expect:
        assert math.isclose(got[i], expect[i], rel_tol=1e-9, abs_tol=1e-9), (
            i, got[i], expect[i]
        )


@settings(max_examples=8, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    n_docs=st.integers(1, 20),
    n_buckets=st.sampled_from([16, 64]),
)
@pytest.mark.slow
def test_token_drift_matches_python_model(session, seed, n_docs, n_buckets):
    """token_drift vs a transparent pure-Python JSD on random corpora
    (same md5-derived bucket hash replayed in Python): per-bucket
    counts exact, probabilities and terms to float tolerance, total
    within [0, ln 2]."""
    import hashlib
    import math
    import random

    from vector_search_spark.operators import textstats

    rng = random.Random(seed)
    vocab = [f"t{i}" for i in range(10)]
    def doc():
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 6)))

    A = [(i, doc()) for i in range(n_docs)]
    B = [(1000 + i, doc()) for i in range(n_docs)]

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def buckets(docs):
        out = {}
        for _, txt in docs:
            toks = txt.split()
            for i in range(len(toks) - 1):  # bigrams, ngram_n=2
                b = h32(" ".join(toks[i : i + 2])) % n_buckets
                out[b] = out.get(b, 0) + 1
        return out

    ca, cb = buckets(A), buckets(B)
    ta, tb = sum(ca.values()), sum(cb.values())
    kk = 1.0
    expect = {}
    for bkt in range(n_buckets):
        p = (ca.get(bkt, 0) + kk) / (ta + kk * n_buckets)
        q = (cb.get(bkt, 0) + kk) / (tb + kk * n_buckets)
        m = (p + q) / 2
        expect[bkt] = (ca.get(bkt, 0), cb.get(bkt, 0),
                       0.5 * p * math.log(p / m) + 0.5 * q * math.log(q / m))

    a_df = session.createDataFrame(A, "doc_id long, text string")
    b_df = session.createDataFrame(B, "doc_id long, text string")
    rows = textstats.token_drift(
        a_df, b_df, n_buckets=n_buckets, ngram_n=2, smoothing=kk
    ).collect()
    assert len(rows) == n_buckets
    tot = 0.0
    for r in rows:
        e_ca, e_cb, e_jt = expect[r.bkt]
        assert (r.c_a, r.c_b) == (e_ca, e_cb), (r.bkt, r.c_a, e_ca)
        assert math.isclose(r.jsd_term, e_jt, rel_tol=1e-9, abs_tol=1e-12)
        tot += r.jsd_term
    assert -1e-12 <= tot <= math.log(2.0) + 1e-12


@given(
    seed=st.integers(0, 10_000),
    h=st.integers(1, 16),
    w=st.integers(1, 16),
)
@settings(max_examples=40, deadline=None)
def test_pixel_decoders_invert_serialization(seed, h, w):
    """Pure-numpy image decoders (r14): for arbitrary dimensions —
    including the w % 4 != 0 cases where BMP row padding matters and
    1-pixel degenerate shapes — serializing a random raster as P6/P5
    netpbm and as bottom-up/top-down BMP and parsing it back must be
    the identity. No Spark: the parsers are plain functions; the
    mapInPandas stage is covered by the source tests."""
    from vector_search_spark.operators import multimodal as mm

    rng = np.random.default_rng(seed)
    rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    ppm = (
        b"P6\n# prop\n" + f"{w} {h}\n255\n".encode() + rgb.tobytes()
    )
    assert (mm._parse_pnm(ppm) == rgb).all()
    gray = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    pgm = f"P5 {w} {h} 255\n".encode() + gray.tobytes()
    assert (mm._parse_pnm(pgm)[:, :, 0] == gray).all()

    from vector_search_spark.queries_multimodal import _bmp_header

    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = rgb[::-1, :, ::-1].reshape(h, w * 3)
    bottom_up = _bmp_header(w, h, stride) + rows.tobytes()
    assert (mm._parse_bmp(bottom_up) == rgb).all()
    rows_td = np.zeros((h, stride), dtype=np.uint8)
    rows_td[:, : w * 3] = rgb[:, :, ::-1].reshape(h, w * 3)
    hdr = _bmp_header(w, h, stride)
    hdr = hdr[:22] + int(-h).to_bytes(4, "little", signed=True) + hdr[26:]
    assert (mm._parse_bmp(hdr + rows_td.tobytes()) == rgb).all()


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 2**31 - 1),
    n=st.integers(4, 24),
    n_labels=st.integers(1, 4),
    k=st.integers(1, 5),
)
@pytest.mark.slow
def test_semihard_mining_matches_python_model(session, seed, n, n_labels, k):
    """mine_semihard_negatives must equal a transparent numpy replay on
    random labeled corpora: per anchor, margin = round6(min same-label
    dist), negatives = different-label rows with round6(dist) strictly
    beyond it, top-k by (dist, id); no-positive anchors absent. The
    model rounds with decimal HALF_UP on the shortest repr — the exact
    semantics of Spark's F.round (and DuckDB's ROUND), NOT Python
    round()/np.round (both half-to-even, which diverge on .5e-6 ties)."""
    from decimal import ROUND_HALF_UP, Decimal

    from vector_search_spark.operators import knn

    q6 = Decimal("0.000001")

    def r6(x):
        return float(
            Decimal(repr(float(x))).quantize(q6, rounding=ROUND_HALF_UP)
        )

    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, 4))
    labels = rng.integers(0, n_labels, size=n)
    df = session.createDataFrame(
        [
            (i, [float(x) for x in X[i]], int(labels[i]))
            for i in range(n)
        ],
        "vec_id long, embedding array<double>, label int",
    )
    n_anchors = min(3, n)
    got = sorted(
        (r.query_id, r.vec_id, r.pos_margin, r.dist, r.rank)
        for r in knn.mine_semihard_negatives(
            df.filter(F.col("vec_id") < n_anchors), df, k=k
        ).collect()
    )

    want = []
    for q in range(n_anchors):
        d = ((X - X[q]) ** 2).sum(axis=1)
        pos = [i for i in range(n) if i != q and labels[i] == labels[q]]
        if not pos:
            continue  # no positive -> anchor dropped
        margin = r6(min(d[i] for i in pos))
        negs = sorted(
            (r6(d[i]), i)
            for i in range(n)
            if labels[i] != labels[q]
        )
        survivors = [(dist, i) for dist, i in negs if dist > margin]
        for rank, (dist, i) in enumerate(survivors[:k], start=1):
            want.append((q, i, margin, dist, rank))
    assert got == sorted(want)
