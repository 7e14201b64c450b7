"""Recall / containment assertions for the rows-only (oracle-less) LSH and
ANN operators (VERDICT r1 #6): each approximate path is pinned against an
exact, independently-computed ground truth, so the queries the DuckDB gate
can never verify still carry a correctness bound.

All operators under test are deterministic (seeded xxhash64 hyperplanes,
seeded driver-side k-means, fixed band layout), so the measured recall floors are stable
run-to-run, not flaky thresholds.
"""

from __future__ import annotations

import itertools

import pandas as pd
import pytest

from tests.conftest import SF_CHECK, SF_SMOKE


def _queries():
    import __spark_entry__ as e

    return e.queries()


@pytest.fixture(scope="module")
def true_jaccard_pairs():
    """Unblocked exact Jaccard >= 0.8 pairs at sf0.001, computed in plain
    Python over the raw parquet -- fully independent of the Spark lineage."""
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    toks = {r.doc_id: {t for t in r.text.split(" ") if t}
            for r in docs.itertuples()}
    pairs = {}
    for a, b in itertools.combinations(sorted(toks), 2):
        inter = len(toks[a] & toks[b])
        j = inter / (len(toks[a]) + len(toks[b]) - inter)
        if j >= 0.8:
            pairs[(a, b)] = j
    return pairs


def test_minhash_lsh_sound_and_recall(spark, true_jaccard_pairs):
    """Every MinHash+LSH pair must be a TRUE >= 0.8 Jaccard pair (the verify
    stage makes the operator sound by construction -- this catches a broken
    verify); the banded candidate generation must retain a nonzero floor of
    the true pairs despite the frequent-bucket cap (which prunes hard on
    this corpus's 40-word-vocabulary near-dup pathology)."""
    out = {(r.doc_a, r.doc_b): r.jaccard
           for r in _queries()["x1_dedup_minhash_lsh"](spark, SF_SMOKE).collect()}
    assert out, "LSH returned no pairs"
    for pair, j in out.items():
        assert pair in true_jaccard_pairs, f"unsound pair {pair} (j={j})"
        assert abs(true_jaccard_pairs[pair] - j) < 1e-9
    recall = len(set(out) & set(true_jaccard_pairs)) / len(true_jaccard_pairs)
    assert recall >= 0.03, f"LSH recall collapsed: {recall:.3f}"


def test_jaccard_prefix_equals_naive(spark):
    """The lossless prefix-filtered variant must return EXACTLY the naive
    inverted-index join's pairs (same oracle, different physical plan)."""
    qs = _queries()
    naive = {(r.doc_a, r.doc_b): r.jaccard
             for r in qs["x1_dedup_jaccard_ngram"](spark, SF_SMOKE).collect()}
    pref = {(r.doc_a, r.doc_b): r.jaccard
            for r in qs["x1_dedup_jaccard_prefix"](spark, SF_SMOKE).collect()}
    assert naive == pref


@pytest.mark.parametrize("name", [
    "x2_cosine_topk", "x2_cosine_topk_bruteforce", "x2_cosine_topk_gemm",
    "x2_cosine_topk_filtered", "x2_topk_mmr",
])
def test_topk_faces_match_their_duckdb_oracle(spark, name):
    """Every face built on the one exact top-k kernel returns exactly the
    rows of its own DuckDB oracle (decimal-stated dots, rounded at 9 dp),
    run here over a view on the same embeddings file."""
    import duckdb

    from multiagent_form_schema_etl_spark.plans import registry

    got = sorted(tuple(r) for r in _queries()[name](spark, SF_CHECK)
                 .collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{SF_CHECK}/embeddings.parquet')")
    want = sorted(con.execute(registry.ORACLES[name]).fetchall())
    assert got and got == want


def test_ann_lsh_recall_vs_exact(spark):
    """Multi-probe banded hyperplane-LSH top-5 must overlap the exact
    top-5 even on clusterless random vectors (r5: Hamming<=2 query-side
    probing measures recall 1.0 at sf0.01, 10x, AND 30x -- up from the
    single-probe 0.28/0.58/0.54 -- with per-query candidates at 9-14% of
    the corpus and falling as n grows; deterministic construction)."""
    qs = _queries()
    exact = {(r.query_id, r.match_id)
             for r in qs["x2_cosine_topk"](spark, SF_CHECK).collect()}
    ann = {(r.query_id, r.match_id)
           for r in qs["x2_ann_lsh_buckets"](spark, SF_CHECK).collect()}
    assert len(exact & ann) / len(exact) >= 0.8


def test_ann_ivf_recall_vs_exact(spark):
    """IVF probe search recall vs the exact top-5 (r5: index-side soft
    assignment to several nearest cells -- the same trick that took IVF
    dedup to recall 1.0 -- lifted recall 0.62 -> 0.90 at sf0.01). The
    quantizer is the near-dup faces' seeded driver-side k-means
    (`_ivf_cells`), so the face is deterministic."""
    qs = _queries()
    exact = {(r.query_id, r.match_id)
             for r in qs["x2_cosine_topk"](spark, SF_CHECK).collect()}
    ivf = {(r.query_id, r.match_id)
           for r in qs["x2_ann_ivf_kmeans"](spark, SF_CHECK).collect()}
    assert len(exact & ivf) / len(exact) >= 0.8


def test_ann_pq_recall_vs_exact(spark):
    """PQ/ADC with exact top-200 rerank recall vs the exact top-5 (measured
    1.0 at sf0.01 / 0.94 at sf0.1 with 8 subspaces x 32 codes over
    unit-normalized vectors; seeded driver-side Lloyd => deterministic)."""
    qs = _queries()
    exact = {(r.query_id, r.match_id)
             for r in qs["x2_cosine_topk"](spark, SF_CHECK).collect()}
    pq = {(r.query_id, r.match_id)
          for r in qs["x2_ann_pq_adc"](spark, SF_CHECK).collect()}
    assert len(exact & pq) / len(exact) >= 0.9


def test_embedding_ivf_dedup_sound_and_recall(spark):
    """IVF-bucketed semantic dedup must be SOUND (every emitted pair is a
    true >= 0.45 pair with the identical decimal-exact cosine as the
    oracle-backed exact variant) and keep a recall floor vs the exact
    pair set (measured 1.0 at sf0.01 AND sf0.1 with 8 cells x 4-probe,
    up from 0.86/0.95 at 3-probe -- VERDICT r3 item 3; seeded
    driver-side Lloyd => deterministic; floor 0.9 leaves headroom for
    future corpus regeneration, not for regressions)."""
    qs = _queries()
    exact = {(r.vec_a, r.vec_b): r.cosine
             for r in qs["x1_dedup_embedding_cosine"](spark, SF_CHECK).collect()}
    ivf = {(r.vec_a, r.vec_b): r.cosine
           for r in qs["x1_dedup_embedding_ivf"](spark, SF_CHECK).collect()}
    assert set(ivf) <= set(exact), "unsound pair emitted"
    for k, c in ivf.items():
        assert abs(c - exact[k]) < 1e-12
    assert len(ivf) / len(exact) >= 0.9


def test_embedding_ivf_dedup_recall_sf01(spark):
    """Same soundness + recall floor at sf0.1 (10x the corpus): cell
    boundaries move with the trained centroids, so the floor must hold
    where there are enough true pairs (144) for recall to be a real
    measurement rather than a handful of lucky cells."""
    from tests.conftest import SF_BENCH

    qs = _queries()
    exact = {(r.vec_a, r.vec_b)
             for r in qs["x1_dedup_embedding_cosine"](spark, SF_BENCH).collect()}
    ivf = {(r.vec_a, r.vec_b)
           for r in qs["x1_dedup_embedding_ivf"](spark, SF_BENCH).collect()}
    assert ivf <= exact, "unsound pair emitted"
    assert len(ivf) / len(exact) >= 0.9


def _corpus_matrix():
    import numpy as np

    docs = pd.read_parquet(f"{SF_CHECK}/embeddings.parquet")
    X = np.stack(docs.sort_values("vec_id")["embedding"].to_numpy()).astype(float)
    ids = docs.sort_values("vec_id")["vec_id"].to_numpy()
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    return X, ids


def test_coreset_kcenter_greedy_invariant(spark):
    """The greedy k-center reference face must satisfy the farthest-point-
    traversal invariant computed independently in numpy: pick i's recorded
    min_dist equals the TRUE max-over-corpus of min-distance-to-prefix
    (within FP tolerance), and the picked id is a true argmax (ties on
    min vec_id)."""
    import numpy as np

    from multiagent_form_schema_etl_spark.operators.similarity import (
        coreset_kcenter_greedy)

    sel = sorted((r.rank, r.vec_id, r.min_dist)
                 for r in coreset_kcenter_greedy(spark, SF_CHECK).collect())
    docs = pd.read_parquet(f"{SF_CHECK}/embeddings.parquet")
    X = np.stack(docs.sort_values("vec_id")["embedding"].to_numpy()).astype(float)
    ids = docs.sort_values("vec_id")["vec_id"].to_numpy()
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    pos = {int(v): i for i, v in enumerate(ids)}

    assert sel[0][1] == int(ids.min()) and sel[0][2] is None
    mind = np.full(len(X), np.inf)
    prev = sel[0][1]
    for rank, vid, dist in sel[1:]:
        mind = np.minimum(mind, 1.0 - X @ X[pos[prev]])
        avail = np.ones(len(X), bool)
        for _, pv, _d in sel[:rank]:
            avail[pos[pv]] = False
        best = mind[avail].max()
        assert abs(dist - best) < 1e-9, (rank, dist, best)
        # argmax with min-id tie-break (FP-tolerant tie window)
        cand = ids[avail][mind[avail] >= best - 1e-9]
        assert vid == int(cand.min()), (rank, vid)
        prev = vid


def _numpy_batched_kcenter(X, ids, k=16, b=4):
    """Driver-exact numpy mirror of the registered batched face: per pass
    fold last pass's accepted centers into the running min, take the top
    4b candidates (desc min_dist, asc vec_id), accept in order subject to
    dist-to-batch >= R/2, stop at b (or k total)."""
    import numpy as np

    pos = {int(v): i for i, v in enumerate(ids)}
    seed = int(ids.min())
    picked = [(0, seed, None)]
    new_centers = [seed]
    mind = np.full(len(X), np.inf)
    while len(picked) < k:
        for cid in new_centers:
            mind = np.minimum(mind, 1.0 - X @ X[pos[cid]])
        taken = {p[1] for p in picked}
        avail = np.array([int(v) not in taken for v in ids])
        order = sorted(
            ((float(mind[pos[int(v)]]), int(v)) for v in ids[avail]),
            key=lambda t: (-t[0], t[1]))[:4 * b]
        if not order:
            break
        radius = order[0][0]
        batch = []
        for dist, vid in order:
            if all(1.0 - float(X[pos[vid]] @ X[pos[m]]) >= radius / 2
                   for _d, m in batch):
                batch.append((dist, vid))
                if len(batch) == b or len(picked) + len(batch) == k:
                    break
        for dist, vid in batch:
            picked.append((len(picked), vid, dist))
        new_centers = [vid for _d, vid in batch]
    return picked


def test_coreset_kcenter_batched_mirror_and_radius(spark):
    """The registered batched k-center face is deterministic, so a numpy
    mirror of the exact same algorithm must reproduce every pick and
    recorded distance; and its coverage radius at k must stay within 2x
    of the greedy 2-approximation reference (the documented constant-
    factor bound for the R/2-separation batch filter)."""
    import numpy as np

    qs = _queries()
    sel = sorted((r.rank, r.vec_id, r.min_dist)
                 for r in qs["x2_coreset_kcenter"](spark, SF_CHECK).collect())
    X, ids = _corpus_matrix()
    mirror = _numpy_batched_kcenter(X, ids)
    assert len(sel) == len(mirror) == 16
    for (rk_s, id_s, d_s), (rk_m, id_m, d_m) in zip(sel, mirror):
        assert (rk_s, id_s) == (rk_m, id_m), (rk_s, id_s, id_m)
        assert (d_s is None) == (d_m is None)
        if d_s is not None:
            assert abs(d_s - d_m) < 1e-9, (rk_s, d_s, d_m)

    pos = {int(v): i for i, v in enumerate(ids)}

    def radius(sel_ids):
        c = X[[pos[int(v)] for v in sel_ids]]
        return float((1.0 - (X @ c.T)).min(axis=1).max())

    # greedy reference radius from the pinned-invariant face above
    from multiagent_form_schema_etl_spark.operators.similarity import (
        coreset_kcenter_greedy)
    greedy_ids = [r.vec_id
                  for r in coreset_kcenter_greedy(spark, SF_CHECK).collect()]
    r_batched = radius([v for _r, v, _d in sel])
    r_greedy = radius(greedy_ids)
    assert r_batched <= 2.0 * r_greedy + 1e-9, (r_batched, r_greedy)


def test_gemm_block_pairs_small_block_never_emits_self(spark):
    """Margin-mode block-GEMM sieve on a block SMALLER than the margin:
    the -inf-masked self slot must not leak through the local top-k
    (downstream decimal re-rank would score it cosine 1.0 and corrupt
    the kNN graph). Three vectors, margin 5: every (src, dst) pair with
    src != dst emits exactly once, no self pairs."""
    from pyspark.sql import functions as F

    from multiagent_form_schema_etl_spark.operators.similarity import (
        _gemm_block_pairs)

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.8, 0.6]), (2, [0.0, 1.0])],
        "vec_id long, vec array<double>")
    rows = _gemm_block_pairs(emb, margin=5).collect()
    got = {(r["src"], r["dst"]) for r in rows}
    assert got == {(a, b) for a in range(3) for b in range(3) if a != b}
    assert all(abs(r["dcos"]) <= 1.0 + 1e-12 for r in rows)


def test_minhash_lsh_md5_sound_and_recall(spark, true_jaccard_pairs):
    """The portable-md5 oracle twin of the LSH face: same soundness
    contract (every emitted pair is a TRUE >= 0.8 Jaccard pair with the
    exact Jaccard value) and a nonzero candidate-recall floor under the
    same frequent-bucket cap -- the hash family changes which buckets
    collide, never the verification."""
    out = {(r.doc_a, r.doc_b): r.jaccard
           for r in _queries()["x1_dedup_minhash_lsh_md5"](
               spark, SF_SMOKE).collect()}
    assert out, "md5 LSH returned no pairs"
    for pair, j in out.items():
        assert pair in true_jaccard_pairs, f"unsound pair {pair} (j={j})"
        assert abs(true_jaccard_pairs[pair] - j) < 1e-9
    recall = len(set(out) & set(true_jaccard_pairs)) / len(true_jaccard_pairs)
    assert recall >= 0.03, f"md5 LSH recall collapsed: {recall:.3f}"


def test_containment_prefix_equals_naive(spark, tmp_path):
    """The containment-prefix candidate stage is LOSSLESS: the r12
    prefix-probed kernel must return exactly the naive full
    inverted-index join's verified rows -- on the gate corpus AND on an
    adversarial one built to stress both the pruning and the asymmetry:
    a boilerplate 4-gram shared by every doc (the naive kernel's O(n^2)
    hot key), a doc embedded verbatim inside a longer one, and a
    contained side carrying MORE shingles than its container
    (ni/na >= 0.8 only bounds na <= 1.25*nb)."""
    from multiagent_form_schema_etl_spark.operators.dedup import (
        _containment_cand_naive, _containment_cand_prefix,
        _containment_shingles, _containment_verify)
    from tests.conftest import SF_SMOKE

    key = lambda rows: sorted(map(tuple, rows))

    def both(sf):
        sh, sizes = _containment_shingles(spark, sf)
        naive = _containment_verify(_containment_cand_naive(sh),
                                    sh, sizes).collect()
        pref = _containment_verify(_containment_cand_prefix(sh, sizes),
                                   sh, sizes).collect()
        n_naive = _containment_cand_naive(sh).count()
        n_pref = _containment_cand_prefix(sh, sizes).count()
        return key(naive), key(pref), n_naive, n_pref

    g_naive, g_pref, _, _ = both(SF_SMOKE)
    assert g_naive == g_pref and len(g_naive) > 0

    boiler = "all rights reserved worldwide"
    base = ["alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima " + boiler,                      # doc 0
            # doc 1 embeds doc 0's full text => containment(0 in 1) = 1
            "alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima " + boiler + " mike november oscar papa"]
    # bigger-contained case: doc 2 = 13 tokens (10 shingles), doc 3 = its
    # 12-token prefix (9 shingles, all shared) => 2-in-3 at 0.9 with
    # n_contained 10 > container's 9, and 3-in-2 at 1.0
    t13 = " ".join(f"t{j}" for j in range(13))
    docs = ([(0, base[0], "en"), (1, base[1], "en"),
             (2, t13, "en"), (3, " ".join(f"t{j}" for j in range(12)), "en")]
            # 60 unrelated docs sharing ONLY the boilerplate gram
            # (V/S ~ 3.2 -- past the auto factor; at range(30) it is ~1.6)
            + [(10 + i, f"u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f u{i}g u{i}h "
                + boiler, "en") for i in range(60)])
    sf = tmp_path / "contain"
    sf.mkdir()
    spark.createDataFrame(docs, "doc_id long, text string, lang string") \
        .write.parquet(str(sf / "documents.parquet"))
    a_naive, a_pref, n_naive, n_pref = both(str(sf))
    assert a_naive == a_pref
    got = {(r[0], r[1]): r[4] for r in a_pref}
    assert got[(0, 1)] == 1.0
    assert got[(2, 3)] == 0.9 and got[(3, 2)] == 1.0
    rows = {r[0]: r for r in a_pref}
    assert rows[2][2] == 10  # n_contained > the container's 9 shingles
    # the boilerplate gram must not drive candidate volume: the naive
    # join pairs all 62 docs that share it (C(62,2) = 1891 candidates);
    # the prefix probe keeps it out of almost every prefix
    assert n_naive >= 1891
    assert n_pref < n_naive / 4
    # and the measured auto-selector must route each corpus shape to its
    # kernel: uniform fan-out (gate corpus) -> naive; corpus-wide
    # boilerplate -> prefix
    from multiagent_form_schema_etl_spark.operators.dedup import (
        _containment_auto_choice)
    assert _containment_auto_choice(
        _containment_shingles(spark, SF_SMOKE)[0]) == "naive"
    assert _containment_auto_choice(
        _containment_shingles(spark, str(sf))[0]) == "prefix"


def test_ann_lsh_filtered_recall_vs_exact_filtered(spark):
    """Label-filtered multi-probe LSH (r13): the label rides the bucket
    key (index-level pre-filter), and within-label top-5 -- a HARDER
    target than global top-5, since the restricted 5th-nearest sits
    lower in the similarity ladder -- still measures recall 1.0 at every
    gate SF and both r13 fresh-seed drills. The floor guards the
    approximation contract on regenerated corpora."""
    qs = _queries()
    exact = {(r.query_id, r.match_id)
             for r in qs["x2_cosine_topk_filtered"](spark, SF_CHECK).collect()}
    ann = {(r.query_id, r.match_id)
           for r in qs["x2_ann_lsh_filtered"](spark, SF_CHECK).collect()}
    assert len(exact & ann) / len(exact) >= 0.8


def test_ann_graph_beam_recall_and_invariant_face(spark):
    """Graph-ANN (NN-descent kNN graph + hub-seeded beam search, r13):
    measured min-per-query recall vs the exact face is 1.0 at every gate
    SF (constants' calibration note); the pytest floor re-asserts the
    COMMITTED floors on the check corpus, and the oracle-backed
    invariant face must come back EMPTY here (its gate semantics)."""
    qs = _queries()
    exact = {}
    for r in qs["x2_cosine_topk"](spark, SF_CHECK).collect():
        exact.setdefault(r.query_id, set()).add(r.match_id)
    got = {}
    for r in qs["x2_ann_graph_beam"](spark, SF_CHECK).collect():
        got.setdefault(r.query_id, set()).add(r.match_id)
    assert set(got) == set(exact)
    recalls = [len(exact[q] & got[q]) / len(exact[q]) for q in exact]
    from multiagent_form_schema_etl_spark.operators import similarity as s
    assert min(recalls) >= s._GRAPH_RECALL_FLOOR
    assert sum(recalls) / len(recalls) >= s._GRAPH_RECALL_MEAN_FLOOR
    assert qs["x2_ann_graph_recall"](spark, SF_CHECK).collect() == []


def test_ann_graph_construction_deterministic_and_bounded(spark):
    """The graph build must be REPRODUCIBLE (hash seeds + total
    tie-breaks: two independent builds emit the identical edge set --
    what lets the recall face stand as a per-corpus invariant) and
    BOUNDED: min(M, n-1) kNN out-edges per node plus the expander long
    links (~1 per link seed, hash-pairing variance bounded by the
    largest hash bucket -- never top-M'ed away, the x30 connectivity
    fix), so per-node degree sits in [M, M + a few]."""
    from multiagent_form_schema_etl_spark.operators import similarity as s

    a1 = {(r.src, r.dst) for r in
          s._graph_knn_adjacency(spark, SF_SMOKE).collect()}
    a2 = {(r.src, r.dst) for r in
          s._graph_knn_adjacency(spark, SF_SMOKE).collect()}
    assert a1 == a2 and len(a1) > 0
    import collections
    deg = collections.Counter(src for src, _ in a1)
    assert len(deg) == 500  # every vector has an adjacency row
    assert min(deg.values()) >= s._GRAPH_M  # kNN edges always present
    # long links add ~LINK_SEEDS edges; allow hash-bucket variance but
    # fail if degree ever grows unbounded (the scale contract)
    assert max(deg.values()) <= s._GRAPH_M + 4 * s._GRAPH_LINK_SEEDS


def test_ann_graph_recall_face_is_not_vacuous(spark, monkeypatch):
    """Tripwire (the WRONG_K/decimal-tripwire idiom): raising the
    committed floor above 1.0 must make the invariant face EMIT a
    violation row -- proving the empty gate result is a measured pass,
    not a vacuously-empty plan."""
    from multiagent_form_schema_etl_spark.operators import similarity as s

    monkeypatch.setattr(s, "_GRAPH_RECALL_FLOOR", 1.01)
    rows = s.x2_ann_graph_recall(spark, SF_SMOKE).collect()
    assert [r.violation for r in rows] == ["RECALL_MIN_BELOW_FLOOR"]
    assert rows[0].n_queries == 10 and rows[0].recall_min <= 1.0


def test_mmr_kernel_matches_independent_greedy():
    """The cogrouped MMR kernel must match an independently-written greedy
    (different iteration structure: heap-free argmax over a dict) on a
    hand-built pool with engineered ties and redundancy."""
    import numpy as np

    from multiagent_form_schema_etl_spark.operators.similarity import (
        _MMR_COMP, _MMR_LAMBDA, _mmr_kernel, _TOP_K)

    rng = np.random.default_rng(7)
    for trial in range(20):
        n = int(rng.integers(2, 12))
        cand_ids = sorted(rng.choice(1000, size=n, replace=False).tolist())
        qs = {c: round(float(rng.uniform(-1, 1)), 9) for c in cand_ids}
        if trial % 3 == 0 and n >= 3:  # engineered qsim tie
            qs[cand_ids[1]] = qs[cand_ids[0]]
        ps = {(a, b): round(float(rng.uniform(-1, 1)), 9)
              for a in cand_ids for b in cand_ids if a != b}
        # independent greedy: set-based, max() with explicit key tuple
        want, sel = [], []
        pool = set(cand_ids)
        while pool and len(sel) < _TOP_K:
            def key(c):
                s = (qs[c] if not sel else
                     _MMR_LAMBDA * qs[c]
                     - _MMR_COMP * max(ps[(c, s_)] for s_ in sel))
                return (-s, c)
            pick = min(pool, key=key)
            want.append((pick, -key(pick)[0], len(sel) + 1))
            sel.append(pick)
            pool.remove(pick)
        cdf = pd.DataFrame({"query_id": 0, "cand_id": cand_ids,
                            "qsim": [qs[c] for c in cand_ids]})
        pdf = pd.DataFrame([(0, a, b, v) for (a, b), v in ps.items()],
                           columns=["qid", "a_id", "b_id", "psim"])
        got = _mmr_kernel(cdf, pdf)
        assert [(int(r.match_id), float(r.mmr), int(r.rnk))
                for r in got.itertuples()] == want, trial


def test_mmr_face_diversifies_vs_plain_topk(spark):
    """Face invariants at sf0.001: rank-1 equals the exact top-1; emitted
    ids are distinct; every emitted id comes from the candidate pool
    (the exact top-20); and mmr <= qsim whenever the diversity max is
    positive (it is, on this corpus of near-duplicate clusters)."""
    q = _queries()
    mmr = q["x2_topk_mmr"](spark, SF_SMOKE).toPandas()
    exact = q["x2_cosine_topk"](spark, SF_SMOKE).toPandas()
    top1 = {int(r.query_id): int(r.match_id)
            for r in exact[exact.rnk == 1].itertuples()}
    for qid, grp in mmr.groupby("query_id"):
        assert int(grp[grp.rnk == 1]["match_id"].iloc[0]) == top1[int(qid)]
        assert grp["match_id"].is_unique
        assert (grp.sort_values("rnk")["rnk"].to_numpy()
                == range(1, len(grp) + 1)).all()
        later = grp[grp.rnk > 1]
        assert (later["mmr"] <= later["qsim"] + 1e-12).all()


def test_lsh_incremental_index_live_twin_and_tripwires(spark, tmp_path):
    """Incremental LSH index maintenance, pinned three ways: (1) the
    streaming upsert path emits exactly bands*|batch| signature rows per
    micro-batch and the assembled store is row-identical to a rebuild;
    (2) a REPLAYED batch (foreachBatch redelivery after failure) changes
    nothing -- the per-batch-overwrite sink is idempotent; (3) a DROPPED
    batch is caught by the face's anti-join comparison (the inverse
    tripwire: the equivalence check can actually fail)."""
    import shutil

    from pyspark.sql import functions as F

    from multiagent_form_schema_etl_spark.catalog import (load_table,
                                                          table_rowcount)
    from multiagent_form_schema_etl_spark.operators import similarity as sim

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "label", "embedding")
    n = table_rowcount(spark, SF_SMOKE, "embeddings")
    per_band = sim._lsh_per_band(n)
    thr = int(n * sim._INC_SPLIT)
    base, delta = (emb.filter(f"vec_id < {thr}"),
                   emb.filter(f"vec_id >= {thr}"))
    delta_dir = str(tmp_path / "delta")
    index_dir = str(tmp_path / "index")
    delta.repartition(3).write.parquet(delta_dir)
    (sim._lsh_signature_rows(base, per_band)
     .write.parquet(index_dir + "/batch=-1"))

    counts: dict[int, int] = {}
    batch_ids: dict[int, list[int]] = {}

    def upsert(bdf, batch_id):
        out = sim._lsh_signature_rows(bdf, per_band)
        counts[int(batch_id)] = out.count()
        batch_ids[int(batch_id)] = [
            r.vec_id for r in bdf.select("vec_id").collect()]
        out.write.mode("overwrite").parquet(index_dir + f"/batch={batch_id}")

    (spark.readStream.schema(emb.schema)
     .option("maxFilesPerTrigger", 1).parquet(delta_dir)
     .writeStream.foreachBatch(upsert)
     .option("checkpointLocation", str(tmp_path / "ckpt"))
     .trigger(availableNow=True).start().awaitTermination())

    # (1) per-batch emissions: bands * batch rows, >= 2 batches, and the
    # assembled store equals the rebuild row-for-row
    assert len(counts) >= 2
    n_delta = delta.count()
    bands = sim._LSH_SIM_BANDS
    assert sum(counts.values()) == bands * n_delta
    cols = ["vec_id", "label", "band", "bucket"]
    inc = spark.read.parquet(index_dir).select(*cols)
    full = sim._lsh_signature_rows(emb, per_band)
    assert full.join(inc, cols, "left_anti").count() == 0
    assert inc.join(full, cols, "left_anti").count() == 0

    # (2) replay idempotence: re-deliver batch 0's exact content via the
    # same sink (foreachBatch redelivery semantics)
    before = inc.count()
    replay = emb.filter(F.col("vec_id").isin(batch_ids[0]))
    upsert(replay, 0)
    inc2 = spark.read.parquet(index_dir).select(*cols)
    assert inc2.count() == before  # overwrite, not append: no growth
    assert inc2.join(full, cols, "left_anti").count() == 0

    # (3) dropped batch: delete one micro-batch's partition -> the face's
    # MISSING_FROM_INCREMENTAL anti-join must fire
    shutil.rmtree(index_dir + "/batch=1")
    inc3 = spark.read.parquet(index_dir).select(*cols)
    assert full.join(inc3, cols, "left_anti").count() > 0


def test_lsh_incremental_equiv_face_green(spark):
    """The registered face itself: zero violation rows at sf0.001."""
    got = _queries()["x2_ann_lsh_index_incremental"](spark, SF_SMOKE)
    assert got.count() == 0


def test_payload_neardup_sound_vs_python_bytes(spark):
    """Every x3_payload_neardup pair's jaccard must equal the exact
    byte-shingle Jaccard computed independently in plain Python over the
    raw utf-8 bytes (no hex detour, no Spark lineage), and clear the
    threshold; plus one known near-pair must be recalled."""
    from multiagent_form_schema_etl_spark.operators.multimodal import (
        _PND_THR, _PND_W)

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    raw = {int(r.doc_id): r.text.encode("utf-8") for r in docs.itertuples()}

    def shingles(b: bytes) -> set[bytes]:
        return {b[i:i + _PND_W] for i in range(len(b) - _PND_W + 1)}

    got = _queries()["x3_payload_neardup"](spark, SF_SMOKE).toPandas()
    assert len(got) > 0
    best = None
    for r in got.itertuples():
        sa, sb = shingles(raw[int(r.doc_a)]), shingles(raw[int(r.doc_b)])
        true_j = len(sa & sb) / len(sa | sb)
        assert true_j >= _PND_THR
        assert abs(true_j - float(r.jaccard)) < 1e-12, (r.doc_a, r.doc_b)
        best = max(best or 0.0, true_j)
    # recall sanity: the strongest emitted pair is a genuine near-dup
    assert best > 0.9
