#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare row count,
column names, and (order-insensitively) values.

Usage: python tools/check.py [query_name ...]   (default: all)
Env: SPARK_GRAFT_SF_DIR overrides the sf0.01 default (e.g. a full sf0.1
robustness pass -- catches LIMIT ties and scale-dependent divergence).
"""

from __future__ import annotations

import contextlib
import io
import math
import re
import sys
import time

sys.path.insert(0, ".")

import duckdb  # noqa: E402

import os
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

# ---------------------------------------------------------------------------
# Rounded-oracle boundary audit (VERDICT r8 item 3). The 9-dp-rounded faces
# reconcile ~1e-15 fp fold-order divergence (BLAS vs DuckDB native vs decimal
# SQL) by rounding BEFORE comparison; that argument fails only if a COMPARED
# cell's pre-round value sits within the divergence of a 0.5e-9 rounding-bin
# boundary (for thresholded faces, the threshold's own bin edge -- the same
# .5e-9 grid -- controls membership). This audit recomputes each face's
# compared cells at full double precision in DuckDB, reports the min
# |value - nearest boundary| per face, FAILS below 5e-15 (3x the 1.5e-15
# max observed cross-engine divergence: a flip is then genuinely imminent)
# and WARNS below 1e-12 -- so a regenerated corpus that straddles a bin is
# pre-detected, not a surprise hash FAIL.
#
# Exposure = compared cells ONLY, never all pairs: boundary distances are
# quasi-uniform on [0, 0.5e-9], so the expected min over n values is
# 0.5e-9/n -- an all-pairs exposure (1.2e5+ values) lands ~4e-15 on EVERY
# corpus and says nothing about the hash, while the compared sets (top-k
# rows + the rank-k+1 inclusion cell, >=threshold pairs + the membership
# skin, emitted norms) are what a flip can actually change. Integer-
# arithmetic ROUNDs (quality formulas, token fractions) are bit-identical
# on both engines by construction and are not exposed. Embeddings are
# 500-2000 rows here, so the exposures are cheap gate artifacts.
_COS_CTE = """
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
               FROM embeddings)"""
_BOUNDARY_EXPOSURES: dict[str, str] = {
    # emitted top-5 per query plus the rank-6 inclusion cell
    "topk_cells": _COS_CTE + """,
        cos AS (SELECT a.vec_id AS q, list_cosine_similarity(a.vec, b.vec) AS x
                FROM e a JOIN e b ON b.vec_id <> a.vec_id
                WHERE a.vec_id < 10)
        SELECT x FROM (SELECT x, ROW_NUMBER() OVER (PARTITION BY q
                                                    ORDER BY x DESC) AS r
                       FROM cos) WHERE r <= 6""",
    # filtered face: emitted top-5 per query WITHIN the query's label
    # plus the rank-6 inclusion cell (r13 -- same 9-dp grain, but the
    # boundary cells live in the label-restricted candidate universe)
    "topk_filtered_cells": """
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
               FROM embeddings),
        cos AS (SELECT a.vec_id AS q, list_cosine_similarity(a.vec, b.vec) AS x
                FROM e a JOIN e b
                  ON b.vec_id <> a.vec_id AND b.label = a.label
                WHERE a.vec_id < 10)
        SELECT x FROM (SELECT x, ROW_NUMBER() OVER (PARTITION BY q
                                                    ORDER BY x DESC) AS r
                       FROM cos) WHERE r <= 6""",
    # emitted top-3 neighbors per source plus the rank-4 inclusion cell
    "knn_cells": _COS_CTE + """,
        cos AS (SELECT a.vec_id AS s, list_cosine_similarity(a.vec, b.vec) AS x
                FROM e a JOIN e b ON b.vec_id <> a.vec_id)
        SELECT x FROM (SELECT x, ROW_NUMBER() OVER (PARTITION BY s
                                                    ORDER BY x DESC) AS r
                       FROM cos) WHERE r <= 4""",
    # emitted >=0.45 pair cosines plus the membership skin below the edge
    "emb_pairs_045": _COS_CTE + """
        SELECT list_cosine_similarity(a.vec, b.vec) AS x
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.vec, b.vec) >= 0.45 - 2e-9""",
    # clusters emit only component MEMBERSHIP -- just the 0.45 edge skin
    "emb_skin_045": _COS_CTE + """
        SELECT list_cosine_similarity(a.vec, b.vec) AS x
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.vec, b.vec)
              BETWEEN 0.45 - 2e-9 AND 0.45 + 2e-9""",
    # decon emits per-train max cosine + hit counts: >=0.42 cells + skin
    "decon_pairs_042": _COS_CTE + """
        SELECT list_cosine_similarity(t.vec, h.vec) AS x
        FROM e t JOIN e h
          ON (NOT t.vec_id % 10 >= 8) AND h.vec_id % 10 >= 8
        WHERE list_cosine_similarity(t.vec, h.vec) >= 0.42 - 2e-9""",
    # x4_bm25_topk: pre-round BM25 sums of the emitted top-10 per query
    # plus the rank-11 inclusion cell (the rank-k boundary the truncation
    # adds over the full-ranking face). Built lazily from the face's own
    # scored CTE below (the module import needs sys.path set first).
    "bm25_topk_cells": None,  # filled by _install_bm25_exposure()
    # x5_weighted_sample_topk: pre-round Efraimidis-Spirakis keys of the
    # emitted top-25 per language plus the rank-26 inclusion cell. Built
    # lazily from the face's own key SQL below.
    "ws_topk_cells": None,  # filled by _install_ws_exposure()
    # x1_dedup_tfidf_cosine: pre-round cosines of the emitted >= 0.85
    # pairs plus the threshold skin. Built lazily from the face's own
    # scored CTE below.
    "tfidf_pairs_085": None,  # filled by _install_tfidf_exposure()
    # x1_graph_adamic_adar: pre-round AA sums of every emitted cell
    # (no threshold -- all open wedges are emitted). Built lazily from
    # the face's own scored CTE below.
    "aa_cells": None,  # filled by _install_aa_exposure()
    # x4_perplexity_unigram: pre-round cross-entropies of every emitted
    # held-out doc. Built lazily from the face's own oracle below.
    "ppl_cells": None,  # filled by _install_ppl_exposure()
    # x4_perplexity_bigram: same recipe over the interpolated-bigram CTE
    "ppl2_cells": None,  # filled by _install_ppl2_exposure()
    # x4_zipf_heaps_stats: pre-round regression slopes (every emitted cell)
    "zipf_cells": None,  # filled by _install_zipf_exposure()
    # x2_topk_mmr: pre-round cosines of every value entering an MMR
    # decision -- pool inclusion (top C+1 per query by the rounded rank)
    # plus every pairwise candidate cosine feeding the diversity max.
    # The greedy arithmetic itself runs on identical post-round doubles
    # in both engines, so the 9-dp rounding of qsim/psim is the ONLY
    # cross-engine surface. Built lazily from the face's own CTE.
    "mmr_cells": None,  # filled by _install_mmr_exposure()
    # x5_drift_psi: every un-rounded cell the face rounds -- per-bin
    # p_ref/p_cur and the psi/kl contributions (totals are exact decimal
    # sums of the rounded contributions, so no exposure needed there).
    # Built lazily from the face's own CTE below.
    "psi_cells": None,  # filled by _install_psi_exposure()
    # x2_embedding_drift: pre-round centroid cosines + L2 shifts per label
    # (all cells emitted; the aggregates themselves are decimal-exact).
    "emb_drift_cells": None,  # filled by _install_emb_drift_exposure()
    # pre-round centered norms of x2_grouped_center_applyinpandas (all
    # cells are emitted)
    "centered_norms": """
        WITH e AS (
          SELECT vec_id, label,
                 unnest(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                   AS v,
                 unnest(range(1, length(embedding) + 1)) AS i
          FROM embeddings),
        mu AS (SELECT label, i, AVG(v) AS mu FROM e GROUP BY label, i)
        SELECT sqrt(SUM((e.v - mu.mu) * (e.v - mu.mu))) AS x
        FROM e JOIN mu ON e.label = mu.label AND e.i = mu.i
        GROUP BY e.vec_id, e.label""",
}
def _install_bm25_exposure() -> None:
    """Derive the bm25_topk_cells exposure from the face's own scored CTE
    (un-rounding the bm25 column) so the audit can never drift from the
    registered statement; rank cut at k+1 = 11 exposes the inclusion cell."""
    from multiagent_form_schema_etl_spark.operators.textstats import (
        _BM25_SCORED_CTE)
    raw = _BM25_SCORED_CTE.replace("ROUND(SUM(part), 9) AS bm25",
                                   "SUM(part) AS bm25")
    assert raw != _BM25_SCORED_CTE, "bm25 scored CTE shape changed"
    _BOUNDARY_EXPOSURES["bm25_topk_cells"] = raw + """
        SELECT bm25 AS x FROM (
          SELECT bm25, ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY bm25 DESC, doc_id) AS r
          FROM scored) WHERE r <= 11"""


def _install_ws_exposure() -> None:
    """Derive the ws_topk_cells exposure from the weighted-sample face's
    own key expression (un-rounded) so the audit cannot drift from the
    registered statement; rank cut at k+1 = 26 exposes the inclusion
    cell each language's budget boundary sits on."""
    from multiagent_form_schema_etl_spark.operators.llmprep import (
        _WS_K, _es_key_sql)
    # Rank by the ROUNDED key (the face's actual sort key, ADVICE r11) so
    # the exposed rank-(k+1) cell is the face's real inclusion boundary;
    # emit the pre-round value x for the gap measurement.
    _BOUNDARY_EXPOSURES["ws_topk_cells"] = f"""
        WITH keyed AS (
          SELECT lang, doc_id, {_es_key_sql('duck', rounded=False)} AS x,
                 {_es_key_sql('duck', rounded=True)} AS xr
          FROM documents)
        SELECT x FROM (
          SELECT x, ROW_NUMBER() OVER (PARTITION BY lang
                                       ORDER BY xr DESC, doc_id) AS r
          FROM keyed) WHERE r <= {_WS_K + 1}"""


def _install_tfidf_exposure() -> None:
    """Derive tfidf_pairs_085 from the face's own scored CTE (the emitted
    cells plus the membership skin -- the emb_pairs_045 shape)."""
    from multiagent_form_schema_etl_spark.operators.dedup import (
        _TFIDF_SCORED_CTE, _TFIDF_THR)
    _BOUNDARY_EXPOSURES["tfidf_pairs_085"] = _TFIDF_SCORED_CTE + f"""
        SELECT cosine AS x FROM cos WHERE cosine >= {_TFIDF_THR} - 2e-9"""


def _install_aa_exposure() -> None:
    """Derive aa_cells from the Adamic-Adar face's own scored CTE (every
    cell is emitted -- no threshold, so the exposure is the output)."""
    from multiagent_form_schema_etl_spark.operators.dedup import (
        _AA_SCORED_CTE)
    _BOUNDARY_EXPOSURES["aa_cells"] = _AA_SCORED_CTE + """
        SELECT aa AS x FROM scored"""


def _install_ppl_exposure() -> None:
    """Derive ppl_cells from the perplexity face's own oracle by swapping
    its final projection for the single un-rounded ce column (every
    held-out doc's cross-entropy is an emitted cell)."""
    from multiagent_form_schema_etl_spark.operators.textstats import (
        _ppl_oracle)
    head, sep, _ = _ppl_oracle().rpartition("SELECT doc_id, lang,")
    assert sep, "perplexity oracle shape changed"
    _BOUNDARY_EXPOSURES["ppl_cells"] = head + "SELECT ce AS x FROM scored"


def _install_ppl2_exposure() -> None:
    """ppl2_cells from the bigram face's own scored CTE (same recipe as
    ppl_cells: every held-out doc's un-rounded ce is an emitted cell)."""
    from multiagent_form_schema_etl_spark.operators.textstats import (
        _ppl2_oracle_cte)
    _BOUNDARY_EXPOSURES["ppl2_cells"] = (_ppl2_oracle_cte()
                                         + "SELECT ce AS x FROM scored")


def _install_zipf_exposure() -> None:
    """zipf_cells from the face's own scored CTE (every emitted per-lang
    pre-round slope is a compared cell)."""
    from multiagent_form_schema_etl_spark.operators.textstats import (
        _zipf_oracle_cte)
    _BOUNDARY_EXPOSURES["zipf_cells"] = (
        _zipf_oracle_cte()
        + "SELECT slope AS x FROM scored WHERE slope IS NOT NULL")


def _install_mmr_exposure() -> None:
    """Derive mmr_cells from the MMR face's own shared CTE (which carries
    qsim_raw/psim_raw pre-round columns precisely for this audit): the
    pool-inclusion cells ranked by the ROUNDED qsim (the face's real
    membership boundary, the ws_topk_cells recipe) at C+1, plus every
    candidate-pair psim (each one can flip the diversity max)."""
    from multiagent_form_schema_etl_spark.operators.similarity import (
        _MMR_CTE, _MMR_POOL)
    _BOUNDARY_EXPOSURES["mmr_cells"] = _MMR_CTE + f"""
        SELECT x FROM (
          SELECT qsim_raw AS x,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY qsim DESC, match_id) AS r
          FROM cos) WHERE r <= {_MMR_POOL + 1}
        UNION ALL
        SELECT psim_raw AS x FROM pairs"""


def _install_psi_exposure() -> None:
    """Derive psi_cells from the drift face's own contrib CTE: every
    un-rounded probability and contribution cell (all are emitted)."""
    from multiagent_form_schema_etl_spark.operators.llmprep import _PSI_CTE
    _BOUNDARY_EXPOSURES["psi_cells"] = _PSI_CTE + """
        SELECT pr AS x FROM contrib
        UNION ALL SELECT pc FROM contrib
        UNION ALL SELECT psi_raw FROM contrib
        UNION ALL SELECT kl_raw FROM contrib"""


def _install_emb_drift_exposure() -> None:
    """Derive emb_drift_cells from the embedding-drift face's own agg CTE:
    every pre-round centroid cosine and L2 shift (all cells emitted)."""
    from multiagent_form_schema_etl_spark.operators.similarity import (
        _EMB_DRIFT_CTE)
    _BOUNDARY_EXPOSURES["emb_drift_cells"] = _EMB_DRIFT_CTE + """
        SELECT dot / (nr * nc) AS x FROM agg
        UNION ALL SELECT l2 FROM agg"""


_BOUNDARY_FACES: dict[str, str] = {
    "x4_bm25_topk": "bm25_topk_cells",
    "x5_weighted_sample_topk": "ws_topk_cells",
    "x1_dedup_tfidf_cosine": "tfidf_pairs_085",
    "x1_graph_adamic_adar": "aa_cells",
    "x4_perplexity_unigram": "ppl_cells",
    "x4_perplexity_bigram": "ppl2_cells",
    "x4_zipf_heaps_stats": "zipf_cells",
    "x5_drift_psi": "psi_cells",
    "x2_embedding_drift": "emb_drift_cells",
    "x2_cosine_topk": "topk_cells",
    "x2_cosine_topk_gemm": "topk_cells",
    "x2_cosine_topk_bruteforce": "topk_cells",
    "x2_cosine_topk_filtered": "topk_filtered_cells",
    "x2_topk_mmr": "mmr_cells",
    "x2_ann_lsh_filtered": "topk_filtered_cells",
    "x2_ann_lsh_buckets": "topk_cells",
    "x2_ann_pq_adc": "topk_cells",
    "x2_ann_ivf_kmeans": "topk_cells",
    "x2_knn_graph": "knn_cells",
    "x1_dedup_embedding_auto": "emb_pairs_045",
    "x1_dedup_embedding_cosine": "emb_pairs_045",
    "x1_dedup_embedding_ivf": "emb_pairs_045",
    "x1_dedup_semantic_clusters": "emb_skin_045",
    "x5_decontaminate_semantic": "decon_pairs_042",
    "x2_grouped_center_applyinpandas": "centered_norms",
}
_BOUNDARY_FAIL = 5e-15  # flip imminent: inside 3x the max observed divergence
_BOUNDARY_WARN = 1e-12  # worth a look on the next corpus regeneration

# Faces registered against an EXACT oracle whose hash match is really a
# standing recall == 1.0 assertion at the committed knobs (NOTES_r9 item 8,
# ADVICE r9): on a hash FAIL, say so, so a regenerated/adversarial corpus
# is diagnosed as a recall shortfall rather than an engine bug.
_APPROX_FACES = frozenset({
    "x2_ann_lsh_buckets", "x2_ann_pq_adc", "x2_ann_ivf_kmeans",
    "x1_dedup_embedding_ivf", "x2_ann_lsh_filtered",
})


def _boundary_dist(x: float) -> float:
    """Distance from x to the nearest odd multiple of 0.5e-9 (the ties of
    ROUND(x, 9)), in value units. The x*1e9 scaling loses < 2e-16 of
    absolute precision for |x| <= ~2, below the 5e-15 gate's resolution
    but disclosed in the printed figure's last digits."""
    s = x * 1e9
    return abs((s - math.floor(s)) - 0.5) * 1e-9


def boundary_audit(con, faces: list[str]) -> list[str]:
    """Report min pre-round boundary distance per rounded face; return
    the faces whose compared cells dip below the imminent-flip bound."""
    if _BOUNDARY_EXPOSURES.get("bm25_topk_cells") is None:
        _install_bm25_exposure()
    if _BOUNDARY_EXPOSURES.get("ws_topk_cells") is None:
        _install_ws_exposure()
    if _BOUNDARY_EXPOSURES.get("tfidf_pairs_085") is None:
        _install_tfidf_exposure()
    if _BOUNDARY_EXPOSURES.get("aa_cells") is None:
        _install_aa_exposure()
    if _BOUNDARY_EXPOSURES.get("ppl_cells") is None:
        _install_ppl_exposure()
    if _BOUNDARY_EXPOSURES.get("ppl2_cells") is None:
        _install_ppl2_exposure()
    if _BOUNDARY_EXPOSURES.get("zipf_cells") is None:
        _install_zipf_exposure()
    if _BOUNDARY_EXPOSURES.get("mmr_cells") is None:
        _install_mmr_exposure()
    if _BOUNDARY_EXPOSURES.get("psi_cells") is None:
        _install_psi_exposure()
    if _BOUNDARY_EXPOSURES.get("emb_drift_cells") is None:
        _install_emb_drift_exposure()
    failures: list[str] = []
    mins: dict[str, tuple[float, int]] = {}
    for exp in sorted({_BOUNDARY_FACES[f] for f in faces}):
        vals = [v for (v,) in con.execute(_BOUNDARY_EXPOSURES[exp]).fetchall()
                if v is not None and math.isfinite(v)]
        mins[exp] = (min(map(_boundary_dist, vals), default=math.inf),
                     len(vals))
    for f in faces:
        d, n = mins[_BOUNDARY_FACES[f]]
        status = ("FAIL" if d < _BOUNDARY_FAIL
                  else "warn" if d < _BOUNDARY_WARN else "ok")
        print(f"BOUNDARY {f}: exposure={_BOUNDARY_FACES[f]} n={n} "
              f"min_dist={d:.3e} [{status}]")
        if d < _BOUNDARY_FAIL:
            failures.append(f)
    return failures


# ---------------------------------------------------------------------------
# Plan-regression guard (VERDICT r8 item 7): PLANS.md is regenerated each
# round but nothing FAILED if a plan regressed. Every checked query's
# physical plan is asserted here: CartesianProduct, Python-eval nodes and
# Python-RDD scan leaves may appear ONLY on the committed allowlist, and
# no Window may run with an empty partition spec on anything but the
# allowlisted dimension-sized relations (an unpartitioned window over a
# fact relation is the single-executor bottleneck the rrf rewrite removed
# in r8).
_CART_ALLOW: frozenset[str] = frozenset()  # intentional tiny cross joins
#   plan as BroadcastNestedLoopJoin, never CartesianProduct -- keep empty
_PYUDF_ALLOW: frozenset[str] = frozenset({
    # declared Arrow-batched faces (mapInPandas / applyInPandas / UDTF /
    # pandas UDAF) -- each docstring states why built-ins can't express it
    "doc_u1_model_labeled_clauses", "doc_u1_label_scaffold_equiv",
    "f_udtf_word_explode",
    "st_stateful_threshold_batches", "x1_dedup_embedding_auto",
    "x1_dedup_embedding_cosine",
    "x1_dedup_embedding_ivf", "x1_graph_pagerank", "x1_graph_pagerank_star",
    "x1_graph_pagerank_rank_equiv",
    # r10: block-local union-find components (valid behind the pair
    # generator's (lang, length-bucket) blocking invariant)
    "x1_dedup_keep_best_quality", "x1_dedup_apply_keeplist",
    "x2_ann_ivf_kmeans", "x2_ann_pq_adc",
    "x2_grouped_center_applyinpandas", "x2_knn_graph",
    "x3_decode_feature_stub", "x5_decontaminate_semantic",
    # r12: per-user EWMA -- sequential recursion on the previous OUTPUT,
    # inexpressible in one window pass (the threshold-batches argument)
    "st_ewma_smoothing",
    # r14: greedy MMR selection -- each pick depends on the previously
    # SELECTED set (the EWMA argument, set-valued); the cogrouped kernel
    # sees only the bounded |Q|*pool candidate/pair rows
    "x2_topk_mmr",
})
# Faces allowed to read a constant table decoded by Python workers at
# execution time (`Scan ExistingRDD` over applySchemaToPythonRDD, i.e.
# spark.createDataFrame(<list>)). Constant tables go through
# catalog.local_df (a LocalRelation) -- keep empty.
_PYRDD_ALLOW: frozenset[str] = frozenset()
_UNPART_WINDOW_ALLOW: frozenset[str] = frozenset({
    # the repo's TWO deliberate unpartitioned windows, each with a
    # docstring-stated size bound: the dimension-sized ntile
    # (windows.py -- customer sample) and the clamp-bounded bucket-table
    # prefix window of the two-phase sharder (llmprep.py -- the window
    # sees one row per doc_id-range bucket, never the fact relation)
    "w_ntile_acctbal_quartiles",
    "x5_shard_by_budget",
    # r11: the end-to-end pipeline face embeds the SAME two-phase sharder
    # (its unpartitioned window is the clamp-bounded coarse bucket table,
    # never the fact relation -- the x5_shard_by_budget justification; the
    # plan carries the window twice because the offsets relation is both
    # built and broadcast-joined)
    "x5_corpus_pipeline_end_to_end",
    # r10: sorted-neighborhood rank assignment -- row_number over the
    # DISTINCT NAME DIMENSION (64 rows at sf0.1), never the fact table.
    # r11: the bound is now ENFORCED in the face itself (it raises if the
    # name relation exceeds _SN_NAME_DIM_MAX = 1M rows; pinned in
    # tests/test_differential.py::test_sn_name_dimension_guard), so this
    # allowlist entry rides a guard, not just a docstring claim
    "x1_entity_sorted_neighborhood",
    # r11: RFM quartile assignment -- three ntile windows over the USER
    # dimension (one row per user, 150 at sf0.01), never the event fact
    # relation; enforced in the face with an eager count that raises past
    # _RFM_USER_DIM_MAX = 5M (the SN guard idiom)
    "st_rfm_segmentation",
})


def _unpartitioned_windows(plan: str) -> int:
    """Count Window nodes with an empty partition spec in a formatted
    explain. A Window node's detail reads
    `Arguments: [funcs], [partition cols], [order cols]` -- but formatted
    explain OMITS an empty group entirely (verified on Spark 4.1: an
    unpartitioned running sum prints `[funcs], [id ASC NULLS FIRST]`), so
    an unpartitioned window is a TWO-group Arguments whose trailing group
    is an order spec (contains ASC/DESC); two groups with a plain column
    list are a partitioned-no-order window, which is fine."""
    n = 0
    for block in re.split(r"\n\(\d+\) ", plan):
        first = block.partition("\n")[0].strip()
        if first != "Window":
            continue
        m = re.search(r"Arguments: (.*)", block)
        if not m:
            continue
        args = m.group(1)
        groups = args.count("], [") + 1
        if groups >= 3:
            continue  # funcs + partition + order: partitioned
        tail = args.rsplit("], [", 1)[-1]
        if " ASC" in tail or " DESC" in tail:
            n += 1
    return n


def plan_guard(name: str, sdf) -> list[str]:
    """Return plan-regression problems for one built DataFrame (cheap:
    driver-side explain of the already-analyzed plan)."""
    buf = io.StringIO()
    try:
        with contextlib.redirect_stdout(buf):
            sdf.explain("formatted")
    except Exception as ex:
        # ADVICE r9: a face whose plan generation breaks must be visibly
        # unguarded, not silently skip the regression checks
        print(f"     WARNING {name}: plan_guard could not explain the "
              f"plan ({type(ex).__name__}: {ex}); Cartesian/Python-eval/"
              "Python-RDD/Window regression checks skipped for this face")
        return []
    plan = buf.getvalue()
    problems = []
    cart = plan.count("CartesianProduct")
    if cart and name not in _CART_ALLOW:
        problems.append(f"plan regression: {cart} CartesianProduct node(s)")
    pyudf = (plan.count("BatchEvalPython") + plan.count("ArrowEvalPython")
             + plan.count("MapInPandas") + plan.count("FlatMapGroupsInPandas"))
    if pyudf and name not in _PYUDF_ALLOW:
        problems.append(f"plan regression: {pyudf} Python-eval node(s) "
                        "off the declared allowlist")
    pyrdd = len(re.findall(r"Arguments: [^\n]*applySchemaToPythonRDD", plan))
    if pyrdd and name not in _PYRDD_ALLOW:
        problems.append(f"plan regression: {pyrdd} Python-RDD scan leaf(s) "
                        "off the declared allowlist")
    unp = _unpartitioned_windows(plan)
    if unp and name not in _UNPART_WINDOW_ALLOW:
        problems.append(f"plan regression: {unp} unpartitioned Window "
                        "node(s)")
    return problems


def canon(v):
    """Canonicalize a cell for order-insensitive comparison."""
    import datetime
    import decimal
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision: we demand bit-identical doubles
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple, dict)):
        # The driver hashes result cells through pandas factorize, which
        # raises on unhashable list/map cells -- so must we.
        raise TypeError(f"complex-typed result cell not allowed: {v!r}")
    return str(v)


def rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in idx) for r in rows)


def rows_and_frame(sdf):
    """(rows, pandas frame) of ONE execution of ``sdf``. The Arrow batches
    are collected once; ``toPandas`` converts those same batches with its
    own code (so the frame's dtypes are what a ``toPandas`` execution
    gives), and the rows are the same batches through PySpark's
    Arrow-to-Row conversion."""
    import pyarrow as pa
    from pyspark.sql.conversion import ArrowTableToRowsConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    batches = sdf._collect_as_arrow()
    table = (pa.Table.from_batches(batches) if batches
             else to_arrow_schema(sdf.schema).empty_table())
    rows = ArrowTableToRowsConversion.convert(table, sdf.schema,
                                              return_as_tuples=True)
    sdf._collect_as_arrow = lambda **_: batches  # toPandas reads these
    return rows, sdf.toPandas()


def main() -> int:
    # Leak/copy guard gates every check run (VERDICT r5 item 7): a
    # non-allowlisted import or reference-distinctive token in code
    # fails the sweep before any query runs.
    from tools import guard
    if guard.main() != 0:
        return 1

    import __spark_entry__ as e
    from multiagent_form_schema_etl_spark.session import get_spark

    # argparse instead of positional sniffing (ADVICE r10: `--window extra`
    # used to treat '--window' as a query name and KeyError mid-run)
    import argparse
    ap = argparse.ArgumentParser(
        description="oracle gate replica (driver CORRECTNESS twin)")
    ap.add_argument("--window", action="store_true",
                    help="run exactly the driver's checked window (the "
                         "first 50 of ordered_query_names); combines with "
                         "extra query names")
    ap.add_argument("names", nargs="*", metavar="query_name")
    a = ap.parse_args()
    qs, oracles = e.queries(), e.oracle_sql()
    names = (list(qs)[:50] if a.window else []) + list(a.names)
    if not names:
        names = sorted(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        ap.error(f"unknown query names (not in queries()): {unknown}")

    spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    failed = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF_DIR)
            scols = sdf.columns
            if name in oracles:
                srows, spdf = rows_and_frame(sdf)
            else:
                srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failed.append(name)
            continue
        plan_problems = plan_guard(name, sdf)
        if plan_problems:
            print(f"FAIL {name}: " + "; ".join(plan_problems))
            failed.append(name)
            continue
        complex_cols = [f.name for f in sdf.schema.fields
                        if f.dataType.typeName() in ("array", "map", "struct")]
        if complex_cols and name in oracles:
            # mirror the driver: its pandas-based hasher crashes on these
            print(f"FAIL {name}: complex-typed result columns {complex_cols} "
                  f"(driver hasher rejects list/map/struct cells)")
            failed.append(name)
            continue
        decimal_cols = [f.name for f in sdf.schema.fields
                        if f.dataType.typeName() == "decimal"]
        if decimal_cols and name in oracles:
            # VERDICT r11: DecimalType columns reach pandas as object-dtype
            # Decimal cells, which the driver's factorize hasher
            # distinguishes from DuckDB's float64 -- a guaranteed hash
            # mismatch our canon() used to paper over. Output convention is
            # cast-to-double; enforce it here like list/map cells.
            print(f"FAIL {name}: DecimalType result columns {decimal_cols} "
                  f"(driver hasher sees Decimal cells != oracle float64; "
                  f"cast to double per output convention)")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only check, {len(srows)} rows "
                  f"({time.time()-t0:.1f}s)")
            if len(srows) == 0:
                print(f"     WARNING {name}: zero rows")
            continue
        try:
            # the oracle runs once; its rows and its pandas dtypes are both
            # read back from the one materialized result
            con.execute("CREATE OR REPLACE TEMP TABLE _oracle AS "
                        + oracles[name])
            res = con.execute("SELECT * FROM _oracle")
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failed.append(name)
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        else:
            # dtype-kind parity: a strict driver hashing pandas frames would
            # see int-vs-float drift (e.g. DuckDB HUGEINT sums -> float64)
            try:
                ddf = con.execute("SELECT * FROM _oracle").df()
                for c in ddf.columns:
                    dk = ddf[c].dtype.kind
                    sk = spdf[c].dtype.kind if c in spdf.columns else None
                    # pandas coerces nullable ints to float on both sides,
                    # so comparing frame-to-frame is the honest check
                    if sk and dk in "if" and sk in "if" and dk != sk:
                        problems.append(f"dtype kind mismatch col={c} "
                                        f"spark={sk} duck={dk}")
                    # VERDICT r11 blind spot: an object-kind Spark column
                    # against a numeric oracle column (Decimal cells) is a
                    # guaranteed driver hash mismatch -- FAIL it here too.
                    if sk == "O" and dk in "if":
                        problems.append(
                            f"object-dtype numeric col={c} (Decimal cells?) "
                            f"vs duck {dk} -- driver hash will mismatch")
            except Exception:
                pass
        if not problems:
            s, d = rowset(scols, srows), rowset(dcols, drows)
            if s != d:
                diff = [(a, b) for a, b in zip(s, d) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            if name in _APPROX_FACES:
                # ADVICE r9: these faces share an EXACT oracle because
                # measured recall is 1.0 at the committed knobs -- a hash
                # FAIL here may be a recall shortfall on a new corpus,
                # not an engine bug; point the diagnosis the right way
                problems.append(
                    "(approximate face: possible recall shortfall at the "
                    "committed knobs on this corpus -- run "
                    "tools/scale_probe.py --ann before suspecting the "
                    "engine)")
            print(f"FAIL {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"PASS {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")

    exposed = [n for n in names if n in _BOUNDARY_FACES and n not in failed]
    if exposed:
        print()
        failed.extend(boundary_audit(con, exposed))

    print(f"\n{len(names)-len(failed)}/{len(names)} passed")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
