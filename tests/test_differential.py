"""Randomized differential tests: the Spark sessionizer must agree with an
independent row-at-a-time Python model of the reference's clause-graph scan
(layout_analysis/layout_structure.py:138-208 semantics, re-derived from the
spec -- word-level triggers, key extraction with 2-word lookahead, first-key-
wins accumulation, content filtered to paragraph/list_item) on randomly
generated documents. One Spark job covers the whole corpus, so the test is
cheap despite 40 random docs."""

from __future__ import annotations

import random
import re

import pytest


# --- independent python model (spec re-derivation, not a code port) ---------

_SECNUM = [re.compile(p, re.IGNORECASE) for p in (
    r"^\d+\.(\d+\.?)*$", r"^Article\s+\d+", r"^Section\s+\d+",
    r"^\(\d+\)", r"^[A-Z]\.")]


def _extract_key(word: str, ctx: list[str]) -> str | None:
    w = word.rstrip(".")
    if w.lower() in ("article", "section"):
        for nxt in ctx[1:3]:
            if nxt.isdigit():
                return f"{w}_{nxt}"
        return None
    if re.match(r"^\d+(\.\d+)*$", w):
        return w
    m = re.match(r"^\((\d+)\)$", w)
    if m:
        return m.group(1)
    return None


def model_clauses(blocks: list[tuple[str, str]]) -> dict[str, str]:
    """blocks: [(text, label)] in order -> {section_key: clause_text}."""
    words: list[tuple[str, str]] = []
    for text, label in blocks:
        if not text.strip():
            continue
        for w in (t for t in text.split(" ") if t):
            words.append((w, label))
    graph: dict[str, list[str]] = {}
    current: str | None = None
    toks = [w for w, _ in words]
    for i, (word, label) in enumerate(words):
        if label == "heading" or any(r.match(word) for r in _SECNUM):
            key = _extract_key(word, toks[i:i + 5])
            if key:
                current = key
                graph.setdefault(current, [])
        elif current is not None and label in ("paragraph", "list_item"):
            graph[current].append(word)
    return {k: " ".join(v) for k, v in graph.items()}


# --- corpus generator --------------------------------------------------------

_WORDS = ["the", "party", "agreement", "shall", "Acme", "terms", "apply",
          "notice", "days", "governed", "by", "laws", "of", "state"]
_SECTIONY = ["1.", "2.1", "3.1.4", "(2)", "(17)", "A.", "B.", "Article",
             "Section", "5", "12", "9.", "x.", "1,2", "10."]
_LABELS = ["paragraph", "paragraph", "paragraph", "list_item", "heading",
           "caption", "other"]


def _random_blocks(rng: random.Random) -> list[tuple[str, str]]:
    blocks = []
    for _ in range(rng.randint(1, 8)):
        n = rng.randint(0, 12)
        toks = [rng.choice(_WORDS + _SECTIONY) for _ in range(n)]
        blocks.append((" ".join(toks), rng.choice(_LABELS)))
    return blocks


def test_sessionizer_matches_python_model(spark):
    from multiagent_form_schema_etl_spark.operators.document import clauses_df

    rng = random.Random(7)
    corpora = {doc_id: _random_blocks(rng) for doc_id in range(40)}
    rows = []
    for doc_id, blocks in corpora.items():
        for idx, (text, label) in enumerate(blocks):
            rows.append((doc_id, 0, idx, text, label, 1.0, "native",
                         None, None, None, None))
    blocks_df = spark.createDataFrame(
        rows,
        "doc_id long, page long, block_idx long, text string, label string, "
        "confidence double, source string, x0 double, y0 double, "
        "x1 double, y1 double")

    got: dict[int, dict[str, str]] = {}
    for r in clauses_df(spark, blocks_df).collect():
        got.setdefault(r["doc_id"], {})[r["section_key"]] = r["clause_text"]

    mismatches = []
    for doc_id, blocks in corpora.items():
        want = model_clauses(blocks)
        if got.get(doc_id, {}) != want:
            mismatches.append((doc_id, blocks, got.get(doc_id, {}), want))
    assert not mismatches, mismatches[:2]


# --- extraction-cascade differential ----------------------------------------

_DATE_PATS = [
    r"(\d{4}-\d{1,2}-\d{1,2})",
    r"(\d{1,2}/\d{1,2}/\d{4})",
    r"(January|February|March|April|May|June|July|August|September|October|November|December)\s+(\d{1,2}),?\s+(\d{4})",
    r"(\d{1,2})\s+(January|February|March|April|May|June|July|August|September|October|November|December)\s+(\d{4})",
]


def _model_parse(value: str | None, ftype: str) -> str | None:
    if value is None or not value or value.lower() in ("none", "null", "n/a", ""):
        return None
    value = value.strip()
    if ftype == "date":
        for p in _DATE_PATS:
            m = re.search(p, value, re.IGNORECASE)
            if m:
                return m.group(0)
        return None
    if ftype == "number":
        m = re.search(r"(\d+(?:\.\d+)?)", value)
        return m.group(1) if m else None  # engine contract: token verbatim
    if ftype == "boolean":
        return ("true" if value.lower() in ("true", "yes", "1", "agree", "agreed")
                else "false")
    return value


def _model_cascade(text: str, ftype: str, patterns: list[str],
                   keywords: list[str]) -> str | None:
    for p in patterns or []:
        m = re.search(p, text, re.IGNORECASE | re.DOTALL)
        if m:
            return _model_parse(m.group(1), ftype)
    for kw in keywords or []:
        for kp in (kw + r"\s*[:=]\s*([^\n\.;,]+)", kw + r"\s+([^\n\.;,]+)"):
            m = re.search(kp, text, re.IGNORECASE)
            if m:
                v = m.group(1).strip()
                if v and v.lower() != "n/a":
                    out = _model_parse(v, ftype)
                    break
        else:
            continue
        if out is not None:
            return out
    return None


_FRAGMENTS = [
    "this deal is effective on {date} for all sides",
    "effective as of 2021-13-77 pending review",
    "the disclosing party means {name}, among others",
    "the owner : {name2}, signs here",
    "receiving party means n/a, oddly",
    "it is governed by the laws of {place}, fully",
    "all claims are subject to the {place} jurisdiction, ok",
    "termination notice period : {num} days written notice",
    "notice {num} months apply",
    "maintain confidentiality for a period of {num} years after",
    "the confidentiality period of indefinite applies",
    "contact email : {name}@corp.example is listed",
    "the customer agreed yes to it",
    "service fee : USD {num},00{num}.50 due",
    "support days : {num} per annum",
    "priority : {name} class selected",
    "plain filler words with no fields at all",
    "numbers like 7.25 appear here",
]
_DATES = ["March 3, 2021", "2022-07-19", "4/7/1999", "19 August 2020", "tomorrow"]
_NAMES = ["Acme Corp", "Zeta", "gold", "Big Data LLC"]
_PLACES = ["California", "New York", "Bavaria and Saxony"]


def test_extraction_cascade_matches_python_model(spark):
    from multiagent_form_schema_etl_spark.fixtures import SCHEMA_ROWS
    from multiagent_form_schema_etl_spark.operators.document import extraction_df

    rng = random.Random(11)
    docs = {}
    for doc_id in range(30):
        n = rng.randint(2, 6)
        parts = [rng.choice(_FRAGMENTS).format(
            date=rng.choice(_DATES), name=rng.choice(_NAMES),
            name2=rng.choice(_NAMES), place=rng.choice(_PLACES),
            num=rng.randint(1, 400)) for _ in range(n)]
        docs[doc_id] = ". ".join(parts) + "."

    rows = [(doc_id, 0, 0, text, "paragraph", 1.0, "native",
             None, None, None, None) for doc_id, text in docs.items()]
    blocks = spark.createDataFrame(
        rows,
        "doc_id long, page long, block_idx long, text string, label string, "
        "confidence double, source string, x0 double, y0 double, "
        "x1 double, y1 double")
    # alternate forms across docs to cover all three schemas
    forms = spark.createDataFrame(
        [(d, ["NDA_Form", "Service_Form", "Employment_Agreement"][d % 3])
         for d in docs],
        "doc_id long, form_name string")

    got = {(r["doc_id"], r["field_name"]): r["value"]
           for r in extraction_df(spark, blocks, forms).collect()}

    mismatches = []
    by_form = {}
    for r in SCHEMA_ROWS:
        by_form.setdefault(r[0], []).append(r)
    for doc_id, text in docs.items():
        form = ["NDA_Form", "Service_Form", "Employment_Agreement"][doc_id % 3]
        for r in by_form[form]:
            want = _model_cascade(text, r[2], r[6], r[5])
            g = got[(doc_id, r[1])]
            if g != want:
                mismatches.append((doc_id, r[1], g, want, text))
    assert not mismatches, mismatches[:3]


# --- BPE trainer vs python model ---------------------------------------------

def _model_bpe(word_counts: dict[str, int], rounds: int):
    """Independent row-at-a-time BPE: pair counts over word types, argmax
    with (count desc, pair asc) tie-break, greedy left-to-right merge."""
    syms = {w: list(w) for w in word_counts}
    merges = []
    for rnd in range(1, rounds + 1):
        pc: dict[tuple[str, str], int] = {}
        for w, cnt in word_counts.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] = pc.get((s[i], s[i + 1]), 0) + cnt
        if not pc:
            break
        (lft, rgt), c = min(pc.items(),
                            key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rnd, lft, rgt, c))
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i < len(s) - 1 and s[i] == lft and s[i + 1] == rgt:
                    out.append(lft + rgt)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges


def _bpe_corpus_dir(tmp_path, texts):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "doc_id": list(range(len(texts))),
        "text": texts,
        "lang": ["en"] * len(texts),
        "source": ["src0"] * len(texts),
        "n_chars": [len(t) for t in texts],
    }), str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_bpe_matches_python_model_random(spark, tmp_path):
    """Overlap-heavy random corpus ('aaaa', 'ababab', ...) stresses the
    greedy left-to-right merge semantics of the space-doubling replace."""
    from multiagent_form_schema_etl_spark.operators.llmprep import (
        _BPE_ROUNDS, x5_bpe_vocab_train)

    rng = random.Random(7)
    words = ["".join(rng.choice("ab") for _ in range(rng.randint(1, 8)))
             for _ in range(60)]
    texts = [" ".join(rng.choice(words) for _ in range(rng.randint(3, 20)))
             for _ in range(40)]
    got = sorted(tuple(r) for r in
                 x5_bpe_vocab_train(spark, _bpe_corpus_dir(tmp_path, texts))
                 .collect())

    counts: dict[str, int] = {}
    for t in texts:
        for w in t.split(" "):
            if w:
                counts[w] = counts.get(w, 0) + 1
    want = sorted(_model_bpe(counts, _BPE_ROUNDS))
    assert got == want


def test_bpe_matches_python_model_real_corpus(spark):
    from multiagent_form_schema_etl_spark.catalog import load_table
    from multiagent_form_schema_etl_spark.operators.llmprep import (
        _BPE_ROUNDS, x5_bpe_vocab_train)
    from tests.conftest import SF_SMOKE

    got = sorted(tuple(r) for r in
                 x5_bpe_vocab_train(spark, SF_SMOKE).collect())
    counts: dict[str, int] = {}
    for row in load_table(spark, SF_SMOKE, "documents").select("text").collect():
        for w in row["text"].split(" "):
            if w:
                counts[w] = counts.get(w, 0) + 1
    want = sorted(_model_bpe(counts, _BPE_ROUNDS))
    assert got == want


# --- pagerank on known graphs ------------------------------------------------

def _dense_pagerank(edges, n, tol, damping=0.85):
    """Dense numpy reference: power iteration with dangling-mass
    redistribution, run until the max delta drops below tol (the
    trajectory-independent fixed point)."""
    import numpy as np

    adj = np.zeros((n, n))
    for a, b in edges:
        adj[a, b] = adj[b, a] = 1.0
    deg = adj.sum(axis=1)
    r = np.full(n, 1.0 / n)
    nz = deg > 0
    for _ in range(5000):
        dangling = r[deg == 0].sum()
        contrib = adj[nz].T @ (r[nz] / deg[nz])
        new = (1 - damping) / n + damping * (contrib + dangling / n)
        if abs(new - r).max() < tol:
            return new
        r = new
    return r


def test_pagerank_components_matches_converged_numpy(spark):
    """The closed-form-dangling + per-cluster-solve path must agree with
    a dense numpy power iteration RUN TO CONVERGENCE (the trajectory-
    independent check: any correct algorithm lands on the same fixed
    point) on seeded random graphs with isolated nodes and multiple
    components, including one graph large enough to exercise the
    iterative-local branch via a tiny dense_limit."""
    from multiagent_form_schema_etl_spark.operators.dedup import (
        pagerank_components)

    rng = random.Random(11)
    for trial, dense_limit in [(0, 4096), (1, 4096), (2, 2)]:
        n = rng.randint(10, 24)
        edges = sorted({(a, b) for _ in range(rng.randint(6, 40))
                        for a, b in [sorted(rng.sample(range(n), 2))]})
        nodes = spark.createDataFrame([(i,) for i in range(n)],
                                      "node_id long")
        pairs = spark.createDataFrame(edges, "a long, b long")
        got = {r["node_id"]: r["rank"]
               for r in pagerank_components(
                   nodes, pairs, dense_limit=dense_limit).collect()}
        assert len(got) == n

        r = _dense_pagerank(edges, n, tol=1e-15)
        assert abs(sum(got.values()) - 1.0) < 1e-9
        for i in range(n):
            assert abs(got[i] - r[i]) < 1e-9, (trial, i, got[i], r[i])


@pytest.mark.parametrize("name", ["doc_u7_extraction_cascade",
                                  "doc_u7_scoped_extraction"])
def test_cascade_matches_its_duckdb_oracle(spark, name):
    """The Spark extraction cascade (rules-as-data, full-text and scoped)
    emits exactly its face's DuckDB oracle rows on the fixture corpus: one
    row per (doc, schema field), values and cascade method included. The
    oracle renders each field's cascade as generated SQL
    (sqlgen.cascade_value_sql), an independent implementation."""
    import duckdb

    from multiagent_form_schema_etl_spark.plans import registry

    registry.load_all_modules()
    got = sorted(map(tuple, registry.QUERIES[name](spark, None).collect()))
    want = sorted(duckdb.connect().execute(registry.ORACLES[name]).fetchall())
    assert got == want
    assert len(got) == 24


def test_pagerank_components_drops_foreign_edge_endpoints(spark):
    """Edges touching ids absent from `nodes` (pairs computed before a
    document filter) must be dropped: no foreign ids in the output, no
    negative dangling count corrupting the closed form."""
    from multiagent_form_schema_etl_spark.operators.dedup import (
        pagerank_components)

    nodes = spark.createDataFrame([(1,), (2,)], "node_id long")
    pairs = spark.createDataFrame(
        [(1, 3), (2, 4), (3, 4)], "a long, b long")
    got = {r["node_id"]: r["rank"]
           for r in pagerank_components(nodes, pairs).collect()}
    assert set(got) == {1, 2}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # with every foreign edge dropped, both members are dangling and the
    # closed form gives r_d = (1-d)/(n - d*n_d) = 0.15/0.3 = 0.5 each
    for i in (1, 2):
        assert abs(got[i] - 0.5) < 1e-12
    # and a consistent input (pairs pre-filtered to members) agrees
    clean = {r["node_id"]: r["rank"]
             for r in pagerank_components(
                 nodes, spark.createDataFrame([], "a long, b long")
             ).collect()}
    assert got == clean


def test_star_closed_form_matches_dense_solve():
    """The DuckDB oracle of x1_graph_pagerank_star encodes the star-graph
    closed form (r_hub = c(1+dk)/(1-d^2), r_leaf = c + d*r_hub/k,
    r_dangling = (1-d)/(n - d*n_d)); validate the algebra independently
    of both engines: for arbitrary star forests (hypothesis-driven group
    sizes; size-1 groups dangling) the closed form must equal the dense
    (I - d*P^T) r = c*1 solve to machine precision, and total mass must
    be 1."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(sizes=st.lists(st.integers(min_value=1, max_value=40),
                          min_size=1, max_size=12))
    def check(sizes):
        d = 0.85
        n = sum(sizes)
        n_d = sum(1 for m in sizes if m == 1)
        r_d = (1 - d) / (n - d * n_d)
        c = (1 - d) / n + d * (n_d * r_d) / n

        # dense reference over the linked subgraph only
        linked = [m for m in sizes if m >= 2]
        total = n_d * r_d
        off = 0
        ids = []
        for m in linked:
            ids.append((off, m))
            off += m
        nl = off
        if nl:
            mat = np.eye(nl)
            for off, m in ids:
                k = m - 1
                for leaf in range(off + 1, off + m):
                    # hub gathers each leaf's full rank (leaf degree 1)
                    mat[off, leaf] -= d
                    # each leaf gathers rank/k from the hub
                    mat[leaf, off] -= d / k
            r = np.linalg.solve(mat, np.full(nl, c))
            for off, m in ids:
                k = m - 1
                hub = c * (1 + d * k) / (1 - d * d)
                leaf = c + d * hub / k
                assert abs(r[off] - hub) < 1e-12, (m, r[off], hub)
                for j in range(off + 1, off + m):
                    assert abs(r[j] - leaf) < 1e-12, (m, r[j], leaf)
            total += float(r.sum())
        assert abs(total - 1.0) < 1e-9

    check()


def test_sn_name_dimension_guard(spark, monkeypatch):
    """VERDICT r10 item 7: the sorted-neighborhood face's unpartitioned
    rank window is allowlisted under a DIMENSION bound -- a corpus whose
    distinct-name relation grows past _SN_NAME_DIM_MAX must raise before
    the single-task sort, not silently run it."""
    import pytest

    from conftest import SF_SMOKE
    from multiagent_form_schema_etl_spark.operators import (
        functions_queries as FQ)
    from multiagent_form_schema_etl_spark.plans import registry

    registry.load_all_modules()
    monkeypatch.setattr(FQ, "_SN_NAME_DIM_MAX", 0)
    with pytest.raises(ValueError, match="dimension bound"):
        FQ.x1_entity_sorted_neighborhood(spark, SF_SMOKE)
    monkeypatch.undo()
    # under the bound the face still runs
    assert FQ.x1_entity_sorted_neighborhood(spark, SF_SMOKE).count() > 0


def test_fellegi_sunter_decision_classes_and_threshold_gap(spark, tmp_path):
    """All three Fellegi-Sunter decision classes fire on records
    constructed to land in them, and NO achievable weight sum (all 2^4
    agreement patterns) comes within 1e-6 of either decision threshold --
    the face's stated reason it needs no boundary-audit exposure."""
    import itertools

    from multiagent_form_schema_etl_spark.operators.functions_queries import (
        _FS_LINK_THR, _FS_NONLINK_THR, _fs_weights,
        x1_linkage_fellegi_sunter)

    w = _fs_weights()
    for pattern in itertools.product([0, 1], repeat=len(w)):
        s = sum(w[f][1 - p] for f, p in zip(sorted(w), pattern))
        assert abs(s - _FS_LINK_THR) > 1e-6
        assert abs(s - _FS_NONLINK_THR) > 1e-6
    rows = [
        # near-dup record pair: 1 name edit, every field agrees -> link
        (1, "widget alpha", "B1", "T1", 10, 500.0),
        (2, "widget alphb", "B1", "T1", 10, 510.0),
        # name-similar, every field disagrees -> non_link
        (3, "gadget beta", "B1", "T1", 5, 100.0),
        (4, "gadget betz", "B2", "T2", 20, 900.0),
        # brand+size agree, type+price disagree -> mid log-odds: possible
        (5, "copper rose", "B3", "T3", 7, 100.0),
        (6, "copper rosy", "B3", "T4", 7, 900.0),
    ]
    df = spark.createDataFrame(
        rows, "p_partkey long, p_name string, p_brand string,"
              " p_type string, p_size int, p_retailprice double")
    df.write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    got = {(r["name_a"], r["name_b"]): r["decision"]
           for r in x1_linkage_fellegi_sunter(spark, str(tmp_path)).collect()}
    assert got[("widget alpha", "widget alphb")] == "link"
    assert got[("gadget beta", "gadget betz")] == "non_link"
    assert got[("copper rose", "copper rosy")] == "possible"


def test_weighted_percentile_matches_python_reference(spark):
    """a_weighted_percentile_exact vs an independent plain-Python weighted
    percentile (sort the raw rows, scan the cumulative weight) -- catches
    a definition error the shared SQL formulation could hide from the
    DuckDB oracle."""
    import pandas as pd

    from multiagent_form_schema_etl_spark.operators.aggregates import (
        _WP_QUANTILES, a_weighted_percentile_exact)
    from tests.conftest import SF_SMOKE

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet",
                         columns=["l_returnflag", "l_extendedprice",
                                  "l_quantity"])
    want = {}
    for g, sub in li.groupby("l_returnflag"):
        sub = sub.sort_values("l_extendedprice")
        cw = sub["l_quantity"].astype("int64").cumsum()
        total = int(cw.iloc[-1])
        for pct in _WP_QUANTILES:
            sel = sub.loc[100 * cw >= pct * total, "l_extendedprice"]
            want[(g, pct)] = float(sel.iloc[0])
    got = {(r.l_returnflag, r.pct): r.value
           for r in a_weighted_percentile_exact(spark, SF_SMOKE).collect()}
    assert got == want


def test_embedding_drift_flags_shifted_label_matches_numpy(spark, tmp_path):
    """On a corpus where one label's refresh split (vec_id % 10 >= 8) is
    shifted by a constant offset, the face reports that label's centroid
    L2 shift far above the stable labels' and its centroid cosine below
    theirs; every emitted aggregate matches an independent numpy
    computation of the same split centroids at 1e-9."""
    import numpy as np

    from multiagent_form_schema_etl_spark.operators.similarity import (
        x2_embedding_drift)

    rng = np.random.default_rng(77)
    dim, rows = 16, []
    for vec_id in range(200):
        label = vec_id % 4
        # tight clusters away from the origin (a near-zero centroid would
        # make the cosine noise-dominated for the stable labels)
        v = rng.normal(size=dim) * 0.1 + label + 1.0
        if label == 2 and vec_id % 10 >= 8:      # drifted refresh batch:
            v[0] += 9.0                          # off-axis shift (a uniform
            # all-dims offset would be parallel to the cluster direction and
            # leave the centroid ANGLE unchanged)
        rows.append((vec_id, [float(np.float32(x)) for x in v], label))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    out = {r.label: r for r in
           x2_embedding_drift(spark, str(tmp_path)).collect()}
    assert set(out) == {0, 1, 2, 3}
    stable = [lbl for lbl in out if lbl != 2]
    assert all(out[2].l2_shift > 10 * out[s].l2_shift for s in stable)
    assert all(out[2].centroid_cosine < out[s].centroid_cosine
               for s in stable)

    # independent numpy reference over the float32-rounded stored vectors
    by = {}
    for vec_id, emb, label in rows:
        by.setdefault((label, vec_id % 10 < 8), []).append(
            np.array(emb, dtype=np.float64))
    for label in range(4):
        mr = np.mean(by[(label, True)], axis=0)
        mc = np.mean(by[(label, False)], axis=0)
        r = out[label]
        assert r.ref_n == len(by[(label, True)])
        assert r.cur_n == len(by[(label, False)])
        cos = float(mr @ mc / (np.linalg.norm(mr) * np.linalg.norm(mc)))
        assert abs(r.centroid_cosine - cos) < 1e-9
        assert abs(r.l2_shift - float(np.linalg.norm(mr - mc))) < 1e-9
