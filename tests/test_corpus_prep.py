"""Invariant tests for the late-round corpus-prep operators: chunking
reconstructs the source, sharding is a contiguous exact partition of the
token stream, and the cleaning funnel is monotone."""

from __future__ import annotations

from conftest import SF_CHECK, SF_SMOKE
from pyspark.sql import functions as F


def _queries():
    from multiagent_form_schema_etl_spark.plans import registry

    registry.load_all_modules()
    return registry.QUERIES


def test_chunk_overlap_reconstructs_documents(spark):
    """Taking the first `stride` tokens of every chunk (all of the last)
    in chunk order rebuilds each document's exact token sequence -- i.e.
    chunking loses nothing and orders deterministically."""
    from multiagent_form_schema_etl_spark.operators import llmprep as L

    chunks = _queries()["x5_chunk_overlap"](spark, SF_SMOKE).collect()
    docs = {r.doc_id: r.text for r in spark.read.parquet(
        f"{SF_SMOKE}/documents.parquet").collect()}
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_idx)
        toks = [t for t in docs[doc_id].split(" ") if t]
        rebuilt: list[str] = []
        for i, r in enumerate(rows):
            ctoks = r.chunk_text.split(" ")
            assert r.start_token == i * L._CHUNK_STRIDE
            assert r.n_tokens == len(ctoks)
            keep = ctoks if i == len(rows) - 1 else ctoks[:L._CHUNK_STRIDE]
            rebuilt.extend(keep)
        assert rebuilt == toks, f"doc {doc_id} not reconstructed"
        # every non-final chunk overlaps the next by size - stride tokens
        for a, b in zip(rows, rows[1:]):
            overlap = a.chunk_text.split(" ")[L._CHUNK_STRIDE:]
            assert b.chunk_text.split(" ")[: len(overlap)] == overlap


def test_shard_by_budget_partitions_token_stream(spark):
    """Shards are a contiguous, gap-free, exact partition of the global
    doc_id-ordered token stream, and every shard closes within one document
    of its budget (the defining property of offset DIV budget binning)."""
    from multiagent_form_schema_etl_spark.operators import llmprep as L

    rows = sorted(_queries()["x5_shard_by_budget"](spark, SF_SMOKE).collect(),
                  key=lambda r: r.shard)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    total_tokens = sum(len([t for t in r.text.split(" ") if t]) for r in docs)
    max_doc = max(len([t for t in r.text.split(" ") if t]) for r in docs)

    assert [r.shard for r in rows] == list(range(len(rows)))
    assert sum(r.n_tokens for r in rows) == total_tokens
    assert sum(r.n_docs for r in rows) == len(docs)
    for a, b in zip(rows, rows[1:]):
        assert a.last_doc < b.first_doc  # contiguous in doc_id order
    # a shard only closes once its running offset crosses the budget, so
    # every non-final shard holds at least budget - (max doc - 1) tokens
    # and at most budget + (max doc - 1)
    for r in rows[:-1]:
        assert L._SHARD_BUDGET - max_doc < r.n_tokens < L._SHARD_BUDGET + max_doc


def test_corpus_filter_funnel_is_monotone(spark):
    rows = {r.stage: r for r in
            _queries()["x5_corpus_filter_funnel"](spark, SF_SMOKE).collect()}
    stages = ["0_all", "1_lang_id", "2_quality", "3_repetition", "4_dedup"]
    assert sorted(rows) == stages
    for a, b in zip(stages, stages[1:]):
        assert rows[a].n_docs >= rows[b].n_docs
        assert rows[a].n_tokens >= rows[b].n_tokens
    n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert rows["0_all"].n_docs == n_docs


def test_star_contraction_equals_label_propagation(spark):
    """Star contraction must reach the label-propagation fixed point
    (every node labelled with its component's minimum id) on a 60-node
    chain, the adversarial case for label propagation (diameter = rounds)
    where star contraction converges in O(log n) rounds. The real Jaccard
    pair graph is compared against `blocked_components` in
    test_blocked_components_match_star_contraction_and_fallback."""
    from multiagent_form_schema_etl_spark.operators import dedup as D

    # chain 0-1-2-...-59 plus isolated nodes 100..104
    nodes = spark.range(0, 60).withColumnRenamed("id", "node").unionByName(
        spark.range(100, 105).withColumnRenamed("id", "node"))
    pairs = spark.range(0, 59).selectExpr("id AS a", "id + 1 AS b")
    got = {(r.node_id, r.component_id)
           for r in D.star_contraction_components(nodes, pairs).collect()}
    want = {(n, 0) for n in range(60)} | {(n, n) for n in range(100, 105)}
    assert got == want


def test_quality_classifier_separates_extremes(spark):
    """The trained quality model must (a) classify the labeled extremes
    almost perfectly, and (b) push the mid-band docs the heuristic cannot
    call toward the good side only when their features warrant it --
    checked as clear separation of mean predicted probability between
    labeled classes."""
    rows = _queries()["x4_quality_classifier"](spark, SF_SMOKE).collect()
    hi = [r.prob_good for r in rows if r.label == 1.0]
    lo = [r.prob_good for r in rows if r.label == 0.0]
    mid = [r.prob_good for r in rows if r.label is None]
    assert hi and lo and mid
    acc_hi = sum(p >= 0.5 for p in hi) / len(hi)
    acc_lo = sum(p < 0.5 for p in lo) / len(lo)
    assert acc_hi >= 0.95 and acc_lo >= 0.95
    assert (sum(hi) / len(hi)) - (sum(lo) / len(lo)) >= 0.5
    assert all(0.0 <= p <= 1.0 for p in mid)


def test_bpe_train_encode_matches_python_reference(spark, tmp_path):
    """Differential: the distributed BPE (type-table training loop + merge
    application via the space-doubling replace) must match an independent
    list-based Python BPE -- greedy left-to-right non-overlapping merges,
    ties broken (count desc, lft, rgt) -- on seeded random corpora,
    including repeated-character words where naive replacement over-merges."""
    import random
    from collections import Counter

    from multiagent_form_schema_etl_spark.operators.llmprep import (
        _BPE_ROUNDS, _learn_bpe_merges,
    )

    def py_bpe(words_with_freq, rounds):
        types = {w: list(w) for w in words_with_freq}
        merges = []
        for _ in range(rounds):
            counts = Counter()
            for w, syms in types.items():
                f = words_with_freq[w]
                for a, b in zip(syms, syms[1:]):
                    counts[(a, b)] += f
            if not counts:
                break
            (lft, rgt), cnt = min(counts.items(),
                                  key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
            merges.append((lft, rgt, cnt))
            for w, syms in types.items():
                out, i = [], 0
                while i < len(syms):
                    if (i + 1 < len(syms)
                            and syms[i] == lft and syms[i + 1] == rgt):
                        out.append(lft + rgt)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                types[w] = out
        return merges, types

    for seed in (7, 11, 13):
        rng = random.Random(seed)
        alphabet = "ab" if seed % 2 else "abc"
        words = ["".join(rng.choice(alphabet)
                         for _ in range(rng.randint(1, 6)))
                 for _ in range(30)]
        docs = [(i, " ".join(rng.choices(words, k=rng.randint(3, 10))))
                for i in range(12)]
        sf = tmp_path / f"bpe{seed}"
        sf.mkdir()
        spark.createDataFrame(docs, "doc_id long, text string") \
            .write.parquet(str(sf / "documents.parquet"))

        freq = Counter(w for _, t in docs for w in t.split(" ") if w)
        want_merges, types = py_bpe(dict(freq), _BPE_ROUNDS)
        got = _learn_bpe_merges(spark, str(sf))
        assert [(l, r, c) for _, l, r, c in got] == want_merges, f"seed {seed}"

        from multiagent_form_schema_etl_spark.plans import registry
        registry.load_all_modules()
        enc = {r.doc_id: (r.n_words, r.n_bpe_tokens)
               for r in registry.QUERIES["x5_bpe_encode"](
                   spark, str(sf)).collect()}
        want_enc = {}
        for doc_id, text in docs:
            toks = [w for w in text.split(" ") if w]
            want_enc[doc_id] = (len(toks),
                                sum(len(types[w]) for w in toks))
        assert enc == want_enc, f"seed {seed}"


def test_quality_classifier_survives_junk_documents(spark, tmp_path):
    """Empty, whitespace-only, and NULL texts -- the very inputs a quality
    filter exists for -- must score (low), not crash on division or a NULL
    feature vector."""
    docs = ([(i, "word " * 60) for i in range(40)]           # clear good
            + [(100 + i, "x") for i in range(10)]            # clear bad
            + [(200, ""), (201, "   "), (202, None)])        # junk
    sf = tmp_path / "junk"
    sf.mkdir()
    spark.createDataFrame(docs, "doc_id long, text string") \
        .write.parquet(str(sf / "documents.parquet"))
    rows = {r.doc_id: r for r in
            _queries()["x4_quality_classifier"](spark, str(sf)).collect()}
    assert len(rows) == len(docs)
    for junk_id in (200, 201, 202):
        assert rows[junk_id].label == 0.0
        assert rows[junk_id].prob_good is not None
        assert rows[junk_id].prob_good < 0.5


def test_bpe_oracle_survives_pair_exhaustion(spark, tmp_path):
    """A corpus of single-character words exhausts merge pairs in round 0;
    the engine early-breaks and the oracle's sentinel rounds must be
    no-ops (not NULL-poison), keeping both sides hash-equal."""
    import duckdb

    docs = [(i, " ".join("a b c a b"[j % 9] for j in range(i + 2, i + 7))
             .replace("  ", " ").strip())
            for i in range(6)]
    docs = [(i, "a b c") for i in range(6)]  # all words length 1
    sf = tmp_path / "exhaust"
    sf.mkdir()
    spark.createDataFrame(docs, "doc_id long, text string") \
        .write.parquet(str(sf / "documents.parquet"))
    got = {(r.doc_id, r.n_words, r.n_bpe_tokens)
           for r in _queries()["x5_bpe_encode"](spark, str(sf)).collect()}
    assert got == {(i, 3, 3) for i in range(6)}  # no merges possible

    from multiagent_form_schema_etl_spark.plans import registry
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet/*.parquet')")
    oracle = con.execute(registry.ORACLES["x5_bpe_encode"]).fetchall()
    assert {(r[0], r[1], r[2]) for r in oracle} == got


def test_blocked_components_match_star_contraction_and_fallback(
        spark, monkeypatch):
    """The block-local union-find kernel (r10: valid behind the pair
    generator's (lang, length-bucket) blocking invariant) must equal the
    general star-contraction kernel node-for-node, and must fall back to
    it when a block exceeds the per-task pair bound, when an edge crosses
    blocks, and on a path deeper than any fixed propagation round cap."""
    from multiagent_form_schema_etl_spark.catalog import load_table
    from multiagent_form_schema_etl_spark.operators import dedup as D

    sf = SF_SMOKE
    pairs = D.x1_dedup_jaccard_ngram(spark, sf).select("doc_a", "doc_b")
    docs = load_table(spark, sf, "documents").select("doc_id")
    want = {(r["node_id"], r["component_id"])
            for r in D.star_contraction_components(docs, pairs).collect()}
    got = {(r["node_id"], r["component_id"])
           for r in D.blocked_components(spark, sf, pairs).collect()}
    assert got == want and len(got) > 0

    # force the fallback: every block is now "too big"
    monkeypatch.setattr(D, "_BLOCK_UF_MAX_PAIRS", 0)
    fb = {(r["node_id"], r["component_id"])
          for r in D.blocked_components(spark, sf, pairs).collect()}
    assert fb == want
    monkeypatch.undo()

    # INVARIANT guard (ADVICE r10): a pair graph with a cross-block edge
    # (here: two docs from different (lang, bucket) blocks, the shape an
    # embedding/semantic pair relation would have) must route to the
    # distributed kernel and still be node-for-node correct -- not
    # silently split the cross-block component.
    from pyspark.sql import functions as F
    d = load_table(spark, sf, "documents").select(
        "doc_id", "lang", F.floor(F.col("n_chars") / 50.0).alias("bucket"))
    rows = d.orderBy("doc_id").collect()
    a = rows[0]
    b = next(r for r in rows
             if (r["lang"], r["bucket"]) != (a["lang"], a["bucket"]))
    cross = pairs.unionByName(spark.createDataFrame(
        [(a["doc_id"], b["doc_id"])], "doc_a long, doc_b long"))
    want_x = {(r["node_id"], r["component_id"])
              for r in D.star_contraction_components(docs, cross).collect()}
    got_x = {(r["node_id"], r["component_id"])
             for r in D.blocked_components(spark, sf, cross).collect()}
    assert got_x == want_x
    # and the cross-block doc pair really is in one component now
    comp = dict(got_x)
    assert comp[a["doc_id"]] == comp[b["doc_id"]]

    # a 24-node path over the lowest doc_ids, minimum at one end: its
    # edges cross blocks, so this is the fallback, and the far end is 23
    # hops from the label it must carry
    path = [r["doc_id"] for r in rows[:24]]
    assert any((x["lang"], x["bucket"]) != (y["lang"], y["bucket"])
               for x, y in zip(rows[:23], rows[1:24]))
    chain = spark.createDataFrame(list(zip(path, path[1:])),
                                  "doc_a long, doc_b long")
    comp = {r["node_id"]: r["component_id"]
            for r in D.blocked_components(spark, sf, chain).collect()}
    assert len(comp) == len(rows)
    assert {n: comp[n] for n in path} == {n: path[0] for n in path}
    on_path = set(path)
    assert all(c == n for n, c in comp.items() if n not in on_path)


def test_bm25_matches_python_reference(spark):
    """x4_bm25_score against an independent pure-python BM25 over the
    collected token relation (same k1/b; full double precision before the
    9-dp round) -- differential confidence beyond the SQL oracle twin."""
    import math
    from collections import Counter

    from multiagent_form_schema_etl_spark.catalog import load_table
    from multiagent_form_schema_etl_spark.operators import textstats as TS

    docs = {r["doc_id"]: [t for t in r["text"].split(" ") if t]
            for r in load_table(spark, SF_SMOKE, "documents").collect()}
    n = len(docs)
    avgdl = sum(len(v) for v in docs.values()) / n
    tf = {d: Counter(v) for d, v in docs.items()}
    df = Counter(t for c in tf.values() for t in c)
    k1, b = TS._BM25_K1, TS._BM25_B

    want = {}
    for qid, qtext in TS._BM25_QUERIES:
        for d, c in tf.items():
            s, hits = 0.0, 0
            for t in qtext.split(" "):
                if c[t]:
                    hits += 1
                    idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
                    s += (idf * c[t] * (k1 + 1.0)
                          / (c[t] + k1 * (1.0 - b + b * len(docs[d]) / avgdl)))
            if hits:
                want[(qid, d)] = (round(s, 9), hits)

    got = {(r["query_id"], r["doc_id"]): (r["bm25"], r["n_terms_hit"])
           for r in TS.x4_bm25_score(spark, SF_SMOKE).collect()}
    assert got == want and len(got) > 0


def test_sorted_neighborhood_sound_vs_complete_qgram_join(spark):
    """The SN heuristic must be SOUND against the complete q-gram join
    (every SN pair is a true <=k pair the lemma-complete join also finds)
    and must find every qualifying pair within its rank window -- the two
    directions of its documented contract."""
    import __spark_entry__ as e

    qs = e.queries()
    sn = {(r["name_a"], r["name_b"])
          for r in qs["x1_entity_sorted_neighborhood"](spark, SF_SMOKE)
          .collect()}
    complete = {(r["name_a"], r["name_b"])
                for r in qs["x1_entity_qgram_join"](spark, SF_SMOKE)
                .collect()}
    assert sn <= complete and len(sn) > 0

    # in-window completeness: rebuild the rank order and check every
    # complete pair within _SN_WINDOW ranks was emitted
    from multiagent_form_schema_etl_spark.catalog import load_table
    from multiagent_form_schema_etl_spark.operators import (
        functions_queries as FQ)

    names = sorted({r["p_name"] for r in load_table(
        spark, SF_SMOKE, "part").select("p_name").collect()})
    rank = {nm: i for i, nm in enumerate(names)}
    in_window = {(a, b) for a, b in complete
                 if abs(rank[a] - rank[b]) <= FQ._SN_WINDOW}
    assert sn == in_window


def test_triangle_orientation_kernels_agree_and_selector_flips(spark):
    """VERDICT r10 item 5: both triangle-enumeration orientations must be
    row-identical on a real near-dup graph; the measured-cost selector
    must pick "id" on the gate corpora (keeping every committed hash) and
    flip to "deg" on a hub-flood graph where degree ordering removes the
    quadratic hub fan-out."""
    from pyspark.sql import functions as F

    from multiagent_form_schema_etl_spark.operators import dedup as D

    pairs = D.x1_dedup_jaccard_ngram(spark, SF_SMOKE).select("doc_a", "doc_b")
    e = pairs.select(F.least("doc_a", "doc_b").alias("a"),
                     F.greatest("doc_a", "doc_b").alias("b")).distinct()
    got_id = {tuple(r) for r in D._triangles_id(e).collect()}
    got_deg = {tuple(r) for r in D._triangles_deg(e).collect()}
    assert got_id == got_deg and len(got_id) > 0
    assert D._triangle_orient_choice_over(e) == "id"

    # hub flood: one center (id 100 -- mid-RANGE id, so the id orientation
    # wedges lo*hi ~ 100*100 at the hub) joined to 200 spokes, plus two
    # spoke-spoke chords closing two triangles. Degree ordering points
    # every spoke edge AT the hub (spoke out-degree <= 2), so its wedge
    # volume collapses to ~2 and the selector must flip.
    hub_edges = ([(min(i, 100), max(i, 100))
                  for i in list(range(100)) + list(range(101, 201))]
                 + [(0, 1), (2, 3)])
    he = spark.createDataFrame(hub_edges, "a long, b long")
    assert D._triangle_orient_choice_over(he) == "deg"
    hid = {tuple(r) for r in D._triangles_id(he).collect()}
    hdeg = {tuple(r) for r in D._triangles_deg(he).collect()}
    assert hid == hdeg and len(hid) > 0


def test_bloom_decon_matches_exact_and_saturation_fallback(
        spark, monkeypatch, capsys):
    """x5_decontaminate_bloom is the exact face's relation (the bloom only
    prefilters; false positives die in the inner join), and a saturated
    bloom routes LOUDLY to the exact kernel instead of shipping a filter
    that passes everything."""
    from multiagent_form_schema_etl_spark.operators import llmprep as L

    key = lambda r: (r["doc_id"],)
    exact = sorted(L.x5_decontaminate_ngram(spark, SF_SMOKE).collect(),
                   key=key)
    bloom = sorted(L.x5_decontaminate_bloom(spark, SF_SMOKE).collect(),
                   key=key)
    assert exact == bloom and len(exact) > 0
    # saturation guard: with a 0-key budget every corpus overflows
    monkeypatch.setattr(L, "_BLOOM_MAX_KEYS", 0)
    fell_back = sorted(L.x5_decontaminate_bloom(spark, SF_SMOKE).collect(),
                       key=key)
    assert fell_back == exact
    assert "saturate" in capsys.readouterr().err


def test_weighted_sample_topk_budget_and_length_bias(spark):
    """Exactly _WS_K rows per language with contiguous ranks and distinct
    docs; the n_chars-proportional key must bias the sample long (its
    whole point): sampled mean length exceeds the population mean per
    language on both pinned corpora (a deterministic draw -- the md5 key
    is a pure function of text -- so this is a constant, not a flake)."""
    from multiagent_form_schema_etl_spark.operators.llmprep import (
        _WS_K, x5_weighted_sample_topk)

    for sf in (SF_SMOKE, SF_CHECK):
        rows = x5_weighted_sample_topk(spark, sf).collect()
        by_lang = {}
        for r in rows:
            by_lang.setdefault(r["lang"], []).append(r)
        docs = {(r["lang"], r["doc_id"]) for r in rows}
        assert len(docs) == len(rows)
        pop = {r["lang"]: r["mu"] for r in
               (spark.read.parquet(f"{sf}/documents.parquet")
                .groupBy("lang").agg(F.avg("n_chars").alias("mu"))
                .collect())}
        for lang, lr in by_lang.items():
            assert sorted(r["rnk"] for r in lr) == list(range(1, _WS_K + 1))
            assert (sum(r["n_chars"] for r in lr) / len(lr)) > pop[lang]


def test_interval_coalesce_islands_are_disjoint_and_conserve(spark):
    """Merged intervals per user are strictly disjoint (coalescing left
    no mergeable pair behind) and conserve the event count."""
    from multiagent_form_schema_etl_spark.streaming.batch_windows import (
        st_interval_coalesce)

    rows = st_interval_coalesce(spark, SF_SMOKE).collect()
    n_events = (spark.read.parquet(f"{SF_SMOKE}/events.parquet").count())
    assert sum(r["n_events"] for r in rows) == n_events
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for ivs in by_user.values():
        ivs.sort(key=lambda r: r["start_us"])
        for a, b in zip(ivs, ivs[1:]):
            assert a["end_us"] < b["start_us"]  # a gap, else they'd merge
            assert a["island"] < b["island"]
        assert all(r["start_us"] <= r["end_us"] for r in ivs)


def test_adamic_adar_matches_python_reference(spark):
    """x1_graph_adamic_adar vs an independent pure-Python computation on
    the same near-dup graph (taken from the oracle-backed jaccard face):
    emitted pairs are exactly the open wedges, n_common exact, AA within
    float sum-order tolerance; and no emitted pair is an existing edge."""
    import math

    from multiagent_form_schema_etl_spark.operators.dedup import (
        x1_dedup_jaccard_ngram, x1_graph_adamic_adar)

    edges = {(min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
             for r in x1_dedup_jaccard_ngram(spark, SF_SMOKE).collect()}
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    want = {}
    for z, nz in nbrs.items():
        for a in nz:
            for b in nz:
                if a < b and (a, b) not in edges:
                    n, s = want.get((a, b), (0, 0.0))
                    want[(a, b)] = (n + 1, s + 1.0 / math.log(len(nz)))
    got = {(r["doc_a"], r["doc_b"]): (r["n_common"], r["aa_score"])
           for r in x1_graph_adamic_adar(spark, SF_SMOKE).collect()}
    assert set(got) == set(want) and len(got) > 0
    assert not (set(got) & edges)
    for k, (n, s) in want.items():
        assert got[k][0] == n
        assert abs(got[k][1] - s) < 2e-9


def test_perplexity_unigram_oov_scores_higher(spark, tmp_path):
    """Cross-entropy under the train unigram model must rank a pure-OOV
    gibberish doc strictly above an in-vocabulary doc (the property the
    perplexity filter exists for). Texts are pre-searched so md5-bucket
    split membership lands as needed (train < 80, both probes >= 80) --
    the assignment is content-derived, so this is deterministic."""
    from multiagent_form_schema_etl_spark.operators.textstats import (
        x4_perplexity_unigram)

    train = [
        "eta eta alpha theta epsilon delta beta zeta alpha alpha alpha alpha",
        "eta delta eta alpha delta theta theta delta zeta delta delta theta",
        "epsilon alpha eta beta gamma epsilon beta zeta eta delta epsilon"
        " epsilon",
        "theta eta alpha theta delta eta eta gamma zeta zeta beta theta",
        "beta gamma eta zeta theta alpha theta alpha epsilon eta gamma gamma",
        "delta eta alpha theta zeta delta eta theta zeta eta zeta alpha",
    ]
    held_norm = ("gamma beta epsilon beta theta theta theta eta delta beta"
                 " theta alpha")
    held_junk = "zzq5 zzq6 zzq7 zzq8 zzq9 zzq10 zzq11 zzq12 zzq13 zzq14" \
                " zzq15 zzq16"
    rows = [(i, t, "en", "s", len(t))
            for i, t in enumerate(train + [held_norm, held_junk])]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r["doc_id"]: r for r in
           x4_perplexity_unigram(spark, str(tmp_path)).collect()}
    assert set(got) == {6, 7}  # exactly the two probes are held out
    assert got[7]["n_oov"] == got[7]["n_tokens"]  # junk: all OOV
    assert got[6]["n_oov"] == 0
    assert got[7]["cross_entropy"] > got[6]["cross_entropy"] + 1.0


def test_containment_catches_subset_docs_one_direction(spark, tmp_path):
    """A doc embedded verbatim inside a longer one must be flagged in
    exactly ONE direction (small in big) -- the asymmetric case symmetric
    Jaccard misses and this face exists for."""
    from multiagent_form_schema_etl_spark.operators.dedup import (
        x1_dedup_containment)

    small = " ".join(f"w{i}" for i in range(20))
    big = small + " " + " ".join(f"x{i}" for i in range(40))
    other = " ".join(f"y{i}" for i in range(30))
    rows = [(1, small, "en", "s", len(small)),
            (2, big, "en", "s", len(big)),
            (3, other, "en", "s", len(other))]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {(r["doc_contained"], r["doc_container"]): r["containment"]
           for r in x1_dedup_containment(spark, str(tmp_path)).collect()}
    assert set(got) == {(1, 2)}  # small-in-big only, never the reverse
    assert got[(1, 2)] == 1.0


def test_decon_df_prune_is_doc_count_not_occurrence_count(spark, tmp_path):
    """ADVICE r11 (high): the df-pruning cap is DOC-count semantics. A
    4-gram repeated ~150x INSIDE one train doc has occurrence count >
    _DECON_MAX_DF but doc count 1 -- it must survive the prune, mark the
    held-out doc contaminated, and knock the train doc out of the
    end-to-end pipeline's survivor set. Counting raw gram occurrences
    (the pre-fix bug in x5_corpus_pipeline_end_to_end's countable)
    prunes it and ships the contaminated doc."""
    from multiagent_form_schema_etl_spark.plans import registry

    registry.load_all_modules()
    # md5-bucket-steered texts (salts found offline): doc1 train poison
    # (147 in-doc occurrences of 'w w w w'), doc2 held-out sharing it,
    # doc3/doc4 clean good-quality train survivors.
    docs = [
        (1, ("w " * 150) + "s2"),
        (2, "h6 " + "w w w w"),
        (3, " ".join(f"c{j}tok{j}" for j in range(60)) + " z0"),
        (4, " ".join(f"d{j}tok{j}" for j in range(60)) + " z0"),
    ]
    import hashlib
    buckets = {i: int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 100
               for i, t in docs}
    assert buckets[1] < 80 and buckets[2] >= 80      # train / held-out
    assert buckets[3] < 80 and buckets[4] < 80
    sf = tmp_path / "deconsem"
    sf.mkdir()
    spark.createDataFrame(docs, "doc_id long, text string") \
        .write.parquet(str(sf / "documents.parquet"))

    contaminated = {r.doc_id: r.n_shared_grams for r in
                    registry.QUERIES["x5_decontaminate_ngram"](
                        spark, str(sf)).collect()}
    assert 2 in contaminated and contaminated[2] >= 1

    shards = registry.QUERIES["x5_corpus_pipeline_end_to_end"](
        spark, str(sf)).collect()
    survivor_docs = sum(r.n_docs for r in shards)
    firsts = {r.first_doc for r in shards} | {r.last_doc for r in shards}
    assert survivor_docs == 2 and 1 not in firsts  # doc1 decontaminated out


def test_adamic_adar_wedge_volume_guard(spark, monkeypatch):
    """The AA build must measure sum_z C(deg(z),2) and raise LOUDLY past
    _AA_WEDGE_MAX (VERDICT r11 #6 -- the SN/RFM enforced-guard standard
    applied to the one face whose cost is quadratic in hub degree),
    naming the neighbor-cap mitigation; under the real bound the gate
    corpus builds fine."""
    import pytest as _pytest

    from multiagent_form_schema_etl_spark.operators import dedup as D

    monkeypatch.setattr(D, "_AA_WEDGE_MAX", 1)
    with _pytest.raises(ValueError, match="wedge volume .* exceeds"):
        D.x1_graph_adamic_adar(spark, SF_SMOKE)
    monkeypatch.undo()
    assert D.x1_graph_adamic_adar(spark, SF_SMOKE).count() > 0


def test_bigram_perplexity_penalizes_shuffled_text(spark, tmp_path):
    """The bigram face's reason to exist: word-salad with an
    IN-VOCABULARY unigram profile. A held-out doc that is a coherent
    continuation of the train cycle and its own SHUFFLE (identical token
    multiset) must tie under the unigram model (same summand multiset,
    same 9-dp round) and separate under the bigram one."""
    import hashlib
    import random

    from multiagent_form_schema_etl_spark.plans import registry

    registry.load_all_modules()

    def bucket(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 100

    cycle = ["a", "b", "c", "d", "e", "f"]
    train = None
    for i in range(100):
        cand = " ".join(cycle * 20) + f" s{i}"
        if bucket(cand) < 80:
            train = cand
            break
    coherent = None
    for length in range(18, 42):
        for off in range(6):
            toks = [cycle[(off + j) % 6] for j in range(length)]
            cand = " ".join(toks)
            if bucket(cand) >= 80:
                coherent = cand
                break
        if coherent:
            break
    rng = random.Random(0)
    shuf_toks = coherent.split(" ")
    shuffled = None
    for _ in range(200):
        rng.shuffle(shuf_toks)
        cand = " ".join(shuf_toks)
        if bucket(cand) >= 80 and cand != coherent:
            shuffled = cand
            break
    assert train and coherent and shuffled

    docs = [(1, train, "en"), (2, coherent, "en"), (3, shuffled, "en")]
    sf = tmp_path / "ppl2"
    sf.mkdir()
    spark.createDataFrame(docs, "doc_id long, text string, lang string") \
        .write.parquet(str(sf / "documents.parquet"))

    uni = {r.doc_id: r.cross_entropy for r in
           registry.QUERIES["x4_perplexity_unigram"](
               spark, str(sf)).collect()}
    big = {r.doc_id: r for r in
           registry.QUERIES["x4_perplexity_bigram"](
               spark, str(sf)).collect()}
    assert uni[2] == uni[3]  # identical token multiset => unigram tie
    assert big[3].cross_entropy > big[2].cross_entropy + 0.3
    assert big[3].n_unseen_bigrams >= big[2].n_unseen_bigrams


def test_quality_classifier_invariant_face_trips(spark, tmp_path,
                                                 monkeypatch):
    """The driver-visible LR invariant face must be non-vacuous: raising
    the floors past 1.0 emits violation rows on the gate corpus, and a
    corpus whose heuristic labels only one class emits the
    EMPTY_LABELED_CLASS canary; under the real floors the gate corpus is
    clean."""
    from multiagent_form_schema_etl_spark.operators import textstats as T

    assert T.x4_quality_classifier_invariant(spark, SF_SMOKE).count() == 0
    monkeypatch.setattr(T, "_QC_ACC_MIN", 1.01)
    monkeypatch.setattr(T, "_QC_SEP_MIN", 2.0)
    got = {r.violation for r in
           T.x4_quality_classifier_invariant(spark, SF_SMOKE).collect()}
    assert got == {"ACCURACY_BELOW_FLOOR", "SEPARATION_BELOW_FLOOR"}
    monkeypatch.undo()
    # all-good corpus: no doc matches the clearly-bad label arm
    docs = [(i, "word " * 60) for i in range(40)]
    sf = tmp_path / "onesided"
    sf.mkdir()
    spark.createDataFrame(docs, "doc_id long, text string") \
        .write.parquet(str(sf / "documents.parquet"))
    got = {r.violation for r in
           T.x4_quality_classifier_invariant(spark, str(sf)).collect()}
    assert got == {"EMPTY_LABELED_CLASS"}


def test_zipf_slope_separates_natural_from_uniform(spark, tmp_path):
    """The Zipf face's motivating tripwire: a corpus with a 1/rank
    frequency profile regresses near -1, while a uniform-frequency
    (template-spam-shaped) corpus regresses near 0 -- and Heaps counts
    are exact."""
    from multiagent_form_schema_etl_spark.operators.textstats import (
        x4_zipf_heaps_stats)

    zipf_toks = []
    for i in range(1, 41):                      # token t_i appears 400//i x
        zipf_toks += [f"t{i}"] * (400 // i)
    uni_toks = [f"u{i}" for i in range(1, 41)] * 10   # all equal freq
    docs = [(1, " ".join(zipf_toks), "zipfy"),
            (2, " ".join(uni_toks), "flat")]
    sf = tmp_path / "zipf"
    sf.mkdir()
    spark.createDataFrame(docs, "doc_id long, text string, lang string") \
        .write.parquet(str(sf / "documents.parquet"))
    got = {r.lang: r for r in x4_zipf_heaps_stats(spark, str(sf)).collect()}
    assert got["zipfy"].n_types == 40
    assert got["zipfy"].n_tokens == sum(400 // i for i in range(1, 41))
    assert got["flat"].n_types == 40 and got["flat"].n_tokens == 400
    assert got["zipfy"].zipf_slope < -0.8
    assert got["flat"].zipf_slope > -0.1
    assert got["flat"].zipf_slope > got["zipfy"].zipf_slope + 0.5


def test_temperature_mixture_boosts_low_resource_langs(spark):
    """alpha=0.5 temperature sampling must order keep rates INVERSELY to
    language frequency (the knob's whole point), keep every language
    non-empty, cap rates at 1.0, and land near the 50% corpus budget
    (exactly deterministic given the md5 draws, loosely bounded here so
    corpus regeneration cannot flake it)."""
    from multiagent_form_schema_etl_spark.operators.llmprep import (
        x5_mixture_temperature_sample)

    rows = x5_mixture_temperature_sample(spark, SF_SMOKE).collect()
    assert len(rows) >= 3
    by_count = sorted(rows, key=lambda r: r.n_total)
    rates = [r.rate for r in by_count]
    assert all(a >= b - 1e-12 for a, b in zip(rates, rates[1:])), (
        "rates must be non-increasing in language frequency")
    assert all(0.0 < r.rate <= 1.0 for r in rows)
    assert all(r.n_kept > 0 for r in rows)
    total = sum(r.n_total for r in rows)
    kept = sum(r.n_kept for r in rows)
    assert 0.3 * total < kept < 0.7 * total


def test_drift_psi_flags_shifted_feature_and_matches_reference(spark, tmp_path):
    """On a corpus whose refresh split (src10+) doubles document length but
    keeps the language mix, the PSI totals rank the drifted features
    (n_chars, n_tokens) above the stable one (lang); every per-bin PSI
    contribution is non-negative by construction; and the face's rounded
    output matches an independently-written pure-Python PSI computation."""
    import math

    from multiagent_form_schema_etl_spark.operators import llmprep as L

    rows = []
    doc_id = 0
    langs = ["en", "de", "fr", "en", "en"]
    for src_i in range(5):           # reference: short docs
        for k in range(8):
            text = " ".join(f"w{(doc_id + j) % 7}" for j in range(6 + k % 3))
            rows.append((doc_id, text, langs[(doc_id + k) % 5],
                         f"src{src_i}", len(text)))
            doc_id += 1
    for src_i in range(10, 15):      # refresh: ~5x longer, same lang mix
        for k in range(8):
            text = " ".join(f"w{(doc_id + j) % 7}" for j in range(30 + k % 5))
            rows.append((doc_id, text, langs[(doc_id + k) % 5],
                         f"src{src_i}", len(text)))
            doc_id += 1
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = {(r.feature, r.bin): r
           for r in L.x5_drift_psi(spark, str(tmp_path)).collect()}
    totals = {f: r.psi_total for (f, _), r in out.items()}
    assert totals["n_chars"] > totals["lang"]
    assert totals["n_tokens"] > totals["lang"]
    assert totals["lang"] < 0.1          # stable mix: near-zero drift
    assert totals["n_chars"] > 1.0       # gross shift: loud alert
    assert all(r.psi_contrib >= 0 for r in out.values())

    # independent pure-Python reference over the raw rows
    def feats(text, lang, n_chars):
        n_tok = len([t for t in text.split(" ") if t])
        return [("n_chars", str(min(n_chars // L._PSI_CHAR_BIN,
                                    L._PSI_MAX_BIN))),
                ("n_tokens", str(min(n_tok // L._PSI_TOK_BIN,
                                     L._PSI_MAX_BIN))),
                ("lang", lang)]

    counts: dict[tuple, list] = {}
    for _id, text, lang, source, n_chars in rows:
        is_ref = int(source[3:]) < 10
        for key in feats(text, lang, n_chars):
            c = counts.setdefault(key, [0, 0])
            c[0 if is_ref else 1] += 1
    probs = {}
    for feature in ("n_chars", "n_tokens", "lang"):
        bins = [k for k in counts if k[0] == feature]
        ref_total = sum(counts[k][0] for k in bins)
        cur_total = sum(counts[k][1] for k in bins)
        b = len(bins)
        for k in bins:
            pr = (counts[k][0] + 0.5) / (ref_total + 0.5 * b)
            pc = (counts[k][1] + 0.5) / (cur_total + 0.5 * b)
            probs[k] = (pr, pc)
    for (feature, bin_), (ref_n, cur_n) in counts.items():
        pr, pc = probs[(feature, bin_)]
        r = out[(feature, bin_)]
        assert r.ref_n == ref_n and r.cur_n == cur_n
        assert abs(r.p_ref - pr) < 1e-9 and abs(r.p_cur - pc) < 1e-9
        assert abs(r.psi_contrib - (pc - pr) * math.log(pc / pr)) < 1e-9
        assert abs(r.kl_contrib - pc * math.log(pc / pr)) < 1e-9
    for feature in ("n_chars", "n_tokens", "lang"):
        want = sum(round((pc - pr) * math.log(pc / pr), 9)
                   for k, (pr, pc) in probs.items() if k[0] == feature)
        assert abs(totals[feature] - want) < 1e-8


def test_drift_psi_counts_additive_and_replay_idempotent(spark, tmp_path):
    """The properties the incremental drift monitor rests on: (a) per-batch
    binned counts are ADDITIVE -- summing counts over any disjoint split of
    the corpus reproduces the full-corpus counts exactly; (b) the
    batch-keyed OVERWRITE store is replay-idempotent -- re-delivering a
    batch leaves the assembled counts unchanged, while a blind append
    would double-count; (c) dropping a batch partition breaks report
    equivalence (the comparison in the face is not vacuous)."""
    from multiagent_form_schema_etl_spark.operators import llmprep as L

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    full = {(r.feature, r.bin, r.is_ref): r.n
            for r in L._psi_feats(docs)
            .groupBy("feature", "bin", "is_ref").count()
            .withColumnRenamed("count", "n").collect()}

    store = str(tmp_path / "store")
    parts = [docs.filter(F.col("doc_id") % 3 == k) for k in range(3)]

    def write_batch(bdf, batch_id):
        (L._psi_feats(bdf).groupBy("feature", "bin", "is_ref")
         .agg(F.count(F.lit(1)).cast("long").alias("n"))
         .write.mode("overwrite").parquet(f"{store}/batch={batch_id}"))

    for k, part in enumerate(parts):
        write_batch(part, k)
    write_batch(parts[1], 1)  # replay of batch 1 -- must be a no-op

    def assembled():
        return {(r.feature, r.bin, r.is_ref): r.n
                for r in spark.read.parquet(store)
                .groupBy("feature", "bin", "is_ref")
                .agg(F.sum("n").alias("n")).collect()}

    assert assembled() == full          # additivity + replay idempotence

    # blind append on replay WOULD double-count (the tripwire the
    # overwrite mode exists for)
    (L._psi_feats(parts[1]).groupBy("feature", "bin", "is_ref")
     .agg(F.count(F.lit(1)).cast("long").alias("n"))
     .write.mode("append").parquet(f"{store}/batch=1"))
    assert assembled() != full

    # dropped batch -> report differs from the batch face (non-vacuous)
    import shutil
    shutil.rmtree(f"{store}/batch=1")
    write_batch(parts[1], 1)
    assert assembled() == full          # store repaired
    shutil.rmtree(f"{store}/batch=2")
    counts = (spark.read.parquet(store).groupBy("feature", "bin")
              .agg(F.sum(F.when(F.col("is_ref"), F.col("n")).otherwise(0))
                   .cast("long").alias("ref_n"),
                   F.sum(F.when(F.col("is_ref"), 0).otherwise(F.col("n")))
                   .cast("long").alias("cur_n")))
    broken = {tuple(r) for r in L._psi_report(counts).collect()}
    good = {tuple(r) for r in L.x5_drift_psi(spark, SF_SMOKE).collect()}
    assert broken != good


def test_decon_and_prefix_faces_match_oracle_on_null_empty_skew(
        spark, tmp_path):
    """The two decontamination faces, the end-to-end pipeline and the
    prefix Jaccard face agree with their DuckDB oracles on a corpus of
    edge rows: NULL text (and NULL lang), empty text, fewer than four
    tokens, runs of spaces, an exact duplicate, and a skewed 4-gram held
    by more than _DECON_MAX_DF train docs plus held-out docs. The skewed
    gram is pruned, so only a held-out doc that shares a rare gram is
    contaminated, and only the train docs holding that gram leave the
    pipeline's survivors."""
    import hashlib

    import duckdb

    from multiagent_form_schema_etl_spark.operators import llmprep as L
    from multiagent_form_schema_etl_spark.plans import registry

    registry.load_all_modules()

    def steer(text, held):
        """`text` plus the first salt that puts it in the wanted split."""
        for i in range(1000):
            t = f"{text} z{i}"
            if (int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 100
                    >= 80) == held:
                return t
        raise AssertionError(text)

    n_skew = L._DECON_MAX_DF + 6
    docs = [(1, None, "en"), (2, "", "en"), (3, "a b c", "en"),
            (4, "a  b   c", "en"), (5, "p q r s n1 n2 n3", None)]
    for i in range(n_skew):
        rare = "m n o k " if i < 3 else ""
        body = " ".join(f"t{i}w{j}" for j in range(44))
        docs.append((10 + i, steer(f"{rare}p q r s {body}", False), "en"))
    docs.append((10 + n_skew, docs[-1][1], "en"))     # exact duplicate
    docs.append((200, steer("p q r s m n o k h1 h2", True), "en"))
    docs.append((201, steer("p q r s x y", True), "en"))
    near = [f"v{j}" for j in range(20)]
    docs.append((300, " ".join(near), "en"))
    docs.append((301, " ".join(near[:-1] + ["v99"]), "en"))
    rows = [(i, t, lang, None if t is None else len(t))
            for i, t, lang in docs]
    sf = tmp_path / "edges"
    sf.mkdir()
    path = str(sf / "documents.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long") \
        .write.parquet(path)
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{path}/*.parquet')")

    got = {}
    for name in ("x5_decontaminate_ngram", "x5_decontaminate_bloom",
                 "x5_corpus_pipeline_end_to_end", "x1_dedup_jaccard_prefix"):
        df = registry.QUERIES[name](spark, str(sf))
        res = con.execute(registry.ORACLES[name])
        cols = [d[0] for d in res.description]
        want = sorted(res.fetchall())
        assert sorted(df.columns) == sorted(cols), name
        got[name] = sorted(tuple(r[c] for c in cols) for r in df.collect())
        assert got[name] == want, name

    # the skewed gram is pruned: only doc 200's rare gram (3 train docs)
    assert got["x5_decontaminate_ngram"] == [(200, 1, 3)]
    survivors = sum(r.n_docs for r in registry.QUERIES[
        "x5_corpus_pipeline_end_to_end"](spark, str(sf)).collect())
    assert survivors == n_skew - 3
    # runs of spaces leave the token set unchanged: docs 3 and 4 are twins
    assert {(a, b) for a, b, _ in got["x1_dedup_jaccard_prefix"]} == {
        (3, 4), (10 + n_skew - 1, 10 + n_skew), (300, 301)}
