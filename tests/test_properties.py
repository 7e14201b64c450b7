"""Property-style checks (SURVEY.md §5.4): sessionization invariants,
cascade precedence, null-normalization idempotence, regex dialect
translation -- driven by hypothesis where randomness helps."""

from __future__ import annotations

import re

import pandas as pd  # module-level: pandas_udf resolves stringified hints here
import pytest

from hypothesis import given, settings
from hypothesis import strategies as st

from multiagent_form_schema_etl_spark.functions.regex import py_regex_to_java
from multiagent_form_schema_etl_spark.functions.scalars import NULL_WORDS


# --- pure-python properties (no spark needed) -------------------------------

@given(st.text(alphabet="aAbB .-_@0189", max_size=30))
@settings(max_examples=200, deadline=None)
def test_null_words_normalization_idempotent(s):
    """nullify(nullify(x)) == nullify(x) semantics: the null-word set is
    closed under lower/strip."""
    def norm(v):
        return None if v is None or v.lower().strip() in NULL_WORDS else v

    assert norm(norm(s)) == norm(s)


@given(st.sampled_from([
    r"effective\s+(\d+)",
    r"[A-Z]{3}\s+[\d,]+(\.\d{2})?",
    r"(?:governed by|laws of)\s+([A-Za-z\s]+?)(?:\.|,)",
]), st.sampled_from([
    "Effective 2021-03-05 USD 1,200.50",
    "governed by the Laws of California, ok",
    "EFFECTIVE   99",
]))
@settings(max_examples=50, deadline=None)
def test_regex_translation_inlines_flags(pattern, text):
    """For the flag-free common subset, translation only injects inline
    (?is) flags -- the translated pattern must find the same span under
    plain re.search that the original finds under IGNORECASE|DOTALL."""
    jp = py_regex_to_java(pattern)
    m_py = re.search(pattern, text, re.IGNORECASE | re.DOTALL)
    m_j = re.search(jp, text)
    assert (m_py is None) == (m_j is None)
    if m_py:
        assert m_py.group(0) == m_j.group(0)


def test_regex_translation_rewrites_named_groups():
    """Python named groups / backrefs become Java syntax (not valid Python
    re -- they target java.util.regex)."""
    assert py_regex_to_java(r"(?P<y>\d{4})-(?P=y)",
                            ignorecase=False, dotall=False) \
        == r"(?<y>\d{4})-\k<y>"


# --- spark-backed invariants -------------------------------------------------

def test_sessionization_invariants(spark):
    """Every content word lands in at most one clause; clause keys are
    exactly the extracted section keys; clause word multiset == appended
    content words (layout_structure.py:138-174 invariants). The keyed
    words come from the DuckDB oracle chain (CTE ``cur``), so Spark's
    clause build is checked against an independent sessionization."""
    import duckdb
    from pyspark.sql import functions as F

    from multiagent_form_schema_etl_spark.operators.document import (
        _CTES,
        clauses_df,
    )

    con = duckdb.connect()
    [(n_content_words,)] = con.sql(f"""{_CTES}
        SELECT COUNT(*) FROM cur
        WHERE NOT trig AND lower(label) IN ('paragraph', 'list_item')
          AND cur_key IS NOT NULL""").fetchall()
    keys_from_words = set(con.sql(f"""{_CTES}
        SELECT DISTINCT doc_id, new_key FROM cur
        WHERE new_key IS NOT NULL""").fetchall())
    con.close()

    clauses = clauses_df(spark)
    n_clause_words = (clauses.filter(F.col("clause_text") != "")
                      .select(F.explode(F.split("clause_text", " ")).alias("w"))
                      .count())
    assert n_content_words > 0
    assert n_content_words == n_clause_words
    keys_from_clauses = {(r["doc_id"], r["section_key"])
                         for r in clauses.select("doc_id", "section_key").collect()}
    assert keys_from_words == keys_from_clauses


def test_cascade_precedence_regex_beats_keyword(spark):
    """A field with both a matching pattern and matching keywords must take
    the regex value (form_filler.py:69-99 ordering)."""
    from multiagent_form_schema_etl_spark.operators.document import extraction_df

    ext = {(r["doc_id"], r["field_name"]): r for r in extraction_df(spark).collect()}
    # doc1 termination_notice: keyword 'termination' would capture different
    # text; the schema pattern must win.
    r = ext[(1, "termination_notice")]
    assert r["method"] == "regex" and r["value"] == "30 days written notice"
    # doc4 support_days has no pattern -> keyword path
    r = ext[(4, "support_days")]
    assert r["method"] == "keyword" and r["value"] == "400"
    # doc3 employment fields have neither -> NULL, no method
    r = ext[(3, "salary")]
    assert r["value"] is None and r["method"] is None


def test_recovery_only_fills_errored_fields_with_defaults(spark):
    from multiagent_form_schema_etl_spark.operators.document import recovered_df

    rec = {(r["doc_id"], r["field_name"]): r for r in recovered_df(spark).collect()}
    assert rec[(4, "start_date")]["value"] == "2020-01-01"
    assert rec[(4, "start_date")]["method"] == "recovery_default"
    # an errored field without a default keeps its value
    assert rec[(4, "support_days")]["value"] == "400"
    assert rec[(4, "support_days")]["method"] == "keyword"


def test_completeness_matches_reference_semantics(spark):
    from multiagent_form_schema_etl_spark.operators.document import (
        doc_a7_form_completeness,
    )

    rows = {r["doc_id"]: r for r in doc_a7_form_completeness(spark, "").collect()}
    assert rows[1]["is_complete"] is True
    assert rows[2]["is_complete"] is False  # receiving_party missing
    assert rows[3]["is_complete"] is False
    assert rows[4]["is_complete"] is True   # start_date recovered via default


def test_apply_in_pandas_matches_builtin_math(spark):
    """The applyInPandas grouped centering must agree (to FP tolerance --
    numpy uses pairwise summation, Spark sequential folds) with the same
    math in pure DataFrame ops."""
    from pyspark.sql import functions as F

    from multiagent_form_schema_etl_spark.catalog import load_table
    from multiagent_form_schema_etl_spark.operators.similarity import (
        x2_grouped_center_applyinpandas,
    )
    from tests.conftest import SF_SMOKE

    got = {r["vec_id"]: r["centered_norm"]
           for r in x2_grouped_center_applyinpandas(spark, SF_SMOKE).collect()}

    emb = (load_table(spark, SF_SMOKE, "embeddings")
           .select("vec_id", "label",
                   F.posexplode(F.transform("embedding", lambda x: x.cast("double")))
                   .alias("i", "v")))
    means = emb.groupBy("label", "i").agg(F.avg("v").alias("mu"))
    want = {r["vec_id"]: r["n"] for r in
            (emb.join(means, ["label", "i"])
             .withColumn("d", (F.col("v") - F.col("mu")) ** 2)
             .groupBy("vec_id").agg(F.sqrt(F.sum("d")).alias("n"))).collect()}
    assert set(got) == set(want)
    assert all(abs(got[k] - want[k]) < 1e-9 for k in got)


def test_pandas_udf_tokenizer_matches_builtin(spark):
    """Arrow pandas_udf vs built-in split: identical token counts -- the
    'UDFs are the slow path' rule is about cost, never results."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from multiagent_form_schema_etl_spark.catalog import load_table
    from tests.conftest import SF_SMOKE

    @pandas_udf("int")
    def py_count(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: len([w for w in t.split(" ") if w]))

    docs = load_table(spark, SF_SMOKE, "documents")
    both = docs.select(
        "doc_id",
        py_count("text").alias("udf_n"),
        F.size(F.filter(F.split("text", " "), lambda w: w != "")).alias("builtin_n"))
    assert both.filter(F.col("udf_n") != F.col("builtin_n")).count() == 0


def test_star_contraction_matches_union_find_on_random_graphs(spark):
    """Differential: star contraction vs a plain Python union-find on
    seeded random graphs (dense, sparse, and mostly-isolated regimes)."""
    import random

    from multiagent_form_schema_etl_spark.operators.dedup import (
        star_contraction_components,
    )

    for seed, n, m in ((1, 30, 15), (2, 40, 60), (3, 25, 4)):
        rng = random.Random(seed)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {(i, find(i)) for i in range(n)}

        nodes = spark.range(0, n).withColumnRenamed("id", "node")
        pairs = spark.createDataFrame(edges, "a long, b long")
        got = {(r.node_id, r.component_id)
               for r in star_contraction_components(nodes, pairs).collect()}
        assert got == want, f"seed {seed}"


@pytest.mark.parametrize("kernel, n_nodes, edges, want", [
    ("star", 5, [], {(i, i) for i in range(5)}),
    ("star", 0, [(1, 2)], set()),
    ("star", 5, [(1, None), (None, 2), (3, 4)],
     {(0, 0), (1, 1), (2, 2), (3, 3), (4, 3)}),
    # sf0.001 documents: doc_id 0..499
    ("blocked", None, [], {(i, i) for i in range(500)}),
], ids=["no_pairs", "no_nodes", "null_endpoint", "blocked_no_pairs"])
def test_components_kernels_on_empty_and_null_inputs(spark, kernel, n_nodes,
                                                     edges, want):
    """Edge inputs of the connected-components kernels: no pairs leaves
    every node its own component, no nodes gives no rows, a pair with a
    NULL endpoint is dropped (not joined to anything), and the block-local
    kernel over an empty pair relation labels every document itself."""
    from multiagent_form_schema_etl_spark.operators.dedup import (
        blocked_components, star_contraction_components)
    from tests.conftest import SF_SMOKE

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    if kernel == "blocked":
        comp = blocked_components(spark, SF_SMOKE, pairs)
    else:
        comp = star_contraction_components(spark.range(0, n_nodes), pairs)
    assert {(r.node_id, r.component_id) for r in comp.collect()} == want


def test_sweep_line_concurrency_matches_brute_force(spark, tmp_path):
    """Differential: the relational sweep (±1 points, per-instant net
    pre-agg, running sum) must match a brute-force per-second simulation of
    [start, end) interval overlap on seeded random events."""
    import datetime
    import random

    from multiagent_form_schema_etl_spark.plans import registry

    registry.load_all_modules()
    base = datetime.datetime(2024, 1, 1)
    for seed in (5, 9):
        rng = random.Random(seed)
        rows = [(i, base + datetime.timedelta(seconds=rng.randint(0, 300)),
                 rng.randrange(4), rng.choice(["a", "b"]),
                 rng.randint(1, 120) / 60.0,  # value minutes => whole seconds
                 "{}")
                for i in range(60)]
        sf = tmp_path / f"conc{seed}"
        sf.mkdir()
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string") \
            .write.parquet(str(sf / "events.parquet"))

        got = {r.event_type: (r.peak_concurrency, r.peak_start)
               for r in registry.QUERIES["st_max_concurrency"](
                   spark, str(sf)).collect()}

        want = {}
        for etype in ("a", "b"):
            ivs = [(ts, ts + datetime.timedelta(
                        seconds=int(v * 60)))  # matches FLOOR(value*60)
                   for _, ts, _, et, v, _ in rows if et == etype]
            instants = sorted({t for iv in ivs for t in iv})
            conc = {t: sum(1 for s, e in ivs if s <= t < e) for t in instants}
            peak = max(conc.values())
            peak_start = min(t for t, c in conc.items() if c == peak)
            want[etype] = (peak, peak_start)
        assert got == want, f"seed {seed}"


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 10_000),   # n_chars (incl. clamp range)
                          st.integers(0, 128)),     # diversity quantum
                min_size=1, max_size=60))
def test_bucket_prefix_rank_equals_global_window(spark, rows):
    """The bucket-prefix rank decomposition (x4_rank_fusion_rrf's r8 plan:
    clamp-bounded bucket ids monotone in the sort order + driver-side
    prefix sums + partitioned within-bucket row_number) must equal the
    single global row_number window on arbitrary data, including ties,
    clamp-boundary values (n_chars >= 4095*64 collapse into bucket 0),
    and single-row inputs."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from multiagent_form_schema_etl_spark.operators.textstats import (
        _bucket_prefix_rank)

    data = [(i, n, d / 128.0) for i, (n, d) in enumerate(rows)]
    sig = (spark.createDataFrame(
        data, "doc_id long, n_chars int, diversity double")
        .withColumn("_b_len",
                    (F.lit(4095) - F.least(F.col("n_chars") / F.lit(64),
                                           F.lit(4095)).cast("int"))
                    .cast("int")))
    got = {r["doc_id"]: r["r"] for r in _bucket_prefix_rank(
        sig, "_b_len", (F.desc("n_chars"), F.asc("doc_id")), "r",
        spark).collect()}
    want = {r["doc_id"]: r["r"] for r in sig.select(
        "doc_id", F.row_number().over(
            Window.orderBy(F.desc("n_chars"), F.asc("doc_id"))).alias("r"))
        .collect()}
    assert got == want


@settings(max_examples=400, deadline=None)
@given(st.text(alphabet="abc", min_size=0, max_size=14),
       st.text(alphabet="abc", min_size=0, max_size=14))
def test_qgram_count_filter_is_necessary(a, b):
    """The x1_entity_qgram_join blocking theorem, exactly as implemented:
    any pair within _QGRAM_K edits either (1) falls in the brute-force
    short bucket (both below q + k*q), or (2) shares at least
    max(len) - q + 1 - k*q bag q-grams AND at least one gram -- so the
    gram-join + count filter can never drop a true pair. Small alphabet
    maximizes repeated grams (the bag-vs-set trap the filter must
    survive)."""
    from collections import Counter

    from multiagent_form_schema_etl_spark.operators.functions_queries import (
        _QGRAM_K, _QGRAM_Q)

    q, k = _QGRAM_Q, _QGRAM_K

    def lev(x, y):
        prev = list(range(len(y) + 1))
        for i, cx in enumerate(x, 1):
            cur = [i]
            for j, cy in enumerate(y, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (cx != cy)))
            prev = cur
        return prev[-1]

    if a == b or lev(a, b) > k:
        return
    mx = max(len(a), len(b))
    if mx < q + k * q:
        return  # brute-force bucket by construction
    ga = Counter(a[i:i + q] for i in range(len(a) - q + 1))
    gb = Counter(b[i:i + q] for i in range(len(b) - q + 1))
    shared = sum((ga & gb).values())
    bound = mx - q + 1 - k * q
    assert shared >= bound, (a, b, shared, bound)
    assert shared >= 1  # the gram join itself sees the pair
