"""The public DocumentPipeline facade must (a) reproduce the fixture-bound
query results and (b) work on entirely new inputs + JSON-loaded schemas --
proving the engine is not fixture-hardwired."""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from multiagent_form_schema_etl_spark.fixtures import SCHEMA_ROWS
from multiagent_form_schema_etl_spark.operators import document as D
from multiagent_form_schema_etl_spark.pipeline import DocumentPipeline


def _rows(df):
    return sorted(map(tuple, df.collect()))


@contextlib.contextmanager
def _released(stages):
    """Yield ``run``'s stage dict and release its persisted boundary."""
    try:
        yield stages
    finally:
        stages["extractions"].unpersist()


def test_pipeline_matches_fixture_queries(spark):
    """Every stage fed from the persisted extraction boundary gives the
    rows of an unpersisted build, both read through the cache and
    recomputed after the boundary is released."""
    pipe = DocumentPipeline(spark, SCHEMA_ROWS)
    blocks = D.blocks_df(spark)
    forms = D.doc_forms_df(spark)
    # built and collected before run() persists anything
    want = {
        "extractions": _rows(D.extraction_df(spark)),
        "forms": _rows(D.recovered_df(spark)),
        "clauses": _rows(D.clauses_df(spark)),
        "validation_errors": _rows(D.doc_p10_validation_errors(spark, None)),
        "completeness": _rows(D.doc_a7_form_completeness(spark, None)
                              .select("doc_id", "form_name", "is_complete",
                                      "n_filled")),
    }
    with _released(pipe.run(blocks, forms)) as out:
        cached = {name: _rows(df) for name, df in out.items()}
        assert {name: cached[name] for name in want} == want
    assert {name: _rows(df) for name, df in out.items()} == cached


def test_scoped_run_matches_the_scoped_oracle(spark):
    """Scoped ``run`` persists the scoped extraction EAV: its
    (doc, form, field, value) rows are the DuckDB oracle of the scoped
    cascade face, a scoped ``recover`` gives run's forms, and every stage
    gives the same rows through the cache and after the boundary is
    released."""
    import duckdb

    from multiagent_form_schema_etl_spark.plans import registry

    registry.load_all_modules()
    want = sorted(duckdb.connect().execute(
        registry.ORACLES["doc_u7_scoped_extraction"]).fetchall())
    pipe = DocumentPipeline(spark, SCHEMA_ROWS)
    blocks, forms = D.blocks_df(spark), D.doc_forms_df(spark)
    with _released(pipe.run(blocks, forms, mode="scoped")) as out:
        cached = {name: _rows(df) for name, df in out.items()}
        assert _rows(out["extractions"].select(
            "doc_id", "form_name", "field_name", "value")) == want
        assert _rows(pipe.recover(blocks, forms, "scoped")) == cached["forms"]
    assert {name: _rows(df) for name, df in out.items()} == cached


def test_pipeline_on_fresh_input_with_json_schemas(spark):
    """New document, schema loaded from JSON on disk -- end to end."""
    from multiagent_form_schema_etl_spark.sources import schemas as sch

    with tempfile.TemporaryDirectory() as d:
        sch.save_schema(sch.schema_rows_to_json(SCHEMA_ROWS, "NDA_Form"), d)
        pipe = DocumentPipeline.from_schema_dir(spark, d)

    blocks = spark.createDataFrame(
        [
            (99, 0, 0, "1. Agreement", "paragraph", 1.0, "native"),
            (99, 0, 1,
             "This deal is effective on 2024-02-02 and the disclosing party "
             "means Zeta Ltd, while the receiving party means Eta GmbH, ok.",
             "paragraph", 1.0, "native"),
            (99, 0, 2,
             "It is governed by the laws of Bavaria, with a confidentiality "
             "period of 9 years in force.", "paragraph", 1.0, "native"),
        ],
        "doc_id long, page int, block_idx int, text string, label string, "
        "confidence double, source string")
    doc_forms = spark.createDataFrame([(99, "NDA_Form")],
                                      "doc_id long, form_name string")
    with _released(pipe.run(blocks, doc_forms)) as out:
        ext = {r["field_name"]: r["value"]
               for r in out["extractions"].collect()}
        assert ext["effective_date"] == "2024-02-02"
        assert ext["disclosing_party"] == "Zeta Ltd"
        assert ext["receiving_party"] == "Eta GmbH"
        assert ext["governing_law"] == "laws of Bavaria"
        assert ext["confidentiality_period"] == "9 years"

        clauses = {r["section_key"]: r["clause_text"]
                   for r in out["clauses"].collect()}
        assert set(clauses) == {"1"}
        comp = out["completeness"].collect()[0]
        assert comp["is_complete"] is True

        gt = spark.createDataFrame(
            [(99, "effective_date", "2024-02-02"),
             (99, "governing_law", "Bavaria"),
             (99, "disclosing_party", "Zeta Ltd")],
            "doc_id long, field_name string, true_value string")
        m = pipe.metrics(pipe.score(out["forms"], gt)).collect()[0]
        assert m["recall"] == 1.0  # every truth field predicted


def test_pipeline_stages_read_no_python_rdd(spark):
    """Every constant table a stage reads (candidates, schema meta, the
    fixture inputs) is a LocalRelation: no analyzed plan of run/recover/
    score/metrics has an ExistingRDD leaf, so no write starts
    Python-worker tasks to decode rule rows. (The analyzed plan, because
    cache substitution comes after analysis: the optimized plan of the
    persisted ``extractions`` is an InMemoryRelation.)"""
    pipe = DocumentPipeline(spark, SCHEMA_ROWS)
    blocks, forms = D.blocks_df(spark), D.doc_forms_df(spark)
    with _released(pipe.run(blocks, forms)) as stages:
        stages["recover"] = pipe.recover(blocks, forms)
        stages["score"] = pipe.score(stages["recover"], D.ground_truth_df(spark))
        stages["metrics"] = pipe.metrics(stages["score"])
        for name, df in stages.items():
            plan = df._jdf.queryExecution().analyzed().toString()
            assert "LogicalRDD" not in plan, name
            assert "LocalRelation" in plan, name


def _leaves(plan) -> list:
    """Leaf operators of a physical plan and its subqueries, looking
    through AQE wrappers and query stages but not into the plan a cached
    relation was built from."""
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return _leaves(plan.executedPlan())
    if cls.endswith("QueryStageExec"):
        return _leaves(plan.plan())
    if cls == "ReusedExchangeExec":
        return _leaves(plan.child())
    kids, subs = plan.children(), plan.subqueries()
    if kids.size() == 0 and subs.size() == 0:
        return [plan]
    return [leaf for seq in (kids, subs) for i in range(seq.size())
            for leaf in _leaves(seq.apply(i))]


def test_pipeline_boundary_hits_the_cache(spark, tmp_path):
    """Once ``extractions`` is written, every stage downstream of it and a
    separately rebuilt ``recover`` read the persisted relation: their
    executed plans scan it (InMemoryTableScan) and no input file."""
    from multiagent_form_schema_etl_spark.sources import sinks

    D.blocks_df(spark).write.parquet(str(tmp_path / "blocks"))
    D.doc_forms_df(spark).write.parquet(str(tmp_path / "doc_forms"))
    blocks = spark.read.parquet(str(tmp_path / "blocks"))
    doc_forms = spark.read.parquet(str(tmp_path / "doc_forms"))
    pipe = DocumentPipeline(spark, SCHEMA_ROWS)
    with _released(pipe.run(blocks, doc_forms)) as out:
        sinks.write_stage(out["extractions"], str(tmp_path / "out"),
                          "extractions")
        readers = {name: out[name] for name in
                   ("validation_errors", "forms", "completeness")}
        readers["recover"] = pipe.recover(blocks, doc_forms)
        for name, df in readers.items():
            df.collect()
            leaves = [leaf.getClass().getSimpleName() for leaf in
                      _leaves(df._jdf.queryExecution().executedPlan())]
            assert "InMemoryTableScanExec" in leaves, (name, leaves)
            assert "FileSourceScanExec" not in leaves, (name, leaves)


def test_from_schema_dir_refuses_oversized_directory(spark, tmp_path,
                                                     monkeypatch):
    """A directory with more field rows than MAX_SCHEMA_FIELD_ROWS is
    refused instead of collected; at the limit it loads."""
    from multiagent_form_schema_etl_spark import pipeline
    from multiagent_form_schema_etl_spark.sources import schemas as sch

    sch.save_schema(sch.schema_rows_to_json(SCHEMA_ROWS, "NDA_Form"),
                    str(tmp_path))
    n = sum(r[0] == "NDA_Form" for r in SCHEMA_ROWS)
    monkeypatch.setattr(pipeline, "MAX_SCHEMA_FIELD_ROWS", n)
    assert len(DocumentPipeline.from_schema_dir(spark, str(tmp_path))
               .schema_rows) == n
    monkeypatch.setattr(pipeline, "MAX_SCHEMA_FIELD_ROWS", n - 1)
    with pytest.raises(ValueError, match="refusing to collect"):
        DocumentPipeline.from_schema_dir(spark, str(tmp_path))


def _compile_count(spark) -> int:
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())


def _doc_lifecycle(spark, _tmp):
    """run (every stage), recover, score and metrics, each through a noop
    write -- what the CLI ``pipeline`` + ``evaluate`` execute."""
    pipe = DocumentPipeline(spark, SCHEMA_ROWS)
    blocks, forms = D.blocks_df(spark), D.doc_forms_df(spark)
    with _released(pipe.run(blocks, forms)) as stages:
        recovered = pipe.recover(blocks, forms)
        scored = pipe.score(recovered, D.ground_truth_df(spark))
        for df in (*stages.values(), recovered, scored, pipe.metrics(scored)):
            df.write.format("noop").mode("overwrite").save()


def _corpus_faces(spark, tmp):
    """The four corpus-prep faces on a fresh copy of the smoke corpus (a
    new path, so no memoized plan or cached relation is reused), each
    through count + xor of row hashes."""
    from multiagent_form_schema_etl_spark.plans import registry

    registry.load_all_modules()
    d = tempfile.mkdtemp(dir=tmp)
    shutil.copy(os.path.join(SF_SMOKE, "documents.parquet"), d)
    for name in ("x5_corpus_pipeline_end_to_end", "x1_dedup_minhash_lsh",
                 "x1_dedup_jaccard_prefix", "x1_dedup_keep_best_quality"):
        df = registry.QUERIES[name](spark, d)
        df.select(F.count(F.lit(1)),
                  F.bit_xor(F.xxhash64(*df.columns))).collect()


@pytest.mark.parametrize("batch", [_doc_lifecycle, _corpus_faces],
                         ids=["doc_lifecycle", "corpus_prep"])
def test_repeated_batch_compiles_no_new_code(spark, tmp_path, batch):
    """A steady batch re-runs plans the session has already compiled, so
    it must find every generated class in the codegen cache: a cache
    smaller than one batch's working set evicts each class before its
    next use and recompiles it in the Spark driver and in every task."""
    from multiagent_form_schema_etl_spark.plans import registry

    try:
        batch(spark, str(tmp_path))
        before = _compile_count(spark)
        batch(spark, str(tmp_path))
        assert _compile_count(spark) - before == 0
    finally:
        registry.invalidate(spark)
