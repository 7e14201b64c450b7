"""CLI surface tests (__main__.py): the reference's entry points (SURVEY
§3.1-3.3) driven end-to-end over the fixtures."""

from __future__ import annotations

import json
import glob
import os

import pytest

from multiagent_form_schema_etl_spark.__main__ import main


STAGES = ("words", "clauses", "full_text", "extractions",
          "validation_errors", "forms", "completeness")


@pytest.mark.parametrize("mode", ["fulltext", "scoped"])
def test_cli_pipeline_writes_stages_and_forms(spark, tmp_path, mode):
    """Both modes run one lifecycle: every stage can be written, and
    forms_json carries the validated, recovered form columns. The extra
    field is required, has a default and a keyword that document 1's full
    text matches, but its section matches no clause: scoped extraction
    finds nothing, fails validation and recovers the default."""
    from multiagent_form_schema_etl_spark.fixtures import SCHEMA_ROWS
    from multiagent_form_schema_etl_spark.sources import schemas as sch

    schema_dir = str(tmp_path / "schemas")
    extra = ("NDA_Form", "law_fallback", "string", "No Such Section", True,
             ["governed by"], None, None, None, None, None, None, "Delaware")
    sch.save_schema(sch.schema_rows_to_json([*SCHEMA_ROWS, extra],
                                            "NDA_Form"), schema_dir)
    out = str(tmp_path / "out")
    assert main(["pipeline", "--mode", mode, "--schema-dir", schema_dir,
                 "--form", "NDA_Form", "--out", out,
                 "--stages", ",".join(STAGES)]) == 0
    for stage in STAGES:
        if stage != "forms":
            assert spark.read.parquet(os.path.join(out, stage)).count() > 0
    [jf] = glob.glob(os.path.join(out, "forms_json", "part-*.json"))
    rows = [json.loads(line) for line in open(jf)]
    assert rows and all(set(r) == {"doc_id", "form_name", "field_name",
                                   "required", "value", "method"}
                        for r in rows)
    fallback = {r["doc_id"]: (r["value"], r["method"]) for r in rows
                if r["field_name"] == "law_fallback"}
    assert set(fallback) == {1, 2}  # the two NDA fixture documents
    assert fallback[2] == ("Delaware", "recovery_default")  # no keyword hit
    # document 1's full text says "governed by"; its clauses' sections do not
    assert fallback[1] == ({"fulltext": ("the laws of the State of "
                                         "California", "keyword"),
                            "scoped": ("Delaware", "recovery_default")}[mode])


@pytest.mark.parametrize("mode", ["fulltext", "scoped"])
def test_cli_pipeline_releases_its_stage_boundary(spark, tmp_path, mode):
    """The pipeline persists the extraction EAV for its writes and
    unpersists it after them, in both modes: no cache entry for the
    boundary and no persisted RDD outlive the command."""
    from multiagent_form_schema_etl_spark.fixtures import SCHEMA_ROWS
    from multiagent_form_schema_etl_spark.operators import document as D
    from multiagent_form_schema_etl_spark.pipeline import DocumentPipeline

    blocks, doc_forms = str(tmp_path / "blocks"), str(tmp_path / "doc_forms")
    D.blocks_df(spark).write.parquet(blocks)
    D.doc_forms_df(spark).write.parquet(doc_forms)
    sc = spark.sparkContext._jsc.sc()
    base = sc.getPersistentRDDs().size()
    assert main(["pipeline", "--mode", mode, "--blocks", blocks,
                 "--doc-forms", doc_forms, "--out", str(tmp_path / "out")]) == 0
    assert sc.getPersistentRDDs().size() == base
    pipe = DocumentPipeline(spark, SCHEMA_ROWS)
    ext = pipe.extract(spark.read.parquet(blocks),
                       spark.read.parquet(doc_forms), mode)
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.lookupCachedData(ext._jdf).isEmpty()


@pytest.mark.parametrize("mode", ["fulltext", "scoped"])
def test_cli_pipeline_honours_schema_dir(spark, tmp_path, mode):
    """``--schema-dir`` drives the extracted fields in both modes: a
    one-field NDA schema yields that field only, not the fixture schema's
    NDA fields."""
    from multiagent_form_schema_etl_spark.sources import schemas as sch

    schema_dir = str(tmp_path / "schemas")
    row = ("NDA_Form", "law_only", "string", "Governing", False,
           ["governed by"], None, None, None, None, None, None, None)
    sch.save_schema(sch.schema_rows_to_json([row], "NDA_Form"), schema_dir)
    out = str(tmp_path / "out")
    assert main(["pipeline", "--mode", mode, "--schema-dir", schema_dir,
                 "--form", "NDA_Form", "--out", out]) == 0
    [jf] = glob.glob(os.path.join(out, "forms_json", "part-*.json"))
    rows = [json.loads(line) for line in open(jf)]
    assert rows and {r["field_name"] for r in rows} == {"law_only"}


def test_cli_pipeline_scoped_mode_and_form_filter(spark, tmp_path):
    out = str(tmp_path / "scoped")
    rc = main(["pipeline", "--mode", "scoped", "--form", "NDA_Form",
               "--out", out])
    assert rc == 0
    [jf] = glob.glob(os.path.join(out, "forms_json", "part-*.json"))
    rows = [json.loads(line) for line in open(jf)]
    assert rows and all(r["form_name"] == "NDA_Form" for r in rows)


def test_cli_evaluate_writes_report(spark, tmp_path):
    out = str(tmp_path / "eval")
    rc = main(["evaluate", "--out", out])
    assert rc == 0
    [jf] = glob.glob(os.path.join(out, "eval_report", "part-*.json"))
    rows = [json.loads(line) for line in open(jf)]
    assert rows and "f1" in rows[0]


def test_cli_query_runs_and_rejects_unknown(spark, capsys, tmp_path):
    assert main(["query", "q01_pricing_summary",
                 "--sf-dir", "/root/testdata/sf0.001", "--limit", "3"]) == 0
    lines = [json.loads(line)
             for line in capsys.readouterr().out.strip().splitlines()]
    assert 0 < len(lines) <= 3 and "l_returnflag" in lines[0]
    assert main(["query", "no_such_query"]) == 2


def test_cli_list_names_every_registered_query(spark, capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    import __spark_entry__ as e
    assert all(name in out for name in e.queries())


def test_cli_pipeline_metrics_flag_reports_input_quality(spark, tmp_path, capsys):
    out = str(tmp_path / "metered")
    rc = main(["pipeline", "--out", out, "--stages", "forms", "--metrics"])
    assert rc == 0
    lines = [ln for ln in capsys.readouterr().out.splitlines()
             if ln.startswith("{")]
    assert lines
    m = json.loads(lines[-1])["input_metrics"]
    assert m["n_rows"] > 0
    assert "nulls_text" in m and "nulls_x0" in m and "sum_confidence" in m


def test_bench_compact_line_stays_under_tail_budget():
    """The driver captures only ~2 KB of stdout tail (BENCH_r08 lost its
    record to this); the compact line must stay under the hard budget even
    with the full current headliner set -- and degrade deterministically
    (drop per-query warm medians from the LINE only) rather than overflow
    if the set ever grows past it."""
    import bench

    names = bench.HEADLINE + bench.OPTIONAL
    run = {
        "value": 50.123, "warm_total": 20.456, "sf": 0.1,
        "queries": {n: 1.234 for n in names},
        "queries_warm": {n: 0.567 for n in names},
        "queries_collect_method": {"w1_running_revenue_per_customer": 2.5,
                                   "st_session_window": 0.9},
        "master": "local[32]", "parallelism": 32,
        "codegen": {"cold": {"compile_count": 600, "compile_ms": 9000.0},
                    "warm": {"compile_count": 0, "compile_ms": 0.0}},
        "layers": {"cold": {n: {"build_s": 0.1} for n in names},
                   "warm": {n: {"build_s": 0.0} for n in names}},
    }
    run_loaded = dict(run, value=92.15,
                      loadavg_before=[7.01, 5.5, 3.2],
                      loadavg_after=[6.8, 5.9, 3.5],
                      steal_pct=23.4)
    full, line = bench.build_records([run, run, run_loaded])
    assert len(line) <= bench._LINE_BUDGET
    rec = json.loads(line)
    assert rec["metric"] == "headline_queries_total_runtime"
    assert rec["n_runs"] == 3 and rec["queries"] and rec["value"] == 50.123
    assert full["runs"] and full["queries_collect_method"]
    # loadavg self-annotation (VERDICT r12 item 1): the worst 1-min sample
    # and the wall-ordered per-pass cold totals ride the compact line so a
    # contaminated record self-identifies without out-of-band disclosure
    assert rec["load_max_1m"] == 7.01
    assert rec["run_values"] == [50.123, 50.123, 92.15]
    assert rec["steal_pct_max"] == 23.4  # hypervisor-steal self-diagnosis
    # scaling-probe evidence (VERDICT r14 item 2): the record itself must
    # prove which core count the session ran with, so the driver's
    # 8-vs-32-core comparison can tell "env ignored" from
    # "overhead-dominated at this SF"
    assert rec["master"] == "local[32]" and rec["parallelism"] == 32
    assert full["runs"][2]["loadavg_before"] == [7.01, 5.5, 3.2]
    assert full["runs"][0]["loadavg_before"] == []  # tolerated when absent
    assert full["runs"][0]["steal_pct"] is None
    # per-pass codegen counts live in the side record only
    assert full["runs"][0]["codegen"]["warm"]["compile_count"] == 0
    assert "codegen" not in rec
    # so do the per-face layers
    assert full["runs"][0]["layers"]["cold"][names[0]]["build_s"] == 0.1
    assert "layers" not in rec

    # a pathologically wide headliner set must shed queries_warm, not grow
    wide = dict(run)
    wide["queries"] = {f"q_{i}_{'x'*30}": 1.0 for i in range(40)}
    wide["queries_warm"] = dict(wide["queries"])
    _, wline = bench.build_records([wide])
    assert len(wline) <= bench._LINE_BUDGET
    assert "queries_warm" not in json.loads(wline)

    # and a set so wide the cold medians alone overflow must shed them
    # too (ADVICE r9 final fallback) -- the line parses unconditionally
    huge = dict(run)
    huge["queries"] = {f"q_{i}_{'y'*60}": 1.0 for i in range(60)}
    huge["queries_warm"] = dict(huge["queries"])
    _, hline = bench.build_records([huge])
    assert len(hline) <= bench._LINE_BUDGET
    hrec = json.loads(hline)
    assert "queries" not in hrec and hrec["queries_in"] == "BENCH_LOCAL.json"
    assert hrec["value"] == 50.123 and hrec["warm_total"] == 20.456
