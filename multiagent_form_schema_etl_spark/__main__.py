"""CLI entry points — the engine analog of the reference's ``python main.py``
surface (SURVEY.md §3.1-3.3), driven by argparse subcommands::

    python -m multiagent_form_schema_etl_spark pipeline  [--mode fulltext|scoped]
        [--schema-dir DIR] [--blocks P.parquet] [--doc-forms P.parquet]
        [--form NAME] [--out DIR] [--stages words,clauses,...]
    python -m multiagent_form_schema_etl_spark evaluate  [--out DIR] ...
    python -m multiagent_form_schema_etl_spark query NAME [--sf-dir DIR]
        [--out DIR] [--explain] [--limit N]
    python -m multiagent_form_schema_etl_spark list

- ``pipeline`` = §3.1: blocks → clauses → extraction → validation/recovery →
  forms, with per-stage parquet snapshots (K2) and the final form rows as
  JSON (K1). ``--mode`` picks the text the extraction cascade reads:
  ``fulltext`` (the reference's actual behavior) or ``scoped`` (its
  intended clause-grounded extraction). It is passed to
  ``DocumentPipeline.run``, so both modes write the same stages and the
  same validated, recovered form columns. ``--form`` filters to one form
  like the reference's --form flag (which the reference then ignores,
  SURVEY §2.12 — here it works).
- ``evaluate`` = §3.3: score forms against ground truth (J1/A4) and write
  the per-form metrics report (A5/A6) as JSON (K4).
- ``query`` runs any registered query (TPC-H, dedup, similarity, streaming
  batch twins, ...) against a testdata directory — the ad-hoc analytics
  face of the engine.

Inputs default to the literal fixtures so every command runs out of the box;
pass parquet paths for real data. No network, no models: the U2/U3/U4 slots
keep their deterministic defaults (strategies.py).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession


def _spark(app: str) -> SparkSession:
    from .session import get_spark

    return get_spark(app)


def _load_or_fixture(spark: SparkSession, path: str | None, fixture) -> DataFrame:
    return spark.read.parquet(path) if path else fixture(spark)


def _pipe(spark: SparkSession, schema_dir: str | None):
    from .fixtures import SCHEMA_ROWS
    from .pipeline import DocumentPipeline

    if schema_dir:
        return DocumentPipeline.from_schema_dir(spark, schema_dir)
    return DocumentPipeline(spark, SCHEMA_ROWS)


def cmd_pipeline(args: argparse.Namespace) -> int:
    from .operators import document as D
    from .sources import sinks

    spark = _spark("cli-pipeline")
    blocks = _load_or_fixture(spark, args.blocks, D.blocks_df)
    obs = None
    if args.metrics:
        from . import observability

        blocks, obs = observability.attach_quality_metrics(
            blocks, check_nulls=["text", "x0"], value_col="confidence")
    doc_forms = _load_or_fixture(spark, args.doc_forms, D.doc_forms_df)
    if args.form:
        doc_forms = doc_forms.filter(doc_forms.form_name == args.form)
    stages = _pipe(spark, args.schema_dir).run(blocks, doc_forms, args.mode)
    try:
        wanted = args.stages.split(",") if args.stages else list(stages)
        unknown = [s for s in wanted if s not in stages]
        if unknown:
            print(f"unknown stages {unknown}; available: {list(stages)}",
                  file=sys.stderr)
            return 2
        for stage in wanted:
            if stage == "forms":
                continue  # forms are the final JSON output below
            path = sinks.write_stage(stages[stage], args.out, stage)
            print(f"stage {stage} -> {path}")
        path = sinks.write_final_json(stages["forms"], args.out, "forms_json")
        print(f"forms -> {path}")
        if obs is not None:
            # single-pass: the stage/forms writes above were the driving
            # actions; the counters accumulated alongside them, no extra scan
            print(json.dumps({"input_metrics": dict(obs.get)}))
        return 0
    finally:
        stages["extractions"].unpersist()  # release run()'s boundary


def cmd_evaluate(args: argparse.Namespace) -> int:
    from .operators import document as D
    from .sources import sinks

    spark = _spark("cli-evaluate")
    blocks = _load_or_fixture(spark, args.blocks, D.blocks_df)
    doc_forms = _load_or_fixture(spark, args.doc_forms, D.doc_forms_df)
    truth = _load_or_fixture(spark, args.truth, D.ground_truth_df)
    pipe = _pipe(spark, args.schema_dir)
    forms = pipe.recover(blocks, doc_forms)
    scored = pipe.score(forms, truth)
    report = pipe.metrics(scored)
    path = sinks.write_final_json(report, args.out, "eval_report")
    print(f"eval report -> {path}")
    return 0


def cmd_query(args: argparse.Namespace) -> int:
    from .plans import registry

    registry.load_all_modules()
    if args.name not in registry.QUERIES:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2
    spark = _spark(f"cli-query-{args.name}")
    df = registry.QUERIES[args.name](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    if args.out:
        from .sources import sinks

        path = sinks.write_stage(df, args.out, args.name)
        print(f"{args.name} -> {path}")
        return 0
    for row in df.limit(args.limit).collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_list(args: argparse.Namespace) -> int:
    from .plans import registry

    registry.load_all_modules()
    for name in registry.ordered_query_names():
        mark = "oracle" if name in registry.ORACLES else "rows-only"
        print(f"{name}\t{mark}")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m multiagent_form_schema_etl_spark",
        description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)

    def io_flags(sp: argparse.ArgumentParser) -> None:
        sp.add_argument("--schema-dir", help="JSON schema directory (S4); "
                        "defaults to the built-in fixture schemas")
        sp.add_argument("--blocks", help="blocks parquet path (fixture default)")
        sp.add_argument("--doc-forms", help="doc→form parquet path")
        sp.add_argument("--out", default="out", help="output directory")

    sp = sub.add_parser("pipeline", help="full document lifecycle (§3.1)")
    io_flags(sp)
    sp.add_argument("--mode", choices=("fulltext", "scoped"),
                    default="fulltext",
                    help="fulltext = reference's actual behavior; "
                         "scoped = its intended clause-grounded mode")
    sp.add_argument("--form", help="restrict to one form name")
    sp.add_argument("--stages", help="comma list of stage snapshots to write")
    sp.add_argument("--metrics", action="store_true",
                    help="print single-pass observe() quality metrics for "
                         "the input blocks (rows, null counts, confidence "
                         "sum) as a JSON line after the run")
    sp.set_defaults(fn=cmd_pipeline)

    sp = sub.add_parser("evaluate", help="score vs ground truth (§3.3)")
    io_flags(sp)
    sp.add_argument("--truth", help="ground-truth parquet path")
    sp.set_defaults(fn=cmd_evaluate)

    sp = sub.add_parser("query", help="run a registered query")
    sp.add_argument("name")
    sp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sp.add_argument("--out", help="write result parquet here instead of stdout")
    sp.add_argument("--limit", type=int, default=20,
                    help="stdout row cap (default 20)")
    sp.add_argument("--explain", action="store_true",
                    help="print the formatted physical plan instead")
    sp.set_defaults(fn=cmd_query)

    sp = sub.add_parser("list", help="list registered queries")
    sp.set_defaults(fn=cmd_list)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
