"""Public document-pipeline API (the engine's user-facing surface).

A user of the reference runs: ingest a document → clause segmentation →
schema-guided field extraction → validation/recovery → form output →
evaluation (SURVEY.md §3.1). This facade runs the same lifecycle over ANY
blocks/doc-form/schema inputs -- fixtures are only a default used by the
oracle-checked queries.

Schemas are late-bound data: pass either fixture-style rows or a directory
of JSON schema files (sources.schemas). They become a broadcast table of
cascade rules (one row per pattern or keyword try, KBs) that one generic
extraction kernel applies, so a new form or field changes data, not the
compiled plan.

Two extraction modes, one lifecycle: ``fulltext`` (the default, what the
reference runs) reads each document's full text, ``scoped`` (what the
reference intends) reads each field's section clause context. The mode is
decided in one place (operators.document.extraction_df); everything after
extraction is shared.

Typical use::

    from multiagent_form_schema_etl_spark.pipeline import DocumentPipeline

    pipe = DocumentPipeline(spark, schema_rows)        # or .from_schema_dir
    out = pipe.run(blocks_df, doc_forms_df)            # or mode="scoped"
    try:
        out["forms"].write.parquet(...)                # EAV form rows
        scores = pipe.score(out["forms"], ground_truth_df)  # J1+A4
    finally:
        out["extractions"].unpersist()                 # release the boundary

In both modes ``run`` persists one stage boundary, the extraction EAV: the
cascade runs once per run and validation, recovery, completeness and a
later rebuilt ``recover`` of the same mode (Spark's CacheManager matches
its plan to the persisted relation) all read that one result instead of
rescanning blocks. The caller owns the handle and releases it with
``out["extractions"].unpersist()`` once its writes and evaluation are done.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import document as D
from .plans.registry import track_persist

# Most schema field rows from_schema_dir collects into this process.
MAX_SCHEMA_FIELD_ROWS = 10_000


class DocumentPipeline:
    """The reference's ContractOrchestrator (orchestration/orchestrator.py:
    40-68) re-expressed as a lineage factory: each method returns a lazy
    DataFrame; ``run`` assembles the full stage dict (the engine analog of
    the per-phase snapshots, main.py:154-208)."""

    def __init__(self, spark: SparkSession, schema_rows: list[tuple]):
        self.spark = spark
        self.schema_rows = list(schema_rows)

    @classmethod
    def from_schema_dir(cls, spark: SparkSession, schema_dir: str) -> "DocumentPipeline":
        """Late-bind schemas from a JSON directory (S4)."""
        from .sources.schemas import load_schemas

        # N + 1 rows, in one job, are enough to detect an oversized directory
        rows = (load_schemas(spark, schema_dir)
                .limit(MAX_SCHEMA_FIELD_ROWS + 1).collect())
        if len(rows) > MAX_SCHEMA_FIELD_ROWS:
            # schemas are collected into driver-side rule tables; a mis-pointed
            # directory (e.g. a data lake path) would OOM the driver here
            raise ValueError(
                f"schema_dir {schema_dir!r} holds more than "
                f"{MAX_SCHEMA_FIELD_ROWS} field rows -- "
                "refusing to collect (is this really a schema directory?)")
        return cls(spark, [
            (r["form_name"], r["field_name"], r["ftype"], r["section"],
             bool(r["required"]), r["keywords"], r["patterns"], r["examples"],
             r["c_min"], r["c_max"], r["c_pattern"], r["c_enum"],
             r["default_value"])
            for r in rows
        ])

    # -- stages ------------------------------------------------------------

    def words(self, blocks: DataFrame) -> DataFrame:
        return D.words_df(self.spark, blocks)

    def clauses(self, blocks: DataFrame) -> DataFrame:
        return D.clauses_df(self.spark, blocks)

    def full_text(self, blocks: DataFrame, doc_forms: DataFrame) -> DataFrame:
        return D.fulltext_df(self.spark, blocks, doc_forms)

    def extract(self, blocks: DataFrame, doc_forms: DataFrame,
                mode: str = "fulltext") -> DataFrame:
        return D.extraction_df(self.spark, blocks, doc_forms, self.schema_rows,
                               mode)

    def recover(self, blocks: DataFrame, doc_forms: DataFrame,
                mode: str = "fulltext") -> DataFrame:
        return D.recovered_df(self.spark, schema_rows=self.schema_rows,
                              extraction=self.extract(blocks, doc_forms, mode))

    def score(self, forms: DataFrame, ground_truth: DataFrame) -> DataFrame:
        return D.score_predictions(
            forms.select("doc_id", "field_name", "value"), ground_truth)

    def metrics(self, scored: DataFrame) -> DataFrame:
        return D.metrics_of(scored)

    # -- assembled lifecycle ----------------------------------------------

    def run(self, blocks: DataFrame, doc_forms: DataFrame,
            mode: str = "fulltext") -> dict[str, DataFrame]:
        """Full lifecycle as a dict of lazy stage DataFrames (write any
        subset as stage snapshots via sources.sinks). ``mode`` picks the
        text the cascade reads (``fulltext`` or ``scoped``); the seven
        stages and their columns are the same in both modes.

        ``extractions`` is persisted: the cascade is the one stage
        boundary, and ``validation_errors``, ``forms`` and
        ``completeness`` derive from one validation of it, so no write
        downstream of extraction rescans blocks. The caller owns the
        handle: call ``out["extractions"].unpersist()`` when done."""
        ext = track_persist(self.extract(blocks, doc_forms, mode))
        validated = D.validated_df(self.spark, schema_rows=self.schema_rows,
                                   extraction=ext)
        forms = D.recovered_of(validated)
        completeness = forms.groupBy("doc_id", "form_name").agg(
            F.bool_and(F.when(F.col("required"), F.col("value").isNotNull())
                        .otherwise(F.lit(True))).alias("is_complete"),
            F.count("value").alias("n_filled"))
        return {
            "words": self.words(blocks),
            "clauses": self.clauses(blocks),
            "full_text": self.full_text(blocks, doc_forms),
            "extractions": ext,
            "validation_errors": validated.selectExpr(
                "doc_id", "form_name", "field_name",
                f"stack({len(D._VIOL_RULES)}, "
                + ", ".join(f"'{r}', v_{r}" for r in D._VIOL_RULES)
                + ") AS (rule, viol)").filter("viol").drop("viol"),
            "forms": forms,
            "completeness": completeness,
        }
