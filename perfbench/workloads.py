"""The workloads. Each one prepares its seeded inputs, runs one batch at a
time through the program's public API, and checks its outputs outside the
timed region.

- ``doc_etl``: what ``python -m multiagent_form_schema_etl_spark pipeline``
  (fulltext mode) and ``evaluate`` do, on a fresh set of documents per
  batch: ``DocumentPipeline.run``, six stage snapshots and the forms JSON
  through ``sources.sinks``, then recover -> score -> metrics -> the
  evaluation report.
- ``corpus_prep``: four LLM-corpus faces over a fresh snapshot of one
  seeded multi-file ``documents.parquet``, each executed through
  ``count`` + ``bit_xor(xxhash64(*))`` so every output row is computed
  while one row returns to Python.
"""

from __future__ import annotations

import decimal
import glob
import json
import os
import shutil

from . import gen_corpus, gen_docs, probe

DOC_STAGES = ("words", "clauses", "full_text", "extractions",
              "validation_errors", "completeness")
CORPUS_FACES = ("x5_corpus_pipeline_end_to_end", "x1_dedup_minhash_lsh",
                "x1_dedup_jaccard_prefix", "x1_dedup_keep_best_quality")


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, fn))
    return size, n


class DocEtl:
    name = "doc_etl"
    n_docs = 400
    ops = len(DOC_STAGES) + 2  # six snapshots, forms JSON, eval report
    scan_marker = "blocks.parquet"

    def __init__(self, ctx):
        self.ctx = ctx

    def prepare(self, seed: int) -> None:
        self.seed = seed

    def next_input(self, i: int) -> dict:
        d = os.path.join(self.ctx.cache, f"doc_etl-s{self.seed}-n{self.n_docs}",
                         f"b{i:03d}")
        b = gen_docs.make_batch(self.seed, i, self.n_docs, d)
        b["out"] = os.path.join(self.ctx.scratch, f"doc_out_b{i:03d}")
        return b

    def run_batch(self, b: dict) -> dict:
        """``cmd_pipeline`` (fulltext) then ``cmd_evaluate`` on batch ``b``."""
        from multiagent_form_schema_etl_spark.fixtures import SCHEMA_ROWS
        from multiagent_form_schema_etl_spark.pipeline import DocumentPipeline
        from multiagent_form_schema_etl_spark.sources import sinks

        spark, span, out = self.ctx.spark, self.ctx.tracer.span, b["out"]
        with span("pipeline.build"):
            blocks = spark.read.parquet(os.path.join(b["dir"], "blocks.parquet"))
            doc_forms = spark.read.parquet(os.path.join(b["dir"], "doc_forms.parquet"))
            pipe = DocumentPipeline(spark, SCHEMA_ROWS)
            stages = pipe.run(blocks, doc_forms)
        for stage in DOC_STAGES:
            with span(f"sinks.write.{stage}"):
                sinks.write_stage(stages[stage], out, stage)
        with span("sinks.write.forms_json"):
            sinks.write_final_json(stages["forms"], out, "forms_json")
        with span("pipeline.build"):
            truth = spark.read.parquet(os.path.join(b["dir"], "truth.parquet"))
            forms = pipe.recover(blocks, doc_forms)
            report = pipe.metrics(pipe.score(forms, truth))
        with span("sinks.write.eval_report"):
            sinks.write_final_json(report, out, "eval_report")
        return {"items": b["n_docs"], "ops": self.ops,
                "input_rows": b["n_blocks"]}

    def after_batch(self, b: dict, res: dict) -> None:
        """Outside the timed region: check this batch, count its bytes,
        free its disk."""
        res["bytes"], res["files"] = dir_bytes(b["out"])
        res["failed_ops"], res["why"] = self._check(b)
        shutil.rmtree(b["out"], ignore_errors=True)

    def final_check(self) -> tuple[int, int, list[str]]:
        """Every batch is checked as it ends (``after_batch``)."""
        return 0, 0, []

    @staticmethod
    def _json_rows(path: str) -> list[dict]:
        rows = []
        for fn in sorted(glob.glob(os.path.join(path, "part-*"))):
            with open(fn) as f:
                rows += [json.loads(line) for line in f if line.strip()]
        return rows

    def _check(self, b: dict) -> tuple[int, list[str]]:
        why = []
        got = {(r["doc_id"], r["field_name"]):
               (r["form_name"], r["required"], r["value"], r["method"])
               for r in self._json_rows(os.path.join(b["out"], "forms_json"))}
        if got != b["forms"]:
            bad = [k for k in set(got) | set(b["forms"])
                   if got.get(k) != b["forms"].get(k)][:3]
            why.append("forms_json: " + "; ".join(
                f"{k}: got {got.get(k)} want {b['forms'].get(k)}" for k in bad))
        rep = {r["doc_id"]: (r["precision"], r["recall"], r["f1"],
                             r["exact_accuracy"])
               for r in self._json_rows(os.path.join(b["out"], "eval_report"))}
        if rep != b["report"]:
            bad = [k for k in set(rep) | set(b["report"])
                   if rep.get(k) != b["report"].get(k)][:3]
            why.append("eval_report: " + "; ".join(
                f"doc {k}: got {rep.get(k)} want {b['report'].get(k)}" for k in bad))
        return len(why), why


def _to_spark(v, dtype):
    """A DuckDB result cell as the Python value Spark stores for ``dtype``."""
    from pyspark.sql import types as T

    if v is None:
        return None
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(v)
    if isinstance(dtype, T.DecimalType):
        return decimal.Decimal(str(v))
    if isinstance(dtype, T.IntegralType):
        return int(v)
    if isinstance(dtype, T.StringType):
        return str(v)
    return v


class CorpusPrep:
    """A batch runs the four corpus faces over a fresh snapshot of one
    generated ``documents.parquet``. Every face runs through the count +
    xor-of-row-hashes reduce; rows are checked once, after the timed
    window, against the face's DuckDB oracle."""

    name = "corpus_prep"
    faces = CORPUS_FACES
    ops = len(CORPUS_FACES)
    n_docs = 1500
    scan_marker = "documents.parquet"

    def __init__(self, ctx):
        self.ctx = ctx
        self.seen: dict[int, object] = {}
        self.schemas: dict[str, object] = {}
        self.fingerprints: dict[str, set] = {f: set() for f in self.faces}

    def prepare(self, seed: int) -> None:
        self.data_dir = os.path.join(self.ctx.cache,
                                     f"corpus-s{seed}-n{self.n_docs}")
        gen_corpus.corpus_documents(seed, self.n_docs, self.data_dir)

    def next_input(self, i: int) -> dict:
        snap = os.path.join(self.ctx.scratch, f"snap_b{i:03d}")
        gen_corpus.snapshot(self.data_dir, snap)
        return {"dir": snap}

    @staticmethod
    def reduce(df):
        from pyspark.sql import functions as F

        return df.select(F.count(F.lit(1)).alias("n"),
                         F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns]))
                          .alias("h"))

    def run_batch(self, b: dict) -> dict:
        from multiagent_form_schema_etl_spark.plans import registry

        span = self.ctx.tracer.span
        dfs, fps, plan_ms = {}, {}, {}
        for name in self.faces:
            with span(f"face.{name}"):
                with span(f"face_build.{name}"):
                    df = registry.QUERIES[name](self.ctx.spark, b["dir"])
                    red = self.reduce(df)
                with span(f"face_exec.{name}"):
                    [r] = red.collect()
            if self.ctx.tracer.enabled:
                plan_ms[name] = probe.plan_phases_ms(red)
            dfs[name], fps[name] = df, (r["n"], r["h"])
        return {"items": self.n_docs, "ops": self.ops, "dfs": dfs, "fps": fps,
                "plan_ms": plan_ms, "input_rows": self.n_docs}

    def after_batch(self, b: dict, res: dict) -> None:
        """Cache isolation: a face that returns a DataFrame object it
        returned for an earlier batch was served from the registry memo;
        that is a memo hit and a failed operation."""
        hits = 0
        for name, df in res.pop("dfs").items():
            hits += self.seen.get(id(df)) is df
            self.seen[id(df)] = df
            self.schemas.setdefault(name, df.schema)
            self.fingerprints[name].add(res["fps"][name])
        res["memo_hits"] = res["failed_ops"] = hits
        res["why"] = [f"{hits} registry memo hits"] if hits else []
        shutil.rmtree(b["dir"], ignore_errors=True)

    def final_check(self) -> tuple[int, int, list[str]]:
        """Outside the timed window: each face's DuckDB oracle runs on the
        generated data; its rows, typed as the face's output schema, are
        reduced by the same count + xor-of-row-hashes, and every timed
        batch's result must equal that. A face without an oracle must give
        the same non-empty result in every batch. One check per face."""
        import duckdb

        from multiagent_form_schema_etl_spark.plans import registry

        con = duckdb.connect()
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        docs = os.path.join(self.data_dir, "documents.parquet", "*.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
        failed, why = 0, []
        for name in self.faces:
            got = self.fingerprints[name]
            problems = []
            if name not in self.schemas:
                problems.append("no batch completed")
            elif name in registry.ORACLES:
                schema = self.schemas[name]
                res = con.execute(registry.ORACLES[name])
                dcols = [d[0] for d in res.description]
                if sorted(dcols) != sorted(schema.names):
                    problems.append(f"columns {sorted(schema.names)} vs oracle {sorted(dcols)}")
                else:
                    pos = [dcols.index(c) for c in schema.names]
                    rows = [tuple(_to_spark(r[i], f.dataType)
                                  for i, f in zip(pos, schema.fields))
                            for r in res.fetchall()]
                    odf = self.ctx.spark.createDataFrame(rows, schema)
                    [r] = self.reduce(odf).collect()
                    want = (r["n"], r["h"])
                    if got != {want}:
                        problems.append(f"results {sorted(got)[:2]} vs oracle {want}")
            elif len(got) != 1 or next(iter(got))[0] == 0:
                problems.append(f"rows-only results {sorted(got)[:2]}")
            if problems:
                failed += 1
                why.append(f"{name}: " + "; ".join(problems))
        con.close()
        return len(self.faces), failed, why


WORKLOADS = {w.name: w for w in (DocEtl, CorpusPrep)}
