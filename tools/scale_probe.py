#!/usr/bin/env python
"""Scale-up probe (VERDICT r2 item 4): replicate documents/events 10-30x
on disk and measure the headline dedup / clustering / sharding / event
queries plus the scoped document pipeline at 100k docs, so the 100 TB
posture is MEASURED (does runtime scale ~linearly with input?) instead of
argued. ``--ann`` probes the ANN/similarity paths over replicated
embeddings instead. Every face is timed by ``bench.time_face``, so each
record carries the face's seconds and its build/plan/codegen/stage
layers (shuffle, spill, peak execution memory).

Two replication modes:
- linear (default): each copy gets a DISJOINT key space AND a disjoint
  token vocabulary (every token prefixed with its copy id), so the
  near-dup pair structure scales linearly with the corpus -- the honest
  "10x more data" shape.
- density (exact replication, shifted keys only): every doc gains 9+
  identical twins, so the pair graph grows ~quadratically in the
  replication factor -- the adversarial corpus that exposes quadratic
  fan-out cliffs (the judge's candidate: block-pair enumeration).

Usage: python tools/scale_probe.py [--mults 10,30] [--density] [--skip q,..]
                                   [--ann]
Writes parquet under scale_probe_data/ (repo-local, gitignored) and
prints one JSON line per (mode, mult) with per-face records. Modes that
ran once and whose results are recorded in SCALE_PROBE.md (streaming,
soak, skew, storage, spill, cores, ...) live in the repository history.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import time_face  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "scale_probe_data")

DOC_QUERIES = [
    "x1_dedup_exact",
    "x3_payload_neardup",  # r14: byte-shingle MinHash over payload bytes
    "x1_dedup_jaccard_ngram",
    "x1_dedup_jaccard_blockpairs",
    "x1_dedup_minhash_lsh",
    "x1_dedup_components",
    "x1_dedup_substring_spans",
    "x1_dedup_apply_keeplist",
    "x1_graph_pagerank",
    "x1_graph_triangle_count",
    "x1_dedup_keep_best_quality",
    "x5_shard_by_budget",
    "x5_bpe_vocab_train",
    "x5_bpe_encode",
    "x4_token_stats",
    "x4_bm25_score",
    "x4_bm25_topk",
    "x5_decontaminate_ngram",
    "x5_decontaminate_bloom",
    "x5_weighted_sample_topk",
    "x1_dedup_tfidf_cosine",
    "x1_dedup_containment",
    "x1_graph_adamic_adar",
    "x4_perplexity_unigram",
    "x4_perplexity_bigram",
    "x5_corpus_pipeline_end_to_end",
    "x5_drift_psi",  # r14: PSI/KL admission gate (scan-bound)
]
EVENT_QUERIES = [
    "st_session_window",
    "st_max_concurrency",
    "st_interval_coalesce",
    "st_attribution_last_touch",
    "st_rfm_segmentation",
]


def build_dir(spark, mult: int, density: bool) -> str:
    name = f"x{mult}_{'density' if density else 'linear'}"
    d = os.path.join(OUT, name)
    ok = os.path.join(d, "_OK")
    if os.path.exists(ok):
        return d
    os.makedirs(d, exist_ok=True)

    docs = spark.read.parquet(os.path.join(BASE, "documents.parquet"))
    did = docs.agg(F.max("doc_id")).first()[0] + 1
    copies = spark.range(mult).select(F.col("id").alias("copy"))
    r = (docs.crossJoin(copies)
         .withColumn("doc_id", F.col("doc_id") + F.col("copy") * did))
    if not density:
        # disjoint per-copy vocabulary: near-dup structure scales linearly
        r = r.withColumn("text", F.concat_ws(" ", F.transform(
            F.filter(F.split("text", " "), lambda w: w != ""),
            lambda t: F.concat(F.lit("c"), F.col("copy"), F.lit("_"), t))))
    (r.drop("copy").repartition(32)
     .write.mode("overwrite")
     .parquet(os.path.join(d, "documents.parquet")))

    ev = spark.read.parquet(os.path.join(BASE, "events.parquet"))
    eid = ev.agg(F.max("event_id")).first()[0] + 1
    uid = ev.agg(F.max("user_id")).first()[0] + 1
    (ev.crossJoin(copies)
     .withColumn("event_id", F.col("event_id") + F.col("copy") * eid)
     .withColumn("user_id", F.col("user_id") + F.col("copy") * uid)
     .drop("copy").repartition(32)
     .write.mode("overwrite").parquet(os.path.join(d, "events.parquet")))

    for f in os.listdir(BASE):
        if f.endswith(".parquet") and f not in ("documents.parquet",
                                                "events.parquet"):
            dst = os.path.join(d, f)
            if not os.path.exists(dst):
                shutil.copy(os.path.join(BASE, f), dst)
    open(ok, "w").close()
    return d


def build_ann_dir(spark, mult: int, density: bool) -> str:
    """Replicate embeddings mult-x. linear: each copy's vectors are
    deterministically PERTURBED (hash-derived per-element noise, ~5% of
    the unit scale) so copies land elsewhere on the sphere and the
    near-dup structure scales linearly; density: exact copies (shifted
    ids), the adversarial every-vector-gains-twins corpus."""
    name = f"ann_x{mult}_{'density' if density else 'linear'}"
    d = os.path.join(OUT, name)
    ok = os.path.join(d, "_OK")
    if os.path.exists(ok):
        return d
    os.makedirs(d, exist_ok=True)

    emb = spark.read.parquet(os.path.join(BASE, "embeddings.parquet"))
    vid = emb.agg(F.max("vec_id")).first()[0] + 1
    copies = spark.range(mult).select(F.col("id").alias("copy"))
    r = emb.crossJoin(copies)
    if not density:
        noise = lambda i: ((F.xxhash64(F.col("copy"), F.col("vec_id"), i)
                            % 1000).cast("double") / 1000.0 - 0.5) * 0.1
        r = r.withColumn(
            "embedding",
            F.zip_with("embedding",
                       F.sequence(F.lit(0), F.size("embedding") - 1),
                       lambda x, i: F.when(F.col("copy") == 0, x)
                       .otherwise((x + noise(i)).cast("float"))))
    r = (r.withColumn("vec_id", F.col("vec_id") + F.col("copy") * vid)
         .drop("copy"))
    (r.repartition(32).write.mode("overwrite")
     .parquet(os.path.join(d, "embeddings.parquet")))
    for f in os.listdir(BASE):
        if f.endswith(".parquet") and f != "embeddings.parquet":
            dst = os.path.join(d, f)
            if not os.path.exists(dst):
                shutil.copy(os.path.join(BASE, f), dst)
    open(ok, "w").close()
    return d


def run_ann_probe(spark, qs, sf_dir: str) -> dict:
    """ANN paths at scale (VERDICT r3 item 5): per-face records, recall vs
    the exact top-k ground truth (x2_cosine_topk), and the CANDIDATE
    volume per path; both IVF volumes come from the one quantizer
    (`_ivf_cells`)."""
    from multiagent_form_schema_etl_spark.operators import similarity as S

    def ivf_dedup_candidates():
        _, cells = S._ivf_dedup_cells(spark, sf_dir)
        a = cells.select(F.col("vec_id").alias("a"), "cell")
        b = cells.select(F.col("vec_id").alias("b"), "cell")
        return (a.join(b, ["cell"]).filter(F.col("a") < F.col("b"))
                .select("a", "b").distinct())

    topk = ["x2_cosine_topk", "x2_ann_lsh_buckets", "x2_ann_ivf_kmeans",
            "x2_ann_pq_adc", "x2_ann_graph_beam"]
    builds = {name: (lambda name=name: qs[name](spark, sf_dir))
              for name in topk + ["x1_dedup_embedding_ivf",
                                  # r8: the block-GEMM-sieved exact faces
                                  "x1_dedup_embedding_cosine",
                                  "x2_knn_graph", "x5_decontaminate_semantic"]}
    # candidate volumes (the quantity that must scale sub-quadratically)
    builds["lsh_candidates"] = lambda: S._lsh_candidate_pairs(spark, sf_dir)
    builds["ivf_topk_candidates"] = lambda: S._ivf_topk_candidates(
        spark, sf_dir)
    builds["ivf_dedup_candidates"] = ivf_dedup_candidates
    faces = {name: time_face(spark, name, build)
             for name, build in builds.items()}
    pairs = {name: {(r["query_id"], r["match_id"])
                    for r in qs[name](spark, sf_dir).collect()}
             for name in topk}
    exact = pairs.pop("x2_cosine_topk")
    recall = {name: round(len(got & exact) / max(len(exact), 1), 3)
              for name, got in pairs.items()}
    for name, rec in faces.items():
        print(f"  {name}: {rec['s']}s ({rec['rows']} rows)", file=sys.stderr)
    print(f"  recall: {recall}", file=sys.stderr)
    return {"faces": faces, "recall": recall}


def run_probe(spark, qs, sf_dir: str, names: list[str]) -> dict[str, dict]:
    faces: dict[str, dict] = {}
    for name in names:
        faces[name] = time_face(spark, name,
                                lambda: qs[name](spark, sf_dir))
        print(f"  {name}: {faces[name]['s']}s ({faces[name]['rows']} rows)",
              file=sys.stderr)
    return faces


def scoped_pipeline_copies(spark, n_copies: int) -> dict:
    """The scoped document pipeline at n_copies x 4 fixture docs (the
    registry variant is pinned at 2500 copies = 10k docs; the probe runs
    10x that), rolled up to one row per form."""
    from multiagent_form_schema_etl_spark.operators import document as D

    blocks, doc_forms = D.replicated_fixture(spark, n_copies)

    def build():
        vals = D.extraction_df(spark, blocks, doc_forms, mode="scoped")
        per_doc = (vals.groupBy("form_name", "doc_id")
                   .agg(F.count("value").alias("n_values")))
        return per_doc.groupBy("form_name").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_values").alias("n_values"))

    rec = time_face(spark, "scoped_pipeline", build)
    assert rec["rows"] == 3
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mults", default="10,30")
    ap.add_argument("--density", action="store_true")
    ap.add_argument("--skip", default="",
                    help="comma-separated query names to skip")
    ap.add_argument("--ann", action="store_true",
                    help="probe the ANN/similarity paths over replicated "
                         "embeddings instead of the document/event queries")
    args = ap.parse_args()
    mults = [int(m) for m in args.mults.split(",") if m]
    skip = set(args.skip.split(","))
    mode = "density" if args.density else "linear"

    import __spark_entry__ as e
    from multiagent_form_schema_etl_spark.session import get_spark

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()

    for mult in mults:
        if args.ann:
            d = (BASE if mult == 1
                 else build_ann_dir(spark, mult, args.density))
            print(f"ann probe {mode} x{mult} -> {d}", file=sys.stderr)
            print(json.dumps({"mode": f"ann_{mode}", "mult": mult,
                              **run_ann_probe(spark, qs, d)}))
            continue
        d = build_dir(spark, mult, args.density)
        print(f"probe {mode} x{mult} -> {d}", file=sys.stderr)
        names = [n for n in DOC_QUERIES + EVENT_QUERIES if n not in skip]
        faces = run_probe(spark, qs, d, names)
        if "scoped_pipeline" not in skip:
            faces["doc_pipeline_scoped_100k" if mult >= 10 else
                  "doc_pipeline_scoped"] = scoped_pipeline_copies(
                spark, 2500 * min(mult, 10))
        print(json.dumps({"mode": mode, "mult": mult, "queries": faces,
                          "total": round(sum(r["s"] for r in faces.values()),
                                         2)}))


if __name__ == "__main__":
    main()
