"""X3 -- multimodal binary columns (SURVEY.md §2.11; generalizes the
reference's page-image source S3, main.py:59-63).

Media lives in DataFrames as opaque BINARY columns plus typed metadata
structs (the ``spark.read.format("binaryFile")`` shape: path, length,
content). Decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` UDFs -- the Spark-side plumbing (schemas,
batching, partitioning) is real and tested; the actual codec call is STUBBED
behind ``decode_image`` because image/audio libraries are not in this
container (driver mandate: stub the decode, keep the plumbing real).

At 100 TB: binary payloads dominate shuffle cost, so every transform here is
narrow (mapInPandas preserves partitioning, no shuffle); metadata-only plans
(length/hash filters) never deserialize payload bytes thanks to Parquet
column pruning.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, local_df
from ..plans.registry import register


@register(
    "x3_multimodal_schema",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS checksum,
           lang AS media_lang
    FROM documents
    """,
)
def x3_multimodal_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing, oracle-checkable slice: payload bytes (here
    utf-8 of text -- the corpus ships no real media), byte length, and a
    sha-256 content checksum, the id-and-integrity core of a media table."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        F.length(payload).cast("long").alias("n_bytes"),
        F.sha2(payload, 256).alias("checksum"),
        F.col("lang").alias("media_lang"),
    )


@register(
    "x3_payload_dedup",
    oracle="""
    SELECT checksum,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(MIN(doc_id) AS BIGINT) AS representative,
           CAST(MIN(octet_length(encode(text))) AS BIGINT) AS n_bytes
    FROM (SELECT doc_id, text, sha256(text) AS checksum
          FROM documents)
    GROUP BY checksum
    """,
)
def x3_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup of binary payloads by content hash -- the media twin of
    x1_dedup_exact, and the FIRST pass any multimodal corpus runs (media
    crawls are typically 20-40% byte-identical dupes; hashing costs one
    narrow pass, storage and training both pay per copy). groupBy on the
    32-byte digest, min-id representative -- never the payloads
    themselves: at 100 TB the shuffle carries hashes, not bytes."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return (docs.select("doc_id", F.sha2(payload, 256).alias("checksum"),
                        F.length(payload).cast("long").alias("nb"))
            .groupBy("checksum")
            .agg(F.count(F.lit(1)).alias("n_copies"),
                 F.min("doc_id").alias("representative"),
                 F.min("nb").alias("n_bytes")))


_CHUNK = 100  # bytes per segment


@register(
    "x3_payload_chunked",
    oracle=f"""
    WITH bound AS (
      SELECT GREATEST(CAST(ceil(max(length(text)) / {_CHUNK}.0) AS BIGINT),
                      1) AS m
      FROM documents),
    idx AS (
      SELECT unnest(generate_series(0, (SELECT m FROM bound) - 1)) AS seg_idx),
    segs AS (
      SELECT d.doc_id, i.seg_idx,
             substring(d.text, i.seg_idx * {_CHUNK} + 1, {_CHUNK}) AS seg
      FROM documents d JOIN idx i
        ON i.seg_idx < GREATEST(ceil(length(d.text) / {_CHUNK}.0), 1)),
    media AS (SELECT doc_id, text FROM documents)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(octet_length(encode(s.seg))) AS BIGINT) AS n_bytes,
           sha256(string_agg(s.seg, '' ORDER BY s.seg_idx))
             = sha256(m.text) AS reassembles
    FROM segs s JOIN media m ON s.doc_id = m.doc_id
    GROUP BY s.doc_id, m.text
    """,
)
def x3_payload_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload chunking: split each payload into fixed 100-unit segments
    (doc_id, seg_idx, segment) -- the storage shape for payloads too large
    for one row/parquet page (row-group bloat, shuffle spill, point-read
    amplification all cap at segment size; readers fetch only the
    segments they need). The gate-visible rollup PROVES the chunking is
    lossless: per doc, segment count, summed segment BYTES, and a boolean
    comparing sha-256 of the in-order reassembly against the original
    payload -- both engines genuinely reassemble. Segment boundaries sit
    at character granularity because the cross-engine oracle must chunk
    too and DuckDB has no BLOB substring; on real media the identical
    Spark plan runs over the binary column with byte offsets
    (x3_frame_sample_stub does exactly that)."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select("doc_id", F.col("text").alias("payload"))
    # GREATEST(..., 1): a zero-length payload still yields ONE (empty)
    # segment on both engines -- without it, sequence(0, -1) would emit
    # [0, -1] (negative default step) while the oracle emitted no rows
    segs = (media
            .withColumn("seg_idx", F.explode(F.sequence(
                F.lit(0).cast("long"),
                F.greatest(F.ceil(F.length("payload") / _CHUNK).cast("long"),
                           F.lit(1)) - 1)))
            .select("doc_id", "seg_idx",
                    F.expr(f"substring(payload, seg_idx * {_CHUNK} + 1, "
                           f"{_CHUNK})").alias("seg")))
    # reassembly via order-pinned collect_list per doc (per-doc bounded,
    # same shape as the full-text concat in the document pipeline)
    return (segs.join(media, "doc_id")
            .groupBy("doc_id", "payload")
            .agg(F.count(F.lit(1)).alias("n_segments"),
                 F.sum(F.length(F.col("seg").cast("binary")))
                  .cast("long").alias("n_bytes"),
                 (F.sha2(F.expr(
                     "aggregate(sort_array(collect_list(struct(seg_idx, seg)))"
                     ", '', (acc, x) -> concat(acc, x.seg))").cast("binary"),
                     256)
                  == F.sha2(F.col("payload").cast("binary"), 256))
                 .alias("reassembles"))
            .drop("payload"))


def decode_image(payload: bytes) -> tuple[int, int]:
    """STUB -- real decoder needs an image library absent from this
    container. Raises by contract; ``fake_decode_dims`` is the
    deterministic stand-in used by the pipeline below."""
    raise NotImplementedError(
        "image decode requires an image codec library (e.g. Pillow); "
        "not available in this environment -- use fake_decode_dims")


def fake_decode_dims(payload: bytes) -> tuple[int, int]:
    """Deterministic fake decoder: derives (width, height) from payload
    bytes only, so the plumbing is testable without a codec."""
    n = len(payload)
    width = 16 + (n % 64)
    height = 16 + ((n // 64) % 64)
    return width, height


_DECODE_SCHEMA = ("doc_id long, n_bytes long, width int, height int, "
                  "n_pixels long, thumb_w int, thumb_h int")


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched decode + resize metadata. One pandas frame per Arrow
    batch; payload stays columnar end-to-end."""
    for pdf in batches:
        payloads = pdf["payload"]
        dims = [fake_decode_dims(p) for p in payloads]
        w = pd.Series([d[0] for d in dims], dtype="int32")
        h = pd.Series([d[1] for d in dims], dtype="int32")
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "n_bytes": payloads.str.len().astype("int64"),
            "width": w,
            "height": h,
            "n_pixels": (w.astype("int64") * h.astype("int64")),
            # resize to fit 32x32 preserving aspect (integer floor)
            "thumb_w": (w * 32 / h.where(h > w, 32).where(h <= w, h)).astype("int32").clip(upper=32),
            "thumb_h": (h * 32 / w.where(w > h, 32).where(w <= h, w)).astype("int32").clip(upper=32),
        })


@register("x3_decode_feature_stub")  # python-side stub decoder => rows-only
def x3_decode_feature_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode/feature/resize pipeline over binary payloads --
    schema, batching, and Arrow transfer are real; the codec is the
    deterministic fake. Narrow transform: no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select("doc_id", F.col("text").cast("binary").alias("payload"))
    return media.mapInPandas(_decode_batches, _DECODE_SCHEMA)


@register("x3_frame_sample_stub")  # python-side stub => rows-only
def x3_frame_sample_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling shape for video-like payloads: chunk each payload into
    fixed-size 'frames', emit every k-th frame's offset + checksum. Pure
    DataFrame ops (sequence + explode) -- no UDF needed for the sampling
    plan itself; only the decode would be."""
    docs = load_table(spark, sf_dir, "documents")
    frame, k = 64, 4  # 64-byte frames, sample every 4th
    media = docs.select("doc_id", F.col("text").cast("binary").alias("payload"))
    return (media
            .withColumn("n_frames", F.ceil(F.length("payload") / frame).cast("int"))
            .withColumn("frame_idx", F.explode(F.sequence(
                F.lit(0), F.col("n_frames") - 1, F.lit(k))))
            .select("doc_id", "frame_idx",
                    (F.col("frame_idx") * frame).alias("byte_offset"),
                    F.sha2(F.expr(f"substring(payload, frame_idx * {frame} + 1, {frame})"),
                           256).alias("frame_checksum")))


@register(
    "x3_metadata_prune_guard",
    oracle="""
    SELECT CAST(NULL AS VARCHAR) AS violation,
           CAST(NULL AS VARCHAR) AS detail
    WHERE FALSE
    """,
)
def x3_metadata_prune_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-VISIBLE payload-pruning guard (VERDICT r12 item 8,
    promoting tests/test_plan_guards.py::
    test_media_metadata_query_never_reads_payload from a sf0.001-only
    pytest to a per-corpus gate assertion): the X3 contract is that
    METADATA-ONLY plans over a media table never deserialize the binary
    payload -- at 100 TB the payload column IS the table, and a scan
    schema that includes it turns a ~free length/lang rollup into a
    full-corpus byte read. The face materializes a real media parquet
    from this corpus (payload + n_bytes + lang), plans the canonical
    metadata rollup against it, and inspects the EXECUTED plan: the
    parquet ReadSchema must carry only the referenced metadata columns
    and the n_bytes predicate must reach PushedFilters. Violations emit
    against a CONSTANT EMPTY oracle.

    Vacuity canaries: no ReadSchema line in the plan at all (the
    inspection itself broke -- e.g. a Spark version changed the plan
    rendering) emits PLAN_OPAQUE; the guard query returning zero rows on
    a non-empty corpus emits EMPTY_METADATA_RESULT. Both fail the gate
    loudly rather than letting the face pass vacuously. The inverse
    direction -- the inspection DOES flag a payload-reading plan -- is
    pinned by the tripwire pytest (test_plan_guards.py).

    EAGER AT BUILD (the containment-selector idiom): the media write +
    plan inspection run once per (session, sf_dir, snapshot) via the
    registry memo; the returned relation is literal violation rows with
    no dependency on the temp files, which are removed before return."""
    import os
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    media = docs.select(
        "doc_id", payload.alias("payload"),
        F.length(payload).cast("long").alias("n_bytes"), "lang")
    tmp = tempfile.mkdtemp(prefix="x3_prune_guard_")
    rows: list[tuple[str, str]] = []
    try:
        # explicit file:// so the probe write lands on the driver-local
        # FS the shutil cleanup (and the executors, in the local-mode
        # contract this face documents) actually see -- without it, a
        # deployment whose default FS is remote would write elsewhere
        # and leak the temp dir (ADVICE r13)
        path = "file://" + os.path.join(tmp, "media")
        media.write.parquet(path)
        q = (spark.read.parquet(path)
             .filter(F.col("n_bytes") > 0)
             .groupBy("lang").agg(F.count(F.lit(1)).alias("n")))
        plan = q._jdf.queryExecution().executedPlan().toString()
        scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        if not scans:
            rows.append(("PLAN_OPAQUE",
                         "no ReadSchema line in executedPlan"))
        else:
            if any("payload" in ln for ln in scans):
                rows.append(("PAYLOAD_IN_SCAN", scans[0][-200:]))
            if not all("n_bytes" in ln and "lang" in ln for ln in scans):
                rows.append(("METADATA_MISSING_FROM_SCAN",
                             scans[0][-200:]))
        if not any("PushedFilters" in ln and "n_bytes" in ln
                   for ln in plan.splitlines()):
            rows.append(("FILTER_NOT_PUSHED",
                         "n_bytes predicate absent from PushedFilters"))
        n_meta = q.count()
        if n_meta == 0 and docs.limit(1).count() > 0:
            rows.append(("EMPTY_METADATA_RESULT",
                         "metadata rollup empty on a non-empty corpus"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_df(spark, rows, "violation string, detail string")


# ---------------------------------------------------------------------------
# Payload-level NEAR-dup (VERDICT r13 item 4): the multimodal analog of the
# X1 text near-dup family, needing no codec -- w-shingling over the raw
# payload BYTES (Broder 1997), MinHash, banded LSH, exact byte-shingle
# Jaccard verification. Catches re-encoded-metadata / trailing-byte /
# container-tweaked copies that the exact sha-256 dedup (x3_payload_dedup)
# misses. Cross-engine portability rides the hex detour: both engines
# shingle the SAME uppercase hex rendering of the payload (2 chars/byte,
# verified identical incl. multi-byte utf-8), and every hash is the
# first-8-hex-digits-of-md5 integer both engines compute bit-for-bit (the
# x1_dedup_minhash_lsh_md5 recipe, keyed on bytes instead of tokens).
# ---------------------------------------------------------------------------

_PND_W = 12       # shingle width in BYTES (24 hex chars)
_PND_K = 16       # minhash signature length
_PND_BANDS = 4    # 4 bands x 4 rows
_PND_CAP = 50     # frequent-bucket guard, same bound as the md5 face
_PND_THR = 0.8    # byte-shingle Jaccard emission threshold
_PND_P = 4294967311  # smallest prime > 2^32 (the classic minhash modulus)


@register(
    "x3_payload_neardup",
    oracle=f"""
    WITH hx AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS nb
      FROM documents
      WHERE octet_length(encode(text)) >= {_PND_W}),
    shing AS (
      SELECT DISTINCT doc_id, substring(h, i * 2 + 1, {2 * _PND_W}) AS sh
      FROM hx, unnest(range(0, (SELECT MAX(nb) FROM hx))) AS t(i)
      WHERE i <= nb - {_PND_W}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shing GROUP BY doc_id),
    hv AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT) AS h1,
             CAST(('0x' || substr(md5(sh), 9, 8)) AS BIGINT) AS h2
      FROM shing),
    seeds AS (SELECT unnest(range(0, {_PND_K})) AS i),
    sig AS (
      SELECT doc_id, i, MIN((h1 + i * h2) % {_PND_P}) AS mh
      FROM hv, seeds GROUP BY doc_id, i),
    bands AS (
      SELECT doc_id, i // {_PND_K // _PND_BANDS} AS band,
             string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS key
      FROM sig GROUP BY doc_id, i // {_PND_K // _PND_BANDS}),
    good AS (
      SELECT band, key FROM bands GROUP BY band, key
      HAVING COUNT(*) BETWEEN 2 AND {_PND_CAP}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN good g ON a.band = g.band AND a.key = g.key
      JOIN bands b ON a.band = b.band AND a.key = b.key
                  AND a.doc_id < b.doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN shing sa ON sa.doc_id = c.doc_a
      JOIN shing sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
      GROUP BY c.doc_a, c.doc_b)
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter)
             AS jaccard
    FROM inter i
    JOIN sizes za ON i.doc_a = za.doc_id
    JOIN sizes zb ON i.doc_b = zb.doc_id
    WHERE CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter)
          >= {_PND_THR}
    """,
)
def x3_payload_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate binary payloads: {_PND_W}-byte w-shingles over the
    payload, {_PND_K}-seed portable-md5 MinHash in {_PND_BANDS} bands,
    band-bucket candidate join (2..{_PND_CAP} guard), exact byte-shingle
    Jaccard >= {_PND_THR} verification. Emits (doc_a, doc_b, jaccard);
    the single integer-operand division is bit-identical cross-engine.

    Plan shape: shingling + signatures are a STATELESS per-row map (one
    narrow pass, zero shuffles until banding); the only corpus-scale
    shuffles are the band-bucket groupBy and the verification's shingle
    equi-join over candidate docs only. At 100 TB the lever is shingle
    DENSITY, not the pipeline: stride-s or content-defined chunk
    boundaries cut per-doc shingle volume ~s-fold with the standard
    Jaccard resolution trade; stride 1 here keeps the oracle exact at
    gate scale. Payloads are utf-8 bytes of `text` (the corpus ships no
    real media -- the x3_multimodal_schema convention), but every
    operation is byte-level: the hex detour (2 chars/byte, uppercase in
    BOTH engines, multi-byte utf-8 verified identical) exists only so
    DuckDB shingles the same byte string Spark does.

    The shingle+minhash+band candidate stage is split into
    `_pnd_candidates` (identical lineage, shared code path) so its
    candidate volume can be measured in isolation; the measured volumes
    and the decision to keep this verify shape are recorded in
    OPTIMIZATION_r15.md, "x3_payload_neardup -- candidate-volume probe"."""
    d, cand = _pnd_candidates(spark, sf_dir)
    return _pnd_verify(d, cand)


def _pnd_candidates(spark: SparkSession, sf_dir: str):
    """Shingle arrays + band-bucket candidate pairs -- the front of
    x3_payload_neardup, returned as (d = (doc_id, sh array), cand =
    checkpointed (doc_a, doc_b))."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    hx = (docs.select("doc_id", F.hex(payload).alias("h"),
                      F.length(payload).cast("int").alias("nb"))
          .filter(F.col("nb") >= _PND_W))
    sh_arr = F.array_distinct(
        F.transform(F.sequence(F.lit(0), F.col("nb") - _PND_W),
                    lambda i: F.col("h").substr(i * 2 + 1,
                                                F.lit(2 * _PND_W))))
    d = hx.select("doc_id", sh_arr.alias("sh"))
    # ONE md5 per distinct shingle, then k seeded minima via the
    # Kirsch-Mitzenmacher double-hash (h1 + i*h2) mod p -- portable
    # 64-bit integer arithmetic both engines compute identically (h1, h2
    # < 2^32 from the md5 halves, i*h2 < 2^36, no overflow; all operands
    # non-negative so % == pmod). The first cut seeded md5(sh || ':' ||
    # i) per SEED: 16 corpus-wide md5 passes, ~60 s of the sf0.1 gate --
    # this one-pass form is ~6x cheaper with the same md5 quality.
    h12 = F.transform(
        F.transform("sh", F.md5),  # md5 ONCE per element, split after
        lambda m: F.struct(
            F.conv(F.substring(m, 1, 8), 16, 10)
            .cast("bigint").alias("h1"),
            F.conv(F.substring(m, 9, 8), 16, 10)
            .cast("bigint").alias("h2")))
    d = d.select("doc_id", "sh", h12.alias("hv"))

    def mh(i: int):
        return F.array_min(F.transform(
            "hv", lambda s: (s["h1"] + i * s["h2"]) % _PND_P))

    rows_per_band = _PND_K // _PND_BANDS
    band_cols = [
        F.concat_ws("-", *[mh(b * rows_per_band + r).cast("string")
                           for r in range(rows_per_band)]).alias(f"k{b}")
        for b in range(_PND_BANDS)]
    banded = d.select("doc_id", *band_cols)
    buckets = banded.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"k{b}")
                               for b in range(_PND_BANDS)]))
        .alias("band", "key"))
    good = (buckets.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter((F.col("n") > 1) & (F.col("n") <= _PND_CAP))
            .select("band", "key"))
    # SHUFFLE_HASH, never broadcast, on every corpus-derived side
    # (unlike the token md5 face, whose bucket relation is
    # vocabulary-bounded): byte-shingle band keys grow with the corpus,
    # and at the 150k-doc x30 probe BOTH the forced broadcast of good in
    # the first cut AND the planner's own size-estimate-driven broadcast
    # choice OOMed the 8g driver building the hash relation -- computed
    # lineages estimate far below their true in-memory size. Shuffle
    # volume here is bucket rows (4/doc), not shingles.
    buckets = buckets.join(good.hint("shuffle_hash"), ["band", "key"])
    # localCheckpoint (eager, the graph-build idiom): cand is the
    # guard-bounded pair set, consumed THREE times below (itself +
    # both legs of cand_docs) -- without materialization the whole
    # bucket pipeline re-executes per consumer, and the planner's
    # estimate for the computed lineage is wild; with it, downstream
    # joins see the TRUE (small) size and broadcast the right side
    cand = (buckets.alias("a").join(
                buckets.alias("b").hint("shuffle_hash"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct().localCheckpoint())
    return d, cand


def _pnd_verify(d: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact byte-shingle Jaccard verification over the candidate pairs --
    the tail of x3_payload_neardup (unchanged shape; see the strategy
    comments inline)."""
    # verification touches CANDIDATE docs' shingles only: the full
    # exploded shingle relation is ~n_bytes rows per doc (60M rows at
    # the 50k-doc x10 probe -- shuffling it whole OOMed the in-task hash
    # maps), while the semi-joined slice is bounded by the candidate
    # set, so verify cost scales with candidates, not corpus
    cand_docs = (cand.select(F.col("doc_a").alias("doc_id"))
                 .union(cand.select(F.col("doc_b").alias("doc_id")))
                 .distinct())
    shing = (d.select("doc_id", F.explode("sh").alias("sh"))
             .join(cand_docs, "doc_id", "left_semi"))
    sizes = d.select("doc_id", F.size("sh").alias("n_sh"))
    sa = shing.select(F.col("doc_id").alias("doc_a"), "sh")
    sb = shing.select(F.col("doc_id").alias("doc_b"), "sh")
    # MERGE (sort-merge) on the shingle leg: the planner broadcast sb
    # (the SHINGLE relation -- millions of 24-char rows at x30) from a
    # computed-lineage under-estimate, and a shuffle_hash hint traded
    # that for per-task build maps that also OOMed (SHJ cannot spill
    # its build side). SMJ spills both sides -- shingles only ever
    # shuffle-and-sort, never sit in a hash relation
    inter = (cand.join(sa, "doc_a")
             .join(sb.hint("merge"), ["doc_b", "sh"])
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("n_inter")))
    j = (inter
         .join(sizes.select(F.col("doc_id").alias("doc_a"),
                            F.col("n_sh").alias("na")), "doc_a")
         .join(sizes.select(F.col("doc_id").alias("doc_b"),
                            F.col("n_sh").alias("nb")), "doc_b")
         .withColumn("jaccard", F.col("n_inter").cast("double")
                     / (F.col("na") + F.col("nb") - F.col("n_inter"))))
    return (j.filter(F.col("jaccard") >= _PND_THR)
            .select("doc_a", "doc_b", "jaccard"))
