"""X5 -- training-corpus preparation operators (the ops a 100 TB LLM-data
pipeline runs around dedup/quality filtering): deterministic train/val/test
splitting, context-window sequence packing, n-gram decontamination, PII
redaction auditing, repetition-based quality signals, and weighted
language-mixture sampling.

All are pure relational compositions (hash assignment, running-sum windows,
inverted-index joins, regex projections) -- no UDFs, no driver loops -- so
each scales as one or two passes over the corpus, and every operator carries
an exact DuckDB oracle (portable md5 hashes; per-engine regex via sqlgen).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, local_df
from ..fixtures import values_sql
from ..plans.registry import register, track_persist
from . import sqlgen as G
from .dedup import _md5_int_sql
from .textstats import _LANG_PROFILE_COLS, _LANG_PROFILE_ROWS, _TOKENS

_SPLITS_SQL = """CASE WHEN bucket < 80 THEN 'train'
                      WHEN bucket < 90 THEN 'validation'
                      ELSE 'test' END"""


@register(
    "x5_train_test_split_hash",
    oracle=f"""
    WITH assigned AS (
      SELECT lang, n_chars,
             {_md5_int_sql('text', 'duck')} % 100 AS bucket
      FROM documents)
    SELECT lang, {_SPLITS_SQL} AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM assigned
    GROUP BY lang, {_SPLITS_SQL}
    """,
)
def x5_train_test_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/validation/test corpus split by content
    hash: split membership is a pure function of the document text (stable
    under re-runs, re-partitioning, and corpus growth -- the property that
    matters for avoiding train/test leakage across pipeline versions). One
    narrow pass + a tiny per-(lang, split) rollup; the md5-derived bucket is
    portable so DuckDB computes the identical assignment."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_md5_int_sql("text", "spark")) % 100
    assigned = docs.select(
        "lang", "n_chars",
        F.when(bucket < 80, "train")
         .when(bucket < 90, "validation")
         .otherwise("test").alias("split"))
    return (assigned.groupBy("lang", "split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("total_chars")))


_PACK_BUDGET = 2048  # tokens per packed training sequence


@register(
    "x5_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(length(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tokens
      FROM documents),
    packed AS (
      SELECT lang, doc_id, n_tokens,
             CAST((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens) AS BIGINT) // {_PACK_BUDGET} AS seq_id
      FROM toks)
    SELECT lang, seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM packed
    GROUP BY lang, seq_id
    """,
)
def x5_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing for training: documents stream in doc_id
    order per language, and each lands in the context-window bin its running
    token offset falls into (offset DIV budget) -- the standard one-pass
    approximation of concat-and-chunk corpus packing. One running-sum window
    partitioned by lang + a per-(lang, seq) rollup; integer arithmetic
    end-to-end so both engines bin identically. At scale the window state is
    one counter per partition and documents never leave their lang
    partition."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang",
        F.size(F.filter(F.split("text", " "), lambda x: x != ""))
         .cast("long").alias("n_tokens"))
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    packed = (toks.withColumn("running", F.sum("n_tokens").over(w))
              .withColumn("seq_id",
                          F.expr(f"CAST((running - n_tokens) DIV {_PACK_BUDGET}"
                                 " AS BIGINT)")))
    return (packed.groupBy("lang", "seq_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))


_DECON_N = 4          # n-gram order for contamination checks
_DECON_MAX_DF = 100   # drop boilerplate grams seen in more train docs

# Shared by the exact and bloom-prefiltered decontamination faces: both
# compute the IDENTICAL relation, so they register the same oracle.
_DECON_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, {_md5_int_sql('text', 'duck')} % 100 AS bucket,
             list_filter(string_split(text, ' '), x -> x <> '') AS l
      FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, bucket >= 80 AS heldout,
             array_to_string(l[i:i+{_DECON_N - 1}], ' ') AS gram
      FROM toks, unnest(range(1, len(l) - {_DECON_N - 2})) AS t(i)
      WHERE len(l) >= {_DECON_N}),
    train_grams AS (
      SELECT gram, COUNT(*) AS train_df FROM grams
      WHERE NOT heldout GROUP BY gram
      HAVING COUNT(*) <= {_DECON_MAX_DF})
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shared_grams,
           CAST(SUM(t.train_df) AS BIGINT) AS n_train_hits
    FROM grams g JOIN train_grams t ON g.gram = t.gram
    WHERE g.heldout
    GROUP BY g.doc_id
    """


def _decon_gram_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRE-distinct (doc_id, heldout, gram) word-shingle rows: the one
    tokenize + n-gram explode of the decontamination faces.
    `_decon_grams` dedups and counts them behind one exchange; the bloom
    face places its own dedup so it can prefilter train shingles BEFORE
    their shuffle (the whole point of the bloom at scale)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        (F.expr(_md5_int_sql("text", "spark")) % 100 >= 80).alias("heldout"),
        F.filter(F.split("text", " "), lambda x: x != "").alias("l"))
    return (toks.filter(F.size("l") >= _DECON_N)
            .select("doc_id", "heldout",
                    F.explode(F.expr(
                        f"transform(sequence(1, size(l) - {_DECON_N - 1}),"
                        f" i -> concat_ws(' ', slice(l, i, {_DECON_N})))"))
                     .alias("gram")))


def _decon_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one n-gram decontamination kernel: each distinct
    (doc_id, heldout, gram) shingle with its gram's `train_df` (distinct
    train docs holding it -- doc counts, never occurrences) and `held_hit`
    (a held-out doc holds it too). One explode, one exchange: the dedup
    and both per-gram counts cluster by gram, so one `repartition(gram)`
    serves them all. The counts are Window aggregates, not a groupBy
    joined back, so a consumer's filter on `heldout` cannot be pushed
    below them onto one split, which would explode and shuffle the
    shingles once per split."""
    w = Window.partitionBy("gram")
    return (_decon_gram_rows(spark, sf_dir)
            .repartition(F.col("gram"))
            .dropDuplicates(["doc_id", "heldout", "gram"])
            .select("doc_id", "heldout",
                    F.count(F.when(~F.col("heldout"), 1)).over(w)
                     .alias("train_df"),
                    F.max("heldout").over(w).alias("held_hit")))


@register("x5_decontaminate_ngram", oracle=_DECON_ORACLE)
def x5_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/held-out contamination scan: a held-out (validation/test) doc is
    contaminated when it shares a word n-gram (n=4) with any train doc --
    the standard n-gram decontamination pass run before evaluating a model
    on held-out data. Split membership reuses the deterministic md5 bucket
    of x5_train_test_split_hash.

    Scale shape: distinct (doc, gram) shingles of both splits behind one
    gram exchange (`_decon_grams`), never doc x doc. Grams seen in more
    than _DECON_MAX_DF train docs are dropped as boilerplate (df-pruning),
    which both matches decontamination practice and bounds the per-gram
    work; a held-out shingle counts when its gram's train_df is in
    [1, _DECON_MAX_DF]. The exchange moves pre-dedup rows (intra-doc
    repeated shingles survive to the reducer), but shingles are
    near-unique within a doc."""
    held = (_decon_grams(spark, sf_dir)
            .filter(F.col("heldout") & F.col("train_df").between(
                1, _DECON_MAX_DF)))
    return (held.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared_grams"),
                 F.sum("train_df").cast("long").alias("n_train_hits")))


_BLOOM_M_MIN = 1 << 20       # bloom bits floor (128 KiB packed)
_BLOOM_M_MAX = 1 << 27       # bloom bits cap (16 MiB packed, 2M longs --
#                              comfortably broadcastable; beyond it, the
#                              "eval side" is no longer eval-sized)
_BLOOM_K = 3                 # hash probes per gram
_BLOOM_BITS_PER_KEY = 16     # m sizing: per-bit load k/16 => FP ~0.5%
# Past this many held-out grams even the capped m saturates: prefiltering
# stops paying -- fall back LOUDLY to the exact tail (which reuses the
# already-persisted held-out relation, so the fallback costs one wasted
# count, not a recompute).
_BLOOM_MAX_KEYS = _BLOOM_M_MAX // _BLOOM_BITS_PER_KEY


@register("x5_decontaminate_bloom", oracle=_DECON_ORACLE)
def x5_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-PREFILTERED exact n-gram decontamination -- identical output to
    `x5_decontaminate_ngram` (same oracle), restructured the way a 100 TB
    run wants it. There the bottleneck is the TRAIN side: the exact face
    shuffles every distinct train (doc, gram) shingle to count df and feed
    the inverted-index join, even though only the vanishing fraction that
    collides with a held-out gram can ever contribute. This face builds a
    bloom filter over the held-out grams (the eval side -- small and FIXED
    in a real pipeline, where the eval suite doesn't grow with the corpus)
    and drops non-colliding train shingles MAP-SIDE, before any train-side
    shuffle.

    Engineering shape, all JVM (no UDF):
    - bits: the {_BLOOM_K} xxhash64 probe positions of each held-out gram,
      packed into (word, bits) longs via ``bit_or``. m is auto-sized to
      {_BLOOM_BITS_PER_KEY} bits per MEASURED held-out gram (the count is
      an action on the eval side only -- the `_SEMDECON_EVAL_MAX`
      precedent), floor 2^20, cap 2^27 (16 MiB packed, <= 2M longs) -- so
      the broadcast is bounded by the CAP, never the corpus, and the raw
      hint is safe by construction. Calibration: the 10x/30x probe of the
      first FIXED-m cut saturated on the replicated corpus (held-out
      grows with it there) and measured the fallback at 2.6x exact --
      auto-sizing keeps the per-bit load at k/{_BLOOM_BITS_PER_KEY}
      regardless (FP ~0.5%).
    - membership: {_BLOOM_K} successive broadcast-hash joins on the bit
      word, each followed by a bitmask filter -- map-side only, no
      exchange, and a gram whose word holds no set bit exits at the join
      itself.
    - the exact tail: distinct + df-count + HAVING <= {_DECON_MAX_DF} +
      inner join against the held-out grams runs UNCHANGED on the
      survivors. False positives die in that inner join; per-gram train_df
      is unaffected because the bloom predicate depends only on the gram,
      so a gram keeps all of its (doc, gram) rows or none. Output is
      therefore exactly the exact face's relation.

    Guard: past _BLOOM_MAX_KEYS held-out grams even the capped m is
    saturated -- print a loud notice (the `_jaccard_auto_choice`
    loud-fallback idiom) and run the SAME exact tail with no prefilter,
    reusing the persisted held-out relation, so the detour costs one
    wasted count rather than a recompute of the exact face."""
    rows = _decon_gram_rows(spark, sf_dir)
    # r15 (VERDICT r14 item 6, the decon_ngram layout): one up-front
    # repartition(gram) satisfies every held-side clustering -- the
    # (doc, gram) dedup, the gram-distinct feeding the bloom build, and
    # the final inverted-index join all accept HashPartitioning(gram) --
    # so the held shingle relation crosses the network once instead of
    # three times (distinct on (doc,gram), again on gram, again to
    # co-partition the join). The persisted relation keeps that
    # partitioning (InMemoryTableScan preserves child partitioning), so
    # downstream consumers read it exchange-free.
    held = track_persist(
        rows.filter(F.col("heldout")).select("doc_id", "gram")
        .repartition(F.col("gram")).dropDuplicates(["doc_id", "gram"]))
    held_grams = held.select("gram").distinct()
    n_held = held_grams.count()
    cand = rows.filter(~F.col("heldout")).select("doc_id", "gram")
    if n_held > _BLOOM_MAX_KEYS:
        import sys
        print(
            f"x5_decontaminate_bloom: {n_held} held-out grams saturate even "
            f"the m={_BLOOM_M_MAX} cap (guard {_BLOOM_MAX_KEYS}) -- "
            "prefiltering would pass most shingles; running the exact tail "
            "unfiltered (the persisted held-out relation is reused, so the "
            "detour costs one count, not a recompute).", file=sys.stderr)
    else:
        # size m to the measured key count: per-bit load k/16, FP ~0.5%
        m = _BLOOM_M_MIN
        while m < _BLOOM_BITS_PER_KEY * n_held:
            m <<= 1
        probes = [F.pmod(F.xxhash64("gram", F.lit(i)), F.lit(m))
                  for i in range(_BLOOM_K)]
        bits = (held_grams.select(F.explode(F.array(*probes)).alias("pos"))
                .distinct()
                .select(F.expr("pos DIV 64").alias("_w"),
                        F.expr("shiftleft(CAST(1 AS BIGINT),"
                               " CAST(pos % 64 AS INT))").alias("mask"))
                .groupBy("_w").agg(F.expr("bit_or(mask)").alias("_bits")))
        bw = bits  # cap-bounded (<= _BLOOM_M_MAX/64 rows): raw hint is safe
        for i in range(_BLOOM_K):
            cand = (cand.withColumn("_pos",
                                    F.pmod(F.xxhash64("gram", F.lit(i)),
                                           F.lit(m)))
                    .withColumn("_w", F.expr("_pos DIV 64"))
                    .withColumn("_m", F.expr("shiftleft(CAST(1 AS BIGINT),"
                                             " CAST(_pos % 64 AS INT))"))
                    .join(F.broadcast(bw), "_w")
                    .filter(F.col("_bits").bitwiseAND(F.col("_m")) != 0)
                    .drop("_pos", "_w", "_m", "_bits"))
    # exact tail on the survivors, single-exchange layout (r15): the
    # (doc, gram) dedup, the df-count, and the join clustering all reuse
    # one repartition(gram) -- the old distinct-first tail shuffled the
    # survivor relation three times (VERDICT r14 item 6).
    train_grams = (cand.repartition(F.col("gram"))
                   .dropDuplicates(["doc_id", "gram"])
                   .groupBy("gram")
                   .agg(F.count(F.lit(1)).alias("train_df"))
                   .filter(F.col("train_df") <= _DECON_MAX_DF))
    return (held.join(train_grams, "gram")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared_grams"),
                 F.sum("train_df").cast("long").alias("n_train_hits")))


_SEMDECON_THR = 0.42  # cosine floor: paraphrase-level proximity on this
#                       corpus (random 64-dim cosines top out ~0.51; the
#                       near-dup faces use 0.45 -- decontamination casts a
#                       slightly wider net than dedup by design)


@register(
    "x5_decontaminate_semantic",
    oracle=f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
             vec_id % 10 >= 8 AS heldout
      FROM embeddings),
    hits AS (
      SELECT t.vec_id AS train_id, h.vec_id AS heldout_id,
             ROUND(list_cosine_similarity(t.vec, h.vec), 9) AS cosine
      FROM v t JOIN v h ON (NOT t.heldout) AND h.heldout)
    SELECT train_id,
           CAST(COUNT(*) AS BIGINT) AS n_heldout_hits,
           MAX(cosine) AS max_cosine,
           MIN(heldout_id) AS first_heldout_id
    FROM hits WHERE cosine >= {_SEMDECON_THR}
    GROUP BY train_id
    """,
)
def x5_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination (r8): flag training examples whose
    embedding sits within paraphrase distance (cosine >= 0.42,
    `_SEMDECON_THR`) of ANY held-out/eval example -- the companion pass to
    x5_decontaminate_ngram for leakage that n-gram overlap misses
    (translations, templated rephrasings, near-duplicate embeddings).
    Split membership is the deterministic vec_id % 10 >= 8 held-out
    bucket; output is one row per contaminated train doc with its hit
    count, max cosine, and lowest matching eval id.

    Plan shape: the asymmetric block-GEMM sieve
    (`similarity._gemm_block_pairs(other=heldout)`) -- one BLAS pass of
    train blocks against the BROADCAST packed held-out side (eval
    benches are benchmark-sized at any corpus scale, so the train corpus
    streams through in one narrow pass; no self-pairing, no shuffle of
    the pair space). Cosines round at 9 dp before thresholding on both
    engines (the rounded-twin argument, same as the GEMM top-k)."""
    from .similarity import _gemm_block_pairs

    emb = (load_table(spark, sf_dir, "embeddings")
           .select("vec_id",
                   F.transform("embedding", lambda x: x.cast("double"))
                   .alias("vec"),
                   (F.col("vec_id") % 10 >= 8).alias("heldout")))
    train = emb.filter(~F.col("heldout")).select("vec_id", "vec")
    held = emb.filter(F.col("heldout")).select("vec_id", "vec")
    pairs = _gemm_block_pairs(train, threshold=_SEMDECON_THR - 1e-6,
                              other=held)
    scored = pairs.select(F.col("src").alias("train_id"),
                          F.col("dst").alias("heldout_id"),
                          F.round("dcos", 9).alias("cosine"))
    return (scored.filter(F.col("cosine") >= _SEMDECON_THR)
            .groupBy("train_id")
            .agg(F.count(F.lit(1)).alias("n_heldout_hits"),
                 F.max("cosine").alias("max_cosine"),
                 F.min("heldout_id").alias("first_heldout_id")))


_PHONE_PAT = r"\b\d{2}-\d{3}-\d{3}-\d{4}\b"


def _contact_blob_sql(engine: str) -> str:
    """Deterministic free-text contact blob per customer. The synthetic
    customer table carries no address/phone/comment columns, so the phone is
    derived arithmetically from c_custkey (identical integer math in both
    engines); every 4th customer gets no phone so detection is non-trivial.
    The *redaction machinery* -- regex scan, global replace, audit rollup --
    is the operator under test, not the blob."""
    s = "STRING" if engine == G.SPARK else "VARCHAR"
    def num(expr: str, width: int) -> str:
        return f"lpad(CAST({expr} AS {s}), {width}, '0')"
    phone = (f"{num('c_custkey % 90 + 10', 2)} || '-' || "
             f"{num('(c_custkey * 7) % 1000', 3)} || '-' || "
             f"{num('(c_custkey * 13) % 1000', 3)} || '-' || "
             f"{num('(c_custkey * 29) % 10000', 4)}")
    return (f"c_name || CASE WHEN c_custkey % 4 = 0 THEN ' no contact on file'"
            f" ELSE ' reach at ' || {phone} END || ' (' || c_mktsegment || ')'")


@register(
    "x5_pii_pseudonymize",
    oracle="""
    WITH ev AS (
      SELECT sha256('corpus-salt-v1' || CAST(user_id AS VARCHAR)) AS pid,
             value
      FROM events),
    cust AS (
      SELECT sha256('corpus-salt-v1' || CAST(c_custkey AS VARCHAR)) AS pid,
             c_mktsegment
      FROM customer),
    direct AS (
      SELECT c.c_mktsegment, COUNT(*) AS n
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY c.c_mktsegment)
    SELECT p.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT p.pid) AS BIGINT) AS n_pseudonyms,
           CAST(MAX(length(p.pid)) AS BIGINT) AS digest_len,
           COUNT(*) = MAX(d.n) AS referential_integrity_kept
    FROM (SELECT e.pid, c.c_mktsegment FROM ev e JOIN cust c
            ON e.pid = c.pid) p
    JOIN direct d ON p.c_mktsegment = d.c_mktsegment
    GROUP BY p.c_mktsegment
    """,
)
def x5_pii_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudonymization (data-governance pass): replace raw
    user ids with salted sha-256 pseudonyms BEFORE data leaves the trust
    boundary. Deterministic per id, so referential integrity across tables
    survives -- the gate-visible boolean PROVES it: joining events to
    customers on the pseudonym yields exactly the row counts of the raw-id
    join, per segment. Distinct-pseudonym counts confirm no collisions
    collapsed ids. One narrow projection per table (the hash is
    codegen-resident); the join shape is unchanged, so the plan costs the
    same as the raw join at any scale. Salt rotation = new column, old
    pseudonyms unlinkable (the real pattern uses a keyed HMAC / secret
    salt from a vault; the salt literal here stands in for it)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.sha2(F.concat(F.lit("corpus-salt-v1"),
                        F.col("user_id").cast("string")), 256).alias("pid"))
    cust = load_table(spark, sf_dir, "customer").select(
        F.sha2(F.concat(F.lit("corpus-salt-v1"),
                        F.col("c_custkey").cast("string")), 256).alias("pid"),
        "c_mktsegment")
    direct = (load_table(spark, sf_dir, "events")
              .join(load_table(spark, sf_dir, "customer"),
                    F.col("user_id") == F.col("c_custkey"))
              .groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n")))
    pseud = ev.join(cust, "pid")
    return (pseud.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("pid").alias("n_pseudonyms"),
                 F.max(F.length("pid")).cast("long").alias("digest_len"))
            .join(F.broadcast(direct), "c_mktsegment")
            .select("c_mktsegment", "n_events", "n_pseudonyms", "digest_len",
                    (F.col("n_events") == F.col("n"))
                    .alias("referential_integrity_kept")))


@register(
    "x5_pii_redact_phones",
    oracle=f"""
    WITH blobs AS (
      SELECT c_mktsegment, {_contact_blob_sql('duck')} AS blob
      FROM customer),
    scanned AS (
      SELECT c_mktsegment, blob,
             {G.rx('blob', _PHONE_PAT, 'duck')} AS has_phone,
             regexp_replace(blob, {G.pat_lit(_PHONE_PAT, 'duck')},
                            '[PHONE]', 'g') AS redacted
      FROM blobs)
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN has_phone THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_phone,
           CAST(SUM(length(blob) - length(redacted)) AS BIGINT)
             AS chars_removed
    FROM scanned GROUP BY c_mktsegment
    """,
)
def x5_pii_redact_phones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: detect and mask phone numbers in free-text
    contact blobs, reporting per-segment hit counts and redaction volume --
    the audit rollup a corpus pipeline emits when scrubbing crawl text.
    Pure regexp projection + small-key rollup: one narrow pass at any
    scale, no shuffle beyond the final 5-key agg. The regex is rendered per
    engine by sqlgen (Spark literals eat single backslashes; DuckDB
    regexp_replace needs the 'g' flag to replace all occurrences)."""
    cust = load_table(spark, sf_dir, "customer")
    scanned = (cust
               .selectExpr("c_mktsegment",
                           f"{_contact_blob_sql(G.SPARK)} AS blob")
               .select(
                   "c_mktsegment", "blob",
                   F.expr(G.rx("blob", _PHONE_PAT, "spark"))
                    .alias("has_phone"),
                   F.expr(f"regexp_replace(blob,"
                          f" {G.pat_lit(_PHONE_PAT, 'spark')},"
                          " '[PHONE]')").alias("redacted")))
    return (scanned.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.when(F.col("has_phone"), 1).otherwise(0))
                  .cast("long").alias("n_with_phone"),
                 F.sum(F.length("blob") - F.length("redacted"))
                  .cast("long").alias("chars_removed")))


def _run_max(arr: F.Column) -> F.Column:
    """Max multiplicity of any element of `arr` (BIGINT, 0 on empty): sort
    the array per-row and fold it counting equal-run lengths. Replaces the
    explode + groupBy(doc, elem) + max-agg shape for per-document "most
    frequent element" stats -- the value is a pure function of the row, so
    no token ever needs to cross a shuffle (guide §2.4). Per-row cost is
    the same O(n log n) sort + O(n) pass the hash aggregate paid, minus
    the exchange."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"))

    def step(acc: F.Column, x: F.Column) -> F.Column:
        run = (F.when(acc["prev"].isNotNull() & (x == acc["prev"]),
                      acc["run"] + F.lit(1).cast("long"))
               .otherwise(F.lit(1).cast("long")))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    return F.aggregate(F.array_sort(arr), init, step, lambda a: a["best"])


def _bigram_array(l: F.Column) -> F.Column:
    """Adjacent-token bigram strings of token array `l` (empty when fewer
    than two tokens -- `sequence(1, 0)` would count DOWN, so the guard is
    load-bearing). Same 'tok SP nxt' rendering as the old lead-window
    concat_ws, bit-for-bit."""
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(l) - 1),
        lambda i: F.concat_ws(" ", F.element_at(l, i),
                              F.element_at(l, i + F.lit(1))))
    return (F.when(F.size(l) >= 2, bigrams)
            .otherwise(F.array().cast("array<string>")))


@register(
    "x5_repetition_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
      FROM documents),
    words AS (
      -- DuckDB zips parallel unnests in one SELECT (poor man's posexplode)
      SELECT doc_id, unnest(l) AS tok, unnest(range(1, len(l) + 1)) AS pos
      FROM toks),
    tok_counts AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM words GROUP BY doc_id, tok),
    bigrams AS (
      SELECT a.doc_id, a.tok || ' ' || b.tok AS bg, COUNT(*) AS c
      FROM words a JOIN words b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      GROUP BY a.doc_id, a.tok || ' ' || b.tok),
    per_doc AS (
      SELECT t.doc_id,
             CAST(SUM(t.c) AS BIGINT) AS n_tokens,
             MAX(t.c) AS top_tok,
             (SELECT MAX(c) FROM bigrams b WHERE b.doc_id = t.doc_id)
               AS top_bigram
      FROM tok_counts t GROUP BY t.doc_id)
    SELECT doc_id, n_tokens,
           ROUND(CAST(top_tok AS DOUBLE) / n_tokens, 6) AS top_token_frac,
           ROUND(CAST(COALESCE(top_bigram, 0) AS DOUBLE)
                 / GREATEST(n_tokens - 1, 1), 6) AS top_bigram_frac,
           (CAST(top_tok AS DOUBLE) / n_tokens > 0.2
            OR CAST(COALESCE(top_bigram, 0) AS DOUBLE)
               / GREATEST(n_tokens - 1, 1) > 0.18) AS is_repetitive
    FROM per_doc
    """,
)
def x5_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: the fraction of
    tokens taken by the single most frequent token, and by the most frequent
    word bigram -- the filters that catch boilerplate/looping text in a
    training corpus. Both maxima are pure per-document functions, so they are
    computed per-ROW with sorted-array run-length folds (`_run_max` over the
    token array and the derived bigram array) -- one narrow scan projection,
    ZERO shuffles (r14 optimization, guide §2.4: the old shape paid a doc_id
    window sort for `lead` plus four hash-aggregate exchanges of the token/
    bigram relations for values that never leave their row). The fractions
    are single IEEE divisions of exact integer counts, so both engines round
    identically.

    Contested in r14 (driver cold read -14% while the builder's A/B said
    faster); settled by the r15 interleaved old/new probe
    (OPTIMIZATION_r15.md, "VERDICT r14 item 1"): at sf0.1 the shapes are
    within noise of each other (old 0.73 vs new 0.80 med,
    steal 0.22%) because the single-file fixture scan serializes the
    per-row kernel on ONE task, and on the 10x corpus (32 part files, real
    scan parallelism) the kernel wins 2x (old 1.29/2.04 min/med vs new
    0.45/1.03, steal 0.35%) -- the at-scale posture this face exists for."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    d = docs.select("doc_id", toks.alias("l")).filter(F.size("l") > 0)
    stats = d.select(
        "doc_id",
        F.size("l").cast("long").alias("n_tokens"),
        _run_max(F.col("l")).alias("top_tok"),
        _run_max(_bigram_array(F.col("l"))).alias("top_bigram"))
    tok_frac = F.col("top_tok").cast("double") / F.col("n_tokens")
    bg_frac = (F.col("top_bigram").cast("double")
               / F.greatest(F.col("n_tokens") - 1, F.lit(1)))
    return stats.select(
        "doc_id", "n_tokens",
        F.round(tok_frac, 6).alias("top_token_frac"),
        F.round(bg_frac, 6).alias("top_bigram_frac"),
        ((tok_frac > 0.2) | (bg_frac > 0.18)).alias("is_repetitive"))


# Per-language sampling rates for the target training mixture.
_MIX_RATES = {"en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.25, "ja": 0.25}


def _mix_rate_sql() -> str:
    whens = " ".join(f"WHEN lang = '{k}' THEN {v}"
                     for k, v in sorted(_MIX_RATES.items()))
    return f"(CASE {whens} ELSE 0.1 END)"


@register(
    "x5_domain_mixture_sample",
    oracle=f"""
    WITH assigned AS (
      SELECT lang, n_chars,
             {_md5_int_sql("text || ':mix'", 'duck')} % 1000 AS draw,
             {_mix_rate_sql()} AS rate
      FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN draw < rate * 1000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN draw < rate * 1000 THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM assigned GROUP BY lang
    """,
)
def x5_domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain/language mixture sampling: each doc draws a
    stable pseudo-uniform in [0,1000) from md5(text||salt) and is kept when
    the draw falls under its language's target rate -- reproducible weighted
    downsampling (same doc always samples the same way, independent of
    partitioning), the way training mixtures are cut from a large corpus.
    One narrow pass + 5-key rollup at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    draw = F.expr(_md5_int_sql("text || ':mix'", "spark")) % 1000
    rate = F.expr(_mix_rate_sql())
    keep = draw < rate * 1000
    return (docs.select("lang", "n_chars", keep.alias("keep"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_total"),
                 F.sum(F.when(F.col("keep"), 1).otherwise(0))
                  .cast("long").alias("n_kept"),
                 F.sum(F.when(F.col("keep"), F.col("n_chars")).otherwise(0))
                  .cast("long").alias("kept_chars")))


_WS_K = 25            # per-language sample budget
_WS_MOD = 1 << 30     # uniform-draw modulus (md5-derived)


def _es_key_sql(engine: str, rounded: bool = True) -> str:
    """Efraimidis-Spirakis sampling key, portable across engines:
    ``ln(u) / w`` with u a (0,1) uniform derived from md5(text||salt) and
    w = n_chars -- taking the per-group TOP-k by this key samples exactly k
    rows WITHOUT REPLACEMENT with probability proportional to w (the
    classic one-pass weighted reservoir key, u^(1/w) in log space).
    Rounded to 9 dp before ranking per engine-parity policy; check.py's
    ``ws_topk_cells`` exposure audits the rank-(k+1) boundary cells."""
    h = _md5_int_sql("text || ':ws'", engine)
    raw = (f"(ln(CAST({h} % {_WS_MOD} + 1 AS DOUBLE) / {float(_WS_MOD + 1)})"
           f" / GREATEST(n_chars, 1))")
    return f"ROUND({raw}, 9)" if rounded else raw


_WS_ORACLE = f"""
    WITH keyed AS (
      SELECT lang, doc_id, n_chars, {_es_key_sql('duck')} AS es_key
      FROM documents),
    ranked AS (
      SELECT lang, doc_id, n_chars, es_key,
             row_number() OVER (PARTITION BY lang
                                ORDER BY es_key DESC, doc_id) AS rnk
      FROM keyed)
    SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id, n_chars, es_key
    FROM ranked WHERE rnk <= {_WS_K}
    """


@register("x5_weighted_sample_topk", oracle=_WS_ORACLE)
def x5_weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXED-BUDGET weighted sampling: exactly {_WS_K} docs per language,
    inclusion probability proportional to n_chars, via the one-pass
    Efraimidis-Spirakis top-k key (`_es_key_sql`). Complements
    `x5_domain_mixture_sample` (Bernoulli keep at a target RATE, output
    size binomial) where a curation step needs an exact quota -- e.g.
    "sample 10k docs per language for human eval, long docs
    proportionally more often". Deterministic: the draw is a pure
    function of document text, so the sample is stable under re-runs,
    re-partitioning, and engine (same md5-uniform in DuckDB).

    Scale shape: the per-language window never sees the corpus -- the
    two-phase local-winners idiom (`x4_bm25_topk`): a window keyed by
    (lang, physical partition) keeps <= k rows per partition with the
    cluster's parallelism, then the per-language window ranks <= k x
    n_partitions survivors. One narrow scan, no corpus-sized shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = (docs.select("lang", "doc_id", "n_chars",
                         F.expr(_es_key_sql("spark")).alias("es_key"))
             .withColumn("pid", F.spark_partition_id()))
    wl = Window.partitionBy("lang", "pid").orderBy(F.desc("es_key"),
                                                   F.asc("doc_id"))
    pruned = (keyed.withColumn("lrnk", F.row_number().over(wl))
              .filter(F.col("lrnk") <= _WS_K).drop("lrnk", "pid"))
    w = Window.partitionBy("lang").orderBy(F.desc("es_key"), F.asc("doc_id"))
    return (pruned.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= _WS_K)
            .select("lang", "rnk", "doc_id", "n_chars", "es_key"))


_CHUNK_SIZE = 32      # tokens per chunk (context-window slice)
_CHUNK_STRIDE = 24    # chunk start stride (8-token overlap)


@register(
    "x5_chunk_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
      FROM documents),
    base AS (SELECT doc_id, l, len(l) AS n FROM toks WHERE len(l) > 0),
    chunks AS (
      SELECT doc_id,
             CAST(s // {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
             CAST(s AS BIGINT) AS start_token,
             list_slice(l, s + 1, s + {_CHUNK_SIZE}) AS c
      FROM base, unnest(range(0, n, {_CHUNK_STRIDE})) AS t(s))
    SELECT doc_id, chunk_idx, start_token,
           CAST(len(c) AS BIGINT) AS n_tokens,
           array_to_string(c, ' ') AS chunk_text
    FROM chunks
    """,
)
def x5_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking for embedding / pretraining prep:
    each doc is tokenized once and sliced into {_CHUNK_SIZE}-token chunks
    whose starts advance by {_CHUNK_STRIDE} tokens (8-token overlap keeps
    context across boundaries), the standard chunker ahead of an embedding
    or long-context packing stage.

    Scale shape: one narrow pass -- tokenize, generate the start offsets
    with `sequence` (no join, no shuffle), `posexplode`-free slice per
    offset. Chunk rows stay co-partitioned with their source doc, so a
    downstream per-chunk embed (mapInPandas) or chunk-level dedup needs no
    extra exchange. Mirrors reference context slicing
    (extraction/form_filler.py:101-115 window grounding)."""
    docs = load_table(spark, sf_dir, "documents")
    base = (docs.select(
                "doc_id",
                F.filter(F.split("text", " "), lambda x: x != "").alias("l"))
            .withColumn("n", F.size("l"))
            .filter(F.col("n") > 0))
    chunks = base.select(
        "doc_id", "l",
        F.explode(F.expr(f"sequence(0, n - 1, {_CHUNK_STRIDE})")).alias("s"))
    return chunks.select(
        "doc_id",
        F.expr(f"CAST(s DIV {_CHUNK_STRIDE} AS BIGINT)").alias("chunk_idx"),
        F.col("s").cast("long").alias("start_token"),
        F.expr(f"CAST(size(slice(l, s + 1, {_CHUNK_SIZE})) AS BIGINT)")
         .alias("n_tokens"),
        F.expr(f"concat_ws(' ', slice(l, s + 1, {_CHUNK_SIZE}))")
         .alias("chunk_text"))


_DEDUP_CHUNK_N = 8    # tokens per non-overlapping dedup chunk


@register(
    "x1_dedup_chunk_exact",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
      FROM documents),
    chunks AS (
      SELECT doc_id, CAST(s AS BIGINT) AS start_token,
             array_to_string(list_slice(l, s + 1, s + {_DEDUP_CHUNK_N}), ' ')
               AS chunk_text
      FROM toks, unnest(range(0, len(l), {_DEDUP_CHUNK_N})) AS t(s)
      WHERE len(list_slice(l, s + 1, s + {_DEDUP_CHUNK_N})) = {_DEDUP_CHUNK_N})
    SELECT md5(chunk_text) AS chunk_hash,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           MIN(doc_id) AS rep_doc,
           MIN(start_token) FILTER (WHERE doc_id = (
             SELECT MIN(c2.doc_id) FROM chunks c2
             WHERE c2.chunk_text = chunks.chunk_text)) AS rep_start
    FROM chunks
    GROUP BY chunk_text
    HAVING COUNT(*) > 1
    """,
)
def x1_dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level (chunk) exact dedup: the corpus is cut into
    non-overlapping {_DEDUP_CHUNK_N}-token chunks and chunks repeated
    anywhere in the corpus are reported with their occurrence counts and a
    deterministic representative (lowest doc_id, then lowest offset) -- the
    relational reduction of suffix-array substring dedup to fixed-length
    passages, used to strip boilerplate repeated across documents.

    Scale shape: narrow chunking pass, then one groupBy on the chunk hash
    (fixed-width uniform key; at 100 TB this is the same map-side-combine
    shuffle as exact doc dedup). No joins, no doc x doc comparison."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = (docs.select(
                  "doc_id",
                  F.filter(F.split("text", " "), lambda x: x != "").alias("l"))
              .select("doc_id", "l",
                      F.explode(F.expr(
                          f"sequence(0, size(l) - 1, {_DEDUP_CHUNK_N})"))
                       .alias("s"))
              .select("doc_id",
                      F.col("s").cast("long").alias("start_token"),
                      F.expr(f"concat_ws(' ', slice(l, s + 1, {_DEDUP_CHUNK_N}))")
                       .alias("chunk_text"),
                      F.expr(f"size(slice(l, s + 1, {_DEDUP_CHUNK_N}))")
                       .alias("clen"))
              .filter(F.col("clen") == _DEDUP_CHUNK_N))
    per_chunk = (chunks.groupBy("chunk_text")
                 .agg(F.count(F.lit(1)).alias("n_occurrences"),
                      F.countDistinct("doc_id").alias("n_docs"),
                      F.min(F.struct("doc_id", "start_token")).alias("rep"))
                 .filter(F.col("n_occurrences") > 1))
    return per_chunk.select(
        F.md5("chunk_text").alias("chunk_hash"),
        "n_occurrences", "n_docs",
        F.col("rep.doc_id").alias("rep_doc"),
        F.col("rep.start_token").alias("rep_start"))


_SHARD_BUDGET = 2000   # tokens per output shard
_SHARD_BUCKET = 100    # docs per coarse prefix-sum bucket


@register(
    "x5_shard_by_budget",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(length(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tokens
      FROM documents),
    cum AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS running
      FROM toks)
    SELECT CAST((running - n_tokens) // {_SHARD_BUDGET} AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM cum GROUP BY 1
    """,
)
def x5_shard_by_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-token output sharding: documents are laid out in doc_id order
    and assigned to the training shard their global running token offset
    falls into (offset DIV {_SHARD_BUDGET}) -- the write-side sharder that
    gives every output file the same token budget regardless of document
    length skew.

    Scale shape: the oracle states the semantics as ONE global running-sum
    window, which on a cluster would funnel the whole corpus through a
    single partition. The Spark plan instead computes the identical
    assignment in two phases: (1) per-bucket token totals over coarse
    doc_id buckets ({_SHARD_BUCKET} docs each -- corpus/100 rows), prefix-
    summed in a window that only ever sees the tiny bucket table, then
    broadcast back; (2) a per-bucket running sum (partitioned window, fully
    parallel) offset by the bucket's prefix. Hash-equality against the
    naive single-window oracle proves the decomposition exact."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda x: x != ""))
         .cast("long").alias("n_tokens"),
        F.expr(f"doc_id DIV {_SHARD_BUCKET}").alias("bucket"))
    wb = (Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    offsets = (toks.groupBy("bucket")
               .agg(F.sum("n_tokens").alias("btok"))
               .withColumn("offset", F.sum("btok").over(wb) - F.col("btok"))
               .select("bucket", "offset"))
    ww = (Window.partitionBy("bucket").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (toks.join(F.broadcast(offsets), "bucket")
           .withColumn("running",
                       F.col("offset") + F.sum("n_tokens").over(ww)))
    assigned = cum.withColumn(
        "shard",
        F.expr(f"CAST((running - n_tokens) DIV {_SHARD_BUDGET} AS BIGINT)"))
    return (assigned.groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))


def _funnel_quality_sql() -> str:
    """Same saturating quality formula as x4_quality_score (IEEE-identical
    in both engines), rounded to 6 before thresholding."""
    return ("ROUND(CASE WHEN len >= 200 THEN 1.0 ELSE len / 200 END * 0.5"
            " + CASE WHEN n_tokens >= 40 THEN 1.0"
            " ELSE CAST(n_tokens AS DOUBLE) / 40 END * 0.5, 6)")


@register(
    "x5_corpus_filter_funnel",
    oracle=f"""
    WITH {_TOKENS},
    profiles AS (SELECT * FROM {values_sql(_LANG_PROFILE_ROWS, _LANG_PROFILE_COLS)}),
    doc_sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM tokens GROUP BY doc_id),
    hits AS (
      SELECT t.doc_id, p.profile_lang, COUNT(*) AS n_hits
      FROM tokens t JOIN profiles p ON t.token = p.stopword
      GROUP BY t.doc_id, p.profile_lang),
    pred AS (
      SELECT doc_id, profile_lang AS predicted_lang FROM (
        SELECT h.doc_id, h.profile_lang,
               ROW_NUMBER() OVER (PARTITION BY h.doc_id
                 ORDER BY CAST(h.n_hits AS DOUBLE) / s.n_tok DESC,
                          h.profile_lang) AS rn
        FROM hits h JOIN doc_sizes s ON h.doc_id = s.doc_id)
      WHERE rn = 1),
    words AS (
      SELECT doc_id, unnest(l) AS tok, unnest(range(1, len(l) + 1)) AS pos
      FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS l
            FROM documents)),
    tok_counts AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM words GROUP BY doc_id, tok),
    bigrams AS (
      SELECT a.doc_id, a.tok || ' ' || b.tok AS bg, COUNT(*) AS c
      FROM words a JOIN words b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      GROUP BY a.doc_id, a.tok || ' ' || b.tok),
    rep AS (
      SELECT t.doc_id,
             CAST(SUM(t.c) AS BIGINT) AS n_tokens,
             (CAST(MAX(t.c) AS DOUBLE) / SUM(t.c) <= 0.1
              AND CAST(COALESCE((SELECT MAX(c) FROM bigrams b
                                 WHERE b.doc_id = t.doc_id), 0) AS DOUBLE)
                  / GREATEST(SUM(t.c) - 1, 1) <= 0.18) AS not_repetitive
      FROM tok_counts t GROUP BY t.doc_id),
    dedup AS (
      SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text)
                                        ORDER BY doc_id) = 1 AS is_rep
      FROM documents),
    flags AS (
      SELECT d.doc_id, r.n_tokens,
             COALESCE(p.predicted_lang = d.lang, FALSE) AS s1,
             CAST(length(d.text) AS DOUBLE) AS len_,
             r.not_repetitive, dd.is_rep
      FROM documents d
      LEFT JOIN pred p ON d.doc_id = p.doc_id
      JOIN rep r ON d.doc_id = r.doc_id
      JOIN dedup dd ON d.doc_id = dd.doc_id),
    staged AS (
      SELECT doc_id, n_tokens, s1,
             s1 AND {_funnel_quality_sql().replace('len', 'len_').replace('n_tokens', 'n_tokens')} >= 0.8 AS s2,
             FALSE AS _pad
      FROM flags),
    staged2 AS (
      SELECT f.doc_id, f.n_tokens, st.s1, st.s2,
             st.s2 AND f.not_repetitive AS s3,
             st.s2 AND f.not_repetitive AND f.is_rep AS s4
      FROM flags f JOIN staged st ON f.doc_id = st.doc_id)
    SELECT stage,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM (
      SELECT '0_all' AS stage, COUNT(*) AS n_docs, SUM(n_tokens) AS n_tokens FROM staged2
      UNION ALL
      SELECT '1_lang_id', SUM(CASE WHEN s1 THEN 1 ELSE 0 END),
             SUM(CASE WHEN s1 THEN n_tokens ELSE 0 END) FROM staged2
      UNION ALL
      SELECT '2_quality', SUM(CASE WHEN s2 THEN 1 ELSE 0 END),
             SUM(CASE WHEN s2 THEN n_tokens ELSE 0 END) FROM staged2
      UNION ALL
      SELECT '3_repetition', SUM(CASE WHEN s3 THEN 1 ELSE 0 END),
             SUM(CASE WHEN s3 THEN n_tokens ELSE 0 END) FROM staged2
      UNION ALL
      SELECT '4_dedup', SUM(CASE WHEN s4 THEN 1 ELSE 0 END),
             SUM(CASE WHEN s4 THEN n_tokens ELSE 0 END) FROM staged2)
    """,
)
def x5_corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning funnel -- the composite every training-data
    pipeline runs: language-ID agreement, then quality threshold, then
    repetition filter, then exact-dedup representative selection, with
    per-stage surviving doc and token counts (the retention report that
    decides filter tuning).

    Composition of the individually-verified operators (x4_lang_id_heuristic,
    x4_quality_score, x5_repetition_stats, x1_dedup_exact semantics) as one
    plan: every derived relation is per-doc and joins back on doc_id, so the
    whole funnel is doc-partitioned narrow work plus one tiny 5-row final
    rollup; nothing in it widens at 100 TB."""
    from .textstats import _lang_id_best

    # r14 optimization (guide §2.4): language-ID, the repetition maxima,
    # and quality are all pure per-document functions, computed per-ROW
    # with the shared array kernels (`_lang_id_best`, `_run_max`,
    # `_bigram_array`) instead of the old explode + broadcast join + five
    # hash-aggregate exchanges + two window sorts + three doc_id joins.
    # Only exact-dedup representative selection genuinely crosses rows, so
    # the whole funnel is ONE md5-window exchange plus the final rollup.
    # Filtering to >=1-token docs up front matches the old inner join on
    # the token-derived rep relation (and cannot change is_rep: equal
    # text => equal token count, so md5 groups never mix token-bearing
    # and token-free docs).
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    base = (docs.select("doc_id", "lang", "text",
                        F.length("text").cast("double").alias("len_"),
                        toks.alias("l"))
            .filter(F.size("l") > 0)
            .select("doc_id", "lang", "text", "len_",
                    F.size("l").cast("long").alias("n_tokens"),
                    _run_max(F.col("l")).alias("top_tok"),
                    _run_max(_bigram_array(F.col("l"))).alias("top_bigram"),
                    _lang_id_best(F.col("l")).alias("b")))
    not_repetitive = (
        (F.col("top_tok").cast("double") / F.col("n_tokens") <= 0.1)
        & (F.col("top_bigram").cast("double")
           / F.greatest(F.col("n_tokens") - 1, F.lit(1)) <= 0.18))
    wd = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    quality = F.expr(_funnel_quality_sql().replace("len", "len_"))
    flags = base.select(
        "doc_id", "n_tokens", "text", "len_",
        F.coalesce(F.col("b")["lang"] == F.col("lang"),
                   F.lit(False)).alias("s1"),
        not_repetitive.alias("not_repetitive")).select(
        "doc_id", "n_tokens", "s1", "len_", "not_repetitive",
        (F.row_number().over(wd) == 1).alias("is_rep"))
    staged = flags.select(
        "doc_id", "n_tokens", "s1", "not_repetitive", "is_rep",
        (F.col("s1") & (quality >= 0.8)).alias("s2"))
    staged = staged.select(
        "n_tokens", "s1", "s2",
        (F.col("s2") & F.col("not_repetitive")).alias("s3"),
        (F.col("s2") & F.col("not_repetitive") & F.col("is_rep")).alias("s4"))
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    tok = lambda c: F.sum(F.when(c, F.col("n_tokens")).otherwise(0)).cast("long")  # noqa: E731
    agg = staged.agg(
        F.count(F.lit(1)).cast("long").alias("c0"),
        F.sum("n_tokens").cast("long").alias("t0"),
        cnt(F.col("s1")).alias("c1"), tok(F.col("s1")).alias("t1"),
        cnt(F.col("s2")).alias("c2"), tok(F.col("s2")).alias("t2"),
        cnt(F.col("s3")).alias("c3"), tok(F.col("s3")).alias("t3"),
        cnt(F.col("s4")).alias("c4"), tok(F.col("s4")).alias("t4"))
    return agg.selectExpr(
        "stack(5, '0_all', c0, t0, '1_lang_id', c1, t1, '2_quality', c2, t2,"
        " '3_repetition', c3, t3, '4_dedup', c4, t4)"
        " AS (stage, n_docs, n_tokens)")


_STRATUM_N = 20  # docs kept per (lang, split) stratum


@register(
    "x5_stratified_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT lang, doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {_md5_int_sql('text', 'duck')}, doc_id) AS rnk
      FROM documents)
    SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id, n_chars
    FROM ranked WHERE rnk <= {_STRATUM_N}
    """,
)
def x5_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified sampling: the first {_STRATUM_N} documents per
    language by content-hash rank. Unlike rate-based `sample()`, the per-
    stratum count is exact and membership is a pure function of the text
    (stable across re-runs and engine versions -- the property eval-set
    construction needs). One window per stratum; the md5 rank key spreads
    uniformly, so no stratum hot-spots a partition beyond its own size."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.expr(_md5_int_sql("text", "spark")), F.asc("doc_id"))
    return (docs.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= _STRATUM_N)
            .select("lang", "rnk", "doc_id", "n_chars"))


_BPE_ROUNDS = 4  # learned merges; << distinct pair count at any real scale

_BPE_SAMPLE_TYPES = 4096  # merge training runs on the top-N word TYPES by
#                           (count desc, word) -- the PQ-codebook pattern
#                           (VERDICT r5 item 3): tokenizer merges are
#                           decided by the frequent types (Zipf), so a
#                           bounded deterministic sample trains the same
#                           merges while capping driver memory and per-
#                           round work at a constant. The ENCODE pass
#                           still applies merges to every type. Never
#                           binds at the tested SFs (31 types), so the
#                           oracle stays bit-identical by construction --
#                           both sides sample identically when it does.


def _bpe_oracle(rounds: int) -> str:
    """Chained-CTE DuckDB twin of the (sampled, driver-local) training
    loop: one (pairs -> argmax -> apply-merge) block per round over the
    top-{_BPE_SAMPLE_TYPES} word types. CTEs are MATERIALIZED: the m{{i}}
    scalar subqueries are referenced twice per round and each w{{i}}
    feeds both p{{i}} and w{{i+1}}, so DuckDB's default inlining
    re-evaluated the whole chain combinatorially (~15 s at sf0.01;
    <1 s materialized). The merge is applied with the same
    space-doubling string trick as the Spark side, so greedy
    left-to-right non-overlapping semantics match exactly."""
    parts = [rf"""
    w0 AS MATERIALIZED (
      SELECT cnt, trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS syms
      FROM (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM (SELECT unnest(string_split(text, ' ')) AS word
                  FROM documents)
            WHERE word <> '' GROUP BY word
            ORDER BY cnt DESC, word LIMIT {_BPE_SAMPLE_TYPES}))"""]
    for i in range(rounds):
        lft = f"(SELECT lft FROM m{i})"
        rgt = f"(SELECT rgt FROM m{i})"
        parts.append(f"""
    p{i} AS MATERIALIZED (
      SELECT p[1] AS lft, p[2] AS rgt, CAST(SUM(cnt) AS BIGINT) AS pair_count
      FROM (SELECT cnt, unnest(list_zip(a[1:len(a)-1], a[2:len(a)])) AS p
            FROM (SELECT cnt, string_split(syms, ' ') AS a FROM w{i}))
      GROUP BY 1, 2),
    m{i} AS MATERIALIZED (
      SELECT CAST({i + 1} AS BIGINT) AS rnd, lft, rgt, pair_count FROM p{i}
      ORDER BY pair_count DESC, lft, rgt LIMIT 1),
    w{i + 1} AS MATERIALIZED (
      SELECT cnt,
             replace(trim(replace(' ' || replace(syms, ' ', '  ') || ' ',
                     ' ' || {lft} || '  ' || {rgt} || ' ',
                     ' ' || {lft} || {rgt} || ' ')), '  ', ' ') AS syms
      FROM w{i})""")
    union = " UNION ALL ".join(f"SELECT * FROM m{i}" for i in range(rounds))
    return ("WITH" + ",".join(parts)
            + f" SELECT rnd, lft, rgt, pair_count FROM ({union})")


@register("x5_bpe_vocab_train", oracle=_bpe_oracle(_BPE_ROUNDS))
def x5_bpe_vocab_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding vocabulary training -- the iterative tokenizer-
    learning loop (count adjacent symbol pairs, merge the most frequent,
    repeat) that turns a corpus into a merge table.

    Distributed shape: the corpus collapses to a word-TYPE table (Zipf:
    orders of magnitude smaller than the corpus) in one explode+groupBy
    pass; each round then runs pair-count + argmax as a distributed agg
    over the cached types table and collects exactly ONE row (the winning
    pair -- the same tiny convergence-scalar collect as
    x1_dedup_components). Merges are applied as plain string replaces (no
    regex) using a space-doubling encoding that makes a single non-
    overlapping replace implement BPE's greedy left-to-right merge: with
    boundaries doubled, consuming one space on each side of a match leaves
    neighbouring pair sites intact ('l l l' merges to 'll l', not 'l ll').
    """
    merges = _learn_bpe_merges(spark, sf_dir)
    return local_df(
        spark, merges,
        schema="rnd BIGINT, lft STRING, rgt STRING, pair_count BIGINT")


def _apply_merge(syms: F.Column, lft: str, rgt: str) -> F.Column:
    """One greedy non-overlapping BPE merge via the space-doubling trick."""
    doubled = F.concat(F.lit(" "), F.replace(syms, F.lit(" "), F.lit("  ")),
                       F.lit(" "))
    merged = F.replace(doubled, F.lit(f" {lft}  {rgt} "),
                       F.lit(f" {lft}{rgt} "))
    return F.replace(F.trim(merged), F.lit("  "), F.lit(" "))


def _learn_bpe_merges(spark: SparkSession,
                      sf_dir: str) -> list[tuple[int, str, str, int]]:
    """The shared merge-learning loop (see x5_bpe_vocab_train docstring).

    r6 shape (VERDICT r5 item 3, the PQ-codebook pattern): ONE
    distributed pass builds the word-type frequency table and collects
    the top-{_BPE_SAMPLE_TYPES} types by (count desc, word) -- a bounded
    deterministic sample -- then every merge round runs DRIVER-LOCALLY
    over those <= 4096 rows. The previous shape re-aggregated the type
    table on the cluster once per round (4 rounds x ~3 eager jobs,
    ~12 s at sf0.01 for work that fits in a list comprehension); the
    sample collect costs one job and the rounds cost microseconds.
    Tie-break matches the oracle: max pair_count, then lexicographically
    smallest (lft, rgt)."""
    docs = load_table(spark, sf_dir, "documents")
    sample = (docs.select(F.explode(F.split("text", " ")).alias("word"))
              .filter(F.col("word") != "")
              .groupBy("word")
              .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
              .orderBy(F.desc("cnt"), F.asc("word"))
              .limit(_BPE_SAMPLE_TYPES)
              .collect())
    syms: list[list[str]] = [list(r["word"]) for r in sample]
    cnts: list[int] = [int(r["cnt"]) for r in sample]
    merges: list[tuple[int, str, str, int]] = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        pc: dict[tuple[str, str], int] = {}
        for s, cnt in zip(syms, cnts):
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] = pc.get((s[i], s[i + 1]), 0) + cnt
        if not pc:
            break
        (lft, rgt), best = min(pc.items(),
                               key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rnd, lft, rgt, int(best)))
        for k, s in enumerate(syms):
            out, i = [], 0
            while i < len(s):
                if i < len(s) - 1 and s[i] == lft and s[i + 1] == rgt:
                    out.append(lft + rgt)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[k] = out
    return merges


def _bpe_encode_oracle(rounds: int) -> str:
    """Encode twin: re-derives the merge table with the train CTE chain,
    applies it to a word-KEYED type chain (wt0..wt{rounds}), then rolls the
    encoded types back onto each document."""
    train = _bpe_oracle(rounds)
    cte_body = train[len("WITH"):train.rindex(" SELECT rnd,")]
    parts = [cte_body, r""",
    wt0 AS MATERIALIZED (
      SELECT word, trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS syms
      FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS word
            FROM documents)
      WHERE word <> '')"""]
    for i in range(rounds):
        # COALESCE to a chr(1) sentinel: if training exhausted its merge
        # pairs before round i, m{i} is empty and the scalar subqueries are
        # NULL -- a NULL pattern would NULL-poison every syms through
        # replace(); the sentinel never occurs in text, so the round
        # becomes a no-op exactly like the engine's early break.
        lft = f"coalesce((SELECT lft FROM m{i}), chr(1))"
        rgt = f"coalesce((SELECT rgt FROM m{i}), chr(1))"
        parts.append(f""",
    wt{i + 1} AS MATERIALIZED (
      SELECT word,
             replace(trim(replace(' ' || replace(syms, ' ', '  ') || ' ',
                     ' ' || {lft} || '  ' || {rgt} || ' ',
                     ' ' || {lft} || {rgt} || ' ')), '  ', ' ') AS syms
      FROM wt{i})""")
    parts.append(f"""
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(string_split(w.syms, ' '))) AS BIGINT) AS n_bpe_tokens
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents) t
    JOIN wt{rounds} w ON t.word = w.word
    WHERE t.word <> ''
    GROUP BY t.doc_id""")
    return "WITH" + "".join(parts)


@register("x5_bpe_encode", oracle=_bpe_encode_oracle(_BPE_ROUNDS))
def x5_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merge table to the corpus: per-document word
    and BPE-token counts -- the encode half of the tokenizer loop (train =
    x5_bpe_vocab_train).

    Distributed shape: merges apply on the word-TYPE table (Zipf-small),
    never the corpus -- the corpus only pays one explode plus one join
    from word to its encoded symbol count. The type table grows with the
    corpus (Heaps' law), so the join carries NO forced broadcast hint:
    AQE broadcasts it while measured-small and shuffle-joins on the
    uniform word key beyond (VERDICT r10 hint audit)."""
    merges = _learn_bpe_merges(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    toks = (docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
            .filter(F.col("word") != ""))
    types = (toks.select("word").distinct()
             .select("word", F.trim(F.regexp_replace("word", "(.)", "$1 "))
                     .alias("syms")))
    for _, lft, rgt, _cnt in merges:
        types = types.select("word", _apply_merge(F.col("syms"), lft, rgt)
                             .alias("syms"))
    types = types.select(
        "word", F.size(F.split("syms", " ")).cast("long").alias("n_toks"))
    # the types relation is VOCABULARY-sized (corpus-growing): no forced
    # hint -- AQE broadcasts it while measured-small and falls back to a
    # shuffle join on the uniform word key beyond (VERDICT r10 hint audit)
    return (toks.join(types, "word")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum("n_toks").alias("n_bpe_tokens")))


@register(
    "x5_dataset_card_stats",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(list_filter(string_split(text, ' '), w -> w <> '')))
                AS BIGINT) AS n_tokens,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS n_bytes,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT sha256(text)) AS BIGINT) AS n_unique_texts,
           ROUND(CAST(SUM(octet_length(encode(text))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_doc_bytes
    FROM documents
    """,
)
def x5_dataset_card_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card summary: the one-row snapshot a training-data team
    publishes with every corpus release (doc/token/byte volume, language
    and source breadth, exact-dup rate via distinct content hashes, mean
    doc size). ONE narrow pass -- token counts come from size(split), not
    an explode; the distincts are tiny-cardinality except the content
    hash, which shuffles 32-byte digests, never text. At 100 TB this is
    the cheap audit run on every published version (pairs with
    publish_stage_audited as its audit source)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    nbytes = F.length(F.col("text").cast("binary"))
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).cast("long").alias("n_tokens"),
        F.sum(nbytes).cast("long").alias("n_bytes"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct(F.sha2(F.col("text").cast("binary"), 256))
         .alias("n_unique_texts"),
        F.round(F.sum(nbytes).cast("double") / F.count(F.lit(1)), 6)
         .alias("avg_doc_bytes"))


@register(
    "x5_corpus_pipeline_end_to_end",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text,
             {_md5_int_sql('text', 'duck')} % 100 < 80 AS is_train,
             ROW_NUMBER() OVER (PARTITION BY md5(text)
                                ORDER BY doc_id) = 1 AS is_rep,
             CAST(length(text) - length(replace(text, ' ', '')) + 1
                  AS BIGINT) AS n_tok_ws,
             CAST(length(text) AS DOUBLE) AS len
      FROM documents),
    quality AS (
      SELECT doc_id,
             (CASE WHEN len >= 200 THEN 1.0 ELSE len / 200 END * 0.5
              + CASE WHEN n_tok_ws >= 40 THEN 1.0
                     ELSE CAST(n_tok_ws AS DOUBLE) / 40 END * 0.5)
               >= 0.8 AS good
      FROM base),
    toks AS (
      SELECT doc_id, {_md5_int_sql('text', 'duck')} % 100 >= 80 AS heldout,
             list_filter(string_split(text, ' '), x -> x <> '') AS l
      FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, heldout,
             array_to_string(l[i:i+{_DECON_N - 1}], ' ') AS gram
      FROM toks, unnest(range(1, len(l) - {_DECON_N - 2})) AS t(i)
      WHERE len(l) >= {_DECON_N}),
    countable AS (
      SELECT gram FROM grams WHERE NOT heldout
      GROUP BY gram HAVING COUNT(*) <= {_DECON_MAX_DF}),
    contaminated AS (
      SELECT DISTINCT g.doc_id
      FROM grams g
      JOIN countable c ON g.gram = c.gram
      JOIN (SELECT DISTINCT gram FROM grams WHERE heldout) h
        ON g.gram = h.gram
      WHERE NOT g.heldout),
    survivors AS (
      SELECT b.doc_id,
             CAST(length(list_filter(string_split(b.text, ' '),
                                     x -> x <> '')) AS BIGINT) AS n_tokens
      FROM base b
      JOIN quality q ON b.doc_id = q.doc_id
      WHERE b.is_train AND b.is_rep AND q.good
        AND b.doc_id NOT IN (SELECT doc_id FROM contaminated)),
    cum AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS running
      FROM survivors)
    SELECT CAST((running - n_tokens) // {_SHARD_BUDGET} AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM cum GROUP BY 1
    """,
)
def x5_corpus_pipeline_end_to_end(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The END-TO-END training-corpus preparation pipeline as ONE composed
    plan -- the LLM-data counterpart of the doc_pipeline_* flagships:

      filter (quality >= 0.8) -> exact-dedup (md5 representative)
      -> train-split restriction -> decontaminate (drop train docs
      sharing any df-pruned {_DECON_N}-gram with the held-out split)
      -> equal-token sharding of the survivors (two-phase cumsum).

    Each stage is the SAME kernel its standalone face registers
    (`x4_quality_score`'s closed form, `x1_dedup_exact`'s hash-groupBy
    semantics, `_decon_grams` as in `x5_decontaminate_ngram`,
    `x5_shard_by_budget`'s two-phase global cumsum) -- this face proves
    they COMPOSE into one Catalyst plan with no materialization barriers
    between stages, and its oracle is the same composition in one SQL
    statement.

    Scale shape inherits from the parts: quality, the dedup
    representative and the train-split predicate are per-document
    expressions (no explode); the shingles are exploded once, cross one
    gram exchange, and the contaminated train docs are a filter on them;
    the sharding window never sees more than the coarse bucket table. The
    final per-shard rollup is budget-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    w_rep = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    n_tok_ws = (F.length("text")
                - F.length(F.regexp_replace("text", " ", "")) + 1
                ).cast("long")
    length = F.length("text").cast("double")
    quality = (F.when(length >= 200, 1.0).otherwise(length / 200) * 0.5
               + F.when(n_tok_ws >= 40, F.lit(1.0))
                  .otherwise(n_tok_ws.cast("double") / 40) * 0.5)
    base = docs.select(
        "doc_id", "text",
        (F.expr(_md5_int_sql("text", "spark")) % 100 < 80).alias("is_train"),
        (F.row_number().over(w_rep) == 1).alias("is_rep"),
        (quality >= 0.8).alias("good"))
    contaminated = (_decon_grams(spark, sf_dir)
                    .filter(~F.col("heldout") & F.col("held_hit")
                            & (F.col("train_df") <= _DECON_MAX_DF))
                    .select("doc_id"))
    survivors = (base.filter("is_train AND is_rep AND good")
                 .join(contaminated, "doc_id", "left_anti")
                 .select("doc_id",
                         F.size(F.filter(F.split("text", " "),
                                         lambda x: x != ""))
                          .cast("long").alias("n_tokens"),
                         F.expr(f"doc_id DIV {_SHARD_BUCKET}")
                          .alias("bucket")))
    wb = (Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    offsets = (survivors.groupBy("bucket")
               .agg(F.sum("n_tokens").alias("btok"))
               .withColumn("offset", F.sum("btok").over(wb) - F.col("btok"))
               .select("bucket", "offset"))
    ww = (Window.partitionBy("bucket").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (survivors.join(F.broadcast(offsets), "bucket")
           .withColumn("running",
                       F.col("offset") + F.sum("n_tokens").over(ww)))
    return (cum.withColumn(
                "shard",
                F.expr(f"(running - n_tokens) DIV {_SHARD_BUDGET}")
                 .cast("long"))
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("n_tokens"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))


# --- temperature-based mixture resampling (r12) -------------------------------
# The multilingual-training balancing knob (the mT5/XLM-R alpha-sampling):
# resample languages toward q_i proportional to p_i^alpha with alpha = 0.5,
# boosting low-resource languages relative to their natural share. Unlike
# x5_domain_mixture_sample (FIXED literal rates), the rates here are DERIVED
# from measured counts -- the interesting float surface. alpha = 0.5 means
# p^alpha = sqrt(p), and IEEE-754 sqrt is correctly rounded by the standard,
# so the per-language terms are bit-identical across engines; the only
# order-dependent step (summing the terms) routes through ROUND(.,9) +
# DECIMAL, the engine's standard detour.

_TMIX_BUDGET = 0.5  # keep half the corpus, redistributed by temperature


def _tmix_oracle() -> str:
    from .dedup import _md5_int_sql
    h = _md5_int_sql("text || ':tmix'", "duck")
    return f"""
    WITH counts AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
    tot AS (SELECT SUM(c) AS n FROM counts),
    terms AS (
      SELECT lang, c,
             CAST(ROUND(sqrt(CAST(c AS DOUBLE) / n), 9)
                  AS DECIMAL(28,9)) AS pa
      FROM counts, tot),
    norm AS (SELECT SUM(pa) AS sa FROM terms),
    rates AS (
      SELECT t.lang, t.c,
             LEAST(1.0, (CAST(t.pa AS DOUBLE) / CAST(nm.sa AS DOUBLE))
                        * {_TMIX_BUDGET} * tt.n / t.c) AS rate
      FROM terms t, norm nm, tot tt),
    assigned AS (
      SELECT d.lang, d.n_chars, r.rate, {h} % 1000 AS draw
      FROM documents d JOIN rates r ON d.lang = r.lang)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN draw < rate * 1000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN draw < rate * 1000 THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars,
           ROUND(MAX(rate), 9) AS rate
    FROM assigned GROUP BY lang
    """


@register("x5_mixture_temperature_sample", oracle=_tmix_oracle())
def x5_mixture_temperature_sample(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Temperature (alpha = 0.5) mixture resampling at a fixed corpus
    budget: target share q_i = sqrt(p_i)/sum_j sqrt(p_j) over the
    MEASURED language distribution, per-doc keep rate
    min(1, q_i * budget * N / c_i), deterministic md5 thinning. Boosts
    low-resource languages (rate can hit 1.0) while downsampling the head
    -- the standard multilingual-pretraining mixture knob, derived from
    data instead of the fixed-rate face's literals.

    Scale shape: two 1-row-per-language aggregates (counts, term sum) +
    one broadcast-eligible rate attach; the corpus moves once. Float
    discipline: c/N is one IEEE division of identical integers, sqrt is
    CORRECTLY ROUNDED by IEEE-754 (bit-identical on both engines), the
    cross-language term sum -- the only fold-order-dependent step --
    routes through ROUND(.,9) + DECIMAL(28,9), and the final rate is a
    fixed arithmetic tree over identical doubles; the integer draw vs
    rate*1000 comparison is therefore identical on both engines."""
    from .dedup import _md5_int_sql
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.agg(F.sum("c").alias("n"))
    terms = (counts.crossJoin(F.broadcast(tot))
             .withColumn("pa", F.round(
                 F.sqrt(F.col("c").cast("double") / F.col("n")), 9)
                 .cast("decimal(28,9)")))
    norm = terms.agg(F.sum("pa").alias("sa"))
    rates = (terms.crossJoin(F.broadcast(norm))
             .select("lang", "c", "n",
                     F.least(F.lit(1.0),
                             (F.col("pa").cast("double")
                              / F.col("sa").cast("double"))
                             * _TMIX_BUDGET * F.col("n") / F.col("c"))
                      .alias("rate")))
    assigned = docs.join(F.broadcast(rates.select("lang", "rate")), "lang") \
        .select("lang", "n_chars", "rate",
                (F.expr(_md5_int_sql("text || ':tmix'", "spark")) % 1000)
                .alias("draw"))
    keep = F.col("draw") < F.col("rate") * 1000
    return (assigned.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_total"),
                 F.sum(keep.cast("long")).alias("n_kept"),
                 F.sum(F.when(keep, F.col("n_chars")).otherwise(0))
                  .cast("long").alias("kept_chars"),
                 F.round(F.max("rate"), 9).alias("rate")))


# --- Distribution-drift monitoring (PSI / KL) -------------------------------
#
# The corpus-refresh guard a production training-data pipeline runs before
# admitting a new crawl batch: bin a handful of cheap per-document features,
# compare the incoming split's distribution against the reference corpus, and
# alert on the population-stability index. Smoothed with +0.5 per bin so
# support mismatches stay finite (the add-half Laplace estimator).

_PSI_CHAR_BIN = 32   # n_chars bin width (power of 2: float division exact)
_PSI_TOK_BIN = 8     # n_tokens bin width (power of 2)
_PSI_MAX_BIN = 19    # equi-width bins capped at 20 (LEAST(x DIV w, 19))

# Shared oracle CTE: everything through the UN-ROUNDED per-bin contributions
# (pr/pc/psi_raw/kl_raw), so tools/check.py derives the psi_cells boundary
# exposure from the face's own statement (the bm25/mmr recipe).
_PSI_CTE = f"""
    WITH base AS (
      SELECT CAST(substring(source, 4) AS INTEGER) < 10 AS is_ref,
             n_chars,
             CAST(length(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tokens,
             lang
      FROM documents),
    feats AS (
      SELECT is_ref, 'n_chars' AS feature,
             CAST(LEAST(n_chars // {_PSI_CHAR_BIN}, {_PSI_MAX_BIN})
                  AS VARCHAR) AS bin
      FROM base
      UNION ALL
      SELECT is_ref, 'n_tokens',
             CAST(LEAST(n_tokens // {_PSI_TOK_BIN}, {_PSI_MAX_BIN})
                  AS VARCHAR)
      FROM base
      UNION ALL
      SELECT is_ref, 'lang', lang FROM base),
    counts AS (
      SELECT feature, bin,
             CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
               AS ref_n,
             CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT)
               AS cur_n
      FROM feats GROUP BY feature, bin),
    tot AS (
      SELECT feature, CAST(SUM(ref_n) AS BIGINT) AS ref_total,
             CAST(SUM(cur_n) AS BIGINT) AS cur_total,
             CAST(COUNT(*) AS BIGINT) AS n_bins
      FROM counts GROUP BY feature),
    scored AS (
      SELECT c.feature, c.bin, c.ref_n, c.cur_n,
             (CAST(c.ref_n AS DOUBLE) + 0.5)
               / (CAST(t.ref_total AS DOUBLE)
                  + 0.5 * CAST(t.n_bins AS DOUBLE)) AS pr,
             (CAST(c.cur_n AS DOUBLE) + 0.5)
               / (CAST(t.cur_total AS DOUBLE)
                  + 0.5 * CAST(t.n_bins AS DOUBLE)) AS pc
      FROM counts c JOIN tot t ON c.feature = t.feature),
    contrib AS (
      SELECT feature, bin, ref_n, cur_n, pr, pc,
             (pc - pr) * ln(pc / pr) AS psi_raw,
             pc * ln(pc / pr) AS kl_raw
      FROM scored)
"""


@register(
    "x5_drift_psi",
    oracle=_PSI_CTE + """
    SELECT feature, bin, ref_n, cur_n,
           ROUND(pr, 9) AS p_ref, ROUND(pc, 9) AS p_cur,
           ROUND(psi_raw, 9) AS psi_contrib,
           ROUND(kl_raw, 9) AS kl_contrib,
           ROUND(CAST(SUM(CAST(ROUND(psi_raw, 9) AS DECIMAL(28,12)))
                        OVER (PARTITION BY feature) AS DOUBLE), 9)
             AS psi_total,
           ROUND(CAST(SUM(CAST(ROUND(kl_raw, 9) AS DECIMAL(28,12)))
                        OVER (PARTITION BY feature) AS DOUBLE), 9)
             AS kl_total
    FROM contrib
    """,
)
def x5_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift report between the reference corpus
    (sources src0-src9) and the incoming refresh (src10-src19): three cheap
    per-document features -- n_chars (equi-width bins of 32), whitespace
    token count (bins of 8), and the categorical lang mix -- binned per
    split, add-half smoothed, and scored per bin with the PSI term
    (p_cur - p_ref) * ln(p_cur / p_ref) (always >= 0) and the KL term
    p_cur * ln(p_cur / p_ref); per-feature totals alert the admission gate.

    Scale shape: ONE corpus scan -> a 3-way stack of narrow (split,
    feature, bin) rows -> map-side-combining groupBy down to <= ~60 rows;
    everything after the first aggregation is driver-trivial. No UDFs, no
    windows over the corpus, no second pass -- at 100 TB this is scan-bound,
    exactly like the dataset-card face it complements.

    Float discipline: bin ids are integer arithmetic (power-of-2 widths);
    p_ref/p_cur are one division of identical operand doubles (integer
    counts + exact 0.5 terms); the ln terms follow the perplexity-face
    precedent (identical-operand transcendentals, ROUND 9dp, every raw
    cell in the `psi_cells` boundary exposure). The per-feature totals sum
    the ROUNDED contributions through DECIMAL(28,12) -- exact and
    order-independent, so no fold-order surface survives to the gate."""
    docs = load_table(spark, sf_dir, "documents")
    counts = _psi_feats(docs).groupBy("feature", "bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0))
         .cast("long").alias("ref_n"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1))
         .cast("long").alias("cur_n"))
    return _psi_report(counts)


def _psi_feats(docs: DataFrame) -> DataFrame:
    """STATELESS per-document binning map -> (is_ref, feature, bin): a
    pure per-row function (the property that makes the incremental twin's
    per-batch count maintenance correct by construction -- the
    minhash_band_buckets precedent)."""
    return docs.selectExpr(
        "CAST(substring(source, 4) AS INT) < 10 AS is_ref",
        "n_chars",
        "CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT)"
        " AS n_tokens",
        "lang",
    ).selectExpr(
        "is_ref",
        f"""stack(3,
            'n_chars',
            CAST(LEAST(n_chars DIV {_PSI_CHAR_BIN}, {_PSI_MAX_BIN})
                 AS STRING),
            'n_tokens',
            CAST(LEAST(n_tokens DIV {_PSI_TOK_BIN}, {_PSI_MAX_BIN})
                 AS STRING),
            'lang', lang) AS (feature, bin)""")


def _psi_report(counts: DataFrame) -> DataFrame:
    """The smoothing + PSI/KL arithmetic over a (feature, bin, ref_n,
    cur_n) count relation -- shared verbatim by the batch face and the
    incremental twin, so their equivalence check isolates exactly the
    count-maintenance path."""
    tot = counts.groupBy("feature").agg(
        F.sum("ref_n").cast("long").alias("ref_total"),
        F.sum("cur_n").cast("long").alias("cur_total"),
        F.count(F.lit(1)).alias("n_bins"))
    scored = (counts.join(F.broadcast(tot), "feature")
              .withColumn("pr", (F.col("ref_n").cast("double") + F.lit(0.5))
                          / (F.col("ref_total").cast("double")
                             + F.lit(0.5) * F.col("n_bins").cast("double")))
              .withColumn("pc", (F.col("cur_n").cast("double") + F.lit(0.5))
                          / (F.col("cur_total").cast("double")
                             + F.lit(0.5) * F.col("n_bins").cast("double"))))
    contrib = (scored
               .withColumn("psi_raw", (F.col("pc") - F.col("pr"))
                           * F.log(F.col("pc") / F.col("pr")))
               .withColumn("kl_raw", F.col("pc")
                           * F.log(F.col("pc") / F.col("pr"))))
    w = Window.partitionBy("feature")
    return contrib.select(
        "feature", "bin", "ref_n", "cur_n",
        F.round("pr", 9).alias("p_ref"),
        F.round("pc", 9).alias("p_cur"),
        F.round("psi_raw", 9).alias("psi_contrib"),
        F.round("kl_raw", 9).alias("kl_contrib"),
        F.round(F.sum(F.round("psi_raw", 9).cast("decimal(28,12)")).over(w)
                 .cast("double"), 9).alias("psi_total"),
        F.round(F.sum(F.round("kl_raw", 9).cast("decimal(28,12)")).over(w)
                 .cast("double"), 9).alias("kl_total"))


_PSI_INC_FILES = 3  # corpus streamed as 3 parquet files => >= 3 micro-batches


@register(
    "x5_drift_psi_incremental",
    oracle="""
    SELECT CAST(NULL AS VARCHAR) AS violation,
           CAST(NULL AS VARCHAR) AS detail
    WHERE FALSE
    """,
)
def x5_drift_psi_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible equivalence face: STREAMING drift-count maintenance
    == the batch x5_drift_psi report (constant-empty oracle; the
    x2_ann_lsh_index_incremental recipe). Because a document's
    (is_ref, feature, bin) rows are a pure per-row function (_psi_feats),
    the PSI monitor's state is an additive count relation: each arriving
    micro-batch contributes its own per-bin counts, and the report is
    computed from the summed store. The face drives that path with a real
    availableNow + maxFilesPerTrigger=1 stream over the corpus, each batch
    OVERWRITE-writing its counts to a batch-keyed partition (idempotent
    under foreachBatch redelivery -- blind append double-counts on
    replay), then compares the report built from the assembled store
    against the batch face row-for-row (both directions; the rounded
    doubles are bit-identical because both reports run _psi_report over
    identical integer counts). Violations: MISSING_FROM_INCREMENTAL /
    EXTRA_IN_INCREMENTAL, plus vacuity canaries TOO_FEW_MICROBATCHES and
    EMPTY_STORE. EAGER AT BUILD (registry memo runs it once per
    (session, sf_dir)); returned rows are literals, temp dirs removed
    before return. At 100 TB the same shape holds: the monitor state is
    <= |features| x |bins| x 2 counters per batch partition, appends are
    partition-local writes, and the report is driver-trivial."""
    import os
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars")

    tmp = tempfile.mkdtemp(prefix="x5_psi_inc_")
    rows: list[tuple[str, str]] = []
    seen_batches: list[int] = []
    try:
        feed_dir = "file://" + os.path.join(tmp, "feed")
        store_dir = "file://" + os.path.join(tmp, "store")
        ckpt_dir = "file://" + os.path.join(tmp, "ckpt")
        docs.repartition(_PSI_INC_FILES).write.parquet(feed_dir)

        def upsert(bdf: DataFrame, batch_id: int) -> None:
            seen_batches.append(int(batch_id))
            (_psi_feats(bdf)
             .groupBy("feature", "bin", "is_ref")
             .agg(F.count(F.lit(1)).cast("long").alias("n"))
             .write.mode("overwrite")
             .parquet(store_dir + f"/batch={int(batch_id)}"))

        (spark.readStream.schema(docs.schema)
         .option("maxFilesPerTrigger", 1).parquet(feed_dir)
         .writeStream.foreachBatch(upsert)
         .option("checkpointLocation", ckpt_dir)
         .trigger(availableNow=True).start().awaitTermination())

        assembled = (spark.read.parquet(store_dir)
                     .groupBy("feature", "bin")
                     .agg(F.sum(F.when(F.col("is_ref"), F.col("n"))
                                .otherwise(0)).cast("long").alias("ref_n"),
                          F.sum(F.when(F.col("is_ref"), 0)
                                .otherwise(F.col("n"))).cast("long")
                          .alias("cur_n")))
        inc_report = _psi_report(assembled)
        batch_report = x5_drift_psi(spark, sf_dir)
        cols = batch_report.columns
        missing = (batch_report.join(inc_report, cols, "left_anti")
                   .orderBy(*cols).limit(20).collect())
        extra = (inc_report.join(batch_report, cols, "left_anti")
                 .orderBy(*cols).limit(20).collect())
        rows += [("MISSING_FROM_INCREMENTAL", str(tuple(r)))
                 for r in missing]
        rows += [("EXTRA_IN_INCREMENTAL", str(tuple(r))) for r in extra]
        if len(seen_batches) < 2:
            rows.append(("TOO_FEW_MICROBATCHES",
                         f"saw {len(seen_batches)} micro-batches; the "
                         "boundary-crossing evidence needs >= 2"))
        if spark.read.parquet(store_dir).limit(1).count() == 0:
            rows.append(("EMPTY_STORE", "no streamed count rows"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_df(spark, rows, "violation string, detail string")
