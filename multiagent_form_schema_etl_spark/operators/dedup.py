"""X1 -- deduplication operators over ``documents`` (SURVEY.md §2.11).

Four strategies, scaling from exact to fuzzy:

- exact: sha2 content hash, min-doc_id representative. One shuffle on the
  hash; at 100 TB this is the textbook groupBy-hash dedup.
- n-gram/token Jaccard: inverted-index similarity join (explode tokens, join
  on token within blocking keys, count intersections). Blocking on
  (lang, length-bucket) bounds the candidate-pair explosion -- without it the
  token join degenerates to all-pairs on skewed tokens. Three physical
  strategies share one oracle: the naive all-token join (wins on dense-match
  corpora like this one), exact df-ordered prefix filtering
  (x1_dedup_jaccard_prefix, the sparse-match / Zipfian-vocabulary scale
  path where stopword-hot tokens never reach the quadratic join) and the
  blocked pair join over packed token arrays (x1_dedup_jaccard_blockpairs,
  the dense-block path).
- SimHash: 16-bit signature from per-token md5 bit votes, then hamming
  distance <= 3 over candidate pairs. md5 (not Spark's murmur) keeps the
  oracle bit-identical; at production scale swap in xxhash64 for speed and
  64-bit signatures with banding.
- MinHash+LSH: k=16 signatures via seeded xxhash64, banded 4x4; candidate
  pairs from band-bucket joins, verified by true Jaccard. Spark-hash based →
  rows-only check (no DuckDB twin), exactly the SURVEY §5 carve-out.

Candidate pairs (prefix filtering, MinHash) are verified by one kernel,
`_verify_pairs_arrays`: packed distinct-token arrays and `array_intersect`,
never an explode of the token rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import gated_broadcast, load_table, table_rowcount
from ..plans.registry import register, track_persist

# --- shared oracle CTEs over documents --------------------------------------

_TOKENS_CTE = """
    tokens_raw AS (
      SELECT doc_id, lang, n_chars,
             unnest(string_split(text, ' ')) AS token
      FROM documents),
    tokens AS (SELECT * FROM tokens_raw WHERE token <> ''),
    tok_d AS (SELECT DISTINCT doc_id, lang,
                     CAST(FLOOR(n_chars / 50.0) AS BIGINT) AS bucket, token
              FROM tokens),
    tok_sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM tok_d GROUP BY doc_id)
"""


def _tokens_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", "n_chars",
        F.explode(F.split("text", " ")).alias("token"),
    ).filter(F.col("token") != "")
    return t


def _tok_d_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, token) pairs with blocking attributes and the
    per-doc set size, all computed per-ROW (r15, guide §2.4): each document
    is ONE row, so its distinct token set is `array_distinct` over the
    split -- the dedup needs no shuffle at all -- and lang/bucket/n_tok
    ride along from the same row, so the old attribute re-join (and its
    size-gated broadcast) disappears too. The r14-audited plan built the
    explode -> distinct-exchange -> attr-join subtree FOUR times inside
    x1_dedup_jaccard_ngram (a side, b side, and both size relations);
    this shape has zero exchanges, so even un-reused repetition costs only
    a scan+explode. ``n_tok`` = size of the distinct set, emitted here
    because it is free per-row and lets consumers resolve Jaccard set
    sizes with an aggregate instead of two corpus-wide size builds + two
    sort-merge joins of the pair relation."""
    docs = load_table(spark, sf_dir, "documents")
    arr = F.array_distinct(F.filter(F.split("text", " "), lambda x: x != ""))
    return (docs
            .select("doc_id", "lang",
                    F.floor(F.col("n_chars") / 50.0).cast("long")
                     .alias("bucket"),
                    arr.alias("_toks"))
            .select("doc_id", "lang", "bucket",
                    F.size("_toks").cast("long").alias("n_tok"),
                    F.explode("_toks").alias("token")))


@register(
    "x1_dedup_exact",
    oracle="""
    SELECT sha256(text) AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY sha256(text)
    """,
)
def x1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy with min-id representative. sha2 is
    computed map-side; the shuffle key is the 64-hex hash (uniform, no
    skew)."""
    docs = load_table(spark, sf_dir, "documents")
    return (docs.groupBy(F.sha2("text", 256).alias("content_hash"))
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count(F.lit(1)).alias("n_copies")))


_JACCARD_ORACLE = f"""
    WITH {_TOKENS_CTE},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM tok_d a JOIN tok_d b
        ON a.token = b.token AND a.lang = b.lang AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - i.n_inter) AS jaccard
    FROM inter i
    JOIN tok_sizes sa ON i.doc_a = sa.doc_id
    JOIN tok_sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - i.n_inter) >= 0.8
    """


@register("x1_dedup_jaccard_ngram", oracle=_JACCARD_ORACLE)
def x1_dedup_jaccard_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup via token-set Jaccard >= 0.8, inverted-index join blocked on
    (lang, 50-char length bucket). Intersection counts fall directly out of
    the token join's groupBy -- optimal when matches are DENSE, as in this
    corpus (40-word vocabulary => ~1% of all pairs are near-dups, so any
    candidate-pruning scheme still pays full verification). For sparse-match
    corpora, the lossless pruned variant below is the scale path.

    The result is track_persist'ed: SEVEN graph-composition faces
    (components x2, pagerank x2, keep-best, keeplist, rank-equiv) consume
    this pair relation through `_jaccard_pairs` (the memoized registry
    path), so one build per (session, sf_dir) serves them all -- the r10
    measurement showed each face re-paying the ~5 s inverted-index build
    was the real cold cost, not the components fixpoint. The persisted
    relation is near-dup-sized (pairs, not the corpus), MEMORY_AND_DISK,
    and released by the registry memo's eviction like every other hoisted
    sub-relation."""
    return track_persist(_jaccard_ngram_from(_tok_d_df(spark, sf_dir)))


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SHARED near-dup pair relation: routes through the registry's
    memoized builder so every graph face reuses the same persisted
    DataFrame instead of rebuilding the pair lineage per face."""
    from ..plans import registry
    return registry.QUERIES["x1_dedup_jaccard_ngram"](spark, sf_dir)


def _jaccard_ngram_from(tok: DataFrame) -> DataFrame:
    """Inverted-index Jaccard plan over a prepared distinct
    (doc_id, lang, bucket, n_tok, token) relation (shared with the
    derived-corpus auto-selector face).

    r15: set sizes resolve INSIDE the intersection aggregate -- ``n_tok``
    is constant within each (doc_a, doc_b) group because it rides every
    token row of its doc (min() just picks that constant) -- so the two
    corpus-wide size builds and the two sort-merge joins re-shuffling the
    pair relation on doc_a/doc_b are gone (r14-audited plan: 8 Exchange,
    4 of them for exactly this)."""
    a = tok.alias("a")
    b = tok.alias("b")
    inter = (
        a.join(b, (F.col("a.token") == F.col("b.token"))
               & (F.col("a.lang") == F.col("b.lang"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"),
             F.min(F.col("a.n_tok")).alias("na"),
             F.min(F.col("b.n_tok")).alias("nb"))
    )
    j = inter.withColumn(
        "jaccard", F.col("n_inter").cast("double")
        / (F.col("na") + F.col("nb") - F.col("n_inter")))
    return j.filter(F.col("jaccard") >= 0.8).select("doc_a", "doc_b", "jaccard")


@register("x1_dedup_jaccard_prefix", oracle=_JACCARD_ORACLE)
def x1_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard >= 0.8 near-dup with EXACT df-based prefix filtering
    (PPJoin-style) -- the df-based stopword pruning promised in the module
    docstring, made lossless: tokens are globally ordered by ascending
    document frequency and only each doc's ``n - ceil(0.8*n) + 1`` rarest
    tokens enter the candidate index. Any pair with J >= 0.8 shares its
    smallest common token inside BOTH prefixes (the suffix is shorter than
    the guaranteed overlap t*|x| <= O), so candidate generation loses
    nothing; the hottest (stopword-like) tokens never hit the quadratic
    join. Candidates are then verified against full token sets by
    `_verify_pairs_arrays`, the packed-array verifier the MinHash faces
    use: each side's distinct-token array joins the candidate pair once
    and `array_intersect` counts the overlap in place, so no token rows
    reach the verify joins and no per-(pair, token) aggregate runs.

    Same results and oracle as x1_dedup_jaccard_ngram. At 100 TB with a
    Zipfian vocabulary and sparse matches this is the right shape (the
    inverted index shrinks ~5x and hot tokens vanish); on this corpus's
    dense-match pathology the naive join wins because verification
    dominates -- both are registered so the tradeoff is measured, not
    assumed. ``n_tok`` rides every token row out of `_tok_d_df`, so the
    prefix-length filter reads it in place."""
    from pyspark.sql import Window

    tok = _tok_d_df(spark, sf_dir)
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    ranked = (tok.join(dfreq, "token")
              .withColumn("rk", F.row_number().over(
                  Window.partitionBy("doc_id").orderBy("df", "token"))))
    # prefix length = n - ceil(0.8n) + 1, in exact integer arithmetic
    # (double 0.8*n rounds UP at n=5k and would silently shrink the prefix)
    pref = (ranked
            .filter(F.col("rk") <= F.col("n_tok")
                    - F.expr("CAST((4*n_tok + 4) DIV 5 AS BIGINT)") + 1)
            .select("doc_id", "lang", "bucket", "token"))
    a, b = pref.alias("a"), pref.alias("b")
    cand = (a.join(b, (F.col("a.token") == F.col("b.token"))
                   & (F.col("a.lang") == F.col("b.lang"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    return _verify_pairs_arrays(load_table(spark, sf_dir, "documents"), cand)


@register("x1_dedup_jaccard_blockpairs", oracle=_JACCARD_ORACLE)
def x1_dedup_jaccard_blockpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard >= 0.8 near-dup as a blocked PAIR join over packed token-set
    arrays: docs shuffle once on (lang, length-bucket), pairs form block-
    locally, and the intersection is a JVM-side array_intersect on the two
    sorted token arrays -- no token explode, no quadratic join OUTPUT
    through a shuffle, no groupBy at all.

    Third physical strategy on the shared oracle. Cost model: the inverted
    index (x1_dedup_jaccard_ngram) moves O(sum over tokens of block-pair
    matches) rows through a shuffle + hash agg -- on a DENSE-match corpus
    that is ~|vocab| rows PER PAIR. This plan moves each doc's token array
    exactly once and pays O(|a|+|b|) per pair in-line, so it wins precisely
    where the corpus is dense; with sparse matches and big blocks the m^2
    pair enumeration loses to the index. Dense -> blockpairs, sparse ->
    prefix, default -> ngram; all three are measured, not assumed."""
    docs = load_table(spark, sf_dir, "documents")
    sets = docs.select(
        "doc_id", "lang",
        F.floor(F.col("n_chars") / 50.0).cast("long").alias("bucket"),
        F.array_sort(F.array_distinct(
            F.filter(F.split("text", " "), lambda w: w != ""))).alias("toks"))
    return _jaccard_blockpairs_from(sets)


def _jaccard_blockpairs_from(sets: DataFrame) -> DataFrame:
    """Blocked pair-join Jaccard plan over a prepared
    (doc_id, lang, bucket, toks sorted-distinct array) relation (shared
    with the derived-corpus auto-selector face)."""
    a, b = sets.alias("a"), sets.alias("b")
    pairs = (a.join(b, (F.col("a.lang") == F.col("b.lang"))
                    & (F.col("a.bucket") == F.col("b.bucket"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.size(F.array_intersect("a.toks", "b.toks"))
                      .alias("n_inter"),
                     F.size("a.toks").alias("na"),
                     F.size("b.toks").alias("nb")))
    jac = (F.col("n_inter").cast("double")
           / (F.col("na") + F.col("nb") - F.col("n_inter")))
    return (pairs.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= 0.8)
            .select("doc_a", "doc_b", "jaccard"))


@register("x1_dedup_jaccard_auto", oracle=_JACCARD_ORACLE)
def x1_dedup_jaccard_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based selection between the two exact Jaccard strategies, with
    the cost model CALIBRATED BY MEASUREMENT (tools/scale_probe.py /
    SCALE_PROBE.md): the inverted-index join (x1_dedup_jaccard_ngram)
    shuffles ~sum_t c_t(c_t-1)/2 token-match rows (c_t = docs per token
    within a block) and scales near-linearly with corpus replication; the
    blocked pair join (x1_dedup_jaccard_blockpairs) enumerates
    ~sum_b m_b(m_b-1)/2 pairs (m_b = docs per block) paying O(avg tokens)
    per pair in array_intersect, and goes QUADRATIC once blocks grow (at
    30x replication: 147 s vs the index join's 20 s). One cheap stats pass
    over the token relation computes both estimates; the cheaper plan
    runs. Same oracle as both strategies. EAGER AT BUILD: planning runs
    the two-aggregate stats job (bounded by the token-distinct shuffle the
    chosen plan needs anyway); the registry memo bounds it to once per
    (session, sf_dir, snapshot)."""
    if _jaccard_auto_choice(spark, sf_dir) == "blockpairs":
        return x1_dedup_jaccard_blockpairs(spark, sf_dir)
    return _jaccard_pairs(spark, sf_dir)


@register(
    "x1_dedup_jaccard_auto_dense",
    oracle="""
    WITH rep AS (
      SELECT lang, CAST(FLOOR(n_chars / 400.0) AS BIGINT) AS bucket,
             min_by(text, doc_id) AS rtext
      FROM documents WHERE n_chars >= 400 GROUP BY 1, 2),
    dense AS (
      SELECT d.doc_id, d.lang,
             CAST(FLOOR(d.n_chars / 400.0) AS BIGINT) AS bucket,
             r.rtext AS text
      FROM documents d
      JOIN rep r ON d.lang = r.lang
                AND CAST(FLOOR(d.n_chars / 400.0) AS BIGINT) = r.bucket
      WHERE d.n_chars >= 400),
    tok_d AS (
      SELECT DISTINCT doc_id, lang, bucket, token FROM (
        SELECT doc_id, lang, bucket,
               unnest(string_split(text, ' ')) AS token FROM dense)
      WHERE token <> ''),
    tok_sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM tok_d GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM tok_d a JOIN tok_d b
        ON a.token = b.token AND a.lang = b.lang AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - i.n_inter) AS jaccard
    FROM inter i
    JOIN tok_sizes sa ON i.doc_a = sa.doc_id
    JOIN tok_sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - i.n_inter) >= 0.8
    """,
)
def x1_dedup_jaccard_auto_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The auto-selector's BLOCKPAIRS branch exercised under the oracle
    gate (VERDICT r7 item 7: the cost model was pytest-pinned to choose
    correctly, but no gate run had ever executed the blockpairs branch
    through the auto face).

    Corpus: the boilerplate-flood worst case, derived from real data --
    every SUBSTANTIAL document (n_chars >= 400) carries its
    (lang, coarse-length-bucket) block REPRESENTATIVE's text (min-doc_id;
    the template-stamped shape where one boilerplate fills whole blocks),
    while sub-minimum documents are exempt from pairing (singleton blocks
    keyed by their own doc_id -- the standard min-length dedup gate) but
    stay in the corpus the planner's stats pass scans. Dense long blocks
    put ~35 matched tokens behind every candidate pair where the corpus
    averages ~25 tokens/doc, so the measured cost model picks the pair
    join STRICTLY (idx/pair = 1.15-1.24x at sf0.001/0.01/0.1), not on the
    tie rule. The choice is asserted here -- a corpus drift that flips it
    fails loudly rather than silently testing the wrong branch -- and
    pinned in test_jaccard_auto.py. The oracle omits the exempt singleton
    docs: blockless by construction, they cannot produce a pair on either
    engine."""
    docs = load_table(spark, sf_dir, "documents")
    long = docs.filter(F.col("n_chars") >= 400).select(
        "doc_id", "lang",
        F.floor(F.col("n_chars") / 400.0).cast("long").alias("bucket"),
        "text")
    rep = (long.groupBy("lang", "bucket")
           .agg(F.min_by("text", "doc_id").alias("rtext")))
    dense = (long.join(F.broadcast(rep), ["lang", "bucket"])
             .select("doc_id", "lang", "bucket",
                     F.col("rtext").alias("text")))
    exempt = docs.filter(F.col("n_chars") < 400).select(
        "doc_id", "lang",
        (-(F.col("doc_id") + 1)).cast("long").alias("bucket"), "text")
    d = dense.unionByName(exempt)
    toks_arr = F.array_sort(F.array_distinct(
        F.filter(F.split("text", " "), lambda w: w != "")))
    tok = d.select("doc_id", "lang", "bucket",
                   F.explode(toks_arr).alias("token"))
    choice = _jaccard_choice_over(tok)
    if choice != "blockpairs":
        raise AssertionError(
            f"dense twin-block corpus must select blockpairs, got {choice}")
    return _jaccard_blockpairs_from(
        d.select("doc_id", "lang", "bucket", toks_arr.alias("toks")))


def _jaccard_auto_choice(spark: SparkSession, sf_dir: str) -> str:
    """The auto-selector's cost model over the standard corpus, exposed so
    tests can pin WHICH branch a given corpus shape selects (VERDICT r3
    item 6)."""
    return _jaccard_choice_over(_tok_d_df(spark, sf_dir))


def _jaccard_choice_over(tok: DataFrame) -> str:
    """Cost model over any prepared (doc_id, lang, bucket, token) relation.
    Tie rule: at equal estimated row volume the PAIR join is preferred --
    it moves each doc's packed array exactly once and needs no hash
    aggregation, where the index moves one row per matched token and pays
    a corpus-wide groupBy; equality happens exactly at full block density
    (every token present in every doc of its block), which is the
    boilerplate-flood shape the pair join is built for."""
    [ts] = (tok.groupBy("lang", "bucket", "token")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("idx_rows"),
                 F.sum("c").alias("n_tok_rows")).collect())
    [bs] = (tok.select("doc_id", "lang", "bucket").distinct()
            .groupBy("lang", "bucket")
            .agg(F.count(F.lit(1)).alias("m"))
            .agg(F.sum(F.col("m") * (F.col("m") - 1) / 2).alias("blk_pairs"),
                 F.sum("m").alias("n_docs")).collect())
    idx_cost = float(ts["idx_rows"] or 0.0)
    avg_tok = float(ts["n_tok_rows"] or 0) / max(float(bs["n_docs"] or 1), 1.0)
    pair_cost = float(bs["blk_pairs"] or 0.0) * avg_tok
    return "blockpairs" if pair_cost <= idx_cost else "ngram"


def _md5_int_sql(expr: str, engine: str) -> str:
    """Portable 32-bit integer hash: first 8 hex digits of md5. Identical in
    Spark and DuckDB, unlike murmur/xxhash."""
    if engine == "spark":
        return f"CAST(conv(substr(md5({expr}), 1, 8), 16, 10) AS BIGINT)"
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


_SIMHASH_BITS = 16


def _simhash_sql(engine: str) -> str:
    """sum over bits of (majority vote of token-hash bit i) << i."""
    h = "tok_hash"
    parts = []
    for i in range(_SIMHASH_BITS):
        bit = (f"(shiftright({h}, {i}) & 1)" if engine == "spark"
               else f"(({h} >> {i}) & 1)")
        vote = f"SUM(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END)"
        parts.append(f"(CASE WHEN {vote} >= 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(parts)


@register(
    "x1_dedup_simhash",
    oracle=f"""
    WITH {_TOKENS_CTE},
    hashed AS (
      SELECT doc_id, {_md5_int_sql('token', 'duck')} AS tok_hash FROM tok_d),
    sigs AS (
      SELECT doc_id, {_simhash_sql('duck')} AS simhash
      FROM hashed GROUP BY doc_id)
    SELECT simhash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_docs
    FROM sigs GROUP BY simhash
    """,
)
def x1_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash bucket dedup: md5-derived 16-bit signatures; documents that
    collide on the full signature are near-dup candidates, deduped to a
    min-id representative (same shape as exact dedup, fuzzier key). The
    signature build is one aggregation over the token explode; the dedup is
    a second tiny groupBy on the signature."""
    tok = _tok_d_df(spark, sf_dir)
    hashed = tok.select("doc_id", F.expr(_md5_int_sql("token", "spark")).alias("tok_hash"))
    sigs = hashed.groupBy("doc_id").agg(F.expr(_simhash_sql("spark")).alias("simhash"))
    return sigs.groupBy("simhash").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_docs"))


_MINHASH_K = 16
_LSH_BANDS = 4  # 4 bands x 4 rows


def _verify_pairs_arrays(docs: DataFrame, cand: DataFrame) -> DataFrame:
    """True-Jaccard verification of (doc_a, doc_b) candidate pairs against
    a (doc_id, text) relation, row-local: attach each side's PACKED
    distinct-token array, `array_intersect` in place, emit pairs with
    J >= 0.8. Replaces the explode-verify (distinct token relation + a
    per-(pair, token) join + per-pair hash aggregate + two size joins --
    four exchanges of token rows) with two candidate-sized array joins and
    zero post-join aggregation (guide §2.3: shuffle the decision bytes,
    not one row per token). Identical output: n_inter/|a|/|b| are the same
    integers, the jaccard division the same IEEE op."""
    d = docs.select(
        "doc_id",
        F.array_distinct(F.filter(F.split("text", " "), lambda x: x != ""))
         .alias("toks"))
    j = (cand
         .join(d.select(F.col("doc_id").alias("doc_a"),
                        F.col("toks").alias("ta")), "doc_a")
         .join(d.select(F.col("doc_id").alias("doc_b"),
                        F.col("toks").alias("tb")), "doc_b")
         .withColumn("n_inter", F.size(F.array_intersect("ta", "tb")))
         .withColumn("jaccard",
                     F.col("n_inter").cast("double")
                     / (F.size("ta") + F.size("tb") - F.col("n_inter"))))
    return (j.filter(F.col("jaccard") >= 0.8)
            .select("doc_a", "doc_b", "jaccard"))


@register("x1_dedup_minhash_lsh")  # Spark-hash based => rows-only check
def x1_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup (scale path): k=16 xxhash64 minima → 4 bands of
    4 → band-bucket join → candidates verified by true Jaccard >= 0.8.

    This is the 100 TB shape: signature build is a pure per-row MAP (r7:
    the stateless array-function banding shared with the streaming face
    -- pinned token-for-token equal to the old explode+groupBy-min
    derivation in pytest -- replaced the signature stage's full
    token-row shuffle with zero shuffles); candidate generation shuffles
    on (band, bucket-hash) instead of all-pairs. xxhash64 is JVM-side
    and fast but not reproducible in DuckDB, so the driver records the
    weaker rows-only check (SURVEY §5).

    Verification (r14 optimization, guide §2.3 "shuffle keys and metadata
    instead of payloads"): true Jaccard per candidate pair comes from
    `array_intersect` over the two docs' PACKED distinct-token arrays --
    the old explode-verify shipped one row per (pair, shared token) into a
    per-pair hash aggregate plus a distinct (doc, token) relation build
    (four exchanges of token rows); attaching the packed arrays moves the
    same token bytes in two candidate-sized joins and computes the
    intersection row-local."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Materialize the signature relation ONCE (doc_count x bands narrow
    # rows): it feeds the frequent-bucket agg AND both self-join sides, and
    # without the checkpoint the 16-hash signature map re-evaluates three
    # times. At 100 TB this is the write-signatures-once design -- the
    # banded relation is the thing you'd persist to a stage table.
    buckets = minhash_band_buckets(docs).localCheckpoint()
    # Frequent-bucket pruning: a bucket holding >50 docs is non-discriminative
    # (this corpus's 40-word vocabulary makes most docs collide) and would
    # blow the candidate join up toward all-pairs; cap it. At scale this is
    # the standard LSH skew guard -- tune the cap to the recall target.
    small = (buckets.groupBy("band", "bucket")
             .agg(F.count(F.lit(1)).alias("n"))
             .filter((F.col("n") > 1) & (F.col("n") <= 50))
             .select("band", "bucket"))
    buckets = buckets.join(F.broadcast(small), ["band", "bucket"])
    cand = (buckets.alias("a").join(
                buckets.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    # verify candidates with true Jaccard: packed-array intersection
    return _verify_pairs_arrays(docs, cand)


def minhash_band_buckets(docs: DataFrame) -> DataFrame:
    """STATELESS per-row MinHash banding: (doc_id, band, bucket) from
    (doc_id, text) with no token explode, no groupBy, no shuffle -- the
    EXACT signature family of x1_dedup_minhash_lsh (k=16 minima of
    xxhash64(k, token) over the distinct token set, 4 bands of 4,
    band id = position in the band array), computed with array functions
    so it also runs on a STREAMING DataFrame. Pinned equal to the
    groupBy derivation in tests/test_streaming.py; shared by the live
    streaming near-dup face (streaming/dedup_stream.py)."""
    toks = F.array_distinct(
        F.filter(F.split("text", " "), lambda w: w != ""))
    d = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)

    def hash_with(k: int):
        # a closure factory, NOT a default-arg lambda: F.transform treats
        # any TWO-parameter callable as an (element, index) lambda, so
        # `lambda t, _k=k` would silently receive the array index as _k
        # and hash every k identically
        return lambda t: F.xxhash64(F.lit(k), t)

    mins = [F.array_min(F.transform("toks", hash_with(k)))
            .alias(f"h{k}") for k in range(_MINHASH_K)]
    sigs = d.select("doc_id", *mins)
    rows_per_band = _MINHASH_K // _LSH_BANDS
    band_cols = [
        F.xxhash64(*[F.col(f"h{b * rows_per_band + r}")
                     for r in range(rows_per_band)]).alias(f"band{b}")
        for b in range(_LSH_BANDS)]
    banded = sigs.select("doc_id", *band_cols)
    return banded.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"band{b}")
                               for b in range(_LSH_BANDS)]))
         .alias("band", "bucket"))


_LSH_MD5_CAP = 50  # same frequent-bucket guard as the xxhash face


@register(
    "x1_dedup_minhash_lsh_md5",
    oracle=f"""
    WITH {_TOKENS_CTE},
    seeds AS (SELECT unnest(range(0, {_MINHASH_K})) AS i),
    sig AS (
      SELECT doc_id, i,
             MIN({_md5_int_sql("token || ':' || CAST(i AS VARCHAR)", 'duck')})
               AS mh
      FROM tok_d, seeds GROUP BY doc_id, i),
    bands AS (
      SELECT doc_id, i // {_MINHASH_K // _LSH_BANDS} AS band,
             string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS key
      FROM sig GROUP BY doc_id, i // {_MINHASH_K // _LSH_BANDS}),
    good AS (
      SELECT band, key FROM bands GROUP BY band, key
      HAVING COUNT(*) BETWEEN 2 AND {_LSH_MD5_CAP}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN good g ON a.band = g.band AND a.key = g.key
      JOIN bands b ON a.band = b.band AND a.key = b.key
                  AND a.doc_id < b.doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN tok_d ta ON ta.doc_id = c.doc_a
      JOIN tok_d tb ON tb.doc_id = c.doc_b AND tb.token = ta.token
      GROUP BY c.doc_a, c.doc_b)
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - i.n_inter)
             AS jaccard
    FROM inter i
    JOIN tok_sizes sa ON i.doc_a = sa.doc_id
    JOIN tok_sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - i.n_inter) >= 0.8
    """,
)
def x1_dedup_minhash_lsh_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH with the PORTABLE md5 hash family -- the oracle-backed
    twin of `x1_dedup_minhash_lsh` (r8): same pipeline end to end (k=16
    seeded minima over the distinct token set, 4 bands of 4, band-bucket
    candidate join with the 2..50 bucket guard, true-Jaccard >= 0.8
    verification), but every hash is the first-8-hex-digits-of-md5
    integer DuckDB reproduces bit-for-bit, so the ENTIRE LSH pipeline --
    signature build, banding, frequent-bucket cap, candidate set, and
    verification -- is value-hash-checked by the gate instead of the
    rows-only carve-out. The xxhash64 face stays registered as the fast
    path (JVM xxhash is ~5x cheaper than md5); this face is the family's
    correctness anchor, exactly like the decimal anchor in X2.

    Signature build is the same STATELESS per-row map as the fast face
    (array transform + array_min, zero shuffles); band keys are the
    '-'-joined minima in seed order (a string both engines render
    identically for 32-bit non-negative ints)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.array_distinct(
        F.filter(F.split("text", " "), lambda w: w != ""))
    d = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)

    def mh(i: int):
        # closure factory (not a default-arg lambda): F.transform binds
        # any two-parameter callable as (element, index)
        def h(t):
            return F.conv(
                F.substring(F.md5(F.concat(t, F.lit(f":{i}"))), 1, 8),
                16, 10).cast("bigint")
        return F.array_min(F.transform("toks", h))

    rows_per_band = _MINHASH_K // _LSH_BANDS
    band_cols = [
        F.concat_ws("-", *[mh(b * rows_per_band + r).cast("string")
                           for r in range(rows_per_band)]).alias(f"k{b}")
        for b in range(_LSH_BANDS)]
    banded = d.select("doc_id", *band_cols)
    # Materialized once: the 16-md5-per-token signature map otherwise
    # re-evaluates for the bucket-cap agg and BOTH self-join sides (3x the
    # dominant cost of this face). Same write-signatures-once shape as the
    # xxhash fast path.
    buckets = banded.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"k{b}")
                               for b in range(_LSH_BANDS)]))
         .alias("band", "key")).localCheckpoint()
    good = (buckets.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter((F.col("n") > 1) & (F.col("n") <= _LSH_MD5_CAP))
            .select("band", "key"))
    buckets = buckets.join(F.broadcast(good), ["band", "key"])
    cand = (buckets.alias("a").join(
                buckets.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    # verify candidates with true Jaccard: packed-array intersection (r14,
    # guide §2.3 -- see _verify_pairs_arrays; output-identical, and the
    # shared oracle re-proves it)
    return _verify_pairs_arrays(docs, cand)


_BLOCK_UF_MAX_PAIRS = 5_000_000  # per-block pair bound for the single-task
#   union-find: ~80 MB of int64 edge arrays per Arrow batch -- comfortably
#   inside one task; a block above it falls back to the distributed
#   star-contraction kernel rather than risking task memory


def blocked_components(spark: SparkSession, sf_dir: str,
                       pairs: DataFrame) -> DataFrame:
    """Connected components of the near-dup pair graph, exploiting the
    generator's BLOCKING INVARIANT: `_tok_d_df`'s inverted-index join only
    ever pairs documents sharing (lang, floor(n_chars/50)), so components
    can never span blocks -- which turns the multi-round distributed
    fixpoint into ONE applyInPandas union-find per block (a single shuffle
    of the near-dup-sized pair relation on the block key, where star
    contraction pays a checkpointed round per contraction step). Labels
    are the component-minimum doc_id, identical to
    `star_contraction_components`, so every downstream oracle is
    unchanged.

    100 TB: per-task work is bounded by the largest BLOCK's pair count,
    not the corpus -- blocks are (lang x length-bucket) shards whose pair
    volume the Jaccard generator already had to materialize. One cheap
    pre-check aggregate over the pair relation decides BOTH guards
    (ADVICE r10): a corpus whose largest block exceeds
    _BLOCK_UF_MAX_PAIRS, or a caller-passed pair graph with ANY
    cross-block edge (i.e. the blocking invariant this shortcut needs
    does not actually hold -- embedding/semantic pairs, say), falls back
    to `star_contraction_components`, the one general kernel (behind the
    registered `x1_dedup_components`/`_star` faces).

    Returns (node_id, component_id) for EVERY document (singletons label
    themselves; pairs with a NULL endpoint are dropped), same contract as
    `star_contraction_components`."""
    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    attrs = docs.select(
        "doc_id", "lang",
        F.floor(F.col("n_chars") / 50.0).cast("long").alias("bucket"))
    # per-document attribute relation: size-gated hints, same as _tok_d_df
    n_docs = table_rowcount(spark, sf_dir, "documents")
    blocked = (pairs.select("doc_a", "doc_b")
               .join(gated_broadcast(
                   attrs.select(F.col("doc_id").alias("doc_a"),
                                "lang", "bucket"), n_docs), "doc_a")
               .join(gated_broadcast(
                   attrs.select(F.col("doc_id").alias("doc_b"),
                                F.col("lang").alias("lang_b"),
                                F.col("bucket").alias("bucket_b")),
                   n_docs), "doc_b"))
    # One pre-check aggregate decides BOTH guards (ADVICE r10: the block-
    # size bound alone does not validate the blocking INVARIANT this
    # kernel depends on -- a caller passing a non-blocked pair graph, e.g.
    # embedding/semantic pairs, would get silently split cross-block
    # components). Cross-block endpoints or an over-bound block both fall
    # back to the general distributed kernel; the doc_b attr join rides
    # the shuffle the size check already paid.
    cross = ((F.col("lang") != F.col("lang_b"))
             | (F.col("bucket") != F.col("bucket_b"))).cast("long")
    [g] = (blocked.groupBy("lang", "bucket")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(cross).alias("x"))
           .agg(F.max("n").alias("mx"), F.sum("x").alias("n_cross"))
           .collect())
    if (g["n_cross"] or 0) > 0 or (g["mx"] or 0) > _BLOCK_UF_MAX_PAIRS:
        return star_contraction_components(docs.select("doc_id"), pairs)
    blocked = blocked.select("doc_a", "doc_b", "lang", "bucket")

    def uf(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = np.unique(np.concatenate([pdf["doc_a"].to_numpy(),
                                        pdf["doc_b"].to_numpy()]))
        pos = {int(v): i for i, v in enumerate(ids)}
        parent = np.arange(len(ids))

        def find(i: int) -> int:
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        for a, b in zip(pdf["doc_a"], pdf["doc_b"]):
            ra, rb = find(pos[int(a)]), find(pos[int(b)])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        roots = np.fromiter((find(i) for i in range(len(ids))),
                            dtype=np.int64)
        # ids are sorted ascending, so the root INDEX minimum is the
        # minimum doc_id of the component -- the oracle's label
        return pd.DataFrame({"node_id": ids, "component_id": ids[roots]})

    linked = (blocked.groupBy("lang", "bucket")
              .applyInPandas(uf, "node_id long, component_id long"))
    return (docs.select(F.col("doc_id").alias("node_id"))
            .join(linked, "node_id", "left")
            .select("node_id",
                    F.coalesce("component_id", "node_id")
                     .alias("component_id")))


# Shared by both connected-components face names (x1_dedup_components and
# x1_dedup_components_star build the same star-contraction plan): per-cluster
# canonical ids over the Jaccard >= 0.8 pair graph, via recursive
# reachability + MIN.
_COMPONENTS_ORACLE = f"""
    WITH RECURSIVE {_TOKENS_CTE},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM tok_d a JOIN tok_d b
        ON a.token = b.token AND a.lang = b.lang AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN tok_sizes sa ON i.doc_a = sa.doc_id
      JOIN tok_sizes sb ON i.doc_b = sb.doc_id
      WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - i.n_inter) >= 0.8),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
    comp AS (SELECT src AS doc_id, MIN(dst) AS component_id
             FROM reach GROUP BY src)
    SELECT component_id, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM comp GROUP BY component_id
    """


@register("x1_dedup_components", oracle=_COMPONENTS_ORACLE)
def x1_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: connected components over the Jaccard >= 0.8
    pair graph, so each duplicate cluster gets one canonical id (min doc_id)
    -- the step that turns pairwise near-dup hits into actual corpus dedup
    decisions at scale.

    Spark side is `star_contraction_components`, the one general
    connected-components kernel (O(log n) rounds whatever the chain
    depth); `x1_dedup_components_star` is the same plan under its
    original name. The DuckDB twin computes the same components via
    recursive reachability + MIN."""
    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    comp = star_contraction_components(docs, pairs)
    return (comp.groupBy("component_id")
            .agg(F.count(F.lit(1)).alias("n_docs")))


@register(
    "x1_dedup_keep_best_quality",
    oracle=f"""
    WITH RECURSIVE {_TOKENS_CTE},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM tok_d a JOIN tok_d b
        ON a.token = b.token AND a.lang = b.lang AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN tok_sizes sa ON i.doc_a = sa.doc_id
      JOIN tok_sizes sb ON i.doc_b = sb.doc_id
      WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - i.n_inter) >= 0.8),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
    comp AS (SELECT src AS doc_id, MIN(dst) AS component_id
             FROM reach GROUP BY src),
    quality AS (
      SELECT doc_id,
             ROUND(CASE WHEN len >= 200 THEN 1.0 ELSE len / 200 END * 0.5
                   + CASE WHEN n_tokens >= 40 THEN 1.0
                          ELSE CAST(n_tokens AS DOUBLE) / 40 END * 0.5,
                   6) AS quality
      FROM (SELECT doc_id,
                   CAST(length(text) - length(replace(text, ' ', '')) + 1
                        AS BIGINT) AS n_tokens,
                   CAST(length(text) AS DOUBLE) AS len
            FROM documents)),
    ranked AS (
      SELECT c.component_id, c.doc_id, q.quality,
             ROW_NUMBER() OVER (PARTITION BY c.component_id
                                ORDER BY q.quality DESC, c.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY c.component_id) AS n_docs
      FROM comp c JOIN quality q ON c.doc_id = q.doc_id)
    SELECT component_id, doc_id AS keep_doc_id, quality AS best_quality,
           CAST(n_docs AS BIGINT) AS n_docs
    FROM ranked WHERE rn = 1
    """,
)
def x1_dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup canonicalization (r8): per near-dup cluster,
    KEEP THE BEST document (highest x4_quality_score heuristic, min
    doc_id on ties) instead of an arbitrary min-id representative -- what
    production corpus dedup actually ships: duplicates differ in OCR
    noise, truncation, and boilerplate, and keeping the highest-quality
    member is the whole point of finding the cluster. Composes the
    Jaccard pair graph + the block-local union-find components kernel
    (`blocked_components` -- valid here because the pair generator blocks
    on (lang, length-bucket), so components never span blocks; star
    contraction in its place took this face's warm span in perfbench
    corpus_prep from 1.77 s to 2.72 s on a 4-vCPU box) with the portable
    saturating quality formula (identical in both engines, rounded at 6
    before ranking).

    Scale shape: everything up to components is the proven near-dup
    lineage (the pair relation itself persisted once per session via
    `_jaccard_pairs` and shared across all graph faces); the components
    pass is ONE shuffle of the pair relation on the block key; the
    selection is one quality join (map-side formula, no extra scan
    beyond documents) and a window PARTITIONED by component -- no global
    sort, no driver loop."""
    from pyspark.sql import Window

    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents")
    comp = blocked_components(spark, sf_dir, pairs)
    n_tokens = (F.length("text")
                - F.length(F.regexp_replace("text", " ", "")) + 1
                ).cast("long")
    length = F.length("text").cast("double")
    quality = (F.when(length >= 200, 1.0).otherwise(length / 200) * 0.5
               + F.when(n_tokens >= 40, F.lit(1.0))
                  .otherwise(n_tokens.cast("double") / 40) * 0.5)
    q = docs.select("doc_id", F.round(quality, 6).alias("quality"))
    joined = comp.select(F.col("node_id").alias("doc_id"),
                         "component_id").join(q, "doc_id")
    w = Window.partitionBy("component_id")
    ww = w.orderBy(F.desc("quality"), F.asc("doc_id"))
    return (joined
            .withColumn("rn", F.row_number().over(ww))
            .withColumn("n_docs", F.count(F.lit(1)).over(w))
            .filter(F.col("rn") == 1)
            .select("component_id", F.col("doc_id").alias("keep_doc_id"),
                    F.col("quality").alias("best_quality"),
                    F.col("n_docs").cast("long").alias("n_docs")))


def star_contraction_components(nodes: DataFrame, pairs: DataFrame,
                                max_rounds: int = 24) -> DataFrame:
    """Connected components by alternating large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond") -- the
    one general connected-components kernel of the engine (behind
    `x1_dedup_components`/`_star`, `x1_dedup_semantic_clusters`, the
    pagerank faces and `blocked_components`' fallback). Label propagation
    would need O(graph diameter) rounds (a chain of pairwise near-dups
    propagates one hop per round); star contraction converges in O(log n)
    rounds regardless of diameter, because every round rewires whole
    neighborhoods onto their minimum instead of moving labels one edge at
    a time.

    Each round is two edge rewrites, all shuffles on node id:
    - large-star: per node u, every LARGER neighbor v re-attaches to
      m = min(N(u) ∪ {u});
    - small-star: per node u (edges directed toward smaller ids), every
      smaller-or-equal neighbor and u itself attach to m.
    At the fixed point the edge set is exactly the star {(v, root)} per
    component. Convergence is detected with a scalar signature (edge count
    + xxhash sum), never a data collect; localCheckpoint truncates lineage
    per round. The round cap is pure headroom (covers n ~ 2^24 at the
    documented O(log n) rate) -- converged graphs exit at the signature
    check, so an unused cap costs nothing.

    ``nodes``: single-column node-id relation. ``pairs``: two-column
    undirected edge list; self-loops and rows with a NULL endpoint are
    dropped. Returns (node_id, component_id) for every node, with
    component_id = min node id of the component (a node without edges
    labels itself)."""
    node_col, (pa, pb) = nodes.columns[0], pairs.columns[:2]
    e = (pairs.select(F.col(pa).alias("u"), F.col(pb).alias("v"))
         .filter(F.col("u") != F.col("v")))
    e = (e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
         .distinct().localCheckpoint())
    prev_sig = None
    for _ in range(max_rounds):
        # large-star: group by u over the symmetric edge set
        mins = (e.groupBy("u").agg(F.min("v").alias("mv"))
                .select("u", F.least("u", "mv").alias("m")))
        large = (e.join(mins, "u")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .filter(F.col("u") != F.col("v")).distinct())
        # re-symmetrize for the next grouping
        ls = (large.unionByName(large.select(F.col("v").alias("u"),
                                             F.col("u").alias("v")))
              .distinct())
        # small-star: direct every edge toward the smaller id, group by the
        # larger endpoint, attach it and all its smaller neighbors to m
        directed = ls.filter(F.col("v") < F.col("u"))
        smins = (directed.groupBy("u").agg(F.min("v").alias("m")))
        att_nbrs = (directed.join(smins, "u")
                    .select(F.col("v").alias("u"), F.col("m").alias("v")))
        att_self = smins.select("u", F.col("m").alias("v"))
        small = (att_nbrs.unionByName(att_self)
                 .filter(F.col("u") != F.col("v")).distinct())
        e = (small.unionByName(small.select(F.col("v").alias("u"),
                                            F.col("u").alias("v")))
             .distinct().localCheckpoint())
        sig = tuple(e.agg(F.count(F.lit(1)),
                          F.sum(F.xxhash64("u", "v").cast("decimal(38,0)"))
                          ).first())
        if sig == prev_sig:
            break
        prev_sig = sig
    roots = e.filter(F.col("v") < F.col("u")).select(
        F.col("u").alias("node_id"), F.col("v").alias("component_id"))
    # stars guarantee one parent per non-root node; min() is a no-op guard
    roots = roots.groupBy("node_id").agg(F.min("component_id").alias("component_id"))
    return (nodes.select(F.col(node_col).alias("node_id"))
            .join(roots, "node_id", "left")
            .select("node_id",
                    F.coalesce("component_id", "node_id").alias("component_id")))


@register("x1_dedup_components_star", oracle=_COMPONENTS_ORACLE)
def x1_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering via large-star/small-star contraction -- the
    same plan and oracle as `x1_dedup_components` (both names stay
    registered). The kernel's agreement with `blocked_components` and its
    long-chain behaviour are pinned in pytest (test_corpus_prep.py)."""
    return x1_dedup_components(spark, sf_dir)


def _rank_graph(nodes: DataFrame,
                pairs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The PageRank input graph of an undirected pair list: (src, dst)
    with one row per undirected edge (a (b,a) duplicate of an (a,b) pair
    would double the degree and the matrix entries), and the linked-node
    relation (node_id) of every edge endpoint.

    Edges touching ids absent from ``nodes`` (e.g. pairs computed before
    a document filter) are dropped: a foreign endpoint would corrupt the
    closed form's dangling count (linked.count() > n => negative n_d).
    `pagerank_components` and `x1_graph_pagerank_rank_equiv` (which
    shares one components pass between two solver branches) both build
    their graph here."""
    node_col, (pa, pb) = nodes.columns[0], pairs.columns[:2]
    member = nodes.select(F.col(node_col).alias("src"))
    edges = (pairs.select(F.least(pa, pb).alias("src"),
                          F.greatest(pa, pb).alias("dst"))
             .filter(F.col("src") != F.col("dst"))
             .dropDuplicates(["src", "dst"])
             .join(member, "src", "left_semi")
             .join(member.withColumnRenamed("src", "dst"), "dst",
                   "left_semi"))
    linked = (edges.select(F.col("src").alias("node_id"))
              .unionByName(edges.select(F.col("dst").alias("node_id")))
              .distinct())
    return edges, linked


def pagerank_components(nodes: DataFrame, pairs: DataFrame,
                        damping: float = 0.85,
                        dense_limit: int = 4096,
                        local_tol: float = 1e-15,
                        comp: DataFrame | None = None) -> DataFrame:
    """CONVERGED PageRank over an undirected pair graph, exact to machine
    precision, in O(1) distributed passes after a components pass. A
    distributed power iteration cannot be the scale path (VERDICT r5
    item 4): its convergence rate IS the damping factor, so delta <
    1e-10 costs ~48 full-graph shuffle rounds at any scale, and no
    epsilon exit fixes that.

    Two structural facts let the whole fixed point be computed without
    global iteration:

    1. Dangling (edge-less) nodes receive no link mass, so their rank
       solves a SCALAR fixed point in closed form:
       r_d = (1-d)/(n - d*n_d), with total dangling mass D = n_d * r_d.
       Every other node then sees the constant teleport-plus-dangling
       inflow c = (1-d)/n + d*D/n.
    2. With D fixed, the remaining linear system (I - d*P^T) r = c*1
       decomposes PER CONNECTED COMPONENT -- and near-dup components are
       small (duplicate clusters, not the whole corpus). One
       star-contraction components pass (O(log n) rounds) keys each
       cluster, then one applyInPandas over component_id solves each
       cluster's system locally: dense numpy solve up to `dense_limit`
       nodes, local (in-memory, free) power iteration to `local_tol`
       above it.

    Distributed cost: the components kernel + ONE groupBy-apply shuffle
    on component_id -- versus 48 rounds x 3 shuffles for a distributed
    power iteration. A pathological giant component is bounded by
    `dense_limit` into the iterative-local branch and, like any
    groupBy-apply, by task memory; for dedup graphs (bounded cluster
    sizes) that is the right trade. Result: (node_id, rank), sum(rank)
    ~= 1; agreement with a run-to-convergence dense numpy reference is
    pinned in tests/test_differential.py."""
    import pandas as pd

    edges, linked = _rank_graph(nodes, pairs)
    n = nodes.count()
    base = nodes.select(F.col(nodes.columns[0]).alias("node_id"))
    if n == 0:
        return base.withColumn("rank", F.lit(0.0))
    n_d = n - linked.count()
    r_d = (1.0 - damping) / (n - damping * n_d)
    c = (1.0 - damping) / n + damping * (n_d * r_d) / n
    d = damping

    if comp is None:
        # callers holding a components relation for the same graph pass
        # it in (``comp``) to skip the O(log n)-round contraction --
        # the dominant cost of this function (r10: the rank-equiv face
        # runs two solver branches over ONE components pass)
        comp = star_contraction_components(linked, edges)
    e_lab = edges.join(comp.withColumnRenamed("node_id", "src"), "src")

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        ids = np.unique(np.concatenate([pdf["src"].to_numpy(),
                                        pdf["dst"].to_numpy()]))
        pos = {int(v): i for i, v in enumerate(ids)}
        m = len(ids)
        a = np.fromiter((pos[int(v)] for v in pdf["src"]), dtype=np.int64)
        b = np.fromiter((pos[int(v)] for v in pdf["dst"]), dtype=np.int64)
        deg = np.zeros(m)
        np.add.at(deg, a, 1.0)
        np.add.at(deg, b, 1.0)
        if m <= dense_limit:
            # (I - d*P^T) r = c*1 with P^T[i,j] = 1/deg[j] for j~i
            mat = np.eye(m)
            mat[b, a] -= d / deg[a]
            mat[a, b] -= d / deg[b]
            r = np.linalg.solve(mat, np.full(m, c))
        else:
            r = np.full(m, c / (1.0 - d))  # uniform-clique fixed point
            for _ in range(2000):
                contrib = np.zeros(m)
                np.add.at(contrib, b, r[a] / deg[a])
                np.add.at(contrib, a, r[b] / deg[b])
                new = c + d * contrib
                delta = np.abs(new - r).max()
                r = new
                if delta < local_tol:
                    break
        return pd.DataFrame({"node_id": ids, "rank": r})

    ranked = (e_lab.groupBy("component_id")
              .applyInPandas(solve, "node_id long, rank double"))
    dangling = (base.join(linked, "node_id", "left_anti")
                .withColumn("rank", F.lit(r_d)))
    return ranked.unionByName(dangling)


@register("x1_graph_pagerank")  # order-dependent float sums => rows-only
def x1_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality over the Jaccard >= 0.8 near-dup graph: within each
    duplicate cluster, the doc most strongly connected to the rest ranks
    highest -- a principled canonical-representative choice (vs min-id),
    and the corpus-curation use of PageRank. r6 (VERDICT r5 item 4):
    computes the CONVERGED ranks via `pagerank_components` (closed-form
    dangling mass + per-cluster exact solve after one star-contraction
    components pass) instead of a fixed-round distributed power
    iteration -- exact instead of truncated, and O(1) distributed passes
    instead of ~48 shuffle rounds. Rows-only: ranks are order-dependent
    float solves; numeric agreement with a dense numpy reference is
    pinned in tests/test_differential.py."""
    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pr = pagerank_components(docs, pairs)
    return (pr.select(F.col("node_id").alias("doc_id"),
                      F.round("rank", 12).alias("rank"))
            .orderBy(F.desc("rank"), F.asc("doc_id")))


_PAGERANK_STAR_ORACLE = """
    WITH g AS (
      SELECT doc_id, COALESCE(lang, '') AS lang, doc_id % 41 AS bucket
      FROM documents
    ),
    grp AS (
      SELECT lang, bucket, COUNT(*) AS m, MIN(doc_id) AS hub
      FROM g GROUP BY lang, bucket
    ),
    k AS (
      SELECT n, n_d,
             (1.0 - 0.85) / (n - 0.85 * n_d) AS r_d,
             (1.0 - 0.85) / n
               + 0.85 * (n_d * ((1.0 - 0.85) / (n - 0.85 * n_d))) / n AS c
      FROM (SELECT (SELECT COUNT(*) FROM g) AS n,
                   (SELECT COUNT(*) FROM grp WHERE m = 1) AS n_d)
    )
    SELECT g.doc_id,
           ROUND(CASE
             WHEN grp.m = 1 THEN k.r_d
             WHEN g.doc_id = grp.hub
               THEN k.c * (1.0 + 0.85 * (grp.m - 1)) / (1.0 - 0.85 * 0.85)
             ELSE k.c + 0.85 * (k.c * (1.0 + 0.85 * (grp.m - 1))
                                / (1.0 - 0.85 * 0.85)) / (grp.m - 1)
           END, 9) AS rank
    FROM g JOIN grp USING (lang, bucket) CROSS JOIN k
    ORDER BY g.doc_id
"""


@register("x1_graph_pagerank_star", oracle=_PAGERANK_STAR_ORACLE)
def x1_graph_pagerank_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-BACKED pagerank twin (VERDICT r6 item 6): the flagship
    `x1_graph_pagerank` is rows-only because cluster float solves are
    order-dependent -- this twin runs the SAME engine machinery
    (`pagerank_components`: closed-form dangling mass + star-contraction
    components + per-component exact solve) over a DETERMINISTIC
    star-forest derived from `documents` (hub = min doc_id per
    (lang, doc_id % 41) bucket; singleton buckets stay dangling), where
    the converged fixed point has a star closed form DuckDB can compute
    in pure SQL:

        r_dangling = (1-d) / (n - d*n_d)
        c          = (1-d)/n + d * n_d * r_dangling / n
        r_hub      = c (1 + d*k) / (1 - d^2),  k = m-1 leaves
        r_leaf     = c + d * r_hub / k

    (derivation: r_h = c + d*k*r_l, r_l = c + d*r_h/k; for m=2 both
    collapse to c/(1-d) as symmetry demands). The engine's numpy solve of
    (I - d P^T) r = c*1 and the closed form agree to machine precision;
    both sides round to 1e-9, far above the ~1e-15 solve error, so the
    hash match is stable. Reference parity: the canonical-representative
    ranking role of graph_rank in the reference's dedup stage (see
    x1_graph_pagerank)."""
    docs = load_table(spark, sf_dir, "documents")
    # NULL-safe grouping key: Spark's equi-join never matches NULL keys
    # while SQL GROUP BY groups NULLs together, so a NULL lang would make
    # the two engines disagree on which docs are dangling -- coalesce to
    # '' on BOTH sides (the oracle does the same)
    g = docs.select("doc_id",
                    F.coalesce("lang", F.lit("")).alias("lang"),
                    (F.col("doc_id") % 41).alias("bucket"))
    grp = g.groupBy("lang", "bucket").agg(F.min("doc_id").alias("hub"))
    edges = (g.join(grp, ["lang", "bucket"])
             .filter(F.col("doc_id") != F.col("hub"))
             .select(F.col("hub").alias("doc_a"),
                     F.col("doc_id").alias("doc_b")))
    pr = pagerank_components(docs.select("doc_id"), edges)
    return (pr.select(F.col("node_id").alias("doc_id"),
                      F.round("rank", 9).alias("rank"))
            .orderBy("doc_id"))


_BATCH_SOURCE = "src0"  # the "incoming batch"; every other source = corpus


@register(
    "x1_dedup_incremental",
    oracle=f"""
    WITH batch AS (SELECT * FROM documents WHERE source = '{_BATCH_SOURCE}'),
    ref AS (SELECT * FROM documents WHERE source <> '{_BATCH_SOURCE}'),
    exact_hits AS (
      SELECT DISTINCT b.doc_id FROM batch b
      JOIN ref r ON sha256(b.text) = sha256(r.text)),
    tb AS (SELECT DISTINCT doc_id, lang,
                  CAST(FLOOR(n_chars / 50.0) AS BIGINT) AS bucket, token
           FROM (SELECT doc_id, lang, n_chars,
                        unnest(string_split(text, ' ')) AS token FROM batch)
           WHERE token <> ''),
    tr AS (SELECT DISTINCT doc_id, lang,
                  CAST(FLOOR(n_chars / 50.0) AS BIGINT) AS bucket, token
           FROM (SELECT doc_id, lang, n_chars,
                        unnest(string_split(text, ' ')) AS token FROM ref)
           WHERE token <> ''),
    sb AS (SELECT doc_id, COUNT(*) AS n_tok FROM tb GROUP BY doc_id),
    sr AS (SELECT doc_id, COUNT(*) AS n_tok FROM tr GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM tb a JOIN tr b
        ON a.token = b.token AND a.lang = b.lang AND a.bucket = b.bucket
      GROUP BY 1, 2),
    near_hits AS (
      SELECT DISTINCT i.doc_a AS doc_id
      FROM inter i
      JOIN sb ON i.doc_a = sb.doc_id
      JOIN sr ON i.doc_b = sr.doc_id
      WHERE CAST(i.n_inter AS DOUBLE)
            / (sb.n_tok + sr.n_tok - i.n_inter) >= 0.8)
    SELECT b.lang, CAST(COUNT(*) AS BIGINT) AS n_batch,
           CAST(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact_dup,
           CAST(SUM(CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_near_dup,
           CAST(SUM(CASE WHEN n.doc_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM batch b
    LEFT JOIN exact_hits e ON b.doc_id = e.doc_id
    LEFT JOIN near_hits n ON b.doc_id = n.doc_id
    GROUP BY b.lang
    """,
)
def x1_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup: screen an incoming batch (source '{_BATCH_SOURCE}')
    against the already-accumulated corpus -- the shape every continuously-
    ingesting pipeline runs per micro-batch, where re-deduping the whole
    corpus from scratch is a non-starter at 100 TB.

    Exact tier: semi-join on content hash (the batch side is the small one
    -- broadcast it and the reference corpus never shuffles). Near tier: the
    same (lang, length-bucket)-blocked inverted-index Jaccard join as the
    full dedup, but batch-vs-reference instead of all-pairs, so cost is
    |batch| x |matching block|, not |corpus|^2. Exact hits are a subset of
    near hits (identical text => Jaccard 1), so kept = batch - near."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("source") == _BATCH_SOURCE)
    ref = docs.filter(F.col("source") != _BATCH_SOURCE)

    # bh/exact/near below are BATCH-bounded (one ingestion micro-batch by
    # contract, not corpus-growing), so their broadcast hints stay unGated
    bh = batch.select("doc_id", F.sha2("text", 256).alias("h"))
    rh = ref.select(F.sha2("text", 256).alias("h")).distinct()
    exact = (F.broadcast(bh).join(rh, "h", "left_semi")
             .select("doc_id").distinct()
             .withColumn("is_exact", F.lit(True)))

    def tokd(side: DataFrame) -> DataFrame:
        # r15 (the _tok_d_df technique): the per-side distinct token set,
        # blocking attrs, and set size are all pure functions of the ONE
        # document row -- array_distinct + explode replaces the
        # explode -> distinct-exchange -> gated-attr-join subtree on both
        # sides (zero exchanges; the old shape shuffled each side's
        # (doc_id, token) relation for the dedup and re-joined attrs).
        arr = F.array_distinct(
            F.filter(F.split("text", " "), lambda x: x != ""))
        return (side
                .select("doc_id", "lang",
                        F.floor(F.col("n_chars") / 50.0).cast("long")
                         .alias("bucket"),
                        arr.alias("_toks"))
                .select("doc_id", "lang", "bucket",
                        F.size("_toks").cast("long").alias("n_tok"),
                        F.explode("_toks").alias("token")))

    a, b = tokd(batch).alias("a"), tokd(ref).alias("b")
    # set sizes resolve inside the intersection aggregate (n_tok rides
    # every token row; min() picks the per-group constant) -- the two
    # per-side size builds + the two joins of the pair relation are gone
    inter = (a.join(b, (F.col("a.token") == F.col("b.token"))
                    & (F.col("a.lang") == F.col("b.lang"))
                    & (F.col("a.bucket") == F.col("b.bucket")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("n_inter"),
                  F.min(F.col("a.n_tok")).alias("na"),
                  F.min(F.col("b.n_tok")).alias("nb")))
    jac = (F.col("n_inter").cast("double")
           / (F.col("na") + F.col("nb") - F.col("n_inter")))
    near = (inter.filter(jac >= 0.8)
            .select(F.col("doc_a").alias("doc_id")).distinct()
            .withColumn("is_near", F.lit(True)))

    flagged = (batch.select("doc_id", "lang")
               .join(F.broadcast(exact), "doc_id", "left")
               .join(F.broadcast(near), "doc_id", "left"))
    return (flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.sum(F.when(F.col("is_exact"), 1).otherwise(0)).cast("long")
         .alias("n_exact_dup"),
        F.sum(F.when(F.col("is_near"), 1).otherwise(0)).cast("long")
         .alias("n_near_dup"),
        F.sum(F.when(F.col("is_near").isNull(), 1).otherwise(0)).cast("long")
         .alias("n_kept")))


_SPAN_K = 6         # seed n-gram order for span matching
_SPAN_MIN = 8       # emit only duplicated spans of >= this many tokens


@register(
    "x1_dedup_substring_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS l
      FROM documents),
    grams AS (
      SELECT doc_id, i AS pos,
             array_to_string(l[i:i+{_SPAN_K - 1}], ' ') AS gram
      FROM toks, unnest(range(1, len(l) - {_SPAN_K - 2})) AS t(i)
      WHERE len(l) >= {_SPAN_K}),
    matches AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pa, b.pos AS pb, a.pos - b.pos AS diag
      FROM grams a JOIN grams b
        ON a.gram = b.gram AND a.doc_id < b.doc_id),
    islands AS (
      SELECT *, pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
                                        ORDER BY pa) AS grp
      FROM matches)
    SELECT doc_a, doc_b,
           CAST(MIN(pa) AS BIGINT) AS start_a,
           CAST(MIN(pb) AS BIGINT) AS start_b,
           CAST(COUNT(*) + {_SPAN_K - 1} AS BIGINT) AS span_len
    FROM islands GROUP BY doc_a, doc_b, diag, grp
    HAVING COUNT(*) >= {_SPAN_MIN - _SPAN_K + 1}
    """,
)
def x1_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT duplicated-substring spans across documents -- the
    "deduplicating training data" span-extraction shape (Lee et al. 2022,
    public paper: repeated spans >= L tokens across a corpus are memorized
    disproportionately and should be collapsed): for every doc pair, every
    maximal run of consecutive matching {_SPAN_K}-gram seeds on one
    alignment diagonal, emitted when the implied token span reaches
    {_SPAN_MIN} (count + K - 1).

    Plan shape: tokenized docs -> positional {_SPAN_K}-gram seeds (one
    narrow pass, arrays stay packed until the explode) -> gram-keyed
    equi-join (doc_a < doc_b) -> gaps-and-islands per (pair, diagonal)
    via one window (island id = pa - row_number) -> span rollup. At
    100 TB the gram join is the inverted-index shape used across the X1
    family: work tracks true seed matches, not doc pairs; boilerplate
    grams (the classic skew source) would be df-pruned upstream exactly
    as x5_decontaminate_ngram does -- kept un-pruned here so the span
    semantics stay exact and oracle-matched. The suffix-array variant of
    the paper finds spans WITHIN one document too; the cross-doc pair
    form here is the dedup-actionable output (who shares what with whom).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (docs.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda w: w != "").alias("l"))
        .filter(F.size("l") >= _SPAN_K))
    grams = toks.select(
        "doc_id",
        F.posexplode(F.transform(
            F.sequence(F.lit(1), F.size("l") - _SPAN_K + 1),
            lambda i: F.concat_ws(" ", F.slice("l", i, _SPAN_K))))
        .alias("pos0", "gram")).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "gram")
    a = grams.select(F.col("doc_id").alias("doc_a"),
                     F.col("pos").alias("pa"), "gram")
    b = grams.select(F.col("doc_id").alias("doc_b"),
                     F.col("pos").alias("pb"), "gram")
    m = (a.join(b, "gram")
         .filter(F.col("doc_a") < F.col("doc_b"))
         .select("doc_a", "doc_b", "pa", "pb",
                 (F.col("pa") - F.col("pb")).alias("diag")))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    isl = m.withColumn("grp", F.col("pa") - F.row_number().over(w))
    return (isl.groupBy("doc_a", "doc_b", "diag", "grp")
            .agg(F.min("pa").alias("start_a"),
                 F.min("pb").alias("start_b"),
                 (F.count(F.lit(1)) + _SPAN_K - 1).alias("span_len"))
            .filter(F.col("span_len") >= _SPAN_MIN)
            .select("doc_a", "doc_b", "start_a", "start_b", "span_len"))


@register(
    "x1_dedup_apply_keeplist",
    oracle=f"""
    WITH RECURSIVE {_TOKENS_CTE},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM tok_d a JOIN tok_d b
        ON a.token = b.token AND a.lang = b.lang AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN tok_sizes sa ON i.doc_a = sa.doc_id
      JOIN tok_sizes sb ON i.doc_b = sb.doc_id
      WHERE CAST(i.n_inter AS DOUBLE)
            / (sa.n_tok + sb.n_tok - i.n_inter) >= 0.8),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
    comp AS (SELECT src AS doc_id, MIN(dst) AS component_id
             FROM reach GROUP BY src)
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN c.component_id = d.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN c.component_id <> d.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN c.component_id = d.doc_id
                         THEN d.n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM documents d JOIN comp c ON d.doc_id = c.doc_id
    GROUP BY d.lang
    """,
)
def x1_dedup_apply_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the dedup decision end-to-end: near-dup pairs -> connected
    components -> canonical keeper (min doc_id per cluster) -> per-lang
    retention report (docs in / kept / removed / kept chars) -- the
    materialization step a curation pipeline actually ships, closing the
    loop from pairwise similarity to a filtered corpus.

    Plan shape: reuses the pair graph and the block-local
    `blocked_components` pass (one shuffle on the block key), then ONE
    broadcast-joined rollup against the
    doc-attribute dim; a keeper is exactly a doc whose component id is
    its own id, so no extra distinct or anti-join pass is needed. The
    keep-list itself (doc_id, component_id, is_keeper) is the obvious
    intermediate to persist at 100 TB; the registered face rolls it up
    so the gate verifies the whole lineage with five numbers per lang."""
    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents")
    comp = blocked_components(spark, sf_dir, pairs).select(
        F.col("node_id").alias("doc_id"), "component_id")
    flagged = (docs.select("doc_id", "lang", "n_chars")
               .join(comp, "doc_id"))
    keeper = F.col("component_id") == F.col("doc_id")
    return (flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(keeper, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(~keeper, 1).otherwise(0)).cast("long")
         .alias("n_removed"),
        F.sum(F.when(keeper, F.col("n_chars")).otherwise(0)).cast("long")
         .alias("kept_chars")))


@register(
    "x1_dedup_minhash_fastpath_equiv",
    oracle="""
    SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INTEGER) AS band,
           CAST(NULL AS BIGINT) AS bucket, CAST(NULL AS VARCHAR) AS only_in
    WHERE FALSE
    """,
)
def x1_dedup_minhash_fastpath_equiv(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """DRIVER-VISIBLE fast-path equivalence (VERDICT r9 item 3, adjusted):
    the xxhash64 MinHash signature family is not reproducible in DuckDB,
    so the fast path's correctness rides on an ENGINE-INTERNAL identity --
    the stateless array-function banding (`minhash_band_buckets`, zero
    shuffles, shared with the streaming face) must produce the exact
    (doc_id, band, bucket) relation of the independent explode +
    groupBy-min derivation over distinct tokens. This face emits the
    symmetric difference of the two derivations against a CONSTANT EMPTY
    oracle, promoting the pytest-local pin
    (tests/test_streaming.py::test_stateless_band_buckets_match_batch_derivation)
    to a standing per-round driver assertion.

    NOTE (honest correction of the r9 verdict's sketch): the originally
    proposed diff -- xxhash face pairs EXCEPT md5-anchor pairs -- is NOT
    expected-empty: the two hash families bucket differently under the
    2..50 frequent-bucket cap, so each LSH finds a different (sound but
    partial) subset of the qualifying pairs; measured at sf0.01 they
    share only ~23%% of emitted pairs while agreeing bit-exactly on every
    common pair's jaccard. Signature-derivation equality is the identity
    that actually holds, and it covers the code the md5 oracle cannot
    see (`minhash_band_buckets` is a separate implementation from the
    md5 face's inline banding).

    Vacuity canary: an empty signature relation would make the diff
    trivially empty, so a marker row (doc_id -1, 'EMPTY_SIGNATURES') is
    emitted -- and fails the gate -- if the stateless derivation yields
    zero buckets on a non-empty corpus.

    Plan shape: the stateless side is a pure per-row map; the groupBy
    side shuffles token rows on doc_id once; exceptAll diffs shuffle the
    bucket relation (4 rows per doc) on its full key -- all linear in the
    corpus, no pair joins at all."""
    docs = load_table(spark, sf_dir, "documents")
    fast = minhash_band_buckets(docs.select("doc_id", "text"))

    tok = _tok_d_df(spark, sf_dir).select("doc_id", "token")
    mins = [F.min(F.xxhash64(F.lit(k), F.col("token"))).alias(f"h{k}")
            for k in range(_MINHASH_K)]
    sigs = tok.groupBy("doc_id").agg(*mins)
    rpb = _MINHASH_K // _LSH_BANDS
    band_cols = [F.xxhash64(*[F.col(f"h{b * rpb + r}") for r in range(rpb)])
                 .alias(f"band{b}") for b in range(_LSH_BANDS)]
    slow = sigs.select("doc_id", *band_cols).select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"band{b}")
                               for b in range(_LSH_BANDS)]))
         .alias("band", "bucket"))

    diff = (fast.exceptAll(slow)
            .withColumn("only_in", F.lit("stateless"))
            .unionByName(slow.exceptAll(fast)
                         .withColumn("only_in", F.lit("groupby"))))
    canary = (fast.agg(F.count(F.lit(1)).alias("n"))
              .filter(F.col("n") == 0)
              .select(F.lit(-1).cast("long").alias("doc_id"),
                      F.lit(-1).cast("int").alias("band"),
                      F.lit(-1).cast("long").alias("bucket"),
                      F.lit("EMPTY_SIGNATURES").alias("only_in")))
    return diff.unionByName(canary)


@register(
    "x1_graph_pagerank_rank_equiv",
    oracle="""
    SELECT CAST(NULL AS BIGINT) AS doc_id,
           CAST(NULL AS DOUBLE) AS rank_closed,
           CAST(NULL AS DOUBLE) AS rank_iter
    WHERE FALSE
    """,
)
def x1_graph_pagerank_rank_equiv(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """DRIVER-VISIBLE numeric-solver equivalence (VERDICT r9 item 3): the
    rows-only flagship `x1_graph_pagerank` is oracle-less because its
    per-cluster float solves are order-dependent -- this face asserts the
    solver ITSELF every round by running `pagerank_components` twice over
    the SAME Jaccard >= 0.8 near-dup graph, once on its dense
    linear-solve branch and once with dense_limit=0 so every component
    takes the in-memory power-iteration branch (tol 1e-15, the converged
    regime), and emitting rows where the two branches' ranks differ by
    more than 1e-9 against a CONSTANT EMPTY oracle.

    Tolerance audit: the local iteration exits at max-delta < 1e-15
    (error <= delta * d/(1-d) ~= 5.7e-15); the dense solve is exact to
    ~1e-15 -- the 1e-9 bar carries ~5 orders of margin, and agreement
    within 1e-9 implies the two solvers' rank ORDERINGS agree for every
    pair separated by more than 2e-9. The first cut compared against a
    distributed power iteration at a 40-round ceiling, which left ~9e-7
    truncation residue on an r10 fresh-seed corpus whose near-dup
    components are 24-node chains rather than cliques: power iteration
    reduces error only by d^k = 0.85^40 ~= 1.5e-3, so that bound can
    never meet a fixed tolerance on general graphs. This face pins the
    solver pair that genuinely converges.

    Vacuity canaries (ADVICE r10): (a) an empty linked-node relation on a
    non-empty corpus makes the diff trivially empty, so it emits a marker
    row (doc_id -1, ranks -1.0) that fails the gate -- the minhash face's
    EMPTY_SIGNATURES precedent; (b) a component LARGER than the solver's
    dense_limit (4096) would take the identical in-memory iteration
    branch on BOTH sides -- a solver compared to itself -- so a marker
    row (doc_id -2) fails the gate if the max component size exceeds it
    (the size aggregate rides the shared components pass).

    Plan shape: ONE pair-graph + components build shared by both sides
    (the quantizer cost is paid once -- pagerank_components is called on
    the same memoized inputs), two applyInPandas passes shuffled on
    component_id, then a doc_id equi-join; nothing shuffles more than
    the node relation."""
    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # ONE components pass feeds both solver branches (the contraction is
    # the dominant cost; its internal localCheckpoints mean the shared
    # relation's tail re-executes cheaply in each branch), over the same
    # graph build pagerank_components uses.
    edges, linked = _rank_graph(docs, pairs)
    comp = star_contraction_components(linked, edges)
    dense = pagerank_components(docs, pairs, comp=comp).select(
        F.col("node_id").alias("doc_id"),
        F.col("rank").alias("rank_closed"))
    it = pagerank_components(docs, pairs, dense_limit=0, comp=comp).select(
        F.col("node_id").alias("doc_id"),
        F.col("rank").alias("rank_iter"))
    diff = (dense.join(it, "doc_id", "full")
            .filter(F.col("rank_closed").isNull()
                    | F.col("rank_iter").isNull()
                    | (F.abs(F.col("rank_closed") - F.col("rank_iter"))
                       > 1e-9))
            .select("doc_id", "rank_closed", "rank_iter"))
    empty_graph = (linked.agg(F.count(F.lit(1)).alias("n"))
                   .filter(F.col("n") == 0)
                   .select(F.lit(-1).cast("long").alias("doc_id"),
                           F.lit(-1.0).alias("rank_closed"),
                           F.lit(-1.0).alias("rank_iter")))
    oversized = (comp.groupBy("component_id")
                 .agg(F.count(F.lit(1)).alias("sz"))
                 .agg(F.max("sz").alias("mx"))
                 .filter(F.col("mx") > 4096)
                 .select(F.lit(-2).cast("long").alias("doc_id"),
                         F.lit(-1.0).alias("rank_closed"),
                         F.lit(-1.0).alias("rank_iter")))
    return diff.unionByName(empty_graph).unionByName(oversized)


@register(
    "x1_graph_triangle_count",
    oracle=f"""
    WITH {_TOKENS_CTE},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM tok_d a JOIN tok_d b
        ON a.token = b.token AND a.lang = b.lang AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    e AS (
      SELECT i.doc_a AS a, i.doc_b AS b
      FROM inter i
      JOIN tok_sizes sa ON i.doc_a = sa.doc_id
      JOIN tok_sizes sb ON i.doc_b = sb.doc_id
      WHERE CAST(i.n_inter AS DOUBLE)
            / (sa.n_tok + sb.n_tok - i.n_inter) >= 0.8),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
    member AS (
      SELECT a AS doc_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM member GROUP BY doc_id
    """,
)
def x1_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the Jaccard >= 0.8 near-dup graph --
    the classic clustering-coefficient / cohesion primitive (a doc whose
    neighborhood is triangle-dense sits inside a duplicate CLIQUE; a
    triangle-free hub is a chain artifact worth inspecting before
    canonicalization). Each triangle is enumerated exactly once through
    the a<b<c ordering of the oriented edge list, then exploded to its
    three members for the per-node rollup.

    Plan shape for 100 TB: edges come from the SHARED persisted pair
    relation (one build per session, `_jaccard_pairs`); the enumeration
    is two self-equi-joins on node keys with the a<b<c orientation
    halving every adjacency, and the closing edge is an equi-join on the
    (a, c) pair key. No cartesians, no iteration, no collect.

    Orientation choice, MEASURED then AUTO-SELECTED (r10 probe, r11
    selector -- VERDICT r10 item 5, the `_jaccard_auto_choice` pattern):
    the degree-ordered compact-forward orientation (wedges at the lowest-
    degree corner, out-degree bounded O(sqrt(m))) was probed at 46/80 s
    vs the id-orientation's 10.5/41 s at 10x/30x -- on near-dup graphs
    (block-bounded, near-regular degree) its two extra degree joins cost
    more than the hub fan-out they prevent (growth rates 1.7x vs 3.9x
    per 3x data). Instead of a static choice, one cheap degree aggregate
    over the shared pair relation now estimates both orientations' wedge
    volumes and flips to degree ordering only when it removes at least
    `_TRI_ORIENT_FACTOR`x the wedges (covering its fixed join overhead);
    on the gate corpora the selector picks "id", keeping every committed
    hash, and a skew-flood pytest exercises the "deg" branch + pins the
    two kernels row-identical."""
    pairs = _jaccard_pairs(spark, sf_dir)
    # NOT persisted: within the enumeration query Catalyst already reuses
    # the distinct's exchange across the wedge/closing scans
    # (ReusedExchange), so a persist only adds the cache write -- measured
    # at 10x: persist 19.4 s vs unpersisted 12.3 s for the same kernel.
    # The selector's stage-1 aggregate re-executes the distinct once from
    # the PERSISTED pair relation (~1-2 s at 10x).
    e = pairs.select(F.least("doc_a", "doc_b").alias("a"),
                     F.greatest("doc_a", "doc_b").alias("b")).distinct()
    kern = (_triangles_deg if _triangle_orient_choice_over(e) == "deg"
            else _triangles_id)
    tri = kern(e)
    member = (tri.select(F.col("a").alias("doc_id"))
              .unionAll(tri.select(F.col("b").alias("doc_id")))
              .unionAll(tri.select(F.col("c").alias("doc_id"))))
    return member.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_triangles"))


_TRI_ORIENT_FACTOR = 4.0
# Calibration (r10 probe, committed in the x1_graph_triangle_count
# docstring): at roughly EQUAL wedge volume the degree-ordered kernel ran
# 2-4x slower than the id kernel (46/80 s vs 10.5/41 s at 10x/30x) -- its
# two degree-attach joins and wider shuffle rows are pure overhead when
# degree is near-regular. Degree ordering therefore has to remove >= 4x
# the wedges before it can win wall-clock; below that the id kernel keeps
# the crown even on moderately skewed graphs.


def _triangle_orient_choice_over(e: DataFrame) -> str:
    """Two-stage orientation selector over the canonical a<b edge
    relation. "id" explores lo(v)*hi(v) wedges per node (neighbors below
    x above by id); "deg" explores C(out_deg(v), 2) per node under
    (degree, id) ordering. Returns "deg" only when the id volume exceeds
    _TRI_ORIENT_FACTOR times the deg volume.

    Stage 1 (the common case, ONE join-free aggregate over the edge
    ends): w_deg is bounded above by m*sqrt(2m)/2 on ANY graph (each
    deg-oriented out-degree is <= sqrt(2m): a vertex with out-degree t
    has t successors of degree >= its own, so t(t+1) <= 2m). If w_id
    cannot beat FACTOR times even that ceiling, "id" wins outright --
    near-regular corpora (every gate corpus) short-circuit here, so the
    selector costs one degree aggregate, not an edge-degree join
    (measured at 10x: ~1 s vs ~5 s for the exact estimate).

    Stage 2 (possible skew only): attach endpoint degrees and count the
    exact deg-oriented out-degrees; flip only on a measured
    FACTOR-x wedge reduction."""
    ends = (e.select(F.col("a").alias("v"), F.lit(1).alias("hi"),
                     F.lit(0).alias("lo"))
            .unionAll(e.select(F.col("b").alias("v"), F.lit(0).alias("hi"),
                               F.lit(1).alias("lo"))))
    deg = ends.groupBy("v").agg(F.sum("hi").alias("hi"),
                                F.sum("lo").alias("lo"),
                                F.count(F.lit(1)).alias("d"))
    [s1] = deg.agg(F.sum(F.col("lo") * F.col("hi")).alias("w_id"),
                   (F.sum("d") / 2).alias("m")).collect()
    w_id = float(s1["w_id"] or 0.0)
    m = float(s1["m"] or 0.0)
    w_deg_ceiling = m * (2.0 * m) ** 0.5 / 2.0
    if w_id <= _TRI_ORIENT_FACTOR * w_deg_ceiling:
        return "id"
    # deg-orientation out-degree of v = # neighbors u with (d_u, u) > (d_v, v)
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("d_a"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("d_b"))
    ed = e.join(da, "a").join(db, "b")
    a_first = (F.col("d_a") < F.col("d_b")) | (
        (F.col("d_a") == F.col("d_b")) & (F.col("a") < F.col("b")))
    out = (ed.select(F.when(a_first, F.col("a")).otherwise(F.col("b"))
                     .alias("src"))
           .groupBy("src").agg(F.count(F.lit(1)).alias("od")))
    [r] = out.agg(F.sum(F.col("od") * (F.col("od") - 1) / 2)
                  .alias("w_deg")).collect()
    w_deg = float(r["w_deg"] or 0.0)
    return "deg" if w_id > _TRI_ORIENT_FACTOR * w_deg else "id"


def _triangles_id(e: DataFrame) -> DataFrame:
    """a<b<c id-oriented enumeration (the near-regular-graph winner):
    each triangle appears exactly once with a < b < c."""
    e1 = e.select(F.col("a"), F.col("b"))
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    wedge = e1.join(e2, "b")
    closing = e.select(F.col("a"), F.col("b").alias("c"))
    return wedge.join(closing, ["a", "c"]).select("a", "b", "c")


def _triangles_deg(e: DataFrame) -> DataFrame:
    """Degree-ordered compact-forward enumeration: edges orient from the
    (degree, id)-smaller endpoint, wedges form at each vertex's out-
    neighborhood (bounded O(sqrt(m)) on any graph), and the closing edge
    is the directed (u, w) lookup. Same (a, b, c) output contract as
    `_triangles_id` (id-canonical triangle corners), so the two kernels
    are row-identical and the member rollup is shared."""
    deg = (e.select(F.col("a").alias("v"))
           .unionAll(e.select(F.col("b").alias("v")))
           .groupBy("v").agg(F.count(F.lit(1)).alias("d")))
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("d_a"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("d_b"))
    ed = e.join(da, "a").join(db, "b")
    a_first = (F.col("d_a") < F.col("d_b")) | (
        (F.col("d_a") == F.col("d_b")) & (F.col("a") < F.col("b")))
    fwd = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("d_b")).otherwise(F.col("d_a")).alias("d_dst"))
    f1 = fwd.select("src", F.col("dst").alias("u"), F.col("d_dst").alias("du"))
    f2 = fwd.select("src", F.col("dst").alias("w"), F.col("d_dst").alias("dw"))
    wedge = (f1.join(f2, "src")
             .filter((F.col("du") < F.col("dw"))
                     | ((F.col("du") == F.col("dw"))
                        & (F.col("u") < F.col("w")))))
    close = fwd.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    tri = wedge.join(close, ["u", "w"]).select("src", "u", "w")
    # emit id-canonical corners so both kernels share one output contract
    return tri.select(
        F.least(F.least("src", "u"), "w").alias("a"),
        F.greatest(F.least("src", "u"),
                   F.least(F.greatest("src", "u"), "w")).alias("b"),
        F.greatest(F.greatest("src", "u"), "w").alias("c"))


@register(
    "x1_source_overlap_matrix",
    oracle=f"""
    WITH {_TOKENS_CTE},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM tok_d a JOIN tok_d b
        ON a.token = b.token AND a.lang = b.lang AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    nd AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN tok_sizes sa ON i.doc_a = sa.doc_id
      JOIN tok_sizes sb ON i.doc_b = sb.doc_id
      WHERE CAST(i.n_inter AS DOUBLE)
            / (sa.n_tok + sb.n_tok - i.n_inter) >= 0.8),
    pairs_src AS (
      SELECT LEAST(da.source, db.source) AS source_a,
             GREATEST(da.source, db.source) AS source_b
      FROM nd
      JOIN documents da ON da.doc_id = nd.doc_a
      JOIN documents db ON db.doc_id = nd.doc_b),
    sizes AS (SELECT source, COUNT(*) AS n_docs
              FROM documents GROUP BY source)
    SELECT p.source_a, p.source_b,
           CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / (CASE WHEN p.source_a = p.source_b
                         THEN sa.n_docs * (sa.n_docs - 1) / 2.0
                         ELSE sa.n_docs * sb.n_docs END), 9)
             AS dup_pair_rate
    FROM pairs_src p
    JOIN sizes sa ON sa.source = p.source_a
    JOIN sizes sb ON sb.source = p.source_b
    GROUP BY p.source_a, p.source_b, sa.n_docs, sb.n_docs
    """,
)
def x1_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation overlap matrix: near-dup pair counts and rates per
    (source, source) cell -- the report that tells a curation pipeline
    WHICH feeds duplicate each other (a hot off-diagonal cell means two
    crawls/dumps cover the same content: dedup one against the other or
    drop the lower-quality feed; a hot diagonal means a feed re-crawls
    itself). Rates normalize by the cell's pair capacity (n_a*n_b off
    the diagonal, C(n,2) on it), so cells are comparable across source
    sizes.

    Plan shape: reuses the SHARED persisted pair relation
    (`_jaccard_pairs`); sources attach via two broadcast joins against
    the doc-attribute dim (LEAST/GREATEST canonicalizes the unordered
    source pair), then one tiny groupBy on the |sources|^2-bounded key
    space with the capacity dim broadcast back in. Nothing beyond the
    near-dup-sized pair relation ever shuffles."""
    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents")
    src = docs.select("doc_id", "source")
    sizes = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    # the doc->source projection is corpus-sized: no broadcast hint (AQE
    # picks the strategy from measured sizes; at gate scale it still
    # broadcasts, at 100x it shuffle-joins on doc_id) -- VERDICT r10
    p = (pairs
         .join(src.select(F.col("doc_id").alias("doc_a"),
                          F.col("source").alias("sa")), "doc_a")
         .join(src.select(F.col("doc_id").alias("doc_b"),
                          F.col("source").alias("sb")), "doc_b")
         .select(F.least("sa", "sb").alias("source_a"),
                 F.greatest("sa", "sb").alias("source_b")))
    agg = (p.groupBy("source_a", "source_b")
           .agg(F.count(F.lit(1)).alias("n_dup_pairs")))
    na = sizes.select(F.col("source").alias("source_a"),
                      F.col("n_docs").alias("na"))
    nb = sizes.select(F.col("source").alias("source_b"),
                      F.col("n_docs").alias("nb"))
    cap = F.when(F.col("source_a") == F.col("source_b"),
                 F.col("na") * (F.col("na") - 1) / 2.0
                 ).otherwise(F.col("na") * F.col("nb"))
    return (agg.join(F.broadcast(na), "source_a")
            .join(F.broadcast(nb), "source_b")
            .select("source_a", "source_b", "n_dup_pairs",
                    F.round(F.col("n_dup_pairs").cast("double") / cap, 9)
                     .alias("dup_pair_rate")))


# --- sparse TF-IDF cosine near-dup (r11) ------------------------------------
# The near-dup family's sparse-VECTOR metric, completing set-based (Jaccard),
# hash-sketch (MinHash/SimHash), and dense-embedding cosine: documents as
# per-language TF-IDF vectors, pairs by inverted-index dot product. The
# vector space EXCLUDES terms with df > _TFIDF_MAX_DF (boilerplate: their
# idf is near zero anyway, and the cap bounds the per-token join fan-out --
# the same df-pruning contract as x5_decontaminate_ngram).

_TFIDF_MAX_DF = 100
_TFIDF_THR = 0.85   # near-dup floor: the corpus's true rewrites score >=.9;
#                     topically-similar non-dups top out ~.8 (calibrated on
#                     sf0.001/sf0.01 histograms; min |cos - thr| >= 8e-5)

_TFIDF_SCORED_CTE = f"""
    WITH tokens_raw AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
      FROM documents),
    tokens AS (SELECT * FROM tokens_raw WHERE token <> ''),
    tf AS (SELECT doc_id, lang, token, COUNT(*) AS tf
           FROM tokens GROUP BY doc_id, lang, token),
    nl AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    dfx AS (SELECT lang, token, COUNT(*) AS df FROM tf
            GROUP BY lang, token HAVING COUNT(*) <= {_TFIDF_MAX_DF}),
    w AS (
      SELECT t.doc_id, t.lang, t.token,
             t.tf * ln((nl.n_docs + 1.0) / (d.df + 1.0)) AS w
      FROM tf t JOIN dfx d ON t.lang = d.lang AND t.token = d.token
      JOIN nl ON t.lang = nl.lang),
    norms AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
             SUM(a.w * b.w) AS dot, COUNT(*) AS n_shared
      FROM w a JOIN w b ON a.lang = b.lang AND a.token = b.token
                       AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, a.lang),
    cos AS (
      SELECT doc_a, doc_b, lang, n_shared,
             dot / (na.nrm * nb.nrm) AS cosine
      FROM dots JOIN norms na ON doc_a = na.doc_id
                JOIN norms nb ON doc_b = nb.doc_id)
"""


@register(
    "x1_dedup_tfidf_cosine",
    oracle=_TFIDF_SCORED_CTE + f"""
    SELECT doc_a, doc_b, lang, n_shared, ROUND(cosine, 9) AS cosine_tfidf
    FROM cos WHERE cosine >= {_TFIDF_THR}
    """,
)
def x1_dedup_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine near-dup join: per-LANGUAGE vector spaces
    (df and N computed within lang -- cross-language cosines are
    vocabulary noise, and the lang key rides the token join for free),
    weights tf * ln((N+1)/(df+1)), pairs from an inverted-index join on
    (lang, token) with the dot product as one grouped sum -- never
    doc x doc. df-pruning (> {_TFIDF_MAX_DF} drops the term from the
    space) bounds each posting list, so worst-case pair fan-out per token
    is df-capped exactly like the decontamination join.

    Float discipline: the dot/norm sums are genuinely order-dependent
    doubles (idf is transcendental -- no DECIMAL detour exists), so the
    face follows the embedding-cosine precedent: emit ROUND(cosine, 9)
    and expose the >= {_TFIDF_THR} cells plus the threshold skin to
    check.py's boundary audit (`tfidf_pairs_085`; calibrated min
    |cos - thr| is ~8e-5 on gate corpora, nine orders above the spread).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = (docs.select("doc_id", "lang",
                       F.explode(F.split("text", " ")).alias("token"))
           .filter(F.col("token") != ""))
    tf = tok.groupBy("doc_id", "lang", "token").agg(
        F.count(F.lit(1)).alias("tf"))
    nl = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    dfx = (tf.groupBy("lang", "token")
           .agg(F.count(F.lit(1)).alias("df"))
           .filter(F.col("df") <= _TFIDF_MAX_DF))
    w = (tf.join(dfx, ["lang", "token"])
         .join(F.broadcast(nl), "lang")  # |langs| rows: literal dim
         .select("doc_id", "lang", "token",
                 (F.col("tf") * F.log((F.col("n_docs") + 1.0)
                                      / (F.col("df") + 1.0))).alias("w")))
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    wa = w.select(F.col("doc_id").alias("doc_a"), "lang", "token",
                  F.col("w").alias("wa"))
    wb = w.select(F.col("doc_id").alias("doc_b"), "lang", "token",
                  F.col("w").alias("wb"))
    dots = (wa.join(wb, ["lang", "token"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b", "lang")
            .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"),
                 F.count(F.lit(1)).alias("n_shared")))
    na = norms.select(F.col("doc_id").alias("doc_a"),
                      F.col("nrm").alias("nrm_a"))
    nb2 = norms.select(F.col("doc_id").alias("doc_b"),
                       F.col("nrm").alias("nrm_b"))
    cos = (dots.join(na, "doc_a").join(nb2, "doc_b")
           .withColumn("cosine",
                       F.col("dot") / (F.col("nrm_a") * F.col("nrm_b"))))
    return (cos.filter(F.col("cosine") >= _TFIDF_THR)
            .select("doc_a", "doc_b", "lang", "n_shared",
                    F.round("cosine", 9).alias("cosine_tfidf")))


# --- Adamic-Adar link prediction over the near-dup graph (r11) --------------

_AA_WEDGE_MAX = 1_000_000_000  # sum_z C(deg(z),2) wedge rows the AA join
#                                may materialize before the guard raises
#                                (a single 50k-degree hub already exceeds it)

_AA_SCORED_CTE = f"""
    WITH {_TOKENS_CTE},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM tok_d a JOIN tok_d b
        ON a.token = b.token AND a.lang = b.lang AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    e AS (
      SELECT i.doc_a AS a, i.doc_b AS b
      FROM inter i
      JOIN tok_sizes sa ON i.doc_a = sa.doc_id
      JOIN tok_sizes sb ON i.doc_b = sb.doc_id
      WHERE CAST(i.n_inter AS DOUBLE)
            / (sa.n_tok + sb.n_tok - i.n_inter) >= 0.8),
    adj AS (SELECT a AS src, b AS dst FROM e
            UNION ALL SELECT b, a FROM e),
    deg AS (SELECT src, COUNT(*) AS d FROM adj GROUP BY src),
    wedges AS (
      SELECT n1.dst AS doc_a, n2.dst AS doc_b, n1.src AS z
      FROM adj n1 JOIN adj n2 ON n1.src = n2.src AND n1.dst < n2.dst),
    open_wedges AS (
      SELECT w.doc_a, w.doc_b, w.z FROM wedges w
      WHERE NOT EXISTS (SELECT 1 FROM e
                        WHERE e.a = w.doc_a AND e.b = w.doc_b)),
    scored AS (
      SELECT ow.doc_a, ow.doc_b,
             COUNT(*) AS n_common,
             SUM(1.0 / ln(deg.d)) AS aa
      FROM open_wedges ow JOIN deg ON ow.z = deg.src
      GROUP BY ow.doc_a, ow.doc_b)
"""


@register(
    "x1_graph_adamic_adar",
    oracle=_AA_SCORED_CTE + """
    SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common,
           ROUND(aa, 9) AS aa_score
    FROM scored
    """,
)
def x1_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION over the Jaccard >= 0.8 near-dup graph: for every
    NON-edge pair with at least one common neighbor, the common-neighbor
    count and the Adamic-Adar score sum(1/ln(deg(z))) over the shared
    neighbors z -- the classic "these two docs are probably duplicates
    the pairwise threshold missed" signal (a transitive-closure repair
    weaker than full components: it RANKS the missing edges instead of
    merging everything reachable, which is what a curation reviewer
    wants when block boundaries or near-threshold pairs split a clique).

    Plan shape for 100 TB: edges from the SHARED persisted pair relation
    (`_jaccard_pairs`, one build per session); candidates from ONE wedge
    self-join on the symmetrized adjacency (volume sum_z C(deg(z), 2) --
    the same bound the triangle face carries, block-bounded on near-dup
    graphs, and ENFORCED here: the exact volume is measured from the
    persisted degree relation and the build raises past _AA_WEDGE_MAX
    instead of silently running a hub flood -- the SN/RFM guard
    standard); existing edges leave via a broadcast-eligible anti-join
    on the (a, b) pair key; degrees ride a groupBy of the adjacency it
    already scanned. No cartesians, no iteration; the one collect is the
    1-row guard aggregate.

    Float discipline: each summand 1/ln(deg) is a transcendental of the
    same INTEGER on both engines (bit-identical operands); only the sum
    order differs -- the embedding-cosine precedent applies: emit
    ROUND(aa, 9) and expose the emitted cells to the boundary audit
    (`aa_cells`). A wedge center always has deg >= 2, so ln(deg) > 0."""
    pairs = _jaccard_pairs(spark, sf_dir)
    e = pairs.select(F.least("doc_a", "doc_b").alias("a"),
                     F.greatest("doc_a", "doc_b").alias("b")).distinct()
    adj = (e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
           .unionAll(e.select(F.col("b").alias("src"),
                              F.col("a").alias("dst"))))
    deg = track_persist(adj.groupBy("src")
                        .agg(F.count(F.lit(1)).alias("d")))
    # Enforced wedge-volume guard (the SN/RFM standard, VERDICT r11 #6):
    # AA's cost is inherently sum_z C(deg(z), 2) -- a single hub of
    # degree 1M yields 5e11 wedge rows no matter how well the join is
    # shaped. Measure the exact volume from the (persisted) degree
    # relation and refuse loudly rather than silently run a hub flood.
    [w] = deg.agg(F.sum(F.expr("d * (d - 1) DIV 2")).alias("w")).collect()
    wedge_volume = int(w["w"] or 0)
    if wedge_volume > _AA_WEDGE_MAX:
        raise ValueError(
            f"adamic-adar wedge volume {wedge_volume} exceeds the bound "
            f"{_AA_WEDGE_MAX} -- a hub in the near-dup graph makes the "
            "common-neighbor join quadratic in its degree; cap or sample "
            "per-node neighbor lists (keep each node's top-D neighbors "
            "by jaccard) before ranking missing edges at this scale")
    n1 = adj.select(F.col("src").alias("z"), F.col("dst").alias("doc_a"))
    n2 = adj.select(F.col("src").alias("z"), F.col("dst").alias("doc_b"))
    wedges = (n1.join(n2, "z")
              .filter(F.col("doc_a") < F.col("doc_b")))
    open_wedges = wedges.join(
        e, (wedges.doc_a == e.a) & (wedges.doc_b == e.b), "left_anti")
    return (open_wedges
            .join(deg.withColumnRenamed("src", "z"), "z")
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_common"),
                 F.round(F.sum(1.0 / F.log(F.col("d"))), 9)
                  .alias("aa_score")))


# --- asymmetric shingle containment (r11; prefix-filtered r12) ---------------

_CONT_N = 4      # shingle order (matches the decontamination grams)
_CONT_THR = 0.8  # fraction of the CONTAINED side's shingles that must appear
_CONT_AUTO_FACTOR = 2.0  # choose the prefix kernel only when the naive
#   join's candidate-row volume V = sum_g C(c_g, 2) exceeds FACTOR x the
#   shingle-row count S: the prefix path pays a df join + per-doc ranking
#   window over ALL S rows (~2-3 linear passes; measured 2.7x the naive
#   face on the 30x probe corpus, V/S = 0.055), so it only wins once the
#   quadratic join volume dominates the linear ranking cost -- exactly the
#   boilerplate-gram regime (V/S >= ~1.5 already on the 34-doc pytest
#   corpus with one corpus-wide gram; unbounded in the wild).

_CONT_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x <> '') AS l
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, lang,
             array_to_string(l[i:i+{_CONT_N - 1}], ' ') AS g
      FROM toks, unnest(range(1, len(l) - {_CONT_N - 2})) AS t(i)
      WHERE len(l) >= {_CONT_N}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS ni
      FROM sh a JOIN sh b ON a.g = b.g AND a.lang = b.lang
                         AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    cand AS (
      SELECT i.da, i.db, i.ni, sa.n AS na, sb.n AS nb
      FROM inter i JOIN sizes sa ON i.da = sa.doc_id
                   JOIN sizes sb ON i.db = sb.doc_id)
    SELECT da AS doc_contained, db AS doc_container,
           CAST(na AS BIGINT) AS n_contained, CAST(ni AS BIGINT) AS n_shared,
           ROUND(CAST(ni AS DOUBLE) / na, 9) AS containment
    FROM cand WHERE CAST(ni AS DOUBLE) / na >= {_CONT_THR}
    UNION ALL
    SELECT db, da, CAST(nb AS BIGINT), CAST(ni AS BIGINT),
           ROUND(CAST(ni AS DOUBLE) / nb, 9)
    FROM cand WHERE CAST(ni AS DOUBLE) / nb >= {_CONT_THR}
    """


def _containment_shingles(spark: SparkSession, sf_dir: str):
    """Distinct (doc_id, lang, g) {_CONT_N}-gram shingle rows + per-doc
    shingle counts -- the shared front of both containment kernels."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang",
        F.filter(F.split("text", " "), lambda x: x != "").alias("l"))
    sh = (toks.filter(F.size("l") >= _CONT_N)
          .select("doc_id", "lang",
                  F.explode(F.expr(
                      f"transform(sequence(1, size(l) - {_CONT_N - 1}),"
                      f" i -> concat_ws(' ', slice(l, i, {_CONT_N})))"))
                   .alias("g"))
          .distinct())
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    return sh, sizes


def _containment_cand_naive(sh: DataFrame) -> DataFrame:
    """Unfiltered candidate pairs: the full (lang, shingle) inverted-index
    self-join, O(c_g^2) rows per shingle. The CHEAP kernel when per-gram
    fan-out is uniform and small (measured: 2.7x faster than the prefix
    path on the 30x replication corpus, where V/S = 0.055); quadratic
    death when a boilerplate gram is shared corpus-wide. The auto face
    picks between this and the prefix kernel from measured volumes."""
    a, b = sh.alias("a"), sh.alias("b")
    return (a.join(b, (F.col("a.g") == F.col("b.g"))
                   & (F.col("a.lang") == F.col("b.lang"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("da"),
                    F.col("b.doc_id").alias("db"))
            .distinct())


def _containment_cand_prefix(sh: DataFrame, sizes: DataFrame) -> DataFrame:
    """PPJoin-style containment-prefix candidates, LOSSLESS for
    containment >= {_CONT_THR}: order each doc's shingles by ascending
    global (per-lang) document frequency and keep only the
    ``n - ceil(t*n) + 1`` rarest as probe keys; join probes against the
    FULL shingle index. Pigeonhole: if doc Y contains >= ceil(t*|X|) of
    X's shingles it misses at most ``|X| - ceil(t*|X|) = p - 1`` of them,
    so it cannot miss all p prefix shingles -- every qualifying pair (in
    EITHER direction: the contained side's prefix probes the other side's
    full set) survives. The hot boilerplate grams that made the naive
    join O(n^2) sit at the END of the df order and rarely enter a prefix,
    so per-gram fan-out is |prefix-occurrences| x |occurrences|, not
    |occurrences|^2. Same recipe as x1_dedup_jaccard_prefix, adapted to
    the asymmetric predicate (probe prefix x full index, not prefix x
    prefix -- the container side has no usable prefix bound)."""
    from pyspark.sql import Window

    dfreq = sh.groupBy("lang", "g").agg(F.count(F.lit(1)).alias("df"))
    ranked = (sh.join(dfreq, ["lang", "g"])
              .withColumn("rk", F.row_number().over(
                  Window.partitionBy("doc_id").orderBy("df", "g"))))
    # prefix length = n - ceil(0.8n) + 1 in exact integer arithmetic
    # (ceil(4n/5) = (4n+4) DIV 5), the jaccard_prefix idiom
    pref = (ranked.join(sizes, "doc_id")
            .filter(F.col("rk") <= F.col("n")
                    - F.expr("CAST((4*n + 4) DIV 5 AS BIGINT)") + 1)
            .select("doc_id", "lang", "g"))
    p, f_ = pref.alias("p"), sh.alias("f")
    return (p.join(f_, (F.col("p.g") == F.col("f.g"))
                   & (F.col("p.lang") == F.col("f.lang"))
                   & (F.col("p.doc_id") != F.col("f.doc_id")))
            .select(F.least("p.doc_id", "f.doc_id").alias("da"),
                    F.greatest("p.doc_id", "f.doc_id").alias("db"))
            .distinct())


@register(
    "x1_dedup_containment",
    oracle=_CONT_ORACLE,
)
def x1_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup: {_CONT_N}-gram shingle CONTAINMENT -- flag
    (contained, container) pairs where >= {_CONT_THR:.0%} of the
    CONTAINED doc's shingles appear in the other one. (Column names say
    which side the predicate bounds, not which doc is physically smaller:
    ni/na >= {_CONT_THR} only bounds na <= {1 / _CONT_THR:.2f}*nb, so the
    contained side can carry up to 25% MORE shingles -- ADVICE r11.)
    Catches exactly what every symmetric face misses: sub-document
    duplication (a doc embedded inside a longer one scores Jaccard
    |A|/|B| -- far below any symmetric threshold -- but containment ~1).
    The standard curation pass for quote-heavy / concatenated corpora.
    Shingles (not tokens) so containment means shared PHRASE SPANS, not
    shared vocabulary -- token-set containment is degenerate on small
    vocabularies (measured: 18k token-level pairs vs 6 shingle-level at
    the same bar on the gate corpus).

    Plan shape (r12): one distinct-shingle pass, then MEASURED kernel
    selection (the x1_dedup_jaccard_auto idiom): one aggregate over the
    per-(lang, gram) occurrence counts computes the naive join's exact
    candidate-row volume V = sum_g C(c_g, 2) and the shingle-row count S;
    V > {_CONT_AUTO_FACTOR} x S routes to the LOSSLESS containment-prefix
    kernel (`_containment_cand_prefix`), else the plain inverted-index
    join (`_containment_cand_naive`). This closes the r11 kernel's
    unbounded fan-out (VERDICT r11 "What's wrong" #3) without paying the
    prefix path's ranking-window constant where no hot gram exists
    (measured on the 10x/30x probe corpora: naive 2.7x faster at
    V/S = 0.055; prefix 129x lower candidate volume on boilerplate).
    Kernels pinned row-identical in pytest; survivors verify EXACTLY
    against the full shingle sets, both directions from ONE undirected
    intersection row; the containment value is a single integer division
    (identical operands both engines -- no float-sum exposure needed).
    EAGER AT BUILD: the selector's one-aggregate stats job is bounded by
    the distinct-shingle shuffle the chosen plan needs anyway; the
    registry memo bounds it to once per (session, sf_dir, snapshot)."""
    sh, sizes = _containment_shingles(spark, sf_dir)
    sh = track_persist(sh)
    if _containment_auto_choice(sh) == "prefix":
        return _containment_verify(_containment_cand_prefix(sh, sizes),
                                   sh, sizes)
    return _containment_verify(_containment_cand_naive(sh), sh, sizes)


def _containment_auto_choice(sh: DataFrame) -> str:
    """Measured kernel choice: "prefix" iff the naive inverted-index
    join's exact candidate-row volume exceeds _CONT_AUTO_FACTOR x the
    shingle rows (see the factor's calibration note)."""
    [r] = (sh.groupBy("lang", "g").agg(F.count(F.lit(1)).alias("c"))
           .agg(F.sum("c").alias("s"),
                F.sum(F.expr("c * (c - 1) DIV 2")).alias("v")).collect())
    s, v = int(r["s"] or 0), int(r["v"] or 0)
    return "prefix" if v > _CONT_AUTO_FACTOR * s else "naive"


@register("x1_dedup_containment_prefix", oracle=_CONT_ORACLE)
def x1_dedup_containment_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The always-prefix containment plan on the shared oracle (the
    jaccard_ngram/jaccard_prefix precedent: both physical strategies stay
    independently driver-checkable so the auto face's choice is a
    performance decision, never a correctness one). Candidates from the
    LOSSLESS containment-prefix join -- each doc's ceil((1-t)*n)+1
    rarest shingles probe the full inverted index; pigeonhole guarantees
    every qualifying pair in either direction survives (proof in
    `_containment_cand_prefix`); exact verification against the full
    shingle sets. The shingle relation is persisted (ADVICE r12) -- the
    prefix probe, the full-index side, and both verification sides all
    reuse it, so without the persist the tokenize/explode/distinct pass
    re-derives four times."""
    sh, sizes = _containment_shingles(spark, sf_dir)
    sh = track_persist(sh)
    return _containment_verify(_containment_cand_prefix(sh, sizes),
                               sh, sizes)


def _containment_verify(cand_pairs: DataFrame, sh: DataFrame,
                        sizes: DataFrame) -> DataFrame:
    """Exact verification + projection over an undirected candidate-pair
    relation: recount the shingle intersection from the FULL sets (the
    candidate stage only has to be lossless, never precise) and emit both
    qualifying directions from one intersection row."""
    sa = sh.select(F.col("doc_id").alias("da"), "g")
    sb = sh.select(F.col("doc_id").alias("db"), "g")
    inter = (cand_pairs.join(sa, "da").join(sb, ["db", "g"])
             .groupBy("da", "db").agg(F.count(F.lit(1)).alias("ni")))
    cand = (inter
            .join(sizes.select(F.col("doc_id").alias("da"),
                               F.col("n").alias("na")), "da")
            .join(sizes.select(F.col("doc_id").alias("db"),
                               F.col("n").alias("nb")), "db"))
    fwd = (cand.filter(F.col("ni").cast("double") / F.col("na")
                       >= _CONT_THR)
           .select(F.col("da").alias("doc_contained"),
                   F.col("db").alias("doc_container"),
                   F.col("na").alias("n_contained"),
                   F.col("ni").alias("n_shared"),
                   F.round(F.col("ni").cast("double") / F.col("na"), 9)
                    .alias("containment")))
    rev = (cand.filter(F.col("ni").cast("double") / F.col("nb")
                       >= _CONT_THR)
           .select(F.col("db").alias("doc_contained"),
                   F.col("da").alias("doc_container"),
                   F.col("nb").alias("n_contained"),
                   F.col("ni").alias("n_shared"),
                   F.round(F.col("ni").cast("double") / F.col("nb"), 9)
                    .alias("containment")))
    return fwd.unionByName(rev)
