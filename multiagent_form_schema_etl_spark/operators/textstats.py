"""X4 -- text analysis over ``documents`` (SURVEY.md §2.11): token stats,
term frequencies, TF-rarity ranking, language-ID scoring, quality scoring,
and shingle fingerprinting.

All pure explode/groupBy/window compositions -- the E1 word explode "writ
large". Per-doc aggregations partition on doc_id; corpus-level term stats
shuffle on token (uniform-ish key space). The only cross-doc joins are
against tiny broadcast dimensions (language profiles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, local_df, table_rowcount
from ..fixtures import values_sql
from ..plans.registry import register, track_persist

_TOKENS = """
    tokens AS (
      SELECT doc_id, lang, source, n_chars, token FROM (
        SELECT doc_id, lang, source, n_chars,
               unnest(string_split(text, ' ')) AS token
        FROM documents)
      WHERE token <> '')
"""


def _tokens_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (docs.select("doc_id", "lang", "source", "n_chars",
                        F.explode(F.split("text", " ")).alias("token"))
            .filter(F.col("token") != ""))


@register(
    "x4_token_stats",
    oracle=f"""
    WITH {_TOKENS}
    SELECT lang, source,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_tokens,
           COUNT(DISTINCT token) AS n_distinct_tokens,
           CAST(SUM(CAST(length(token) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(token) AS avg_token_len
    FROM tokens GROUP BY lang, source
    """,
)
def x4_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token statistics per (lang, source).

    r14 optimization (guide §2.3): the old single groupBy carried TWO
    countDistincts, so Spark planned an Expand that tripled every token
    row through the shuffle. Split instead into (a) per-document partial
    stats computed per-ROW on the token array (doc count, occurrence
    count, summed token length -- exact integer arithmetic, so summing
    per-doc longs into DECIMAL(28,6) equals the old per-token decimal
    sum bit-for-bit) and (b) the one genuinely corpus-level distinct
    (vocabulary per group) fed by per-doc `array_distinct` so the
    remaining shuffle moves per-doc-distinct tokens once, not every
    occurrence three times."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    d = (docs.select("lang", "source", toks.alias("l"))
         .filter(F.size("l") > 0))
    sum_len = F.aggregate(
        "l", F.lit(0).cast("long"),
        lambda a, x: a + F.length(x).cast("long"))
    per_group = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("l")).alias("n_tokens"),
        (F.sum(sum_len.cast("decimal(28,6)")).cast("double")
         / F.sum(F.size("l"))).alias("avg_token_len"))
    vocab = (d.select(F.col("lang").alias("_vl"),
                      F.col("source").alias("_vs"),
                      F.explode(F.array_distinct("l")).alias("token"))
             .groupBy("_vl", "_vs")
             .agg(F.countDistinct("token").alias("n_distinct_tokens")))
    # null-safe equi-join (ADVICE r14): both sides derive from the same
    # groupBy keys, but a plain inner equi-join would silently drop NULL
    # lang/source groups the old single-groupBy shape kept (null keys
    # never match in an equi-join). <=> is still a hashable join key, so
    # the plan is unchanged; the current corpus has no NULLs in either
    # column -- this is robustness, not a result change.
    return (per_group.join(
                vocab,
                per_group["lang"].eqNullSafe(vocab["_vl"])
                & per_group["source"].eqNullSafe(vocab["_vs"]))
            .select("lang", "source", "n_docs", "n_tokens",
                    "n_distinct_tokens", "avg_token_len"))


@register(
    "x4_term_frequencies",
    oracle=f"""
    WITH {_TOKENS}
    SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
    FROM tokens GROUP BY token
    ORDER BY tf DESC, token
    LIMIT 20
    """,
)
def x4_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus terms with term and document frequencies."""
    t = _tokens_df(spark, sf_dir)
    return (t.groupBy("token")
            .agg(F.count(F.lit(1)).alias("tf"),
                 F.countDistinct("doc_id").alias("df"))
            .orderBy(F.desc("tf"), F.asc("token"))
            .limit(20))


@register(
    "x4_tf_rarity_topk",
    oracle=f"""
    WITH {_TOKENS},
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tokens),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tokens
           WHERE doc_id < 20 GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY token)
    SELECT doc_id, token, score, rnk FROM (
      SELECT tf.doc_id, tf.token,
             tf.tf * (CAST(n.n_docs AS DOUBLE) / df.df) AS score,
             CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf * (CAST(n.n_docs AS DOUBLE) / df.df) DESC,
                                         tf.token) AS BIGINT) AS rnk
      FROM tf JOIN df ON tf.token = df.token CROSS JOIN n)
    WHERE rnk <= 3
    """,
)
def x4_tf_rarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-shaped ranking with a log-free rarity weight (tf * N/df) so
    the oracle is bit-exact (libm log differs across engines); top-3 terms
    per document for a 20-doc slice. The df side is VOCABULARY-sized
    (grows with the corpus), so the broadcast hint goes on the OTHER side:
    tf is a fixed 20-doc slice, bounded by construction -- the vocabulary
    relation never moves and the hint cannot OOM at 100x (VERDICT r10)."""
    t = _tokens_df(spark, sf_dir)
    # COUNT(DISTINCT doc_id) over token rows == count of docs with >= 1
    # token: one scan-local count instead of an explode + distinct shuffle
    # (r14, guide §5 -- this ran as a Spark job inside the build).
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.filter(
        F.size(F.filter(F.split("text", " "), lambda x: x != "")) > 0).count()
    tf = (t.filter(F.col("doc_id") < 20)
          .groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")))
    df = t.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    scored = (df.join(F.broadcast(tf), "token")
              .withColumn("score",
                          F.col("tf") * (F.lit(float(n_docs)) / F.col("df"))))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (scored.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= 3)
            .select("doc_id", "token", "score", "rnk"))


# Tiny language-profile dimension for the n-gram/stopword language-ID
# heuristic. Corpus text is synthetic English-ish tokens, so profiles share
# words -- the point is the argmax plumbing, not linguistics.
_LANG_PROFILE_COLS = ["profile_lang", "stopword"]
_LANG_PROFILE_ROWS: list[tuple] = [
    ("en", "the"), ("en", "a"), ("en", "value"), ("en", "data"),
    ("es", "the"), ("es", "row"), ("es", "table"),
    ("de", "batch"), ("de", "window"), ("de", "merge"),
    ("fr", "query"), ("fr", "join"), ("fr", "line"),
    ("zh", "spark"), ("zh", "hash"), ("zh", "scan"),
]


@register(
    "x4_lang_id_heuristic",
    oracle=f"""
    WITH {_TOKENS},
    profiles AS (SELECT * FROM {values_sql(_LANG_PROFILE_ROWS, _LANG_PROFILE_COLS)}),
    doc_sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM tokens GROUP BY doc_id),
    hits AS (
      SELECT t.doc_id, p.profile_lang, COUNT(*) AS n_hits
      FROM tokens t JOIN profiles p ON t.token = p.stopword
      GROUP BY t.doc_id, p.profile_lang),
    scored AS (
      SELECT h.doc_id, h.profile_lang,
             CAST(h.n_hits AS DOUBLE) / s.n_tok AS score
      FROM hits h JOIN doc_sizes s ON h.doc_id = s.doc_id)
    SELECT doc_id, profile_lang AS predicted_lang, score FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, profile_lang) AS rn
      FROM scored)
    WHERE rn = 1
    """,
)
def x4_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by stopword-profile hit ratio, argmax per doc with
    alphabetical tie-break. The profile table is literal reference data a
    few rows long, so the whole face is a per-ROW expression (r14
    optimization, guide §2.4): per language, count token occurrences in the
    literal stopword array (`size(filter(l, in-set))`), take the struct-min
    of (-score, lang) for the argmax -- identical (score DESC, lang ASC)
    total order, float-exact because negation is exact. The old shape paid
    an explode + broadcast join + two hash-aggregate exchanges + a doc_id
    window sort for a value that is a pure function of each document row.
    Docs with zero profile hits emit nothing, like the old inner join."""
    docs = load_table(spark, sf_dir, "documents")
    # materialize the token array before the argmax (kernel contract)
    d = docs.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("l"))
    return (d.select("doc_id", _lang_id_best(F.col("l")).alias("b"))
            .filter(F.col("b").isNotNull())
            .select("doc_id",
                    F.col("b")["lang"].alias("predicted_lang"),
                    (-F.col("b")["neg_score"]).alias("score")))


def _profile_argmax(l: F.Column, profile_rows: list[tuple]) -> F.Column:
    """STRUCT(neg_score, lang) of the winning profile language for element
    array `l` (tokens or char-grams), NULL when no profile element occurs
    (or the array is empty). The (-score, lang) struct-min reproduces the
    oracle's ROW_NUMBER() OVER (ORDER BY score DESC, profile_lang) pick
    exactly (negation is float-exact; langs are unique so the tie chain
    ends there).

    CALLER CONTRACT: pass `l` as a MATERIALIZED column attribute (project
    the array in a preceding select), never as a raw expression -- this
    kernel references `l` once per language, and Catalyst re-evaluates a
    non-attribute argument at every reference (the first cut passed the
    raw transform() for the trigram face and measured 58 s vs 2.5 s for
    the explode shape it replaced)."""
    by_lang: dict[str, list[str]] = {}
    for lang, word in profile_rows:
        by_lang.setdefault(lang, []).append(word)
    n_tok = F.size(l).cast("double")
    # each language's member filter is evaluated exactly ONCE (hits
    # struct), then scores derive from the counted hits via transform
    hits = F.array(*[
        F.struct(F.size(F.filter(l, lambda x: x.isin(words)))
                 .alias("n_hits"),
                 F.lit(lang).alias("lang"))
        for lang, words in sorted(by_lang.items())])
    cands = F.transform(
        hits,
        lambda c: F.struct(
            (-(c["n_hits"].cast("double") / n_tok)).alias("neg_score"),
            c["lang"].alias("lang"),
            c["n_hits"].alias("n_hits")))
    best = F.array_min(F.filter(cands, lambda c: c["n_hits"] > 0))
    return F.when(F.size(l) > 0, best)


def _lang_id_best(l: F.Column) -> F.Column:
    """Stopword-profile argmax over token array `l` (shared by
    x4_lang_id_heuristic and the x5 corpus funnel)."""
    return _profile_argmax(l, _LANG_PROFILE_ROWS)


@register(
    "x4_quality_score",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang, n_chars,
             CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
             CAST(length(text) AS DOUBLE) AS len
      FROM documents)
    SELECT doc_id, lang, n_tokens,
           ROUND(CASE WHEN len >= 200 THEN 1.0 ELSE len / 200 END * 0.5
                 + CASE WHEN n_tokens >= 40 THEN 1.0 ELSE CAST(n_tokens AS DOUBLE) / 40 END * 0.5,
                 6) AS quality
    FROM base
    """,
)
def x4_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: length saturation + token-count
    saturation, equally weighted (the punctuation/stopword terms of a fuller
    scorer are corpus-degenerate here: synthetic text has none)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = (F.length("text")
                - F.length(F.regexp_replace("text", " ", "")) + 1).cast("long")
    length = F.length("text").cast("double")
    quality = (F.when(length >= 200, 1.0).otherwise(length / 200) * 0.5
               + F.when(n_tokens >= 40, F.lit(1.0))
                  .otherwise(n_tokens.cast("double") / 40) * 0.5)
    return docs.select("doc_id", "lang", n_tokens.alias("n_tokens"),
                       F.round(quality, 6).alias("quality"))


@register(
    "x4_doc_fingerprint",
    oracle="""
    WITH tok_raw AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS token,
             unnest(range(1, length(string_split(text, ' ')) + 1)) AS widx
      FROM documents),
    pos AS (
      SELECT doc_id, token,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY widx) AS p
      FROM tok_raw WHERE token <> ''),
    sh AS (
      SELECT doc_id,
             token || ' ' || lead(token, 1) OVER w || ' ' || lead(token, 2) OVER w
               || ' ' || lead(token, 3) OVER w || ' ' || lead(token, 4) OVER w AS shingle
      FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY p))
    SELECT doc_id, MIN(md5(shingle)) AS fingerprint
    FROM sh WHERE shingle IS NOT NULL
    GROUP BY doc_id
    """,
)
def x4_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: minimum md5 over 5-token shingles (k=1 MinHash
    with a portable hash). Shingles are built per-row from the token ARRAY
    (split order is the token order), so the whole face is one narrow scan
    projection — no explode, no window shuffle+sort, no groupBy (r14
    optimization, guide §2.4: the old posexplode + two doc_id windows +
    min-agg paid three exchanges of the token relation for a value that is
    a pure function of each row). Docs with <5 tokens emit nothing, exactly
    like the old lead-4-not-null filter."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    d = docs.select("doc_id", toks.alias("l")).filter(F.size("l") >= 5)
    sh = F.transform(
        F.sequence(F.lit(1), F.size("l") - 4),
        lambda i: F.md5(F.concat_ws(" ", F.slice("l", i, 5))))
    return d.select("doc_id", F.array_min(sh).alias("fingerprint"))


@register(
    "x4_token_count_bpe",
    oracle=r"""
    SELECT doc_id,
           CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS ws_tokens,
           CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT) AS bpe_ish_tokens,
           CAST(length(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS numeric_runs
    FROM documents
    """,
)
def x4_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (driver mandate): whitespace tokens and a
    BPE-ish pre-tokenizer regex (letter runs | digit runs | punctuation
    runs -- the GPT-2 pre-tokenizer's shape without the lookaheads RE2
    can't run). Pure regexp_extract_all + length, no UDF."""
    d = load_table(spark, sf_dir, "documents")
    bpe = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"
    return d.select(
        "doc_id",
        (F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1)
         .cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(bpe), 0))
         .cast("long").alias("bpe_ish_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0))
         .cast("long").alias("numeric_runs"),
    )


_ROLL_B, _ROLL_M = 131, 1_000_000_007


@register(
    "x4_doc_rolling_hash",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, length(text) + 1),
                              i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
             (acc, c) -> (acc * {_ROLL_B} + c) % {_ROLL_M}) AS rolling_hash,
           CAST(length(text) AS BIGINT) AS n_chars_hashed
    FROM documents WHERE doc_id < 100
    """,
)
def x4_doc_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint (driver mandate): fold
    h = (h*B + byte) mod M over the document characters -- pure higher-order
    aggregate, JVM-side, order-exact in both engines. B=131, M=1e9+7 keeps
    every intermediate within int64."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    # expr form: substring with a per-element dynamic position inside a
    # higher-order transform
    roll = F.expr(
        f"aggregate(transform(sequence(1, length(text)), "
        f"i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, c) -> (acc * {_ROLL_B} + c) % {_ROLL_M})")
    return d.select("doc_id", roll.alias("rolling_hash"),
                    F.length("text").cast("long").alias("n_chars_hashed"))


# Character-trigram language profiles (the mandate's n-gram heuristic).
# Corpus text is synthetic English-ish tokens; profiles are deterministic
# trigram sets, so the argmax plumbing is what's exercised.
_TRIGRAM_COLS = ["profile_lang", "trigram"]
_TRIGRAM_ROWS: list[tuple] = [
    ("en", "the"), ("en", "val"), ("en", "dat"), ("en", "ue "),
    ("es", "tab"), ("es", "row"), ("es", "a r"),
    ("de", "sch"), ("de", "win"), ("de", "bat"),
    ("fr", "que"), ("fr", "joi"), ("fr", "lin"),
    ("zh", "spa"), ("zh", "has"), ("zh", "sca"),
]


@register(
    "x4_lang_id_char_ngram",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id,
             substr(text, CAST(unnest(range(1, length(text) - 1)) AS INT), 3) AS g
      FROM documents),
    sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
    profiles AS (SELECT * FROM {values_sql(_TRIGRAM_ROWS, _TRIGRAM_COLS)}),
    hits AS (
      SELECT g.doc_id, p.profile_lang, COUNT(*) AS n_hits
      FROM grams g JOIN profiles p ON g.g = p.trigram
      GROUP BY g.doc_id, p.profile_lang),
    scored AS (
      SELECT h.doc_id, h.profile_lang, CAST(h.n_hits AS DOUBLE) / s.n_grams AS score
      FROM hits h JOIN sizes s ON h.doc_id = s.doc_id)
    SELECT doc_id, profile_lang AS predicted_lang, score FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, profile_lang) AS rn
      FROM scored)
    WHERE rn = 1
    """,
)
def x4_lang_id_char_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via character-trigram profile hit ratio (the n-gram
    variant of x4_lang_id_heuristic): explode sliding trigrams, join the
    broadcast profile dim, argmax per doc with alphabetical tie-break.

    r14 MEASURED AND KEPT AS-IS (guide §1 — measure before AND after):
    the per-row `_profile_argmax` rewrite that removed every shuffle from
    the stopword lang-ID face was tried here and measured 21 s vs 2.5 s
    at sf0.1 — higher-order array functions are CodegenFallback
    (interpreted per element), and the trigram array is one element per
    CHARACTER position, so interpretation overhead dwarfs the shuffle it
    saves. The explode shape keeps whole-stage codegen for the hash join
    + aggregates; its shuffled relations (per-doc sizes, doc×lang hits)
    are bounded by docs×|profiles|, fine at any scale."""
    d = load_table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"))
        .alias("g"))
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    profiles = local_df(spark, _TRIGRAM_ROWS,
                        "profile_lang string, trigram string")
    hits = (grams.join(F.broadcast(profiles), grams.g == profiles.trigram)
            .groupBy("doc_id", "profile_lang")
            .agg(F.count(F.lit(1)).alias("n_hits")))
    scored = (hits.join(sizes, "doc_id")
              .withColumn("score", F.col("n_hits").cast("double") / F.col("n_grams")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("profile_lang"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", F.col("profile_lang").alias("predicted_lang"),
                    "score"))


@register(
    "x4_heavy_hitters_cms",
    oracle=f"""
    WITH {_TOKENS}
    SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count,
           true AS cms_in_band
    FROM tokens GROUP BY token
    ORDER BY exact_count DESC, token
    LIMIT 20
    """,
)
def x4_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via Count-Min Sketch -- the mergeable frequency
    sketch for hot-token / hot-key detection at 100 TB: per-partition
    CMS partials merge associatively into one KB-sized table the driver
    (or a serving layer) probes, instead of a full token groupBy. The
    probe side lives off-cluster by design, so the sketch is built with
    the distributed count_min_sketch aggregate and the top-k candidates
    are probed driver-side through the JVM sketch reader.

    Gate-visible: exact top-20 token counts (oracle-checked, deterministic
    tie-break) plus a boolean asserting the CMS estimate honors its
    contract on every row -- never below the true count (CMS errs high by
    construction), and within eps * total_tokens above it. DuckDB has no
    CMS surface, so its boolean is literal true; an out-of-contract
    estimate flips the Spark boolean and fails the hash match.

    EAGER AT BUILD (ADVICE r2): the probe runs through the JVM sketch
    reader, so constructing this query executes the two distributed passes
    (sketch + top-k) and returns a local relation -- explain/plan-guard
    callers pay them too. The registry memo bounds this to once per
    (session, sf_dir, data snapshot); a data change under the path evicts
    the memoized local relation and rebuilds from the new corpus."""
    eps, conf = 0.001, 0.99
    t = _tokens_df(spark, sf_dir)
    [sk_row] = t.agg(F.count_min_sketch(
        "token", F.lit(eps), F.lit(conf), F.lit(42)).alias("sk")).collect()
    top_rows = (t.groupBy("token")
                .agg(F.count(F.lit(1)).alias("exact_count"))
                .orderBy(F.desc("exact_count"), F.asc("token"))
                .limit(20).collect())
    jvm = spark.sparkContext._jvm
    sketch = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(sk_row["sk"]))
    # total token count comes from the sketch itself (totalCount) -- no
    # extra corpus scan; the top-20 scan runs ONCE (collected) and the
    # returned relation is built from those rows, so executing it does not
    # re-tokenize the corpus. Two distributed passes total: sketch + top-k.
    slack = float(eps) * float(sketch.totalCount())
    out = [(r["token"], r["exact_count"],
            r["exact_count"] <= sketch.estimateCount(r["token"])
            <= r["exact_count"] + slack)
           for r in top_rows]
    return local_df(
        spark, out, "token string, exact_count long, cms_in_band boolean")


def _bucket_prefix_rank(sig: DataFrame, bucket: str, order, out: str,
                        spark: SparkSession) -> DataFrame:
    """Global row_number() without a global sort: rank within ``bucket``
    partitions (the bucket column is monotone in the global sort order by
    construction) and offset each bucket by the count of rows in all
    earlier buckets. The bucket-count table is clamp-bounded (<= a few
    thousand rows, independent of corpus size), so its prefix sum runs
    driver-side -- no unpartitioned WindowExec anywhere in the plan. Same
    decomposition as x5_shard_by_budget (llmprep.py), with the prefix sum
    pulled off the executors entirely."""
    counts = sorted(sig.groupBy(bucket).count().collect(),
                    key=lambda r: r[bucket])
    offs, acc = [], 0
    for r in counts:
        offs.append((r[bucket], acc))
        acc += r["count"]
    off_df = local_df(spark, offs, f"{bucket} int, _off_{out} long")
    ww = Window.partitionBy(bucket).orderBy(*order)
    return (sig.join(F.broadcast(off_df), bucket)
            .withColumn(out, F.col(f"_off_{out}") + F.row_number().over(ww))
            .drop(f"_off_{out}"))


@register(
    "x4_rank_fusion_rrf",
    oracle="""
    WITH sig AS (
      SELECT doc_id,
             length(text) AS n_chars,
             CASE WHEN len(list_filter(string_split(text, ' '),
                                       w -> w <> '')) > 0
                  THEN CAST(len(list_distinct(list_filter(
                         string_split(text, ' '), w -> w <> ''))) AS DOUBLE)
                       / len(list_filter(string_split(text, ' '),
                                         w -> w <> ''))
                  ELSE 0.0 END AS diversity
      FROM documents),
    ranked AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r_len,
             row_number() OVER (ORDER BY diversity DESC, doc_id) AS r_div
      FROM sig)
    SELECT doc_id,
           CAST(r_len AS BIGINT) AS r_len, CAST(r_div AS BIGINT) AS r_div,
           ROUND(1.0 / (60 + r_len) + 1.0 / (60 + r_div), 9) AS rrf
    FROM ranked
    ORDER BY rrf DESC, doc_id LIMIT 20
    """,
)
def x4_rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion -- the standard scoreless combiner for
    heterogeneous rankers (hybrid lexical+vector retrieval, multi-signal
    corpus curation): each signal contributes 1/(k + rank), so scales
    never need calibrating. Here two curation signals (document length,
    lexical diversity) fuse into one top-20; the same plan fuses any
    ranker pair -- e.g. x2_cosine_topk with x4_tf_rarity_topk per query.
    Deterministic: every rank tie-breaks on doc_id, fusion is one double
    expression.

    Scale shape (VERDICT r7 item 2): the oracle states each global rank as
    ONE unpartitioned row_number window, which on a cluster funnels the
    whole corpus through a single task. The Spark plan computes the
    identical ranks via the two-phase bucket-prefix decomposition proven in
    x5_shard_by_budget: quantize each sort key into a clamp-bounded bucket
    id that is monotone in the sort order (length DIV 64 clamped to 4096
    buckets; diversity quantized to 129 buckets), count rows per bucket
    (bounded table, prefix-summed driver-side), broadcast the offsets, and
    rank within each bucket under a PARTITIONED window. Ties across the
    clamp boundary stay exact because the within-bucket order is the full
    sort key. Hash-equality against the naive global-window oracle proves
    the decomposition exact."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    # empty/whitespace-only docs: diversity 0, never a 0/0 (ANSI mode)
    sig = track_persist(docs.select(
        "doc_id", F.length("text").alias("n_chars"),
        F.when(F.size(toks) > 0,
               F.size(F.array_distinct(toks)).cast("double") / F.size(toks))
        .otherwise(F.lit(0.0)).alias("diversity")).withColumn(
        # ascending bucket == descending n_chars; docs >= 4095*64 chars
        # share bucket 0 and order exactly within it. NULL text => length
        # NULL => bucket with the shortest docs; desc_nulls_last inside the
        # bucket matches the oracle's DESC NULLS LAST.
        "_b_len",
        (F.lit(4095) - F.least(F.coalesce(F.col("n_chars"), F.lit(0))
                               / F.lit(64), F.lit(4095)).cast("int"))
        .cast("int")).withColumn(
        "_b_div",
        F.floor((F.lit(1.0) - F.col("diversity")) * 128).cast("int")))
    ranked = _bucket_prefix_rank(
        sig, "_b_len", (F.desc("n_chars"), F.asc("doc_id")), "r_len", spark)
    ranked = _bucket_prefix_rank(
        ranked, "_b_div", (F.desc("diversity"), F.asc("doc_id")), "r_div",
        spark)
    rrf = (1.0 / (60 + F.col("r_len")) + 1.0 / (60 + F.col("r_div")))
    return (ranked.select("doc_id",
                          F.col("r_len").cast("long").alias("r_len"),
                          F.col("r_div").cast("long").alias("r_div"),
                          F.round(rrf, 9).alias("rrf"))
            .orderBy(F.desc("rrf"), F.asc("doc_id")).limit(20))


@register("x4_quality_classifier")  # trained model => rows-only
def x4_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering -- the fasttext-classifier shape real
    training-data pipelines layer on top of heuristics: label the heuristic
    EXTREMES (clearly-good / clearly-bad docs), train a logistic regression
    on cheap surface features, score EVERY doc with the model. The mid-band
    docs the heuristic can't call are exactly where the model adds signal.

    Scale shape: feature extraction is one narrow JVM pass; training
    reduces to a treeAggregate over the (small) labeled extremes; scoring
    is one broadcast of the coefficient vector. No per-row Python.
    Trained weights are Spark-internal => rows-only; separation/accuracy
    invariants are pinned in pytest (test_corpus_prep.py)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    n_toks = F.size(toks)
    # Empty/whitespace-only/NULL text => zero features, never a division:
    # ANSI mode (Spark 4 default) turns x/0 into a hard error, and a NULL
    # feature would crash VectorAssembler -- and junk docs are exactly what
    # a quality filter must score, not die on.
    feats = docs.select(
        "doc_id",
        F.coalesce(F.length("text").cast("double"), F.lit(0.0)).alias("f_len"),
        F.coalesce(n_toks.cast("double"), F.lit(0.0)).alias("f_tokens"),
        F.when(n_toks > 0, F.size(F.array_distinct(toks)) / n_toks)
        .otherwise(F.lit(0.0)).alias("f_distinct_ratio"),
        F.when(n_toks > 0,
               F.length(F.regexp_replace("text", " ", "")) / n_toks)
        .otherwise(F.lit(0.0)).alias("f_avg_token_len"))
    label = (F.when((F.col("f_len") >= 200) & (F.col("f_tokens") >= 40), 1.0)
             .when((F.col("f_len") < 120) | (F.col("f_tokens") < 24), 0.0))
    feats = feats.withColumn("label", label)
    asm = VectorAssembler(
        inputCols=["f_len", "f_tokens", "f_distinct_ratio", "f_avg_token_len"],
        outputCol="features")
    vec = asm.transform(feats)
    lr = LogisticRegression(maxIter=25, regParam=0.01, standardization=True)
    model = lr.fit(vec.filter(F.col("label").isNotNull()))
    # Score with the trained coefficients as plain column arithmetic (the
    # "broadcast the coefficient vector" shape above) instead of
    # model.transform: the ML transform closure captures the model WITH its
    # trainingSummary, which holds the SparkSession -- and fails task
    # serialization whenever the session carries non-serializable state
    # (e.g. an ObservationManager with registered observations). Four
    # multiplies + a sigmoid, fully inside codegen; same numbers.
    w = model.coefficients.toArray().tolist()
    margin = F.lit(float(model.intercept))
    for c, wi in zip(asm.getInputCols(), w):
        margin = margin + F.col(c) * F.lit(float(wi))
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    return feats.select(
        "doc_id", "label",
        F.round(prob, 6).alias("prob_good"),
        (prob > F.lit(0.5)).cast("long").alias("predicted_good"))


@register("x4_tfidf_mllib")  # hashed feature indices => rows-only
def x4_tfidf_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MLlib-native TF-IDF path (SURVEY §2.11 X4): HashingTF → IDF over
    token arrays; output is per-doc feature-vector stats (nnz, max weight).
    Complements the exact log-free tf-rarity ranking with the standard
    hashed pipeline used at corpus scale."""
    from pyspark.ml.feature import IDF, HashingTF

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda w: w != "").alias("tokens"))
    tf = HashingTF(inputCol="tokens", outputCol="tf", numFeatures=1 << 12)
    feat = tf.transform(toks)
    idf = IDF(inputCol="tf", outputCol="tfidf").fit(feat)
    out = idf.transform(feat)

    from pyspark.ml.functions import vector_to_array
    arr = vector_to_array("tfidf")
    return out.select(
        "doc_id",
        F.size(F.filter(arr, lambda x: x > 0)).alias("nnz"),
        F.round(F.array_max(arr), 6).alias("max_weight"))


@register(
    "x4_tfidf_mllib_equiv",
    oracle="""
    SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INTEGER) AS nnz,
           CAST(NULL AS DOUBLE) AS max_weight, CAST(NULL AS VARCHAR) AS only_in
    WHERE FALSE
    """,
)
def x4_tfidf_mllib_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-VISIBLE equivalence twin for the rows-only MLlib TF-IDF face
    (VERDICT r10 item 4, the r10 equivalence-face recipe): HashingTF's
    bucket ids are implementation-defined, so no DuckDB oracle can see
    them -- but they ARE reproducible inside the engine, because
    ml.feature.HashingTF's murmur3 term hash (seed 42 over the UTF-8
    bytes) is the same Murmur3Hash expression `F.hash` evaluates, and
    IDF's weighting is ln((N+1)/(df+1)) in plain JVM doubles. This face
    re-derives x4_tfidf_mllib's exact output (per-doc nnz + 6-dp max
    weight) from first principles with pure DataFrame ops -- explode,
    pmod(hash(token), 4096), two groupBys -- and emits the symmetric
    difference against a CONSTANT EMPTY oracle, promoting the rows-only
    face to a standing per-round driver assertion (rows-only residue:
    8 -> 7).

    Bit-exactness argument: bucket ids are equal by the shared murmur3;
    tf counts are equal integers; idf operands ((N+1), (df+1)) are equal
    doubles through java.lang.Math.log on both paths; each weight is one
    double multiply of identical operands -- so the 6-dp round compares
    identical doubles, not merely close ones. Zero-token docs surface as
    (nnz=0, max_weight=0.0) on both sides (dense-vector array_max on the
    MLlib side; the left-join coalesce here).

    Vacuity canary (the minhash-face precedent): if the MLlib side is
    empty on a non-empty corpus, a marker row ('EMPTY_MLLIB_OUTPUT')
    is emitted and fails the gate rather than passing vacuously.

    Plan shape: both sides are linear in the corpus -- one explode, token
    shuffles on (doc_id, bucket) then bucket; no pair joins; the df
    relation is 4096-bounded by construction (numFeatures)."""
    mllib = x4_tfidf_mllib(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    # IDF's numDocs counts every row, even empty -- exactly the parquet
    # footer count (r14: ~1 ms metadata read instead of a Spark job)
    n_docs = table_rowcount(spark, sf_dir, "documents")
    tok = (docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
           .filter(F.col("token") != ""))
    b = F.pmod(F.hash("token"), F.lit(1 << 12))
    tf = (tok.select("doc_id", b.alias("b"))
          .groupBy("doc_id", "b")
          .agg(F.count(F.lit(1)).cast("double").alias("tf")))
    df = tf.groupBy("b").agg(F.count(F.lit(1)).cast("double").alias("df"))
    w = tf.join(df, "b").select(
        "doc_id",
        (F.col("tf")
         * F.log((float(n_docs) + 1.0) / (F.col("df") + 1.0))).alias("w"))
    agg = w.groupBy("doc_id").agg(
        F.sum(F.when(F.col("w") > 0, 1).otherwise(0)).cast("int").alias("nnz"),
        F.round(F.greatest(F.max("w"), F.lit(0.0)), 6).alias("max_weight"))
    twin = (docs.select("doc_id").join(agg, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("nnz", F.lit(0)).alias("nnz"),
                    F.coalesce("max_weight", F.lit(0.0)).alias("max_weight")))
    diff = (mllib.exceptAll(twin).withColumn("only_in", F.lit("mllib"))
            .unionByName(twin.exceptAll(mllib)
                         .withColumn("only_in", F.lit("twin"))))
    canary = (mllib.agg(F.count(F.lit(1)).alias("n"))
              .filter(F.col("n") == 0)
              .select(F.lit(-1).cast("long").alias("doc_id"),
                      F.lit(-1).cast("int").alias("nnz"),
                      F.lit(-1.0).alias("max_weight"),
                      F.lit("EMPTY_MLLIB_OUTPUT").alias("only_in")))
    return diff.unionByName(canary)


@register(
    "x4_readability_bands",
    oracle="""
    WITH per_doc AS (
      SELECT doc_id, lang, source,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_words,
             greatest(length(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents,
             length(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll
      FROM documents),
    scored AS (
      SELECT lang, source,
             206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
                     - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE))
               AS flesch
      FROM per_doc WHERE n_words > 0)
    SELECT lang, source,
           CASE WHEN flesch >= 70.0 THEN 'easy'
                WHEN flesch >= 50.0 THEN 'medium' ELSE 'hard' END AS band,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM scored GROUP BY 1, 2, 3
    """,
)
def x4_readability_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability banding per (lang, source) -- the classic
    surface-level quality signal a pretraining filter cuts on (alongside the
    Gopher repetition stats and the length/punct quality score).

    Syllables are approximated as vowel-group runs and sentences as
    terminal-punctuation runs, so the whole score is three regex counts --
    one narrow JVM-side pass, then a tiny (lang, source, band) rollup. The
    score itself stays a raw double (identical IEEE ops from integer counts
    in both engines); only integer counts are aggregated, so the oracle is
    exact without decimal routing."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang", "source",
        F.size(F.filter(F.split("text", " "), lambda w: w != ""))
         .alias("n_words"),
        F.greatest(F.regexp_count("text", F.lit("[.!?]+")), F.lit(1))
         .alias("n_sents"),
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")).alias("n_syll"))
    flesch = (F.lit(206.835)
              - F.lit(1.015) * (F.col("n_words").cast("double")
                                / F.col("n_sents").cast("double"))
              - F.lit(84.6) * (F.col("n_syll").cast("double")
                               / F.col("n_words").cast("double")))
    scored = (per_doc.filter(F.col("n_words") > 0)
              .select("lang", "source", flesch.alias("flesch")))
    band = (F.when(F.col("flesch") >= 70.0, "easy")
            .when(F.col("flesch") >= 50.0, "medium").otherwise("hard"))
    return (scored.select("lang", "source", band.alias("band"))
            .groupBy("lang", "source", "band")
            .agg(F.count(F.lit(1)).alias("n_docs")))


_BM25_K1 = 1.2
_BM25_B = 0.75
# Deterministic multi-term query set drawn from the corpus vocabulary --
# literal strings so the face is self-contained on any corpus sharing the
# vocabulary (a corpus without these terms degrades to empty per-query
# hit sets, which both engines agree on).
_BM25_QUERIES = [(0, "spark join"), (1, "fast table scan"),
                 (2, "stream window batch")]
_BM25_Q_SQL = ", ".join(f"({i}, '{t}')" for i, q in _BM25_QUERIES
                        for t in q.split(" "))


# Shared BM25 scored-relation CTE (un-truncated per-(query, doc) rounded
# scores) -- the full-ranking face, the top-k face, and check.py's
# rank-boundary exposure all derive from this one statement.
_BM25_SCORED_CTE = f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents),
    tok_f AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    dlen AS (SELECT doc_id, COUNT(*) AS dl FROM tok_f GROUP BY doc_id),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                     CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
              FROM dlen),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM tok_f GROUP BY doc_id, token),
    df AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df
           FROM tf GROUP BY token),
    q(query_id, term) AS (VALUES {_BM25_Q_SQL}),
    hits AS (
      SELECT q.query_id, tf.doc_id,
             ln(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({_BM25_K1} + 1.0)
             / (tf.tf + {_BM25_K1}
                * (1.0 - {_BM25_B} + {_BM25_B} * dlen.dl / s.avgdl))
               AS part
      FROM q
      JOIN tf ON tf.token = q.term
      JOIN df ON df.token = q.term
      JOIN dlen ON dlen.doc_id = tf.doc_id
      CROSS JOIN stats s),
    scored AS (
      SELECT query_id, doc_id, ROUND(SUM(part), 9) AS bm25,
             CAST(COUNT(*) AS BIGINT) AS n_terms_hit
      FROM hits GROUP BY query_id, doc_id)
"""

_BM25_RANKED_SQL = _BM25_SCORED_CTE + """
    SELECT query_id, doc_id, bm25, n_terms_hit,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY bm25 DESC, doc_id) AS BIGINT)
             AS rnk
    FROM scored
    """


@register("x4_bm25_score", oracle=_BM25_RANKED_SQL)
def x4_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring over an inverted index (Robertson/Sparck
    Jones; k1=1.2, b=0.75) for a fixed multi-term query set --
    the lexical half of every production retrieval/dedup stack (the other
    half, embedding top-k + fusion, is x2_cosine_topk / x4_rank_fusion_rrf
    / x2_rerank_hybrid). Emits EVERY (query, matching doc) with its score
    and rank-on-rounded-score rather than a top-k truncation, so no
    rank-boundary cell rides the 9-dp rounding (ranking on the already-
    rounded value is deterministic in both engines; ties break on doc_id).

    Plan shape for 100 TB: the literal query-term filter is applied to
    the token stream BEFORE the tf/df aggregates (df restricted to the
    query terms is still each term's true document frequency), so the
    inverted-index shuffle carries only query-term postings and the df
    broadcast is |terms|-bounded BY CONSTRUCTION -- not a full-vocabulary
    broadcast, which grows with the corpus and would OOM under a forced
    hint at 100x (VERDICT r10). Only dlen/avgdl still aggregate the full
    token stream (document length needs every token); per-(query, doc)
    assembly shuffles only the hit relation. The natural-log IDF is
    evaluated identically in both engines; its last-ulp platform spread
    (~1e-16 relative) sits five orders below the 0.5e-9 rounding bin.

    Reference parity: the reference has no retrieval layer; this is part
    of the EXT training-data surface (SURVEY §2.11 X4) alongside TF
    rarity and RRF fusion."""
    scored = _bm25_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25"),
                                               F.asc("doc_id"))
    return scored.select(
        "query_id", "doc_id", "bm25", "n_terms_hit",
        F.row_number().over(w).cast("long").alias("rnk"))


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Un-truncated per-(query, doc) rounded BM25 scores -- the Spark twin
    of `_BM25_SCORED_CTE`, shared by the full-ranking and top-k faces."""
    tok = (load_table(spark, sf_dir, "documents")
           .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
           .filter(F.col("token") != ""))
    dlen = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dlen.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.sum("dl").cast("double")
         / F.count(F.lit(1))).alias("avgdl"))
    terms = sorted({t for _, qs in _BM25_QUERIES for t in qs.split(" ")})
    tok_q = tok.filter(F.col("token").isin(terms))
    tf = (tok_q.groupBy("doc_id", "token")
          .agg(F.count(F.lit(1)).cast("double").alias("tf")))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("df"))
    q = local_df(
        spark, [(i, t) for i, qs in _BM25_QUERIES for t in qs.split(" ")],
        "query_id int, term string")
    hits = (F.broadcast(q)
            .join(tf, tf.token == F.col("term"))
            .join(F.broadcast(df.withColumnRenamed("token", "dftok")),
                  F.col("dftok") == F.col("term"))
            .join(dlen, "doc_id")
            .crossJoin(F.broadcast(stats))
            .select(
                "query_id", "doc_id",
                (F.log(1.0 + (F.col("n") - F.col("df") + 0.5)
                       / (F.col("df") + 0.5))
                 * F.col("tf") * (_BM25_K1 + 1.0)
                 / (F.col("tf") + _BM25_K1
                    * (1.0 - _BM25_B
                       + _BM25_B * F.col("dl") / F.col("avgdl"))))
                .alias("part")))
    return (hits.groupBy("query_id", "doc_id")
            .agg(F.round(F.sum("part"), 9).alias("bm25"),
                 F.count(F.lit(1)).alias("n_terms_hit")))


_BM25_TOPK = 10


@register(
    "x4_bm25_topk",
    oracle=_BM25_RANKED_SQL.replace(
        "FROM scored", "FROM scored QUALIFY rnk <= 10"),
)
def x4_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 per-query TOP-K -- the production retrieval shape (VERDICT r10
    item 3). The full-ranking sibling (`x4_bm25_score`) emits every
    matching doc, which makes its final window per-query-partitioned over
    a potentially corpus-sized relation (3 partitions, each unbounded);
    this face truncates to k={_BM25_TOPK} with the two-phase top-k idiom
    (local winners per partition, then one global cut):

    1. LOCAL top-k: a window over (query_id, spark_partition_id()) keeps
       at most k rows per (query, partition). The shuffle key carries the
       partition id, so the sort parallelism is the cluster's, not
       |queries|; any global top-k row has local rank <= k in whichever
       partition holds it, so the prune is lossless regardless of row
       placement.
    2. GLOBAL top-k: the final per-query window runs over <= k x
       n_partitions surviving rows -- bounded, never corpus-sized. No
       single-partition global sort anywhere in the plan.

    Determinism at the rank-k boundary: ranking orders by the ALREADY
    9-dp-ROUNDED score with doc_id tie-break (both engines agree on the
    rounded value; the pre-round platform spread is ~1e-16 relative), and
    check.py's boundary audit exposes the rank-(k+1) inclusion cells
    (`bm25_topk_cells`) so a corpus that parks a score on a rounding-bin
    edge is pre-detected rather than a surprise hash FAIL."""
    scored = _bm25_scored(spark, sf_dir).withColumn(
        "pid", F.spark_partition_id())
    wl = Window.partitionBy("query_id", "pid") \
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
    pruned = (scored.withColumn("lrnk", F.row_number().over(wl))
              .filter(F.col("lrnk") <= _BM25_TOPK).drop("lrnk", "pid"))
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25"),
                                               F.asc("doc_id"))
    return (pruned.withColumn("rnk",
                              F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= _BM25_TOPK)
            .select("query_id", "doc_id", "bm25", "n_terms_hit", "rnk"))


# --- unigram-LM cross-entropy quality scoring (r11) --------------------------
# Perplexity-style quality filtering (the CCNet/CC-pipeline stage): score
# each HELD-OUT document by the per-token cross-entropy of a per-language
# add-one-smoothed unigram model fit on the TRAIN split (the same md5
# bucket split every split-aware face uses). High cross-entropy = the doc's
# vocabulary is unlike the training distribution (noise, wrong language,
# boilerplate soup) -- the standard cheap LM proxy used to filter corpora
# before the expensive model-based scorers.


def _ppl_oracle() -> str:
    from .dedup import _md5_int_sql
    h = _md5_int_sql("text", "duck")
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, {h} % 100 >= 80 AS heldout,
             unnest(string_split(text, ' ')) AS token
      FROM documents),
    tok AS (SELECT * FROM toks WHERE token <> ''),
    tf AS (SELECT doc_id, lang, heldout, token, COUNT(*) AS tf
           FROM tok GROUP BY doc_id, lang, heldout, token),
    model AS (SELECT lang, token, SUM(tf) AS c
              FROM tf WHERE NOT heldout GROUP BY lang, token),
    stats AS (SELECT lang, SUM(c) AS n, COUNT(*) AS v FROM model
              GROUP BY lang),
    scored AS (
      SELECT t.doc_id, t.lang,
             SUM(t.tf) AS n_tokens,
             SUM(CASE WHEN m.c IS NULL THEN t.tf ELSE 0 END) AS n_oov,
             -SUM(t.tf * ln((COALESCE(m.c, 0) + 1.0) / (s.n + s.v + 1.0)))
               / SUM(t.tf) AS ce
      FROM tf t
      LEFT JOIN model m ON t.lang = m.lang AND t.token = m.token
      JOIN stats s ON t.lang = s.lang
      WHERE t.heldout
      GROUP BY t.doc_id, t.lang)
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_oov AS BIGINT) AS n_oov,
           ROUND(ce, 9) AS cross_entropy
    FROM scored
    """


@register("x4_perplexity_unigram", oracle=_ppl_oracle())
def x4_perplexity_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram cross-entropy of each held-out doc under the train-split
    language model: p(t) = (c(t)+1) / (N+V+1) with add-one smoothing and
    a single OOV type (unseen tokens get 1/(N+V+1)); the emitted score is
    -sum(tf * ln p) / sum(tf) -- per-token nats, monotone in perplexity.

    Scale shape: the model is the per-language TRAIN term-frequency
    relation -- VOCABULARY-sized, so it is NOT broadcast (the BM25 df
    lesson): the attach is a plain equi-join on (lang, token) where the
    held-out tf side is eval-bounded, and the per-language (N, V) stats
    relation is |langs| rows. One tokenize pass feeds both the model and
    the scoring side.

    Float discipline: each summand is tf * ln of a rational of INTEGER
    counts -- identical operands on both engines; only sum order differs,
    so the face emits ROUND(ce, 9) with every cell exposed to the
    boundary audit (`ppl_cells`)."""
    from .dedup import _md5_int_sql
    docs = load_table(spark, sf_dir, "documents")
    tok = (docs.select(
        "doc_id", "lang",
        (F.expr(_md5_int_sql("text", "spark")) % 100 >= 80).alias("heldout"),
        F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != ""))
    tf = tok.groupBy("doc_id", "lang", "heldout", "token").agg(
        F.count(F.lit(1)).alias("tf"))
    model = (tf.filter(~F.col("heldout"))
             .groupBy("lang", "token").agg(F.sum("tf").alias("c")))
    stats = model.groupBy("lang").agg(F.sum("c").alias("n"),
                                      F.count(F.lit(1)).alias("v"))
    held = tf.filter(F.col("heldout")).drop("heldout")
    scored = (held
              .join(model, ["lang", "token"], "left")
              .join(stats, "lang")
              .groupBy("doc_id", "lang")
              .agg(F.sum("tf").alias("n_tokens"),
                   F.sum(F.when(F.col("c").isNull(), F.col("tf"))
                          .otherwise(0)).alias("n_oov"),
                   (-F.sum(F.col("tf")
                           * F.log((F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                                   / (F.col("n") + F.col("v") + 1.0)))
                    / F.sum("tf")).alias("ce")))
    return scored.select("doc_id", "lang",
                         F.col("n_tokens").cast("long").alias("n_tokens"),
                         F.col("n_oov").cast("long").alias("n_oov"),
                         F.round("ce", 9).alias("cross_entropy"))


# --- interpolated bigram-LM cross-entropy scoring (r12) -----------------------
# The unigram face's natural sibling: score each held-out doc under an
# INTERPOLATED bigram model fit on the train split -- lambda * p(cur|prev)
# + (1-lambda) * p_uni(cur), the Jelinek-Mercer smoothing every n-gram-LM
# quality filter (CCNet-style) actually uses, since raw bigram MLE assigns
# zero mass to unseen continuations. Context counts derive from the bigram
# model itself (cp = sum_cur cb), so the model is self-consistent.

_PPL2_LAMBDA = 0.7  # bigram weight; 0.3 falls back to the smoothed unigram


def _ppl2_oracle_cte() -> str:
    from .dedup import _md5_int_sql
    h = _md5_int_sql("text", "duck")
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, {h} % 100 >= 80 AS heldout,
             list_filter(string_split(text, ' '), x -> x <> '') AS l
      FROM documents),
    big AS (
      SELECT doc_id, lang, heldout, l[i] AS prev, l[i+1] AS cur
      FROM toks, unnest(range(1, len(l))) AS t(i)
      WHERE len(l) >= 2),
    btf AS (SELECT doc_id, lang, heldout, prev, cur, COUNT(*) AS tf
            FROM big GROUP BY doc_id, lang, heldout, prev, cur),
    bi_model AS (SELECT lang, prev, cur, SUM(tf) AS cb
                 FROM btf WHERE NOT heldout GROUP BY lang, prev, cur),
    ctx AS (SELECT lang, prev, SUM(cb) AS cp
            FROM bi_model GROUP BY lang, prev),
    uni AS (SELECT lang, token, COUNT(*) AS c FROM (
              SELECT lang, heldout, unnest(l) AS token FROM toks)
            WHERE NOT heldout GROUP BY lang, token),
    stats AS (SELECT lang, SUM(c) AS n, COUNT(*) AS v FROM uni
              GROUP BY lang),
    scored AS (
      SELECT t.doc_id, t.lang,
             SUM(t.tf) AS n_bigrams,
             SUM(CASE WHEN m.cb IS NULL THEN t.tf ELSE 0 END) AS n_unseen,
             -SUM(t.tf * ln(
                 {_PPL2_LAMBDA} * (CAST(COALESCE(m.cb, 0) AS DOUBLE)
                                   / CAST(COALESCE(x.cp, 1) AS DOUBLE))
               + {1.0 - _PPL2_LAMBDA} * ((CAST(COALESCE(u.c, 0) AS DOUBLE)
                                          + 1.0) / (s.n + s.v + 1.0))))
               / SUM(t.tf) AS ce
      FROM btf t
      LEFT JOIN bi_model m
        ON t.lang = m.lang AND t.prev = m.prev AND t.cur = m.cur
      LEFT JOIN ctx x ON t.lang = x.lang AND t.prev = x.prev
      LEFT JOIN uni u ON t.lang = u.lang AND t.cur = u.token
      JOIN stats s ON t.lang = s.lang
      WHERE t.heldout
      GROUP BY t.doc_id, t.lang)
"""


@register(
    "x4_perplexity_bigram",
    oracle=_ppl2_oracle_cte() + """
    SELECT doc_id, lang, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(n_unseen AS BIGINT) AS n_unseen_bigrams,
           ROUND(ce, 9) AS cross_entropy
    FROM scored
    """,
)
def x4_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram cross-entropy of each held-out doc under the
    train-split LM: p(cur|prev) = 0.7 * cb(prev,cur)/cp(prev)
    + 0.3 * (c(cur)+1)/(N+V+1) (Jelinek-Mercer over the add-one unigram
    -- unseen contexts fall back entirely to the unigram term, so p > 0
    always and ln is total). Catches what the unigram face cannot:
    shuffled or word-salad text with an in-vocabulary unigram profile
    scores near the unigram model but FAR from the bigram one (pinned by
    the shuffle-monotonicity pytest).

    Scale shape: the bigram model is a CORPUS-VOCABULARY-sized relation
    -- never broadcast (the BM25/unigram lesson); all three model
    attaches are plain equi-joins on (lang, gram) keys where the scoring
    side is eval-bounded; context counts cp ride a groupBy of the bigram
    model already built (no second corpus pass); one tokenize pass feeds
    bigram + unigram models and the scoring side.

    Float discipline: each summand is tf * ln of a FIXED arithmetic tree
    over integer counts (identical operands and operator order on both
    engines -- the literals 0.7/0.3 parse to the same doubles); only the
    final sum order differs, so the face emits ROUND(ce, 9) with every
    cell exposed to the boundary audit (`ppl2_cells`)."""
    from .dedup import _md5_int_sql
    lam = _PPL2_LAMBDA
    docs = load_table(spark, sf_dir, "documents")
    toks = (docs.select(
        "doc_id", "lang",
        (F.expr(_md5_int_sql("text", "spark")) % 100 >= 80).alias("heldout"),
        F.filter(F.split("text", " "), lambda x: x != "").alias("l"))
        .filter(F.size("l") >= 1))
    big = (toks.filter(F.size("l") >= 2)
           .select("doc_id", "lang", "heldout",
                   F.explode(F.expr(
                       "transform(sequence(0, size(l) - 2),"
                       " i -> struct(l[i] AS prev, l[i+1] AS cur))"))
                    .alias("s"))
           .select("doc_id", "lang", "heldout",
                   F.col("s.prev").alias("prev"),
                   F.col("s.cur").alias("cur")))
    btf = big.groupBy("doc_id", "lang", "heldout", "prev", "cur").agg(
        F.count(F.lit(1)).alias("tf"))
    bi_model = (btf.filter(~F.col("heldout"))
                .groupBy("lang", "prev", "cur")
                .agg(F.sum("tf").alias("cb")))
    ctx = bi_model.groupBy("lang", "prev").agg(F.sum("cb").alias("cp"))
    uni = (toks.filter(~F.col("heldout"))
           .select("lang", F.explode("l").alias("token"))
           .groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c")))
    stats = uni.groupBy("lang").agg(F.sum("c").alias("n"),
                                    F.count(F.lit(1)).alias("v"))
    held = btf.filter(F.col("heldout")).drop("heldout")
    p = (F.lit(lam)
         * (F.coalesce(F.col("cb"), F.lit(0)).cast("double")
            / F.coalesce(F.col("cp"), F.lit(1)).cast("double"))
         + F.lit(1.0 - lam)
         * ((F.coalesce(F.col("c"), F.lit(0)).cast("double") + 1.0)
            / (F.col("n") + F.col("v") + 1.0)))
    scored = (held
              .join(bi_model, ["lang", "prev", "cur"], "left")
              .join(ctx, ["lang", "prev"], "left")
              .join(uni.withColumnRenamed("token", "cur"),
                    ["lang", "cur"], "left")
              .join(stats, "lang")
              .groupBy("doc_id", "lang")
              .agg(F.sum("tf").alias("n_bigrams"),
                   F.sum(F.when(F.col("cb").isNull(), F.col("tf"))
                          .otherwise(0)).alias("n_unseen"),
                   (-F.sum(F.col("tf") * F.log(p)) / F.sum("tf"))
                   .alias("ce")))
    return scored.select(
        "doc_id", "lang",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("n_unseen").cast("long").alias("n_unseen_bigrams"),
        F.round("ce", 9).alias("cross_entropy"))


# --- driver-visible LR-classifier invariant (r12) -----------------------------

_QC_ACC_MIN = 0.85  # per-class accuracy floor for the driver assertion
_QC_SEP_MIN = 0.5   # mean-probability separation floor
# Bounds are deliberately LOOSER than the pytest pins (0.95 / 0.5 at the
# pinned corpora): LBFGS training folds gradients via treeAggregate, so
# coefficients move at the last float digits with partitioning, and on a
# drill corpus with a 29-doc labeled class one boundary doc is 3.4% of
# class accuracy. Measured margins r12: acc >= 0.9655, sep >= 0.786
# across sf0.001 / sf0.01 / both r11 drill corpora -- the floors sit 3+
# misclassifications / 0.28 nats away from every observed corpus.


@register(
    "x4_quality_classifier_invariant",
    oracle="""
    SELECT CAST(NULL AS VARCHAR) AS violation,
           CAST(NULL AS DOUBLE) AS metric_good,
           CAST(NULL AS DOUBLE) AS metric_bad
    WHERE FALSE
    """,
)
def x4_quality_classifier_invariant(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """DRIVER-VISIBLE invariant assertion for the rows-only trained
    LR-classifier face (VERDICT r11 item 8 -- the x2_coreset_radius_bound
    recipe applied to the last substantive rows-only resident). An exact
    equivalence twin was evaluated and declined with reason (iterative
    LBFGS has no closed-form re-derivation and partitioning-sensitive
    convergence); what IS partition-insensitive is the ORDERING invariant
    the pytest pins: heuristic-extreme docs must score on the correct
    side of the midpoint and the two labeled classes must separate in
    mean predicted probability. This face computes those aggregates from
    the classifier's own output and emits a violation row against a
    CONSTANT EMPTY oracle when a floor is broken, promoting the
    sf0.001-only pytest pin to a standing per-corpus driver assertion.

    Vacuity canary: a corpus where either labeled class is EMPTY (the
    heuristic labeled nothing -- the invariant would pass vacuously)
    emits an EMPTY_LABELED_CLASS marker row that fails the gate.

    Plan shape: the classifier face's own lineage (treeAggregate fit +
    one codegen scoring pass) + one 1-row aggregate over the labeled
    rows; nothing new moves."""
    scored = x4_quality_classifier(spark, sf_dir)
    lab = scored.filter(F.col("label").isNotNull())
    [r] = (lab.agg(
        F.count(F.when(F.col("label") == 1.0, 1)).alias("n_hi"),
        F.count(F.when(F.col("label") == 0.0, 1)).alias("n_lo"),
        F.avg(F.when(F.col("label") == 1.0,
                     (F.col("prob_good") >= 0.5).cast("double")))
         .alias("acc_hi"),
        F.avg(F.when(F.col("label") == 0.0,
                     (F.col("prob_good") < 0.5).cast("double")))
         .alias("acc_lo"),
        F.avg(F.when(F.col("label") == 1.0, F.col("prob_good")))
         .alias("mu_hi"),
        F.avg(F.when(F.col("label") == 0.0, F.col("prob_good")))
         .alias("mu_lo"),
        F.count(F.when((F.col("prob_good") < 0.0)
                       | (F.col("prob_good") > 1.0), 1))
         .alias("n_oob")).collect())
    rows = []
    if not r["n_hi"] or not r["n_lo"]:
        rows.append(("EMPTY_LABELED_CLASS",
                     float(r["n_hi"] or 0), float(r["n_lo"] or 0)))
    else:
        if r["acc_hi"] < _QC_ACC_MIN or r["acc_lo"] < _QC_ACC_MIN:
            rows.append(("ACCURACY_BELOW_FLOOR",
                         float(r["acc_hi"]), float(r["acc_lo"])))
        if r["mu_hi"] - r["mu_lo"] < _QC_SEP_MIN:
            rows.append(("SEPARATION_BELOW_FLOOR",
                         float(r["mu_hi"]), float(r["mu_lo"])))
    if r["n_oob"]:
        rows.append(("PROB_OUT_OF_RANGE", float(r["n_oob"]), 0.0))
    return local_df(
        spark, rows, "violation string, metric_good double, metric_bad double")


# --- Zipf / Heaps corpus diagnostics (r12) ------------------------------------

_ZIPF_TOPK = 1000  # rank-frequency regression depth per language


def _zipf_oracle_cte() -> str:
    return f"""
    WITH tok AS (
      SELECT lang, unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS token
      FROM documents),
    tf AS (SELECT lang, token, COUNT(*) AS c FROM tok GROUP BY lang, token),
    ranked AS (
      SELECT lang, c,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY c DESC, token) AS r
      FROM tf),
    top AS (SELECT lang, c, r FROM ranked WHERE r <= {_ZIPF_TOPK}),
    sums AS (
      SELECT lang, COUNT(*) AS k,
             SUM(ln(r)) AS sx, SUM(ln(c)) AS sy,
             SUM(ln(r) * ln(r)) AS sxx, SUM(ln(r) * ln(c)) AS sxy
      FROM top GROUP BY lang),
    stats AS (SELECT lang, COUNT(*) AS v, SUM(c) AS n FROM tf
              GROUP BY lang),
    scored AS (
      SELECT s.lang, st.n, st.v,
             CASE WHEN s.k * s.sxx - s.sx * s.sx = 0 THEN NULL
                  ELSE (s.k * s.sxy - s.sx * s.sy)
                       / (s.k * s.sxx - s.sx * s.sx) END AS slope
      FROM sums s JOIN stats st ON s.lang = st.lang)
"""


@register(
    "x4_zipf_heaps_stats",
    oracle=_zipf_oracle_cte() + """
    SELECT lang, CAST(n AS BIGINT) AS n_tokens, CAST(v AS BIGINT) AS n_types,
           ROUND(slope, 6) AS zipf_slope
    FROM scored
    """,
)
def x4_zipf_heaps_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-law diagnostics per language: token count N and type count V
    (the Heaps'-law pair every dataset card reports) plus the ZIPF SLOPE
    -- the least-squares slope of ln(freq) on ln(rank) over the top-1000
    types. Natural text sits near -1; a slope collapsing toward 0 flags
    boilerplate floods, template spam, or tokenizer damage BEFORE the
    expensive quality models run -- the cheap distribution-shape tripwire
    a curation pipeline wants per ingest batch.

    Scale shape: one tokenize pass -> per-(lang, token) counts (map-side
    combine); ranking uses the bm25_topk two-phase local-winners idiom --
    a window over (lang, partition) keeps <= K rows per partition
    losslessly before the per-language window runs over <= K x
    n_partitions survivors, so no vocabulary-sized single-task sort; the
    regression is one 1-row-per-language aggregate over <= K ranked rows.

    Float discipline: ln(rank) and ln(count) are transcendentals of the
    same INTEGERS on both engines (bit-identical per-row); only the
    regression sums' fold order differs, so the face emits
    ROUND(slope, 6) with the pre-round slopes exposed to the boundary
    audit (`zipf_cells`). The degenerate one-type language (zero rank
    variance) yields NULL on both engines rather than a division error."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang",
        F.explode(F.filter(F.split("text", " "), lambda x: x != ""))
         .alias("token"))
    tf = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c"))
    stats = tf.groupBy("lang").agg(F.count(F.lit(1)).alias("v"),
                                   F.sum("c").alias("n"))
    scored = tf.withColumn("pid", F.spark_partition_id())
    wl = (Window.partitionBy("lang", "pid")
          .orderBy(F.desc("c"), F.asc("token")))
    pruned = (scored.withColumn("lrnk", F.row_number().over(wl))
              .filter(F.col("lrnk") <= _ZIPF_TOPK).drop("lrnk", "pid"))
    w = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("token"))
    top = (pruned.withColumn("r", F.row_number().over(w))
           .filter(F.col("r") <= _ZIPF_TOPK))
    lnr, lnc = F.log(F.col("r").cast("double")), F.log("c")
    sums = top.groupBy("lang").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(lnr).alias("sx"), F.sum(lnc).alias("sy"),
        F.sum(lnr * lnr).alias("sxx"), F.sum(lnr * lnc).alias("sxy"))
    den = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(den == 0, F.lit(None).cast("double")).otherwise(
        (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / den)
    return (sums.join(stats, "lang")
            .select("lang",
                    F.col("n").cast("long").alias("n_tokens"),
                    F.col("v").cast("long").alias("n_types"),
                    F.round(slope, 6).alias("zipf_slope")))
