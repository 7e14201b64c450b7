"""Custom stateful streaming operator (SURVEY.md §2.9 / §2.10): per-user
value-threshold batching.

Semantics: process each user's events in (ts, event_id) order, accumulating
``value``; the moment the running total reaches >= 100.0 the current batch
CLOSES (the crossing event belongs to it) and the next event starts a fresh
batch. This is the canonical "cumulative reset" shape -- NOT expressible
with session_window / any built-in window function (the reset point depends
on the running value itself, so a single window pass can't place it;
SQL needs recursion). It models the reference orchestrator's stateful
linear DAG (orchestration/orchestrator.py:189-215 advances phase state per
document) generalized to a keyed stream, and is exactly the micro-batching
a training-data pipeline does when packing variable-cost items into
fixed-budget requests.

Three faces, one kernel:

- ``threshold_batches_pdf`` -- the per-user pandas kernel (pure, tested).
- ``st_stateful_threshold_batches`` -- batch twin: ``groupBy(user_id)
  .applyInPandas(kernel)``. One shuffle on user_id; each group is a linear
  scan with O(1) live state. Oracle = DuckDB recursive CTE walking the same
  (ts, event_id) order -- both sides do the *sequential* IEEE-double
  accumulation in the same order, so acc values (and the >= 100.0 branch
  decisions) are bit-identical with no decimal detour.
- ``streaming_threshold_batches`` -- the live plan:
  ``applyInPandasWithState`` with (acc, n_events, batch_id) state per user,
  emitting a row per CLOSED batch (append semantics); open batches stay in
  state. tests/test_streaming.py drains it with availableNow over a
  two-file source (maxFilesPerTrigger=1) so state provably carries across
  micro-batches and still matches the batch twin's closed set.

Scale: state per user is three scalars -- a billion users is ~GBs of state
spread over the cluster, and Spark's state store checkpoints it
incrementally. The batch twin's only data movement is the single hash
shuffle on user_id; within a group the kernel streams rows through Arrow in
one pass. Skew caveat: one pathological user = one task, the standard
sessionization trade-off (mitigate upstream with a per-user time-slice
pre-split if a key can exceed a partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.registry import register

THRESHOLD = 100.0

_OUT_SCHEMA = ("user_id long, batch_id long, n_events long, "
               "batch_value double, closed boolean")


def threshold_batches_pdf(pdf, *, closed_only: bool = False):
    """Pure pandas kernel: events for ONE user -> one row per batch.

    Sorts by (ts, event_id), accumulates value left-to-right, closes a
    batch when the running total reaches THRESHOLD. Returns columns
    matching _OUT_SCHEMA. Sequential float adds -- order is the contract.
    """
    import pandas as pd

    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    uid = int(pdf["user_id"].iloc[0])
    rows = []
    acc, n, bid = 0.0, 0, 1
    for v in pdf["value"].astype("float64"):
        acc += float(v)
        n += 1
        if acc >= THRESHOLD:
            rows.append((uid, bid, n, acc, True))
            acc, n, bid = 0.0, 0, bid + 1
    if n and not closed_only:
        rows.append((uid, bid, n, acc, False))
    return pd.DataFrame(
        rows, columns=["user_id", "batch_id", "n_events",
                       "batch_value", "closed"])


@register(
    "st_stateful_threshold_batches",
    oracle="""
    WITH RECURSIVE ev AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    rec AS (
      SELECT user_id, rn, value AS acc, CAST(1 AS BIGINT) AS batch_id
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn,
             CASE WHEN r.acc >= 100.0 THEN e.value
                  ELSE r.acc + e.value END AS acc,
             CASE WHEN r.acc >= 100.0 THEN r.batch_id + 1
                  ELSE r.batch_id END AS batch_id
      FROM rec r
      JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1
    )
    SELECT user_id, batch_id,
           COUNT(*) AS n_events,
           MAX(acc) AS batch_value,
           MAX(acc) >= 100.0 AS closed
    FROM rec
    GROUP BY user_id, batch_id
    """,
)
def st_stateful_threshold_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stateful threshold-batching operator.

    The oracle's recursive CTE steps one event at a time per user --
    identical order, identical double arithmetic. batch_value = MAX(acc)
    works because values are strictly positive (events.value >= 0.01), so
    acc is increasing within a batch and MAX picks the closing total.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value")
    return ev.groupBy("user_id").applyInPandas(
        threshold_batches_pdf, schema=_OUT_SCHEMA)


def streaming_threshold_batches(spark: SparkSession, sf_dir: str,
                                source: DataFrame | None = None) -> DataFrame:
    """Live applyInPandasWithState plan: emits each batch the moment it
    closes; the open tail of every user's stream rides in state.

    State = (acc, n_events, batch_id); within a micro-batch rows are
    processed in (ts, event_id) order, so with an in-order source the
    closed-batch output is identical to the batch twin's closed rows.
    ``source`` lets tests inject a multi-file stream (maxFilesPerTrigger=1)
    to prove state survives micro-batch boundaries.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .structured import stream_events

    def step(key, pdfs, state: GroupState):
        uid = int(key[0])
        acc, n, bid = state.get if state.exists else (0.0, 0, 1)
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            for v in pdf["value"].astype("float64"):
                acc += float(v)
                n += 1
                if acc >= THRESHOLD:
                    out.append((uid, bid, n, acc, True))
                    acc, n, bid = 0.0, 0, bid + 1
        state.update((acc, n, bid))
        yield pd.DataFrame(
            out, columns=["user_id", "batch_id", "n_events",
                          "batch_value", "closed"])

    ev = (source if source is not None
          else stream_events(spark, sf_dir)).select(
        "user_id", "event_id", "ts", "value")
    return ev.groupBy("user_id").applyInPandasWithState(
        step,
        outputStructType=_OUT_SCHEMA,
        stateStructType="acc double, n_events long, batch_id long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout)


# ---------------------------------------------------------------------------
# transformWithState face (Spark 4 arbitrary-state API): per-user running
# totals. Complements the applyInPandasWithState operator above with the
# modern processor-class API (typed ValueState, update semantics).
# ---------------------------------------------------------------------------

_RT_SCHEMA = ("user_id long, event_id long, ts timestamp, "
              "running_value double, n_events long")


@register(
    "st_tws_running_totals",
    oracle="""
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           CAST(SUM(CAST(value AS DECIMAL(28,6)))
                OVER (PARTITION BY user_id
                      ORDER BY CAST(ts AS TIMESTAMP), event_id
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value,
           CAST(COUNT(*) OVER (PARTITION BY user_id
                               ORDER BY CAST(ts AS TIMESTAMP), event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_events
    FROM events
    """,
)
def st_tws_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the transformWithState running-totals operator: one
    row PER EVENT carrying the user's running value total and event count
    in (ts, event_id) order -- the update-mode view a feature store or
    fraud scorer keeps per entity. The running sum routes through
    DECIMAL(28,6) (order-independent addition) so batch, streaming, and
    oracle agree bit-identically; one shuffle+sort on user_id serves both
    window functions."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return ev.select(
        "user_id", "event_id", "ts",
        F.sum(F.col("value").cast("decimal(28,6)")).over(w)
         .cast("double").alias("running_value"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_events"))


def streaming_running_totals_tws(spark: SparkSession, sf_dir: str,
                                 source: DataFrame | None = None) -> DataFrame:
    """Live transformWithStateInPandas plan (Spark 4 StatefulProcessor).

    State per user = (micros, n): the running total in exact integer
    micro-units plus the event count. Each input row emits an updated
    (running_value, n_events) snapshot (update semantics). Accumulating in
    integer micros -- each double quantized through its shortest decimal
    representation exactly like Spark's double->DECIMAL(28,6) cast -- keeps
    the emitted doubles bit-identical to the batch twin's decimal window
    sum regardless of arrival batching. Within a micro-batch rows are
    processed in (ts, event_id) order; ValueState carries totals across
    micro-batches (proven in tests with a 2-file maxFilesPerTrigger=1
    source). Scale: two longs per user in the state store; output is
    append-shaped per input row, so no state ever rescans history.

    Environment gate: transformWithState's Python state-server client
    speaks protobuf. A real installation is used when present; otherwise
    the repo's clean-room wire-format shim (vendor/pbshim, r4) is
    installed on the driver path and shipped to workers via addPyFile --
    this container has no protobuf distribution, so the shim is what
    un-gated the live faces. The batch twin above is unaffected."""
    from .pbcompat import ensure_protobuf

    ensure_protobuf(spark)
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import LongType, StructField, StructType

    from .structured import stream_events

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            schema = StructType([StructField("micros", LongType()),
                                 StructField("n", LongType())])
            self._acc = handle.getValueState("acc", schema)

        def handleInputRows(self, key, rows, timerValues):
            from decimal import ROUND_HALF_UP, Decimal

            micros, n = self._acc.get() if self._acc.exists() else (0, 0)
            uid = int(key[0])
            out = []
            # One sort over the whole per-key micro-batch: a key whose
            # batch spans multiple Arrow chunks (maxRecordsPerBatch) must
            # still process in global (ts, event_id) order, not merely
            # within each chunk (ADVICE r4). Memory profile: this
            # materializes one KEY's micro-batch at once (not the whole
            # partition) — bounded by per-key arrival rate x trigger
            # interval. If a hot key ever outgrows executor memory, swap
            # for heapq.merge over per-chunk pre-sorted frames (ADVICE r5).
            chunks = [c for c in rows if len(c)]
            if chunks:
                pdf = pd.concat(chunks, ignore_index=True).sort_values(
                    ["ts", "event_id"], kind="mergesort")
                for eid, ts, v in zip(pdf["event_id"], pdf["ts"],
                                      pdf["value"]):
                    micros += int(Decimal(repr(float(v))).scaleb(6)
                                  .to_integral_value(ROUND_HALF_UP))
                    n += 1
                    out.append((uid, int(eid), ts, micros / 1e6, n))
            self._acc.update((micros, n))
            yield pd.DataFrame(
                out, columns=["user_id", "event_id", "ts",
                              "running_value", "n_events"])

        def close(self) -> None:
            pass

    ev = (source if source is not None
          else stream_events(spark, sf_dir)).select(
        "user_id", "event_id", "ts", "value")
    return ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType=_RT_SCHEMA,
        outputMode="Update",
        timeMode="None")


_RW_SCHEMA = ("user_id long, event_id long, ts timestamp, "
              "sum_last3 double, max_last3 double, n_last3 long")


@register(
    "st_tws_recent_list_window",
    oracle="""
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           CAST(SUM(CAST(value AS DECIMAL(28,6)))
                OVER (PARTITION BY user_id
                      ORDER BY CAST(ts AS TIMESTAMP), event_id
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS sum_last3,
           MAX(value) OVER (PARTITION BY user_id
                            ORDER BY CAST(ts AS TIMESTAMP), event_id
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
               AS max_last3,
           CAST(COUNT(*) OVER (PARTITION BY user_id
                               ORDER BY CAST(ts AS TIMESTAMP), event_id
                               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_last3
    FROM events
    """,
)
def st_tws_recent_list_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the ListState transformWithState operator: per event,
    the sum/max/count over the user's LAST 3 events in (ts, event_id)
    order -- the bounded recent-window feature a ListState ring buffer
    maintains per entity in streaming (VERDICT r2 item 5: the second twin
    exercising ListState + timer semantics; the live face below carries
    the full processor shape but is protobuf-gated in this container).
    Decimal sum keeps batch/stream/oracle bit-identical; no division is
    emitted (engines disagree on decimal quotient rounding)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-2, Window.currentRow))
    return ev.select(
        "user_id", "event_id", "ts",
        F.sum(F.col("value").cast("decimal(28,6)")).over(w)
         .cast("double").alias("sum_last3"),
        F.max("value").over(w).alias("max_last3"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_last3"))


def streaming_recent_list_window_tws(spark: SparkSession, sf_dir: str,
                                     source: DataFrame | None = None
                                     ) -> DataFrame:
    """Live ListState + timer face of st_tws_recent_list_window
    (transformWithStateInPandas, Spark 4 StatefulProcessor).

    State per user = a ListState ring buffer of the last 3 (micros, ts)
    items (appendValue on arrival, trimmed by rewriting via put); each row
    emits the buffer's sum/max/count -- bit-identical to the batch twin's
    decimal window because micros are exact integers. An event-time timer
    (registered per user at last_ts + 1h through TimerValues) clears idle
    users' buffers, demonstrating handleExpiredTimer-driven state GC; the
    cleanup only fires AFTER a user's last event, so emitted rows are
    unaffected and batch parity holds.

    Environment gate: same protobuf requirement as
    streaming_running_totals_tws; satisfied by a real installation or the
    repo's vendor/pbshim wire-format shim (see pbcompat)."""
    from .pbcompat import ensure_protobuf

    ensure_protobuf(spark)
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import LongType, StructField, StructType

    from .structured import stream_events

    class RecentWindow(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            item = StructType([StructField("micros", LongType()),
                               StructField("ts_micros", LongType())])
            self._recent = handle.getListState("recent", item)
            self._handle = handle

        def handleInputRows(self, key, rows, timerValues):
            from decimal import ROUND_HALF_UP, Decimal

            buf = [tuple(r) for r in self._recent.get()]
            uid = int(key[0])
            out = []
            last_ts = None
            # Whole-batch sort, not per-Arrow-chunk (ADVICE r4): keeps
            # parity with the batch twin regardless of arrival batching.
            chunks = [c for c in rows if len(c)]
            if chunks:
                pdf = pd.concat(chunks, ignore_index=True).sort_values(
                    ["ts", "event_id"], kind="mergesort")
                for eid, ts, v in zip(pdf["event_id"], pdf["ts"],
                                      pdf["value"]):
                    micros = int(Decimal(repr(float(v))).scaleb(6)
                                 .to_integral_value(ROUND_HALF_UP))
                    buf = (buf + [(micros, int(ts.value // 1000))])[-3:]
                    out.append((uid, int(eid), ts,
                                sum(m for m, _ in buf) / 1e6,
                                max(m for m, _ in buf) / 1e6, len(buf)))
                    last_ts = ts
            self._recent.put([list(x) for x in buf])
            if last_ts is not None:
                # registerTimer expects epoch MILLISECONDS (PySpark 4):
                # ns // 1e6 -> ms, then + 1h in ms. (ADVICE r3: the old
                # (ms + 3600) * 1000 form landed ~1000x past the epoch and
                # the idle-GC timer never fired.)
                self._handle.registerTimer(
                    int(last_ts.value // 1_000_000) + 3_600_000)
            yield pd.DataFrame(
                out, columns=["user_id", "event_id", "ts",
                              "sum_last3", "max_last3", "n_last3"])

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            self._recent.clear()
            yield pd.DataFrame(
                [], columns=["user_id", "event_id", "ts",
                             "sum_last3", "max_last3", "n_last3"])

        def close(self) -> None:
            pass

    ev = (source if source is not None
          else stream_events(spark, sf_dir)).select(
        "user_id", "event_id", "ts", "value")
    return ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RecentWindow(),
        outputStructType=_RW_SCHEMA,
        outputMode="Update",
        timeMode="EventTime")


_MC_SCHEMA = ("user_id long, event_id long, ts timestamp, "
              "event_type string, n_type long, sum_type double")


@register(
    "st_tws_map_category_totals",
    oracle="""
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
           CAST(COUNT(*) OVER (PARTITION BY user_id, event_type
                               ORDER BY CAST(ts AS TIMESTAMP), event_id)
                AS BIGINT) AS n_type,
           CAST(SUM(CAST(value AS DECIMAL(28,6)))
                OVER (PARTITION BY user_id, event_type
                      ORDER BY CAST(ts AS TIMESTAMP), event_id)
                AS DOUBLE) AS sum_type
    FROM events
    """,
)
def st_tws_map_category_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the MapState transformWithState operator (r4,
    completing the typed-state triad Value/List/Map): per event, the
    running count and decimal running sum WITHIN the user's event_type --
    the per-entity-per-category accumulator a MapState keyed by category
    maintains in streaming. Decimal accumulation keeps batch / stream /
    oracle bit-identical."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value")
    w = (Window.partitionBy("user_id", "event_type")
         .orderBy("ts", "event_id"))
    return ev.select(
        "user_id", "event_id", "ts", "event_type",
        F.count(F.lit(1)).over(w).cast("long").alias("n_type"),
        F.sum(F.col("value").cast("decimal(28,6)")).over(w)
         .cast("double").alias("sum_type"))


def streaming_category_totals_tws(spark: SparkSession, sf_dir: str,
                                  source: DataFrame | None = None
                                  ) -> DataFrame:
    """Live MapState face of st_tws_map_category_totals
    (transformWithStateInPandas, Spark 4 StatefulProcessor).

    State per user = a MapState: event_type -> (micros, n). Each row
    looks up its category, accumulates in exact integer micro-units
    (same quantization as the ValueState face, so emitted doubles are
    bit-identical to the batch twin's decimal window sum regardless of
    arrival batching), writes back, and emits the updated per-category
    snapshot. Rows within a micro-batch process in (ts, event_id) order;
    the map carries totals across micro-batches.

    Environment gate: same protobuf requirement as the other live faces;
    satisfied by a real installation or vendor/pbshim (see pbcompat)."""
    from .pbcompat import ensure_protobuf

    ensure_protobuf(spark)
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    from .structured import stream_events

    class CategoryTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getMapState(
                "totals", "event_type string", "micros long, n long")

        def handleInputRows(self, key, rows, timerValues):
            from decimal import ROUND_HALF_UP, Decimal

            uid = int(key[0])
            out = []
            # Whole-batch sort, not per-Arrow-chunk (ADVICE r4).
            chunks = [c for c in rows if len(c)]
            if chunks:
                pdf = pd.concat(chunks, ignore_index=True).sort_values(
                    ["ts", "event_id"], kind="mergesort")
                for eid, ts, et, v in zip(pdf["event_id"], pdf["ts"],
                                          pdf["event_type"], pdf["value"]):
                    k = (str(et),)
                    cur = (self._totals.getValue(k)
                           if self._totals.containsKey(k) else (0, 0))
                    micros = cur[0] + int(
                        Decimal(repr(float(v))).scaleb(6)
                        .to_integral_value(ROUND_HALF_UP))
                    n = cur[1] + 1
                    self._totals.updateValue(k, (micros, n))
                    out.append((uid, int(eid), ts, str(et), n,
                                micros / 1e6))
            yield pd.DataFrame(
                out, columns=["user_id", "event_id", "ts", "event_type",
                              "n_type", "sum_type"])

        def close(self) -> None:
            pass

    ev = (source if source is not None
          else stream_events(spark, sf_dir)).select(
        "user_id", "event_id", "ts", "event_type", "value")
    return ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=CategoryTotals(),
        outputStructType=_MC_SCHEMA,
        outputMode="Update",
        timeMode="None")


# The recursion advances every key one event per level, so level count =
# the longest per-key sequence. For the ORACLE GATE both engines run the
# SQL over the first {cap} events per key (explicit, identical filter on
# both sides -- the hash match still proves step-identical recursion over
# 20+ levels and ~6 batch closures per key at threshold 100). The
# uncapped run (86 levels at sf0.01, 99 at sf0.1) was timed and matched
# against the batch kernel once; SCALE_PROBE.md round 7 records it.
_THRESHOLD_SQL_DEPTH_CAP = 24

_THRESHOLD_RECURSIVE_SQL = """
    WITH RECURSIVE ev AS (
      SELECT user_id, value, rn FROM (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM {v}
      ) WHERE rn <= {cap}
    ),
    rec AS (
      SELECT user_id, rn, value AS acc, CAST(1 AS BIGINT) AS batch_id
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn,
             CASE WHEN r.acc >= 100.0 THEN e.value
                  ELSE r.acc + e.value END AS acc,
             CASE WHEN r.acc >= 100.0 THEN r.batch_id + 1
                  ELSE r.batch_id END AS batch_id
      FROM rec r
      JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1
    )
    SELECT user_id, batch_id,
           COUNT(*) AS n_events,
           MAX(acc) AS batch_value,
           MAX(acc) >= 100.0 AS closed
    FROM rec
    GROUP BY user_id, batch_id
"""

@register("st_stateful_threshold_sql",
          oracle=_THRESHOLD_RECURSIVE_SQL.format(
              v="events", cap=_THRESHOLD_SQL_DEPTH_CAP))
def st_stateful_threshold_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOURTH face of the threshold-batching kernel: pure declarative SQL
    via Spark 4 recursive CTEs -- the EXACT oracle text, run by Spark
    itself (the {v}/{cap} source/depth substitutions are shared with the
    oracle verbatim). Each recursion level advances every user's sequence
    by one event (linear recursion, UNION ALL, acyclic by construction),
    so the cross-engine hash match proves Spark's recursive-CTE execution
    step-identical to DuckDB's.

    The GATE face runs depth-capped at _THRESHOLD_SQL_DEPTH_CAP (the same
    explicit ``rn <= cap`` filter on both engines -- still 24 levels and
    ~6 threshold closures per key); the uncapped run is recorded in
    SCALE_PROBE.md round 7. This face is the right
    tool for SHORT sequences (orchestration phase chains, retry ladders);
    for unbounded streams the applyInPandas kernel face scales with O(1)
    state per key, one level per EVENT being materialized as a full
    distributed join here."""
    # 100 levels (the default) is already too tight for this corpus (99
    # events/user at sf0.1). 10k keeps a runaway-recursion backstop while
    # covering realistic short-sequence depths; the conf must stay set for
    # the returned lazy plan's execution, so it lives in a CLONED session
    # (shared SparkContext, isolated SQLConf + temp views) -- the caller's
    # session keeps the default recursion backstop (ADVICE r2).
    from ..session import tune_for_session

    from ..plans.registry import track_persist

    s2 = tune_for_session(spark.newSession())
    s2.conf.set("spark.sql.cteRecursionLevelLimit", "10000")
    # The recursion runs one distributed join PER LEVEL (depth = longest
    # per-key sequence), so per-level stage overhead multiplies by depth.
    # Two level-cost cuts, both semantics-free: (1) persist the
    # loop-invariant input so every level reads the cached relation
    # instead of re-scanning parquet and re-sorting the row_number window
    # (measured 2x at sf0.01); (2) size the cloned session's shuffle
    # partitions to the PER-LEVEL volume (one row per key per level), not
    # the session default -- 86 levels x 32 near-empty tasks was pure
    # scheduler overhead (another ~1.6x). The count that sizes it also
    # materializes the cache.
    ev = track_persist(load_table(s2, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"))
    n_rows = ev.count()
    s2.conf.set("spark.sql.shuffle.partitions",
                str(max(1, min(32, n_rows // 100_000))))
    name = "__threshold_sql_events"
    ev.createOrReplaceTempView(name)
    return s2.sql(_THRESHOLD_RECURSIVE_SQL.format(
        v=name, cap=_THRESHOLD_SQL_DEPTH_CAP))


# ---------------------------------------------------------------------------
# Streaming twin of streaming.batch_windows.st_interval_coalesce: per-user
# overlapping-interval merge as an applyInPandasWithState operator. The open
# interval (the one the next event might still extend) lives in state; an
# interval row is emitted the moment an arriving event's start passes the
# running max end (append semantics). Matching the batch face bit-for-bit
# needs one care: the batch twin routes the value sum through DECIMAL(28,6)
# -- so the kernel accumulates value in exact integer MICRO-UNITS (the cast
# double->decimal(28,6) is a HALF_UP round to 6 dp, i.e. an integer number
# of micro-units) and converts once at emission; float(total_micros / 1e6)
# is the same nearest-double the decimal->double cast produces.

_IC_OUT_SCHEMA = ("user_id long, island long, start_us long, end_us long,"
                  " n_events long, total_value double")


def _value_micros(v: float):
    from decimal import ROUND_HALF_UP, Decimal
    # Spark's double->DECIMAL(28,6) cast rounds the SHORTEST decimal
    # representation (Double.toString), not the exact binary expansion --
    # for a value whose shortest repr is an exact half at 7 dp (e.g.
    # 0.1234565) the two differ by one micro-unit. Python's repr() is the
    # same shortest round-trip string, so quantize from it (ADVICE r11).
    return int((Decimal(repr(float(v))) * 1_000_000)
               .quantize(Decimal(1), rounding=ROUND_HALF_UP))


def streaming_interval_coalesce(spark: SparkSession, sf_dir: str,
                                source: DataFrame | None = None) -> DataFrame:
    """Live interval-coalesce plan. State per user = the OPEN interval
    (start_us, end_us, island, n_events, total_micros); within a
    micro-batch rows process in (ts, event_id) order, so with an in-order
    source (the same contract as streaming_threshold_batches) the emitted
    CLOSED intervals are exactly the batch twin's islands minus each
    user's final (still-open) one."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .structured import stream_events

    def step(key, pdfs, state: GroupState):
        uid = int(key[0])
        cur = list(state.get) if state.exists else None
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            s_us = (pd.to_datetime(pdf["ts"]).astype("int64") // 1000
                    ).to_numpy()
            eid = pdf["event_id"].astype("int64").to_numpy()
            e_us = s_us + (60 + eid % 540) * 1_000_000
            vals = pdf["value"].astype("float64").to_numpy()
            for s, e, v in zip(s_us, e_us, vals):
                vm = _value_micros(v)
                if cur is not None and int(s) <= cur[1]:
                    cur[1] = max(cur[1], int(e))
                    cur[3] += 1
                    cur[4] += vm
                else:
                    if cur is not None:
                        out.append((uid, cur[2], cur[0], cur[1], cur[3],
                                    float(cur[4] / 1e6)))
                        nxt = cur[2] + 1
                    else:
                        nxt = 1
                    cur = [int(s), int(e), nxt, 1, vm]
        if cur is not None:  # guard: an all-empty pdf iterator leaves none
            state.update(tuple(cur))
        yield pd.DataFrame(
            out, columns=["user_id", "island", "start_us", "end_us",
                          "n_events", "total_value"])

    ev = (source if source is not None
          else stream_events(spark, sf_dir)).select(
        "user_id", "event_id", "ts", "value")
    return ev.groupBy("user_id").applyInPandasWithState(
        step,
        outputStructType=_IC_OUT_SCHEMA,
        stateStructType=("start_us long, end_us long, island long,"
                         " n_events long, total_micros long"),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout)


# ---------------------------------------------------------------------------
# Streaming twin of streaming.batch_windows.st_attribution_last_touch: the
# carried state per user is exactly the three columns the batch face's
# carry-forward window computes -- (ts, id, type) of the most recent touch.
# Purchases emit immediately with their attribution (append semantics);
# touches only update state.

_ATTR_OUT_SCHEMA = ("user_id long, purchase_id long, purchase_us long,"
                    " touch_id long, touch_type string, us_since_touch long")


def streaming_attribution_last_touch(
        spark: SparkSession, sf_dir: str,
        source: DataFrame | None = None) -> DataFrame:
    """Live last-touch attribution. With an in-order source (the standing
    contract of every stateful twin here) the emitted rows are identical
    to the batch face's output: the state IS the batch window's carried
    (touch_us, touch_id, touch_type) triple, and the 24 h freshness test
    runs at emission exactly as the batch CASE does."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .batch_windows import _ATTR_WINDOW_US
    from .structured import stream_events

    def step(key, pdfs, state: GroupState):
        uid = int(key[0])
        touch = list(state.get) if state.exists else None
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            ts_us = (pd.to_datetime(pdf["ts"]).astype("int64") // 1000
                     ).to_numpy()
            for t_us, eid, etype in zip(
                    ts_us, pdf["event_id"].astype("int64").to_numpy(),
                    pdf["event_type"]):
                if etype == "purchase":
                    fresh = (touch is not None
                             and int(t_us) - touch[0] <= _ATTR_WINDOW_US)
                    out.append((
                        uid, int(eid), int(t_us),
                        touch[1] if fresh else None,
                        touch[2] if fresh else "organic",
                        int(t_us) - touch[0] if fresh else None))
                elif etype in ("click", "view"):
                    touch = [int(t_us), int(eid), str(etype)]
        if touch is not None:
            state.update(tuple(touch))
        yield pd.DataFrame(
            out, columns=["user_id", "purchase_id", "purchase_us",
                          "touch_id", "touch_type", "us_since_touch"])

    ev = (source if source is not None
          else stream_events(spark, sf_dir)).select(
        "user_id", "event_id", "event_type", "ts")
    return ev.groupBy("user_id").applyInPandasWithState(
        step,
        outputStructType=_ATTR_OUT_SCHEMA,
        stateStructType="touch_us long, touch_id long, touch_type string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout)


# ---------------------------------------------------------------------------
# Live twin of operators.windows.w_range_frame_time_window: per-user sliding
# preceding-hour count + value sum as an applyInPandasWithState operator.
# State = the user's events inside the trailing hour (parallel ts/micros
# arrays); each arriving event evicts the expired prefix, joins the buffer,
# and emits its frame aggregate immediately (append semantics). Matching the
# batch face bit-for-bit needs the interval-coalesce care twice over:
# (1) value sums route through exact integer MICRO-UNITS (_value_micros --
# the batch twin's DECIMAL(28,6) routing), and (2) RANGE frames include
# PEERS (rows tied on ts_us), so tied rows within a micro-batch are
# processed as one group and emitted together. Cross-batch ties are
# excluded by contract (same in-order-source contract as the other twins;
# the gate corpora have no (user, ts) duplicates -- asserted in pytest).
# ---------------------------------------------------------------------------

_RF_WINDOW_US = 3_600_000_000
_RF_OUT_SCHEMA = ("user_id long, event_id long, n_events_1h long, "
                  "sum_value_1h double")

# Enforced per-user state bound (the SN/RFM/AA standard, VERDICT r12 #2):
# the buffer holds ONE user's trailing-hour events, so its size is
# data-dependent -- a hot key emitting 1M events/hour would carry 1M-entry
# state arrays through every checkpoint. Refuse loudly past the bound
# (~70 sustained events/sec for a full hour from a single user) rather
# than silently degrade; past it the right kernel is a coarser pre-bucket
# (e.g. per-minute partial sums) that this operator does not claim.
_RF_STATE_MAX = 250_000


def streaming_range_frame_hour(spark: SparkSession, sf_dir: str,
                               source: DataFrame | None = None) -> DataFrame:
    """Live sliding-hour frame aggregates (see module comment above).

    Aggregates are carried as RUNNING (n, sum_micros) with incremental
    eviction -- the expired prefix's micros are subtracted, arrivals
    added -- O(1) amortized per event (VERDICT r12 #2: the prior kernel
    re-summed the whole buffer per peer group, O(r^2) per user-hour).
    Exact integer arithmetic, so bit-parity with the batch DECIMAL
    routing is unchanged. NULL/NaN values match the batch face's
    COUNT(value)/SUM(value): the row still emits (it is a frame member
    and a peer) but contributes nothing -- an all-null frame emits
    n_events_1h=0, sum_value_1h=NULL (ADVICE r12)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .structured import stream_events

    def step(key, pdfs, state: GroupState):
        uid = int(key[0])
        ts_buf, mic_buf = ([list(a) for a in state.get] if state.exists
                           else ([], []))
        run_sum = sum(mic_buf)  # once per restore (already O(buf) to load)
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            rows = [(int(t.value) // 1000, int(e),  # ns -> us
                     None if v is None or v != v else _value_micros(v))
                    for t, e, v in zip(pd.to_datetime(pdf["ts"]),
                                       pdf["event_id"], pdf["value"])]
            i = 0
            while i < len(rows):
                j = i
                while j < len(rows) and rows[j][0] == rows[i][0]:
                    j += 1  # peer group: identical ts_us
                cut = rows[i][0] - _RF_WINDOW_US
                k = 0
                while k < len(ts_buf) and ts_buf[k] < cut:
                    run_sum -= mic_buf[k]  # incremental eviction
                    k += 1
                if k:
                    ts_buf, mic_buf = ts_buf[k:], mic_buf[k:]
                for t, _e, m in rows[i:j]:
                    if m is not None:  # null values are peers, not members
                        ts_buf.append(t)
                        mic_buf.append(m)
                        run_sum += m
                n = len(ts_buf)
                if n > _RF_STATE_MAX:
                    raise ValueError(
                        f"range-frame state for user {uid} holds {n} "
                        f"trailing-hour events, over the bound "
                        f"{_RF_STATE_MAX} -- a hot key makes per-event "
                        "sliding state unbounded; pre-bucket the stream "
                        "(per-minute partial sums) at this rate")
                s = None if n == 0 else float(run_sum) / 1e6
                for _t, e, _m in rows[i:j]:
                    out.append((uid, e, n, s))
                i = j
        state.update((ts_buf, mic_buf))
        yield pd.DataFrame(out, columns=["user_id", "event_id",
                                         "n_events_1h", "sum_value_1h"])

    ev = (source if source is not None
          else stream_events(spark, sf_dir)).select(
        "user_id", "event_id", "ts", "value")
    return ev.groupBy("user_id").applyInPandasWithState(
        step,
        outputStructType=_RF_OUT_SCHEMA,
        stateStructType="ts array<long>, micros array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout)


# ---------------------------------------------------------------------------
# Per-user exponential moving average (EWMA) -- the classic order-dependent
# smoothing recursion ewma_i = alpha*v_i + (1-alpha)*ewma_{i-1}. Like the
# threshold-batching operator, the reset-free sequential dependence is not
# expressible with a single window pass; the oracle steps a recursive CTE in
# the same (ts, event_id) order, so every IEEE double op has identical
# operands in identical order on both engines -- bit-identical, no decimal
# detour and no rounding needed.
# ---------------------------------------------------------------------------

EWMA_ALPHA = 0.3

_EW_SCHEMA = "user_id long, event_id long, ewma double"


def _ewma_vec(s, e=None):
    """Vectorized EWMA recursion with EXACT row-loop semantics (VERDICT
    r12 nit #2): pandas' ewm(alpha, adjust=False).mean() computes the
    identical y_i = alpha*x_i + (1-alpha)*y_{i-1} recursion in C --
    pinned bit-identical to the loop in pytest (random, extreme-
    magnitude, and repr-half values; seeded and unseeded). Two raw-ewm
    behaviors are patched to match the loop AND the recursive-CTE
    oracle's NULL arithmetic: (1) a NaN input POISONS every later output
    (raw ewm skips it and resumes), via a cummax mask; (2) an optional
    seed `e` continues a prior recursion (the live twin's carried
    state) by prepend-and-drop -- the same recursion shifted one step,
    also pinned bit-identical; a NaN seed short-circuits to all-NaN.

    ADVICE r13 (high): pandas' C kernel SKIPS the y = a*x + (1-a)*y
    update when its running mean exactly equals the incoming value,
    emitting v where the loop/oracle computes a*v + (1-a)*v -- which
    differs by an ulp for ~17% of doubles, and the divergence propagates
    to every later output. Until the first such exact-repeat position,
    ewm IS the loop, so detecting prev-output == current-input on the
    vectorized result is exact; any hit falls back to the row loop."""
    import numpy as np
    import pandas as pd

    s = s.reset_index(drop=True)
    if e is not None and e != e:  # poisoned carried state stays poisoned
        return pd.Series(np.nan, index=s.index, dtype="float64")
    if e is None:
        out = s.ewm(alpha=EWMA_ALPHA, adjust=False).mean()
        prev = out.to_numpy()[:-1]
        cur = s.to_numpy(dtype="float64")[1:]
    else:
        full = (pd.concat([pd.Series([e], dtype="float64"), s],
                          ignore_index=True)
                .ewm(alpha=EWMA_ALPHA, adjust=False).mean())
        out = full.iloc[1:].reset_index(drop=True)
        prev = full.to_numpy()[:-1]  # includes the seed itself at [0]
        cur = s.to_numpy(dtype="float64")
    if (prev == cur).any():  # NaN on either side compares False
        out = _ewma_loop(s, e)
    na = s.isna()
    if na.any():
        out = out.mask(na.cummax(), np.nan)
    return out


def _ewma_loop(s, e=None):
    """Reference row-loop recursion y_i = a*x_i + (1-a)*y_{i-1} -- the
    exact-repeat fallback for _ewma_vec (NaN poisons naturally: once an
    operand is NaN every later y is NaN, matching the oracle's NULL
    arithmetic)."""
    import numpy as np
    import pandas as pd

    out = np.empty(len(s), dtype="float64")
    y = None if e is None else float(e)
    for i, x in enumerate(s.to_numpy(dtype="float64")):
        y = x if y is None else EWMA_ALPHA * x + (1.0 - EWMA_ALPHA) * y
        out[i] = y
    return pd.Series(out, index=s.index, dtype="float64")


def ewma_pdf(pdf):
    """Pure pandas kernel: ONE user's events -> per-event EWMA rows."""
    import pandas as pd

    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    uid = int(pdf["user_id"].iloc[0])
    out = _ewma_vec(pdf["value"].astype("float64"))
    return pd.DataFrame({"user_id": uid,
                         "event_id": pdf["event_id"].astype("int64")
                                     .to_numpy(),
                         "ewma": out.to_numpy()})


@register(
    "st_ewma_smoothing",
    oracle=f"""
    WITH RECURSIVE ev AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    rec AS (
      SELECT user_id, event_id, rn, value AS ewma
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.event_id, e.rn,
             {EWMA_ALPHA} * e.value + {1.0 - EWMA_ALPHA} * r.ewma
      FROM rec r
      JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1
    )
    SELECT user_id, event_id, ewma FROM rec
    """,
)
def st_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of per-user EWMA smoothing (alpha = {EWMA_ALPHA}): the
    anomaly-baseline / trend-denoising primitive whose recursion no
    single window pass can place (each output depends on the previous
    OUTPUT, not a fixed frame of inputs). Same shape and float contract
    as st_stateful_threshold_batches: one user_id shuffle, a linear
    Arrow-streamed scan per group, and an oracle that steps the SAME
    sequential IEEE arithmetic -- the emitted doubles are bit-identical
    by construction (the 0.3/0.7 literals parse to the same doubles on
    both engines), so no rounding or boundary exposure is needed."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value")
    return ev.groupBy("user_id").applyInPandas(ewma_pdf, schema=_EW_SCHEMA)


def streaming_ewma(spark: SparkSession, sf_dir: str,
                   source: DataFrame | None = None) -> DataFrame:
    """Live applyInPandasWithState twin: state = the user's running EWMA
    (one double); each event emits its smoothed value immediately
    (append semantics). With the in-order source contract the emissions
    are the batch twin's rows bit-for-bit -- the kernel applies the
    identical float recursion, so micro-batch boundaries change nothing
    but where the state lives."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .structured import stream_events

    def step(key, pdfs, state: GroupState):
        uid = int(key[0])
        (e,) = state.get if state.exists else (None,)
        frames = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            out = _ewma_vec(pdf["value"].astype("float64"), e)
            e = float(out.iloc[-1])
            frames.append(pd.DataFrame(
                {"user_id": uid,
                 "event_id": pdf["event_id"].astype("int64").to_numpy(),
                 "ewma": out.to_numpy()}))
        state.update((e,))
        yield (pd.concat(frames, ignore_index=True) if frames
               else pd.DataFrame(columns=["user_id", "event_id", "ewma"]))

    ev = (source if source is not None
          else stream_events(spark, sf_dir)).select(
        "user_id", "event_id", "ts", "value")
    return ev.groupBy("user_id").applyInPandasWithState(
        step,
        outputStructType=_EW_SCHEMA,
        stateStructType="ewma double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout)
