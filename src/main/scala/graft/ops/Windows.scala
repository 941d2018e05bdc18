package graft.ops

import graft.util.Canon._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function surface — SURVEY.md §2.5. Every window carries a unique
  * tiebreak key in its ORDER BY so ranks/frames are deterministic (§5.3.1);
  * events.ts is ms-truncated before ordering (§5.3.4). Sliding float sums are
  * r4-rounded (DuckDB evaluates sliding frames with a segment tree — summation
  * order differs from Spark's streaming accumulation); integer/cents sums are
  * exact and emitted raw.
  */
object Windows {
  type Q = (SparkSession, String) => DataFrame

  private val winRowNumber: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    tbl(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        row_number().over(w).as("rn"))
      .orderBy("o_custkey", "o_orderkey")
  }

  private val winRankDense: Q = (s, d) => {
    val w = Window.partitionBy("o_orderstatus").orderBy(desc("o_totalprice"))
    tbl(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        rank().over(w).as("rnk"), dense_rank().over(w).as("drnk"))
      .orderBy("o_orderkey")
  }

  private val winPercentNtile: Q = (s, d) => {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    tbl(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        percent_rank().over(w).as("prk"),
        cume_dist().over(w).as("cd"),
        ntile(4).over(w).as("quartile"))
      .orderBy("o_orderkey")
  }

  private val winLagLead: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("tsm"), col("event_id"))
    tbl(s, d, "events").withColumn("tsm", tsMs(col("ts")))
      .select(col("user_id"), col("event_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_v"),
        lead(col("value"), 1).over(w).as("next_v"))
      .orderBy("user_id", "event_id")
  }

  private val winFirstLastValue: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("tsm"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tbl(s, d, "events").withColumn("tsm", tsMs(col("ts")))
      .select(col("user_id"), col("event_id"),
        first(col("event_type")).over(w).as("first_type"),
        last(col("event_type")).over(w).as("last_type"))
      .orderBy("user_id", "event_id")
  }

  private val winMovingAvgRows: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("tsm"), col("event_id"))
      .rowsBetween(-6, 0)
    tbl(s, d, "events").withColumn("tsm", tsMs(col("ts")))
      .select(col("user_id"), col("event_id"),
        r4(sum(cents(col("value"))).over(w).cast("double") / 100.0 /
          count(col("value")).over(w)).as("ma7"))
      .orderBy("user_id", "event_id")
  }

  /** Time-based frame: trailing 1h sum per user, RANGE over epoch millis. */
  private val winRangeFrame: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ems"))
      .rangeBetween(-3600000L, 0)
    tbl(s, d, "events").withColumn("ems", unix_millis(col("ts")))
      .select(col("user_id"), col("event_id"),
        (sum(cents(col("value"))).over(w) / 100.0).as("sum_1h"))
      .orderBy("user_id", "event_id")
  }

  /** Running revenue: integer cent accumulation → exact on both engines. */
  private val winCumulative: Q = (s, d) => {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, 0)
    tbl(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        (sum(cents(col("o_totalprice"))).over(w) / 100.0).as("running_total"))
      .orderBy("o_orderkey")
  }

  /** Batch sessionization (gaps-and-islands): a new session starts when the
    * gap since the previous event exceeds 30 minutes; session ids are
    * per-user ordinals from a cumulative sum over the new-session flags —
    * the two-window formulation every warehouse uses, fully shuffle-local
    * after one hash partition by user. Summary per session: bounds, event
    * count, cent-exact value sum. */
  private val winSessionize: Q = (s, d) => {
    val wOrd = Window.partitionBy("user_id").orderBy(col("tsm"), col("event_id"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, 0)
    tbl(s, d, "events").withColumn("tsm", tsMs(col("ts")))
      .withColumn("gap_ms",
        unix_millis(col("tsm")) - unix_millis(lag(col("tsm"), 1).over(wOrd)))
      .withColumn("new_sess",
        when(col("gap_ms").isNull || col("gap_ms") > 1800000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(wCum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("tsm")).as("s_start"), max(col("tsm")).as("s_end"),
        count(lit(1)).as("n_events"),
        (sum(cents(col("value"))) / 100.0).as("v_sum"))
      .orderBy("user_id", "session_id")
  }

  private val winTopkPerGroup: Q = (s, d) => {
    val w = Window.partitionBy("p_brand")
      .orderBy(desc("p_retailprice"), asc("p_partkey"))
    tbl(s, d, "part")
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"),
        row_number().over(w).as("rn"))
      .where(col("rn") <= 3)
      .orderBy("p_brand", "rn")
  }

  private val winNthValue: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("tsm"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tbl(s, d, "events").withColumn("tsm", tsMs(col("ts")))
      .select(col("user_id"), col("event_id"),
        nth_value(col("event_type"), 2).over(w).as("second_type"),
        nth_value(col("value"), 3).over(w).as("third_value"))
      .orderBy("user_id", "event_id")
  }

  /** Rolling distinct count: COUNT(DISTINCT) is not allowed in window specs,
    * so collect the frame and dedupe — the standard workaround. */
  private val winDistinctRolling: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("tsm"), col("event_id"))
      .rowsBetween(-23, 0)
    tbl(s, d, "events").withColumn("tsm", tsMs(col("ts")))
      .select(col("user_id"), col("event_id"),
        size(array_distinct(collect_list(col("event_type")).over(w)))
          .as("distinct_types_24"))
      .orderBy("user_id", "event_id")
  }

  /** CDC latest-wins compaction — the MERGE/upsert pattern expressed as a
    * window dedup: events form a changelog keyed by (user_id, event_type),
    * the newest version (by ms timestamp, event_id tiebreak) survives, and
    * each key reports how many versions it compacted. One shuffle on the
    * key; at 100 TB this is the standard snapshot-compaction job shape
    * (row_number desc + rn=1 keeps partial aggregation and the single
    * exchange). */
  private val cdcUpsertLatest: Q = (s, d) => {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(desc("tsm"), desc("event_id"))
    tbl(s, d, "events").withColumn("tsm", tsMs(col("ts")))
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"),
        col("tsm"),
        row_number().over(w).as("rn"),
        count(lit(1)).over(Window.partitionBy("user_id", "event_type"))
          .as("n_versions"))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
        col("event_id").as("last_event_id"), cents(col("value")).as("last_cents"),
        unix_millis(col("tsm")).as("last_ms"), col("n_versions"))
      .orderBy("user_id", "event_type")
  }

  /** CDC changelog apply WITH tombstones — the half of MERGE that
    * cdc_upsert_latest doesn't cover: rows are versioned per user key
    * (op = D for 'error' events, else U), the newest version wins, and a
    * key whose final operation is a delete VANISHES from the snapshot
    * (the Debezium/lakehouse tombstone contract). Same single-shuffle
    * window-dedup shape as the upsert op; surviving keys also report how
    * many versions and how many interleaved deletes they compacted. */
  /** Generic core over a change-log frame (user_id, event_id, value,
    * tsm: ms-truncated timestamp, op: "D" | "U"). */
  private[graft] def cdcApplyDeletesCore(chg: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(desc("tsm"), desc("event_id"))
    val wAll = Window.partitionBy("user_id")
    chg
      .select(col("user_id"), col("event_id"), col("value"), col("tsm"),
        col("op"),
        row_number().over(w).as("rn"),
        count(lit(1)).over(wAll).as("n_versions"),
        sum(when(col("op") === "D", 1L).otherwise(0L)).over(wAll)
          .as("n_deletes"))
      .where(col("rn") === 1 && col("op") === "U")
      .select(col("user_id"), col("event_id").as("last_event_id"),
        cents(col("value")).as("last_cents"),
        unix_millis(col("tsm")).as("last_ms"),
        col("n_versions"), col("n_deletes"))
      .orderBy("user_id")
  }

  private val cdcApplyDeletes: Q = (s, d) =>
    cdcApplyDeletesCore(
      tbl(s, d, "events").withColumn("tsm", tsMs(col("ts")))
        .withColumn("op",
          when(col("event_type") === "error", lit("D")).otherwise(lit("U"))))

  /** Gaps-and-islands: per user, runs of CONSECUTIVE active days (the
    * row_number-difference trick — a day-number minus its per-user rank is
    * constant within each unbroken run). Two keyed windows/aggs on the
    * distinct (user, day) frame, which is tiny relative to the event log;
    * the classic engagement-streak / coverage-gap audit. */
  /** Generic core over a (user_id, dayn: epoch-day BIGINT) frame;
    * duplicates are collapsed here so callers can feed raw event rows. */
  private[graft] def gapsIslandsCore(raw: DataFrame): DataFrame = {
    val days = raw.distinct()
    val w = Window.partitionBy("user_id").orderBy("dayn")
    val isl = days.withColumn("grp", col("dayn") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"), min(col("dayn")).as("start_day"))
    isl.groupBy("user_id")
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_islands"),
        max(col("len")).as("longest_island"),
        min(col("start_day")).as("first_day"))
      .orderBy("user_id")
  }

  private val winGapsIslands: Q = (s, d) =>
    gapsIslandsCore(tbl(s, d, "events")
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("dayn")))

  /** Emit-all per-key numbering WITHOUT a single task ever owning a hot
    * key's whole sort — the skew-safe decomposition a paired r15 A/B
    * measured 1.86× faster on a 97%-hot-key fixture (SCALING.md): neither
    * OptimizeSkewedJoin (joins only) nor InferWindowGroupLimit (rank
    * FILTERS only) helps an emit-all window, so the decomposition is
    * manual. Rows are range-bucketed by DAY (order-aligned with the tsm
    * sort key), numbered per (user, day), and shifted by per-bucket
    * offsets — a distributed prefix sum whose offset table is
    * (user × active-day)-sized, ≪ the event log. The result is proven
    * equal to the plain global row_number by the DuckDB oracle. */
  /** Core over a (user_id, event_id, tsm, b) frame — b must be an
    * order-aligned range bucket of tsm (same b ⇒ same tsm range, higher b
    * ⇒ later). WinSpec drives it with NULL user ids directly. */
  private[graft] def rnDecomposedCore(ev: DataFrame): DataFrame = {
    val wb = Window.partitionBy("user_id", "b")
      .orderBy(desc("tsm"), desc("event_id"))
    val woff = Window.partitionBy("user_id").orderBy(desc("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // null-safe join key: user_id is nullable by contract, and a plain
    // equi-join would silently DROP the NULL-user partition the window
    // oracle keeps (the fixture has no null users today — this guards the
    // regenerated-testdata case rather than a live bug)
    val offs = ev.groupBy("user_id", "b").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum(col("c")).over(woff), lit(0L)))
      .select(col("user_id").as("ou"), col("b").as("ob"), col("off"))
    val rn = ev.withColumn("rnp", row_number().over(wb))
    rn.join(offs, rn("user_id") <=> offs("ou") && rn("b") === offs("ob"))
      .select(col("user_id"), col("event_id"),
        (col("rnp") + col("off")).cast("long").as("rn"))
      .orderBy("user_id", "event_id")
  }

  private val winRnDecomposed: Q = (s, d) =>
    rnDecomposedCore(tbl(s, d, "events").withColumn("tsm", tsMs(col("ts")))
      .select(col("user_id"), col("event_id"), col("tsm"),
        datediff(to_date(col("tsm")), lit("1970-01-01").cast("date"))
          .cast("long").as("b")))

  val queries: Map[String, Q] = Map(
    "win_rn_decomposed" -> winRnDecomposed,
    "cdc_upsert_latest" -> cdcUpsertLatest,
    "cdc_apply_deletes" -> cdcApplyDeletes,
    "win_gaps_islands" -> winGapsIslands,
    "win_distinct_rolling" -> winDistinctRolling,
    "win_nth_value" -> winNthValue,
    "win_row_number" -> winRowNumber,
    "win_rank_dense" -> winRankDense,
    "win_percent_ntile" -> winPercentNtile,
    "win_lag_lead" -> winLagLead,
    "win_first_last_value" -> winFirstLastValue,
    "win_moving_avg_rows" -> winMovingAvgRows,
    "win_range_frame" -> winRangeFrame,
    "win_cumulative" -> winCumulative,
    "win_topk_per_group" -> winTopkPerGroup,
    "win_sessionize" -> winSessionize,
  )

  private val evOrder = "date_trunc('millisecond', ts), event_id"

  val oracle: Map[String, String] = Map(
    // the decomposed numbering must equal the PLAIN global row_number —
    // the oracle knows nothing about buckets
    "win_rn_decomposed" ->
      """SELECT user_id, event_id,
                CAST(row_number() OVER (PARTITION BY user_id
                       ORDER BY date_trunc('millisecond', ts) DESC,
                                event_id DESC) AS BIGINT) AS rn
         FROM events ORDER BY user_id, event_id""",
    "cdc_apply_deletes" ->
      """WITH v AS (
           SELECT user_id, event_id, value,
                  epoch_ms(date_trunc('millisecond', ts)) AS ems,
                  CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY date_trunc('millisecond', ts) DESC,
                                              event_id DESC) AS rn,
                  count(*) OVER (PARTITION BY user_id) AS n_versions,
                  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id) AS n_deletes
           FROM events)
         SELECT user_id, event_id AS last_event_id,
                CAST(floor(value*100 + 0.5) AS BIGINT) AS last_cents,
                ems AS last_ms, CAST(n_versions AS BIGINT) AS n_versions,
                CAST(n_deletes AS BIGINT) AS n_deletes
         FROM v WHERE rn = 1 AND op = 'U' ORDER BY user_id""",
    "win_gaps_islands" ->
      """WITH days AS (
           SELECT DISTINCT user_id,
                  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dayn
           FROM events),
         isl AS (SELECT user_id, dayn,
                        dayn - row_number() OVER (PARTITION BY user_id
                                                  ORDER BY dayn) AS grp
                 FROM days),
         g AS (SELECT user_id, grp, count(*) AS len, min(dayn) AS start_day
               FROM isl GROUP BY 1, 2)
         SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
                count(*) AS n_islands,
                CAST(max(len) AS BIGINT) AS longest_island,
                CAST(min(start_day) AS BIGINT) AS first_day
         FROM g GROUP BY user_id ORDER BY user_id""",
    "cdc_upsert_latest" ->
      """WITH v AS (
           SELECT user_id, event_type, event_id, value,
                  epoch_ms(date_trunc('millisecond', ts)) AS ems,
                  row_number() OVER (PARTITION BY user_id, event_type
                                     ORDER BY date_trunc('millisecond', ts) DESC,
                                              event_id DESC) AS rn,
                  count(*) OVER (PARTITION BY user_id, event_type) AS n_versions
           FROM events)
         SELECT user_id, event_type, event_id AS last_event_id,
                CAST(floor(value*100 + 0.5) AS BIGINT) AS last_cents,
                ems AS last_ms, CAST(n_versions AS BIGINT) AS n_versions
         FROM v WHERE rn = 1 ORDER BY user_id, event_type""",
    "win_distinct_rolling" ->
      s"""SELECT user_id, event_id,
                 len(list_distinct(array_agg(event_type) OVER w)) AS distinct_types_24
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY $evOrder
                       ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
          ORDER BY user_id, event_id""",
    "win_nth_value" ->
      s"""SELECT user_id, event_id,
                 nth_value(event_type, 2) OVER w AS second_type,
                 nth_value(value, 3) OVER w AS third_value
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY $evOrder
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
          ORDER BY user_id, event_id""",
    "win_row_number" ->
      """SELECT o_custkey, o_orderkey,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS rn
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "win_rank_dense" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
                rank() OVER w AS rnk, dense_rank() OVER w AS drnk
         FROM orders
         WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC)
         ORDER BY o_orderkey""",
    "win_percent_ntile" ->
      """SELECT o_orderkey, o_orderstatus,
                percent_rank() OVER w AS prk, cume_dist() OVER w AS cd,
                ntile(4) OVER w AS quartile
         FROM orders
         WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderkey""",
    "win_lag_lead" ->
      s"""SELECT user_id, event_id, value,
                 lag(value) OVER w AS prev_v, lead(value) OVER w AS next_v
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY $evOrder)
          ORDER BY user_id, event_id""",
    "win_first_last_value" ->
      s"""SELECT user_id, event_id,
                 first_value(event_type) OVER w AS first_type,
                 last_value(event_type) OVER w AS last_type
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY $evOrder
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
          ORDER BY user_id, event_id""",
    "win_moving_avg_rows" ->
      s"""SELECT user_id, event_id,
                 floor((CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) OVER w AS DOUBLE)
                        /100.0/(count(value) OVER w))*10000 + 0.5)/10000.0 AS ma7
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY $evOrder
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
          ORDER BY user_id, event_id""",
    "win_range_frame" ->
      """SELECT user_id, event_id,
                (sum(CAST(floor(value*100 + 0.5) AS BIGINT)) OVER w)/100.0 AS sum_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                      RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id""",
    "win_sessionize" ->
      s"""WITH e AS (
            SELECT user_id, CAST(date_trunc('millisecond', ts) AS TIMESTAMP) AS tsm,
                   event_id, value
            FROM events),
          g AS (
            SELECT user_id, tsm, event_id, value,
                   epoch_ms(tsm) - epoch_ms(lag(tsm) OVER
                     (PARTITION BY user_id ORDER BY tsm, event_id)) AS gap_ms
            FROM e),
          f AS (
            SELECT user_id, tsm, value,
                   sum(CASE WHEN gap_ms IS NULL OR gap_ms > 1800000 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY tsm, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM g)
          SELECT user_id, CAST(sid AS BIGINT) AS session_id,
                 min(tsm) AS s_start, max(tsm) AS s_end,
                 count(*) AS n_events,
                 sum(CAST(floor(value*100 + 0.5) AS BIGINT))/100.0 AS v_sum
          FROM f GROUP BY user_id, sid ORDER BY user_id, session_id""",
    "win_cumulative" ->
      """SELECT o_orderkey, o_orderstatus,
                sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))
                  OVER (PARTITION BY o_orderstatus
                        ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)/100.0
                  AS running_total
         FROM orders ORDER BY o_orderkey""",
    "win_topk_per_group" ->
      """SELECT * FROM (
           SELECT p_brand, p_partkey, p_retailprice,
                  row_number() OVER (PARTITION BY p_brand
                                     ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
           FROM part) WHERE rn <= 3
         ORDER BY p_brand, rn""",
  )
}
