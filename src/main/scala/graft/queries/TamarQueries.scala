package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.operators.Sessionize

/**
 * T-series declared queries (SURVEY.md §2.4): the reference engine's own
 * operator surface — scan, filter, map, flatMap (`process`), keyed ops,
 * running state, session windows, split — re-expressed as declarative
 * DataFrame plans so Catalyst owns pushdown/pruning/partial-agg.
 * Each query cites the reference operator(s) it certifies
 * (inventory #s from SURVEY.md §2.1; reference /root/reference/src/lib.rs).
 */
object TamarQueries {

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  /** Session assignment oracle (DuckDB): gaps-and-islands with the exact
    * Spark `session_window` merge rule — a new session starts iff
    * ts - prev_ts >= gap (strict `<` keeps the session open), matching
    * MergingSessionsExec and the reference store (src/lib.rs:458-558). */
  private def sessionOracle(sourceCte: String, gapMinutes: Int, select: String): String =
    s"""WITH src AS ($sourceCte),
       |flagged AS (
       |  SELECT user_id, ts, event_id,
       |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |              < INTERVAL $gapMinutes MINUTE THEN 0 ELSE 1 END AS new_s
       |  FROM src),
       |numbered AS (
       |  SELECT user_id, ts, event_id,
       |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                     ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM flagged)
       |$select""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // T1 — scan / source→sink (#6,#7,#10,#12)
    "t1_scan" -> QueryDef(
      (s, d) => ev(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 6).as("value"))
        .orderBy("event_id"),
      Some("SELECT event_id, user_id, event_type, ROUND(value, 6) AS value " +
        "FROM events ORDER BY event_id")),

    // T2 — filter (#14)
    "t2_filter" -> QueryDef(
      (s, d) => ev(s, d).filter(col("value") > 50.0)
        .select("event_id").orderBy("event_id"),
      Some("SELECT event_id FROM events WHERE value > 50.0 ORDER BY event_id")),

    // T3 — map with metadata propagation (#13,#3)
    "t3_map" -> QueryDef(
      (s, d) => ev(s, d)
        .select(col("event_id"),
          round(col("value") * 2 + 1, 6).as("v2"),
          upper(col("event_type")).as("et"))
        .orderBy("event_id"),
      Some("SELECT event_id, ROUND(value * 2 + 1, 6) AS v2, upper(event_type) AS et " +
        "FROM events ORDER BY event_id")),

    // T4 — process 1→N / flatMap (#15): floor(value/25) copies per event.
    "t4_flatmap" -> QueryDef(
      (s, d) => ev(s, d)
        .withColumn("n", floor(col("value") / 25))
        .filter(col("n") > 0)
        .select(col("event_id"), explode(sequence(lit(0L), col("n") - 1)).as("i"))
        .orderBy("event_id", "i"),
      Some("SELECT event_id, i FROM (SELECT event_id, " +
        "UNNEST(range(0, CAST(floor(value/25) AS BIGINT))) AS i FROM events) " +
        "ORDER BY event_id, i")),

    // T5 — keyed filter/map (#17,#20,#21)
    "t5_keyed_filter" -> QueryDef(
      (s, d) => ev(s, d).filter(col("user_id") % 7 === 3)
        .select("user_id", "event_id").orderBy("user_id", "event_id"),
      Some("SELECT user_id, event_id FROM events WHERE user_id % 7 = 3 " +
        "ORDER BY user_id, event_id")),

    // T6 — keyed running state (#23): per-user running count in (ts, id) order.
    "t6_keyed_state" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ev(s, d)
          .select(col("event_id"),
            (row_number().over(w) - 1).cast("long").as("key_count"))
          .orderBy("event_id")
      },
      Some("SELECT event_id, ROW_NUMBER() OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id) - 1 AS key_count FROM events ORDER BY event_id")),

    // T7 — global running state (#16): deliberately single-partition
    // (the reference's own design is one task; SURVEY.md §7.5.4 flags it
    // as excluded from the 100 TB path).
    "t7_global_state" -> QueryDef(
      (s, d) => {
        val w = Window.orderBy("ts", "event_id")
        ev(s, d)
          .select(col("event_id"),
            (row_number().over(w) - 1).cast("long").as("global_count"))
          .orderBy("event_id")
      },
      Some("SELECT event_id, ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1 " +
        "AS global_count FROM events ORDER BY event_id")),

    // T18 — global running state, the 100 TB form of T7: same semantics
    // (global_count = rank in (ts, event_id) order, zero-based) without
    // the single-partition window. Two-pass: bucket events by hour (the
    // bucket is monotone in ts, so (bucket, ts, id) order == (ts, id)
    // order), count per bucket, turn counts into prefix offsets with a
    // triangular join over the TINY bucket table (broadcast NLJ — no
    // partition-less WindowExec anywhere), then rank within each bucket
    // and add the bucket's offset. Heavy data only ever shuffles on the
    // bucket key.
    "t18_global_state_scalable" -> QueryDef(
      (s, d) => {
        val bucketUs = 3600000000L // 1 hour
        val e = ev(s, d).select(col("event_id"), col("ts"))
          .withColumn("__bkt", floor(unix_micros(col("ts")) / lit(bucketUs)).cast("long"))
        val counts = e.groupBy(col("__bkt")).agg(count(lit(1)).as("__c"))
        val offsets = counts.as("a")
          .join(counts.as("b"), col("b.__bkt") < col("a.__bkt"), "left")
          .groupBy(col("a.__bkt").as("__bkt"))
          .agg(coalesce(sum(col("b.__c")), lit(0L)).as("__off"))
        val wInBkt = Window.partitionBy("__bkt").orderBy("ts", "event_id")
        e.join(broadcast(offsets), Seq("__bkt"))
          .select(col("event_id"),
            (col("__off") + row_number().over(wInBkt) - 1).cast("long").as("global_count"))
          .orderBy("event_id")
      },
      Some("SELECT event_id, ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1 " +
        "AS global_count FROM events ORDER BY event_id")),

    // T8 — session windowization (#24,#26,#30): 30-min gap per user.
    "t8_session_window" -> QueryDef(
      (s, d) => Sessionize.sessions(ev(s, d), "ts", "user_id", "30 minutes",
          Seq(count(lit(1)).as("n_events")))
        .select("user_id", "session_start", "session_end_last", "n_events")
        .orderBy("user_id", "session_start"),
      Some(sessionOracle("SELECT user_id, ts, event_id FROM events", 30,
        "SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end_last, " +
          "COUNT(*) AS n_events FROM numbered GROUP BY user_id, sid " +
          "ORDER BY user_id, session_start"))),

    // T9 — session aggregate (#33,#34,#38): sum(value) exact via decimal,
    // MAX(ts) certifies the event_reducer max-timestamp rule
    // (src/lib.rs:639-654).
    "t9_session_agg" -> QueryDef(
      (s, d) => Sessionize.sessions(ev(s, d), "ts", "user_id", "30 minutes",
          Seq(sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value")))
        .select(col("user_id"), col("session_start"),
          col("sum_value"), col("session_end_last").as("max_ts"))
        .orderBy("user_id", "session_start"),
      Some(sessionOracle("SELECT user_id, ts, event_id, value FROM events", 30,
        "SELECT user_id, MIN(ts) AS session_start, " +
          "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value, " +
          "MAX(ts) AS max_ts " +
          "FROM numbered JOIN src USING (user_id, ts, event_id) " +
          "GROUP BY user_id, sid ORDER BY user_id, session_start"))),

    // T10 — full-window process (#27,#32,#36,#37): time-ordered window
    // contents (§2.3.4) as a concatenated id list.
    "t10_session_process" -> QueryDef(
      (s, d) => ev(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(min(col("ts")).as("session_start"),
          concat_ws(",", transform(
            array_sort(collect_list(struct(col("ts"), col("event_id")))),
            x => x.getField("event_id").cast("string"))).as("event_ids"))
        .select("user_id", "session_start", "event_ids")
        .orderBy("user_id", "session_start"),
      Some(sessionOracle("SELECT user_id, ts, event_id FROM events", 30,
        "SELECT user_id, MIN(ts) AS session_start, " +
          "STRING_AGG(CAST(event_id AS VARCHAR), ',' ORDER BY ts, event_id) AS event_ids " +
          "FROM numbered GROUP BY user_id, sid ORDER BY user_id, session_start"))),

    // T11 — split fan-out (#18,#25,#39): both branches see the whole stream.
    "t11_split" -> QueryDef(
      (s, d) => {
        val e = ev(s, d)
        val a = e.filter(col("value") > 50)
          .select(lit("A").as("b"), col("event_id"))
        val bb = e.filter(!(col("value") > 50))
          .select(lit("B").as("b"), col("event_id"))
        a.unionAll(bb).orderBy("b", "event_id")
      },
      Some("SELECT 'A' AS b, event_id FROM events WHERE value > 50 " +
        "UNION ALL SELECT 'B' AS b, event_id FROM events WHERE NOT value > 50 " +
        "ORDER BY b, event_id")),

    // T12 — end-to-end minimum slice (#6→#14→#13→#24→#38→#7):
    // filter clicks → sessionize (30 min) → count per session.
    "t12_e2e" -> QueryDef(
      (s, d) => Sessionize.sessions(
          ev(s, d).filter(col("event_type") === "click"),
          "ts", "user_id", "30 minutes", Seq(count(lit(1)).as("n_clicks")))
        .select("user_id", "session_start", "n_clicks")
        .orderBy("user_id", "session_start"),
      Some(sessionOracle(
        "SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'", 30,
        "SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_clicks " +
          "FROM numbered GROUP BY user_id, sid ORDER BY user_id, session_start"))),

    // T13 — tumbling window (extension: the reference has session windows
    // only, SURVEY.md §2.2): hourly event count per user.
    "t13_tumbling" -> QueryDef(
      (s, d) => graft.operators.Windows.tumbling(ev(s, d), "ts", "user_id",
          "1 hour", Seq(count(lit(1)).as("n")))
        .select("user_id", "w_start", "n")
        .orderBy("user_id", "w_start"),
      Some("SELECT user_id, date_trunc('hour', ts) AS w_start, COUNT(*) AS n " +
        "FROM events GROUP BY user_id, date_trunc('hour', ts) " +
        "ORDER BY user_id, w_start")),

    // T14 — sliding window (extension): 1-hour window every 30 minutes,
    // via the two-phase form (pre-aggregate per slide bucket → expand):
    // the shuffle carries one combined row per event instead of
    // size/slide replicas; equivalence to the direct window-generator
    // form is proven in SkewAndWindowSpec.
    "t14_sliding" -> QueryDef(
      (s, d) => graft.operators.Windows.slidingCountTwoPhase(
          ev(s, d), "ts", "user_id", 3600L, 1800L)
        .select("user_id", "w_start", "n")
        .orderBy("user_id", "w_start"),
      Some("SELECT user_id, make_timestamp(st * 1800 * 1000000) AS w_start, COUNT(*) AS n FROM (" +
        "SELECT user_id, UNNEST(range(CAST(floor((epoch(ts) - 3600) / 1800) + 1 AS BIGINT), " +
        "CAST(floor(epoch(ts) / 1800) + 1 AS BIGINT))) AS st FROM events) " +
        "GROUP BY user_id, st ORDER BY user_id, w_start")),

    // T15 — JSON extraction from the props payload column (semi-structured
    // data path; codegen'd get_json_object, no UDF).
    "t15_json_extract" -> QueryDef(
      (s, d) => ev(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .filter(col("k") > 50)
        .orderBy("event_id"),
      Some("SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k " +
        "FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50 " +
        "ORDER BY event_id")),

    // T16 — pivot: per user-bucket event-type counts as columns (explicit
    // value list so the output schema is deterministic).
    "t16_pivot" -> QueryDef(
      (s, d) => ev(s, d)
        .withColumn("ub", col("user_id") % 10)
        .groupBy("ub")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .orderBy("ub"),
      Some("SELECT user_id % 10 AS ub, " +
        Seq("click", "error", "purchase", "signup", "view").map(t =>
          s"COUNT(*) FILTER (event_type = '$t') AS $t").mkString(", ") +
        " FROM events GROUP BY user_id % 10 ORDER BY ub")),

    // T25 — per-window trending top-k, the BATCH twin of
    // streaming/TopKStream (which TopKStreamSpec proves row-identical
    // to this composition): top-3 event types per hourly tumbling
    // window by count, ties by type ascending. The top-k runs in the
    // two-level salted form (Windows.topKPerKeyScalable) — at 100 TB a
    // plain per-window row_number over raw counts is fine (counts are
    // #windows × #types), but the salted form costs nothing and keeps
    // the pattern uniform. window_start is epoch µs (the SessionBounds
    // µs-portable convention).
    "t25_trending" -> QueryDef(
      (s, d) => graft.operators.Windows.topKPerKeyScalable(
          ev(s, d).groupBy(
              (expr("unix_timestamp(ts) div 3600") * lit(3600000000L)).as("window_start"),
              col("event_type"))
            .agg(count(lit(1)).as("cnt")),
          Seq("window_start"), Seq(col("cnt").desc, col("event_type")), 3,
          substring(md5(col("event_type")), 1, 1), "rank")
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("window_start", "rank"),
      Some("SELECT window_start, event_type, cnt, rank FROM (" +
        "SELECT window_start, event_type, cnt, " +
        "ROW_NUMBER() OVER (PARTITION BY window_start " +
        "ORDER BY cnt DESC, event_type) AS rank FROM (" +
        "SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600000000 AS window_start, " +
        "event_type, COUNT(*) AS cnt FROM events GROUP BY 1, 2)) " +
        "WHERE rank <= 3 ORDER BY window_start, rank")),

    // T27 — SCD-2 temporal enrichment (StreamJoins.enrichAsOf): each
    // event joins the dimension VERSION valid at its event time — the
    // enrichment t22's plain key join gets wrong once a dimension
    // changes. The versioned dimension derives deterministically from
    // customer (3 validity windows per key across the corpus's
    // January span, tier = segment + version). Stateless broadcast
    // join + range filter — identical code runs on an unbounded
    // stream (StreamEnrichAsOfSpec proves stream rows == batch rows);
    // versions are non-overlapping so each event matches exactly one.
    "t27_scd2_enrich" -> QueryDef(
      (s, d) => {
        val dim = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"),
            explode(expr("array(0, 1, 2)")).as("v"))
          .select(col("c_custkey"),
            concat(col("c_mktsegment"), lit("/v"), col("v")).as("tier"),
            expr("CASE v WHEN 0 THEN TIMESTAMP '2024-01-01 00:00:00' " +
              "WHEN 1 THEN TIMESTAMP '2024-01-11 00:00:00' " +
              "ELSE TIMESTAMP '2024-01-21 00:00:00' END").as("valid_from"),
            expr("CASE v WHEN 0 THEN TIMESTAMP '2024-01-11 00:00:00' " +
              "WHEN 1 THEN TIMESTAMP '2024-01-21 00:00:00' " +
              "ELSE TIMESTAMP '2024-02-01 00:00:00' END").as("valid_to"))
        graft.streaming.StreamJoins.enrichAsOf(
            ev(s, d), dim, "user_id", "ts", "c_custkey", "valid_from", "valid_to")
          .groupBy("tier", "event_type")
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 1000000).cast("long")).as("sum_v1e6"))
          .orderBy("tier", "event_type")
      },
      Some("WITH dim AS (SELECT c_custkey, c_mktsegment || '/v' || v AS tier, " +
        "CASE v WHEN 0 THEN TIMESTAMP '2024-01-01 00:00:00' " +
        "WHEN 1 THEN TIMESTAMP '2024-01-11 00:00:00' " +
        "ELSE TIMESTAMP '2024-01-21 00:00:00' END AS valid_from, " +
        "CASE v WHEN 0 THEN TIMESTAMP '2024-01-11 00:00:00' " +
        "WHEN 1 THEN TIMESTAMP '2024-01-21 00:00:00' " +
        "ELSE TIMESTAMP '2024-02-01 00:00:00' END AS valid_to " +
        "FROM customer, UNNEST([0, 1, 2]) AS t(v)) " +
        "SELECT tier, event_type, COUNT(*) AS n, " +
        "CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_v1e6 " +
        "FROM events e JOIN dim ON e.user_id = dim.c_custkey " +
        "AND e.ts >= valid_from AND e.ts < valid_to " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),

    // T26 — per-window distinct-user counts, the BATCH twin of
    // streaming/DistinctStream (which DistinctStreamSpec proves emits
    // row-identical results at window close): the streaming form is
    // instructive because Spark rejects countDistinct on a stream — it
    // is dedup-state-keyed-on-the-watermarked-window chained into a
    // windowed count (two stateful operators), with state one row per
    // distinct (window, id) pair, evicted per closed window. Batch:
    // single-distinct agg, two-phase rewrite, no Expand.
    "t26_window_distinct" -> QueryDef(
      (s, d) => graft.streaming.DistinctStream.batch(ev(s, d), "ts", "user_id", 3600L)
        .orderBy("window_start"),
      Some("SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600000000 AS window_start, " +
        "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct " +
        "FROM events GROUP BY 1 ORDER BY 1")),

    // T24 — FULL-outer interval join, completing t20/t21: every view
    // AND every click accounted for — matched pairs, never-converted
    // views (null click), orphan clicks with no in-horizon prior view
    // (null view). Declared batch plan: the bucketed inner + TWO
    // anti-join unions (raw full-outer cross-products per key at
    // scale); the streaming twin is StreamJoins.followsFullOuter,
    // proven row-identical in StreamStreamJoinSpec.
    "t24_stream_full_outer" -> QueryDef(
      (s, d) => {
        val e = ev(s, d)
        val views = e.filter(col("event_type") === "view")
        val clicks = e.filter(col("event_type") === "click")
        val inner = graft.operators.RangeJoin.follows(
            views, clicks, "user_id", "ts", "event_id", 21600000000L)
          .select(col("user_id"), col("a_id").as("view_id"),
            col("b_id").as("click_id"))
        val unmatchedV = views
          .join(inner.select(col("view_id")).hint("shuffle_hash"),
            views("event_id") === col("view_id"), "left_anti")
          .select(col("user_id"), col("event_id").as("view_id"),
            lit(null).cast("long").as("click_id"))
        val unmatchedC = clicks
          .join(inner.select(col("click_id")).distinct().hint("shuffle_hash"),
            clicks("event_id") === col("click_id"), "left_anti")
          .select(col("user_id"), lit(null).cast("long").as("view_id"),
            col("event_id").as("click_id"))
        inner.unionByName(unmatchedV).unionByName(unmatchedC)
          .orderBy("user_id", "view_id", "click_id")
      },
      Some("SELECT COALESCE(v.user_id, c.user_id) AS user_id, " +
        "v.event_id AS view_id, c.event_id AS click_id " +
        "FROM (SELECT * FROM events WHERE event_type = 'view') v " +
        "FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c " +
        "ON v.user_id = c.user_id " +
        "AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 6 HOUR " +
        "ORDER BY user_id, view_id, click_id")),

    // T23 — UNPIVOT, t16's inverse: the pivoted wide (ub × event-type
    // counts) table melted back to long (ub, event_type, n) rows via
    // `stack` — one generator projection, zero extra shuffles beyond
    // t16's agg. Zero-filled combinations survive the round trip (the
    // wide form materializes them), so the oracle derives the DENSE
    // matrix independently: observed ubs × the 5 fixed types, left
    // join, COALESCE 0.
    "t23_unpivot" -> QueryDef(
      (s, d) => ev(s, d)
        .withColumn("ub", col("user_id") % 10)
        .groupBy("ub")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .select(col("ub"), expr("stack(5, 'click', click, 'error', error, " +
          "'purchase', purchase, 'signup', signup, 'view', view) AS (event_type, n)"))
        .orderBy("ub", "event_type"),
      Some("WITH ubs AS (SELECT DISTINCT user_id % 10 AS ub FROM events), " +
        "t(event_type) AS (VALUES ('click'), ('error'), ('purchase'), ('signup'), ('view')), " +
        "c AS (SELECT user_id % 10 AS ub, event_type, COUNT(*) AS n " +
        "FROM events GROUP BY 1, 2) " +
        "SELECT ubs.ub, t.event_type, COALESCE(c.n, 0) AS n " +
        "FROM ubs CROSS JOIN t LEFT JOIN c ON c.ub = ubs.ub " +
        "AND c.event_type = t.event_type ORDER BY ubs.ub, t.event_type")),

    // T17 — analytic lag: seconds since the user's previous event
    // (lead/lag family; first event per user → -1 sentinel).
    "t17_lag_gap" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ev(s, d).select(col("event_id"),
            coalesce(
              (unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w))).cast("long"),
              lit(-1L)).as("gap_s"))
          .orderBy("event_id")
      },
      Some("SELECT event_id, COALESCE(CAST(epoch(date_trunc('second', ts)) - " +
        "epoch(date_trunc('second', LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) " +
        "AS BIGINT), -1) AS gap_s FROM events ORDER BY event_id"))
  ) ++ Map(

    // T19 — session conversion funnel: per (user, 30-min session), how
    // far did view → click → purchase progress? First view, then first
    // click at-or-after it, then first purchase at-or-after that —
    // expressed as three stacked conditional-min windows over the SAME
    // (user, session) partitioning (sessions assigned by the same
    // gaps-and-islands rule the session oracle uses), so the whole query
    // is one shuffle on user_id followed by in-partition window passes —
    // no state machine, no re-exchange, scalable at any event count.
    "t19_session_funnel" -> QueryDef(
      (s, d) => {
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val sess = Window.partitionBy(col("user_id"), col("sid"))
        val gapUs = 30L * 60L * 1000000L
        ev(s, d)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("__new",
            when(unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser) < gapUs, 0)
              .otherwise(1))
          .withColumn("sid", sum(col("__new")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("v", min(when(col("event_type") === "view", col("ts"))).over(sess))
          .withColumn("c", min(when(col("event_type") === "click" && col("ts") >= col("v"),
            col("ts"))).over(sess))
          .withColumn("p", min(when(col("event_type") === "purchase" && col("ts") >= col("c"),
            col("ts"))).over(sess))
          .groupBy(col("user_id"), col("sid"))
          .agg(min(col("ts")).as("session_start"),
            max(when(col("p").isNotNull, 3).when(col("c").isNotNull, 2)
              .when(col("v").isNotNull, 1).otherwise(0)).cast("long").as("funnel_stage"))
          .select("user_id", "session_start", "funnel_stage")
          .orderBy("user_id", "session_start")
      },
      Some(sessionOracle("SELECT user_id, ts, event_id, event_type FROM events", 30,
        ", staged AS (SELECT n.user_id, n.sid, n.ts, s.event_type " +
          "FROM numbered n JOIN src s USING (user_id, ts, event_id)), " +
          "s1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END) OVER w AS v " +
          "FROM staged WINDOW w AS (PARTITION BY user_id, sid)), " +
          "s2 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= v THEN ts END) OVER w AS c " +
          "FROM s1 WINDOW w AS (PARTITION BY user_id, sid)), " +
          "s3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= c THEN ts END) OVER w AS p " +
          "FROM s2 WINDOW w AS (PARTITION BY user_id, sid)) " +
          "SELECT user_id, MIN(ts) AS session_start, " +
          "CAST(MAX(CASE WHEN p IS NOT NULL THEN 3 WHEN c IS NOT NULL THEN 2 " +
          "WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS funnel_stage " +
          "FROM s3 GROUP BY user_id, sid ORDER BY user_id, session_start"))),

    // T20 — two-stream correlation: view→click attribution within a
    // 6-hour horizon. The reference cannot combine two streams at all
    // (single-chain DSL — SURVEY.md §2.2); this certifies graft's
    // stream-stream join story. The declared batch plan uses RangeJoin's
    // time-bucketed form (candidates bounded by events-per-horizon, not
    // events-per-user²); the STREAMING twin joins the same two inputs as
    // watermarked streams through StreamJoins.follows (one keyed
    // interval-join operator, state evicted past the horizon) and is
    // proven row-identical to this plan in StreamStreamJoinSpec.
    "t20_stream_join" -> QueryDef(
      (s, d) => {
        val e = ev(s, d)
        graft.operators.RangeJoin.follows(
            e.filter(col("event_type") === "view"),
            e.filter(col("event_type") === "click"),
            "user_id", "ts", "event_id", 21600000000L)
          .select(col("user_id"), col("a_id").as("view_id"),
            col("b_id").as("click_id"))
          .orderBy("view_id", "click_id")
      },
      Some("SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id " +
        "FROM events v JOIN events c ON v.user_id = c.user_id " +
        "AND v.event_type = 'view' AND c.event_type = 'click' " +
        "AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 6 HOUR " +
        "ORDER BY view_id, click_id")),

    // T21 — left-outer variant of t20: every view appears, paired with
    // its in-horizon clicks or once with a NULL click ("which views
    // never converted" — the rows the inner join silently drops). The
    // scale form is NOT a raw outer join (per-user cross products):
    // RangeJoin's bucketed inner result plus an anti-join union of the
    // unmatched views — both stages horizon- or key-bounded. The
    // streaming twin (StreamJoins.followsLeftOuter) emits the null rows
    // on watermark passage and is proven row-identical in
    // StreamStreamJoinSpec.
    "t21_stream_outer_join" -> QueryDef(
      (s, d) => {
        val e = ev(s, d)
        val views = e.filter(col("event_type") === "view")
        val inner = graft.operators.RangeJoin.follows(
            views, e.filter(col("event_type") === "click"),
            "user_id", "ts", "event_id", 21600000000L)
          .select(col("user_id"), col("a_id").as("view_id"),
            col("b_id").as("click_id"))
        // shuffle-hash, not sort-merge: both sides are large and
        // hash-partitionable; neither needs a sort at any scale
        val unmatched = views
          .join(inner.select(col("view_id")).hint("shuffle_hash"),
            views("event_id") === col("view_id"), "left_anti")
          .select(col("user_id"), col("event_id").as("view_id"),
            lit(null).cast("long").as("click_id"))
        inner.unionAll(unmatched).orderBy("view_id", "click_id")
      },
      Some("SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id " +
        "FROM (SELECT * FROM events WHERE event_type = 'view') v " +
        "LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c " +
        "ON v.user_id = c.user_id " +
        "AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 6 HOUR " +
        "ORDER BY view_id, click_id")),

    // T22 — stream-static enrichment: the event stream joined to a
    // broadcast dimension table (customer segment), then aggregated —
    // the third stream-join family after t20/t21's stream-stream forms,
    // and the everyday shape of "tag the firehose with reference data".
    // Static side broadcasts (no stream-side shuffle for the join);
    // per-(segment, type) agg is the only exchange. Value sums use the
    // l58 quantize-once discipline (Σ floor(v·10⁶) BIGINT) so no double
    // fold order crosses engines. Streaming twin (same join + agg over
    // a file stream, complete mode) proven equal in StreamStreamJoinSpec.
    "t22_stream_enrich" -> QueryDef(
      (s, d) => {
        val e = ev(s, d)
        val c = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"))
        e.join(broadcast(c), e("user_id") === c("c_custkey"))
          .groupBy("c_mktsegment", "event_type")
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 1000000).cast("long")).as("sum_v1e6"))
          .orderBy("c_mktsegment", "event_type")
      },
      Some("SELECT c_mktsegment, event_type, COUNT(*) AS n, " +
        "CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_v1e6 " +
        "FROM events e JOIN customer c ON e.user_id = c.c_custkey " +
        "GROUP BY 1, 2 ORDER BY 1, 2"))
  )
}
