package graft.operators

import graft.{GQuery, GraftSession, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over `events` (the Kafka-topic analog):
  * funnel conversion and cohort retention — the aggregate shapes an
  * event ingest pipeline exists to serve downstream.
  *
  * Both are single-pass + keyed-aggregate plans: no self-join explosion;
  * conversion windows are computed from per-user min/conditional-min
  * aggregates, so the shuffle moves one row per user.
  */
object EventOps {

  val all: Seq[GQuery] = Seq(

    GQuery(
      "events_sargable_day",
      (s, dir) => {
        // SARGABLE-DATE REWRITE differential (plans/SargableDateRule):
        // the query is written with the endemic anti-pattern —
        // date_format(ts, 'yyyy-MM-dd') = <literal> — and the rule
        // rewrites it to native timestamp bounds that reach the parquet
        // scan's PushedFilters (the string form is opaque to every
        // pruning layer). The emitted `rewritten` flag is derived from
        // the query's own optimized plan (no date_format survives), so
        // the oracle fails both if the rewrite corrupts the day's rows
        // and if the rule silently stops firing. At 100 TB with a
        // date-partitioned layout this is scan-a-day vs scan-the-corpus.
        import graft.plans.SargableDateRule
        GraftSession.pinned(s, rules = Seq(SargableDateRule)) {
          val q = Tables.t(s, dir, "events")
            .where(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-15")
            .groupBy("event_type")
            .agg(count(lit(1)).as("n"),
              sum(round(col("value") * 100).cast("long")).as("cents"))
            .orderBy("event_type")
          val rewritten = !q.queryExecution.optimizedPlan.toString
            .contains("date_format")
          q.withColumn("rewritten", lit(rewritten))
        }
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
             |       true AS rewritten
             |FROM events
             |WHERE strftime(ts::TIMESTAMP, '%Y-%m-%d') = '2024-01-15'
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    GQuery(
      "events_funnel_latency",
      (s, dir) => {
        // TIME-TO-CONVERT percentiles: for users whose first purchase
        // follows their first signup, the exact lower-median and exact
        // ceil-rank p90 of the delay — integer micros end to end, rank
        // picked under the (delay, user) total order so cross-engine
        // ties cannot reorder (the agg_median_mode convention; at scale
        // the same shape runs on approx_percentile, this exact form is
        // the oracle-checkable anchor). Two keyed aggregates + one
        // |converters|-row window.
        val e = Tables.t(s, dir, "events")
        val firsts = e.groupBy("user_id").agg(
          min(when(col("event_type") === "signup",
            expr("ts_ns div 1000"))).as("s_us"),
          min(when(col("event_type") === "purchase",
            expr("ts_ns div 1000"))).as("p_us"))
        val conv = firsts
          .where(col("s_us").isNotNull && col("p_us").isNotNull &&
            col("p_us") >= col("s_us"))
          .select(col("user_id"), (col("p_us") - col("s_us")).as("delay_us"))
        val ranked = conv.withColumn("rk", row_number().over(
          Window.orderBy(col("delay_us").asc, col("user_id").asc)).cast("long"))
        val n = ranked.agg(count(lit(1)).as("n"))
        ranked.crossJoin(broadcast(n))
          .where(col("rk") === expr("(n + 1) div 2") ||
            col("rk") === expr("(9 * n + 9) div 10"))
          .groupBy("n")
          .agg(
            min(when(col("rk") === expr("(n + 1) div 2"), col("delay_us")))
              .as("median_delay_us"),
            min(when(col("rk") === expr("(9 * n + 9) div 10"), col("delay_us")))
              .as("p90_delay_us"))
          .select(col("n").as("n_converters"), col("median_delay_us"),
            col("p90_delay_us"))
      },
      Some("""WITH f AS (SELECT user_id,
             |                  min(CASE WHEN event_type = 'signup'
             |                           THEN epoch_us(ts::TIMESTAMP) END) AS s_us,
             |                  min(CASE WHEN event_type = 'purchase'
             |                           THEN epoch_us(ts::TIMESTAMP) END) AS p_us
             |           FROM events GROUP BY user_id),
             |     conv AS (SELECT user_id, p_us - s_us AS delay_us
             |              FROM f WHERE s_us IS NOT NULL AND p_us IS NOT NULL
             |                AND p_us >= s_us),
             |     ranked AS (SELECT delay_us,
             |                       row_number() OVER (ORDER BY delay_us, user_id) AS rk,
             |                       count(*) OVER () AS n
             |                FROM conv)
             |SELECT CAST(max(n) AS BIGINT) AS n_converters,
             |       CAST(min(CASE WHEN rk = (n + 1) // 2 THEN delay_us END) AS BIGINT)
             |         AS median_delay_us,
             |       CAST(min(CASE WHEN rk = (9 * n + 9) // 10 THEN delay_us END) AS BIGINT)
             |         AS p90_delay_us
             |FROM ranked
             |WHERE rk = (n + 1) // 2 OR rk = (9 * n + 9) // 10""".stripMargin)),

    GQuery(
      "events_funnel",
      (s, dir) => {
        // signup → purchase conversion within 1 hour, computed from
        // per-user firsts (one aggregate, no event-pair join).
        val e = Tables.t(s, dir, "events")
        val perUser = e.groupBy("user_id").agg(
          min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
          count(when(col("event_type") === "signup", 1)).as("n_signups"))
        val purchases = e.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("pts"))
        val conv = perUser.where(col("first_signup").isNotNull)
          .join(purchases, Seq("user_id"), "left")
          .where(col("pts").isNull || col("pts") >= col("first_signup"))
          .groupBy("user_id", "first_signup")
          .agg(min("pts").as("first_purchase_after"))
        conv.agg(
          count(lit(1)).as("n_signup_users"),
          count(when(
            col("first_purchase_after") <= col("first_signup") + expr("INTERVAL 1 HOUR"),
            1)).as("n_converted_1h"))
          .select(col("n_signup_users"), col("n_converted_1h"),
            round(col("n_converted_1h").cast("double") / col("n_signup_users"), 4)
              .as("conv_rate"))
      },
      Some("""WITH pu AS (SELECT user_id,
             |                   min(CASE WHEN event_type = 'signup' THEN ts::TIMESTAMP END) AS first_signup
             |            FROM events GROUP BY user_id),
             |  conv AS (SELECT pu.user_id, pu.first_signup,
             |                  min(e.ts::TIMESTAMP) AS first_purchase_after
             |           FROM pu LEFT JOIN events e
             |             ON e.user_id = pu.user_id AND e.event_type = 'purchase'
             |            AND e.ts::TIMESTAMP >= pu.first_signup
             |           WHERE pu.first_signup IS NOT NULL
             |           GROUP BY pu.user_id, pu.first_signup)
             |SELECT count(*) AS n_signup_users,
             |       count(CASE WHEN first_purchase_after <= first_signup + INTERVAL 1 HOUR
             |                  THEN 1 END) AS n_converted_1h,
             |       round(count(CASE WHEN first_purchase_after <= first_signup + INTERVAL 1 HOUR
             |                        THEN 1 END) * 1.0 / count(*), 4) AS conv_rate
             |FROM conv""".stripMargin)),

    GQuery(
      "events_retention",
      (s, dir) => {
        // Day-0 cohorts (user's first-ever event day) × day-1 retention.
        val e = Tables.t(s, dir, "events")
          .select(col("user_id"), to_date(col("ts")).as("d"))
        val firstDay = e.groupBy("user_id").agg(min("d").as("cohort"))
        val active = e.distinct()
        firstDay.join(active, "user_id")
          .groupBy("cohort")
          .agg(
            countDistinct("user_id").as("cohort_size"),
            countDistinct(when(col("d") === date_add(col("cohort"), 1), col("user_id")))
              .as("retained_d1"))
          .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
            col("cohort_size"), col("retained_d1"),
            round(col("retained_d1").cast("double") / col("cohort_size"), 4).as("d1_rate"))
          .orderBy("cohort")
      },
      Some("""WITH e AS (SELECT DISTINCT user_id, (ts::TIMESTAMP)::DATE AS d FROM events),
             |  fd AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY user_id)
             |SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
             |       count(DISTINCT fd.user_id) AS cohort_size,
             |       count(DISTINCT CASE WHEN e.d = cohort + 1 THEN fd.user_id END) AS retained_d1,
             |       round(count(DISTINCT CASE WHEN e.d = cohort + 1 THEN fd.user_id END) * 1.0
             |             / count(DISTINCT fd.user_id), 4) AS d1_rate
             |FROM fd JOIN e ON fd.user_id = e.user_id
             |GROUP BY cohort ORDER BY cohort""".stripMargin)),

    GQuery(
      "events_transitions",
      (s, dir) => {
        // Event-type transition counts (Markov-matrix shape): per-user
        // time-ordered lag, then one aggregate — the sequence-analysis
        // primitive for session/path mining.
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.t(s, dir, "events")
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .where(col("prev_type").isNotNull)
          .groupBy("prev_type", "event_type")
          .agg(count(lit(1)).as("n"))
          .orderBy("prev_type", "event_type")
      },
      Some("""WITH seq AS (SELECT event_type,
             |                    lag(event_type) OVER (PARTITION BY user_id
             |                                          ORDER BY ts::TIMESTAMP, event_id) AS prev_type
             |             FROM events)
             |SELECT prev_type, event_type, count(*) AS n
             |FROM seq WHERE prev_type IS NOT NULL
             |GROUP BY prev_type, event_type
             |ORDER BY prev_type, event_type""".stripMargin)),

    GQuery(
      "events_sequence_match",
      (s, dir) => {
        // Ordered-sequence pattern detection (the MATCH_RECOGNIZE
        // shape): find view → click → purchase as three CONSECUTIVE
        // events of a user's time-ordered stream, via lead() over one
        // window — one shuffle on user_id, no self-joins (a k-step
        // pattern is k-1 lead columns, still one window pass). Ties
        // broken by event_id so the sequence is total-ordered in both
        // engines.
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_type"),
            lead("event_type", 1).over(w).as("t1"),
            lead("event_type", 2).over(w).as("t2"))
          .where(col("event_type") === "view" &&
            col("t1") === "click" && col("t2") === "purchase")
          .select(col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("match_start"))
          .orderBy("user_id", "match_start")
      },
      Some("""WITH w AS (SELECT user_id, ts::TIMESTAMP AS t, event_type,
             |                  lead(event_type, 1) OVER (PARTITION BY user_id
             |                                            ORDER BY ts::TIMESTAMP, event_id) AS t1,
             |                  lead(event_type, 2) OVER (PARTITION BY user_id
             |                                            ORDER BY ts::TIMESTAMP, event_id) AS t2
             |           FROM events)
             |SELECT user_id, strftime(t, '%Y-%m-%d %H:%M:%S') AS match_start
             |FROM w
             |WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
             |ORDER BY user_id, match_start""".stripMargin)),

    GQuery(
      "events_absence_alert",
      (s, dir) => {
        // CEP NEGATION ("A not followed by B within T"): views with NO
        // purchase by the same user inside the following hour. The
        // naive shape is a per-view range anti-join (quadratic per hot
        // user at 100 TB); instead ONE window pass computes each row's
        // next-purchase time — min of a conditional over the FOLLOWING
        // frame — and the absence test is a scalar compare. One shuffle
        // on user_id, no self-join, ties broken by event_id so both
        // engines agree on "following".
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(1, Window.unboundedFollowing)
        Tables.t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_type"),
            min(when(col("event_type") === "purchase", col("ts")))
              .over(w).as("next_purchase"))
          .where(col("event_type") === "view")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_views"),
            sum(when(col("next_purchase").isNull ||
                col("next_purchase") > col("ts") + expr("INTERVAL 1 HOUR"), 1L)
              .otherwise(0L)).as("n_unconverted"))
          .orderBy("user_id")
      },
      Some("""WITH w AS (SELECT user_id, ts::TIMESTAMP AS t, event_type,
             |                  min(CASE WHEN event_type = 'purchase'
             |                           THEN ts::TIMESTAMP END)
             |                    OVER (PARTITION BY user_id
             |                          ORDER BY ts::TIMESTAMP, event_id
             |                          ROWS BETWEEN 1 FOLLOWING
             |                               AND UNBOUNDED FOLLOWING) AS next_purchase
             |           FROM events)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_views,
             |       CAST(sum(CASE WHEN next_purchase IS NULL
             |                       OR next_purchase > t + INTERVAL 1 HOUR
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_unconverted
             |FROM w WHERE event_type = 'view'
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    GQuery(
      "events_twap",
      (s, dir) => {
        // Time-weighted average value per user (the TWAP/telemetry-gauge
        // aggregate): each reading is weighted by how long it was
        // current (lead(ts) − ts). One window pass + one aggregate;
        // the last reading per user has no successor and drops out.
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        // NTZ has no direct double cast; session TZ is UTC, so the
        // TIMESTAMP hop is exact and yields epoch seconds w/ fraction.
        def secs(c: org.apache.spark.sql.Column) =
          c.cast("timestamp").cast("double")
        Tables.t(s, dir, "events")
          .select(col("user_id"), col("value"),
            (secs(lead(col("ts"), 1).over(w)) - secs(col("ts"))).as("dt"))
          .where(col("dt").isNotNull)
          .groupBy("user_id")
          .agg(round(sum(col("value") * col("dt")) / sum("dt"), 4).as("twap"))
          .orderBy("user_id")
      },
      Some("""WITH w AS (SELECT user_id, value,
             |                  epoch(lead(ts::TIMESTAMP) OVER (PARTITION BY user_id
             |                                                  ORDER BY ts::TIMESTAMP, event_id)
             |                        - ts::TIMESTAMP) AS dt
             |           FROM events)
             |SELECT user_id, round(sum(value * dt) / sum(dt), 4) AS twap
             |FROM w WHERE dt IS NOT NULL
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    GQuery(
      "events_outliers",
      (s, dir) => {
        // Z-score outlier gate (the numeric analog of the text quality
        // rules): per-type mean/stddev are a TINY aggregate broadcast
        // back onto the stream; flagging is a scan-side comparison.
        // Output is counts (|v−m| > 3σ), not z quotients — comparisons
        // of continuous doubles don't sit on representable ties the way
        // rounded decimal quotients do.
        val e = Tables.t(s, dir, "events")
        val st = e.groupBy("event_type")
          .agg(avg("value").as("m"), stddev_pop("value").as("sd"))
        e.join(broadcast(st), "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(when(abs(col("value") - col("m")) > lit(3) * col("sd"), 1L)
              .otherwise(0L)).as("n_outliers"))
          .orderBy("event_type")
      },
      Some("""WITH s AS (SELECT event_type, avg(value) AS m, stddev_pop(value) AS sd
             |           FROM events GROUP BY event_type)
             |SELECT e.event_type, count(*) AS n,
             |       CAST(sum(CASE WHEN abs(e.value - s.m) > 3 * s.sd THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_outliers
             |FROM events e JOIN s USING (event_type)
             |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),

    GQuery(
      "events_dau_wau",
      (s, dir) => {
        // DAU + trailing-7-day WAU per day. Events collapse to the
        // distinct (user, day) frame FIRST (the only big aggregate),
        // then the 7-day window is a |days| × (user, day) range join —
        // at 100 TB the join's left side is a tiny day dimension, so
        // it broadcasts and the frame streams through once.
        val ud = Tables.t(s, dir, "events")
          .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
        val days = ud.select(col("d").as("dd")).distinct()
        val dau = ud.groupBy("d").agg(countDistinct("user_id").as("dau"))
        val wau = broadcast(days)
          .join(ud, col("d").between(date_sub(col("dd"), 6), col("dd")))
          .groupBy(col("dd")).agg(countDistinct("user_id").as("wau"))
        dau.join(wau, col("d") === col("dd"))
          .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
            col("dau"), col("wau"))
          .orderBy("day")
      },
      Some("""WITH ud AS (SELECT DISTINCT ts::DATE AS d, user_id FROM events),
             |     days AS (SELECT DISTINCT d AS dd FROM ud),
             |     dau AS (SELECT d, count(DISTINCT user_id) AS dau FROM ud GROUP BY d),
             |     wau AS (SELECT dd, count(DISTINCT user_id) AS wau
             |             FROM days JOIN ud ON ud.d BETWEEN dd - 6 AND dd
             |             GROUP BY dd)
             |SELECT strftime(d, '%Y-%m-%d') AS day, dau, wau
             |FROM dau JOIN wau ON d = dd
             |ORDER BY day""".stripMargin)),

    GQuery(
      "events_gapfill",
      (s, dir) => {
        // Time-series GAP-FILL: per-user daily max gauge, forward-filled
        // over each user's own day spine. The spine is sequence(min_d,
        // max_d) exploded from ONE row per user (never a cross join with
        // a calendar table), the fill is last_value(IGNORE NULLS) over an
        // unbounded-preceding frame — one window pass, no self-joins.
        // At 100 TB: the daily aggregate is the only big shuffle (map-side
        // combine to |users|×|days| rows); the spine+fill then run on that
        // compacted frame. max() (not avg) keeps the gauge value exact
        // under any summation order.
        val daily = Tables.t(s, dir, "events")
          .select(col("user_id"), to_date(col("ts")).as("d"), col("value"))
          .groupBy("user_id", "d")
          .agg(round(max("value"), 2).as("v"))
        val spine = daily.groupBy("user_id")
          .agg(min("d").as("d0"), max("d").as("d1"))
          .select(col("user_id"),
            explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
        spine.join(daily, Seq("user_id", "d"), "left")
          .withColumn("v_filled", last("v", ignoreNulls = true).over(
            Window.partitionBy("user_id").orderBy("d")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("user_id"),
            date_format(col("d"), "yyyy-MM-dd").as("day"),
            col("v").as("v_obs"), col("v_filled"))
          .orderBy("user_id", "day")
      },
      Some("""WITH daily AS (SELECT user_id, ts::DATE AS d, round(max(value), 2) AS v
             |                FROM events GROUP BY user_id, ts::DATE),
             |     bounds AS (SELECT user_id, min(d) AS d0, max(d) AS d1
             |                FROM daily GROUP BY user_id),
             |     spine AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS dt
             |               FROM bounds),
             |     j AS (SELECT s.user_id, s.dt::DATE AS d, daily.v
             |           FROM spine s LEFT JOIN daily
             |             ON daily.user_id = s.user_id AND daily.d = s.dt::DATE)
             |SELECT user_id, strftime(d, '%Y-%m-%d') AS day, v AS v_obs,
             |       last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY d
             |         ROWS UNBOUNDED PRECEDING) AS v_filled
             |FROM j ORDER BY user_id, day""".stripMargin)),

    GQuery(
      "events_cum_users",
      (s, dir) => {
        // Daily active + NEW + CUMULATIVE distinct users — the growth-
        // accounting trio. Cumulative distinct is NOT a windowed
        // count(distinct): each user's min(day) attributes them to one
        // day (one per-user aggregate), then a running sum over the tiny
        // day spine. At 100 TB the heavy shuffles are the two keyed
        // aggregates; the window runs over ~days rows on one task.
        val e = Tables.t(s, dir, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"))
        val newPerDay = e.groupBy("user_id").agg(min("day").as("day"))
          .groupBy("day").agg(count(lit(1)).as("n_new"))
        val dau = e.groupBy("day").agg(countDistinct("user_id").as("dau"))
        val w = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        dau.join(newPerDay, Seq("day"), "left")
          .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("dau"), col("n_new"),
            sum("n_new").over(w).as("cum_users"))
          .orderBy("day")
      },
      Some("""WITH e AS (SELECT user_id, (ts::TIMESTAMP)::DATE AS day FROM events),
             |     npd AS (SELECT day, count(*) AS n_new
             |             FROM (SELECT user_id, min(day) AS day FROM e GROUP BY user_id)
             |             GROUP BY day),
             |     dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM e GROUP BY day)
             |SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau::BIGINT AS dau,
             |       coalesce(n_new, 0)::BIGINT AS n_new,
             |       (sum(coalesce(n_new, 0)) OVER (ORDER BY dau.day
             |          ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_users
             |FROM dau LEFT JOIN npd ON dau.day = npd.day
             |ORDER BY day""".stripMargin)),

    GQuery(
      "events_activity_streaks",
      (s, dir) => {
        // GAPS-AND-ISLANDS: longest run of CONSECUTIVE active days per
        // user. Classic anchor trick — on the distinct (user, day)
        // frame, day_number − row_number is constant exactly within a
        // consecutive run, so one per-user window + one aggregate
        // recovers every island without self-joins. Shape: distinct
        // aggregate, per-user window (partitioned — no global sort),
        // two rollups; everything shuffles on user_id once.
        val days = Tables.t(s, dir, "events")
          .select(col("user_id"),
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("long").as("day"))
          .distinct()
        val w = Window.partitionBy("user_id").orderBy("day")
        days.withColumn("grp", col("day") - row_number().over(w))
          .groupBy("user_id", "grp")
          .agg(count(lit(1)).as("len"))
          .groupBy("user_id")
          .agg(sum("len").as("n_active_days"),
            max("len").as("longest_streak"),
            count(lit(1)).as("n_streaks"))
          .orderBy("user_id")
      },
      Some("""WITH d AS (SELECT DISTINCT user_id,
             |                  date_diff('day', DATE '2024-01-01', ts::TIMESTAMP::DATE) AS day
             |           FROM events),
             |  g AS (SELECT user_id, day,
             |               day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
             |        FROM d),
             |  runs AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
             |           FROM g GROUP BY 1, 2)
             |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
             |       CAST(max(len) AS BIGINT) AS longest_streak,
             |       CAST(count(*) AS BIGINT) AS n_streaks
             |FROM runs GROUP BY 1 ORDER BY user_id""".stripMargin))
  )
}
