package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Tables, TimeUtil}
import graft.formula.Formula
import graft.ops.{Dedup, Fill, Merge, Recurrence, Resample}

/** Observation-stream semantics (SURVEY §2.4-2.8) exercised on the driver's
  * `events` table — `user_id`/`event_type` standing in for the station key,
  * `ts`/`value` for the 5-min observation series. Each query is the library
  * operator applied + a DuckDB oracle with identical semantics.
  */
object TimeSeries extends QueryPack {

  private val HOUR_FMT = "yyyy-MM-dd HH:mm:ss"

  override val queries: Map[String, Q] = Map(

    // D1 — deterministic keep-first dedup (discharge_obs_pd.py:109,150).
    "q10_dedup_first" -> Q(
      (s, d) => Dedup.dedupFirst(Tables.events(s, d),
          Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_type"),
                col("event_id").as("first_event_id"), col("value")),
      Some("""
        SELECT user_id, event_type, event_id AS first_event_id, value
        FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id) = 1""")),

    // J3 — combine_first: OLD wins, new fills gaps (discharge_obs_pd.py:176-190).
    "q11_combine_first" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
        val old = ev.filter(col("event_id") % 3 =!= 0)
          .select(col("event_id"),
                  when(col("event_id") % 5 =!= 0, col("value")).as("value"))
        val nw = ev.filter(col("event_id") % 2 === 0)
          .select(col("event_id"), round(col("value") * 2, 2).as("value"))
        Merge.combineFirst(old, nw, Seq("event_id"), Seq("value"))
      },
      Some("""
        WITH old AS (SELECT event_id,
                            CASE WHEN event_id % 5 <> 0 THEN value END AS value
                     FROM events WHERE event_id % 3 <> 0),
             new AS (SELECT event_id, round(value * 2, 2) AS value
                     FROM events WHERE event_id % 2 = 0)
        SELECT COALESCE(o.event_id, n.event_id) AS event_id,
               COALESCE(o.value, n.value)       AS value
        FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id""")),

    // J9 — update: NEW wins (dischargeobs_write_xl.py:351). Same frames as
    // q11 so the opposite precedence is directly observable.
    "q12_update_new_wins" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
        val old = ev.filter(col("event_id") % 3 =!= 0)
          .select(col("event_id"),
                  when(col("event_id") % 5 =!= 0, col("value")).as("value"))
        val nw = ev.filter(col("event_id") % 2 === 0)
          .select(col("event_id"), round(col("value") * 2, 2).as("value"))
        Merge.updateWith(old, nw, Seq("event_id"), Seq("value"))
      },
      Some("""
        WITH old AS (SELECT event_id,
                            CASE WHEN event_id % 5 <> 0 THEN value END AS value
                     FROM events WHERE event_id % 3 <> 0),
             new AS (SELECT event_id, round(value * 2, 2) AS value
                     FROM events WHERE event_id % 2 = 0)
        SELECT COALESCE(o.event_id, n.event_id) AS event_id,
               COALESCE(n.value, o.value)       AS value
        FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id""")),

    // A1 — hourly resample: mean + max + last-non-null + count
    // (dischargeobs_write_xl.py:337-340,111-118).
    //
    // ORACLE-STABLE MEAN: sum the exact integer cents (integer-valued
    // doubles sum exactly in any order below 2^53), divide once — the
    // result is bit-identical across engines, so no rounding is needed.
    // A plain avg() + round() is NOT portable: power-of-2×5 group counts
    // make exact decimal midpoints reachable at EVERY precision, and
    // Spark (shortest-repr) and DuckDB (binary) round the same midpoint
    // double differently.
    "q13_hourly_agg" -> Q(
      (s, d) => Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((sum(round(col("value") * 100)) / (count(col("value")) * 100)).as("mean_value"),
             max(col("value")).as("max_value"),
             max_by(col("value"), when(col("value").isNotNull, col("ts"))).as("last_value"),
             count(col("value")).as("n_obs"))
        .select(col("event_type"),
                date_format(col("bucket"), HOUR_FMT).as("hour"),
                col("mean_value"), col("max_value"), col("last_value"), col("n_obs")),
      Some("""
        SELECT event_type,
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               sum(round(value * 100)) / (count(value) * 100) AS mean_value,
               max(value)           AS max_value,
               arg_max(value, CASE WHEN value IS NOT NULL THEN ts END) AS last_value,
               count(value)         AS n_obs
        FROM events GROUP BY 1, 2""")),

    // A5 + A4 — daily rollup with tail-patch: the last non-null day's mean
    // is replaced by that day's last raw observation
    // (dischargeobs_write_xl.py:379-387). Nulls injected via event_type.
    "q14_daily_tail_patch" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = Tables.events(s, d)
          .withColumn("v", when(col("event_type") =!= "error", col("value")))
        // oracle-stable mean: exact integer-cent sums (see q13)
        val daily = base
          .groupBy(col("user_id"), date_trunc("day", col("ts")).as("bucket"))
          .agg((sum(round(col("v") * 100)) / (count(col("v")) * 100)).as("mean_value"),
               max_by(col("v"), when(col("v").isNotNull, col("ts"))).as("last_value"))
        val w = Window.partitionBy(col("user_id"))
        daily
          .withColumn("__lv",
            max(when(col("mean_value").isNotNull, col("bucket"))).over(w))
          .select(col("user_id"),
                  date_format(col("bucket"), "yyyy-MM-dd").as("day"),
                  when(col("bucket") === col("__lv"), col("last_value"))
                    .otherwise(col("mean_value")).as("day_value"))
      },
      Some("""
        WITH src AS (SELECT user_id, ts,
                            CASE WHEN event_type <> 'error' THEN value END AS v
                     FROM events),
             daily AS (SELECT user_id, date_trunc('day', ts) AS bucket,
                              sum(round(v * 100)) / (count(v) * 100) AS mean_value,
                              arg_max(v, CASE WHEN v IS NOT NULL THEN ts END) AS last_value
                       FROM src GROUP BY 1, 2)
        SELECT user_id, strftime(bucket, '%Y-%m-%d') AS day,
               CASE WHEN bucket = max(CASE WHEN mean_value IS NOT NULL THEN bucket END)
                                    OVER (PARTITION BY user_id)
                    THEN last_value ELSE mean_value END AS day_value
        FROM daily""")),

    // W1/T5 — bounded forward-fill (dischargeobs_write_xl.py:353-355).
    "q15_ffill_bounded" -> Q(
      (s, d) => Fill.ffill(
          Tables.events(s, d)
            .withColumn("v", when(col("event_type") === "purchase", col("value"))),
          Seq("user_id"), Seq(col("ts"), col("event_id")), "v", "v_filled",
          cutoff = Some(col("ts") <= lit("2024-01-25").cast("timestamp")))
        .select(col("event_id"), col("user_id"), col("v_filled")),
      Some("""
        SELECT event_id, user_id,
               CASE WHEN ts <= TIMESTAMP '2024-01-25'
                    THEN last_value(v IGNORE NULLS)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    ELSE v END AS v_filled
        FROM (SELECT *, CASE WHEN event_type = 'purchase' THEN value END AS v
              FROM events)""")),

    // W2 — blank-on-repeat export labels (dischargeobs_write_xl.py:51-55).
    "q16_label_blank" -> Q(
      (s, d) => Fill.blankOnRepeat(
          Tables.events(s, d)
            .withColumn("label", date_format(col("ts"), "yyyy-MM-dd")),
          Seq("user_id"), Seq(col("ts"), col("event_id")), "label", "day_label")
        .select(col("event_id"), col("user_id"), col("day_label")),
      Some("""
        SELECT event_id, user_id,
               CASE WHEN lag(label) OVER (PARTITION BY user_id ORDER BY ts, event_id) = label
                    THEN '' ELSE label END AS day_label
        FROM (SELECT *, strftime(ts, '%Y-%m-%d') AS label FROM events)""")),

    // W3 — last valid (non-null) observation time per key
    // (dischargeobs_write_xl.py:347-348).
    "q17_last_valid" -> Q(
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(date_format(
          max(when(col("event_type") === "purchase", col("ts"))), HOUR_FMT)
          .as("last_purchase_ts")),
      Some("""
        SELECT user_id,
               strftime(max(CASE WHEN event_type = 'purchase' THEN ts END),
                        '%Y-%m-%d %H:%M:%S') AS last_purchase_ts
        FROM events GROUP BY user_id""")),

    // A7 — wide pivot at the export boundary (discharge_obs_pd.py:110).
    "q18_pivot_wide" -> Q(
      (s, d) => Tables.events(s, d)
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(round(sum(col("value")), 2)),
      Some("""
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               round(sum(value) FILTER (event_type = 'click'), 2)    AS click,
               round(sum(value) FILTER (event_type = 'error'), 2)    AS error,
               round(sum(value) FILTER (event_type = 'purchase'), 2) AS purchase,
               round(sum(value) FILTER (event_type = 'signup'), 2)   AS signup,
               round(sum(value) FILTER (event_type = 'view'), 2)     AS view
        FROM events GROUP BY 1""")),

    // F7 + J8 + J10 — calendar spine × key grid, left-aligned observations,
    // zero-filled (ECCC_hourly.py:74-75; dischargeobs_write_xl.py:129).
    "q19_spine_align" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
        val spine = TimeUtil.spineOver(ev, "ts", "hour", "1 hour")
          .withColumnRenamed("ts", "h")
        val types = ev.select(col("event_type")).distinct()
        val agg = ev.groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
        spine.crossJoin(broadcast(types))
          .join(agg, Seq("h", "event_type"), "left")
          .select(date_format(col("h"), "yyyy-MM-dd HH").as("hour"),
                  col("event_type"),
                  coalesce(col("n"), lit(0L)).as("n_events"),
                  coalesce(col("sv"), lit(0.0)).as("sum_value"))
      },
      Some("""
        WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
                          date_trunc('hour', max(ts)) AS hi FROM events),
             spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b),
             types AS (SELECT DISTINCT event_type FROM events),
             agg AS (SELECT date_trunc('hour', ts) AS h, event_type,
                            count(*) AS n, round(sum(value), 2) AS sv
                     FROM events GROUP BY 1, 2)
        SELECT strftime(s.h, '%Y-%m-%d %H') AS hour, t.event_type,
               COALESCE(a.n, 0)    AS n_events,
               COALESCE(a.sv, 0.0) AS sum_value
        FROM spine s CROSS JOIN types t
        LEFT JOIN agg a ON a.h = s.h AND a.event_type = t.event_type""")),

    // F4 — half-up rounding onto the 5-minute grid (discharge_obs_pd.py:143).
    "q20_round_5min" -> Q(
      (s, d) => Tables.events(s, d)
        .groupBy(date_format(TimeUtil.round5min(col("ts")), HOUR_FMT).as("grid_ts"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value")),
      Some("""
        SELECT strftime(make_timestamp(
                 ((epoch_us(ts) + 150000000) // 300000000) * 300000000),
                 '%Y-%m-%d %H:%M:%S') AS grid_ts,
               count(*) AS n, round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1""")),

    // F9 + A8 — unit conversions at the boundary (discharge_obs_pd.py:63-65).
    "q21_unit_convert" -> Q(
      (s, d) => Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(round(sum(col("value") / 35.3147), 3).as("total_cms"),
             round(sum(col("value") / 3.28084), 3).as("total_m"),
             // oracle-stable mean (see q13): exact cent sum, divide, convert
             (sum(round(col("value") * 100)) / (count(col("value")) * 100) / 35.3147)
               .as("mean_cms")),
      Some("""
        SELECT event_type,
               round(sum(value / 35.3147), 3) AS total_cms,
               round(sum(value / 3.28084), 3) AS total_m,
               sum(round(value * 100)) / (count(value) * 100) / 35.3147 AS mean_cms
        FROM events GROUP BY event_type""")),

    // F11 — compiled formula estimates over the wide pivot
    // (dischargeobs_write_xl.py:196-207 + Station_Estimates.csv grammar).
    // Inputs are the ROUNDED pivot cells so both engines start bit-identical.
    // Outputs snap to 4 places as floor(x·1e4 + 0.5) / 1e4 on the binary
    // double in BOTH engines: Spark's round(double, 4) rounds the shortest
    // decimal rendering half-up while DuckDB's rounds the double, so a
    // value rendered as a 4th-place tie (10084.02005, stored just below
    // it) came out 10084.0201 in Spark and 10084.02 in DuckDB.
    "q22_formula_estimates" -> Q(
      (s, d) => {
        val wide = Tables.events(s, d)
          .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
          .pivot("event_type", Seq("click", "purchase", "signup", "view"))
          .agg(round(sum(col("value")), 2))
        val est = Formula.applyEstimates(wide, Seq(
          ("est_quad", "(0.0006*{click}^2+0.0928*{click}-0.5642).clip(lower=0.001)", false),
          ("est_linear", "1.1907*{purchase}+1.9845*{view}+20.819", false),
          ("est_pow", "(2.0476*{signup}^0.40425)^2", false)), col)
        def snap4(c: String) = (floor(col(c) * 1e4 + 0.5) / 1e4).as(c)
        est.select(col("day"), snap4("est_quad"), snap4("est_linear"),
                   snap4("est_pow"))
      },
      Some("""
        WITH wide AS (
          SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                 round(sum(value) FILTER (event_type = 'click'), 2)    AS click,
                 round(sum(value) FILTER (event_type = 'purchase'), 2) AS purchase,
                 round(sum(value) FILTER (event_type = 'signup'), 2)   AS signup,
                 round(sum(value) FILTER (event_type = 'view'), 2)     AS view
          FROM events GROUP BY 1)
        SELECT day,
               floor(CASE WHEN 0.0006*power(click,2)+0.0928*click-0.5642 IS NOT NULL
                          THEN greatest(0.0006*power(click,2)+0.0928*click-0.5642, 0.001)
                     END * 1e4 + 0.5) / 1e4 AS est_quad,
               floor((1.1907*purchase+1.9845*view+20.819) * 1e4 + 0.5) / 1e4 AS est_linear,
               floor(power(2.0476*power(signup,0.40425), 2) * 1e4 + 0.5) / 1e4 AS est_pow
        FROM wide""")),

    // A3 — rising/falling recurrence (dischargeobs_write_xl.py:120-127).
    // Inherently sequential per key ⇒ typed flatMapGroups scan in Spark;
    // the oracle expresses the same recurrence as a RECURSIVE CTE (null
    // comparisons false ⇒ take max — identical to the pandas loop).
    "q23_rising_falling" -> Q(
      (s, d) => {
        val hourly = Resample.resample(Tables.events(s, d),
          Seq("user_id"), "ts", "value", "hour")
        Recurrence.risingFalling(s, hourly, "user_id", "bucket",
            "max_value", "last_value")
          .select(col("key").cast("long").as("user_id"),
                  date_format(col("bucket"), HOUR_FMT).as("hour"),
                  round(col("h"), 4).as("h"))
      },
      Some("""
        WITH RECURSIVE hourly AS (
          SELECT user_id, date_trunc('hour', ts) AS b,
                 max(value) AS m, arg_max(value, ts) AS l
          FROM events GROUP BY 1, 2),
        idx AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY b) AS rn
                FROM hourly),
        rec AS (
          SELECT user_id, b, rn, m AS h FROM idx WHERE rn = 1
          UNION ALL
          SELECT i.user_id, i.b, i.rn,
                 CASE WHEN i.m <= r.h THEN i.l ELSE i.m END
          FROM idx i JOIN rec r ON i.user_id = r.user_id AND i.rn = r.rn + 1)
        SELECT user_id, strftime(b, '%Y-%m-%d %H:%M:%S') AS hour,
               round(h, 4) AS h
        FROM rec""")),

    // D3 — duplicate-date year-rollover (dischargeobs_write_xl.py:403-404):
    // any non-first occurrence of the same month-day per key is shifted
    // exactly +1 year (pandas duplicated(keep='first') semantics).
    "q24_year_rollover" -> Q(
      (s, d) => Dedup.yearRollover(
          Tables.events(s, d).withColumn("mmdd", date_format(col("ts"), "MM-dd")),
          Seq("user_id", "mmdd"), Seq(col("ts"), col("event_id")), "ts")
        .select(col("event_id"), col("user_id"),
                date_format(col("ts"), "yyyy-MM-dd").as("rolled_date")),
      Some("""
        SELECT event_id, user_id,
               strftime(ts + to_years(CASE WHEN occurrence > 1 THEN 1 ELSE 0 END),
                        '%Y-%m-%d') AS rolled_date
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id, strftime(ts, '%m-%d')
                                           ORDER BY ts, event_id) AS occurrence
              FROM events)"""))
  )
}
