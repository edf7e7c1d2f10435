package graft.analytics

import org.apache.spark.sql.functions._
import graft.util.Tables

/** Projection/scalar operator family (SURVEY.md §2.2/§2.7/§2.8): dbt-utils
  * surrogate key, epoch µs round-trip, CASE bucketing, LIKE classification,
  * literal seed dims, date-spine generator, and schema-evolving union.
  *
  * Reference: stg_trips.sql:4-36, int_trips_validated.sql:19-85,
  * dim_zones.sql:5-8, dim_vendors.sql:6-11, dim_date.sql:6-81,
  * snowflake/setup.sql:58-61.
  */
object ScalarOps extends QueryPack {

  def queries: Map[String, Query] = Map(
    "q14_surrogate_key" -> { (s, dir) =>
      import s.implicits._
      // dbt_utils.generate_surrogate_key semantics: md5 of '-'-joined
      // coalesced string casts (stg_trips.sql:4-13, P2). Key parts avoid
      // raw doubles (engine-specific float formatting).
      Tables.load(s, dir, "orders")
        .select(
          $"o_orderkey",
          md5(concat_ws("-",
            coalesce($"o_orderkey".cast("string"), lit("")),
            coalesce($"o_orderstatus", lit("")),
            coalesce(to_date($"o_orderdate").cast("string"), lit("")),
            coalesce($"o_orderpriority", lit("")))).as("surrogate_key"))
        .orderBy("o_orderkey")
    },

    "q15_epoch_roundtrip" -> { (s, dir) =>
      import s.implicits._
      // timestamp → µs epoch → timestamp round-trip; the reference does
      // this with a string-truncation hack (stg_trips.sql:21-22,
      // int_trips_validated.sql:19-20, P4/P5) — we use true µs and keep
      // the minute-boundary-crossing duration convention.
      Tables.load(s, dir, "events")
        .select(
          $"event_id",
          unix_micros($"ts".cast("timestamp")).as("ts_us"),
          timestamp_micros(unix_micros($"ts".cast("timestamp"))).as("ts_roundtrip"),
          floor(unix_micros($"ts".cast("timestamp")).cast("double") / 60000000.0).cast("long")
            .as("minute_bucket"))
        .orderBy("event_id")
    },

    "q16_bucketing_case" -> { (s, dir) =>
      import s.implicits._
      // time_of_day 5-way CASE + weekend day_type; Spark dayofweek is
      // 1=Sun..7=Sat vs Snowflake 0=Sun..6=Sat — normalized here
      // (int_trips_validated.sql:61-69, P8; ERRORS_AND_FIXES.md:245-249).
      Tables.load(s, dir, "events")
        .withColumn("h", hour($"ts"))
        .withColumn("time_of_day",
          when($"h" < 6, "night").when($"h" < 10, "morning_rush")
            .when($"h" < 16, "midday").when($"h" < 20, "evening_rush")
            .otherwise("evening"))
        .withColumn("day_type",
          when(dayofweek($"ts").isin(1, 7), "weekend").otherwise("weekday"))
        .groupBy("time_of_day", "day_type")
        .agg(count(lit(1)).as("n_events"))
        .orderBy("time_of_day", "day_type")
    },

    "q17_like_class" -> { (s, dir) =>
      import s.implicits._
      // LIKE-based classification CASE (dim_zones.sql:5-8, P11).
      Tables.load(s, dir, "part")
        .withColumn("size_class",
          when($"p_type".like("%SMALL%") || $"p_type".like("%ECONOMY%"), "compact")
            .when($"p_type".like("%LARGE%"), "bulk")
            .otherwise("regular"))
        .withColumn("is_promo", $"p_type".like("%PROMO%"))
        .groupBy("size_class", "is_promo")
        .agg(count(lit(1)).as("n_parts"))
        .orderBy("size_class", "is_promo")
    },

    "q18_seed_dims" -> { (s, dir) =>
      import s.implicits._
      // Literal seed dimension (dim_vendors.sql:6-11, P12) — typed
      // Dataset from a Seq, the union-all-of-literals analog.
      Seq(
        (1, "Creative Mobile Technologies", true),
        (2, "Curb Mobility", true),
        (6, "Myle Technologies", false),
        (7, "Helix", false))
        .toDF("vendor_id", "vendor_name", "is_legacy")
        .orderBy("vendor_id")
    },

    "q19_date_spine" -> { (s, dir) =>
      import s.implicits._
      // dbt_utils.date_spine analog: sequence + explode, derived calendar
      // attributes (dim_date.sql:6-81, P13). dayofweek normalized to
      // 0=Sun..6=Sat, the Snowflake convention the reference tests use.
      s.range(1).select(explode(sequence(
          lit(java.sql.Date.valueOf("1995-01-01")),
          lit(java.sql.Date.valueOf("1995-12-31")))).as("d"))
        .select(
          $"d",
          year($"d").as("y"), quarter($"d").as("q"), month($"d").as("m"),
          dayofmonth($"d").as("dom"), dayofyear($"d").as("doy"),
          (dayofweek($"d") - 1).as("dow_sun0"),
          date_format($"d", "MMMM").as("month_name"),
          last_day($"d").as("month_end"),
          (dayofweek($"d").isin(1, 7)).as("is_weekend"),
          date_trunc("quarter", $"d").cast("date").as("quarter_start"),
          // dim_date long tail (dim_date.sql:31-44): ISO week, day name,
          // month start, first business day (month start rolled off a
          // weekend: Sun→+1, Sat→+2)
          weekofyear($"d").as("week_of_year"),
          date_format($"d", "EEEE").as("day_name"),
          trunc($"d", "month").as("month_start"),
          when(dayofweek(trunc($"d", "month")) === 1, date_add(trunc($"d", "month"), 1))
            .when(dayofweek(trunc($"d", "month")) === 7, date_add(trunc($"d", "month"), 2))
            .otherwise(trunc($"d", "month")).as("first_business_day"))
        .orderBy("d")
    },

    "q20_union_evolution" -> { (s, dir) =>
      import s.implicits._
      // Additive-schema union: two projections with disjoint extra
      // columns merged by name, missing sides null-filled — the
      // MATCH_BY_COLUMN_NAME / ENABLE_SCHEMA_EVOLUTION read path
      // (setup.sql:58-61; engine analog: SnapshotTable.readEntries reads
      // every data file by name under its snapshot's schema).
      val o = Tables.load(s, dir, "orders")
      val oldShape = o.filter($"o_orderkey" % 2 === 0)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val newShape = o.filter($"o_orderkey" % 2 === 1)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
          $"o_orderpriority") // column added upstream later
      oldShape.unionByName(newShape, allowMissingColumns = true)
        .orderBy("o_orderkey")
    }
  )

  def oracles: Map[String, String] = Map(
    "q14_surrogate_key" ->
      """SELECT o_orderkey,
        |  md5(concat_ws('-',
        |    coalesce(CAST(o_orderkey AS VARCHAR), ''),
        |    coalesce(o_orderstatus, ''),
        |    coalesce(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), ''),
        |    coalesce(o_orderpriority, ''))) AS surrogate_key
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q15_epoch_roundtrip" ->
      """SELECT event_id, epoch_us(ts) AS ts_us,
        |  make_timestamp(epoch_us(ts)) AS ts_roundtrip,
        |  CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 60000000.0) AS BIGINT) AS minute_bucket
        |FROM events ORDER BY event_id""".stripMargin,

    "q16_bucketing_case" ->
      """SELECT time_of_day, day_type, count(*) AS n_events FROM (
        |  SELECT CASE WHEN hour(ts) < 6 THEN 'night'
        |              WHEN hour(ts) < 10 THEN 'morning_rush'
        |              WHEN hour(ts) < 16 THEN 'midday'
        |              WHEN hour(ts) < 20 THEN 'evening_rush'
        |              ELSE 'evening' END AS time_of_day,
        |    CASE WHEN dayofweek(ts) IN (0, 6) THEN 'weekend'
        |         ELSE 'weekday' END AS day_type
        |  FROM events)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q17_like_class" ->
      """SELECT size_class, is_promo, count(*) AS n_parts FROM (
        |  SELECT CASE WHEN p_type LIKE '%SMALL%' OR p_type LIKE '%ECONOMY%' THEN 'compact'
        |              WHEN p_type LIKE '%LARGE%' THEN 'bulk'
        |              ELSE 'regular' END AS size_class,
        |    p_type LIKE '%PROMO%' AS is_promo
        |  FROM part)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q18_seed_dims" ->
      """SELECT * FROM (VALUES
        |  (1, 'Creative Mobile Technologies', true),
        |  (2, 'Curb Mobility', true),
        |  (6, 'Myle Technologies', false),
        |  (7, 'Helix', false)) AS t(vendor_id, vendor_name, is_legacy)
        |ORDER BY vendor_id""".stripMargin,

    "q19_date_spine" ->
      """SELECT CAST(d AS DATE) AS d,
        |  year(d) AS y, quarter(d) AS q, month(d) AS m,
        |  dayofmonth(d) AS dom, dayofyear(d) AS doy,
        |  dayofweek(d) AS dow_sun0,
        |  monthname(d) AS month_name,
        |  last_day(d) AS month_end,
        |  dayofweek(d) IN (0, 6) AS is_weekend,
        |  CAST(date_trunc('quarter', d) AS DATE) AS quarter_start,
        |  CAST(weekofyear(d) AS INT) AS week_of_year,
        |  dayname(d) AS day_name,
        |  CAST(date_trunc('month', d) AS DATE) AS month_start,
        |  CASE WHEN dayofweek(date_trunc('month', d)) = 0
        |         THEN CAST(date_trunc('month', d) AS DATE) + 1
        |       WHEN dayofweek(date_trunc('month', d)) = 6
        |         THEN CAST(date_trunc('month', d) AS DATE) + 2
        |       ELSE CAST(date_trunc('month', d) AS DATE) END AS first_business_day
        |FROM (SELECT unnest(generate_series(DATE '1995-01-01', DATE '1995-12-31',
        |        INTERVAL 1 DAY)) AS d)
        |ORDER BY d""".stripMargin,

    "q20_union_evolution" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  NULL AS o_orderpriority
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey % 2 = 1
        |ORDER BY o_orderkey""".stripMargin
  )
}
