package graft.analytics

import org.apache.spark.sql.functions._
import graft.util.{Fixtures, Tables}

/** Source-format and calendar operators that round out SURVEY.md §2 rows
  * S4 (quoted-header CSV load) and P13/P16 (dim_date calendar
  * intelligence + date-literal era buckets).
  *
  * Reference: scripts/download_zone_lookup.py:83-98 (CSV with
  * SKIP_HEADER=1, FIELD_OPTIONALLY_ENCLOSED_BY='"'),
  * nyc_taxi_dbt/models/marts/core/dim_date.sql:49-81 (holiday/special
  * event/era attributes), insight_fee_impact.sql:3-15 and
  * insight_industry_evolution.sql:3-21 (date-literal era CASEs like
  * pickup_month < '2019-02-01').
  */
object SourceOps extends QueryPack {

  /** Bench hook: [[Fixtures.reset]]. */
  private[graft] def reset(): Unit = Fixtures.reset()

  def queries: Map[String, Query] = Map(
    // S4: header + quoted-field CSV through the engine's read path. The
    // fixture is derived deterministically from `nation` (embedded commas
    // AND embedded double-quotes in one field), written RFC4180-style
    // (quote-doubling escape) and read back with an explicit schema —
    // the round-trip is what the oracle hash-checks. One round-trip dir
    // per input snapshot (a `Fixtures` entry).
    "q27_csv_source" -> { (s, dir) =>
      import s.implicits._
      val tmp = Fixtures(s, "csv", dir, "nation") { f =>
        val n = Tables.load(s, dir, "nation").select(
          $"n_nationkey", $"n_name",
          concat($"n_name", lit(", \""), $"n_regionkey".cast("string"), lit("\" zone"))
            .as("display_name"),
          $"n_regionkey")
        val t = f.workDir()
        n.coalesce(1).write.mode("overwrite")
          .option("header", true).option("quoteAll", true).option("escape", "\"")
          .csv(t)
        t
      }
      s.read
        .option("header", true).option("quote", "\"").option("escape", "\"")
        .schema("n_nationkey INT, n_name STRING, display_name STRING, n_regionkey INT")
        .csv(tmp)
        .orderBy("n_nationkey")
    },

    // P13/P16: the dim_date calendar intelligence the spine query (q19)
    // does not cover — holiday detection (fixed-date + nth-weekday),
    // special-event window, and date-LITERAL era buckets.
    "q28_calendar_eras" -> { (s, dir) =>
      import s.implicits._
      val spine = s.range(1).select(explode(sequence(
          lit(java.sql.Date.valueOf("2019-01-01")),
          lit(java.sql.Date.valueOf("2021-12-31")))).as("d"))
      val holiday =
        when(month($"d") === 1 && dayofmonth($"d") === 1, "new_year")
          .when(month($"d") === 7 && dayofmonth($"d") === 4, "independence")
          .when(month($"d") === 12 && dayofmonth($"d") === 25, "christmas")
          // 4th Thursday of November (Spark dayofweek: 5 = Thursday)
          .when(month($"d") === 11 && dayofweek($"d") === 5 &&
            dayofmonth($"d").between(22, 28), "thanksgiving")
      spine.select(
        $"d",
        year($"d").as("y"),
        month($"d").as("m"),
        (dayofweek($"d") - 1).as("dow_sun0"),
        dayofweek($"d").isin(1, 7).as("is_weekend"),
        holiday.as("holiday_name"),
        holiday.isNotNull.as("is_holiday"),
        $"d".between(lit(java.sql.Date.valueOf("2020-03-15")),
          lit(java.sql.Date.valueOf("2020-06-07"))).as("is_disruption_window"),
        when($"d" < lit(java.sql.Date.valueOf("2019-02-01")), "pre_fee")
          .when($"d" < lit(java.sql.Date.valueOf("2020-03-15")), "fee_era")
          .when($"d" <= lit(java.sql.Date.valueOf("2020-06-07")), "disruption")
          .otherwise("recovery").as("era"))
        .orderBy("d")
    }
  )

  def oracles: Map[String, String] = Map(
    "q27_csv_source" ->
      """SELECT n_nationkey, n_name,
        |  n_name || ', "' || CAST(n_regionkey AS VARCHAR) || '" zone' AS display_name,
        |  n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q28_calendar_eras" ->
      """SELECT CAST(d AS DATE) AS d,
        |  year(d) AS y, month(d) AS m,
        |  dayofweek(d) AS dow_sun0,
        |  dayofweek(d) IN (0, 6) AS is_weekend,
        |  CASE WHEN month(d) = 1 AND dayofmonth(d) = 1 THEN 'new_year'
        |       WHEN month(d) = 7 AND dayofmonth(d) = 4 THEN 'independence'
        |       WHEN month(d) = 12 AND dayofmonth(d) = 25 THEN 'christmas'
        |       WHEN month(d) = 11 AND dayofweek(d) = 4
        |            AND dayofmonth(d) BETWEEN 22 AND 28 THEN 'thanksgiving'
        |  END AS holiday_name,
        |  CASE WHEN month(d) = 1 AND dayofmonth(d) = 1 THEN 'new_year'
        |       WHEN month(d) = 7 AND dayofmonth(d) = 4 THEN 'independence'
        |       WHEN month(d) = 12 AND dayofmonth(d) = 25 THEN 'christmas'
        |       WHEN month(d) = 11 AND dayofweek(d) = 4
        |            AND dayofmonth(d) BETWEEN 22 AND 28 THEN 'thanksgiving'
        |  END IS NOT NULL AS is_holiday,
        |  d BETWEEN DATE '2020-03-15' AND DATE '2020-06-07' AS is_disruption_window,
        |  CASE WHEN d < DATE '2019-02-01' THEN 'pre_fee'
        |       WHEN d < DATE '2020-03-15' THEN 'fee_era'
        |       WHEN d <= DATE '2020-06-07' THEN 'disruption'
        |       ELSE 'recovery' END AS era
        |FROM (SELECT unnest(generate_series(DATE '2019-01-01', DATE '2021-12-31',
        |        INTERVAL 1 DAY)) AS d)
        |ORDER BY d""".stripMargin
  )
}
