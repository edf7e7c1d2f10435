package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.{Fixtures, Tables, Timed}

/** The composed medallion pipeline — the reference's core UX: one call
  * materializes staging → intermediate (validated) → marts in dependency
  * order, with dbt-style test gates after each layer and the OBT computed
  * ONCE (cached) and reused by every downstream mart.
  *
  * Reference: nyc_taxi_dbt/dbt_project.yml:18-31 (layer materializations),
  * dbt_transformation_dag.py:56-109 (staging → intermediate → marts with
  * `dbt test` gates between layers), OBT reuse at agg_monthly.sql:45,
  * insight_zone_heatmap.sql:10,15, insight_route_pricing.sql:15,
  * insight_tipping_patterns.sql:16, insight_anomaly_breakdown.sql:11.
  *
  * Scale shape: staging/validated are narrow projections+filters (pushed
  * to the scan), the OBT joins hint broadcast ONLY on the bounded nation
  * dim, and `.persist()` on the OBT is the dbt `table` materialization
  * analog — downstream marts scan the materialization instead of
  * recomputing the join DAG (asserted in PipelineSpec).
  */
object Pipeline {

  /** dbt-generic-test analogs (macros/tests/test_in_range.sql:1-17,
    * test_positive_value.sql:1-10, schema.yml not_null/unique/
    * accepted_values): each returns the VIOLATING rows; empty ⇒ pass.
    */
  object Checks {
    def notNull(df: DataFrame, cols: Seq[String]): DataFrame =
      df.filter(cols.map(c => col(c).isNull).reduce(_ || _))
    def unique(df: DataFrame, cols: Seq[String]): DataFrame =
      df.groupBy(cols.map(col): _*).count().filter(col("count") > 1)
    def acceptedValues(df: DataFrame, c: String, values: Seq[Any]): DataFrame =
      df.filter(!col(c).isin(values: _*))
    def positive(df: DataFrame, c: String): DataFrame =
      df.filter(col(c) <= 0)

    /** The dbt-test gate: any violating row fails the layer. */
    def gate(layer: String, violations: (String, DataFrame)*): Unit =
      violations.foreach { case (test, v) =>
        if (!v.isEmpty)
          sys.error(s"pipeline gate failed at layer '$layer', test '$test': " +
            v.limit(3).collect().mkString("; "))
      }

    /** Warn-severity gate (dbt `severity: warn`, schema.yml:8 — the
      * reference's trip_id uniqueness test WARNS on its ~133K known
      * duplicates rather than failing the run): violations are logged and
      * the layer proceeds. Returns the violation count for callers that
      * track data-quality metrics.
      */
    def gateWarn(layer: String, violations: (String, DataFrame)*): Long =
      violations.map { case (test, v) =>
        val n = v.limit(1000000).count()
        if (n > 0)
          System.err.println(
            s"[pipeline] WARN at layer '$layer', test '$test': $n violating group(s)")
        n
      }.sum

    /** Single-pass layer gate: dbt executes one SELECT per test (one scan
      * each); here every row-predicate test of a layer folds into ONE
      * aggregation over ONE scan — conditional violation counts — and
      * example rows are fetched only on the (rare) failure path. At 100 TB
      * this is the difference between T scans and 1.
      */
    def gateOnePass(layer: String, df: DataFrame, tests: (String, Column)*): Unit = {
      val counts = df.agg(
        sum(when(tests.head._2, 1L).otherwise(0L)).as(tests.head._1),
        tests.tail.map { case (name, bad) =>
          sum(when(bad, 1L).otherwise(0L)).as(name) }: _*).head()
      tests.zipWithIndex.foreach { case ((name, bad), i) =>
        if (!counts.isNullAt(i) && counts.getLong(i) > 0) {
          val examples = df.filter(bad).limit(3).collect().mkString("; ")
          sys.error(s"pipeline gate failed at layer '$layer', test '$name': " +
            s"${counts.getLong(i)} violations, e.g. $examples")
        }
      }
    }

    /** [[gateOnePass]] plus a warn-severity APPROXIMATE uniqueness signal
      * folded into the same single scan: estimated duplicates =
      * count(*) − approx_count_distinct(key, rsd 0.01). A warn-severity
      * test (dbt schema.yml:8 warns on ~133K known trip_id dups, every
      * run) doesn't justify a full shuffle-by-key at 100 TB — HLL rides
      * the scan the error-severity tests already pay for. Warn fires above
      * a 2% noise floor (2× the HLL rsd); exact counting stays available
      * behind [[Pipeline.run]]'s `exactUniqueGate`. Returns the estimated
      * duplicate count (0 under the floor) so callers/tests can track it.
      */
    def gateOnePassApproxUnique(layer: String, df: DataFrame,
        uniqueKey: Seq[String], tests: (String, Column)*): Long = {
      // HLL hashes its input anyway — feed it the codegen'd 64-bit hash
      // of the key columns instead of materializing a concatenated string
      // per row (a per-row allocation on the hottest full scan). A 64-bit
      // pre-hash collision at warehouse-key cardinalities is far below
      // the HLL's own 1% rsd.
      val key = xxhash64(uniqueKey.map(col): _*)
      val aggs = Seq(
        count(lit(1)).as("__n_rows"),
        approx_count_distinct(key, 0.01).as("__n_keys")) ++
        tests.map { case (name, bad) => sum(when(bad, 1L).otherwise(0L)).as(name) }
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      tests.zipWithIndex.foreach { case ((name, bad), i) =>
        if (!row.isNullAt(i + 2) && row.getLong(i + 2) > 0) {
          val examples = df.filter(bad).limit(3).collect().mkString("; ")
          sys.error(s"pipeline gate failed at layer '$layer', test '$name': " +
            s"${row.getLong(i + 2)} violations, e.g. $examples")
        }
      }
      val n = row.getLong(0)
      val dups = math.max(0L, n - row.getLong(1))
      if (dups > n / 50) {
        System.err.println(s"[pipeline] WARN at layer '$layer', test " +
          s"'unique_${uniqueKey.mkString("_")}': ~$dups duplicate key(s) (approx)")
        dups
      } else 0L
    }
  }

  /** The materialized marts of one pipeline run. */
  case class Marts(
      obt: DataFrame,
      aggMonthly: DataFrame,
      insightNationMix: DataFrame)

  private def dsum(c: Column): Column = sum(c.cast("decimal(18,6)")).cast("double")

  /** Bench/test hook: [[Fixtures.reset]]. */
  private[graft] def reset(): Unit = Fixtures.reset()

  /** One run per input snapshot ([[Fixtures]] entry) so every downstream
    * query shares the cached OBT; a superseded OBT is unpersisted.
    */
  def run(s: SparkSession, dir: String, gates: Boolean = true,
      exactUniqueGate: Boolean = false): Marts =
    Fixtures(s, "pipeline", dir, "lineitem", "orders", "customer", "nation")(
      runOnce(s, dir, gates, exactUniqueGate, _))

  private val timed = new Timed("pipeline-timing", "GRAFT_PIPELINE_TIMING")

  private def runOnce(s: SparkSession, dir: String, gates: Boolean,
      exactUniqueGate: Boolean, f: Fixtures.Build): Marts = {
    import s.implicits._

    // ── staging (bronze): standardize names, nothing else ──────────────
    val stgLines = Tables.load(s, dir, "lineitem").select(
      $"l_orderkey".as("order_key"), $"l_linenumber".as("line_no"),
      $"l_quantity".as("qty"), $"l_extendedprice".as("price"),
      $"l_discount".as("disc"), $"l_tax".as("tax"),
      $"l_returnflag".as("return_flag"), $"l_shipdate".as("ship_ts"))
    val stgOrders = Tables.load(s, dir, "orders").select(
      $"o_orderkey".as("order_key"), $"o_custkey".as("cust_key"),
      $"o_orderstatus".as("status"), $"o_orderpriority".as("priority"))
    val validPred = $"qty" > 0 && $"price" > 0 && $"ship_ts".isNotNull &&
      $"disc".between(0.0, 1.0)
    if (gates) {
      // error tests + warn-severity uniqueness (reference trip_id dups,
      // schema.yml:8) in ONE scan — and the intermediate layer's row
      // tests fold into the SAME scan, conditioned on the validation
      // predicate (a test on `validated` ≡ validPred && test on staging
      // rows): two full lineitem scans become one. dbt runs one SELECT
      // per layer; at 100 TB every saved corpus scan is the win
      // (guide §1.2 "don't compute things twice").
      timed("gate-staging+intermediate")(Checks.gateOnePassApproxUnique(
        "staging+intermediate", stgLines,
        uniqueKey = Seq("order_key", "line_no"),
        "not_null_order_key" -> col("order_key").isNull,
        "positive_qty" -> (validPred && col("qty") <= 0),
        "disc_in_range" -> (validPred && (col("disc") < 0.0 || col("disc") > 1.0)),
        "accepted_return_flag" -> (validPred && !col("return_flag").isin("A", "N", "R"))))
      if (exactUniqueGate)
        Checks.gateWarn("staging",
          "unique_order_line" -> Checks.unique(stgLines, Seq("order_key", "line_no")))
    }

    // ── intermediate (silver): validate + derive ────────────────────────
    val validated = stgLines
      .filter(validPred)
      .withColumn("ship_month", date_trunc("month", $"ship_ts").cast("date"))
      .withColumn("disc_price", $"price" * (lit(1.0) - $"disc"))
      .withColumn("charge", $"price" * (lit(1.0) - $"disc") * (lit(1.0) + $"tax"))

    // ── marts core (gold): the one-big-table, computed ONCE ────────────
    val n = Tables.load(s, dir, "nation")
      .select($"n_nationkey", $"n_name".as("nation"))
    val obt = f.persist(validated
      .join(stgOrders, Seq("order_key"), "left")
      .join(Tables.load(s, dir, "customer")
        .select($"c_custkey", $"c_nationkey", $"c_mktsegment".as("segment")),
        $"cust_key" === $"c_custkey", "left")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey", "left")
      .drop("c_custkey", "c_nationkey", "n_nationkey"))
    if (gates) timed("gate-marts-core")(Checks.gateOnePass("marts_core", obt,
      "not_null_nation" -> col("nation").isNull))

    // ── marts: aggregation + insight, BOTH from the cached OBT ─────────
    val aggMonthly = obt
      .groupBy($"ship_month")
      .agg(
        count(lit(1)).as("n_lines"),
        countDistinct($"order_key").as("n_orders"),
        dsum($"qty").as("sum_qty"),
        dsum($"disc_price").as("revenue"),
        (dsum($"charge") / count(lit(1))).as("avg_charge"))
      .orderBy("ship_month")

    val nationAgg = obt
      .groupBy($"nation")
      .agg(
        count(lit(1)).as("n_lines"),
        dsum($"disc_price").as("revenue"),
        sum(when($"return_flag" === "R", 1).otherwise(0)).as("n_returns"))
    val w = Window.orderBy($"revenue".desc, $"nation")
    val insight = nationAgg
      .withColumn("rev_rank", row_number().over(w))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("tier",
        when($"pr" <= 0.2, "hot").when($"pr" <= 0.5, "warm").otherwise("cold"))
      .drop("pr")
      .orderBy("rev_rank")

    Marts(obt, aggMonthly, insightNationMix = insight)
  }
}

/** Driver-gate surface of the composed pipeline: the two terminal marts,
  * re-derived independently in the DuckDB oracles (full chain as CTEs).
  * Both queries run off the SAME memoized [[Pipeline.run]], so the driver
  * executing them back-to-back exercises the cached-OBT reuse.
  */
object PipelineOps extends QueryPack {

  private def dsumSql(expr: String): String =
    s"CAST(sum(CAST(($expr) AS DECIMAL(18,6))) AS DOUBLE)"

  private val duckValidated =
    """validated AS (
      |  SELECT l_orderkey AS order_key, l_returnflag AS return_flag,
      |    CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
      |    l_quantity AS qty,
      |    l_extendedprice * (1.0 - l_discount) AS disc_price,
      |    l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge
      |  FROM lineitem
      |  WHERE l_quantity > 0 AND l_extendedprice > 0 AND l_shipdate IS NOT NULL
      |    AND l_discount BETWEEN 0.0 AND 1.0)""".stripMargin

  def queries: Map[String, Query] = Map(
    "q42_pipeline_monthly" -> { (s, dir) => Pipeline.run(s, dir).aggMonthly },
    "q43_pipeline_insight" -> { (s, dir) => Pipeline.run(s, dir).insightNationMix }
  )

  def oracles: Map[String, String] = Map(
    "q42_pipeline_monthly" ->
      s"""WITH $duckValidated
         |SELECT ship_month, count(*) AS n_lines,
         |  count(DISTINCT order_key) AS n_orders,
         |  ${dsumSql("qty")} AS sum_qty,
         |  ${dsumSql("disc_price")} AS revenue,
         |  ${dsumSql("charge")} / count(*) AS avg_charge
         |FROM validated GROUP BY 1 ORDER BY 1""".stripMargin,

    "q43_pipeline_insight" ->
      s"""WITH $duckValidated,
         |obt AS (
         |  SELECT v.*, n.n_name AS nation
         |  FROM validated v
         |  LEFT JOIN orders o ON v.order_key = o.o_orderkey
         |  LEFT JOIN customer c ON o.o_custkey = c.c_custkey
         |  LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey),
         |agg AS (
         |  SELECT nation, count(*) AS n_lines,
         |    ${dsumSql("disc_price")} AS revenue,
         |    CAST(sum(CASE WHEN return_flag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returns
         |  FROM obt GROUP BY 1),
         |ranked AS (
         |  SELECT nation, n_lines, revenue, n_returns,
         |    row_number() OVER (ORDER BY revenue DESC, nation) AS rev_rank,
         |    percent_rank() OVER (ORDER BY revenue DESC, nation) AS pr
         |  FROM agg)
         |SELECT nation, n_lines, revenue, n_returns, rev_rank,
         |  CASE WHEN pr <= 0.2 THEN 'hot' WHEN pr <= 0.5 THEN 'warm'
         |       ELSE 'cold' END AS tier
         |FROM ranked ORDER BY rev_rank""".stripMargin
  )
}
