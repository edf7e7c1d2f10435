package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession

/** Round-6 optimization helpers — NOT part of the frozen driver bench
  * contract (`graft.Bench` is untouched). Two modes:
  *
  *   runMain graft.BenchExtra plans <outDir> [namePrefix,...]
  *     — write `.explain("formatted")` of each declared query's final
  *       DataFrame to <outDir>/<query>.txt (fixture builders run as part
  *       of constructing the frame, exactly as in the bench).
  *
  *   runMain graft.BenchExtra noop [namePrefix,...]
  *     — time each selected query with the noop sink (guide §1.4): the
  *       full result is computed and discarded, so the measurement is the
  *       computation, not the driver-side count. Prints one JSON line.
  *
  * Uses the same env contract as Bench (SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS) so numbers are comparable.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("noop")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()

    def selected(fromArg: Int): Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
      val prefixes = args.drop(fromArg).flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }
    }

    mode match {
      case "plans" =>
        val outDir = Paths.get(args(1))
        Files.createDirectories(outDir)
        selected(2).foreach { case (name, fn) =>
          spark.sparkContext.setJobDescription(s"plan: $name")
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.write(outDir.resolve(s"$name.txt"),
            plan.getBytes(StandardCharsets.UTF_8))
          println(s"[plans] wrote $name")
        }
      case _ =>
        val times = selected(1).map { case (name, fn) =>
          graft.util.Fixtures.reset()
          spark.sparkContext.setJobDescription(s"noop: $name")
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          name -> (System.nanoTime() - t0) / 1e9
        }
        val qs = times.map { case (k, v) => s"\"" + k + "\":" + v }
          .mkString("{", ",", "}")
        println(s"""{"metric":"noop_total","value":${times.map(_._2).sum},"queries":$qs}""")
    }
    spark.stop()
  }
}
