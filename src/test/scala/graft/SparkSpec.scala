package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — sbt
  * forks a single test JVM).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** A suite releases the fixtures its queries built (their work dirs and
    * persisted frames) when it ends, so a run leaves none behind.
    */
  override def afterAll(): Unit =
    try graft.util.Fixtures.reset() finally super.afterAll()

  /** Fresh scratch dir per call, deleted with its contents on JVM exit. */
  def tmpDir(prefix: String): Path = SparkSpec.tmpDir(prefix)

  /** Runs `body` and returns the number of Spark jobs it started on this
    * thread, with its result.
    */
  def jobsOf[T](body: => T): (Int, T) = {
    val (s, r) = jobStatsOf(body)
    (s.jobs, r)
  }

  /** Runs `body` and returns what the Spark jobs it started on this thread
    * did — jobs, tasks, and the records their tasks read — with its
    * result.
    */
  def jobStatsOf[T](body: => T): (SparkSpec.JobStats, T) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]
    val jobs, tasks = new java.util.concurrent.atomic.AtomicInteger
    val records = new java.util.concurrent.atomic.AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(SparkSpec.TagProp) == tag)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) {
          tasks.incrementAndGet()
          Option(e.taskMetrics).foreach(m => records.addAndGet(m.inputMetrics.recordsRead))
        }
    }
    sc.addSparkListener(l)
    sc.setLocalProperty(SparkSpec.TagProp, tag)
    try {
      val r = body
      ListenerBusDrain(sc)
      (SparkSpec.JobStats(jobs.get, tasks.get, records.get), r)
    } finally {
      sc.setLocalProperty(SparkSpec.TagProp, null)
      sc.removeSparkListener(l)
    }
  }

  /** Runs `body` and returns the executed physical plans of every query
    * it ran, nested ones included, with its result.
    */
  def plansOf[T](body: => T): (Seq[SparkPlan], T) = {
    // Listener events are delivered asynchronously: drain first, or the
    // end event of a query that ran just before `body` can reach the
    // listener registered below and count as one of `body`'s plans.
    ListenerBusDrain(spark.sparkContext)
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val r = body
      ListenerBusDrain(spark.sparkContext)
      (plans.asScala.toSeq, r)
    } finally spark.listenerManager.unregister(l)
  }
}

object SparkSpec {
  private val TagProp = "graft.test.tag"

  final case class JobStats(jobs: Int, tasks: Int, recordsRead: Long)

  private val tmpDirs = new ConcurrentLinkedQueue[Path]

  /** One hook, registered by the first [[tmpDir]], deletes every dir
    * handed out (`deleteOnExit` would skip any that is not empty).
    */
  private lazy val tmpCleanup = sys.addShutdownHook(
    tmpDirs.asScala.foreach(d => scala.util.Try(graft.util.Tables.deleteRecursively(d.toString))))

  def tmpDir(prefix: String): Path = {
    tmpCleanup
    val p = Files.createTempDirectory(s"graft-$prefix-")
    tmpDirs.add(p)
    p
  }

  private object Aqe extends AdaptiveSparkPlanHelper

  /** Every node of an executed plan, adaptive query stages included. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = Aqe.collect(plan) { case p => p }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
