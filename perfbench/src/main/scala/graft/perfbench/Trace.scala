package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed call into a layer, recorded from the benchmark's side of the
  * call. `opId` groups the spans of one workload op.
  */
final class Span(val id: Long, val name: String, val parent: Option[Span], val opId: Long,
    val startNs: Long, val prevProp: String) {
  @volatile var endNs: Long = -1L
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark-side counters attributed to one span. */
final class Agg {
  var jobs, stages, tasks, runMs, gcMs, shuffleWrite, shuffleRead, spill,
    inputBytes, inputRecords, outputBytes = 0L
  def +=(o: Agg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    inputBytes += o.inputBytes; inputRecords += o.inputRecords; outputBytes += o.outputBytes
  }
}

/** Spans around the benchmark's calls into the engine, plus the two Spark
  * listeners that attribute work to them. Off by default: an untraced run
  * registers no listener and records nothing.
  *
  * A span tags the jobs its thread starts through a Spark local property;
  * threads started inside the span (a streaming query's execution thread)
  * inherit the tag, so every micro-batch job of an ingest lands on the
  * span that started the query.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.Prop

  private val sc = spark.sparkContext
  @volatile private var on = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Option[Span]] { override def initialValue() = None }

  private val bySpan = new ConcurrentHashMap[Long, Agg]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val skews = new ConcurrentLinkedQueue[Double]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private def agg(span: Long): Agg = bySpan.computeIfAbsent(span, _ => new Agg)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toLong).getOrElse(0L)
      agg(span).synchronized(agg(span).jobs += 1)
      e.stageInfos.foreach(si => stageSpan.put(si.stageId, span))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = agg(stageSpan.getOrDefault(e.stageId, 0L))
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.runMs += m.executorRunTime; a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inputBytes += m.inputMetrics.bytesRead
          a.inputRecords += m.inputMetrics.recordsRead
          a.outputBytes += m.outputMetrics.bytesWritten
        }
      }
      val ts = stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
      ts.synchronized(ts += e.taskInfo.duration)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val a = agg(stageSpan.getOrDefault(e.stageInfo.stageId, 0L))
      a.synchronized(a.stages += 1)
      Option(stageTaskMs.remove(e.stageInfo.stageId)).foreach { ts =>
        val sorted = ts.synchronized(ts.sorted.toVector)
        // skew only means something for stages that did real work
        if (sorted.size >= 2 && sorted.sum >= Tracer.SkewMinStageMs) {
          val median = Stats.quantile(sorted.map(_.toDouble), 0.5)
          skews.add(sorted.last / math.max(1.0, median))
        }
      }
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
    on = true
  }

  /** Stop recording; waits until every event posted so far is delivered. */
  def stop(): Unit = {
    on = false
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
  }

  /** Open a span on this thread; `end` it on the same thread. Returns None
    * when tracing is off.
    */
  def begin(name: String, opId: Long = -1L): Option[Span] =
    if (!on) None
    else {
      val parent = current.get
      val s = new Span(ids.incrementAndGet(), name, parent,
        if (opId >= 0) opId else parent.map(_.opId).getOrElse(-1L),
        System.nanoTime(), sc.getLocalProperty(Prop))
      spans.add(s)
      current.set(Some(s))
      sc.setLocalProperty(Prop, s.id.toString)
      Some(s)
    }

  def end(s: Option[Span]): Unit = s.foreach { sp =>
    sp.endNs = System.nanoTime()
    current.set(sp.parent)
    sc.setLocalProperty(Prop, sp.prevProp)
  }

  def span[A](name: String, opId: Long = -1L)(body: => A): A = {
    val s = begin(name, opId)
    try body finally end(s)
  }

  def closed(name: String): Seq[Span] =
    spans.asScala.filter(s => s.name == name && s.endNs >= 0).toSeq

  /** Spark work of every span whose name passes `named`, including the
    * spans nested in them.
    */
  def work(named: String => Boolean): Agg = {
    val roots = spans.asScala.filter(s => named(s.name)).map(_.id).toSet
    val total = new Agg
    spans.asScala.filter(s => Iterator.iterate(Option(s))(_.flatMap(_.parent))
        .takeWhile(_.isDefined).exists(p => roots.contains(p.get.id)))
      .foreach(s => Option(bySpan.get(s.id)).foreach(total += _))
    total
  }

  def worstSkew: Double = skews.asScala.foldLeft(0.0)(math.max)

  def queryProgress(name: String): Seq[StreamingQueryProgress] =
    progress.asScala.filter(_.name == name).toSeq

  /** Write every span as one JSON line. */
  def writeSpans(to: Path): Unit = {
    Files.createDirectories(to.getParent)
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent.map(_.id).getOrElse(0L),
        "op" -> s.opId, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    Files.write(to, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** Local property carrying the enclosing span's id into Spark jobs. */
  val Prop = "perfbench.span"
  /** Stages with less task time than this are left out of `task_skew`. */
  val SkewMinStageMs = 200L
}
