package graft.util

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit, TimeoutException}
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel
import graft.SparkSpec

/** The fixture registry's contract: one key rule, release of everything a
  * build owns (work dirs deleted, persisted frames unpersisted) on reset,
  * on supersession and on a failed build, reentrant nested builds, and a
  * shutdown sweep that never waits on the registry.
  */
class FixturesSpec extends SparkSpec {

  private def writeTable(sf: String, name: String, rows: Int): Unit =
    spark.range(rows).toDF("id").write.mode(SaveMode.Overwrite).parquet(s"$sf/$name.parquet")

  /** A temp sf dir holding `t` and a two-row `nation` (q27's input). */
  private def freshSf(): String = {
    import spark.implicits._
    val sf = tmpDir("fixtures-sf").toString
    writeTable(sf, "t", 10)
    Seq((0, "ALGERIA", 0), (1, "ARGENTINA", 1)).toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$sf/nation.parquet")
    sf
  }

  /** A fixture owning one work dir and one persisted frame over `t`. The
    * build stamp keeps each build's plan distinct: a frame's storage level
    * is looked up by plan, so two equal plans would share one cache entry.
    */
  private def tableFixture(sf: String): (String, DataFrame) =
    Fixtures(spark, "t-cache", sf, "t") { f =>
      val dir = f.workDir()
      val df = f.persist(spark.read.parquet(s"$sf/t.parquet")
        .withColumn("build", lit(System.nanoTime())))
      df.count()
      (dir, df)
    }

  private def assertReleased(dirs: Seq[String], frames: Seq[DataFrame]): Unit = {
    assert(Fixtures.live.isEmpty, s"live entries: ${Fixtures.live.keys}")
    dirs.foreach(d => assert(!Files.exists(Paths.get(d)), s"work dir survived: $d"))
    dirs.foreach(d => assert(!Fixtures.unreleased.contains(d), s"released dir still tracked: $d"))
    frames.foreach(df => assert(df.storageLevel === StorageLevel.NONE))
  }

  test("reset and every bench hook release all entries") {
    val hooks: Seq[(String, () => Unit)] = Seq(
      "Fixtures.reset" -> (() => Fixtures.reset()),
      "Pipeline.reset" -> (() => graft.analytics.Pipeline.reset()),
      "DedupOps.clearCache" -> (() => graft.analytics.DedupOps.clearCache()),
      "CdcOps.reset" -> (() => graft.analytics.CdcOps.reset()),
      "SourceOps.reset" -> (() => graft.analytics.SourceOps.reset()))
    hooks.foreach { case (label, hook) =>
      Fixtures.reset()
      val sf = freshSf()
      tableFixture(sf)
      graft.SparkEntry.queries("q27_csv_source")(spark, sf).collect()
      val owned = Fixtures.live.values.toSeq
      assert(Fixtures.live.keySet === Set(("t-cache", sf), ("csv", sf)))
      val dirs = owned.flatMap(_.dirs)
      val frames = owned.flatMap(_.frames)
      assert(dirs.size === 2 && dirs.forall(d => Files.isDirectory(Paths.get(d))))
      assert(frames.size === 1 && frames.head.storageLevel.useMemory)
      hook()
      withClue(label)(assertReleased(dirs, frames))
    }
  }

  test("rewriting the input rebuilds the entry and releases the superseded one") {
    Fixtures.reset()
    val sf = freshSf()
    val (dir1, df1) = tableFixture(sf)
    assert(tableFixture(sf)._1 === dir1, "an unchanged input must hit the live entry")
    writeTable(sf, "t", 20)
    val (dir2, df2) = tableFixture(sf)
    assert(dir2 !== dir1)
    assert(!Files.exists(Paths.get(dir1)), "superseded work dir survived")
    assert(df1.storageLevel === StorageLevel.NONE, "superseded frame still cached")
    assert(df2.count() === 20L && df2.storageLevel.useMemory)
    assert(Fixtures.live.keySet === Set(("t-cache", sf)))
    Fixtures.reset()
    assertReleased(Seq(dir2), Seq(df2))
  }

  test("a build that throws leaves neither a directory nor an entry") {
    Fixtures.reset()
    val sf = freshSf()
    var dir = ""
    var frame: DataFrame = null
    val e = intercept[IllegalStateException] {
      Fixtures(spark, "broken", sf, "t") { f =>
        dir = f.workDir()
        frame = f.persist(spark.read.parquet(s"$sf/t.parquet"))
        frame.count()
        throw new IllegalStateException("audit failed")
      }
    }
    assert(e.getMessage === "audit failed")
    assert(dir.nonEmpty)
    assertReleased(Seq(dir), Seq(frame))
    assert(Fixtures(spark, "broken", sf, "t")(_ => 7) === 7, "a failed build must not stick")
    Fixtures.reset()
  }

  test("a nested build returns the inner fixture without building it twice") {
    Fixtures.reset()
    val sf = freshSf()
    var innerBuilds = 0
    var outerBuilds = 0
    def inner(): String = Fixtures(spark, "inner", sf, "t") { f =>
      innerBuilds += 1
      f.workDir()
    }
    def outer(): (String, String) = Fixtures(spark, "outer", sf, "t", "nation") { f =>
      outerBuilds += 1
      (inner(), f.workDir())
    }
    val (innerDir, outerDir) = outer()
    assert(inner() === innerDir)
    assert(outer() === ((innerDir, outerDir)))
    assert(innerBuilds === 1 && outerBuilds === 1)
    assert(Fixtures.live.keySet === Set(("inner", sf), ("outer", sf)))
    Fixtures.reset()
    assertReleased(Seq(innerDir, outerDir), Nil)
  }

  test("the shutdown sweep deletes a building fixture's dir while the build holds the registry") {
    Fixtures.reset()
    val sf = freshSf()
    val entered = new CountDownLatch(1)
    val finish = new CountDownLatch(1)
    @volatile var dir = ""
    val builder = new Thread(() => {
      Fixtures(spark, "blocked", sf, "t") { f =>
        dir = f.workDir()
        entered.countDown()
        finish.await(120, TimeUnit.SECONDS)
      }
      ()
    })
    builder.start()
    try {
      assert(entered.await(60, TimeUnit.SECONDS), "the build never started")
      assert(Files.isDirectory(Paths.get(dir)) && Fixtures.unreleased.contains(dir))
      // the builder holds the registry's monitor: a registry call blocks
      intercept[TimeoutException](Await.result(Future(Fixtures.live), 500.millis))
      Await.result(Future(Fixtures.sweep()), 10.seconds)
      assert(!Files.exists(Paths.get(dir)), s"sweep left the building dir: $dir")
      assert(!Fixtures.unreleased.contains(dir))
    } finally {
      finish.countDown()
      builder.join(60000)
    }
    Fixtures.reset()
  }
}
