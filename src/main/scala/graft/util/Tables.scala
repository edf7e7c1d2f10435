package graft.util

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-table loader for the driver-provided parquet fixtures
  * (/root/testdata/sf*, see TESTDATA.md). One parquet per table.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Streams from Files.list/walk hold an fd until closed — always wrap. */
  def listClosed[A](p: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(p)
    try f(s.iterator().asScala) finally s.close()
  }

  def walkClosed[A](p: Path)(f: Iterator[Path] => A): A = {
    val s = Files.walk(p)
    try f(s.iterator().asScala) finally s.close()
  }

  /** Data fingerprint of one or more tables under an sf dir: the parquet
    * file listing (name/size/mtime). [[Fixtures]] keys on this — not the
    * bare path — so in-place data replacement (a same-dir re-generate)
    * invalidates cached DataFrames/marts.
    */
  def fingerprint(sfDir: String, names: String*): String = {
    val parts = names.map { n =>
      val p = Paths.get(s"$sfDir/$n.parquet")
      if (!Files.exists(p)) s"$n:absent"
      else if (Files.isDirectory(p))
        listClosed(p)(_.map(f =>
          s"${f.getFileName}:${Files.size(f)}:${Files.getLastModifiedTime(f).toMillis}")
          .toSeq.sorted.mkString(","))
      else s"$n:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
    }
    s"$sfDir|${parts.mkString(";")}"
  }

  /** Scratch dir for engine fixtures (replay tables, stream checkpoints,
    * CSV round-trips): GRAFT_WORK_DIR if set, else tmpfs (/dev/shm) when
    * present, else java.io.tmpdir. The sandbox VM's virtual disk has 5×
    * run-to-run throughput variance and streaming checkpoints fsync per
    * epoch — tmpfs keeps the measurement on the engine, not the disk.
    * Callers delete what they create; [[Fixtures]] deletes the dirs it
    * hands to fixture builds when it releases them.
    */
  def newWorkDir(prefix: String): Path = {
    val base = sys.env.get("GRAFT_WORK_DIR").map(Paths.get(_))
      .orElse(Some(Paths.get("/dev/shm/graft-work")).filter(p =>
        Files.isDirectory(p.getParent) && Files.isWritable(p.getParent)))
    base match {
      case Some(b) => Files.createDirectories(b); Files.createTempDirectory(b, prefix)
      case None => Files.createTempDirectory(prefix)
    }
  }

  def deleteRecursively(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) walkClosed(p)(_.toSeq).reverse.foreach(Files.deleteIfExists(_))
  }
}
