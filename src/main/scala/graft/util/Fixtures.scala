package graft.util

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one registry of memoized fixtures: a fixture is anything a query
  * builds once per input snapshot and shares — the deterministic CDC
  * changelog, a replayed table, the pipeline OBT, an LSH pair set, a CSV
  * round-trip dir (the dbt `table` materialization: built once per pass,
  * read by every downstream query).
  *
  *  - Keying: an entry is named, and lives per (name, sf dir). Its key is
  *    the owning session's application id plus [[Tables.fingerprint]] of
  *    the input tables it names, so regenerated data or a restarted
  *    session rebuilds instead of serving a stale or dead entry. A
  *    superseded entry is released before its replacement is built.
  *  - Release: a build owns what it gets from its [[Build]] handle — the
  *    work dirs it asks for are deleted and the frames it persists
  *    through it are unpersisted. A build that throws is released at once
  *    and leaves no entry.
  *  - Reset: [[reset]] releases every entry (bench passes call it so each
  *    pass re-pays every build exactly once).
  *  - Exit: a JVM that exits without a reset still leaves no work dir
  *    behind: one shutdown hook runs [[sweep]].
  *  - Nesting: a build may read other fixtures (a chained table reads
  *    its source table, a purge reads the replay): the one lock is the
  *    registry's monitor, which is reentrant.
  */
object Fixtures {

  /** What one build owns, handed to the build and released with it. */
  final class Build private[Fixtures] (name: String) {
    private[graft] var dirs = List.empty[String]
    private[graft] var frames = List.empty[DataFrame]

    /** A fresh work dir ([[Tables.newWorkDir]]), deleted on release. */
    def workDir(): String = {
      val d = Tables.newWorkDir(s"graft-$name").toString
      unreleased.add(d)
      dirs ::= d
      d
    }

    /** `df.persist()`, unpersisted on release. */
    def persist(df: DataFrame): DataFrame = {
      val p = df.persist()
      frames ::= p
      p
    }

    private[Fixtures] def release(): Unit = {
      frames.foreach(df => scala.util.Try(df.unpersist()))
      dirs.foreach { d =>
        scala.util.Try(Tables.deleteRecursively(d))
        unreleased.remove(d)
      }
    }
  }

  /** Every work dir a build asked for that no release has deleted yet.
    * Lock-free, so [[sweep]] never waits on the registry's monitor.
    */
  private[graft] val unreleased = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Delete every unreleased work dir. The shutdown hook's body: it takes
    * no lock and touches no Spark state, so it finishes while a build
    * holds the monitor or the session is already stopping.
    */
  private[graft] def sweep(): Unit =
    unreleased.forEach { d =>
      scala.util.Try(Tables.deleteRecursively(d))
      unreleased.remove(d)
    }

  sys.addShutdownHook(sweep())

  private final case class Entry(key: String, value: Any, owned: Build)
  private val entries = mutable.Map.empty[(String, String), Entry]

  /** The `name` fixture over `sfDir`, built by `build` unless a live entry
    * already matches the session and the named tables' fingerprint.
    */
  def apply[V](s: SparkSession, name: String, sfDir: String, tables: String*)(
      build: Build => V): V = synchronized {
    val key = s"${s.sparkContext.applicationId}|${Tables.fingerprint(sfDir, tables: _*)}"
    entries.get((name, sfDir)) match {
      case Some(e) if e.key == key => e.value.asInstanceOf[V]
      case stale =>
        stale.foreach { e => entries.remove((name, sfDir)); e.owned.release() }
        val owned = new Build(name)
        val v = try build(owned) catch { case t: Throwable => owned.release(); throw t }
        entries((name, sfDir)) = Entry(key, v, owned)
        v
    }
  }

  /** Release every entry. */
  def reset(): Unit = synchronized {
    entries.values.foreach(_.owned.release())
    entries.clear()
  }

  /** Test hook: what the live entries own, by (name, sf dir). */
  private[graft] def live: Map[(String, String), Build] = synchronized {
    entries.map { case (k, e) => k -> e.owned }.toMap
  }
}
