package graft.flow

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialized-artifact targets (Luigi `Target` semantics, SURVEY.md §2.1
  * O3/O4): existence == task completeness; writes are atomic (write to a
  * temp sibling, then rename into place) so a crash mid-write never leaves
  * a half-target that would be mistaken for complete — the contract of
  * Luigi's `output().open("w")` at reference 00_training_pipeline.py:34.
  *
  * At 100 TB the same discipline holds on an object store / HDFS: write to
  * `<path>.tmp-<uuid>` and commit via rename (or a _SUCCESS marker where
  * rename isn't atomic).
  */
trait Target {
  def exists: Boolean
  def uri: String
}

/** A directory target committed by atomic rename + _SUCCESS marker.
  * Every publish renames a fresh directory into place, so a republish
  * at the same path has a new commit identity (see [[Committed]]). */
final case class DirTarget(path: String) extends Target {
  private def p: Path = Paths.get(path)
  def exists: Boolean =
    Files.isDirectory(p) && Files.exists(p.resolve("_SUCCESS"))
  def uri: String = path

  /** Run `write` against a temp sibling dir, then atomically publish it.
    * The temp dir is handed to the writer; on success it is renamed to
    * `path` and a _SUCCESS marker is dropped. */
  def atomicWrite(write: String => Unit): Unit = {
    val tmp = Paths.get(path + ".tmp-" + java.util.UUID.randomUUID())
    try {
      write(tmp.toString)
      deleteRecursively(p) // clobber stale partial/old target
      Files.createDirectories(p.getParent)
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
      // Spark sinks already drop their own _SUCCESS; only add ours if absent
      if (!Files.exists(p.resolve("_SUCCESS")))
        Files.createFile(p.resolve("_SUCCESS"))
    } finally deleteRecursively(tmp)
  }

  private def deleteRecursively(dir: Path): Unit =
    if (Files.exists(dir))
      Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
}

/** Per-session memo of what is derived from a committed artifact: the
  * loaded model of a model target, the inferred schema of a parquet
  * target. A session pays each derivation once per commit instead of
  * once per consumer; every read still scans its data from disk.
  *
  * Key: the commit identity of each path, i.e. its real path and the
  * `BasicFileAttributes` `fileKey` (device, inode) and
  * `lastModifiedTime` of the file or directory there. `atomicWrite`
  * renames a fresh directory into place and a fixture rewrite makes a
  * new file, so a republish always misses; no hook invalidates entries.
  * A path that is not a local file (missing, a glob, a remote URI) is
  * not memoised: the load runs every time.
  *
  * Bound: one entry per path (per path list for a multi-path read) per
  * session. A lookup with another identity, a new commit or another
  * derivation of the same path, replaces the entry.
  *
  * Scope: entries belong to their SparkSession (a weak key), so no
  * session sees another's entries and a dropped session drops its own.
  *
  * A load runs outside the map's locks, under its entry's monitor: loads
  * of different paths never wait on each other, concurrent lookups of
  * one commit load once, and a failed load is retried by the next
  * lookup. Memoised models are shared; callers must not mutate them. */
object Committed {
  private final class Entry(val id: Seq[Any], private var load: () => Any) {
    private var loaded: Any = _
    def value: Any = synchronized {
      // the loader captures the session; drop it so the key stays weak
      if (load != null) { loaded = load(); load = null }
      loaded
    }
  }

  private val sessions =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Seq[String], Entry]]

  private def slots(spark: SparkSession): ConcurrentHashMap[Seq[String], Entry] =
    sessions.synchronized { sessions.computeIfAbsent(spark, _ => new ConcurrentHashMap) }

  private def identity(path: String): Option[(String, Any, Any)] =
    try {
      val real = Paths.get(path).toRealPath()
      val a = Files.readAttributes(real, classOf[BasicFileAttributes])
      Some((real.toString, a.fileKey, a.lastModifiedTime))
    } catch { case _: java.io.IOException => None }

  /** `load`'s value for the commits now at `paths`, loaded at most once
    * per commit and session; `derivation` names what `load` computes. */
  private[flow] def memo[T](spark: SparkSession, derivation: String,
                           paths: Seq[String])(load: => T): T = {
    val ids = paths.map(identity)
    if (ids.contains(None)) load
    else {
      val commits = ids.flatten
      val id = derivation +: commits
      val e = slots(spark).compute(commits.map(_._1), (_, old) =>
        if (old != null && old.id == id) old else new Entry(id, () => load))
      e.value.asInstanceOf[T]
    }
  }

  def model(spark: SparkSession, path: String): PipelineModel =
    memo(spark, "PipelineModel", Seq(path))(PipelineModel.load(path))

  /** `spark.read.parquet(paths)` with the inferred schema memoised: the
    * inference is a Spark job per read. The schema depends on the
    * session's nanosAsLong flag, so the flag is part of the key. */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    val schema = memo(spark, s"parquet schema, nanosAsLong=$nanos", paths)(
      spark.read.parquet(paths: _*).schema)
    spark.read.schema(schema).parquet(paths: _*)
  }

  /** Number of entries the session holds. */
  private[flow] def size(spark: SparkSession): Int = slots(spark).size
}

/** A single-file target committed by atomic rename (pandas-style csv sinks,
  * reference D6). */
final case class FileTarget(path: String) extends Target {
  def exists: Boolean = Files.exists(Paths.get(path))
  def uri: String = path

  def atomicWrite(write: Path => Unit): Unit = {
    val tmp = Paths.get(path + ".tmp-" + java.util.UUID.randomUUID())
    try {
      Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
      write(tmp)
      Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }
}

/** Existence gate over an artifact produced OUTSIDE this pipeline — the
  * reference's `ModelExists` WrapperTask (01_classification_pipeline.py:129-133,
  * O5): no run(), just a cross-pipeline filesystem dependency. */
final case class ExternalTarget(path: String) extends Target {
  def exists: Boolean = Files.exists(Paths.get(path))
  def uri: String = path
}
