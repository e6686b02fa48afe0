package graft.queries

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Where the gate queries put their on-disk fixtures and artifacts: the
  * one scratch-directory rule.
  *
  * A gate's directory is `java.io.tmpdir/graft_<tag>_<applicationId>_<md5>`,
  * keyed by the gate's tag, the Spark application and a 48-bit md5 prefix
  * of the data dir. Within one application the path is the same on every
  * run, so a gate's delete-then-write stays idempotent. The application id
  * keeps two concurrent drivers on the same data dir apart, so one never
  * wipes the other's live table or manifest. The md5 keeps two data dirs
  * apart: a 32-bit `String.hashCode` collides (`"Aa"` and `"BB"` share
  * one), which would merge two dirs' fixtures and serve a memoized
  * template built from the wrong data.
  *
  * Every root handed out is registered with ONE shutdown hook that
  * deletes it when the JVM exits, so a run leaves nothing under tmpdir.
  * `wipe` deletes what an earlier run of the same gate left on entry; a
  * gate whose frames read its directory lazily and never rewrite it may
  * skip the wipe. */
private[graft] object Scratch {

  private val roots = ConcurrentHashMap.newKeySet[String]()

  private lazy val hook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => roots.forEach(r => deleteTree(new File(r)))))

  /** 48-bit md5 prefix of `dir`, as 12 hex digits. */
  def md5(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString

  /** Delete `f` and everything below it; a missing path is a no-op. */
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete(): Unit
  }

  /** Register `path` for deletion at JVM exit, wiping it first when
    * `wipe`; returns `path`. */
  private def claim(path: String, wipe: Boolean): String = {
    hook
    roots.add(path): Unit
    if (wipe) deleteTree(new File(path))
    path
  }

  /** The `(tag, application, data dir)` scratch directory. */
  def dir(s: SparkSession, tag: String, dataDir: String,
      wipe: Boolean = true): String =
    claim(s"${appRoot(s, tag)}_${md5(dataDir)}", wipe)

  /** The `(tag, application)` directory, with no data-dir key: for a SQL
    * catalog's warehouse, which Spark caches per catalog name per session
    * and so must not move between data dirs. */
  def appDir(s: SparkSession, tag: String): String =
    claim(appRoot(s, tag), wipe = true)

  private def appRoot(s: SparkSession, tag: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_" +
      s.sparkContext.applicationId

  /** The roots the shutdown hook deletes. */
  private[graft] def registered: Set[String] = {
    import scala.jdk.CollectionConverters._
    roots.asScala.toSet
  }
}
