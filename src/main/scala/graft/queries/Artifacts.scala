package graft.queries

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.SparkSession

/** The one place a derived corpus artifact is keyed and reused: the
  * query registry's session memos (bounded driver-side collects such
  * as trained codebooks) and its session-materialized parquet tables
  * (signature tables, base indexes, stream inputs).
  *
  * A lookup keys on (kind, path token, content fingerprint). The token
  * is the input dir's basename plus an md5 of its full path: basename
  * alone would alias two corpora named `sf0.01` under different
  * parents, and a 32-bit `String.hashCode` would alias two live paths
  * on a collision. The fingerprint digests (relative path, size,
  * mtime) of every file under the input dir, read with a recursive
  * Hadoop listing (so any path Spark can read works) on EVERY lookup:
  * a corpus rewritten at the same path gets a new key and a fresh
  * artifact instead of the previous corpus's.
  *
  * Get-or-compute is one reentrant lock, not a concurrent map's
  * `computeIfAbsent`: memos nest (a compute may look up another kind),
  * and a nested `computeIfAbsent` on one map throws `Recursive update`.
  * The registry has one caller thread, so the lock is uncontended.
  * A key is registered only after its compute or write succeeds, so a
  * failure is retried on the next lookup instead of poisoning the
  * session.
  */
private[graft] object Artifacts {
  private val memos = mutable.HashMap.empty[String, (String, Any)]
  private val written = mutable.LinkedHashSet.empty[Path]
  private val temps = mutable.HashMap.empty[String, Path]

  /** ONE shutdown hook deletes every shared dir and every live
    * [[tempDir]]. It takes no lock: a JVM exiting from inside a
    * compute would otherwise wait on itself forever. */
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      (written.toList ++ temps.values.toList).foreach(p => rmTree(p.toFile))))

  private[queries] def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def key(kind: String, d: String): String =
    s"graft_${kind}_${new java.io.File(d).getName}_${md5Hex(d).take(10)}"

  /** Digest of (relative path, size, mtime) over every file under `d`.
    * A recursive `listStatus` walk, not `listFiles`: on the local file
    * system `listFiles` builds a `LocatedFileStatus`, which reads each
    * file's owner and permissions by forking a `stat` process. */
  private[queries] def fingerprint(s: SparkSession, d: String): String = {
    val root = new HPath(d)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val prefix = fs.makeQualified(root).toString
    def files(p: HPath): Seq[FileStatus] = fs.listStatus(p).toSeq.flatMap(f =>
      if (f.isDirectory) files(f.getPath) else Seq(f))
    md5Hex(files(root).map(f => s"${f.getPath.toString.stripPrefix(prefix)}\t" +
      s"${f.getLen}\t${f.getModificationTime}").sorted.mkString("\n")).take(16)
  }

  /** The in-memory artifact `kind` of the corpus at `d`: computed on
    * the first lookup per corpus version, then reused. Only the
    * latest version's value is kept. */
  def memo[T](kind: String, s: SparkSession, d: String)(compute: => T): T =
    synchronized {
      val (k, fp) = (key(kind, d), fingerprint(s, d))
      memos.get(k) match {
        case Some((`fp`, v)) => v.asInstanceOf[T]
        case _ =>
          val v = compute
          memos(k) = (fp, v)
          v
      }
    }

  /** The session-materialized parquet artifact `kind` of the corpus at
    * `d`: `write` fills the returned dir on the first lookup per corpus
    * version (writers use mode=overwrite, so a retry clobbers a failed
    * partial write). Later lookups reuse the files: the bench invokes
    * each query several times, and rewriting a stream query's input per
    * run would time the parquet writer, not the stream. The dir is
    * per-process (`_p<pid>`), so concurrent JVMs never clobber or
    * shutdown-delete each other's artifacts. */
  def dir(kind: String, s: SparkSession, d: String)(write: String => Unit): String =
    synchronized {
      cleanupHook
      val p = Paths.get(System.getProperty("java.io.tmpdir"),
        s"${key(kind, d)}_${fingerprint(s, d)}_p${ProcessHandle.current().pid()}")
      if (!written(p)) {
        write(p.toString)
        written += p
      }
      p.toString
    }

  /** Fresh temp dir per invocation for the sink read-back queries. The
    * previous invocation's dir for the same prefix is deleted eagerly
    * (each invocation fully materializes its read-back before the query
    * can run again), so a session invoking a query many times keeps one
    * data copy on disk, not one per run. */
  def tempDir(prefix: String): String = synchronized {
    cleanupHook
    val dir = Files.createTempDirectory(prefix)
    temps.put(prefix, dir).foreach(prev => rmTree(prev.toFile))
    dir.toFile.getAbsolutePath
  }
}
