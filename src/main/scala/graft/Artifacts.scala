package graft

import java.nio.file.{FileSystemException, Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.SparkSession

/** Content-keyed artifacts: the one rule for every trained or generated
  * artifact the engine reuses instead of rebuilding per request (the
  * reference rebuilds its FAISS index on every call, `vectorDB.py:38`).
  * An artifact is keyed to a content snapshot ([[snapshotKey]]); it is
  * reused while the key matches, otherwise built and swapped in for the
  * old one — in memory by a [[Memo]], on disk by [[publish]].
  *
  * The on-disk invariant: a final name is either absent or a complete
  * dir holding the [[Marker]]. Writers fill a unique `.build-` sibling,
  * `publish` marks it and renames it into place with ATOMIC_MOVE, and
  * every deletion first renames its dir to a `.trash-` sibling.
  */
private[graft] object Artifacts {

  /** The one completion marker, written only here (the leading
    * underscore keeps it out of Spark's file listings). */
  val Marker = "_SUCCESS"

  /** Content identity of `$d`'s `$table` parquet table: per part file,
    * the name, length, and an md5 over the parquet FOOTER bytes (footer
    * length from the 8-byte trailer; capped at 1 MiB). The footer holds
    * the schema, row-group offsets, and column statistics, so any data
    * rewrite perturbs it — including an in-place same-length rewrite
    * within the same mtime second, the residual the previous
    * (name, len, mtime) fingerprint could not see. Cost is one
    * driver-side footer read per part file — no data pages are read.
    * Files too short or non-parquet fall back to (len, mtime).
    */
  def snapshotKey(s: SparkSession, d: String,
      table: String = "embeddings"): String = {
    val path = new org.apache.hadoop.fs.Path(s"$d/$table.parquet")
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    def footerHash(st: org.apache.hadoop.fs.FileStatus): Option[String] =
      if (!st.getPath.getName.endsWith(".parquet") || st.getLen < 12) None
      else scala.util.Try {
        val in = fs.open(st.getPath)
        try {
          val trailer = new Array[Byte](8)
          in.readFully(st.getLen - 8, trailer)
          val footerLen = java.nio.ByteBuffer.wrap(trailer, 0, 4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt.toLong
          val n = math.min(math.max(footerLen + 8, 8L),
            math.min(st.getLen, 1L << 20)).toInt
          val buf = new Array[Byte](n)
          in.readFully(st.getLen - n, buf)
          md5Hex(buf)
        } finally in.close()
      }.toOption
    val parts =
      if (!fs.exists(path)) Seq("absent")
      else fs.listStatus(path).toSeq.sortBy(_.getPath.getName)
        .map(st => footerHash(st) match {
          case Some(h) => s"${st.getPath.getName}:${st.getLen}:$h"
          case None => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}"
        })
    s"$d/$table|${parts.mkString(",")}"
  }

  def md5Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString

  /** One live value per key, tagged with the fingerprint it was built
    * for: reused while the fingerprint matches and `reuse` accepts it,
    * otherwise rebuilt, the replaced value going to `onReplace`. Keyed
    * by dataset dir, a session that rewrites a dir in place holds one
    * value per dir, never one per historical snapshot.
    */
  final class Memo[V](onReplace: V => Unit = (_: V) => ()) {
    private val live =
      new java.util.concurrent.ConcurrentHashMap[String, (String, V)]()

    def apply(key: String, fp: String, reuse: V => Boolean = (_: V) => true)
        (build: => V): V =
      live.compute(key, (_, prev) =>
        if (prev != null && prev._1 == fp && reuse(prev._2)) prev
        else {
          val v = build
          if (prev != null && prev._2 != v) onReplace(prev._2)
          (fp, v)
        })._2
  }

  /** A persisted dir keyed to `fp`: the in-session fast path re-stats
    * the marker (an externally deleted dir — a racing sweep, a tmpdir
    * cleaner, an operator `rm` — heals by rebuilding) and refreshes the
    * mtime; a miss goes to [[publish]]; a replaced snapshot's dir is
    * parked until JVM exit.
    */
  def persisted(key: String, fp: String, target: => Path)
      (write: Path => Unit): String =
    dirs(key, fp, d => reused(Paths.get(d)))(publish(target)(write))

  private val dirs = new Memo[String](park)

  /** `target` if it is already complete, else `write` fills a unique
    * `.build-` sibling that is marked and installed by one ATOMIC_MOVE.
    * A process that loses the race discards its copy and serves the
    * winner's. An unmarked dir under the final name can only be a
    * leftover from older code: it is renamed aside and the move retried
    * once; a target still unmarked after that fails the publish.
    */
  def publish(target: Path)(write: Path => Unit): String = {
    sweepOnce(target.toAbsolutePath.getParent)
    if (!reused(target)) {
      val stage = sibling(target, "build")
      Files.createDirectories(stage)
      try {
        write(stage)
        Files.write(stage.resolve(Marker), Array.emptyByteArray)
      } catch { case t: Throwable => discard(stage); throw t }
      if (!install(stage, target)) {
        if (!marked(target)) { discard(target); install(stage, target) }
        if (Files.exists(stage)) discard(stage)
        if (!marked(target)) throw new IllegalStateException(
          s"cannot publish $target: an unmarked directory holds the name")
      }
    }
    target.toString
  }

  private def marked(p: Path): Boolean = Files.exists(p.resolve(Marker))

  /** Marked → refresh the idle clock the 7-day sweep reads. */
  private def reused(p: Path): Boolean = marked(p) && {
    scala.util.Try(Files.setLastModifiedTime(p,
      FileTime.fromMillis(System.currentTimeMillis())))
    true
  }

  private def install(stage: Path, target: Path): Boolean =
    try { Files.move(stage, target, StandardCopyOption.ATOMIC_MOVE); true }
    catch { case _: FileSystemException => false }

  private def sibling(target: Path, kind: String): Path =
    target.resolveSibling(target.getFileName.toString + s".$kind-" +
      java.util.UUID.randomUUID().toString.take(8))

  /** Rename `p` aside to a `.trash-` sibling, then delete it (a dir
    * already gone is a no-op). */
  private def discard(p: Path): Unit = {
    val doomed =
      if (p.getFileName.toString.contains(".trash-")) p
      else {
        val t = sibling(p, "trash")
        try Files.move(p, t, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.NoSuchFileException => return }
        t
      }
    rmrf(doomed)
  }

  /** The one recursive delete (children first; missing is a no-op). */
  def rmrf(p: Path): Unit =
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }

  /** Superseded dirs stay readable until JVM exit, not deleted inline:
    * a same-session lazy plan may still hold the old path, and an inline
    * delete would fail it at scan time.
    */
  private val superseded =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val supersededHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      superseded.forEach(d => scala.util.Try(discard(Paths.get(d))))))

  private def park(dir: String): Unit = {
    supersededHook
    superseded.add(dir)
    ()
  }

  /** Scratch siblings: staging and trash, plus older code's repair
    * husks, staging dirs and pre-`graft_idx_` index prefix. */
  private val Scratch =
    """.*\.(build|trash|torn)-[0-9a-f]{8}|.*\.stage\d+|graft_ivfpq_part_.*""".r

  private val swept = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  private def sweepOnce(root: Path): Unit =
    if (swept.add(root)) scala.util.Try(sweep(root))

  /** Reclaim stale dirs under `root`, in age classes that never yank a
    * dir from a concurrent long-lived JVM: scratch siblings once their
    * NEWEST file is 24 h old (an in-progress build keeps writing), and
    * `graft_idx_*` dirs after 7 idle days (every reuse refreshes the
    * mtime). [[publish]] runs it once per JVM per parent dir.
    */
  def sweep(root: Path, now: Long = System.currentTimeMillis()): Unit = {
    val day = 24L * 3600 * 1000
    def newest(f: java.io.File): Long =
      (f.lastModified() +: Option(f.listFiles()).getOrElse(Array.empty)
        .map(newest).toSeq).max
    Option(root.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.isDirectory).foreach { f =>
        val n = f.getName
        val stale =
          if (Scratch.matches(n)) newest(f) < now - day
          else n.startsWith("graft_idx_") && f.lastModified() < now - 7 * day
        if (stale) scala.util.Try(discard(f.toPath))
      }
  }
}
