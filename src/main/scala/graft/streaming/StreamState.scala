package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Commit-gated parquet state, the one commit primitive of the
  * streaming operators (DedupStream, DriftStream, MediaStream,
  * IndexStream) and the only module that knows the state layout. A
  * consumer declares its [[Table]]s once and calls [[commit]], [[read]]
  * and [[compact]]; it never spells a state path or a marker.
  *
  * Layout under a state dir: every per-batch write of a table lands in
  * its own `table/batch_id=N` directory, and an empty marker file
  * `_committed/N` — written LAST — gates what restarts may read. A crash
  * mid-batch leaves no marker, so its partial directories are invisible
  * garbage until the replay overwrites them; a replayed COMMITTED batch
  * overwrites byte-identical state, so reads stay consistent either way
  * (effectively-once on top of at-least-once).
  *
  * Compaction (the scale valve): without it, reads enumerate one
  * directory per committed batch forever. [[compact]] merges every
  * committed partition STRICTLY BELOW the newest committed id into one
  * `table/base_id=M` directory per table, behind the same
  * marker-written-LAST discipline (`_compacted/M`): a torn compaction
  * leaves no `_compacted` marker and is invisible — the next compaction
  * simply overwrites the orphan base. Readers treat the newest
  * `_compacted` marker < their horizon as the floor: they scan its base
  * directory plus only the committed batch directories above it, so
  * state reads are O(base + batches-since-compaction). The newest
  * committed id is never folded into a base, which keeps replays exact:
  * the only batch the streaming engine can ever re-run is one with no
  * LATER commit marker, and its `upTo` exclusion needs precisely the
  * partitions the base preserves.
  */
private[graft] object StreamState {

  /** A state table, declared once by its consumer: `name` is its
    * directory under the state dir and `schema` its read schema.
    * `merge` folds the table at compaction and receives the FOLD ID
    * (the largest folded batch id), so a cross-table merge reads its
    * sibling at exactly the fold horizon (identity for append-only key
    * tables). `partitionBy` lays each batch and base directory out by
    * partition columns (the CDC index's `cell=` dirs), so compaction
    * never costs a reader its pruning.
    */
  final case class Table(name: String, schema: StructType,
      merge: (DataFrame, Long) => DataFrame = (df, _) => df,
      partitionBy: Seq[String] = Nil)

  private def hadoopFs(s: SparkSession, dir: String) = {
    val path = new org.apache.hadoop.fs.Path(dir)
    (path.getFileSystem(s.sparkContext.hadoopConfiguration), path)
  }

  /** Marker ids under a marker directory, ascending — the one marker
    * reader behind `_committed`, `_compacted` and IndexStream's
    * `_current` generation markers.
    */
  private[graft] def markerIds(s: SparkSession, dir: String): Seq[Long] =
    markerStamps(s, dir).map(_._1)

  /** (id, modification time) of each marker under a marker directory,
    * ascending by id — the one listing behind [[markerIds]] and
    * [[stamp]].
    */
  private def markerStamps(s: SparkSession, dir: String): Seq[(Long, Long)] = {
    val (fs, path) = hadoopFs(s, dir)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption
        .map(_ -> st.getModificationTime))
      .sorted
  }

  /** A state dir's committed and compacted markers, each with its
    * modification time: what a reader's view of the committed state
    * rests on. Every commit, replay, compaction, or dir deleted and
    * rebuilt at the same path with the same batch ids (its markers are
    * new files) changes it.
    */
  private[graft] final case class Stamp(committed: Seq[(Long, Long)],
      compacted: Seq[(Long, Long)]) {

    /** Whether `next` differs from this stamp only by the markers `own`
      * (committed ids) and `ownBase` (compacted ids) that the caller
      * wrote itself, and by markers a compaction removed.
      */
    def leadsTo(next: Stamp, own: Set[Long], ownBase: Set[Long]): Boolean =
      next.committed.forall(m => own(m._1) || committed.contains(m)) &&
        next.compacted.forall(m => ownBase(m._1) || compacted.contains(m))
  }

  private[graft] def stamp(s: SparkSession, stateDir: String): Stamp =
    Stamp(markerStamps(s, s"$stateDir/_committed"),
      markerStamps(s, s"$stateDir/_compacted"))

  /** Write marker `id` under a marker directory — the one marker writer. */
  private[graft] def writeMarker(s: SparkSession, dir: String, id: Long): Unit = {
    val (fs, path) = hadoopFs(s, dir)
    fs.mkdirs(path)
    fs.create(new org.apache.hadoop.fs.Path(path, id.toString), true).close()
  }

  /** Batch ids whose state writes fully committed, ascending. */
  def committedIds(s: SparkSession, stateDir: String): Seq[Long] =
    markerIds(s, s"$stateDir/_committed")

  /** Base ids whose compaction fully committed, ascending. Each id M
    * asserts: `table/base_id=M` holds the merged content of every
    * committed batch ≤ M, for EVERY table of this state dir.
    */
  def compactedIds(s: SparkSession, stateDir: String): Seq[Long] =
    markerIds(s, s"$stateDir/_compacted")

  private def overwrite(df: DataFrame, t: Table, dir: String): Unit = {
    val w = df.write.mode("overwrite")
    (if (t.partitionBy.isEmpty) w else w.partitionBy(t.partitionBy: _*)).parquet(dir)
  }

  /** Commit batch `batchId`: each table's `batch_id=N` directory (with
    * the table's own partitioning), then the `_committed/N` marker LAST —
    * a crash anywhere before it leaves the batch uncommitted and its
    * partial directories unread on restart. Then the auto-compaction
    * valve over the same tables: [[compact]] runs when MORE than
    * `autoCompactEvery` committed markers have accumulated since the
    * last base (compaction deletes folded markers, so the committed list
    * size IS batches-since-compaction); `autoCompactEvery <= 0`
    * disables. Returns the new base id when the valve compacted.
    */
  def commit(s: SparkSession, stateDir: String, batchId: Long,
      autoCompactEvery: Int)(writes: (Table, DataFrame)*): Option[Long] = {
    writes.foreach { case (t, df) =>
      overwrite(df, t, s"$stateDir/${t.name}/batch_id=$batchId")
    }
    writeMarker(s, s"$stateDir/_committed", batchId)
    if (autoCompactEvery > 0 && committedIds(s, stateDir).size > autoCompactEvery)
      compact(s, stateDir, writes.map(_._1))
    else None
  }

  /** The directories a read of `table` below `upTo` resolves to: the
    * committed batch directories above the newest committed base below
    * `upTo`, then that base (if any).
    *
    * Listing ORDER is load-bearing for concurrency with [[compact]]:
    * committed markers are listed FIRST, the compacted floor second
    * (`afterCommittedListing` runs between the two — a test seam for
    * pinning the concurrent-compaction interleaving). A compaction that
    * commits between the two listings can then only RAISE the floor
    * past batch ids the reader already holds — those ids are filtered
    * out and the new base (which contains them, merged) is read
    * instead: no gap. The reverse order would let a concurrent
    * compaction delete commit markers in (floor, M'] before the second
    * listing, silently dropping those batches. The residual race —
    * cleanup deleting a batch directory while the parquet scan is in
    * flight — fails the scan loudly, never silently.
    */
  private[graft] def dirs(s: SparkSession, stateDir: String, table: Table,
      upTo: Long = Long.MaxValue, afterCommittedListing: () => Unit = () => ()
      ): Seq[String] = {
    val committed = committedIds(s, stateDir)
    afterCommittedListing()
    val base = compactedIds(s, stateDir).filter(_ < upTo).lastOption
    val floor = base.getOrElse(Long.MinValue)
    committed.filter(id => id < upTo && id > floor)
      .map(id => s"$stateDir/${table.name}/batch_id=$id") ++
      base.map(b => s"$stateDir/${table.name}/base_id=$b")
  }

  /** Read a table restricted to COMMITTED state — the only truth a
    * restart may trust — below `upTo` (exclusive), which lets a replayed
    * batch exclude its OWN earlier commit. No qualifying markers reads
    * as the empty relation; the explicit schema means an
    * empty-but-existing committed dir reads as zero rows instead of
    * failing schema inference, while a corrupt footer in a COMMITTED
    * partition still aborts at scan time. A partitioned table's dirs
    * load separately and union (one multi-root load would parse
    * `batch_id=N` itself as a partition level and refuse the mixed
    * structure); each scan keeps its own partition pruning.
    */
  def read(s: SparkSession, stateDir: String, table: Table,
      upTo: Long = Long.MaxValue): DataFrame =
    readWith(s, stateDir, table, upTo, () => ())

  /** [[read]] with the listing-order seam of [[dirs]]. */
  private[graft] def readWith(s: SparkSession, stateDir: String, table: Table,
      upTo: Long, afterCommittedListing: () => Unit): DataFrame = {
    val ds = dirs(s, stateDir, table, upTo, afterCommittedListing)
    val ordered = table.schema.fieldNames.map(col).toSeq
    if (ds.isEmpty) s.createDataFrame(s.sparkContext.emptyRDD[Row], table.schema)
    else if (table.partitionBy.nonEmpty)
      ds.map(dir => s.read.schema(table.schema).parquet(dir).select(ordered: _*))
        .reduce(_ union _)
    else s.read.schema(table.schema).parquet(ds: _*).select(ordered: _*)
  }

  /** Compact the committed state of `stateDir`: fold the previous base
    * (if any) and every committed batch partition STRICTLY below the
    * newest committed id into one `base_id=M` directory per table
    * (M = the fold id, the largest folded id), each first passed through
    * that table's `merge`. Write order is the crash contract: base
    * directories first (invisible — no reader lists them without the
    * marker), the `_compacted/M` marker LAST (the atomic reader switch),
    * then best-effort cleanup of the superseded batch directories, their
    * commit markers and the previous base. A kill at ANY point before the
    * marker leaves reads untouched; a kill during cleanup leaves stale
    * directories that readers already ignore and the next compaction
    * removes.
    *
    * All tables of a state dir compact under ONE marker, so multi-table
    * consumers (DedupStream's sets+bands) never observe a half-compacted
    * state. Returns the new base id, or None when fewer than one
    * committed batch sits below the newest (nothing to fold).
    */
  def compact(s: SparkSession, stateDir: String, tables: Seq[Table]): Option[Long] = {
    val committed = committedIds(s, stateDir)
    if (committed.size < 2) return None
    // the commit markers are shared by every table of this state dir —
    // compacting a subset would delete markers the unlisted tables still
    // need to be readable. Refuse loudly instead of losing data silently.
    // A table is a dir of batch/base dirs; marker dirs, a NESTED state
    // root (the drift alert state, gated and compacted by its own
    // markers) and a rebuilt generation's quantizers are not.
    val (rootFs, rootPath) = hadoopFs(s, stateDir)
    val unlisted = rootFs.listStatus(rootPath).toSeq
      .filter(_.isDirectory).map(_.getPath)
      .filterNot(p => tables.exists(_.name == p.getName))
      .filter(p => rootFs.listStatus(p).exists(_.getPath.getName.matches("(batch|base)_id=\\d+")))
      .map(_.getName)
    require(unlisted.isEmpty,
      s"compact must cover every table of $stateDir; missing: ${unlisted.mkString(", ")}")
    val prevBase = compactedIds(s, stateDir).lastOption
    val eligible = committed
      .filter(id => id < committed.max && prevBase.forall(id > _))
    if (eligible.isEmpty) return None
    val m = eligible.max
    tables.foreach { t =>
      overwrite(t.merge(read(s, stateDir, t, upTo = m + 1), m), t,
        s"$stateDir/${t.name}/base_id=$m")
    }
    // marker LAST: the single atomic point where readers switch bases
    writeMarker(s, s"$stateDir/_compacted", m)
    // best-effort cleanup — everything below is already unreadable
    def drop(path: String, recursive: Boolean) =
      rootFs.delete(new org.apache.hadoop.fs.Path(path), recursive)
    committed.filter(_ <= m).foreach { id =>
      tables.foreach(t => drop(s"$stateDir/${t.name}/batch_id=$id", true))
      drop(s"$stateDir/_committed/$id", false)
    }
    prevBase.foreach { b =>
      tables.foreach(t => drop(s"$stateDir/${t.name}/base_id=$b", true))
      drop(s"$stateDir/_compacted/$b", false)
    }
    Some(m)
  }
}
