package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Commit-gated parquet state shared by the streaming operators
  * (DedupStream, DriftStream): every per-batch state write lands in its
  * own `table/batch_id=N` directory, and an empty marker file under
  * `stateDir/_committed/N` — written LAST — gates what restarts may
  * read. A crash mid-batch leaves no marker, so its partial directories
  * are invisible garbage until the replay overwrites them; a replayed
  * COMMITTED batch overwrites byte-identical state, so reads stay
  * consistent either way (effectively-once on top of at-least-once).
  *
  * Compaction (the scale valve): without it, reads enumerate one
  * directory per committed batch forever. [[compact]] merges every
  * committed partition STRICTLY BELOW the newest committed id into one
  * `table/base_id=M` directory per table, behind the same
  * marker-written-LAST discipline (`stateDir/_compacted/M`): a torn
  * compaction leaves no `_compacted` marker and is invisible — the next
  * compaction simply overwrites the orphan base. Readers treat the
  * newest `_compacted` marker < their horizon as the floor: they scan
  * its base directory plus only the committed batch directories above
  * it, so state reads are O(base + batches-since-compaction) instead of
  * O(all batches). The newest committed id is never folded into a base,
  * which keeps replays exact: the only batch the streaming engine can
  * ever re-run is one with no LATER commit marker, and its `upTo`
  * exclusion needs precisely the partitions the base preserves.
  */
private[graft] object StreamState {

  private def hadoopFs(s: SparkSession, dir: String) = {
    val path = new org.apache.hadoop.fs.Path(dir)
    (path.getFileSystem(s.sparkContext.hadoopConfiguration), path)
  }

  private def markerIds(s: SparkSession, dir: String): Seq[Long] = {
    val (fs, path) = hadoopFs(s, dir)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption)
      .sorted
  }

  /** Batch ids whose state writes fully committed, ascending. */
  def committedIds(s: SparkSession, stateDir: String): Seq[Long] =
    markerIds(s, s"$stateDir/_committed")

  /** Marker ids under an arbitrary marker directory, ascending — for
    * consumers that lift the marker-written-last discipline to other
    * granularities (IndexStream's `_current` generation markers).
    */
  private[graft] def markerIdsIn(s: SparkSession, dir: String): Seq[Long] =
    markerIds(s, dir)

  /** Base ids whose compaction fully committed, ascending. Each id M
    * asserts: `table/base_id=M` holds the merged content of every
    * committed batch ≤ M, for EVERY table of this state dir.
    */
  def compactedIds(s: SparkSession, stateDir: String): Seq[Long] =
    markerIds(s, s"$stateDir/_compacted")

  /** Write marker `id` under a marker directory — the one marker writer
    * behind `_committed`, `_compacted` and IndexStream's `_current`.
    */
  private[graft] def writeMarkerIn(s: SparkSession, dir: String, id: Long): Unit = {
    val (fs, path) = hadoopFs(s, dir)
    fs.mkdirs(path)
    fs.create(new org.apache.hadoop.fs.Path(path, id.toString), true).close()
  }

  def commitMarker(s: SparkSession, stateDir: String, batchId: Long): Unit =
    writeMarkerIn(s, s"$stateDir/_committed", batchId)

  /** Read a state table restricted to COMMITTED state — the only truth a
    * restart may trust: the newest committed base below `upTo` (if any)
    * plus the committed batch partitions above it and below `upTo`
    * (exclusive). `upTo` lets a replayed batch exclude its OWN earlier
    * commit, keeping the replay's reference state identical to the
    * original run's. No qualifying markers reads as the empty relation;
    * the explicit schema means an empty-but-existing committed dir reads
    * as zero rows instead of failing schema inference, while a corrupt
    * footer in a COMMITTED partition still aborts at scan time.
    *
    * Listing ORDER is load-bearing for concurrency with [[compact]]:
    * committed markers are listed FIRST, the compacted floor second. A
    * compaction that commits between the two listings can then only
    * RAISE the floor past batch ids the reader already holds — those ids
    * are filtered out and the new base (which contains them, merged)
    * is read instead: no gap. The reverse order (floor first) would let
    * a concurrent compaction delete commit markers in (floor, M']
    * before the second listing, silently dropping those batches from
    * the read. The residual race — cleanup deleting a batch directory
    * while the parquet scan is in flight — fails the scan loudly, never
    * silently.
    *
    * `partitioned` = true means each committed directory internally
    * lays its rows out by partition subdirectories (the CDC index's
    * `cell=` layout): the dirs are then loaded separately and unioned —
    * one multi-root load would make Spark parse `batch_id=N` itself as
    * a partition level and refuse the mixed structure. Each per-dir
    * scan keeps its own partition pruning; compaction bounds the dir
    * count, so the union stays O(base + batches-since-compaction) wide.
    */
  def readCommitted(s: SparkSession, stateDir: String, table: String,
      schema: StructType, upTo: Long = Long.MaxValue,
      partitioned: Boolean = false): DataFrame =
    readCommittedWith(s, stateDir, table, schema, upTo, () => (), partitioned)

  /** [[readCommitted]] with a hook run between the committed-marker
    * listing and the compacted-floor listing — a test seam for pinning
    * the concurrent-compaction interleaving. Production callers use
    * [[readCommitted]] (no-op hook).
    */
  private[graft] def readCommittedWith(s: SparkSession, stateDir: String,
      table: String, schema: StructType, upTo: Long,
      afterCommittedListing: () => Unit,
      partitioned: Boolean = false): DataFrame = {
    val committed = committedIds(s, stateDir)
    afterCommittedListing()
    val base = compactedIds(s, stateDir).filter(_ < upTo).lastOption
    val floor = base.getOrElse(Long.MinValue)
    val dirs = committed
      .filter(id => id < upTo && id > floor)
      .map(id => s"$stateDir/$table/batch_id=$id") ++
      base.map(b => s"$stateDir/$table/base_id=$b")
    val ordered = schema.fieldNames.map(col).toSeq
    if (dirs.isEmpty) s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
    else if (partitioned)
      dirs.map(dir => s.read.schema(schema).parquet(dir).select(ordered: _*))
        .reduce(_ union _)
    else s.read.schema(schema).parquet(dirs: _*).select(ordered: _*)
  }

  /** Auto-compaction policy shared by the streaming monitors: run
    * `compactFn` when MORE than `every` committed batch markers have
    * accumulated since the last base (compaction deletes folded markers,
    * so the committed list size IS batches-since-compaction). Invoked
    * right after a batch's commit marker, inside the same commit-gate
    * discipline — a crash mid-compaction leaves no `_compacted` marker
    * and the state reads exactly as if compaction never started. `every
    * <= 0` disables. Keeps every read O(base + ≤every batches) with no
    * operator intervention.
    */
  def maybeCompact(s: SparkSession, stateDir: String, every: Int)
      (compactFn: => Option[Long]): Option[Long] =
    if (every > 0 && committedIds(s, stateDir).size > every) compactFn else None

  /** Compact the committed state of `stateDir`: fold the previous base
    * (if any) and every committed batch partition STRICTLY below the
    * newest committed id into one `base_id=M` directory per table
    * (M = the largest folded id), each first passed through that table's
    * `merge` (e.g. re-aggregate counts to vocab grain; identity for
    * append-only key tables). Write order is the crash contract:
    * base directories first (invisible — no reader ever lists them
    * without the marker), the `_compacted/M` marker LAST (the atomic
    * reader switch), then best-effort cleanup of the superseded batch
    * directories, their commit markers, and the previous base. A kill at
    * ANY point before the marker leaves reads untouched; a kill during
    * cleanup leaves stale directories that readers already ignore and
    * the next compaction removes.
    *
    * All tables of a state dir compact under ONE marker, so multi-table
    * consumers (DedupStream's sets+bands) never observe a half-compacted
    * state. Returns the new base id, or None when fewer than one
    * committed batch sits below the newest (nothing to fold).
    */
  def compact(s: SparkSession, stateDir: String,
      tables: Seq[(String, StructType, DataFrame => DataFrame)],
      partitionCols: Map[String, Seq[String]] = Map.empty): Option[Long] =
    compactWith(s, stateDir, tables.map { case (t, sch, f) =>
      (t, sch, (df: DataFrame, _: Long) => f(df))
    }, partitionCols)

  /** [[compact]] whose merge functions also receive the FOLD ID (the
    * largest folded batch id) — for cross-table merges that must read a
    * sibling table at exactly the fold horizon (e.g. the CDC index's
    * resolve-at-compaction, which applies tombstones to codes). Passing
    * the id the fold itself uses removes the race a second listing
    * would open: a batch committing mid-compaction can never make the
    * sibling read see a different horizon than the folded table.
    */
  def compactWith(s: SparkSession, stateDir: String,
      tables: Seq[(String, StructType, (DataFrame, Long) => DataFrame)],
      partitionCols: Map[String, Seq[String]] = Map.empty): Option[Long] = {
    val committed = committedIds(s, stateDir)
    if (committed.size < 2) return None
    // the commit markers are shared by every table of this state dir —
    // compacting a subset would delete markers the unlisted tables still
    // need to be readable. Refuse loudly instead of losing data silently.
    val (rootFs, rootPath) = hadoopFs(s, stateDir)
    val unlisted = rootFs.listStatus(rootPath).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => n == "_committed" || n == "_compacted")
      .filterNot(n => tables.exists(_._1 == n))
      // a child with its own _committed is a NESTED state root (e.g. the
      // drift alert state) — gated by its own markers, compacted separately
      .filterNot(n => rootFs.exists(
        new org.apache.hadoop.fs.Path(s"$stateDir/$n/_committed")))
    require(unlisted.isEmpty,
      s"compact must cover every table of $stateDir; missing: ${unlisted.mkString(", ")}")
    val prevBase = compactedIds(s, stateDir).lastOption
    val eligible = committed
      .filter(id => id < committed.max && prevBase.forall(id > _))
    if (eligible.isEmpty) return None
    val m = eligible.max
    tables.foreach { case (table, schema, merge) =>
      // a table whose batch partitions are laid out by a partition
      // column (the CDC index's cell= dirs) keeps that layout in the
      // folded base, so compaction never costs a reader its pruning
      val w = merge(readCommitted(s, stateDir, table, schema, upTo = m + 1,
          partitioned = partitionCols.get(table).exists(_.nonEmpty)), m)
        .write.mode("overwrite")
      partitionCols.getOrElse(table, Nil) match {
        case Nil => w.parquet(s"$stateDir/$table/base_id=$m")
        case cols => w.partitionBy(cols: _*).parquet(s"$stateDir/$table/base_id=$m")
      }
    }
    // marker LAST: the single atomic point where readers switch bases
    writeMarkerIn(s, s"$stateDir/_compacted", m)
    // best-effort cleanup — everything below is already unreadable
    committed.filter(_ <= m).foreach { id =>
      tables.foreach { case (t, _, _) =>
        rootFs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/$t/batch_id=$id"), true)
      }
      rootFs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/_committed/$id"), false)
    }
    prevBase.foreach { b =>
      tables.foreach { case (t, _, _) =>
        rootFs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/$t/base_id=$b"), true)
      }
      rootFs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/_compacted/$b"), false)
    }
    Some(m)
  }
}
