package graft.streaming

import graft.operators.{Encoding, Iterate, KMeansOp}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Continuous vector-index maintenance — the streaming story for the
  * similarity-search family (DedupStream covers near-dup text,
  * DriftStream mixture monitoring, MediaStream multimodal ingestion).
  *
  * Production vector indexes are built once and MAINTAINED: the
  * quantizers (coarse IVF centroids + PQ codebooks) are trained on a
  * corpus snapshot, FROZEN as a persisted artifact, and a change-data
  * stream of inserts and deletes is applied against them; training
  * reruns only on an explicit [[rebuildCdc]] (that staleness is what
  * [[cellHistogramCdc]] monitors — exactly how a FAISS/IVFADC
  * deployment ingests, reference tie: the reference rebuilds its flat
  * FAISS index per request, in its vectorDB.py:27-39, which cannot
  * survive a corpus that outlives one request).
  *
  * One maintenance discipline, CDC (change-data-capture). Per
  * micro-batch of (vec_id, embedding, `__op`) rows ([[processBatchCdc]];
  * a stream without the op column is all inserts):
  *  1. one shuffle-free projection computes each inserted vector's
  *     coarse cell and codes against the frozen quantizers
  *     ([[Quantizers.project]], the layout every tier shares);
  *  2. an insert whose vec_id is LIVE before this batch (and not
  *     deleted by it) is dropped — first write wins — by a lookup in the
  *     driver-held live rows, or past [[LiveBound]] by one anti-join
  *     against the live code table (new↔existing only; the index is
  *     never re-scanned pairwise);
  *  3. survivors land at `codes/batch_id=N` carrying `src_batch = N`,
  *     deletes land as tombstones at `tombs/batch_id=N`, and a row is
  *     live iff no strictly later tombstone names it ([[liveCodes]]).
  *
  * Replay-idempotent on the DedupStream discipline: batch-id-keyed
  * overwrite writes, the commit marker written LAST via [[StreamState]]
  * (torn writes are never read as truth), and a replayed committed
  * batch reproduces its rows bit-for-bit (assignment against frozen
  * quantizers is deterministic, and the liveness check reads only
  * strictly-earlier state).
  *
  * Scale shape: state is (vec_id, cell, m codes, src_batch) BIGINTs per
  * vector regardless of dimension: the 64-float embedding never enters
  * the state. Under [[LiveBound]] live rows, the live generation is
  * also held on the driver, grouped by cell, as a cache of the
  * committed state (the way the reference keeps its flat FAISS index in
  * process memory, vectorDB.py:12,38): a commit collects the batch's
  * projection once, resolves the liveness check against the held rows
  * and folds its delta in, a compaction right after it writes the held
  * rows below the newest batch as the resolved base (no state re-read,
  * no anti-join: its only jobs are the two base writes), and a search
  * scores the held rows with the serves' own integer arithmetic and
  * returns a LocalRelation — no Spark job while the committed markers
  * are unchanged. Past the bound,
  * per-batch cost tracks the batch — the projection is map-side, the
  * liveness check is one equi-join probing committed state — and every
  * code write (per-batch, rebuild generation, compacted base) lays the
  * rows out `partitionBy(cell)`, so the MAINTAINED index IS the pruned
  * serving artifact (the same layout the batch tier persists,
  * SemanticQ.indexPath): [[Quantizers.serve]] over [[liveLayout]]
  * answers its probed-cell predicate by DIRECTORY pruning at the
  * listing, never by scanning non-probed cells' files, and compaction's
  * tombstone GC preserves the partitioning (CdcIndexSpec pins the
  * pruned plan).
  */
object IndexStream {

  /** The frozen index artifact: coarse centroids, codebooks and the
    * [[Encoding]] they were trained as ([[graft.operators.Quantizers]]).
    * The encoding persists with a generation, so a restarted maintainer
    * can never mix encodings.
    */
  type Quantizers = graft.operators.Quantizers
  val Quantizers = graft.operators.Quantizers

  /** The persisted code-table schema: (vec_id, cell, code_0 … code_{m−1},
    * src_batch), src_batch being the batch that wrote the row.
    */
  private[graft] def codesSchema(m: Int): StructType =
    StructType(
      StructField("vec_id", LongType) +: StructField("cell", LongType) +:
        (0 until m).map(s => StructField(s"code_$s", LongType)) :+
        StructField("src_batch", LongType))

  private[graft] val tombSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("del_batch", LongType)))

  /** The tombstone table. Its merge drops every folded tombstone
    * without reading one: each is SPENT once the fold resolves the codes
    * ([[compactStateCdcResolve]]).
    */
  private val Tombs = StreamState.Table("tombs", tombSchema,
    (_, _) => local(SparkSession.active, tombSchema, Nil))

  /** The `cell`-partitioned code table of an m-code state. Its merge
    * RESOLVES: the folded codes keep only the rows no tombstone committed
    * at or below the fold id kills — the generation `held` returns for
    * the fold id when the driver holds it ([[heldBase]]), otherwise the
    * anti-join over the committed tables.
    */
  private def codesTable(s: SparkSession, stateDir: String, m: Int,
      held: Long => Option[Live] = _ => None) =
    StreamState.Table("codes", codesSchema(m), (codes, fold) =>
      held(fold).map(l => local(s, codesSchema(m), l.rows.toSeq))
        .getOrElse(live(codes, StreamState.read(s, stateDir, Tombs, upTo = fold + 1))),
      Seq("cell"))

  /** The liveness anti-join: a code row is dead iff a STRICTLY LATER
    * tombstone names it — a same-batch tombstone does not kill the same
    * batch's insert (delete-then-insert order within a batch).
    */
  private def live(codes: DataFrame, tombs: DataFrame): DataFrame =
    codes.join(tombs,
      codes("vec_id") === tombs("vec_id") &&
        tombs("del_batch") > codes("src_batch"),
      "left_anti")

  /** The code-column count (m) of the PERSISTED state, from the newest
    * committed code directory's own parquet schema — so a read-only
    * consumer (the histogram) can never apply a wrong default m and
    * silently drop code columns. None when nothing is committed yet. One
    * quantizer per state dir (mixed m is not a supported state).
    */
  private def persistedM(s: SparkSession, stateDir: String): Option[Int] =
    StreamState.dirs(s, stateDir, codesTable(s, stateDir, 0)).reverse.view
      .flatMap { dir =>
        scala.util.Try(
          s.read.parquet(dir).schema.fieldNames.count(_.startsWith("code_"))
        ).toOption.filter(_ > 0)
      }.headOption

  // ---- CDC maintenance: inserts, deletes and re-inserts -------------
  //
  // A production index takes DELETES — FAISS's remove_ids,
  // Milvus/Lucene tombstones — and re-inserts after them. Physical
  // deletion from immutable committed partitions is compaction's
  // business; the live path appends TOMBSTONES:
  //
  //  - a delete writes (vec_id, del_batch=N) to `tombs/batch_id=N`;
  //  - a code row is LIVE iff no tombstone with del_batch > src_batch
  //    exists for its id (src_batch rides IN the row, so compaction
  //    folds both tables without losing the ordering);
  //  - an insert is blocked only by a LIVE earlier row (first-write-
  //    wins) that this batch does not itself delete — so delete+insert
  //    of a live id in one batch REPLACES it (the CDC re-key
  //    convention), and an insert after a delete RESURRECTS the id with
  //    its new codes.
  //
  // Both writes are batch-id-keyed overwrites behind the shared commit
  // marker, and the liveness check reads strictly-earlier state
  // (upTo = batchId), so a replayed committed batch recomputes its rows
  // bit-for-bit. A fresh batch re-shipping an already-live vec_id sees
  // it in earlier state and drops it; a replayed batch never reads its
  // own superseded partition.

  /** The CDC op column: rows with `__op = "delete"` are tombstones
    * (embedding ignored); anything else — including a missing column —
    * is an insert. The Merge operator's `__op` convention, reused.
    */
  val OpColumn = "__op"

  /** True when this state dir's batch 0 is a [[rebuildCdc]] generation
    * base (the `_rebuilt` flag written beside the quantizers).
    */
  private def hasRebuildBase(s: SparkSession, stateDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$stateDir/_rebuilt")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The LIVE code table as of (strictly before) `upTo`: committed
    * codes minus the rows a STRICTLY LATER tombstone kills ([[live]]).
    * Tombstone state never grows past the delete stream itself, and
    * compaction resolves and drops both sides (see
    * [[compactStateCdcResolve]]).
    */
  def liveCodes(s: SparkSession, stateDir: String, m: Int,
      upTo: Long = Long.MaxValue): DataFrame =
    live(StreamState.read(s, stateDir, codesTable(s, stateDir, m), upTo),
      StreamState.read(s, stateDir, Tombs, upTo))

  /** One CDC micro-batch of (vec_id, embedding, __op) rows. Inserts are
    * assigned against the frozen quantizers; deletes append tombstones.
    * Within a batch, duplicate insert ids collapse to one deterministic
    * row (min over the (cell, codes) struct — without it a batch
    * re-shipping an id twice would write two rows and break the
    * one-live-row-per-vec_id invariant: duplicate search results, a
    * double-counted histogram) and a delete+insert pair resolves to the
    * insert (applied over the delete). Exposed for direct testing like
    * DedupStream.processBatch.
    *
    * INTRA-BATCH ORDER CONTRACT (ADVICE r17): ops within one
    * micro-batch are a SET, not a sequence — there is no ordering
    * column, so a delete and an insert for the same id in one batch
    * ALWAYS resolve delete-then-insert (the re-key convention above),
    * regardless of the order the producer emitted them. A producer
    * whose last op for an id in a batch is a DELETE (ordered-CDC /
    * Debezium semantics: insert-then-delete ⇒ dead) must not ship both
    * in one batch — split them across batches, or pre-resolve to the
    * final op before handing the batch over. This engine-side
    * convention is deliberate: resolving by arrival order would make
    * replay results depend on intra-batch row order, which Spark does
    * not preserve.
    */
  def processBatchCdc(batch: Dataset[Row], batchId: Long, q: Quantizers,
      stateDir: String, autoCompactEvery: Int = 0): Unit = {
    val s = batch.sparkSession
    // a rebuilt generation's batch 0 IS the rebuilt corpus
    // ([[rebuildCdc]]); only a maintainCdc stream started with a FRESH
    // checkpoint would ever present batchId=0 against it, and its
    // overwrite would silently drop the entire rebuilt code table.
    // Refuse loudly (ADVICE r17) — a CONTINUING stream keeps its
    // checkpoint and only ever presents ids above its own history.
    if (batchId == 0L && hasRebuildBase(s, stateDir))
      throw new IllegalStateException(
        s"$stateDir holds a rebuilt generation at batch_id=0; a CDC " +
          "stream with a fresh checkpoint (batchId=0) would overwrite " +
          "it — continue the existing checkpoint instead")
    val ops =
      if (batch.columns.contains(OpColumn)) batch
      else batch.withColumn(OpColumn, lit("insert"))
    val delIds = ops.where(col(OpColumn) === "delete").select(col("vec_id"))
    val projected = q.project(ops.where(coalesce(col(OpColumn), lit("insert")) =!= "delete")
      .select(col("vec_id"), col("embedding")))
    val before = StreamState.stamp(s, stateDir)
    // the liveness check reads strictly-earlier state: a fresh batch
    // sees every committed row, a replay reloads at its own horizon
    val replay = before.committed.lastOption.exists(_._1 >= batchId)
    val base =
      if (replay) load(s, stateDir, q.m, before, upTo = batchId)
      else current(s, stateDir, q.m, before)
    val delta = base.flatMap(b => localDelta(delIds, projected, LiveBound - b.size))
    val (next, folded) = (base, delta) match {
      case (Some(b), Some((ins, dels))) =>
        // an insert is blocked by an id that is live BEFORE this batch
        // and NOT deleted by it — so re-insert-after-delete lands, and
        // delete+insert replaces
        val kept = ins.filterNot(r => b.holds(r(0)) &&
            java.util.Arrays.binarySearch(dels, r(0)) < 0)
          .map(_ :+ batchId)
        // the valve folds everything below this batch: exactly `b`
        val codes = codesTable(s, stateDir, q.m,
          heldBase(s, stateDir, before, Set(batchId), batchId, b))
        val folded = StreamState.commit(s, stateDir, batchId, autoCompactEvery)(
          codes -> local(s, codesSchema(q.m), kept),
          Tombs -> local(s, tombSchema, dels.toSeq.map(id => Array(id, batchId))))
        (Some(Some(b.fold(batchId, dels, kept))), folded)
      case _ =>
        val dels = delIds.distinct()
        val codeCols = projected.columns.filter(_ != "vec_id").toSeq
        // duplicate insert ids collapse to the min (cell, codes) row
        val indexed = projected.groupBy(col("vec_id"))
          .agg(min(struct(codeCols.map(col): _*)).as("k"))
          .select(col("vec_id") +: codeCols.map(c => col("k." + c)): _*)
        val blocked = liveCodes(s, stateDir, q.m, upTo = batchId)
          .select(col("vec_id"))
          .join(dels, Seq("vec_id"), "left_anti")
        // the auto valve RESOLVES: continuous maintenance should never
        // let state size track the delete history instead of the live set
        val folded = StreamState.commit(s, stateDir, batchId, autoCompactEvery)(
          codesTable(s, stateDir, q.m) ->
            indexed.join(blocked, Seq("vec_id"), "left_anti")
              .withColumn("src_batch", lit(batchId)),
          Tombs -> dels.withColumn("del_batch", lit(batchId)))
        // a generation past the bound stays past it; one whose batch
        // alone did not fit is reloaded by its next reader
        (if (base.isEmpty) Some(None) else None, folded)
    }
    // a replay of an older batch leaves later batches to fold: reload
    val newest = !replay || before.committed.last._1 == batchId
    next.filter(_ => newest) match {
      case Some(live) => rekey(s, stateDir, q.m, before, Set(batchId), folded.toSet, live)
      case None => forget(stateDir)
    }
  }

  /** Continuous CDC maintenance over a streaming (vec_id, embedding,
    * __op) frame against the frozen quantizers.
    */
  def maintainCdc(emb: DataFrame, q: Quantizers, stateDir: String,
      checkpointDir: String, autoCompactEvery: Int = 16): StreamingQuery =
    Sinks.foreachBatch(emb, checkpointDir)(
      processBatchCdc(_, _, q, stateDir, autoCompactEvery))

  /** RESOLVE-at-compaction — the tombstone GC a log-structured index
    * runs at merge time (Lucene segment merges, LSM compaction): the
    * folded codes keep only rows no folded tombstone kills, and the
    * folded tombstones drop entirely. Every folded tombstone is SPENT
    * once the fold resolves: surviving folded rows outrank it by
    * construction, and every unfolded or future row carries src_batch
    * above the fold point. Replay stays exact because the newest
    * committed batch is never folded and its strictly-earlier liveness
    * view over (resolved base + unfolded partitions) equals the
    * pre-fold computation — the same rows survive either way. State
    * size now tracks the LIVE set + batches-since-compaction, not the
    * delete history. Crash contract inherited from [[StreamState
    * .compact]] (base written first, marker last, torn fold invisible).
    * The tombstone horizon is the FOLD ID the compaction itself hands
    * to the codes merge — codes and tombs can never resolve against
    * different horizons, even if another batch commits mid-compaction.
    * Right after this process's own commit under [[LiveBound]], the base
    * is the held generation below the newest batch, written without
    * reading state ([[heldBase]], the same fold source as the commit's
    * valve); past the bound, after an outside writer moved the stamp,
    * or on the replay of an older batch, the anti-join resolves it
    * through Spark. `m` must match the persisted quantizer's
    * code-column count (`Quantizers.m`): a smaller m would silently
    * drop code columns from the base, which is permanent index
    * corruption.
    */
  def compactStateCdcResolve(s: SparkSession, stateDir: String,
      m: Int): Option[Long] = {
    val before = StreamState.stamp(s, stateDir)
    val gen = cached(stateDir, before, m)
    // right after this process's own commit, the held generation below
    // its newest batch is the base
    val codes = codesTable(s, stateDir, m, fold => gen.flatten.flatMap(g =>
      g.newest.flatMap(heldBase(s, stateDir, before, Set.empty, _, g.below)(fold))))
    val folded = StreamState.compact(s, stateDir, Seq(codes, Tombs))
    // the resolve leaves the live set as it was: a held copy stays valid
    gen.foreach(rekey(s, stateDir, m, before, Set.empty, folded.toSet, _))
    folded
  }

  /** A compaction's resolved code base from the driver: `below`, the
    * live rows strictly below batch `newest` as of `stamp`. It is the
    * base at fold id `fold` when `fold` is the newest id below `newest`
    * in `stamp` (so every committed batch below `newest` folds, and no
    * other) and the dir's stamp still leads from `stamp` by this
    * process's own markers `own`; otherwise None, and the merge resolves
    * through Spark (past the bound, after an outside writer moved the
    * stamp, on the replay of an older batch).
    */
  private def heldBase(s: SparkSession, stateDir: String, stamp: StreamState.Stamp,
      own: Set[Long], newest: Long, below: => Live)(fold: Long): Option[Live] =
    Option.when((stamp.committed ++ stamp.compacted).map(_._1).filter(_ < newest)
        .maxOption.contains(fold) &&
      stamp.leadsTo(StreamState.stamp(s, stateDir), own, Set.empty))(below)

  // ---- The live generation on the driver ----------------------------
  //
  // Under [[LiveBound]] live rows, a state dir's live code rows are held
  // on the driver: a commit resolves "blocked" against them and folds
  // its delta in, and a search scores them in place. The copy is a
  // CACHE of the committed parquet state, which stays the only truth
  // (the StreamState crash contract is unchanged). It is keyed by the
  // dir's marker [[StreamState.Stamp]], so an outside commit,
  // compaction or replay, or a dir deleted and rebuilt at the same path,
  // is a new key, and the next reader reloads once through a bounded
  // collect of [[liveCodes]]. A generation past the bound, or holding a
  // NULL this module never writes, is recorded as such and keeps the
  // Spark bodies.

  /** The most live rows held on the driver, across every state dir —
    * the bound of KMeansOp.points, BpeTrainer.VocabBound and
    * Rerank.RowBound.
    */
  private val LiveBound = 1 << 18

  /** A generation's live rows grouped by cell: row r is
    * `data(r·width …)` in the code-table column order (vec_id, cell,
    * code_0 … code_{m−1}, src_batch), rows sorted by (cell, vec_id);
    * the rows of `cells(j)` are [from(j), from(j + 1)). A generation
    * this process folded remembers its newest batch and the earlier rows
    * that batch killed, `killed`.
    */
  private final class Live(val m: Int, val data: Array[Long],
      cells: Array[Long], from: Array[Int],
      killed: Option[(Long, Seq[Array[Long]])] = None) {
    def width: Int = m + 3
    def size: Int = data.length / width
    def rows: Iterator[Array[Long]] =
      (0 until size).iterator.map(r => data.slice(r * width, (r + 1) * width))
    private lazy val ids = {
      val a = Array.tabulate(size)(r => data(r * width))
      java.util.Arrays.sort(a)
      a
    }
    def holds(id: Long): Boolean = java.util.Arrays.binarySearch(ids, id) >= 0

    /** The rows of cell `c`, as a [from, until) row range. */
    def span(c: Long): (Int, Int) = {
      val j = java.util.Arrays.binarySearch(cells, c)
      if (j < 0) (0, 0) else (from(j), from(j + 1))
    }

    /** This generation after batch `id` deleted `dels` (sorted) and
      * inserted `ins`, which carry `id`: every earlier row of a deleted id
      * is killed by its strictly later tombstone.
      */
    def fold(id: Long, dels: Array[Long], ins: Seq[Array[Long]]): Live = {
      val (dead, kept) = rows.toSeq.partition(r => java.util.Arrays.binarySearch(dels, r(0)) >= 0)
      Live(m, kept.iterator ++ ins, Some(id -> dead))
    }

    /** The newest batch of a generation this process folded. */
    def newest: Option[Long] = killed.map(_._1)

    /** The generation strictly below [[newest]]: the rows that batch did
      * not insert, plus the rows it killed.
      */
    def below: Live = {
      val (id, dead) = killed.get
      Live(m, rows.filter(_(width - 1) != id) ++ dead)
    }
  }

  /** Lexicographic order of BIGINT rows over the columns `cols`. */
  private def lexOrder(cols: Seq[Int]): Ordering[Array[Long]] = (a, b) => {
    var c = 0
    val it = cols.iterator
    while (c == 0 && it.hasNext) { val i = it.next(); c = java.lang.Long.compare(a(i), b(i)) }
    c
  }

  private object Live {
    def apply(m: Int, rows: Iterator[Array[Long]],
        killed: Option[(Long, Seq[Array[Long]])] = None): Live = {
      val sorted = rows.toArray.sorted(lexOrder(1 +: 0 +: (2 until m + 3)))
      val starts = sorted.indices.filter(r => r == 0 || sorted(r)(1) != sorted(r - 1)(1))
      new Live(m, sorted.flatten, starts.map(sorted(_)(1)).toArray,
        (starts :+ sorted.length).toArray, killed)
    }
  }

  /** A state dir's held generation, at the stamp it was read at: None
    * when that generation is served by the Spark bodies.
    */
  private final case class Held(stamp: StreamState.Stamp, m: Int, live: Option[Live]) {
    def rows: Int = live.fold(1)(l => math.max(l.size, 1))
  }

  /** Held generations by state dir, least recently used first. */
  private val held = new java.util.LinkedHashMap[String, Held](16, 0.75f, true)

  /** Bounded collects of live state so far (a test hook). */
  private[graft] val reloads = new java.util.concurrent.atomic.AtomicLong()

  private def cached(stateDir: String, stamp: StreamState.Stamp, m: Int): Option[Option[Live]] =
    held.synchronized(Option(held.get(stateDir)))
      .filter(h => h.stamp == stamp && h.m == m).map(_.live)

  /** Hold `live` as `stateDir`'s generation at `stamp`. Dirs gone from
    * disk (a published build's staging name) are dropped, then the
    * least recently used until the held rows fit [[LiveBound]].
    */
  private def hold(s: SparkSession, stateDir: String, h: Held): Unit = held.synchronized {
    held.put(stateDir, h)
    val conf = s.sparkContext.hadoopConfiguration
    held.keySet.removeIf { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      !p.getFileSystem(conf).exists(p)
    }
    var rows = held.values.iterator.asScala.map(_.rows.toLong).sum
    val lru = held.entrySet.iterator
    while (rows > LiveBound && lru.hasNext) {
      val e = lru.next()
      if (e.getKey != stateDir) { rows -= e.getValue.rows; lru.remove() }
    }
  }

  private def forget(stateDir: String): Unit = held.synchronized(held.remove(stateDir))

  /** After this process's own commit or compaction: the generation that
    * `live` describes is held at the dir's new stamp when that stamp
    * differs from `before` only by the markers written here.
    */
  private def rekey(s: SparkSession, stateDir: String, m: Int, before: StreamState.Stamp,
      own: Set[Long], ownBase: Set[Long], live: Option[Live]): Unit = {
    val after = StreamState.stamp(s, stateDir)
    if (before.leadsTo(after, own, ownBase)) hold(s, stateDir, Held(after, m, live))
    else forget(stateDir)
  }

  /** The live generation of `stateDir` at `stamp`: held, or reloaded
    * once and held.
    */
  private def current(s: SparkSession, stateDir: String, m: Int,
      stamp: StreamState.Stamp): Option[Live] =
    cached(stateDir, stamp, m).getOrElse {
      val live = load(s, stateDir, m, stamp, Long.MaxValue)
      hold(s, stateDir, Held(stamp, m, live))
      live
    }

  /** The live rows strictly below `upTo` through one bounded collect of
    * [[liveCodes]] (none when no marker lies below it); None past
    * [[LiveBound]] rows or when a row holds a NULL.
    */
  private def load(s: SparkSession, stateDir: String, m: Int,
      stamp: StreamState.Stamp, upTo: Long): Option[Live] =
    if (!(stamp.committed ++ stamp.compacted).exists(_._1 < upTo)) Some(Live(m, Iterator.empty))
    else {
      reloads.incrementAndGet()
      Iterate.collectWithin(liveCodes(s, stateDir, m, upTo), LiveBound)
        .filterNot(_.exists(r => (0 until r.length).exists(r.isNullAt)))
        .map(rows => Live(m, rows.iterator.map(r => Array.tabulate(r.length)(r.getLong))))
    }

  /** A batch's delta through one bounded collect of its projected
    * inserts and deleted ids: the inserts as (vec_id, cell, code_0 …)
    * rows, duplicate ids collapsed to the min (cell, codes) row as the
    * Spark body's min-struct does, and the distinct deleted ids, sorted.
    * None past `bound` rows, or on a non-BIGINT vec_id or a NULL id or
    * code, which the Spark body writes as they are.
    */
  private def localDelta(delIds: DataFrame, projected: DataFrame,
      bound: Long): Option[(Seq[Array[Long]], Array[Long])] = {
    if (projected.schema("vec_id").dataType != LongType) return None
    val codeCols = projected.columns.toSeq
    val both = projected.withColumn("__del", lit(false)).union(delIds.select(
      col("vec_id") +: codeCols.tail.map(c => lit(null).cast(LongType).as(c)) :+
        lit(true).as("__del"): _*))
    Iterate.collectWithin(both, bound).flatMap { rows =>
      val (dels, ins) = rows.partition(_.getBoolean(codeCols.length))
      if (dels.exists(_.isNullAt(0)) ||
          ins.exists(r => codeCols.indices.exists(r.isNullAt))) None
      else {
        val collapsed = ins.map(r => Array.tabulate(codeCols.length)(r.getLong))
          .groupBy(_(0)).values.map(_.min(lexOrder(1 until codeCols.length)))
          .toSeq.sorted(lexOrder(Seq(1, 0)))
        Some((collapsed, dels.map(_.getLong(0)).distinct.sorted))
      }
    }
  }

  // ---- Serving ------------------------------------------------------

  /** The live code rows as a serving layout (the batch bookkeeping
    * column dropped): the Spark serve's input past [[LiveBound]]. A
    * row's liveness is decided per row against the (unpruned) tombstone
    * relation, never by rows in other cells, so the serve's probed-cell
    * filter pushes to the codes scan and its file listing stops at the
    * probed `cell=` directories.
    */
  private[graft] def liveLayout(s: SparkSession, stateDir: String, q: Quantizers): DataFrame =
    liveCodes(s, stateDir, q.m).drop("src_batch")

  /** Single-probe search over the LIVE rows of the maintained index,
    * `probe` being the query's raw embedding: deleted ids never surface,
    * re-inserted ids serve their newest codes. Returns
    * (vec_id, adc_scaled) — (vec_id, qdist) for SQ8 state. Under
    * [[LiveBound]] live rows it scores the driver-held generation and
    * returns a LocalRelation; past it, [[Quantizers.serve]] over
    * [[liveLayout]].
    */
  def searchCommittedCdc(s: SparkSession, stateDir: String, q: Quantizers,
      probe: Seq[Double], nProbe: Int, k: Int): DataFrame =
    current(s, stateDir, q.m, StreamState.stamp(s, stateDir)).flatMap { live =>
      if (k < 1 || nProbe < 1) None
      else {
        val (cells, t) = q.localProbe(probe, nProbe)
        topK(live, cells, q.localDist(t, cells, batch = false), k)
          .map(hits => local(s, servedSchema(q), hits.map { case (d, id) => Array(id, d) }))
      }
    }.getOrElse(q.serve(liveLayout(s, stateDir, q), probe, nProbe, k))

  /** Batch search over the LIVE rows of the maintained index: `probes`
    * is any (qid, v) frame — (qid, embedding) for SQ8 state. Returns
    * (qid, rnk, vec_id, adc_scaled | qdist), top-k per qid. Under
    * [[LiveBound]] live rows the probe frame is collected (no job when
    * it is a LocalRelation) and every probe is scored against the
    * driver-held generation, the result a LocalRelation; past it, the
    * batch [[Quantizers.serve]] over [[liveLayout]] runs on executors.
    */
  def searchCommittedBatchCdc(s: SparkSession, stateDir: String,
      q: Quantizers, probes: DataFrame, nProbe: Int, k: Int): DataFrame =
    current(s, stateDir, q.m, StreamState.stamp(s, stateDir)).flatMap(serveBatch(s, _, q, probes, nProbe, k))
      .getOrElse(q.serve(liveLayout(s, stateDir, q), probes, nProbe, k))

  /** The batch serve on the driver, or None where its inputs leave the
    * common case (a non-BIGINT or NULL qid, a NULL or wrong-length
    * vector, a code with no LUT entry) and the Spark serve decides.
    */
  private def serveBatch(s: SparkSession, live: Live, q: Quantizers,
      probes: DataFrame, nProbe: Int, k: Int): Option[DataFrame] = {
    if (k < 1 || nProbe < 1 ||
        !probes.schema.exists(f => f.name == "qid" && f.dataType == LongType)) return None
    def longs(r: Row, i: Int): Option[Array[Long]] =
      Option(r.getSeq[java.lang.Long](i)).filter(x => x.length == q.dim && !x.contains(null))
        .map(_.map(_.longValue).toArray)
    val parsed = q.probeTerms(probes).collect().map(r =>
      for (v <- longs(r, 1); t <- longs(r, 2) if !r.isNullAt(0)) yield (r.getLong(0), v, t))
    if (parsed.contains(None)) return None
    // qid-deduplicated, first row kept, as the Spark serve's dropDuplicates
    val served = parsed.flatten.distinctBy(_._1).sortBy(_._1).map { case (qid, v, t) =>
      val cells = KMeansOp.nearestCells(q.coarse, v.toSeq, nProbe)
      topK(live, cells, q.localDist(t, cells, batch = true), k).map(hits =>
        hits.zipWithIndex.map { case ((d, id), r) => Array(qid, r + 1L, id, d) })
    }
    Option.when(served.forall(_.isDefined))(local(s, StructType(Seq(probes.schema("qid"),
      StructField("rnk", LongType, nullable = false)) ++ servedSchema(q).fields),
      served.toSeq.flatMap(_.get)))
  }

  /** The k lowest (distance, vec_id) pairs of the rows in `cells`, ties
    * to the lower vec_id, or None when a row's code has no LUT entry.
    */
  private def topK(live: Live, cells: Seq[Long],
      dist: Map[Long, (Array[Long], Int) => Long], k: Int): Option[Seq[(Long, Long)]] =
    try Some(cells.distinct.flatMap { c =>
      val f = dist(c)
      val (lo, hi) = live.span(c)
      (lo until hi).map(r => (f(live.data, r * live.width + 2), live.data(r * live.width)))
    }.sorted.take(k))
    catch { case _: NoSuchElementException => None }

  /** (vec_id, [[Quantizers.distName]]) as the Spark serves type it. */
  private def servedSchema(q: Quantizers): StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField(q.distName, LongType)))

  /** BIGINT rows as a LocalRelation of `schema`, in the given order. */
  private def local(s: SparkSession, schema: StructType, rows: Seq[Array[Long]]): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(
      rows.map(r => Row.fromSeq(r.toSeq)): _*), schema)

  /** Quantizer-staleness monitor: live cell occupancy. A healthy index
    * keeps cells balanced near the training distribution; a drifting
    * ingest concentrates mass in few cells (probe recall degrades,
    * per-cell scans grow) — the operational signal to retrain and
    * [[rebuildCdc]]. One bounded aggregate over the live code table;
    * tombstoned mass is not counted, and m comes from the persisted
    * schema (0 = empty state → empty histogram), so a read-only monitor
    * needs no quantizer handle.
    */
  def cellHistogramCdc(s: SparkSession, stateDir: String): DataFrame = {
    val m = persistedM(s, stateDir).getOrElse(0)
    liveCodes(s, stateDir, m)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .orderBy(col("cell").asc)
  }

  // ---- Rebuild flow: generations + atomic swap ----------------------
  //
  // cellHistogramCdc is the staleness SIGNAL; rebuildCdc is its
  // CONSUMER. Layout: an index ROOT holds independent StreamState
  // generations `gen=N/` (each with its own codes and tombstone tables,
  // commit markers, and the persisted quantizers that froze it), and
  // `_current/N` marker files name the active generation — written
  // LAST, so a crash anywhere in a rebuild leaves the old generation
  // serving and the half-built one invisible (the exact
  // marker-written-last discipline StreamState uses per batch, lifted
  // to whole index versions). Readers resolve max(_current) via
  // [[currentRoot]], load its [[loadQuantizers]], and never look inside
  // an unswapped generation.

  private def genDir(root: String, n: Long) = s"$root/gen=$n"

  /** The active generation's state dir, if any rebuild ever swapped. */
  def currentRoot(s: SparkSession, indexRoot: String): Option[String] =
    StreamState.markerIds(s, s"$indexRoot/_current").lastOption
      .map(genDir(indexRoot, _))

  private val quantizersSchema = StructType(Seq(
    StructField("kind", org.apache.spark.sql.types.StringType),
    StructField("sub", org.apache.spark.sql.types.IntegerType),
    StructField("cid", LongType),
    StructField("c", org.apache.spark.sql.types.ArrayType(LongType)),
    StructField("sub_dim", org.apache.spark.sql.types.IntegerType)))

  /** Persist the frozen quantizers next to their generation's codes —
    * the artifact a restarted maintainer/server loads instead of
    * retraining (bounded: k + m·k rows of BIGINT centroids).
    */
  private[graft] def saveQuantizers(s: SparkSession, dir: String,
      q: Quantizers): Unit = {
    // the encoding rides as marker rows (kind = "residual" / "opq_perm"
    // / "sq8" / "sq8dim_*"), so plain-PQ artifacts carry none; the SQ8
    // scales persist EXACTLY via their IEEE-754 bits in the BIGINT
    // slots (a decimal round-trip could perturb the code arithmetic's
    // last ulp)
    def meta(kind: String, cid: Long = 0L, c: Seq[Long] = Nil) =
      Row(kind, -1, cid, c, q.subDim)
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)
    val rows =
      q.coarse.map { case (cid, c) => Row("coarse", -1, cid, c, q.subDim) } ++
      q.books.zipWithIndex.flatMap { case (book, m) =>
        book.map { case (cid, c) => Row("book", m, cid, c, q.subDim) }
      } ++ (q.encoding match {
        case Encoding.Pq => Nil
        case Encoding.ResidualPq => Seq(meta("residual"))
        case Encoding.Opq(p) => Seq(meta("opq_perm", c = p.map(_.toLong)))
        case Encoding.Sq8(a) => Seq(meta("sq8", bits(Seq(a)).head))
        case Encoding.Sq8Dim(vmn, vmx) =>
          Seq(meta("sq8dim_mn", c = bits(vmn)), meta("sq8dim_mx", c = bits(vmx)))
      })
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), quantizersSchema)
      .write.mode("overwrite").parquet(s"$dir/quantizers")
  }

  /** Load a generation's frozen quantizers. */
  def loadQuantizers(s: SparkSession, dir: String): Quantizers = {
    val rows = s.read.schema(quantizersSchema).parquet(s"$dir/quantizers")
      .collect()
    def kind(k: String) = rows.filter(_.getString(0) == k)
    def entries(rs: Array[Row]) =
      rs.map(r => (r.getLong(2), r.getSeq[Long](3))).sortBy(_._1).toSeq
    def doubles(k: String) = kind(k).headOption.map(
      _.getSeq[Long](3).map(java.lang.Double.longBitsToDouble).toSeq)
    val bookRows = kind("book")
    val m = if (bookRows.isEmpty) 0 else bookRows.map(_.getInt(1)).max + 1
    val encoding =
      if (kind("residual").nonEmpty) Encoding.ResidualPq
      else kind("opq_perm").headOption.map(r =>
        Encoding.Opq(r.getSeq[Long](3).map(_.toInt).toSeq))
      .orElse(kind("sq8").headOption.map(r =>
        Encoding.Sq8(java.lang.Double.longBitsToDouble(r.getLong(2)))))
      .orElse(doubles("sq8dim_mn").map(Encoding.Sq8Dim(_,
        doubles("sq8dim_mx").getOrElse(throw new IllegalStateException(
          "per-dim SQ8 artifact persisted vmn without vmx")))))
      .getOrElse(Encoding.Pq)
    Quantizers(entries(kind("coarse")),
      (0 until m).map(sub => entries(bookRows.filter(_.getInt(1) == sub))),
      rows.head.getInt(4), encoding)
  }

  /** REBUILD: retrain the quantizers as `encoding` on a corpus snapshot
    * (the raw vectors live in the corpus table — code-only state is by
    * design too small to retrain from), re-encode the snapshot into a
    * FRESH generation (codes carry `src_batch = 0`, an empty tombstone
    * partition rides under the same commit marker), persist the
    * quantizers beside it, and atomically swap `_current` to the new
    * generation. The old generation keeps serving until the swap
    * marker lands; a crash at any earlier point changes nothing a
    * reader can see. Returns the new quantizers.
    *
    * Training is [[Encoding.train]] — the batch tiers' derivation — so
    * rebuilding on an unchanged corpus is a no-op in search results,
    * the equivalence the spec pins.
    *
    * A CDC maintainer CONTINUES over the new generation —
    * delete/re-insert cycles pick up where the rebuild left off. The
    * continuing stream must keep its checkpoint (batch ids strictly
    * above 0); this is ENFORCED, not just documented: a `_rebuilt` flag
    * rides with the generation and [[processBatchCdc]] refuses a
    * fresh-checkpoint batchId=0 against it instead of letting the
    * replay overwrite the rebuilt code table. The rebuild consumes the
    * corpus snapshot, which a deployment derives from the previous
    * generation's live set plus the raw vector store.
    */
  def rebuildCdc(s: SparkSession, indexRoot: String, corpus: DataFrame,
      k: Int, iters: Int, m: Int, subDim: Int,
      encoding: Encoding.Kind = Encoding.Pq): Quantizers = {
    val next = StreamState.markerIds(s, s"$indexRoot/_current")
      .lastOption.getOrElse(-1L) + 1L
    val dir = genDir(indexRoot, next)
    val q = Encoding.train(encoding, corpus, KMeansOp.lloydCentroidsLocal(
      corpus, "vec_id", col("embedding"), k, iters), k, iters, m, subDim)
    saveQuantizers(s, dir, q)
    // flag that batch 0 carries a REBUILT corpus, not a stream batch —
    // processBatchCdc refuses a fresh-checkpoint batchId=0 against it
    val flag = new org.apache.hadoop.fs.Path(s"$dir/_rebuilt")
    flag.getFileSystem(s.sparkContext.hadoopConfiguration)
      .create(flag, true).close()
    StreamState.commit(s, dir, 0L, autoCompactEvery = 0)(
      codesTable(s, dir, q.m) -> q.project(corpus.select(col("vec_id"), col("embedding")))
        .withColumn("src_batch", lit(0L)),
      Tombs -> s.createDataFrame(s.sparkContext.emptyRDD[Row], tombSchema))
    // the atomic reader switch: _current marker LAST
    StreamState.writeMarker(s, s"$indexRoot/_current", next)
    q
  }
}
