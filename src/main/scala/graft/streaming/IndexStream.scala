package graft.streaming

import graft.operators.{Encoding, KMeansOp}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

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
  *     deleted by it) is dropped by one anti-join against the live code
  *     table (new↔existing only; the index is never re-scanned
  *     pairwise) — first write wins;
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
  * Scale shape: per-batch cost tracks the batch — the projection is
  * map-side, the liveness check is one equi-join probing committed
  * state, and state is (vec_id, cell, m codes, src_batch) BIGINTs per
  * vector regardless of dimension: the 64-float embedding never enters
  * the state. Every code write — per-batch, rebuild generation,
  * compacted base — lays the rows out `partitionBy(cell)`, so the
  * MAINTAINED index IS the pruned serving artifact (the same layout the
  * batch tier persists, SemanticQ.indexPath): search over the live
  * index ([[searchCommittedCdc]], [[searchCommittedBatchCdc]]) answers
  * its probed-cell predicate by DIRECTORY pruning at the listing, never
  * by scanning non-probed cells' files, and
  * compaction's tombstone GC preserves the partitioning (CdcIndexSpec
  * pins the pruned plan).
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

  /** The tombstone table. Its merge drops every folded tombstone: each
    * is SPENT once the fold resolves the codes ([[compactStateCdcResolve]]).
    */
  private val Tombs = StreamState.Table("tombs", tombSchema, (t, _) => t.limit(0))

  /** The `cell`-partitioned code table of an m-code state. Its merge
    * RESOLVES: the folded codes keep only the rows no tombstone committed
    * at or below the fold id kills.
    */
  private def codesTable(s: SparkSession, stateDir: String, m: Int) =
    StreamState.Table("codes", codesSchema(m), (codes, fold) =>
      live(codes, StreamState.read(s, stateDir, Tombs, upTo = fold + 1)), Seq("cell"))

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
    val dels = ops.where(col(OpColumn) === "delete")
      .select(col("vec_id")).distinct()
    val ins = ops.where(coalesce(col(OpColumn), lit("insert")) =!= "delete")
      .select(col("vec_id"), col("embedding"))
    val indexed0 = q.project(ins)
    val codeCols = indexed0.columns.filter(_ != "vec_id").toSeq
    val indexed = indexed0.groupBy(col("vec_id"))
      .agg(min(struct(codeCols.map(col): _*)).as("k"))
      .select(col("vec_id") +: codeCols.map(c => col("k." + c)): _*)
    // an insert is blocked by an id that is live BEFORE this batch and
    // NOT deleted by it — so re-insert-after-delete lands, and
    // delete+insert replaces
    val blocked = liveCodes(s, stateDir, q.m, upTo = batchId)
      .select(col("vec_id"))
      .join(dels, Seq("vec_id"), "left_anti")
    // the auto valve RESOLVES: continuous maintenance should never let
    // state size track the delete history instead of the live set
    StreamState.commit(s, stateDir, batchId, autoCompactEvery)(
      codesTable(s, stateDir, q.m) ->
        indexed.join(blocked, Seq("vec_id"), "left_anti")
          .withColumn("src_batch", lit(batchId)),
      Tombs -> dels.withColumn("del_batch", lit(batchId)))
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
    * different horizons, even if another batch commits mid-compaction. `m` must match the persisted quantizer's
    * code-column count (`Quantizers.m`): a smaller m would silently
    * drop code columns from the base, which is permanent index
    * corruption.
    */
  def compactStateCdcResolve(s: SparkSession, stateDir: String,
      m: Int): Option[Long] =
    StreamState.compact(s, stateDir, Seq(codesTable(s, stateDir, m), Tombs))

  // ---- Serving ------------------------------------------------------

  /** The live code rows as a serving layout (the batch bookkeeping
    * column dropped). A row's liveness is decided per row against the
    * (unpruned) tombstone relation, never by rows in other cells, so
    * the serve's probed-cell filter pushes to the codes scan and its
    * file listing stops at the probed `cell=` directories.
    */
  private def liveLayout(s: SparkSession, stateDir: String, q: Quantizers): DataFrame =
    liveCodes(s, stateDir, q.m).drop("src_batch")

  /** Single-probe search over the LIVE rows of the maintained index,
    * `probe` being the query's raw embedding: deleted ids never surface,
    * re-inserted ids serve their newest codes. Returns
    * (vec_id, adc_scaled) — (vec_id, qdist) for SQ8 state.
    */
  def searchCommittedCdc(s: SparkSession, stateDir: String, q: Quantizers,
      probe: Seq[Double], nProbe: Int, k: Int): DataFrame =
    q.serve(liveLayout(s, stateDir, q), probe, nProbe, k)

  /** Batch search over the LIVE rows of the maintained index: `probes`
    * is any (qid, v) frame — (qid, embedding) for SQ8 state — served by
    * executors, the only driver work the ≤ Q·nProbe collected distinct
    * probed cells. Returns (qid, rnk, vec_id, adc_scaled | qdist), top-k
    * per qid.
    */
  def searchCommittedBatchCdc(s: SparkSession, stateDir: String,
      q: Quantizers, probes: DataFrame, nProbe: Int, k: Int): DataFrame =
    q.serve(liveLayout(s, stateDir, q), probes, nProbe, k)

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
