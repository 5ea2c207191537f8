package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** Lineage cap for iterative dataflows (the distributed connected
  * components rounds) and for a relation several plan branches consume
  * (SemDeDup's pinned assignment in the corpus builds): every round must
  * materialize its relation, or Catalyst re-optimizes and re-executes a
  * plan tree that nests once per round.
  *
  * Two strategies, chosen by the caller per run:
  *   - `checkpointDir = None` (default): `localCheckpoint()` — blocks
  *     cached on the executors that computed them. Fast (no FS round
  *     trip), but the truncated lineage means a lost executor's blocks
  *     cannot be recomputed and the job dies with it — the test/local
  *     path.
  *   - `checkpointDir = Some(dir)`: reliable `checkpoint()` against a
  *     fault-tolerant filesystem (HDFS/object store). The 100 TB path:
  *     iteration state survives executor loss; lineage is truncated the
  *     same way.
  */
private[graft] object Iterate {

  /** Reliable-checkpoint directory from the environment: set
    * `SPARK_GRAFT_CKPT_DIR` and every checkpointed declared query
    * (q_dup_clusters, q_dup_clusters_lsh and the q_corpus_build*
    * compositions) switches from `localCheckpoint` to reliable
    * `checkpoint` — the production path is one env var, no code change.
    *
    * Cleanup contract: reliable checkpoints write one file set per round
    * per operator and Spark does NOT delete them at job end
    * (`spark.cleaner.referenceTracking.cleanCheckpoints` only cleans on
    * GC of the RDD reference — timing-dependent, not a guarantee). The
    * directory is scratch space scoped to the run: the job owner deletes
    * it after the application completes — or uses
    * `withRunScopedCheckpoints`, which creates the per-run subdirectory
    * and removes it itself once the fixpoint is materialized.
    */
  def envDir: Option[String] = sys.env.get("SPARK_GRAFT_CKPT_DIR")

  /** Materialize `df` and truncate its lineage per the chosen strategy.
    * Setting the SparkContext checkpoint dir is idempotent; distinct
    * concurrent dirs on one context are not supported (last wins), which
    * matches SparkContext semantics.
    */
  def cap(dir: Option[String])(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    // a LocalRelation IS materialized, lineage-free data — checkpointing
    // it would only mint executor blocks for rows the driver already holds
    case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => df
    case _ => dir match {
      case Some(d) =>
        val sc = df.sparkSession.sparkContext
        if (!sc.getCheckpointDir.contains(d)) sc.setCheckpointDir(d)
        df.checkpoint()
      case None => df.localCheckpoint()
    }
  }

  /** Algorithm-bounded candidate sets (a top-k, a probe set) consumed by
    * several plan branches: materialize ONCE to the driver as a
    * LocalRelation instead of `localCheckpoint`. Same single-computation
    * guarantee, but zero executor-cached blocks for a long-lived session
    * to accumulate — there is nothing to unpersist, release is immediate
    * when the frame is dropped. The `maxRows` require is the loudness
    * contract: this is ONLY for sets whose size the ALGORITHM bounds
    * (k·|queries| rows), and a violated bound must fail, not silently
    * pull data to the driver (the same discipline as every k-means
    * fit's one training collect, KMeansOp.points).
    */
  def boundedLocal(df: DataFrame, maxRows: Int): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(
      collectBounded(df, maxRows)(s"boundedLocal: more than $maxRows rows " +
        "exceed the declared bound — this path is for algorithm-bounded " +
        "sets only"): _*), df.schema)

  /** The one bounded driver collect: `df`'s rows when there are at most
    * `bound`, else None. It reads through `limit(bound + 1)`, so a
    * violated bound brings bound + 1 rows to the driver, never the whole
    * frame.
    */
  def collectWithin(df: DataFrame, bound: Long): Option[Array[Row]] = {
    val rows = df.limit(math.min(bound + 1, Int.MaxValue.toLong).toInt).collect()
    if (rows.length <= bound) Some(rows) else None
  }

  /** [[collectWithin]] for a path with no fallback: a violated bound
    * throws `overflow` as an IllegalArgumentException.
    */
  def collectBounded(df: DataFrame, bound: Long)(overflow: => String): Array[Row] = {
    val rows = collectWithin(df, bound)
    require(rows.isDefined, overflow)
    rows.get
  }

  /** The ENFORCED form of the cleanup contract above: run an iterative
    * computation with reliable checkpoints scoped to a fresh per-run
    * subdirectory of `baseDir`, then delete that subdirectory once the
    * result no longer depends on it. `body` receives `Some(runDir)` to
    * pass as its `checkpointDir`; after it returns, the result is
    * EAGERLY detached from the scratch files (`localCheckpoint()` — the
    * fixpoint output, e.g. per-vertex labels, is the small end of the
    * computation) before the directory is removed, so no later action
    * can dangle on deleted checkpoint data. A failed run also removes
    * its subdirectory — scratch space never outlives the run either
    * way. For a fixpoint too large to pin executor-local, write it to a
    * durable sink inside `body` and return the re-read frame; the
    * detach is then a no-op read plan with no checkpoint lineage.
    */
  def withRunScopedCheckpoints(baseDir: String)
      (body: Option[String] => DataFrame): DataFrame = {
    val runDir = s"$baseDir/run-${java.util.UUID.randomUUID()}"
    try {
      val out = body(Some(runDir))
      out.localCheckpoint() // eager: result detaches from runDir files
    } finally {
      val path = new org.apache.hadoop.fs.Path(runDir)
      val fs = path.getFileSystem(
        org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
      fs.delete(path, true)
    }
  }
}
