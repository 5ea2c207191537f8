package perfbench

import graft.functions.{BpeCount, EvalOnce}
import graft.operators._
import graft.operators.{TextAnalysis => TA}
import graft.sources.Sources
import graft.streaming.IndexStream
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** What one request reports back to the loop. `items` counts the
  * workload's unit of work (resumes, probes, CDC rows, documents);
  * `failed` counts output checks that did not hold; `writeMs` is the
  * commit part of a request, where there is one.
  */
final case class Outcome(items: Int, checks: Int, failed: Int, writeMs: Double = 0.0)

/** One benchmark workload. `setup` runs inside the set-up clock;
  * `prepare` generates request `i`'s input outside every clock; `serve`
  * is the timed request; `after` runs request `i`'s checks that need
  * more Spark work, outside the clock; `finish` runs the end-of-run
  * output checks and reports workload figures for the run record.
  */
trait Workload {
  def setup(): Unit
  def prepare(i: Int): Unit
  def serve(i: Int): Outcome
  def after(i: Int): Outcome = Outcome(0, 0, 0)
  def finish(): (Outcome, Map[String, Double])
  /** Per-layer figures a traced run reads after its loops. */
  def traced(): Map[String, Double] = Map.empty
}

/** Shared plumbing: the session, the tracer, the run's directories. */
final class Ctx(val spark: SparkSession, val trace: Trace, val seed: Long,
    val inputs: Path, val work: Path, val cores: Int) {
  /** Time spent in the benchmark's own generators during set-up. */
  var stagingNs = 0L

  def staging[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally stagingNs += System.nanoTime() - t0
  }

  /** A DataFrame over driver-held rows that the optimizer cannot fold
    * into a local relation, so the program plans it as it would a batch
    * arriving from storage or a stream.
    */
  def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, cores), schema)

  /** Runs `df` to completion at a traced layer boundary and hands the
    * next layer the collected rows.
    */
  def materialize(df: DataFrame): (DataFrame, Array[Row]) = {
    val rows = df.collect()
    (frame(rows.toSeq, df.schema), rows)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def fileCount(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".")).count()
      finally s.close()
    }
}

// ---------------------------------------------------------------------------

/** The single-resume route: one resume file per request, extracted by
  * `Sources`/`BinaryText` and scored by `Pipelines.matchSingle` with the
  * deterministic stand-in scorer; the result row is collected.
  */
final class MatchSingle(c: Ctx) extends Workload {
  import c._
  private val jd = Gen.jdTokens(seed)
  private val jdText = jd.mkString(" ")
  private var current: (Path, Gen.Resume) = _

  /** The stand-in scorer `q_match_single` uses: every section scores the
    * clamped overlap of the resume part of the prompt with the JD tokens.
    */
  private def scorer(prompts: DataFrame): DataFrame = {
    val sectionNames = filter(split(col("prompt"), "\n"), l => l.startsWith("- "))
    val resumePart = element_at(split(col("prompt"), "JOB DESCRIPTION:"), 1)
    val promptTokens = array_distinct(split(regexp_replace(resumePart, "\n", " "), " "))
    val overlap = size(filter(promptTokens, t => t.isInCollection(jd)))
    prompts
      .withColumn("ov", EvalOnce(least(overlap, lit(10)).cast("string")))
      .withColumn("response", concat(lit("SCORES:\n"),
        concat_ws("\n", transform(sectionNames,
          l => concat(substring(l, 3, 1000), lit(": "), col("ov"))))))
      .drop("ov")
  }

  private def pages(docs: DataFrame): DataFrame =
    docs.select(col("file_name").as("doc_id"), lit(1).as("page_no"), col("text"))

  def setup(): Unit = ()

  def prepare(i: Int): Unit = {
    val r = Gen.resume(seed, i)
    val p = work.resolve("resumes").resolve(r.fileName)
    Files.createDirectories(p.getParent)
    Files.write(p, r.bytes)
    current = (p, r)
  }

  def serve(i: Int): Outcome = {
    val (path, r) = current
    val rows =
      if (!trace.enabled)
        Pipelines.matchSingle(pages(Sources.loadDocuments(spark, path.toString)),
          jdText, scorer).collect()
      else trace.span("request") {
        val docs = trace.span("sources") {
          val (d, _) = materialize(Sources.loadDocuments(spark, path.toString))
          trace.add("sources.bytes", Files.size(path).toDouble)
          d
        }
        trace.span("Pipelines") {
          val (concat, _) = materialize(Pipelines.concatPages(pages(docs), "doc_id", "page_no", "text"))
          val chunks = trace.span("SectionChunker") {
            val (ch, rows) = materialize(SectionChunker.chunkSections(concat, "text", "doc_id"))
            trace.add("SectionChunker.sections", rows.length)
            ch
          }
          val (prompts, _) = materialize(Pipelines.assembleScoringPrompts(chunks, jdText))
          val (responses, scored) = materialize(scorer(prompts)
            .withColumn("response", EvalOnce(col("response"))))
          trace.span("ScoreParser") {
            val (scores, parsed) = materialize(ScoreParser.parseScores(responses, "response", "doc_id"))
            trace.add("ScoreParser.scored", scored.length)
            trace.add("ScoreParser.parsed", parsed.map(_.getString(0)).distinct.length)
            ScoreParser.finalScores(scores, "doc_id").collect()
          }
        }
      }
    val ok = rows.length == 1 && rows(0).getString(0) == path.getFileName.toString &&
      rows(0).getDouble(1) == r.expectedScore
    if (!ok) System.err.println(s"check failed: ${r.fileName} expected ${r.expectedScore} got ${rows.toSeq}")
    Files.delete(path)
    Outcome(1, 1, if (ok) 0 else 1)
  }

  def finish(): (Outcome, Map[String, Double]) = (Outcome(0, 0, 0), Map.empty)
}

// ---------------------------------------------------------------------------

/** The vector corpus, probes, quantizer settings and the exact oracle of
  * [[AnnChurn]].
  */
object AnnChurn {
  /** Corpus rows staged before set-up (the base generation). */
  val BaseRows = 10000
  /** Leading ids that also form the quantizer training sample. */
  val TrainRows = 1024
  /** Near-neighbour groups of about a dozen vectors each. */
  val Groups: Long = BaseRows / 12L
  val Cells = 16
  val M = 4
  val SubDim: Int = Gen.Dim / M
  val CodeBook = 16
  val Iters = 1

  val schema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, containsNull = false))))

  /** Writes corpus ids [0, BaseRows) as parquet under `dir/corpus`, and
    * its first [[TrainRows]] ids under `dir/train`; generation runs in
    * Spark tasks.
    */
  def writeCorpus(spark: SparkSession, seed: Long, cores: Int, dir: Path): Unit = {
    def rows(until: Long) =
      spark.sparkContext.parallelize(0L until until, cores * 2).mapPartitions { ids =>
        val g = new Gen.Vectors(seed, Groups)
        ids.map(id => Row(id, g.vector(id).toSeq))
      }
    spark.createDataFrame(rows(BaseRows), schema).write.mode("overwrite").parquet(dir.resolve("corpus").toString)
    spark.createDataFrame(rows(TrainRows), schema).coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve("train").toString)
  }

  def sqL2(a: Array[Float], q: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - q(i).toDouble; acc += d * d; i += 1 }
    acc
  }

  /** Exact top-k ids by squared L2, ties to the lower id. */
  def exactTopK(ids: Array[Long], vecs: Array[Array[Float]], q: Array[Float], k: Int): Seq[Long] = {
    val heap = mutable.PriorityQueue[(Double, Long)]()
    var i = 0
    while (i < ids.length) {
      val d = sqL2(vecs(i), q)
      if (heap.size < k) heap.enqueue((d, ids(i)))
      else if (Ordering[(Double, Long)].lt((d, ids(i)), heap.head)) {
        heap.dequeue(); heap.enqueue((d, ids(i)))
      }
      i += 1
    }
    heap.toSeq.sorted.map(_._2)
  }

  /** Probe batch `b` as a (qid, v) frame of scaled-integer vectors. */
  def probeFrame(c: Ctx, g: Gen.Vectors, b: Long, q: Int): (DataFrame, Seq[Array[Float]]) = {
    val ps = (0 until q).map(j => g.probe(b, j))
    val raw = c.frame(ps.zipWithIndex.map { case (p, j) => Row(b * 1024 + j, p.toSeq) },
      StructType(Seq(StructField("qid", LongType), StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    (raw.select(col("qid"), KMeansOp.intVec(col("embedding")).as("v")), ps)
  }

  /** Set-up training on the staged sample: coarse IVF cells
    * (`KMeansOp`) and PQ codebooks (`ProductQuantizer`).
    */
  def train(c: Ctx): (Seq[(Long, Seq[Long])], Seq[Seq[(Long, Seq[Long])]]) = {
    val sample = c.spark.read.schema(schema).parquet(c.inputs.resolve("train").toString)
    val coarse = c.trace.span("KMeansOp.train") {
      KMeansOp.lloydCentroidsLocal(sample, "vec_id", col("embedding"), Cells, Iters)
    }
    val books = c.trace.span("ProductQuantizer.train") {
      ProductQuantizer.train(sample, "vec_id", col("embedding"), M, SubDim, CodeBook, Iters)
    }
    (coarse, books)
  }

  def recall(got: Seq[Long], exact: Seq[Long]): Double =
    got.toSet.intersect(exact.toSet).size.toDouble / exact.size
}

/** The bulk route on an index under churn: the IVFADC index (coarse
  * `KMeansOp` cells, `ProductQuantizer` codes) is the cell-partitioned
  * state `IndexStream` maintains. Set-up trains the quantizers and loads
  * the corpus as the base generation; each request commits one CDC
  * micro-batch (inserts, re-inserts, deletes) through
  * `IndexStream.processBatchCdc`, compacted by its `StreamState`
  * valve, then serves a batch
  * of shortlist probes top-10 from the committed state
  * (`ProductQuantizer.adcBatchServe` inside).
  */
final class AnnChurn(c: Ctx) extends Workload {
  import c._
  import AnnChurn._
  private val NProbe = 2
  private val Probes = 16
  private val TopK = 10
  private val RecallRequests = 3

  private val gen = new Gen.Vectors(seed, Groups)
  private val stream = new Gen.CdcStream(seed, BaseRows, inserts = 200, reinserts = 40, deletes = 100)
  private val stateDir = work.resolve("cdc_state")
  private var q: IndexStream.Quantizers = _
  private var batch: (DataFrame, Int, Map[Long, Int]) = _
  private var probes: (DataFrame, Seq[Array[Float]]) = _
  private val served = mutable.ArrayBuffer[(Seq[Array[Float]], Map[Long, Seq[Long]], Map[Long, Int])]()
  /** Compaction cadence, through the program's own valve: compact once
    * more than this many batches are committed, so every batch here.
    * The cadence that serves these 340-row batches fastest: at
    * `maintainCdc`'s default of 16 each uncompacted batch adds cell
    * partitions that every later commit and search lists and reads, and
    * a request takes about 1.5 times as long on average (README).
    */
  private val CompactEvery = 1

  private val cdcSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField(IndexStream.OpColumn, StringType)))

  def setup(): Unit = {
    val (coarse, books) = train(c)
    q = IndexStream.Quantizers(coarse, books, SubDim)
    val corpus = spark.read.schema(schema).parquet(inputs.resolve("corpus").toString)
    trace.span("IndexStream.load") {
      IndexStream.processBatchCdc(corpus.withColumn(IndexStream.OpColumn, lit("insert")), 0L, q,
        stateDir.toString)
    }
  }

  def prepare(i: Int): Unit = {
    val b = i + 1L
    val ops = stream.next(b)
    val rows = ops.map { case (id, v, op) => Row(id, gen.vector(id, v).toSeq, op) }
    val live = if (served.size < RecallRequests)
      stream.live.iterator.map(id => id -> stream.versions(id)).toMap
    else stream.live.iterator.map(_ -> 0).toMap
    batch = (frame(rows, cdcSchema), ops.size, live)
    probes = probeFrame(c, gen, b, Probes)
  }

  def serve(i: Int): Outcome = {
    val b = i + 1L
    val (ops, nOps, live) = batch
    val (frame, raw) = probes
    var writeMs = 0.0
    val rows = trace.span("request") {
      val t0 = System.nanoTime()
      if (!trace.enabled)
        IndexStream.processBatchCdc(ops, b, q, stateDir.toString, CompactEvery)
      else {
        // processBatchCdc's two steps: the commit, then its compaction
        // valve (StreamState.maybeCompact, not public: the same test on
        // the committed markers, then the same resolving compaction)
        trace.span("IndexStream.commit") {
          IndexStream.processBatchCdc(ops, b, q, stateDir.toString)
        }
        trace.span("StreamState.compact") {
          if (fileCount(stateDir.resolve("_committed")) > CompactEvery)
            IndexStream.compactStateCdcResolve(spark, stateDir.toString, q.m)
        }
      }
      writeMs = (System.nanoTime() - t0) / 1e6
      trace.span("IndexStream.search") {
        IndexStream.searchCommittedBatchCdc(spark, stateDir.toString, q, frame, NProbe, TopK).collect()
      }
    }
    val byQid = rows.groupBy(_.getLong(0)).map { case (qid, rs) =>
      (qid - b * 1024) -> rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
    val stale = rows.map(_.getLong(2)).filterNot(live.contains)
    val ok = stale.isEmpty && byQid.size == Probes &&
      byQid.values.forall(ids => ids.size == TopK && ids.distinct.size == TopK)
    if (!ok) System.err.println(s"check failed: batch $b served ${stale.length} deleted ids, ${byQid.size} probes")
    if (served.size < RecallRequests) served += ((raw, byQid, live))
    if (trace.enabled) {
      val root = stateDir
      // what an exact scan of the probe batch would score
      trace.add("ProductQuantizer.exact_rows", Probes.toDouble * live.size)
      trace.add("IndexStream.rows_applied", nOps)
      trace.add("IndexStream.files_written",
        fileCount(root.resolve("codes").resolve(s"batch_id=$b")) +
          fileCount(root.resolve("tombs").resolve(s"batch_id=$b")))
      trace.add("StreamState.state_bytes", dirBytes(root).toDouble)
      trace.add("StreamState.committed_batches", fileCount(root.resolve("_committed")).toDouble)
    }
    Outcome(nOps, 1, if (ok) 0 else 1, writeMs)
  }

  /** The serving figures the program's own plans report: candidate rows
    * the cell join of `adcBatchServe` emits (one per probe and code row
    * in its probed cells), cell partitions the code scan reads, rows
    * read from storage; and the exact route's time on the same probes.
    */
  override def traced(): Map[String, Double] = {
    val scored = trace.planMetric("IndexStream.search", "numOutputRows") {
      case j: BroadcastHashJoinExec =>
        (j.leftKeys ++ j.rightKeys).forall(_.references.map(_.name).toSet == Set("cell"))
      case _ => false
    }
    val partitions = trace.planMetric("IndexStream.search", "numPartitions") {
      case s: FileSourceScanExec => s.relation.partitionSchema.fieldNames.contains("cell")
      case _ => false
    }
    val exact = trace.counter("ProductQuantizer.exact_rows")
    Map(
      "ProductQuantizer.rows_scored" -> scored,
      "ProductQuantizer.cells_probed" -> partitions,
      "ProductQuantizer.rows_read" -> trace.recordsRead("IndexStream.search"),
      "ProductQuantizer.scan_fraction" -> (if (exact > 0) scored / exact else 0.0),
      "Pipelines.exact_scan_ms" -> exactScanMs())
  }

  private def corpusResumes: DataFrame =
    spark.read.schema(schema).parquet(inputs.resolve("corpus").toString)
      .select(format_string("vec_%06d", col("vec_id")).as("file_name"),
        concat(lit("doc "), col("vec_id").cast("string")).as("content"), col("embedding"))

  /** The exact route on the last request's probe batch: one query over
    * the staged corpus, a `Pipelines.shortlist` branch per probe, after
    * one warm-up; the median of three.
    */
  private def exactScanMs(): Double = {
    val resumes = corpusResumes
    val (_, raw) = probes
    def once(): Double = {
      val t0 = System.nanoTime()
      raw.map(p => Pipelines.shortlist(resumes, p.map(_.toDouble).toSeq, TopK)).reduce(_ union _).collect()
      (System.nanoTime() - t0) / 1e6
    }
    once()
    Seq.fill(3)(once()).sorted.apply(1)
  }

  def finish(): (Outcome, Map[String, Double]) = {
    val liveIndexed = IndexStream.liveCodes(spark, stateDir.toString, q.m).select("vec_id")
      .collect().map(_.getLong(0))
    val want = stream.live.toSet
    val liveOk = liveIndexed.length == want.size && liveIndexed.toSet == want
    if (!liveOk) System.err.println(s"check failed: ${liveIndexed.length} live rows indexed, generator has ${want.size}")
    val recalls = served.toSeq.flatMap { case (raw, byQid, live) =>
      val ids = live.keys.toArray.sorted
      val vecs = ids.map(id => gen.vector(id, live(id)))
      raw.zipWithIndex.map { case (p, j) =>
        recall(byQid.getOrElse(j.toLong, Nil), exactTopK(ids, vecs, p, TopK))
      }
    }
    // Pipelines.shortlist (the exact route) over the staged corpus must
    // equal the brute-force scan
    val ids = (0L until BaseRows.toLong).toArray
    val vecs = ids.map(gen.vector(_))
    val resumes = corpusResumes
    val p = gen.probe(1L << 20, 0)
    val got = Pipelines.shortlist(resumes, p.map(_.toDouble).toSeq, TopK).collect().map(_.getString(0)).toSeq
    val exact = exactTopK(ids, vecs, p, TopK).map(id => f"vec_$id%06d")
    if (got != exact) System.err.println(s"check failed: shortlist $got != brute force $exact")
    (Outcome(0, 2, (if (liveOk) 0 else 1) + (if (got == exact) 0 else 1)), Map(
      "recall_at_10" -> recalls.sum / recalls.size,
      "index_bytes_per_vector" -> dirBytes(stateDir).toDouble / want.size))
  }
}

// ---------------------------------------------------------------------------

/** Corpus curation: each request is one document shard through
  * `Curation.curate`, then token-set clustering
  * (`Dedup.componentEdgesBySet` → `ConnectedComponents.assignAdaptive`)
  * and `BpeTokenizer` token counts, written to a `noop` sink.
  */
final class Curate(c: Ctx) extends Workload {
  import c._
  private val ShardDocs = 400
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType), StructField("text", StringType)))
  private var merges: Seq[(String, String)] = Nil
  private var current: (Path, Gen.Shard) = _
  private val KeepLangs = Seq("en")
  private val MinQuality = 0.35
  /** Survivors of the traced request's copy of `Curation.curate`. */
  private var copyKept: Option[Set[Long]] = None

  private def writeShard(i: Long, docs: Int = ShardDocs): (Path, Gen.Shard) = {
    val s = Gen.shard(seed, i, docs)
    val p = work.resolve("shards").resolve(s"shard_$i.jsonl")
    Files.createDirectories(p.getParent)
    Files.write(p, Gen.jsonl(s))
    (p, s)
  }

  private def read(p: Path): DataFrame = Sources.readJsonl(spark, p.toString, docSchema, "FAILFAST")

  def setup(): Unit = {
    // the tokenizer's merge table is a derived build over a training shard
    val (p, _) = staging(writeShard(1L << 20, 120))
    merges = trace.span("BpeTrainer.train") {
      BpeTrainer.train(BpeTrainer.weightedVocab(read(p), col("text")), rounds = 6)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    }
  }

  def prepare(i: Int): Unit = current = writeShard(i)

  private def tokenSets(docs: DataFrame): DataFrame =
    docs.select(col("source").as("block"), col("doc_id").as("id"),
      array_sort(array_distinct(transform(TA.tokens(col("text")), t => TA.md5Hash60(t)))).as("items"))

  private def clusters(survivors: DataFrame, edges: DataFrame): DataFrame =
    ConnectedComponents.assignAdaptive(survivors.select(col("doc_id").as("id")), edges,
      checkpointDir = sys.env.get("SPARK_GRAFT_CKPT_DIR"))

  private def output(survivors: DataFrame, labels: DataFrame, tokens: DataFrame): DataFrame =
    survivors.select("doc_id", "lang_pred", "quality")
      .join(labels.select(col("id").as("doc_id"), col("cluster_id")), "doc_id")
      .join(tokens, "doc_id")

  def serve(i: Int): Outcome = {
    val (path, shard) = current
    val members = shard.dupGroups.flatten
    // checks ride the sink write as observed metrics: no extra job
    val obs = Observation(s"chk$i")
    val isMember = col("doc_id").isin(members: _*)
    def sink(out: DataFrame): Unit =
      out.observe(obs, count(lit(1)).as("n"), size(collect_set(col("doc_id"))).as("nd"),
          sum(when(isMember, 1L).otherwise(0L)).as("nm"),
          sum(when(isMember, col("doc_id")).otherwise(0L)).as("sm"))
        .write.format("noop").mode("overwrite").save()
    trace.span("request") {
      if (!trace.enabled) {
        val docs = read(path)
        val kept = Curation.curate(docs, "doc_id", "text", KeepLangs, MinQuality)
        // three consumers read the survivors: pin them once, as a caller would
        val survivors = docs.join(kept, "doc_id").localCheckpoint()
        sink(output(survivors, clusters(survivors, Dedup.componentEdgesBySet(tokenSets(survivors), 0.9)),
          survivors.select(col("doc_id"), BpeCount(col("text"), merges).as("tokens"))))
      } else {
        val docs = trace.span("sources") {
          trace.add("sources.bytes", Files.size(path).toDouble)
          materialize(read(path))._1
        }
        val ids = docs.select(col("doc_id"), col("text"))
        // Curation.curate's stages, in its order, each materialized: a
        // copy of its body that must follow it when it changes (`after`
        // checks that both keep the same ids)
        val exactKept = trace.span("Dedup.exact") {
          val canonical = ids.groupBy(md5(col("text").cast("binary")).as("h"))
            .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
          materialize(ids.join(canonical, Seq("doc_id"), "left_semi"))._1
        }
        val sets = Dedup.hashedSets(exactKept, "doc_id", TA.shingles(col("text"), 3))
        val (nearKept, verified) = trace.span("Dedup.minhash") {
          val (pairs, verified) = materialize(Dedup.minhashNearDupFromSets(sets, 4, 3, 0.5))
          val drops = pairs.select(col("id_b").as("doc_id")).distinct()
          (materialize(exactKept.join(drops, Seq("doc_id"), "left_anti")), verified)
        }
        val banded = Dedup.bandTable(sets, 4, 3)
        val candidates = banded.select(col("bkey"), col("id").as("a"))
          .join(banded.select(col("bkey"), col("id").as("b")), "bkey")
          .where(col("a") < col("b")).select("a", "b").distinct()
          .agg(count(lit(1))).collect()(0).getLong(0)
        trace.add("Dedup.candidate_pairs", candidates)
        trace.add("Dedup.verified_pairs", verified.length)
        val (gateIn, inRows) = nearKept
        trace.add("TextAnalysis.gate_in", inRows.length)
        val (kept, keptRows) = trace.span("TextAnalysis.gate") {
          materialize(gateIn
            .withColumn("lang_pred", TA.langId(col("text")))
            .withColumn("quality", TA.qualityScore(col("text")))
            .where(col("lang_pred").isInCollection(KeepLangs) && col("quality") >= MinQuality)
            .select(col("doc_id"), col("lang_pred"), col("quality")))
        }
        trace.add("TextAnalysis.kept", keptRows.length)
        copyKept = Some(keptRows.map(_.getLong(0)).toSet)
        val survivors = materialize(docs.join(kept, "doc_id"))._1
        val (edges, edgeRows) = trace.span("Dedup.edges") {
          materialize(Dedup.componentEdgesBySet(tokenSets(survivors), 0.9))
        }
        trace.add("ConnectedComponents.edges_in", edgeRows.length)
        val labels = trace.span("ConnectedComponents")(materialize(clusters(survivors, edges))._1)
        val tokens = trace.span("BpeTokenizer.encode") {
          val (t, rows) = materialize(survivors.select(col("doc_id"), BpeCount(col("text"), merges).as("tokens")))
          trace.add("BpeTokenizer.tokens", rows.map(_.getLong(1)).sum.toDouble)
          t
        }
        sink(output(survivors, labels, tokens))
      }
    }
    val m = obs.get
    val n = m("n").asInstanceOf[Long]
    val nd = m("nd").asInstanceOf[Int].toLong
    val nm = m("nm").asInstanceOf[Long]
    val sm = m("sm").asInstanceOf[Long]
    val wantSm = shard.dupGroups.map(_.min).sum
    val ok = n == nd && nm == shard.dupGroups.size && sm == wantSm && n > 0
    if (!ok) System.err.println(s"check failed: shard $i rows=$n distinct=$nd dup survivors=$nm/${shard.dupGroups.size}")
    Outcome(ShardDocs, 1, if (ok) 0 else 1)
  }

  /** After a traced request: the traced copy of `Curation.curate`'s
    * stages must keep exactly the ids `Curation.curate` keeps.
    */
  override def after(i: Int): Outcome = {
    val (path, _) = current
    try copyKept match {
      case Some(mine) =>
        copyKept = None
        val theirs = Curation.curate(read(path), "doc_id", "text", KeepLangs, MinQuality)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        if (mine != theirs)
          System.err.println(s"check failed: shard $i traced stages kept ${mine.size} ids, Curation.curate ${theirs.size}")
        Outcome(0, 1, if (mine == theirs) 0 else 1)
      case None => Outcome(0, 0, 0)
    } finally Files.delete(path)
  }

  def finish(): (Outcome, Map[String, Double]) = (Outcome(0, 0, 0), Map.empty)
}
