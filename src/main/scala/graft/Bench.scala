package graft
import graft.operators.Encoding
import org.apache.spark.sql.SparkSession
object Bench {
  private def jstr(s: String): String = Jsons.escape(s)

  /** Per-query SEMANTIC versions: bumped when a query's workload changes
    * (different computation, not a faster implementation), so a
    * round-over-round per-query comparison can detect that it is
    * comparing different work — bench_schema only versions the envelope
    * semantics, not individual queries. Unlisted queries are version 1.
    */
  private val queryVersions: Map[String, Int] = Map(
    // round 7: saturated unigram curve → 3-gram types per 20-doc bucket.
    // v3 (r21) RECORDS the r20 contract edit the r20 verdict flagged as
    // un-bumped: type identity rides the 60-bit md5 gram hash in BOTH
    // engines (collision-bound adjudication in BASELINE.md — expected
    // undercount V²/2^61 types, ~0.4 of 1e9 at 100 TB vocabularies).
    "q_vocab_growth" -> 3,
    // round 8: raw MLlib LSH rows → exact-top-k envelope + recall_ok
    "q_lsh_brp_topk" -> 2,
  )

  /** Run each named step once, in order, timing it: the one loop that
    * stamps `derivations_sec` in Bench and both scale probes (each
    * caller keeps its own step list). A failing step is recorded with
    * its exception for the artifact's `derivation_errors` block, never
    * swallowed; the remaining steps still run.
    */
  private[graft] def timeSteps(steps: Seq[(String, () => Unit)])
      : (Seq[(String, Double)], Seq[(String, Throwable)]) = {
    val errors = Seq.newBuilder[(String, Throwable)]
    val secs = steps.map { case (n, f) =>
      val t0 = System.nanoTime()
      try f() catch { case scala.util.control.NonFatal(e) => errors += n -> e }
      n -> (System.nanoTime() - t0) / 1e9
    }
    (secs, errors.result())
  }

  /** The artifact block of [[timeSteps]] results:
    * `"derivations_sec":{…},"derivation_errors":[…]`. */
  private[graft] def derivationsJson(secs: Seq[(String, Double)],
      errors: Seq[(String, Throwable)]): String =
    s""""derivations_sec":${secs.map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")},""" +
      s""""derivation_errors":${Jsons.failures("name", errors)}"""

  /** Warm-up steps `warm.<table>.<tag>`: one `limit(1).count()` per
    * table of each tagged dir (codegen compiler, parquet footer reads,
    * shuffle machinery), so the first measured query isn't charged for
    * JVM startup; a failure lands in `derivation_errors`.
    */
  private[graft] def warmSteps(spark: SparkSession, dirs: Seq[(String, String)],
      tables: Seq[String]): Seq[(String, () => Unit)] =
    for ((tag, d) <- dirs; t <- tables) yield
      (s"warm.$t.$tag" -> (() => {
        // events needs its dedicated reader (TIMESTAMP(NANOS) legacy conf)
        val df = if (t == "events") Tables.events(spark, d) else Tables.table(spark, d, t)
        df.limit(1).count(); ()
      }))

  /** The local session every harness main runs on: `cpus` cores and
    * shuffle partitions, UTC, no UI, WARN logging. */
  private[graft] def localSession(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** 1-minute load average from /proc/loadavg (-1 when unreadable). */
  private def loadAvg1(): Double =
    try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")))
      .split("\\s+")(0).toDouble
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** Write the bench artifact to `path`. Best-effort — an unwritable
    * target must not fail the bench — but never silent: a failed write
    * prints one stderr line with the path and the cause.
    */
  private[graft] def writeArtifact(path: String, json: String): Unit =
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json + "\n")
    catch {
      case scala.util.control.NonFatal(e) =>
        Console.err.println(
          s"[bench] could not write $path: ${e.getClass.getName}: ${e.getMessage}")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Self-defending capture (three rounds of driver benches ran on a
    // loaded host and overstated cost 1.26-1.38x): sample the host load
    // BEFORE Spark spins up (our own contribution is ~0 here), and if
    // another workload is hammering the box, defer up to
    // SPARK_GRAFT_LOAD_RETRIES times (default 2 × 60 s) for it to
    // drain. Whatever happens is RECORDED in the artifact —
    // "load_avg" + "loaded" — so a consumer can see a hot capture
    // instead of inferring it from a separate quiet run.
    val loadMax = sys.env.getOrElse("SPARK_GRAFT_LOAD_MAX",
      (cpus.toInt / 4.0).max(2.0).toString).toDouble
    val loadRetries = sys.env.getOrElse("SPARK_GRAFT_LOAD_RETRIES", "2").toInt
    var loadDeferredSec = 0
    var load = loadAvg1()
    var retriesLeft = loadRetries
    while (load > loadMax && retriesLeft > 0) {
      Thread.sleep(60_000)
      loadDeferredSec += 60
      retriesLeft -= 1
      load = loadAvg1()
    }
    val loaded = load > loadMax
    val spark = localSession(cpus)
    // No args (driver mode): run everything. With args: run only the named
    // queries and dump their formatted plans (local profiling aid).
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => args.contains(k) }
    if (args.nonEmpty) selected.foreach { case (name, fn) =>
      println(s"===== $name ====="); fn(spark, sfDir).explain("formatted")
    }
    val (_, warmErrors) = timeSteps(warmSteps(spark, Seq("sf" -> sfDir), Tables.names))
    // Shared fact derivations (the canon dedup-assignment table, the
    // token/shingle signature tables, the trade-edge fact, the quantizer
    // fits, the persisted indexes) are session-cached, so the per-query times below
    // measure MARGINAL cost after they materialize — the production
    // shape, but one a cache-semantics change could hide behind. Build
    // each one explicitly here and stamp its wall time into the
    // artifact ("derivations_sec"), so a regression in a shared
    // derivation is always visible in the bench output itself.
    val derivationBuilds: Seq[(String, () => Unit)] = Seq(
      "canon_ids" -> (() => { queries.Clustering.canonIds(spark, sfDir).count(); () }),
      "token_sets" -> (() => { queries.Analysis.tokenSets(spark, sfDir).count(); () }),
      "shingle_sets" -> (() => { queries.Analysis.shingleSets(spark, sfDir).count(); () }),
      "trade_edges" -> (() => { queries.GraphQ.tradeEdges(spark, sfDir).count(); () }),
      "quantizer_fixed_k" -> (() => { queries.SemanticQ.trainedCentroids(spark, sfDir); () }),
      "quantizer_sqrt_n" -> (() => { queries.SemanticQ.scaledCentroids(spark, sfDir); () }),
      "quantizer_sqrt_n_sampled" -> (() => { queries.SemanticQ.sampledCentroids(spark, sfDir); () }),
      "pq_codebooks" -> (() => { queries.SemanticQ.quantizers(spark, sfDir, Encoding.Pq); () }),
      "res_codebooks" -> (() => { queries.SemanticQ.quantizers(spark, sfDir, Encoding.ResidualPq); () }),
      "opq_books" -> (() => { queries.SemanticQ.quantizers(spark, sfDir, Encoding.Opq); () }),
      "bpe_merges" -> (() => { queries.Analysis.cachedMergeSchedule(spark, sfDir); () }),
      "bigram_mult" -> (() => { queries.Retrieval.bigramDocMult(spark, sfDir).count(); () }),
      "bigram_score" -> (() => { queries.Retrieval.bigramScore(spark, sfDir).count(); () }),
      // the persisted serving artifacts: one-time content-addressed
      // index writes the partitioned tiers then serve from, and the CDC
      // lifecycle fixture the recall monitor reads
      "ivfpq_part_index" -> (() => { queries.SemanticQ.indexPath(spark, sfDir, Encoding.Pq); () }),
      "ivfpqres_part_index" -> (() => { queries.SemanticQ.indexPath(spark, sfDir, Encoding.ResidualPq); () }),
      "ivfsq8_index" -> (() => { queries.SemanticQ.indexPath(spark, sfDir, Encoding.Sq8); () }),
      "sq8dim_index" -> (() => { queries.SemanticQ.indexPath(spark, sfDir, Encoding.Sq8Dim); () }),
      "ivfopq_part_index" -> (() => { queries.SemanticQ.indexPath(spark, sfDir, Encoding.Opq); () }),
      "cdc_lifecycle" -> (() => { queries.SemanticQ.cdcLifecycleDir(spark, sfDir, Encoding.Pq); () }),
      "cdc_lifecycle_sq8" -> (() => { queries.SemanticQ.cdcLifecycleDir(spark, sfDir, Encoding.Sq8); () }),
      "cdc_lifecycle_sq8dim" -> (() => { queries.SemanticQ.cdcLifecycleDir(spark, sfDir, Encoding.Sq8Dim); () }),
      "cdc_lifecycle_opq" -> (() => { queries.SemanticQ.cdcLifecycleDir(spark, sfDir, Encoding.Opq); () }),
    )
    val (derivSecs, derivErrors) = timeSteps(derivationBuilds)
    // Best-of-N timing (round 5's single-shot numbers were unusable: a
    // host stall window recorded 20-160x "regressions" on unchanged
    // code). N full passes over the query list — interleaved, so one
    // contiguous stall window lands on DIFFERENT queries each pass and
    // the per-query min stays clean — then report {min, median} per
    // query. A query that throws keeps its elapsed time but is listed in
    // "errors" and skipped in later passes — a regression can't
    // masquerade as a speedup.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val names = selected.keys.toSeq.sorted
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
    val errors = scala.collection.mutable.Map.empty[String, String]
    for (_ <- 1 to reps; name <- names if !errors.contains(name)) {
      val t0 = System.nanoTime()
      try { selected(name)(spark, sfDir).count() }
      catch { case e: Throwable =>
        errors(name) = e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("").take(160)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      times(name) = dt :: times.getOrElse(name, Nil)
    }
    def median(xs: List[Double]): Double = {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val mins = names.map(n => n -> times(n).min)
    val meds = names.map(n => n -> median(times(n)))
    def jmap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val errs = names.flatMap(n => errors.get(n).map(m => jstr(n) + ":" + jstr(m)))
      .mkString("{", ",", "}")
    val minTotal = mins.map(_._2).sum
    val medTotal = meds.map(_._2).sum
    // "queries"/"value" carry the min (the host-noise-free envelope, what
    // the gate should track); medians and the raw first pass ride along
    // so a reader can still see the single-shot behavior.
    val firsts = names.map(n => n -> times(n).last)
    // bench_schema 2 = best-of-N envelope ("value"/"queries" carry per-query
    // minima); schema 1 (rounds 1-5) carried a single measured pass — the
    // marker keeps consumers from silently comparing the two semantics.
    val qvers = queryVersions.filter { case (k, _) => names.contains(k) }
      .toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val json =
      s"""{"bench_schema":2,"metric":"total","value":$minTotal,"unit":"sec","queries":${jmap(mins)},""" +
        s""""queries_median":${jmap(meds)},"queries_first":${jmap(firsts)},""" +
        s""""median_total":$medTotal,"first_total":${firsts.map(_._2).sum},""" +
        s""""query_versions":$qvers,""" +
        derivationsJson(derivSecs, warmErrors ++ derivErrors) + "," +
        s""""load_avg":$load,"load_max":$loadMax,"loaded":$loaded,""" +
        s""""load_deferred_sec":$loadDeferredSec,""" +
        s""""reps":$reps,"errors":$errs,"failed":${errors.size},"sf":${jstr(sfDir)}}"""
    // Unconditional file sink (ADVICE r13: the driver's captured artifact
    // truncates the stdout line to a 2000-char tail, leaving no
    // machine-readable per-query timings) — the full JSON always lands in
    // BENCH_LAST.json (or SPARK_GRAFT_BENCH_OUT) next to the repo, so
    // medians/derivation tooling reads structure, not a tail string.
    // Default path is anchored to the enclosing sbt project root (walk
    // up from user.dir to the nearest build.sbt), not the bare cwd — a
    // bench launched from a scratch directory must not silently drop
    // the artifact or litter an unrelated directory.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", {
      val cwd = java.nio.file.Paths.get(sys.props("user.dir")).toAbsolutePath
      Iterator.iterate(cwd)(_.getParent).takeWhile(_ != null).take(8)
        .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
        .getOrElse(cwd).resolve("BENCH_LAST.json").toString
    })
    writeArtifact(outPath, json)
    // Stdout for the driver — printed LAST, after the session is fully
    // stopped with logging silenced, so no shutdown WARN line can trail
    // the JSON (r1's driver parse failed on exactly that).
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(json)
  }
}
