package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The benchmark's JVM side. One process runs one of:
  *
  *  - `run`: set-up, warm-up, the timed closed loop, output checks;
  *  - `dump`: writes a seed's generated inputs as files, for the
  *    determinism test.
  *
  * Results go to `--out` as JSON; `run.py` turns them into metrics.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = a("seed").toLong
    val out = Paths.get(a("out"))
    if (a("mode") == "dump") { dump(seed, out); return }
    val workload = a("workload")
    val cores = a("cores").toInt
    val root = Paths.get(a("work"))
    val traced = a("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = jvmUptimeS()
    try {
      val inputs = root.resolve("inputs")
      if (workload == "ann_churn") AnnChurn.writeCorpus(spark, seed, cores, inputs)
      val trace = new Trace(spark, traced)
      // one set-up per JVM, into a fresh artifact root: `setup_s` is a
      // cold figure, and its spread is across runs
      val work = root.resolve("setup")
      Files.createDirectories(work.resolve("tmp"))
      System.setProperty("java.io.tmpdir", work.resolve("tmp").toString)
      val ctx = new Ctx(spark, trace, seed, inputs, work, cores)
      val w = make(workload, ctx)
      val t0 = System.nanoTime()
      w.setup()
      val buildS = (System.nanoTime() - t0 - ctx.stagingNs) / 1e9
      trace.setupDone()
      write(out, run(spark, w, trace, sessionS, buildS, a("seconds").toDouble))
    } finally spark.stop()
  }

  /** Fewest requests a timed loop makes, however long they take. */
  val MinRequests = 2

  def make(workload: String, c: Ctx): Workload = workload match {
    case "match_single" => new MatchSingle(c)
    case "ann_churn" => new AnnChurn(c)
    case "curate" => new Curate(c)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def jvmUptimeS(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Peak resident set of this JVM in MiB (Linux `VmHWM`). */
  private def peakRssMb(): Double =
    scala.util.Try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)

  /** Heap still reachable right after a full collection, in MiB. Spark's
    * `ContextCleaner` frees the blocks of unreachable shuffles and
    * broadcasts only after a collection has found them, so collect,
    * give it half a second, then collect again and read.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private final class Phase {
    val latencies = mutable.ArrayBuffer[Double]()
    val writes = mutable.ArrayBuffer[Double]()
    var items = 0L
    def json: String = Json.obj("latencies_ms" -> latencies.toSeq, "write_ms" -> writes.toSeq,
      "items" -> items)
  }

  /** Warm-up, then closed loops of one client: the untraced loop, and in
    * a traced run a second, traced loop. Each loop runs for its share of
    * `seconds`; only `serve` is inside the request clock.
    */
  private def run(spark: SparkSession, w: Workload, trace: Trace, sessionS: Double,
      buildS: Double, seconds: Double): String = {
    var attempted = 0L; var failed = 0L; var next = 0
    val sc = spark.sparkContext
    def one(p: Phase): Unit = {
      w.prepare(next)
      val pinned = sc.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      val o = try w.serve(next) catch {
        case e: Exception =>
          System.err.println(s"request $next failed: $e"); e.printStackTrace()
          Outcome(0, 1, 1)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      System.err.println(f"perfbench: request $next%d ${if (p == null) "unreported" else "timed"} $ms%.0f ms")
      // drop what the request pinned, so requests do not accumulate cache
      sc.getPersistentRDDs.foreach { case (id, rdd) => if (!pinned(id)) rdd.unpersist(blocking = true) }
      trace.requestDone()
      val checked = try w.after(next) catch {
        case e: Exception =>
          System.err.println(s"request $next check failed: $e"); e.printStackTrace()
          Outcome(0, 1, 1)
      }
      next += 1; attempted += o.checks + checked.checks; failed += o.failed + checked.failed
      if (p != null) { p.latencies += ms; p.items += o.items; if (o.writeMs > 0) p.writes += o.writeMs }
    }
    def loop(p: Phase, budget: Double): Unit = {
      val end = System.nanoTime() + (budget * 1e9).toLong
      while (System.nanoTime() < end || p.latencies.size < MinRequests) one(p)
    }
    val traced = trace.enabled
    trace.enabled = false
    // latencies keep falling for several seconds after the first request
    // (JIT, codegen caches), so warm-up runs for half the timed window
    val warm = System.nanoTime() + (seconds * 0.5 * 1e9).toLong
    while (System.nanoTime() < warm || next < 1) one(null)
    val plain = new Phase
    val tracedPhase = new Phase
    loop(plain, if (traced) seconds / 2 else seconds)
    val loopHeapMb = liveHeapMb()
    if (traced) {
      trace.enabled = true
      one(null) // the split-up traced plans warm up too
      trace.reset()
      loop(tracedPhase, seconds / 2)
      trace.enabled = false
    }
    val rss = peakRssMb()
    val layers = if (traced) trace.report() ++ w.traced() else Map.empty[String, Double]
    val (fin, figures) = try w.finish() catch {
      case e: Exception =>
        System.err.println(s"end-of-run checks failed: $e"); e.printStackTrace()
        (Outcome(0, 1, 1), Map.empty[String, Double])
    }
    attempted += fin.checks; failed += fin.failed
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filterNot { case (k, _) => k.startsWith("spark.app.") || k == "spark.driver.port" }
    Json.obj(
      "session_s" -> sessionS,
      "build_s" -> buildS,
      "attempted" -> attempted,
      "failed" -> failed,
      "untraced" -> Json.Raw(plain.json),
      "traced" -> Json.Raw(tracedPhase.json),
      "peak_rss_mb" -> rss,
      "live_heap_mb" -> loopHeapMb,
      "figures" -> Json.Raw(Json.obj(figures.toSeq: _*)),
      "layers" -> Json.Raw(Json.obj(layers.toSeq: _*)),
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "spark_conf" -> Json.Raw(Json.obj(conf: _*)))
  }

  private def write(p: Path, s: String): Unit = Files.write(p, s.getBytes(UTF_8))

  /** Every kind of generated input for `seed`, as files under `dir`. */
  private def dump(seed: Long, dir: Path): Unit = {
    Files.createDirectories(dir)
    (0 until 12).foreach { i =>
      val r = Gen.resume(seed, i)
      Files.write(dir.resolve(r.fileName), r.bytes)
      Files.write(dir.resolve(r.fileName + ".expected"), r.expectedScore.toString.getBytes(UTF_8))
    }
    val g = new Gen.Vectors(seed, 17)
    val vecs = new StringBuilder
    (0L until 200L).foreach(id => vecs ++= g.vector(id).mkString(id + " ", " ", "\n"))
    (0 until 8).foreach(j => vecs ++= g.probe(0L, j).mkString("probe ", " ", "\n"))
    Files.write(dir.resolve("vectors.txt"), vecs.toString.getBytes(UTF_8))
    val cdc = new Gen.CdcStream(seed, 1000, 50, 10, 20)
    val ops = (1L to 4L).flatMap(b => cdc.next(b).map { case (id, v, op) =>
      s"$b $id $op ${g.vector(id, v).take(4).mkString(" ")}" })
    Files.write(dir.resolve("cdc.txt"), ops.mkString("\n").getBytes(UTF_8))
    (0L until 2L).foreach { i =>
      val s = Gen.shard(seed, i, 300)
      Files.write(dir.resolve(s"shard_$i.jsonl"), Gen.jsonl(s))
      Files.write(dir.resolve(s"shard_$i.groups"), s.dupGroups.map(_.mkString(" ")).mkString("\n").getBytes(UTF_8))
    }
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  final case class Raw(s: String)

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
