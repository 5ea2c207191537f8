package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/check.py`). Each
  * query's output dir is cleared before it runs, every failure is
  * recorded in failures.json (query, class, message and cause chain),
  * and the run exits 1 when any query failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional third arg: comma-separated query-name filter (local
    // iteration aid; the driver always runs the full set).
    val only: Option[Set[String]] =
      args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape (shared Jsons.escape): a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load
    // fail and silently zero the round's correctness.
    def q(s: String): String = Jsons.escape(s)
    val failures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        // a failed query must never pass on an earlier run's dump
        rmrf(Paths.get(outDir, name))
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> e)
        }
      }
    val failuresJson = failures.map { case (name, e) =>
      val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .drop(1).map(c => s"{${q("class")}: ${q(c.getClass.getName)}, " +
          s"${q("message")}: ${q(String.valueOf(c.getMessage))}}")
      s"{${q("query")}: ${q(name)}, ${q("class")}: ${q(e.getClass.getName)}, " +
        s"${q("message")}: ${q(String.valueOf(e.getMessage))}, " +
        s"${q("causes")}: ${chain.mkString("[", ",", "]")}}"
    }.mkString("[", ",\n", "]")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failuresJson)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} queries failed: " +
        s"${failures.map(_._1).mkString(", ")} (see $outDir/failures.json)")
      sys.exit(1)
    }
  }

  private def rmrf(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val paths = Files.walk(p)
      try paths.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(x => Files.delete(x))
      finally paths.close()
    }
}
