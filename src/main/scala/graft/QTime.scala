package graft

/** One-off per-query timer for local iteration: runs the named queries
  * N times each against a dir and prints min/median wall seconds.
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val reps = args(1).toInt
    val names = args.drop(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Bench.localSession(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names) {
      val ts = (1 to reps)
        .map(_ => ScaleProbe.noopSecs(SparkEntry.queries(n)(spark, d))).sorted
      println(f"QTIME $n min=${ts.head}%.3f med=${ts(ts.size / 2)}%.3f")
    }
    spark.stop()
  }
}
