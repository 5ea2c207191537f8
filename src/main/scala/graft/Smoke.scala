package graft

/** Local stand-in for the driver's t1 smoke: SparkEntry.entry rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Bench.localSession("4")
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY_ROWS=$n")
    assert(n > 0, "entry must return >0 rows")
    spark.stop()
  }
}
