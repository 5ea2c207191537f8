package graft

import org.apache.spark.sql.functions._

/** Skew probe for the gram-partitioned windows the r20 rewrites
  * introduced (q_dup_gram_ppm, q_decontaminate) and the r21
  * q_repeated_spans candidate: a `count(*) over (partition by gh)`
  * ships every occurrence row of a hot gram to ONE task with no
  * map-side partial aggregation and no AQE skew splitting (AQE splits
  * joins, not windows), so the question the r20 verdict left open is
  * whether the hottest gram's occurrence count grows with corpus size
  * (straggler at 100 TB — revert to aggregate+join) or stays bounded
  * by the duplicate-cluster size (constant share of a shrinking
  * fraction — window is safe).
  *
  * Measures, per dataset (base sf0.1 + the 10x ScaleProbe corpus):
  * for each gram relation (8-gram dup_gram_ppm grain, 13-gram
  * decontaminate grain, 8-gram positioned repeated-spans grain):
  *   - total occurrence rows,
  *   - max rows of any single gh (the one-task mass a window implies),
  *   - rows of the hottest HASH PARTITION at the session shuffle
  *     partitioning (what a window task actually receives),
  *     vs the mean partition — the straggler ratio.
  *
  * Usage: runMain graft.GramSkewProbe [baseDir] [sf1Dir]
  * (sf1Dir must already exist — build it with ScaleProbe first.)
  */
object GramSkewProbe {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val sf1 = if (args.length > 1) Some(args(1)) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Bench.localSession(cpus)
    val nPart = cpus.toInt

    def stats(tag: String, rel: org.apache.spark.sql.DataFrame): String = {
      val perGh = rel.groupBy(col("gh")).agg(count(lit(1)).as("c"))
      val row = perGh.agg(sum(col("c")).as("total"), max(col("c")).as("max_gh"),
        count(lit(1)).as("n_gh")).head()
      val (total, maxGh, nGh) = (row.getLong(0), row.getLong(1), row.getLong(2))
      // what a window task receives: all rows of its HASH partition
      val perTask = rel.groupBy(pmod(hash(col("gh")), lit(nPart)).as("pt"))
        .agg(count(lit(1)).as("c"))
        .agg(max(col("c")).as("max_task")).head().getLong(0)
      val mean = total.toDouble / nPart
      f""""$tag":{"total":$total,"n_gh":$nGh,"max_gh":$maxGh,""" +
        f""""max_gh_share":${maxGh.toDouble / total}%.6f,""" +
        f""""max_task":$perTask,"task_skew":${perTask / mean}%.3f}"""
    }

    val dims = Seq("base" -> base) ++ sf1.map("probe" -> _)
    val parts = for ((tag, d) <- dims) yield {
      val docs = Tables.documents(spark, d)
      import graft.operators.{TextAnalysis => TA}
      // q_dup_gram_ppm grain: per-doc distinct 8-gram hashes
      val dupG = docs.select(col("doc_id"), explode(TA.shingles(col("text"), 8)).as("g"))
        .select(TA.md5Hash60(col("g")).as("gh"))
      // q_decontaminate grain: per-doc distinct 13-gram hashes, train|test slices
      val bucket = pmod(TA.md5Hash60(
        concat(col("doc_id").cast("string"), lit(":split"))), lit(100L))
      val deconG = docs.select(col("doc_id"), bucket.as("b"),
          explode(TA.shingles(col("text"), 13)).as("g"))
        .where(col("b") < 80 || col("b") >= 90)
        .select(TA.md5Hash60(col("g")).as("gh"))
      // q_repeated_spans grain: POSITIONED 8-grams (not per-doc distinct)
      val k = 8
      val posG = docs.select(col("doc_id"), TA.tokens(col("text")).as("tk"))
        .where(size(col("tk")) >= k)
        .select(explode(sequence(lit(1), size(col("tk")) - (k - 1))).as("p"), col("tk"))
        .select(TA.md5Hash60(concat_ws(" ", slice(col("tk"), col("p"), lit(k)))).as("gh"))
      s""""$tag":{${stats("dup_gram_ppm", dupG)},${stats("decontaminate", deconG)},""" +
        s"""${stats("repeated_spans", posG)}}"""
    }
    println(s"""{"probe":"gram_skew","cpus":$cpus,""" + parts.mkString(",") + "}")
    spark.stop()
  }
}
