package graft

import graft.functions.VectorOps
import graft.operators.{KMeansOp, KMeansTwins}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed Lloyd fixtures for the integer k-means, plus full
  * brute-force invariants for q_kmeans / q_semdedup at sf0.001.
  */
class KMeansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The trained centroids, then each vector's (vec_id, cid, dist). */
  private def fitAndAssign(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    import spark.implicits._
    val cents = KMeansOp.lloydCentroidsLocal(emb, "vec_id", col("embedding"), k, iters)
    KMeansOp.assignCells(
      emb.select(col("vec_id"), KMeansOp.intVec(col("embedding")).as("v")),
      cents.toDF("cid", "c"))
  }

  /** Two obvious 2-D blobs, k=2 seeded on ids 0/1 (both inside blob A):
    * one update round must pull centroid 1 to the far blob.
    *
    * scaled vectors: v0=(0,0) v1=(100000,0) v2=(10^6,10^6) v3=(9·10^5,10^6)
    * round 1 assign: v0→c0(d=0); v1→c1(d=0);
    *   v2: d(c0)=2·10^12  > d(c1)=0.81e12+1e12=1.81e12 → c1;
    *   v3: d(c0)=1.81e12 > d(c1)=0.64e12+1e12=1.64e12 → c1.
    * update: c0=(0,0); c1=mean(v1,v2,v3)=(2e6/3, 2e6/3)→(666666,666666).
    * final assign: v0,v1→c0 (1e10 < 7.65e11); v2,v3→c1.
    */
  test("lloyd on two blobs: one round moves the centroid and splits the blobs") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(0.0f, 0.0f)),
      (1L, Seq(0.1f, 0.0f)),
      (2L, Seq(1.0f, 1.0f)),
      (3L, Seq(0.9f, 1.0f)),
    ).toDF("vec_id", "embedding")
    val out = fitAndAssign(emb, k = 2, iters = 1).orderBy("vec_id").collect()
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toSeq ==
      Seq(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 1L))
    // v0 sits exactly on centroid 0
    assert(out(0).getLong(2) == 0L)
    // v2 vs final c1=(666666,666666): 2·333334² = 222,223,111,112
    assert(out(2).getLong(2) == 2L * 333334L * 333334L)
  }

  test("empty clusters disappear: identical vectors all tie into centroid 0") {
    import spark.implicits._
    // every distance ties at 0 -> (dist, cid) argmin picks cid 0; centroid 1
    // loses all members in the update and must vanish, not crash or emit
    val emb = (0L to 5L).map(i => (i, Seq(0.25f, -0.5f))).toDF("vec_id", "embedding")
    val out = fitAndAssign(emb, k = 2, iters = 1).collect()
    assert(out.length == 6)
    assert(out.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L))
  }

  test("intVec floors, never rounds (negative values go DOWN)") {
    import spark.implicits._
    val row = Seq((0L, Seq(-0.0000015f, 0.0000015f))).toDF("vec_id", "embedding")
      .select(KMeansOp.intVec(col("embedding")).as("v")).head()
    assert(row.getSeq[Long](0) == Seq(-2L, 1L))
  }

  test("q_kmeans at sf0.001 matches an independent in-spec Lloyd run") {
    val d = TestSpark.sf0001
    val got = queries.SemanticQ.queries("q_kmeans")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // independent implementation: plain Scala, same integer contract
    val vecs = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e6).toLong).toArray)
      .sortBy(_._1)
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val vecById = vecs.toMap  // lookup by id, not array position
    // k LOWEST ids — the engine's seed convention (vecs is sorted by id)
    var cents: Seq[(Long, Array[Long])] = vecs.take(8).map(v => v._1 -> v._2).toSeq
    def assign() = vecs.map { case (id, v) =>
      val (cid, dd) = cents.map { case (c, cv) => (c, dist(v, cv)) }
        .minBy { case (c, dd) => (dd, c) }
      (id, cid, dd)
    }
    for (_ <- 1 to 2) {
      val a = assign()
      cents = a.groupBy(_._2).toSeq.map { case (cid, members) =>
        val vs = members.map(m => vecById(m._1))
        val dim = vs.head.length
        cid -> Array.tabulate(dim)(j =>
          math.floor(vs.map(_(j)).sum.toDouble / vs.length).toLong)
      }.sortBy(_._1)
    }
    val expect = assign().sortBy(_._1)
    assert(got.toSeq == expect.toSeq)
  }

  test("q_semdedup_scaled at sf0.001: k=⌈√N⌉ clusters; drops are exactly " +
    "the lower-id-mate cosine hits within each cluster") {
    val d = TestSpark.sf0001
    val rows = queries.SemanticQ.queries("q_semdedup_scaled")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.length == 500)
    val k = math.ceil(math.sqrt(500.0)).toInt
    assert(rows.map(_._2).distinct.length <= k, "more clusters than seeds")
    // brute-force verify of the kept flags within the produced clusters
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na * nb == 0.0) 0.0 else dot / (na * nb)
    }
    val byCluster = rows.groupBy(_._2)
    for ((_, members) <- byCluster; (id, _, kept) <- members) {
      val hasLowerMate = members.exists { case (other, _, _) =>
        other < id && cos(emb(other), emb(id)) >= 0.4
      }
      assert(kept == !hasLowerMate, s"vec $id kept=$kept but lowerMate=$hasLowerMate")
    }
  }

  test("q_semdedup_sampled at sf0.001: the sample-trained quantizer " +
    "matches a scalar replay (hash-ranked sample, sample seeds, 2 Lloyd " +
    "rounds, one full assign); drops are the lower-id cosine hits") {
    val d = TestSpark.sf0001
    val vecs: Map[Long, Array[Long]] = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Double](1).map(x => math.floor(x * 1e6).toLong).toArray)
      .toMap
    val n = vecs.size
    val k = math.ceil(math.sqrt(n.toDouble)).toInt
    val sN = math.min(n.toLong, 16L * k).toInt
    assert(sN < n, "the sample must actually bite at this SF")
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val sample = vecs.toSeq
      .sortBy { case (id, _) => ((id * 2654435761L) % 4294967296L, id) }
      .take(sN)
    var cents: Seq[(Long, Array[Long])] = sample.sortBy(_._1).take(k)
      .map { case (id, v) => id -> v }
    for (_ <- 1 to 2) {
      val asg = sample.map { case (id, v) =>
        (cents.map { case (c, cv) => (dist(v, cv), c) }.min._2, v)
      }
      cents = asg.groupBy(_._1).toSeq.map { case (cid, members) =>
        cid -> Array.tabulate(members.head._2.length)(j =>
          math.floor(members.map(_._2(j)).sum.toDouble / members.length).toLong)
      }.sortBy(_._1)
    }
    val got = queries.SemanticQ.sampledCentroids(spark, d)
      .map { case (cid, c) => (cid, c.toSeq) }.sortBy(_._1)
    assert(got == cents.map { case (cid, c) => (cid, c.toSeq) },
      "engine sampled centroids diverge from the scalar replay")
    // the query itself: full-corpus assignment against the sampled
    // quantizer, kept = no lower-id cosine mate within the cluster
    val rows = queries.SemanticQ.queries("q_semdedup_sampled")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.length == n)
    val expectCluster = vecs.map { case (id, v) =>
      id -> cents.map { case (c, cv) => (dist(v, cv), c) }.min._2
    }
    rows.foreach { case (id, cl, _) =>
      assert(cl == expectCluster(id), s"vec $id assigned $cl") }
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na * nb == 0.0) 0.0 else dot / (na * nb)
    }
    val byCluster = rows.groupBy(_._2)
    for ((_, members) <- byCluster; (id, _, kept) <- members) {
      val hasLowerMate = members.exists { case (other, _, _) =>
        other < id && cos(emb(other), emb(id)) >= 0.4
      }
      assert(kept == !hasLowerMate, s"vec $id kept=$kept but lowerMate=$hasLowerMate")
    }
  }

  test("q_semdedup_capped at sf0.001: buckets are dist-rank chunks of at " +
    "most 16 members; kept flags match brute force within buckets; the " +
    "cap only ADDS keeps relative to the uncapped fixed-k prune") {
    val d = TestSpark.sf0001
    val cents = queries.SemanticQ.trainedCentroids(spark, d)
      .map { case (c, v) => c -> v.toArray }
    val vecs: Map[Long, Array[Long]] = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Double](1).map(x => math.floor(x * 1e6).toLong).toArray)
      .toMap
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // scalar replay of (cluster, bucket): argmin assignment (ties to the
    // lower cid), then rank by (dist, vec_id) within the cluster, chunked
    // into runs of 16
    val asg = vecs.toSeq.map { case (id, v) =>
      val (dd, c) = cents.map { case (c, cv) => (dist(v, cv), c) }.min
      (id, c, dd)
    }
    val bucketOf: Map[Long, (Long, Long)] = asg.groupBy(_._2).toSeq.flatMap {
      case (c, members) =>
        members.sortBy { case (id, _, dd) => (dd, id) }.zipWithIndex
          .map { case ((id, _, _), rk) => id -> (c, (rk / 16).toLong) }
    }.toMap
    assert(bucketOf.groupBy(_._2).forall(_._2.size <= 16),
      "a bucket exceeded the population cap")
    assert(bucketOf.values.map(_._2).max >= 1L,
      "the cap never bit at this SF — the spec is vacuous")
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na * nb == 0.0) 0.0 else dot / (na * nb)
    }
    val rows = queries.SemanticQ.queries("q_semdedup_capped")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.length == vecs.size)
    rows.foreach { case (id, cl, _) =>
      assert(cl == bucketOf(id)._1, s"vec $id assigned $cl") }
    val byBucket = rows.groupBy { case (id, _, _) => bucketOf(id) }
    for ((_, members) <- byBucket; (id, _, kept) <- members) {
      val hasLowerMate = members.exists { case (other, _, _) =>
        other < id && cos(emb(other), emb(id)) >= 0.4
      }
      assert(kept == !hasLowerMate,
        s"vec $id kept=$kept but lowerMate=$hasLowerMate")
    }
    // monotonicity vs the SAME-quantizer uncapped prune (q_semdedup,
    // fixed k=8): capping can only LOSE drop decisions (pairs split
    // across bucket boundaries), never invent one
    val keptUncapped = queries.SemanticQ.queries("q_semdedup")(spark, d)
      .collect().filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    val droppedCapped = rows.filterNot(_._3).map(_._1).toSet
    assert(droppedCapped.intersect(keptUncapped).isEmpty,
      "the capped prune dropped a vector the uncapped prune kept")
  }

  /** The in-memory fit and the distributed twin on one integer point
    * set, each ascending by cid, or Left with what it threw. */
  private def fitVsTwin(pts: Seq[(Long, Seq[Long])], k: Int, iters: Int)
      : (Either[Throwable, Seq[(Long, Seq[Long])]], Either[Throwable, Seq[(Long, Seq[Long])]]) = {
    import spark.implicits._
    val vecs = pts.toDF("vec_id", "v")
    (scala.util.Try(KMeansOp.lloydCentroidsInMemory(KMeansOp.points(vecs), k, iters)).toEither,
      scala.util.Try(KMeansTwins.lloydCentroidsLocalInt(vecs, k, iters).sortBy(_._1)).toEither)
  }

  test("the in-memory fit equals the KMeansTwins loop at sf0.001") {
    import spark.implicits._
    val pts = Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"), KMeansOp.intVec(col("embedding")).as("v"))
      .as[(Long, Seq[Long])].collect().toSeq
    for (k <- Seq(3, 8, 23)) {
      val (fit, twin) = fitVsTwin(pts, k, 2)
      assert(fit.isRight && fit == twin, s"in-memory Lloyd diverged at k=$k")
    }
  }

  test("the fit equals the KMeansTwins loop on seeded random point sets") {
    // few distinct coordinates, so distance ties and duplicate points
    // are common; k up to N, so clusters empty out and disappear
    for (seed <- 1 to 10) {
      val rnd = new scala.util.Random(seed)
      val n = 4 + rnd.nextInt(24)
      val dim = 1 + rnd.nextInt(4)
      val ids = rnd.shuffle((0L until 3L * n).toVector).take(n)
      val pts = ids.map(id => id -> Seq.fill(dim)(rnd.nextInt(5) * 1000L - 2000L))
      val k = 1 + rnd.nextInt(n)
      val iters = 1 + rnd.nextInt(3)
      val (fit, twin) = fitVsTwin(pts, k, iters)
      assert(fit.isRight && fit == twin, s"seed $seed (n=$n, k=$k, iters=$iters)")
    }
  }

  test("fit vs KMeansTwins edges: ties, duplicates, empty clusters, k = N, k > N") {
    // a tie: v2 is 5 from both seeds and joins the lower cid 0,
    // so c0 = floor((0 + 5) / 2) = 2
    val tie = Seq(0L -> Seq(0L), 1L -> Seq(10L), 2L -> Seq(5L))
    assert(fitVsTwin(tie, 2, 1) == (Right(Seq(0L -> Seq(2L), 1L -> Seq(10L))),
      Right(Seq(0L -> Seq(2L), 1L -> Seq(10L)))))
    // duplicate seeds: every point ties between cids 3 and 5, so cid 5
    // empties out and disappears
    val dup = Seq(3L -> Seq(7L, 7L), 5L -> Seq(7L, 7L), 9L -> Seq(8L, 6L), 11L -> Seq(7L, 9L))
    val (dupFit, dupTwin) = fitVsTwin(dup, 2, 2)
    assert(dupFit == Right(Seq(3L -> Seq(7L, 7L))) && dupFit == dupTwin)
    // k = N: every point is its own seed, and the duplicate seed's
    // cluster empties out
    val (allFit, allTwin) = fitVsTwin(dup, 4, 3)
    assert(allFit.isRight && allFit == allTwin &&
      allFit.toOption.get.map(_._1) == Seq(3L, 9L, 11L))
    // k > N: both throw the same require message
    val (overFit, overTwin) = fitVsTwin(dup, 5, 1)
    val msgs = Seq(overFit, overTwin).map(_.left.toOption.collect {
      case e: IllegalArgumentException => e.getMessage })
    assert(msgs.forall(_.exists(_.contains(
      "k-means needs k=5 seed vectors but the input has only 4"))), msgs.toString)
  }

  test("Long overflow: under ANSI the fit, nearestCells and the twin throw; " +
    "without ANSI the fit wraps exactly as the twin") {
    import spark.implicits._
    // 1e4 scales to 10^10, whose square overflows a Long; 3100's square
    // (9.61e18) wraps negative, so without ANSI it joins cluster 0
    val emb = Seq(0L -> Seq(0.0f, 0.0f), 1L -> Seq(1.0e4f, 0.0f),
      2L -> Seq(0.5f, 0.5f), 3L -> Seq(0.25f, 1.0f), 4L -> Seq(3100.0f, 0.0f))
      .toDF("vec_id", "embedding")
    val vecs = emb.select(col("vec_id"), KMeansOp.intVec(col("embedding")).as("v"))
    val cents = Seq(0L -> Seq(0L, 0L), 1L -> Seq(10000000000L, 0L))
    def arithmetic(r: scala.util.Try[Any]): Boolean =
      r.failed.toOption.exists(t => Iterator.iterate(t)(_.getCause)
        .takeWhile(_ != null).exists(_.isInstanceOf[ArithmeticException]))
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      val on = Seq(
        "fit" -> scala.util.Try(KMeansOp.lloydCentroidsLocal(emb, "vec_id", col("embedding"), 2, 2)),
        "nearestCells" -> scala.util.Try(KMeansOp.nearestCells(cents, Seq(0L, 0L), 1)),
        "twin" -> scala.util.Try(KMeansTwins.lloydCentroidsLocalInt(vecs, 2, 2)))
      on.foreach { case (what, r) => assert(arithmetic(r), s"$what under ANSI: $r") }
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val fit = KMeansOp.lloydCentroidsLocal(emb, "vec_id", col("embedding"), 2, 2)
      assert(fit == KMeansTwins.lloydCentroidsLocalInt(vecs, 2, 2).sortBy(_._1))
      assert(KMeansOp.intDistLocal(Array(0L, 0L), Array(10000000000L, 0L)) ==
        10000000000L * 10000000000L)
      assert(KMeansOp.nearestCells(cents, Seq(0L, 0L), 2) == Seq(0L, 1L))
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("the training collect names the vec_id of a null or ragged vector, " +
    "and throws past its bound") {
    import spark.implicits._
    def thrown(vecs: DataFrame): String =
      intercept[IllegalArgumentException](KMeansOp.points(vecs)).getMessage
    val ragged = Seq(0L -> Seq(1L, 2L), 4L -> Seq(1L)).toDF("vec_id", "v")
    assert(thrown(ragged).contains("vec_id=4 has 1 dims"))
    val nullElem = Seq[(Long, Seq[java.lang.Long])](0L -> Seq(1L, 2L),
      7L -> Seq(1L, null)).toDF("vec_id", "v")
    assert(thrown(nullElem).contains("vec_id=7 has a null element"))
    val nullVec = Seq[(Long, Seq[Long])](0L -> Seq(1L), 8L -> null).toDF("vec_id", "v")
    assert(thrown(nullVec).contains("vec_id=8 has a null vector"))
    val tooMany = spark.range(0, (1L << 18) + 1, 1, 2)
      .select(col("id").as("vec_id"), array(col("id")).as("v"))
    assert(thrown(tooMany).contains("SemanticQ.sampledCentroids"))
  }

  test("q_semdedup at sf0.001: drop decisions match brute force within clusters") {
    val d = TestSpark.sf0001
    val out = queries.SemanticQ.queries("q_semdedup")(spark, d)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.length == 500)
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
      if (na * nb == 0.0) 0.0 else dot / (na * nb)
    }
    val byCluster = rows.groupBy(_._2)
    var dropped = 0
    byCluster.values.foreach { members =>
      val ids = members.map(_._1).sorted
      members.foreach { case (id, _, kept) =>
        val hasLowerDup = ids.filter(_ < id)
          .exists(lo => cos(emb(lo), emb(id)) >= 0.4)
        assert(kept == !hasLowerDup, s"vec $id kept=$kept but lower-dup=$hasLowerDup")
        if (!kept) dropped += 1
      }
    }
    assert(dropped > 0, "fixture should produce at least one semantic dup")
  }

  test("centroid cache: overwriting the dataset dir in place retrains " +
    "instead of serving the stale quantizer") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_centcache").toString
    def writeEmb(n: Int, shift: Float): Unit =
      (0 until n).map(i => (i.toLong,
          Seq(i.toFloat + shift, (i % 3).toFloat, shift, 1.0f), i % 4))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    writeEmb(12, 0.0f)
    val cA = graft.queries.SemanticQ.trainedCentroids(spark, d)
    // different row count AND values → fingerprint must change even on a
    // same-second mtime
    writeEmb(16, 50.0f)
    val cB = graft.queries.SemanticQ.trainedCentroids(spark, d)
    val fresh = KMeansOp.lloydCentroidsLocal(
      Tables.embeddings(spark, d), "vec_id", col("embedding"), 8, 2)
    assert(cB.sortBy(_._1) == fresh.sortBy(_._1),
      "post-overwrite centroids are not a fresh training on the new data")
    assert(cA.sortBy(_._1) != cB.sortBy(_._1),
      "overwrite produced identical centroids — cache served stale state")
    // unchanged content is a HIT: same object, no retraining pass
    assert(graft.queries.SemanticQ.trainedCentroids(spark, d) eq cB,
      "same snapshot should be memoized")
  }

  test("semdedup cosine and spec cosine agree on a probe pair") {
    import spark.implicits._
    // guards the brute-force oracle above against drifting from VectorOps
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(3.0f, 2.0f, 1.0f)))
      .toDF("a", "b")
      .select(VectorOps.cosine(col("a"), col("b")).as("c"))
    val expect = 10.0 / 14.0
    assert(math.abs(df.head().getDouble(0) - expect) < 1e-12)
  }

  test("quantizer cache snapshotKey: an in-place footer rewrite with " +
    "preserved file length AND mtime still invalidates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString
    Seq((0L, Seq(1.0f, 2.0f)), (1L, Seq(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val k1 = graft.Artifacts.snapshotKey(spark, dir)
    // flip one byte INSIDE the footer of the part file, then restore the
    // mtime — the old (name, len, mtime) fingerprint cannot see this
    val part = new java.io.File(s"$dir/embeddings.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val mtime = part.lastModified()
    val raf = new java.io.RandomAccessFile(part, "rw")
    try {
      raf.seek(raf.length - 16)
      val b = raf.read()
      raf.seek(raf.length - 16)
      raf.write(b ^ 0x55)
    } finally raf.close()
    assert(part.setLastModified(mtime), "mtime restore must succeed")
    val k2 = graft.Artifacts.snapshotKey(spark, dir)
    assert(k1 != k2, "footer content change must change the snapshot key")
    // and key stability: no change → same key
    assert(graft.Artifacts.snapshotKey(spark, dir) == k2)
  }
}
