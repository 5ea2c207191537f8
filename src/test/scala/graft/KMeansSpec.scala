package graft

import graft.functions.VectorOps
import graft.operators.KMeansOp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed Lloyd fixtures for the integer k-means, plus full
  * brute-force invariants for q_kmeans / q_semdedup at sf0.001.
  */
class KMeansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

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
    val out = KMeansOp.lloyd(emb, "vec_id", col("embedding"), k = 2, iters = 1)
      .orderBy("vec_id").collect()
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
    val out = KMeansOp.lloyd(emb, "vec_id", col("embedding"), k = 2, iters = 1)
      .collect()
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

  test("lloydCentroidsInMemory equals the distributed lloydCentroidsLocalInt " +
    "on the same point set (seed, ties, floor-mean, empty-cluster drop)") {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"), graft.operators.KMeansOp.intVec(col("embedding")).as("v"))
    val pts = vecs.as[(Long, Seq[Long])].collect().toSeq
    for (k <- Seq(3, 8, 23)) {
      val dist = graft.operators.KMeansOp.lloydCentroidsLocalInt(vecs, k, 2)
        .sortBy(_._1)
      val mem = graft.operators.KMeansOp.lloydCentroidsInMemory(pts, k, 2)
        .sortBy(_._1)
      assert(mem == dist, s"in-memory Lloyd diverged at k=$k")
    }
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
