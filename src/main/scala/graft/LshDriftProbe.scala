package graft

import org.apache.spark.sql.functions._

/** Stage-split diagnostic for the q_dup_clusters_lsh scale drift
  * (r19 verdict #4): the query's 10×-rows wall ratio moved 4.89× (r11)
  * → 8.47× (r19) and the adjudication needs to know WHERE — the
  * bucket-union edge BUILD (shingle → band → anchor → star edges; a
  * regression there would be a real defect) or the component
  * RESOLUTION (min-label rounds track component diameter, which grows
  * with corpus size on a resampled-token corpus — benign, each round
  * stays one linear join + aggregate).
  *
  * For the base dir and the 10× probe dir it reports, at reps medians:
  *  - `edges_sec`: noop-write wall of the edge relation alone;
  *  - `cc_sec`: wall of assignAdaptive over a PINNED (checkpointed)
  *    edge relation — resolution cost with the build factored out;
  *  - `full_sec`: the declared query end to end;
  *  - `rounds`/`converged`: min-label propagation's round count at the
  *    diameter bound (60), from the package-private propagate core;
  *  - node/edge counts (the linearity witness: edges must track N).
  *
  * Usage: runMain graft.LshDriftProbe [baseDir] [probeDir] — the probe
  * dir must already exist (ScaleProbe builds it) or be buildable from
  * the base via ScaleProbe.buildSf1.
  */
object LshDriftProbe {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "3").toInt.max(1)
    val spark = Bench.localSession(cpus)
    ScaleProbe.buildSf1(spark, src, dst)
    def timed(f: => Unit): Double = ScaleProbe.medianOf((1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    })
    val parts = for ((tag, d) <- Seq("base" -> src, "probe" -> dst)) yield {
      val nodes = Tables.documents(spark, d).select(col("doc_id").as("id"))
      def edges = queries.Clustering.lshEdges(spark, d)
      val nNodes = nodes.count()
      val nEdges = edges.count()
      val edgesSec = timed {
        edges.write.format("noop").mode("overwrite").save()
      }
      val pinned = edges.localCheckpoint()
      val (_, converged, rounds) = graft.operators.ConnectedComponents
        .propagate(nodes, pinned, 60, graft.operators.Iterate.envDir)
      val ccSec = timed {
        graft.operators.ConnectedComponents
          .assignAdaptive(nodes, pinned,
            checkpointDir = graft.operators.Iterate.envDir)
          .write.format("noop").mode("overwrite").save()
      }
      val fullSec = timed {
        queries.Clustering.dupClustersLsh(spark, d)
          .write.format("noop").mode("overwrite").save()
      }
      s""""$tag":{"nodes":$nNodes,"edges":$nEdges,""" +
        s""""edges_sec":$edgesSec,"cc_sec":$ccSec,"full_sec":$fullSec,""" +
        s""""rounds":$rounds,"converged":$converged}"""
    }
    println(s"""{"probe":"lsh_drift","reps":$reps,"cpus":$cpus,""" +
      parts.mkString(",") + "}")
    spark.stop()
  }
}
