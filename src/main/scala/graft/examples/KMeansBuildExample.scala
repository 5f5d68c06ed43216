package graft.examples

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Runnable IVF coarse-quantizer build: the Lloyd loop composed from the
  * engine's primitives (quantizePacked → kmeansAssignFromCodes /
  * assignToCentroids → kmeansUpdatePacked), iterating until the centroid
  * shift converges or a round cap hits. The loop body is the declared,
  * oracle-checked pair (q_kmeans_assign / q_kmeans_update); this example
  * shows the composition a real index build runs:
  *
  *   - the packed code frame is checkpointed ONCE and reused every round
  *     (the corpus is scanned per round but never re-quantized);
  *   - each round's centroids are a K-row frame — the only driver-side
  *     data movement is K × dims integers per round (bounded, intentional);
  *   - convergence is the integer shift_sq sum, exact and replayable.
  *
  * Run: sbt "runMain graft.examples.KMeansBuildExample [sfDir] [k] [rounds]"
  */
object KMeansBuildExample {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val k = args.lift(1).map(_.toInt).getOrElse(8)
    val maxRounds = args.lift(2).map(_.toInt).getOrElse(5)
    val spark = graft.Graft.session(master = "local[4]", shufflePartitions = 4)
    spark.sparkContext.setLogLevel("ERROR")

    val emb = graft.ops.tbl(spark, sfDir, "embeddings")
    val codes = Similarity.quantizePacked(emb, Similarity.quantizeStats(emb))
      .localCheckpoint()
    var cents = Similarity.kmeansCentroids(codes, k).localCheckpoint()
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val assigned = Similarity.assignToCentroids(codes, cents)
        .localCheckpoint(eager = false)
      val inertia = assigned.agg(sum(col("qdist"))).head.getLong(0)
      val upd = Similarity.kmeansUpdatePacked(assigned, cents).localCheckpoint()
      val shift = upd.agg(sum(col("shift_sq"))).head.getLong(0)
      println(s"round $round: inertia=$inertia shift_sq=$shift " +
        s"cells=${upd.count()}")
      converged = shift == 0L
      cents = upd.select(col("cent_id"), col("new_codes").as("ccodes"))
        .localCheckpoint()
      round += 1
    }
    println(if (converged) s"converged after $round rounds"
      else s"stopped at round cap $maxRounds")
    spark.stop()
  }
}
