package graft.tools

/** Plan auditor: prints the formatted physical plan of selected declared
  * queries (all, or those named in args). Used to keep the plan shapes
  * honest at scale: filters/projections must reach the parquet scan,
  * bounded dims must broadcast, and nothing may degenerate into a
  * nested-loop cross product.
  *
  * Run: sbt "runMain graft.tools.Explain [sfDir] [query ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.Graft.session(master = "local[4]", shufflePartitions = 4)
    spark.sparkContext.setLogLevel("ERROR")
    // audit the full pre-checkpoint plan (see graft.ops.sortOnce)
    spark.conf.set("graft.sortOnce.nocheckpoint", "true")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(graft.SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
