package graft.tools
/** Driver-contract smoke: SparkEntry.entry must return >0 rows on sf0.001. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.session(master = "local[4]", shufflePartitions = 4)
    spark.sparkContext.setLogLevel("ERROR")
    val n = graft.SparkEntry.entry(spark).count()
    println(s"entry rows=$n")
    require(n > 0)
    spark.stop()
  }
}
