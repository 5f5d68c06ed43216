package graft.examples


import graft.ops.Bpe

/** Runnable BPE tokenizer training over the documents corpus: the
  * iterative merge loop composed from the engine's primitives
  * (Bpe.wordVocab → pairCounts → applyMerge), the same composition a real
  * tokenizer build runs:
  *
  *   - the corpus collapses ONCE into the word-vocab frame — every round
  *     after that is vocab-sized, independent of corpus token count;
  *   - each round moves exactly one argmax (a, b, cnt) row to the driver;
  *   - the merge sequence is deterministic ((cnt DESC, a ASC, b ASC)
  *     tiebreak), so re-runs and different cluster layouts produce the
  *     same tokenizer.
  *
  * Run: sbt "runMain graft.examples.BpeTrainExample [sfDir] [nMerges]"
  */
object BpeTrainExample {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nMerges = args.lift(1).map(_.toInt).getOrElse(20)
    val spark = graft.Graft.session(master = "local[4]", shufflePartitions = 4)
    spark.sparkContext.setLogLevel("ERROR")

    val docs = graft.ops.tbl(spark, sfDir, "documents")
    val rules = Bpe.trainMergesBatched(docs, nMerges)
    rules.foreach { case (i, a, b, cnt) =>
      println(f"merge $i%3d: '$a' + '$b' -> '${a + b}'  (count $cnt)")
    }
    val sample = Seq("training", "tokenizer", "documents")
    sample.foreach { w =>
      println(s"encode '$w' -> " +
        Bpe.encodeWord(w, rules.map(r => (r._2, r._3))).mkString("[", " ", "]"))
    }
    spark.stop()
  }
}
