package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Bpe

/** Measures BPE training at production merge counts — the number that
  * matters is ROUNDS (= driver round-trips): the reference sequential loop
  * pays one per merge, the batched prefix loop one per accepted batch.
  * The corpus is a deterministic synthetic vocab (hash-derived words over
  * a 12-letter alphabet with a zipf-ish repeat profile — the driver
  * fixture's 40-word vocab exhausts after ~200 merges, too small for a
  * 1k-merge ledger). Training cost is vocab-frame-sized by construction,
  * so nWords, not corpus tokens, is the scale knob.
  *
  * Run: tools/runmain.sh graft.tools.BpeBench [nMerges] [batchCap] [nWords]
  */
object BpeBench {
  def main(args: Array[String]): Unit = {
    val nMerges = args.headOption.map(_.toInt).getOrElse(1000)
    val batchCap = args.lift(1).map(_.toInt).getOrElse(32)
    val nWords = args.lift(2).map(_.toInt).getOrElse(30000)
    val spark = graft.Graft.session(
      master = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    // Deterministic word corpus: word i = base-12 digits of xxhash64(i)
    // mapped to 'a'..'l', length 6-12; repeated 1 + (i % 7) times so pair
    // counts are non-uniform (distinct argmax ranks, like real text).
    val docs = spark.range(0, nWords.toLong)
      .select(explode(sequence(lit(0), (col("id") % 7).cast("int")))
        .as("rep"), col("id"))
      .select(concat_ws("", transform(
        sequence(lit(1), (pmod(xxhash64(col("id")), lit(7)) + lit(6)).cast("int")),
        i => {
          val h = pmod(xxhash64(col("id"), i), lit(12)).cast("int")
          char(h + lit(97))
        })).as("text"))

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val ((batched, rounds), tb) =
      time(Bpe.trainMergesBatchedStats(docs, nMerges, batchCap))
    println(f"batched:    merges=${batched.size} rounds=$rounds " +
      f"cap=$batchCap wall=$tb%.1fs (${tb / math.max(1, rounds)}%.2fs/round)")

    // Sequential reference at a calibration slice (full nMerges would be
    // nMerges round-trips — the thing this exists to avoid); per-round
    // cost is flat in merge index, so the per-merge rate extrapolates.
    val calib = math.min(50, nMerges)
    val (seqRules, ts) = time(Bpe.trainMerges(docs, calib))
    println(f"sequential: merges=${seqRules.size} rounds=${seqRules.size} " +
      f"wall=$ts%.1fs → extrapolated $nMerges merges ≈ " +
      f"${ts / math.max(1, seqRules.size) * nMerges}%.0fs")
    assert(batched.take(seqRules.size) == seqRules,
      "batched prefix must equal the sequential reference")
    println(s"prefix-equality vs sequential reference at $calib merges: OK")
    spark.stop()
  }
}
