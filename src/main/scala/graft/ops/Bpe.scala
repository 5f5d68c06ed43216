package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training (Sennrich et al. 2016) composed
  * from engine primitives — the iterative capstone over q_bpe_merges
  * (which is exactly ONE iteration's candidate table).
  *
  * Scale shape — why BPE training is feasible at 100 TB:
  *   - the corpus token stream collapses ONCE to the word-vocab frame
  *     (map-side-combined wordcount); every subsequent round runs over
  *     unique words weighted by frequency, cost independent of corpus
  *     token count;
  *   - each round moves exactly ONE (a, b, cnt) row to the driver (the
  *     argmax merge rule) — the loop's driver traffic is O(nMerges);
  *   - the merge application is a codegen'd aggregate() fold over each
  *     word's symbol array (leftmost-greedy, the BPE contract) — a narrow
  *     projection, no shuffle; the re-count is the same bounded pair agg.
  *
  * Determinism: the argmax tiebreak is (cnt DESC, a ASC, b ASC) in binary
  * UTF-8 order, so the merge sequence — the tokenizer artifact itself —
  * is a pure function of the corpus, independent of partition layout.
  */
object Bpe {

  /** Corpus → word-vocab frame: one row per unique whitespace word with
    * its frequency and its initial symbol sequence (one symbol per
    * CHARACTER — multi-byte safe via substring, not byte slicing).
    */
  def wordVocab(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      // empty words (split artifacts of repeated/leading whitespace) carry
      // no pairs AND would trip sequence(1, 0) — which Spark evaluates
      // DESCENDING as [1, 0], yielding two phantom "" symbols
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("freq"), initialSyms(col("w")).as("syms"))

  /** One symbol per CHARACTER (multi-byte safe). Callers must guarantee
    * length ≥ 1 (see the wordVocab guard).
    */
  def initialSyms(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(sequence(lit(1), length(w)), i => substring(w, i, lit(1)))

  /** Adjacent-symbol pair counts over the vocab frame, weighted by word
    * frequency — the merge-candidate table of one BPE iteration.
    */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab.filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        """transform(sequence(1, size(syms) - 1),
          |  i -> struct(element_at(syms, i) AS a,
          |              element_at(syms, i + 1) AS b))""".stripMargin))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).cast("long").as("cnt"))

  /** Rewrite every word's symbol array applying the merge (a, b) → a+b,
    * leftmost-first and non-overlapping (the greedy fold: a freshly
    * merged symbol can itself left-match the NEXT pair occurrence only
    * if it literally equals `a`, which is the BPE re-scan semantics).
    */
  def applyMerge(vocab: DataFrame, a: String, b: String): DataFrame =
    vocab.withColumn("syms",
      aggregate(col("syms"), expr("slice(syms, 1, 0)"),
        (acc, s) => when(size(acc) > 0 &&
            element_at(acc, -1) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(s)))))

  /** Train `nMerges` merge rules. Returns (merge_idx, a, b, cnt) in merge
    * order; stops early when no pair remains. The vocab frame is
    * localCheckpointed per round so the fold chain never re-plans from
    * the corpus scan.
    *
    * This is the one-argmax-per-round REFERENCE loop (one driver
    * round-trip per merge — O(nMerges) driver traffic). Production
    * vocab sizes want [[trainMergesBatched]], which accepts a provably
    * order-equivalent PREFIX of each round's ranking and cuts rounds by
    * ~the batch factor; BpeSpec pins the two loops merge-for-merge.
    */
  def trainMerges(docs: DataFrame, nMerges: Int): Seq[(Int, String, String, Long)] = {
    // lazy checkpoints throughout the loop: the round's collect is the
    // action that materializes them — an eager checkpoint spends one extra
    // driver-scheduled job per round for the same reuse.
    var vocab = wordVocab(docs).localCheckpoint(eager = false)
    val rules = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var i = 0
    var exhausted = false
    while (i < nMerges && !exhausted) {
      val top = pairCounts(vocab)
        .orderBy(desc("cnt"), asc("a"), asc("b")).limit(1)
        .collect().headOption
      top match {
        case Some(r) =>
          val (a, b, cnt) = (r.getString(0), r.getString(1), r.getLong(2))
          rules += ((i, a, b, cnt))
          vocab = applyMerge(vocab, a, b).localCheckpoint(eager = false)
          i += 1
        case None => exhausted = true
      }
    }
    rules.toSeq
  }

  /** Batched training: per round, pull the top-`batchCap` candidate rows
    * (ONE driver round-trip) and accept the longest ranking PREFIX that a
    * static argument proves the sequential loop would have picked in the
    * same order — so a 32k-vocab train needs ~nMerges/acceptedPerRound
    * driver round-trips instead of 32k, with BIT-IDENTICAL output
    * (rounds against nMerges at production merge counts: PROFILE_r17.txt
    * §2).
    *
    * Why a prefix of the snapshot ranking is safe: applying merge
    * (a, b) → ab only (i) ZEROES the (a, b) row itself, (ii) DECREASES
    * rows sharing a symbol with it, and (iii) CREATES rows involving the
    * new symbol `ab`. So for the next candidate in the snapshot ranking
    * to also be the next SEQUENTIAL argmax it suffices that
    *   - it shares no symbol with any earlier accepted merge (its own
    *     count is then unchanged), including the earlier merges' freshly
    *     minted `a+b` symbols (else its occurrence set could grow), and
    *   - its count strictly exceeds every earlier accepted merge's
    *     created-pair ceiling: a created pair (x, ab) inherits at most
    *     cnt(x, a) occurrences and (ab, y) at most cnt(b, y), so
    *     min(cnt_j, max(maxIn(a_j), maxOut(b_j))) — with maxIn/maxOut
    *     the snapshot's per-symbol neighbor maxima — bounds anything
    *     merge j can mint (chained creations stay under the same bound:
    *     a later (a_jb_j, c) adjacency is an old (b_j, c) adjacency).
    *   Decreased rows rank at-or-below their snapshot position, created
    *   rows rank strictly below the next accepted candidate, unchanged
    *   rows keep their order — the sequential argmax therefore walks the
    *   accepted prefix in snapshot order (ties inside the prefix resolve
    *   by the same (cnt DESC, a ASC, b ASC) key both loops share).
    * The first candidate violating either condition STOPS the batch (its
    * post-merge rank is unknowable from the snapshot — skipping it would
    * diverge); it is re-ranked fresh next round.
    */
  def trainMergesBatched(docs: DataFrame, nMerges: Int,
      batchCap: Int = 32): Seq[(Int, String, String, Long)] = {
    require(batchCap >= 1)
    // lazy per-round checkpoints: materialized by the round's collect
    var vocab = wordVocab(docs).localCheckpoint(eager = false)
    val rules = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var exhausted = false
    while (rules.size < nMerges && !exhausted) {
      val pc = pairCounts(vocab).localCheckpoint(eager = false)
      // Neighbor maxima feed the created-pair ceiling; joined onto the
      // bounded top-k frame so ONE collect carries everything the
      // driver-side prefix scan needs.
      val maxIn = pc.groupBy(col("b").as("s")).agg(max("cnt").as("max_in"))
      val maxOut = pc.groupBy(col("a").as("s")).agg(max("cnt").as("max_out"))
      val want = math.min(batchCap, nMerges - rules.size)
      val top = pc.orderBy(desc("cnt"), asc("a"), asc("b")).limit(want)
        .join(maxIn, col("a") === col("s"), "left").drop("s")
        .join(maxOut, col("b") === maxOut("s"), "left").drop("s")
        .orderBy(desc("cnt"), asc("a"), asc("b"))
        .select("a", "b", "cnt", "max_in", "max_out")
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set[String]()
        var ceiling = 0L // max created-pair bound over accepted merges
        val accepted = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
        var stop = false
        top.iterator.takeWhile(_ => !stop).foreach { r =>
          val (a, b, cnt) = (r.getString(0), r.getString(1), r.getLong(2))
          val disjoint = !used(a) && !used(b)
          val clearsCeiling = accepted.isEmpty || cnt > ceiling
          if (disjoint && clearsCeiling) {
            accepted += ((a, b, cnt))
            used += (a, b, a + b)
            val maxInA = if (r.isNullAt(3)) 0L else r.getLong(3)
            val maxOutB = if (r.isNullAt(4)) 0L else r.getLong(4)
            ceiling = math.max(ceiling,
              math.min(cnt, math.max(maxInA, maxOutB)))
          } else stop = true
        }
        accepted.foreach { case (a, b, cnt) =>
          rules += ((rules.size, a, b, cnt))
        }
        vocab = accepted.foldLeft(vocab) { case (v, (a, b, _)) =>
          applyMerge(v, a, b)
        }.localCheckpoint(eager = false)
      }
    }
    rules.toSeq
  }

  /** Corpus-scale encode: apply an ordered merge-rule list to a frame
    * carrying a `syms` array column — each rule is one codegen'd
    * aggregate() fold, chained as projections (no shuffle, no UDF). Run
    * it over the VOCAB frame and join counts back, never over the raw
    * token stream.
    */
  def encodeVocab(vocab: DataFrame, rules: Seq[(String, String)]): DataFrame =
    rules.foldLeft(vocab) { case (v, (a, b)) => applyMerge(v, a, b) }

  /** Encode one word with an ordered merge-rule list (test/debug helper;
    * the distributed encoder is encodeVocab).
    */
  def encodeWord(word: String, rules: Seq[(String, String)]): Seq[String] = {
    var syms: Seq[String] = word.map(_.toString)
    rules.foreach { case (a, b) =>
      val out = scala.collection.mutable.ArrayBuffer[String]()
      syms.foreach { s =>
        if (out.nonEmpty && out.last == a && s == b) {
          out.remove(out.length - 1); out += (a + b)
        } else out += s
      }
      syms = out.toSeq
    }
    syms
  }
}
