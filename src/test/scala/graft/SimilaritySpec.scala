package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** ScalaTest oracles for the similarity family (no SQL oracle: float
  * reduction order is engine-specific).
  */
class SimilaritySpec extends SparkSpec {

  import spark.implicits._

  private def cosScala(a: Seq[Float], b: Seq[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
    dot / (na * nb)
  }

  test("LSH oracle-bits lockstep: auto path derives OracleBits at the verify fixture") {
    import graft.ops.Similarity
    // The LSH-family oracle SQL is statically rendered at
    // autoNBits(VerifyFixtureEmbCount); the declared Spark keys auto-size
    // from the live corpus count. This pin is the canary: if the driver's
    // embeddings fixture ever changes size, or autoNBits' clamp moves, the
    // two sides drift apart and the hash-oracle would silently break.
    // BOTH scales the correctness driver touches (entry smoke at sf0.001,
    // oracle verify at sf0.01) must hold the pinned count — not just the
    // sfDir this test session happens to use; if either fixture drifts,
    // the statically-rendered OracleBits diverges at THAT scale only and
    // a single-dir canary would miss it.
    val verifyDirs = (Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
      :+ sfDir).distinct.filter(p => new java.io.File(p).isDirectory)
    assert(verifyDirs.nonEmpty)
    verifyDirs.foreach { dir =>
      val live = graft.ops.tbl(spark, dir, "embeddings").count()
      assert(live == Similarity.VerifyFixtureEmbCount,
        s"verify fixture $dir drifted: $live vectors (oracle SQL is rendered " +
          s"for ${Similarity.VerifyFixtureEmbCount}) — re-render VerifyFixtureEmbCount")
      assert(Similarity.autoNBits(live) == Similarity.OracleBits)
      assert(Similarity.autoNBits(live - 100) == Similarity.OracleCrossBits)
    }
    // and the production points stay where the scaladoc says
    assert(Similarity.autoNBits(200000L) == 13)
  }

  test("vector dot/norm/cosine match scala math") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, -5.0f, 6.0f)),
      (Array(0.5f, 0.0f, -1.5f), Array(2.0f, 2.0f, 2.0f))
    ).toDF("a", "b")
    val got = df.select(
      VectorFunctions.dot(col("a"), col("b")),
      VectorFunctions.norm(col("a")),
      VectorFunctions.cosine(col("a"), col("b"))).as[(Double, Double, Double)].collect()
    assert(math.abs(got(0)._1 - (4.0 - 10.0 + 18.0)) < 1e-9)
    assert(math.abs(got(0)._2 - math.sqrt(14.0)) < 1e-9)
    assert(math.abs(got(0)._3 - cosScala(Seq(1f, 2f, 3f), Seq(4f, -5f, 6f))) < 1e-9)
  }

  test("native VectorDot is bit-identical to the higher-order-function dot") {
    val emb = graft.ops.tbl(spark, sfDir, "embeddings")
    val pairs = emb.select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(broadcast(emb.filter(col("vec_id") < 3)
        .select(col("embedding").as("b"))))
    val diff = pairs.select(
      (VectorFunctions.dot(col("a"), col("b")) =!=
        VectorFunctions.dotHof(col("a"), col("b"))).as("ne"))
      .filter(col("ne")).count()
    assert(diff == 0, "native and HOF dot must agree exactly on every pair")
  }

  test("VectorDot doGenCode compiles under CODEGEN_ONLY (no interpreter fallback)") {
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    // keep the Project unfolded so doGenCode actually runs (see the
    // LshSignatures codegen test in ExprSpec)
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    try {
      val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
      val v = df.select(VectorFunctions.dot(col("a"), col("b"))).as[Double].head()
      assert(v == 11.0)
    } finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.unset("spark.sql.codegen.fallback")
      spark.conf.unset("spark.sql.optimizer.excludedRules")
    }
  }

  test("vector_dot is callable from SQL after extension registration") {
    val v = spark.sql("SELECT vector_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
      "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d").as[Double].head()
    assert(v == 11.0)
    // type checking rejects non-float arrays with the custom message
    val err = intercept[Exception](
      spark.sql("SELECT vector_dot(array(1.0), array(2.0))").collect())
    assert(err.getMessage.contains("array<float>"))
  }

  test("cosine of zero vector is 0, not NaN") {
    val df = Seq((Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    val c = df.select(VectorFunctions.cosine(col("a"), col("b"))).as[Double].head()
    assert(c == 0.0)
  }

  test("q_sim_cosine_topk matches driver-side brute force") {
    val emb = graft.ops.tbl(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().toMap
    val got = query("q_sim_cosine_topk")
      .select(col("probe_id"), col("vec_id"), col("rn"))
      .as[(Long, Long, Long)].collect()

    val k = 5
    (0L until 10L).foreach { p =>
      val want = emb.view.filterKeys(_ != p)
        .map { case (id, v) => (id, cosScala(emb(p), v)) }.toSeq
        .sortBy { case (id, c) => (-c, id) }.take(k)
      val gotP = got.filter(_._1 == p).sortBy(_._3).map(_._2)
      assert(gotP.toSeq == want.map(_._1), s"probe $p neighbor ids")
      // exact score semantics: the engine's cosine on the picked pairs
      // matches driver-side math (the declared output carries ids+rank
      // only — see the oracle note in Similarity.scala)
      gotP.foreach { id =>
        val engine = VectorFunctions.cosine(col("a"), col("b"))
        val c = Seq((emb(p).toArray, emb(id).toArray)).toDF("a", "b")
          .select(engine).as[Double].head()
        assert(math.abs(c - cosScala(emb(p), emb(id))) < 1e-12)
      }
    }
  }

  test("q_sim_cosine_lsh recall ≥ 0.4 vs brute-force top-5") {
    val bf = query("q_sim_cosine_topk")
      .select(col("probe_id"), col("vec_id")).as[(Long, Long)].collect().toSet
    val lsh = query("q_sim_cosine_lsh")
      .select(col("probe_id"), col("vec_id")).as[(Long, Long)].collect().toSet
    val recall = (bf & lsh).size.toDouble / bf.size
    // 4 tables × 8 bits on 64-dim random-ish vectors: recall is modest by
    // design at this corpus size; the property pinned here is "well above
    // random chance and stable", not production recall.
    assert(recall >= 0.4, s"LSH recall $recall")
  }

  test("q_sim_cosine_ivf recall ≥ 0.5 vs brute-force top-5 and rank-correct") {
    val bf = query("q_sim_cosine_topk")
      .select(col("probe_id"), col("vec_id")).as[(Long, Long)].collect().toSet
    val ivf = query("q_sim_cosine_ivf")
      .select(col("probe_id"), col("vec_id"), col("rn"))
      .as[(Long, Long, Long)].collect()
    val recall = (bf & ivf.map(t => (t._1, t._2)).toSet).size.toDouble / bf.size
    assert(recall >= 0.5, s"IVF recall $recall")
    // ranks must order by the exact cosine (re-score inside cells is exact;
    // declared output is ids+rank — see the oracle note in Similarity.scala)
    val emb = graft.ops.tbl(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().toMap
    ivf.groupBy(_._1).foreach { case (p, rows) =>
      val byRn = rows.sortBy(_._3).map(_._2).toSeq
      val byTrueCos = byRn.sortBy(id => (-cosScala(emb(p), emb(id)), id))
      assert(byRn == byTrueCos, s"probe $p IVF ranks vs true cosine order")
    }
  }

  test("q_embed_neardup_all: corpus-wide recall ≥ 0.8 and precision 1.0 vs brute force") {
    val emb = graft.ops.tbl(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().toMap
    val floor = 0.4
    val truth = (for {
      (a, va) <- emb.toSeq; (b, vb) <- emb.toSeq
      if a < b && cosScala(va, vb) > floor
    } yield (a, b)).toSet
    assert(truth.nonEmpty, "fixture must contain near-dup pairs")
    val got = query("q_embed_neardup_all")
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet
    // exact re-score after candidate generation → every returned pair is a
    // TRUE pair (precision 1.0); only recall depends on the LSH parameters
    assert((got -- truth).isEmpty, s"false positives: ${(got -- truth).take(5)}")
    val recall = (truth & got).size.toDouble / truth.size
    assert(recall >= 0.8, s"corpus-wide near-dup recall $recall (${got.size}/${truth.size})")
  }

  test("multi-probe LSH at HALF the tables matches exact-probe recall (precision 1.0)") {
    val embDf = graft.ops.tbl(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val emb = embDf.as[(Long, Seq[Float])].collect().toMap
    val floor = 0.4
    val truth = (for {
      (a, va) <- emb.toSeq; (b, vb) <- emb.toSeq
      if a < b && cosScala(va, vb) > floor
    } yield (a, b)).toSet
    assert(truth.nonEmpty)

    def recallOf(pairs: org.apache.spark.sql.DataFrame): (Double, Set[(Long, Long)]) = {
      val got = pairs.select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet
      assert((got -- truth).isEmpty, s"false positives: ${(got -- truth).take(5)}")
      ((truth & got).size.toDouble / truth.size, got)
    }
    val n = Some(emb.size.toLong)
    val (exact16, _) = recallOf(
      graft.ops.Similarity.lshNearDupPairs(embDf, nTables = 16, knownCount = n))
    val (mp8, _) = recallOf(
      graft.ops.Similarity.lshNearDupPairsMultiProbe(embDf, nTables = 8, knownCount = n))
    // the multi-probe thesis: 1-bit probing at half the tables holds the
    // recall of the 16-table exact-probe form (small slack for the
    // different random-plane draws), at 1x bucket build instead of 2x
    assert(mp8 >= exact16 - 0.02, s"multi-probe recall $mp8 vs exact-probe $exact16")
    assert(mp8 >= 0.9, s"multi-probe recall $mp8")
  }

  test("multi-probe LSH plans an equi-join (no nested loop) on (tbl, bkt)") {
    val embDf = graft.ops.tbl(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val plan = graft.ops.Similarity
      .lshNearDupPairsMultiProbe(embDf, nTables = 4, knownCount = Some(500L))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("q_decontaminate_fuzzy: cross-frame recall ≥ 0.9, precision 1.0 vs brute force") {
    // sf0.01 (not the suite's sf0.001): the bench/corpus split is
    // vec_id < 100, which needs the 500-vector fixture to leave a corpus.
    // Truth = every (corpus, bench) pair above the floor by exact cosine;
    // the LSH path must return a subset (exact re-score ⇒ precision 1.0)
    // with measured recall ≥ 0.9 — the planted near-dups whose source
    // landed in the bench range are the "paraphrased eval items".
    val d = "/root/testdata/sf0.01"
    val emb = graft.ops.tbl(spark, d, "embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().toMap
    val floor = 0.4
    val truth = (for {
      (c, vc) <- emb.toSeq; if c >= 100
      (b, vb) <- emb.toSeq; if b < 100
      if cosScala(vc, vb) > floor
    } yield (c, b)).toSet
    assert(truth.nonEmpty, "fixture must contain cross-frame near-dups")
    val got = SparkEntry.queries("q_decontaminate_fuzzy")(spark, d)
      .select(col("vec_id"), col("bench_id")).as[(Long, Long)].collect().toSet
    assert((got -- truth).isEmpty, s"false positives: ${(got -- truth).take(5)}")
    val recall = (truth & got).size.toDouble / truth.size
    assert(recall >= 0.9,
      s"cross-frame recall $recall (${(truth & got).size}/${truth.size})")
  }

  test("q_embed_clusters groups exactly the transitive closure of the found pairs") {
    val pairs = query("q_embed_neardup_all")
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect()
    // driver-side union-find over the engine's own pairs = expected clusters
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .groupBy(find).map { case (root, members) => root -> members.length.toLong }
    val got = query("q_embed_clusters")
      .select(col("cluster_id"), col("cluster_size")).as[(Long, Long)]
      .collect().toMap
    assert(got == want, s"cluster census mismatch: got ${got.size} want ${want.size} clusters")
  }

  test("oracle margin guard: declared float margins hold with 100x safety on this fixture") {
    // The similarity oracles declare ids/rank-only outputs on the strength
    // of MEASURED margins (see the per-query notes in Similarity.scala):
    // bucket bits and floor filters share the oracle's exact formulation
    // (cross-engine double-fold divergence ~1e-13), rankings cross
    // formulations (dot/sqrt here vs list_cosine_similarity there,
    // divergence ~1e-7). This guard recomputes every margin those
    // declarations rest on, with a 100x safety factor, so a fixture
    // regeneration that lands a pair near a sign/floor/rank boundary fails
    // HERE with a clear message instead of flaking the driver's hash gate.
    val idemMargin = 100.0 * 1e-13 // identical-formulation boundaries
    val xMargin = 100.0 * 1e-7 // cross-formulation ranking boundaries

    val emb: Map[Long, Array[Double]] =
      graft.ops.tbl(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
        .collect().map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
    val ids = emb.keys.toSeq.sorted
    def fold(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val nrm = emb.map { case (id, v) => id -> math.sqrt(fold(v, v)) }
    def cosD(a: Long, b: Long): Double = fold(emb(a), emb(b)) / (nrm(a) * nrm(b))
    // planes 0-63 cover both LSH parameterizations in use (4 bits × 8
    // tables for q_sim_cosine_lsh, 4 × 16 for q_embed_neardup_all/clusters)
    val planes = (0 until 64).map(p =>
      VectorFunctions.planeSigns(p, 64).map(_.toDouble))

    def minProjection(vecs: Iterable[Array[Double]]): Double =
      (for (v <- vecs.iterator; p <- planes.iterator)
        yield math.abs(fold(v, p))).min

    // 1. LSH bucket-bit stability (sign of v·plane; identical formulation)
    val minProj = minProjection(emb.values)
    assert(minProj >= idemMargin,
      f"LSH projection margin collapsed to $minProj%.3e (< $idemMargin%.1e): " +
        "a vector sits on a hyperplane boundary; regenerate planes or re-measure")

    // 2. q_embed_neardup_all / q_embed_clusters floor (cos > 0.4, identical
    // formulation in oracle SQL) — guard ALL pairs (superset of candidates)
    val minFloor04 = (for {
      (a, i) <- ids.iterator.zipWithIndex; b <- ids.iterator.drop(i + 1)
    } yield math.abs(cosD(a, b) - 0.4)).min
    assert(minFloor04 >= idemMargin,
      f"near-dup floor margin collapsed to $minFloor04%.3e: a pair sits on the 0.4 floor")

    // 3. q_sim_cosine_topk ranking: per-probe top-6 adjacent gaps (the
    // rank-5/6 boundary decides membership; cross-formulation)
    def topGaps(cand: Seq[Double]): Seq[Double] = {
      val cs = cand.sorted(Ordering[Double].reverse)
      cs.zip(cs.tail).take(6).map { case (x, y) => x - y }
    }
    val topkGap = (0L until 10L).map { p =>
      topGaps(ids.filter(_ != p).map(cosD(p, _))).minOption.getOrElse(Double.MaxValue)
    }.min
    assert(topkGap >= xMargin,
      f"top-k adjacent ranking gap collapsed to $topkGap%.3e: two neighbors tie at the rank boundary")

    // 4. q_sim_cosine_lsh ranking over its ACTUAL candidate sets (bucket
    // mates in any of the 8 tables — a candidate subset can surface
    // deep-ranking near-ties the full-corpus top-6 never sees)
    def bucketOf(v: Long, nBits: Int, t: Int): Int =
      (0 until nBits).map { i =>
        if (fold(emb(v), planes(t * nBits + i)) >= 0) 1 << i else 0
      }.sum
    val lshGapLists = (0L until 10L).map { p =>
      val cand = (0 until 8).flatMap { t =>
        val pb = bucketOf(p, 4, t)
        ids.filter(v => v != p && bucketOf(v, 4, t) == pb)
      }.distinct
      topGaps(cand.map(cosD(p, _)))
    }
    // guard the guard: if EVERY probe's buckets hold <=1 candidate, the gap
    // check below is vacuous — that is a bucketing regression (candidates
    // vanished), not a margin pass
    assert(lshGapLists.exists(_.nonEmpty),
      "no probe produced any LSH bucket candidate gaps — bucketing regression")
    // a probe whose buckets hold <=1 candidate has no adjacent-gap
    // boundary to guard — Double.MaxValue, not empty.min's opaque throw
    val lshGap = lshGapLists.map(_.minOption.getOrElse(Double.MaxValue)).min
    assert(lshGap >= xMargin,
      f"LSH candidate ranking gap collapsed to $lshGap%.3e at the top-6 boundary")

    // 5. q_embed_neardup: rank-1 pick's 0.2-floor margin + rank1/rank2 gap
    val probeTops = (0L until math.min(100L, ids.size.toLong)).map { p =>
      ids.filter(_ != p).map(cosD(p, _)).sorted(Ordering[Double].reverse)
    }
    val floor02 = probeTops.map(cs => math.abs(cs.head - 0.2)).min
    val nnGap = probeTops.map(cs => cs.head - cs(1)).min
    assert(floor02 >= xMargin && nnGap >= xMargin,
      f"near-dup NN margins collapsed (floor $floor02%.3e, rank gap $nnGap%.3e)")

    // 6. q_sim_cosine_ivf: cell-assignment rank1/2 gap (every vector) and
    // probe-cell rank4/5 gap (nProbe = 4 boundary)
    val cells = ids.filter(_ < 16)
    def cellCos(v: Long, c: Long): Double = if (v == c) 1.0 else cosD(v, c)
    val assignGap = ids.map { v =>
      val cs = cells.map(cellCos(v, _)).sorted(Ordering[Double].reverse)
      cs(0) - cs(1)
    }.min
    val probeCellGap = (0L until 10L).map { p =>
      val cs = cells.map(cellCos(p, _)).sorted(Ordering[Double].reverse)
      cs(3) - cs(4)
    }.min
    assert(assignGap >= xMargin && probeCellGap >= xMargin,
      f"IVF margins collapsed (assignment $assignGap%.3e, probe-cell $probeCellGap%.3e)")

    // 7. the guard actually guards: a fixture perturbed onto a hyperplane
    // boundary (projection cancelled in double space) must trip check #1
    val v0 = emb(ids.head).clone()
    v0(0) -= fold(v0, planes(0)) / planes(0)(0)
    assert(minProjection(Seq(v0)) < idemMargin,
      "perturbed-fixture self-check: a boundary-adjacent vector must be detected")
  }

  test("q_embed_neardup returns the true nearest neighbor per probe") {
    val emb = graft.ops.tbl(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().toMap
    val got = query("q_embed_neardup")
      .select(col("probe_id"), col("nn_id")).as[(Long, Long)].collect().toMap
    got.foreach { case (p, nn) =>
      val want = emb.view.filterKeys(_ != p)
        .map { case (id, v) => (id, cosScala(emb(p), v)) }.toSeq
        .sortBy { case (id, c) => (-c, id) }.head
      assert(nn == want._1, s"probe $p: got $nn want ${want._1}")
    }
  }

  test("quantizeScalar: codes span [0,255], constant dims quantize to 0") {
    // dim 0 ranges over [0,2]: x=0 → 0, x=1 → floor(1·256/2)=128,
    // x=2 → floor(256) clamped to 255. dim 1 is CONSTANT (mx == mn) —
    // the zero-range guard must emit 0, not a division blowup.
    val emb = Seq(
      (1L, Array(0.0f, 5.0f)),
      (2L, Array(1.0f, 5.0f)),
      (3L, Array(2.0f, 5.0f))).toDF("vec_id", "embedding")
    val got = graft.ops.Similarity.quantizeScalar(emb)
      .as[(Long, Int, Long)].collect()
      .map { case (id, pos, code) => (id, pos) -> code }.toMap
    assert(got == Map(
      (1L, 0) -> 0L, (2L, 0) -> 128L, (3L, 0) -> 255L,
      (1L, 1) -> 0L, (2L, 1) -> 0L, (3L, 1) -> 0L))
  }

  test("quantizePacked codes are element-identical to the per-dim frame") {
    // the packed array is the SCALE layout of the same quantization: every
    // (vec, pos) code must match quantizeScalar exactly — same double
    // arithmetic against the same broadcast ranges, different shape only
    val emb = graft.ops.tbl(spark, sfDir, "embeddings")
    val stats = graft.ops.Similarity.quantizeStats(emb)
    val perDim = graft.ops.Similarity.quantizeScalar(emb, stats)
      .as[(Long, Int, Long)].collect()
      .map { case (id, pos, code) => (id, pos) -> code }.toMap
    val packed = graft.ops.Similarity.quantizePacked(emb, stats)
      .as[(Long, Array[Long])].collect()
    assert(packed.nonEmpty)
    packed.foreach { case (id, codes) =>
      codes.zipWithIndex.foreach { case (c, pos) =>
        assert(c == perDim((id, pos)),
          s"vec $id pos $pos: packed $c != per-dim ${perDim((id, pos))}")
      }
    }
  }

  test("packedQuantizedTopK equals the per-dim quantized top-5 exactly") {
    // the declared q_sim_quantized_topk runs the packed scan; this is the
    // Spark-side half of the cross-check (DuckDB's per-dim SQL is the
    // other): the 64×-shorter plan returns the identical integer ranking
    val emb = graft.ops.tbl(spark, sfDir, "embeddings")
    val packed = query("q_sim_quantized_topk")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val codes = graft.ops.Similarity.quantizeScalar(emb)
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (id, rows) =>
        id -> rows.sortBy(_._2).map(_._3)
      }
    val perDim = (0L until 5L).flatMap { p =>
      codes.view.filterKeys(_ != p).toSeq
        .map { case (id, cs) =>
          val d = cs.zip(codes(p)).map { case (a, b) => (a - b) * (a - b) }.sum
          (id, d)
        }
        .sortBy { case (id, d) => (d, id) }.take(5).zipWithIndex
        .map { case ((id, d), i) => (p, id, d, (i + 1).toLong) }
    }
    assert(packed == perDim)
  }

  test("a full Lloyd round (assign → update → reassign) improves inertia within the floor-mean bound") {
    import graft.ops.Similarity
    val emb = graft.ops.tbl(spark, sfDir, "embeddings")
    val codes = Similarity.quantizePacked(emb, Similarity.quantizeStats(emb))
      .localCheckpoint()
    val a0 = Similarity.kmeansAssignFromCodes(codes, 8).localCheckpoint()
    val inertia0 = a0.agg(sum(col("qdist"))).head.getLong(0)
    val upd = Similarity.kmeansUpdatePacked(a0, Similarity.kmeansCentroids(codes, 8))
    val a1 = Similarity.assignToCentroids(codes,
      upd.select(col("cent_id"), col("new_codes").as("ccodes")))
    val inertia1 = a1.agg(sum(col("qdist"))).head.getLong(0)
    val n = a0.count()
    // per cell, the floored mean is within 1 of the true per-dim mean, so
    // same-assignment inertia grows by at most n·dims before reassignment
    // can only shrink it — the exact Lloyd-monotonicity bound under
    // integer centroids (in practice the round improves sharply)
    assert(inertia1 <= inertia0 + n * 64L,
      s"Lloyd round worsened inertia beyond the floor bound: $inertia0 -> $inertia1")
    assert(inertia1 < inertia0,
      s"on the fixture the round must strictly improve: $inertia0 -> $inertia1")
    // every vector stays assigned; cells remain the declared 8 or fewer
    assert(a1.count() == n)
    assert(a1.select("cent_id").distinct().count() <= 8L)
  }

  test("q_knn_graph: ranked-prefix of the exact quantized kNN over its candidate set") {
    import spark.implicits._
    // the graph's CONTRACT: for each src, the emitted (dst, qdist, rn)
    // rows are exactly the k best of src's LSH candidate set under
    // integer quantized-L2 with (qdist, dst) order — verified against a
    // scala brute force over the same candidates; plus recall vs the
    // full exact top-3 (candidate coverage, the LSH quality knob).
    val emb = graft.ops.tbl(spark, sfDir, "embeddings")
    val codes = graft.ops.Similarity.quantizePacked(
        emb, graft.ops.Similarity.quantizeStats(emb))
      .as[(Long, Seq[Long])].collect().toMap
    def qd(a: Long, b: Long): Long =
      codes(a).zip(codes(b)).map { case (x, y) => (x - y) * (x - y) }.sum
    val got = query("q_knn_graph").as[(Long, Long, Long, Long)].collect()
    // qdist values are the exact integer distances
    got.foreach { case (s0, d0, q0, _) =>
      assert(q0 == qd(s0, d0), s"qdist mismatch for ($s0,$d0)") }
    // per src: rn orders by (qdist, dst) with no gaps
    got.groupBy(_._1).foreach { case (s0, rows) =>
      val byRn = rows.sortBy(_._4)
      assert(byRn.map(_._4).toSeq == (1L to byRn.length).toSeq)
      val resorted = byRn.sortBy(r => (r._3, r._2))
      assert(resorted.map(_._2).toSeq == byRn.map(_._2).toSeq,
        s"rank order must be (qdist, dst) for src $s0")
    }
    // recall vs the EXACT top-3 over all vectors (quantized metric)
    val ids = codes.keys.toSeq.sorted
    val exact = ids.flatMap { s0 =>
      ids.filter(_ != s0).map(d0 => (s0, d0, qd(s0, d0)))
        .sortBy(t => (t._3, t._2)).take(3).map(t => (s0, t._2))
    }.toSet
    val gotSet = got.map(r => (r._1, r._2)).toSet
    val recall = (exact & gotSet).size.toDouble / exact.size
    assert(recall >= 0.5, s"kNN-graph recall $recall vs exact quantized top-3")
  }

  test("BottomKPairs: k smallest (dist,id), exact-dup dedup, partition-layout-free") {
    import spark.implicits._
    // ties in dist (3,150)/(3,200), exact duplicates (the multi-table
    // collision case), and a below-bar straggler (9,50)
    val rows = Seq(
      (1L, 5L, 100L), (1L, 5L, 100L), (1L, 3L, 200L), (1L, 3L, 150L),
      (1L, 9L, 50L), (1L, 3L, 150L), (1L, 7L, 60L),
      (2L, 1L, 1L)).toDF("g", "qd", "id")
    def run(parts: Int) = rows.repartition(parts).groupBy("g")
      .agg(graft.expr.BottomKPairs(col("qd"), col("id"), 3).as("tk"))
      .select(col("g"), col("tk"))
      .as[(Long, Seq[(Long, Long)])].collect().toMap
    val got = run(1)
    assert(got(1L) == Seq((3L, 150L), (3L, 200L), (5L, 100L)), s"$got")
    assert(got(2L) == Seq((1L, 1L)))
    // merge path: any partition layout gives the identical answer
    (2 to 7).foreach(p => assert(run(p) == got, s"layout $p diverged"))
  }

  test("knnGraphQuantized: dedup-first and fold-in-join strategies are result-identical") {
    import spark.implicits._
    val emb = graft.ops.tbl(spark, sfDir, "embeddings")
    def run(emb: org.apache.spark.sql.DataFrame, dedupFirst: Boolean) =
      graft.ops.Similarity.knnGraphQuantized(emb, k = 3, nBits = 5,
          nTables = 8, dedupFirst = Some(dedupFirst))
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val graph = run(emb, true)
    assert(graph == run(emb, false),
      "the strategy knob must change the plan shape, never the graph")
    // null cases: a null embedding (no buckets), and the first vector with
    // its last element dropped (it shares most of that vector's buckets,
    // but zip_with pads its shorter codes with nulls, so every distance it
    // has is null). Neither has a rank, so neither enters the graph, and
    // the rest of the graph is unchanged on both strategies.
    val first = emb.orderBy("vec_id").limit(1)
    val nextId = emb.agg(max("vec_id")).as[Long].head() + 1
    val withNulls = emb
      .unionByName(first.select(lit(nextId).as("vec_id"),
        lit(null).cast(emb.schema("embedding").dataType).as("embedding"),
        col("label")))
      .unionByName(first.select(lit(nextId + 1).as("vec_id"),
        expr("slice(embedding, 1, size(embedding) - 1)").as("embedding"),
        col("label")))
    for (dedupFirst <- Seq(true, false))
      assert(run(withNulls, dedupFirst) == graph,
        s"dedupFirst=$dedupFirst: null-distance pairs must stay out of the graph")
  }

  test("pageRankInt matches a hand-computed fixed-point reference") {
    import spark.implicits._
    // 1→2, 2→1, 3→1: node 1 collects two in-flows, node 3 none (teleport
    // only). All outdegrees are 1.
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val s = 1L << 40
    val r0 = s / 3
    val tele = (15L * r0) / 100
    def step(rs: Map[Long, Long]): Map[Long, Long] = Map(
      1L -> (tele + (85L * (rs(2L) + rs(3L))) / 100),
      2L -> (tele + (85L * rs(1L)) / 100),
      3L -> tele)
    val want = step(step(Map(1L -> r0, 2L -> r0, 3L -> r0)))
    val got = graft.ops.Similarity.pageRankInt(edges, iters = 2)
      .select(col("v"), col("r")).as[(Long, Long)].collect().toMap
    assert(got == want, s"fixed-point ranks diverge: got $got want $want")
    // the teleport-only node is strictly the poorest, and total mass
    // never exceeds the scale (floor division only sheds mass). No
    // claim between nodes 1 and 2: two power iterations oscillate on a
    // 2-cycle (node 2 inherits node 1's iteration-1 surge).
    assert(got(3L) < got(1L) && got(3L) < got(2L))
    assert(got.values.sum <= s)
  }
}
