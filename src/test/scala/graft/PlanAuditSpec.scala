package graft

/** Plan-shape regression guard: no declared query may plan a
  * CartesianProduct, and BroadcastNestedLoopJoin is allowed only where the
  * build side is a bounded broadcast (single-row scalar threshold or a
  * fixed probe set) — the shapes that stay O(n) at 100 TB. A refactor that
  * silently degrades a join to an unbounded nested loop fails here, not in
  * production.
  */
class PlanAuditSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  // see sortOnce: audit the full pre-checkpoint plan (session conf, so
  // other suites sharing the JVM but using their own plans are unaffected
  // only while this suite holds the shared session — restore in afterAll)
  override def beforeAll(): Unit = {
    spark.conf.set("graft.sortOnce.nocheckpoint", "true")
    super.beforeAll()
  }
  override def afterAll(): Unit = {
    spark.conf.unset("graft.sortOnce.nocheckpoint")
    super.afterAll()
  }

  /** Queries whose plan legitimately contains a BroadcastNestedLoopJoin:
    * the build side is a bounded broadcast by construction.
    */
  private val boundedBnlj = Set(
    "q_subquery_scalar", "q_tfidf", // 1-row aggregated threshold / corpus size N
    "q_sim_cosine_topk", "q_embed_neardup", "q_sim_cosine_ivf", // fixed probe set
    "q_sim_quantized_topk", // ≤5 packed probe rows broadcast (non-equi ≠ join)
    "q_kmeans_assign", // ≤8 packed centroid rows broadcast (keyless cross)
    "q_kmeans_update", // same ≤8-centroid broadcast inside the assign step
    "q_collocations", // two 1-row total aggregates (N, M) broadcast
    "q_bm25", // 1-row corpus-stats aggregate broadcast (keyless cross)
    "q_cms_freq_est", // 1-row finished CMS sketch broadcast to 20 probes
    "q_unigram_surprisal", // 1-row corpus total N crossed with the vocab frame
    "q_importance_weights", // 1-row smoothed totals crossed with the ≤4096-bucket frame
    "q_weekly_churn", // 1-row corpus max-week broadcast (right-censoring cut)
    "q_type_corr", // |event_type|-row type frame broadcast (grid spine)
    "q_graph_pagerank", // 1-row node-count aggregate broadcast (r0/teleport)
    "q_cooccur_types", // 1-row distinct-user total broadcast (lift denominator)
    "q_hll_union", // 1-row total-events aggregate broadcast onto the 1-row union census
    "q_media_features_topk",
    "q_dedup_threshold_sweep", // 5-row threshold frame broadcast (curve cross)
    "q_cross_join") // region × nation: two single-digit-row dims

  private val skip = Set("stream_bus_e2e") // streaming run, not a relational plan

  SparkEntry.queries.keys.toSeq.sorted.filterNot(skip).foreach { name =>
    test(s"$name plans no cartesian product / unbounded nested loop") {
      val plan = query(name).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
      if (!boundedBnlj(name)) {
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans a BroadcastNestedLoopJoin outside the allowed set")
      }
    }
  }

  // The SURVEY's scale claims, pinned as plan assertions:

  test("asof joins (backward + forward) plan as one union + window pass — no join operator at all") {
    // the sorted-merge formulation's whole point: a theta-join + rank
    // explodes as |events/user| × |orders/user|; the union + one window
    // carries last-seen state in O((|e|+|o|) log). If either key ever
    // plans an actual Join, the scale path regressed.
    Seq("q_asof_join", "q_asof_forward").foreach { name =>
      val plan = query(name).queryExecution.executedPlan.toString
      assert(!plan.contains("Join"),
        s"$name must not plan any join — union + window IS the algorithm:\n$plan")
      assert(plan.contains("Window"), s"$name lost its window pass:\n$plan")
      assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size == 1,
        s"$name should shuffle on user_id exactly once:\n$plan")
    }
  }

  private def scanMeta(name: String, key: String): String =
    // sparkPlan, not executedPlan: the AQE wrapper hides its children from
    // collect() until materialization
    query(name).queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.map(_.metadata.getOrElse(key, "")).mkString("\n")

  test("q_filter_pred pushes its predicates into the parquet scan") {
    // scan metadata, not plan.toString — toString truncates PushedFilters
    val pushed = scanMeta("q_filter_pred", "PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed.contains("In(l_returnflag"),
      s"shipdate/returnflag predicates must reach the scan: $pushed")
  }

  test("q_scan_project prunes the scan to exactly its output columns") {
    val readSchema = scanMeta("q_scan_project", "ReadSchema")
    assert(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
      "l_returnflag").forall(readSchema.contains) &&
      !readSchema.contains("l_discount") && !readSchema.contains("l_comment"),
      s"scan must read only the projected 5 columns: $readSchema")
  }

  // Column pruning on the documents scan for the round-4 curation ops: a
  // split assignment that drags `text` (or a mix report that drags
  // anything beyond `source`) re-reads the corpus' heaviest column for no
  // reason — at 100 TB that is the difference between a metadata-ish pass
  // and a full-corpus read.
  Seq(
    ("q_split_assign", Seq("doc_id", "n_chars"), Seq("text", "source")),
    ("q_pack_contexts", Seq("lang", "doc_id", "text"), Seq("source", "n_chars")),
    ("q_source_mix", Seq("source"), Seq("text", "doc_id", "n_chars"))
  ).foreach { case (name, required, forbidden) =>
    test(s"$name prunes the documents scan to ${required.mkString("/")}") {
      val readSchema = scanMeta(name, "ReadSchema")
      assert(required.forall(readSchema.contains) &&
        forbidden.forall(c => !readSchema.contains(c)),
        s"$name must read only ${required.mkString(",")}: $readSchema")
    }
  }

  test("q_broadcast_join broadcasts both dimensions, never shuffles the fact") {
    val plan = query("q_broadcast_join").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "dims must broadcast-hash-join")
    assert(!plan.contains("SortMergeJoin"),
      "the fact side must not shuffle for a broadcast-hinted join")
  }

  test("q_topk_per_group pushes the rank limit below the shuffle (WindowGroupLimit)") {
    val plan = query("q_topk_per_group").queryExecution.sparkPlan.toString
    // partial WindowGroupLimit before the exchange + final after: each map
    // task ships only its per-group top-3, not the whole partition
    assert(plan.contains("WindowGroupLimit"),
      s"rn <= 3 must compile to WindowGroupLimit pushdown:\n$plan")
  }

  test("q_sort_limit compiles to TakeOrderedAndProject (no global sort)") {
    val plan = query("q_sort_limit").queryExecution.sparkPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-25 must be per-partition top-N + driver merge:\n$plan")
  }

  // The "self-join computes its shared subtree once" claims
  // (Dedup.minhashPairs — the md5-slice MinHash family q_minhash_neardup
  // runs — and Similarity.lshNearDupPairs), pinned: the two join sides are
  // identical subtrees, so the planner's ReuseExchange rule must dedup the
  // signature/bucket shuffle. Audited with AQE off — under AQE the same
  // dedup happens via stage reuse, which has no stable plan-string marker;
  // the static rule is the contract. The bucket frame carries the
  // embedding payload (vectors ride buckets), so at the tiny test fixture the join side fits the broadcast threshold and
  // plans as BroadcastHashJoin — equally shuffle-free (the bucket subtree
  // is still built once; the broadcast IS the dedup), so accept either
  // marker. A SortMergeJoin WITHOUT ReusedExchange is the regression.
  Seq("q_minhash_neardup", "q_embed_neardup_all").foreach { name =>
    test(s"$name computes the self-join's shared shuffle once (ReusedExchange)") {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val plan = query(name).queryExecution.executedPlan.toString
        assert(plan.contains("ReusedExchange")
            || plan.contains("BroadcastHashJoin"),
          s"$name must dedup the self-join input (ReusedExchange) or " +
            s"broadcast it:\n$plan")
      } finally spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  // The materialized-token-array contract (Dedup.shingleHashStream and the
  // fingerprint/bigram shingle sites): lambda bodies inside higher-order
  // functions get no common-subexpression elimination, so the token split
  // must be projected to an attribute BEFORE any lambda indexes it — a
  // refactor that inlines split(text) back into the lambda re-runs the
  // split per shingle (measured 2×+ slower). A plan-count check cannot
  // catch this (the inlined form prints ONE textual site that evaluates
  // N times), so pin the tell-tale shapes instead: an index/slice applied
  // directly to an inline split(...) result.
  Seq("q_minhash_neardup", "q_jaccard_shingles", "q_doc_fingerprint",
      "q_top_bigrams", "q_substring_dedup", "q_decontaminate").foreach { name =>
    test(s"$name never indexes an inline split (materialized token array)") {
      val plan = query(name).queryExecution.executedPlan.toString
      Seq("get(split(", "element_at(split(", "slice(split(").foreach { bad =>
        assert(!plan.contains(bad),
          s"$name indexes an un-materialized split result ('$bad') — " +
            s"this re-runs the split per shingle inside the lambda:\n$plan")
      }
    }
  }

  test("q_html_strip is shuffle-free below the declared sort") {
    // four regex passes are narrow projections: the ONLY exchange allowed
    // is the final ORDER BY's range partitioning
    val plan = query("q_html_strip").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"markup stripping must not shuffle on a hash key:\n$plan")
  }

  test("q_event_funnel: stage frames broadcast (pinned threshold) and every user_id shuffle is map-side combined") {
    // the three stage frames are user-keyed aggregates that only shrink.
    // Whether they broadcast is threshold-dependent, so pin the threshold
    // to its default INSIDE the test — an inherited config or fixture-size
    // drift can no longer flip the suite red without a plan regression
    // (stage frames are ~KBs at sf0.001 vs the pinned 10 MB bound).
    // Save-and-restore (not unset): unset would clobber a session-level
    // threshold set by another suite — same pattern as ScaleSpec's skew test.
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
    try {
      val plan = query("q_event_funnel").queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"funnel stage joins should broadcast under the pinned threshold:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"funnel must not sort-merge its shrinking stage frames:\n$plan")
      // the deeper invariant (holds regardless of join strategy): nothing
      // shuffles on user_id except aggregate frames that were ALREADY
      // combined map-side — i.e. every user_id hash exchange's child is a
      // partial HashAggregate, never the raw event scan
      val lines = plan.linesIterator.toVector
      lines.zipWithIndex.filter(_._1.contains("Exchange hashpartitioning(user_id"))
        .foreach { case (_, i) =>
          // "partial_<fn>" for real aggregates; a keys-only dedup prints
          // "functions=[]" but is equally a map-side combine
          assert(i + 1 < lines.size && (lines(i + 1).contains("partial_") ||
              lines(i + 1).contains("HashAggregate(keys=[user_id")),
            s"a user_id shuffle ships un-combined rows (line ${i + 1}):\n$plan")
        }
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None    => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("q_unpivot reshapes via Expand — one pass, no join") {
    val plan = query("q_unpivot").queryExecution.executedPlan.toString
    assert(plan.contains("Expand"),
      s"unpivot must plan as Expand, not a union of re-scans:\n$plan")
    assert(!plan.contains("Join"), s"unpivot must not join:\n$plan")
    // the feeding aggregate still combines map-side: exactly one scan
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"unpivot must read the fact table once:\n$plan")
  }

  test("q_quality_rules is shuffle-free below the declared sort") {
    // the rule gate is a pure per-doc projection (exact-integer rule math):
    // the ONLY exchange allowed is the final ORDER BY's range partitioning
    val plan = query("q_quality_rules").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"rule gate must not shuffle on a hash key:\n$plan")
  }

  // the r9 broadcast-by-construction joins: per-dim stats (64 rows), probe
  // codes (probes × 64) and per-stratum rates (one row per stratum) are all
  // explicitly hinted — a refactor that drops the hint and lets these plan
  // as sort-merge joins re-shuffles the corpus/code frame for no reason
  Seq("q_embed_quantize", "q_stratified_sample")
    .foreach { name =>
      test(s"$name joins its small side as a broadcast, never sort-merge") {
        val plan = query(name).queryExecution.executedPlan.toString
        assert(plan.contains("BroadcastHashJoin"),
          s"$name lost its broadcast hint:\n$plan")
        assert(!plan.contains("SortMergeJoin"),
          s"$name plans a sort-merge join — the small side must broadcast:\n$plan")
      }
    }

  test("q_sim_quantized_topk: packed scan — no per-dim explode, broadcast-only joins") {
    // the r10 packed shape: the corpus is never exploded to per-dim rows in
    // the distance path (the codes frame is localCheckpointed, so the
    // declared plan's ONLY joins are the broadcast probe nested-loop), and
    // the distance is a single zip_with/aggregate projection per
    // (probe, vec) row feeding the top-k window
    val plan = query("q_sim_quantized_topk").queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"),
      s"packed quantized scan must not explode the corpus per-dim:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"probe side must broadcast (bounded probe set):\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected the broadcast probe join (non-equi ≠ condition):\n$plan")
    assert(plan.contains("zip_with") && plan.contains("aggregate("),
      s"distance must be the one-pass array fold:\n$plan")
  }

  test("q_media_features_topk decodes the media corpus exactly once") {
    // the features frame feeds BOTH sides of the probe join; it is
    // localCheckpointed, so the declared plan must read the materialized
    // RDD on both sides (one decode lineage) and contain NO codec
    // mapPartitions subtree and NO second corpus scan — the r11 regression
    // was the probe side re-running the full decode to surface 5 vectors
    val plan = query("q_media_features_topk").queryExecution.executedPlan.toString
    assert(!plan.contains("MapPartitions"),
      s"decode must be hoisted into the checkpointed features frame:\n$plan")
    assert(!plan.contains("Scan parquet") && !plan.contains("FileScan"),
      s"probe side must not re-scan the media corpus:\n$plan")
    assert("Scan ExistingRDD".r.findAllIn(plan).size == 2,
      s"both join sides must read the one materialized features RDD:\n$plan")
  }

  test("q_dedup_incremental pushes a partial top-1 below the window shuffle") {
    // Spark's rank-limit pushdown (WindowGroupLimit) is the map-side
    // combine of keep-first-per-hash: each task pre-filters to one row per
    // key before the exchange. Losing it (e.g. by breaking the rn === 1
    // filter shape) would shuffle the whole batch instead.
    val plan = query("q_dedup_incremental").queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"keep-first-per-hash lost the WindowGroupLimit pushdown:\n$plan")
  }

  test("q_chunk_windows is shuffle-free below the declared sort") {
    // chunking is generator + narrow projection: the ONLY exchange allowed
    // is the final ORDER BY's range partitioning — a hash exchange would
    // mean a groupBy/join crept into what must stay a linear scan
    val plan = query("q_chunk_windows").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"chunking must not shuffle on a hash key:\n$plan")
  }

  test("q_agg_group plans a partial (map-side) aggregate below the shuffle") {
    val plan = query("q_agg_group").queryExecution.executedPlan.toString
    // plan prints top-down: the partial aggregate appears AFTER the hash
    // exchange textually (it executes before it)
    val belowHashExchange = plan.split("Exchange hashpartitioning").last
    assert(belowHashExchange.contains("HashAggregate"),
      s"a partial aggregate must run below the hash exchange:\n$plan")
  }

  test("q_heavy_hitters: sketch runs as a partial ObjectHashAggregate, " +
      "ONE broadcast candidate join, MG pass computed once") {
    // the r16 sketch-then-verify shape: the MG Aggregator must
    // partial-aggregate (map-side combine — the O(k)-state pass that
    // replaces shuffling the vocabulary), and the candidate frame (≤ k
    // candidates per lang, totals folded in) must reach the re-count as
    // exactly ONE broadcast INNER join — a second join would mean the
    // semi+rejoin regression whose differently-pruned broadcast subtrees
    // each ran the full MG pass (measured r16: no ReusedExchange), and a
    // shuffled join would re-shuffle the token stream it exists to prune
    val plan = query("q_heavy_hitters").queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"MG sketch must run under ObjectHashAggregate:\n$plan")
    assert(plan.contains("partial_misragries") || plan.contains("partial_MisraGries"),
      s"MG sketch lost its partial (map-side) mode:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 1,
      s"candidate prune+annotate must be ONE broadcast join:\n$plan")
    assert("BroadcastExchange".r.findAllIn(plan).size == 1,
      s"the MG candidate subtree must be built exactly once:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"no shuffled join may touch the token stream:\n$plan")
    assert(!plan.contains("LocalCheckpoint") && !plan.contains("ExistingRDD"),
      s"the token stream must stream — no materialization:\n$plan")
  }

  test("q_scd2_history: one hash exchange, window-only — no join") {
    // SCD2 reconstruction is ONE partitioning by the dimension key reused
    // by every window function; a second hash exchange or any join means
    // the single-pass shape regressed
    val plan = query("q_scd2_history").queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"SCD2 must shuffle exactly once (on the dimension key):\n$plan")
    assert(!plan.contains("Join"), s"SCD2 must not plan a join:\n$plan")
    assert(plan.contains("Window"), s"SCD2 lost its window pass:\n$plan")
  }

  test("q_semdedup_prune: corpus side of the anti-join reads ids only") {
    // the prune's wire claim: the LEFT ANTI probe carries vec_ids, never
    // vectors — the corpus parquet scan must project exactly vec_id
    val plan = query("q_semdedup_prune").queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"),
      s"prune must be a LEFT ANTI join against the dropped set:\n$plan")
    val scanSchemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
    assert(scanSchemas.nonEmpty && scanSchemas.forall(!_.contains("embedding")),
      s"no parquet scan in the declared plan may read the vector column " +
        s"(the CC label frame is checkpointed; only ids flow):\n$plan")
  }

  test("q_char_diversity is shuffle-free below the declared sort (native expression, no explode)") {
    // the whole point of CharSquareSum: the per-doc byte census runs as a
    // register loop inside one codegen span — an Expand/Generate or a hash
    // shuffle here means someone replaced it with the explode shape
    val plan = query("q_char_diversity").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"char diversity must not shuffle on a hash key:\n$plan")
    assert(!plan.contains("Generate"),
      s"char diversity must not explode characters:\n$plan")
    assert(plan.contains("char_square_sum"),
      s"the native expression vanished from the plan:\n$plan")
  }

  test("q_bm25: stats/df reach the scoring as broadcasts; tf agg partial below its shuffle") {
    val plan = query("q_bm25").queryExecution.executedPlan.toString
    assert("Broadcast(Hash|NestedLoop)Join".r.findAllIn(plan).size == 2,
      s"df join and corpus-stats cross must both broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"no shuffled join may touch the token stream:\n$plan")
    val belowHashExchange = plan.split("Exchange hashpartitioning").last
    assert(belowHashExchange.contains("HashAggregate"),
      s"tf aggregation must partial-aggregate map-side:\n$plan")
  }

  test("q_shard_assign plans the decomposed prefix-sum, not a global-order window over the corpus") {
    // scale claim: the ONLY single-partition exchange feeds the bounded
    // per-block frame (input = a hash-aggregated groupBy(blk)), and the
    // offsets rejoin the corpus as a BROADCAST — a plan where the corpus
    // itself funnels through Exchange SinglePartition is the naive shape
    val plan = query("q_shard_assign").queryExecution.executedPlan.toString
    assert("Exchange SinglePartition".r.findAllIn(plan).size == 1,
      s"exactly one single-partition exchange (the block frame):\n$plan")
    val belowSingle = plan.split("Exchange SinglePartition").last
    assert(belowSingle.contains("HashAggregate"),
      s"the single-partition window must consume the AGGREGATED block " +
        s"frame, not raw docs:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"block offsets must rejoin the docs as a broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the offsets join must not shuffle the doc frame:\n$plan")
  }

  // One corpus-sized shuffle each (the user_id rollup/window); every
  // further hash exchange operates on a bounded frame (hour buckets /
  // the |event_type|² transition matrix). The budget pins that count —
  // a join or an extra corpus shuffle fails here.
  Seq("q_time_to_conversion" -> 2, "q_markov_transitions" -> 3).foreach {
    case (name, maxHashExchanges) =>
      test(s"$name shuffles once at corpus size, joins nothing") {
        val plan = query(name).queryExecution.executedPlan.toString
        assert("Exchange hashpartitioning".r.findAllIn(plan).size <= maxHashExchanges,
          s"$name exceeded its exchange budget of $maxHashExchanges:\n$plan")
        assert(!plan.contains("SortMergeJoin") && !plan.contains("Join"),
          s"$name must not plan any join:\n$plan")
      }
  }

  test("q_salted_join shuffles BOTH sides on (key, salt) — the hot key fans out") {
    // the whole point of the salt: the join's exchange key must include
    // __salt on both sides, so one dominant l_orderkey spreads over 8
    // reducers instead of landing on one. A refactor that drops the salt
    // from the join key (or lets the dim broadcast, bypassing the shuffle
    // being exercised) silently reverts to the skew-prone plan.
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1L)
    try {
      val plan = query("q_salted_join").queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning\\(l_orderkey#\\d+L?, __salt"
          .r.findAllIn(plan).size == 2,
        s"both join inputs must exchange on (l_orderkey, __salt):\n$plan")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None    => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  // The vocab-collapse contract for the r15 tokenizer-training ops: the
  // corpus-sized token stream must reduce to the vocab frame via a
  // map-side-combined count BEFORE any window (zipf) or pair explode
  // (bpe) — i.e. every hash exchange's child is a partial HashAggregate,
  // mirroring the q_event_funnel invariant. Both scans must also prune
  // the documents table to exactly the columns they use.
  Seq(("q_zipf_slope", Seq("source", "text"), Seq("doc_id", "lang", "n_chars")),
      ("q_bpe_merges", Seq("text"), Seq("doc_id", "lang", "source", "n_chars")))
    .foreach { case (name, required, forbidden) =>
      test(s"$name collapses the token stream map-side and prunes the scan") {
        val plan = query(name).queryExecution.executedPlan.toString
        val lines = plan.linesIterator.toVector
        lines.zipWithIndex.filter(_._1.contains("Exchange hashpartitioning"))
          .foreach { case (_, i) =>
            // partial_ = map-side combine; a final HashAggregate child is
            // the already-collapsed vocab frame being re-keyed for the
            // per-source window — combined either way, never raw tokens
            assert(i + 1 < lines.size && (lines(i + 1).contains("partial_") ||
                lines(i + 1).contains("HashAggregate(keys=[")),
              s"$name ships un-combined token rows (line ${i + 1}):\n$plan")
          }
        val readSchema = scanMeta(name, "ReadSchema")
        assert(required.forall(readSchema.contains) &&
          forbidden.forall(c => !readSchema.contains(c)),
          s"$name must read only ${required.mkString(",")}: $readSchema")
      }
    }

  test("q_bpe_merges takes its top-50 as TakeOrderedAndProject (no global sort)") {
    val plan = query("q_bpe_merges").queryExecution.sparkPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-50 merge table must be per-partition top-N + driver merge:\n$plan")
  }

  test("kNN fold: the scoped fallback-threshold clone engages under a 128-default parent") {
    // ConfCheck promoted to CI (r19 verdict item 6): the BottomKPairs fold
    // depends on (a) Graft.boundedAggFrame re-homing the frame onto a
    // clone with the raised ObjectHashAggregate threshold while the parent
    // keeps Spark's 128 safety valve, and (b) SQLExecution propagating the
    // frame's OWN session conf at action time — the r19 harness-honesty
    // bug was exactly (b) silently not happening under toRdd-style
    // drivers. A Spark upgrade that breaks either would re-demote the
    // fold to sort-based silently; this pins it with the executed
    // fallback metric, at a scale where the assertion bites (sf0.1:
    // 2000 src groups, so partial-agg tasks each hold ≫128 groups ≫ the 128 default, so an
    // unscoped run WOULD fall back).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val df = graft.ops.Similarity.knnGraphQuantized(
      graft.ops.tbl(spark, "/root/testdata/sf0.1", "embeddings"),
      k = 3, nBits = 4, dedupFirst = Some(false))
    assert(spark.conf.get(key) == "128", "parent must keep the default")
    assert(df.sparkSession.conf.get(key) ==
      Graft.BoundedAggFallbackThreshold.toString,
      "the returned frame must carry the scoped clone")
    val rows = org.apache.spark.sql.GraftBridge.runExactPlan(df)
    assert(rows > 0L)
    def aggs(p: SparkPlan): Seq[ObjectHashAggregateExec] = {
      val here = p match {
        case o: ObjectHashAggregateExec => Seq(o); case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      here ++ kids.flatMap(aggs)
    }
    val found = aggs(df.queryExecution.executedPlan)
    assert(found.nonEmpty, "the fold must plan as ObjectHashAggregate " +
      s"(sort-based demotion?):\n${df.queryExecution.executedPlan}")
    // non-vacuity: enough groups that the 128 default would demote
    val groups = found.map(_.metrics.get("numOutputRows").map(_.value)
      .getOrElse(0L)).max
    assert(groups > 512L, s"assertion needs >128 groups/task, saw $groups")
    found.foreach { o =>
      val fb = o.metrics.get("numTasksFallBacked").map(_.value).getOrElse(-1L)
      assert(fb == 0L,
        s"scoped threshold did not engage: $fb tasks fell back to sort")
    }
  }
}
