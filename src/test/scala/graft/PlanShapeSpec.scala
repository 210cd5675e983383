package graft

/** Plan-shape regression tests: the 100×-scale properties VERDICT r2
  * called out live in the PHYSICAL plan, not the results — a silently
  * regressed broadcast or a lost exchange reuse still passes every
  * correctness check while becoming the bottleneck on a real cluster.
  * Pin them here.
  *
  * Initial plans (pre-execution) are asserted where the static planner
  * decides (broadcast hints, cartesian avoidance, parquet pushdown);
  * executed plans where the property materializes adaptively
  * (exchange reuse under AQE).
  */
class PlanShapeSpec extends SparkTestBase {

  private def initialPlan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect() // AQE finalizes the adaptive plan in place
    df.queryExecution.executedPlan.toString
  }

  /** Final plans of the `localCheckpoint` executions that the
    * registered query `name` starts while it builds and runs: an eager
    * operator materializes its result inside the call, so that is
    * where its real plan executes (the returned frame is a bare
    * `Scan ExistingRDD`). */
  private def checkpointPlans(name: String): Seq[String] = {
    val (_, executions) = Explain.record(spark)(SparkEntry.queries(name)(spark, sfDir).collect())
    val plans = executions.filter(_.name == "localCheckpoint").map(_.plan)
    assert(plans.nonEmpty, s"$name started no localCheckpoint execution")
    plans
  }

  /** Cache READS in a plan string (the plan string also shows parquet
    * scans inside an InMemoryRelation's embedded child dump — count
    * what executes, not the embedded text). */
  private def cacheReads(plan: String): Int =
    plan.split("InMemoryTableScan").length - 1 +
      plan.split("TableCacheQueryStage").length - 1

  test("dimension joins broadcast the small side (j1, q5)") {
    assert(initialPlan("j1_enrichment_join").contains("BroadcastHashJoin"))
    val q5 = initialPlan("q5_local_supplier")
    assert(q5.contains("BroadcastHashJoin"))
    // the fact table must NOT be the build side of a shuffle join plan
    assert(!q5.contains("SortMergeJoin"), q5)
  }

  test("LSH and inverted-index self-joins compute their signature pipeline once (ReusedExchange)") {
    Seq("dd_minhash_lsh", "dd_ngram_jaccard", "sim_ann_lsh",
        "sim_ivf_pairs", "sim_ann_int8", "sim_ivf_trained", "sim_ann_projected")
      .foreach { q =>
        val plan = executedPlan(q)
        assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
          s"$q must reuse the banded/exploded exchange, got:\n$plan")
      }
    // dd_ngram_capped (r9): the posting frame is now PERSISTED and
    // serves the df aggregate plus both self-join sides (the window-df
    // formulation buffered hot-shingle partitions; see the operator
    // scaladoc), and the operator checkpoints eagerly — pin the cache
    // reads in its localCheckpoint execution instead of ReusedExchange.
    val reads = checkpointPlans("dd_ngram_capped").map(cacheReads).max
    assert(reads >= 2,
      s"dd_ngram_capped must serve df + join sides from the persisted postings, got $reads")
  }

  test("txt_tfidf tokenizes once: the tf exchange is shared by the df branch") {
    // the df aggregate consumes the tf column specifically so its child
    // subtree stays canonically equal to the tf branch (CorpusOps.tfIdf)
    val plan = executedPlan("txt_tfidf")
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"txt_tfidf must reuse the (doc, term) count exchange, got:\n$plan")
  }

  test("sim_topk_ann: no vectors ride the bucket shuffle; queries re-enter by broadcast") {
    val plan = initialPlan("sim_topk_ann")
    // the probe-corpus bucket join must be an equi-join on (tbl, bucket),
    // never a nested-loop over the corpus like the brute-force baseline
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"), plan)
    // query vectors re-enter the scored join via broadcast
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("txt_unigram_nll tokenizes once: the tf exchange feeds counts, total, and pricing") {
    Seq("txt_unigram_nll", "txt_bigram_nll").foreach { q =>
      val plan = executedPlan(q)
      assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
        s"$q must reuse the (doc, gram) frequency exchange, got:\n$plan")
    }
  }

  test("sim_topk_ivf: probes broadcast; the corpus is never key-shuffled") {
    val plan = initialPlan("sim_topk_ivf")
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"), plan)
    // the cell join builds on the (small, exploded) probe side
    assert(plan.contains("BroadcastHashJoin"), plan)
    // corpus rows never shuffle on the cell key — the only hash
    // exchange in the plan is the final per-qid rank window's
    assert(!plan.contains("Exchange hashpartitioning(__cell"),
      s"corpus must not shuffle on cell:\n$plan")
  }

  test("sim_rerank: candidate pairs are equi-joins; only the shortlist reaches float vectors") {
    val plan = initialPlan("sim_rerank")
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"), plan)
    // two rank prunings: the coarse shortlist and the final top-k —
    // both must carry the WindowGroupLimit map-side pre-prune
    assert(plan.split("WindowGroupLimit").length - 1 >= 2,
      s"expected two group-limited rank windows (coarse + final):\n$plan")
  }

  test("sim_rerank fusion: one __qid exchange serves dedup AND the shortlist window") {
    // The r8 stage fusion (VERDICT r7 item 1): int8 codes ride the
    // postings, the query side broadcasts, and the ONLY full-stream
    // hash exchange is the (qid, id, score8) triple repartitioned on
    // __qid — HashPartitioning(__qid) satisfies both the (qid, id)
    // dedup clustering and the shortlist rank window, so neither plans
    // its own exchange. A second __qid exchange = the fusion regressed.
    val plan = initialPlan("sim_rerank")
    assert(plan.split(java.util.regex.Pattern.quote("Exchange hashpartitioning(__qid"))
        .length - 1 == 1,
      s"exactly one __qid exchange expected (dedup + shortlist fused):\n$plan")
    // coarse candidates and the float re-fetch both enter by broadcast;
    // the corpus itself is never the shuffled side of a join
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must never key-shuffle into a join:\n$plan")
  }

  test("txt_rake segments phrases once: the ph subtree is persisted, not recomputed") {
    // The word-stat and phrase-assembly branches prune different
    // columns, so exchange reuse can't fire (non-canonical subtrees) —
    // r7's audit found the scan + doc_id shuffle + windows duplicated.
    // The persisted subtree must appear as InMemory scans and leave
    // exactly one parquet scan in the whole plan.
    //
    // r9: the operator eagerly checkpoints + releases the pin
    // (cache-lifecycle contract), so the executed shape is the plan of
    // its localCheckpoint execution.
    val plan = checkpointPlans("txt_rake").maxBy(cacheReads)
    assert(cacheReads(plan) >= 2,
      s"both rake branches must read the persisted ph subtree, got ${cacheReads(plan)}:\n$plan")
  }

  test("dd_incremental: one (band, key) join, existing side never re-hashed per band") {
    val plan = initialPlan("dd_incremental")
    // left join on the band key stays a shuffled equi-join (the shape
    // a bucketed index table would make exchange-free on its side)
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"), plan)
    // final verdict is a map-side-combined min per incoming doc
    assert(plan.contains("HashAggregate"), plan)
  }

  test("sim_incremental: postings probe is an equi-join; vectors enter only by id fetch") {
    val plan = initialPlan("sim_incremental")
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"), plan)
    // the (table, bucket) probe and the by-id vector fetches are all
    // equi-joins; the verdict is a map-side-combined min per new vector
    assert(plan.contains("HashAggregate"), plan)
  }

  test("j8 interval join stays an equi-join with a residual time band") {
    val plan = initialPlan("j8_interval_join")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"interval join must key on voter, not cross:\n$plan")
  }

  test("bounded per-group ranks plan WindowGroupLimit (top-k never full-sorts groups)") {
    // rnk <= k filters over row_number must push into the window as a
    // group limit: each task keeps k rows per group instead of ranking
    // every row — the difference between top-3 and a full sort at 100 TB
    Seq("prof_topvalues", "o4_topk_per_group").foreach { q =>
      val plan = initialPlan(q)
      assert(plan.contains("WindowGroupLimit"),
        s"$q should push its rank filter into a WindowGroupLimit:\n$plan")
    }
    // txt_rake's operator checkpoints eagerly (lifecycle contract) —
    // pin the plan its localCheckpoint execution ran
    assert(checkpointPlans("txt_rake").exists(_.contains("WindowGroupLimit")),
      "txt_rake should push its rank filter into a WindowGroupLimit")
  }

  test("unpartitioned windows appear only where bounded by design") {
    // Single-partition windows serialize the world at scale; the bench
    // tail's recurring `WindowExec: No Partition Defined` warnings are
    // all from k-row windows documented as bounded (topKRanked's final
    // rank over k pre-pruned rows; globalRowNumber's offsets over
    // <= numPartitions rows). Whitelist THOSE queries explicitly so a
    // NEW unpartitioned window anywhere else fails loudly here instead
    // of hiding in 30 known-benign log lines.
    val bounded = Set(
      "o1_ranked_sort",                   // topKRanked: k-row final rank
      "cur_assign_ids",                   // globalRowNumber offsets window
      "samp_stratified", "samp_reservoir", // globalRowNumber offsets window
      "io_zorder",                        // z-order file ids via globalRowNumber
      "io_hilbert",                       // hilbert file ids: same globalRowNumber
                                          // offsets window (one row per partition)
      // io_prune_stats dropped r11: it reads the once-per-JVM manifest
      // (r10 ensureZorderStats refactor) and no longer plans a window.
      "io_compact_plan"                   // metadata-only packing window (one row/file)
    )
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.sparkPlan
      val bad = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
            if w.partitionSpec.isEmpty => w
      }
      if (!bounded(name) && bad.nonEmpty)
        fail(s"$name plans an unpartitioned window — bounded by design? " +
          s"whitelist it with a justification, or fix the plan:\n${bad.head}")
      // keep the whitelist honest: an entry whose plan no longer has an
      // unpartitioned window should be removed, not carried forever
      if (bounded(name) && bad.isEmpty)
        fail(s"$name is whitelisted but plans no unpartitioned window — drop it")
    }
  }

  test("tx_stream_changes recovers commit versions via a broadcast dim, never a shuffle join") {
    // the change feed joins the scanned rows against a file->version
    // dim of manifest scale (one row per added file) — at 100 TB that
    // dim is ~10^5 rows vs ~10^11 data rows, so a SortMergeJoin here
    // would shuffle the entire feed to tag it
    val plan = initialPlan("tx_stream_changes")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("tx_cat_spj plans a storage-partitioned join: zero shuffles under the join") {
    // broadcast would also be shuffle-free at gate scale, but the pin
    // is the CO-BUCKETED property — force the shuffle-join regime
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val q = SparkEntry.queries("tx_cat_spj")(spark, sfDir)
      val smj = q.queryExecution.executedPlan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
      assert(smj.nonEmpty, s"expected a sort-merge join:\n${q.queryExecution.executedPlan}")
      val shuffles = smj.head.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e }
      assert(shuffles.isEmpty,
        s"the co-bucketed join must be shuffle-free:\n${q.queryExecution.executedPlan}")
    }
  }

  test("tx_cat_spjc joins COMPATIBLE bucket counts (8 vs 4) with zero shuffles under the join") {
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val q = SparkEntry.queries("tx_cat_spjc")(spark, sfDir)
      val smj = q.queryExecution.executedPlan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
      assert(smj.nonEmpty, s"expected a sort-merge join:\n${q.queryExecution.executedPlan}")
      val shuffles = smj.head.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e }
      assert(shuffles.isEmpty,
        s"the reduced compatible-count join must be shuffle-free:\n${q.queryExecution.executedPlan}")
    }
  }

  test("no query plans a cartesian product") {
    // The brute-force similarity baselines are non-equi self-joins and
    // legitimately plan BroadcastNestedLoopJoin (one side is known
    // small); CartesianProductExec anywhere is always a regression.
    SparkEntry.queries.keys.foreach { q =>
      val plan = initialPlan(q)
      assert(!plan.contains("CartesianProduct"),
        s"$q plans a cartesian product:\n$plan")
    }
  }

  test("iterative/fan-out operators read their persisted invariants, not re-derived subtrees") {
    // gr_pagerank: the degree-annotated edge list + node set feed every
    // unrolled round (r8 audit: 56 scans without sharing); basket
    // rules: the deduplicated membership set feeds four differently-
    // pruned branches (10 scans without sharing). Both must show cache
    // READS in the executed plan — the persist regressing silently
    // would put the source re-scans back.
    //
    // r9: the operators checkpoint eagerly + release their pins
    // (cache-lifecycle contract), so the cache reads show in the plans
    // of their localCheckpoint executions.
    val prReads = checkpointPlans("gr_pagerank").map(cacheReads).max
    assert(prReads >= 4,
      s"gr_pagerank should serve its rounds from the persisted invariants, got $prReads")
    // r21: basketRules scans the basket-array aggregate ONCE (the
    // single combined generator) and persists only the vocabulary²-
    // bounded count frame, which all four consumers (pairs, two
    // per-item broadcast sides, basket total) must read from cache.
    val br = checkpointPlans("g20_basket_rules").maxBy(cacheReads)
    assert(cacheReads(br) >= 3,
      s"g20_basket_rules should serve its branches from the persisted counts, got ${cacheReads(br)}")
    // the persisted frame must be the vocabulary²-bounded counts,
    // never the per-basket array frame (which is scanned once,
    // unpersisted, by the combined generator)
    val cached = """InMemoryRelation \[([^\]]*)\]""".r.findAllMatchIn(br)
      .map(_.group(1).split(", ").map(_.replaceAll("#\\d+L?$", "")).toSeq).toSeq
    assert(cached.nonEmpty && cached.forall(_ == Seq("item_a", "item_b", "__n")),
      s"basketRules should persist the counts frame, got ${cached.map(_.mkString(",")).distinct}:\n$br")
  }

  test("io_partition_prune: the partition predicate prunes at planning time") {
    // The event_type filter must land in PartitionFilters (directory
    // pruning — non-matching partitions never listed or opened), not
    // ride along as a data filter over a full scan.
    val plan = initialPlan("io_partition_prune")
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.replaceAll("\\s+", " ")
        .matches("(?s).*PartitionFilters: \\[[^\\]]*purchase[^\\]]*\\].*"),
      s"event_type = purchase should be a partition filter:\n$plan")
  }

  test("date filters reach the parquet scan (q5 PushedFilters)") {
    val plan = initialPlan("q5_local_supplier")
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("o_orderdate"), plan)
    // column pruning: the lineitem scan must not read all 16 columns
    assert(plan.contains("ReadSchema"), plan)
  }

  test("q6: every predicate pushes to the scan; no shuffle before the scalar agg") {
    val plan = initialPlan("q6_forecast_revenue")
    Seq("l_shipdate", "l_discount", "l_quantity").foreach(c =>
      assert(plan.contains(c), s"missing pushed predicate on $c:\n$plan"))
    assert(plan.contains("PushedFilters"), plan)
    // partial agg map-side, single exchange feeding the final 1-row agg
    assert(plan.split("Exchange").length <= 3, s"too many exchanges:\n$plan")
  }

  test("scalar-count and argmax aggregate map-side before the final exchange") {
    // partial_count / partial aggregation markers show map-side combine
    val g3 = initialPlan("g3_scalar_count")
    assert(g3.contains("partial_count") || g3.contains("HashAggregate"), g3)
  }

  test("correlated subqueries decorrelate into joins, never per-row re-execution") {
    // q4 EXISTS → LEFT SEMI; q22 NOT EXISTS → LEFT ANTI; q17's
    // correlated scalar avg → ONE aggregate-then-join pass. A plan
    // that kept a correlated subquery node would re-run the inner
    // query per outer row — O(n²) at scale.
    val q4 = initialPlan("q4_priority_exists")
    assert(q4.contains("LeftSemi"), s"q4 EXISTS must plan a semi join:\n$q4")

    val q22 = initialPlan("q22_idle_rich")
    assert(q22.contains("LeftAnti"), s"q22 NOT EXISTS must plan an anti join:\n$q22")
    assert(q22.contains("Subquery") || q22.contains("BroadcastHashJoin"),
      s"q22 scalar threshold should be a one-row subquery stage:\n$q22")

    val q17 = initialPlan("q17_small_qty")
    // decorrelated: avg-per-partkey appears as a plain aggregate joined
    // back on the key — so exactly one avg aggregate, and a join on
    // l_partkey/p_partkey; no nested-loop over lineitem
    assert(q17.contains("avg("), s"q17 must aggregate avg once:\n$q17")
    assert(!q17.contains("CartesianProduct"), q17)
    Seq(q4, q22, q17).foreach(p =>
      assert(!p.contains("InSubqueryExec") || !p.contains("CartesianProduct"), p))
  }

  test("runtime bloom filters reach the fact scan when dims cannot broadcast (q5, q8)") {
    // VERDICT r8 item 7, both directions of the documented decision:
    //
    // (a) At the default config every q5/q8 dim broadcasts, and Spark's
    //     InjectRuntimeFilter deliberately does NOT add a bloom filter
    //     to the probe side of a broadcast join — the broadcast hash
    //     lookup already drops non-matching fact rows at zero extra
    //     cost, so a bloom there is pure overhead. No `might_contain`
    //     in the default plan is the CORRECT shape, not a missed
    //     optimization. (Spark 4 removed semiJoinReduction entirely —
    //     the config errors on set — so bloom is the only runtime
    //     filter that exists.)
    //
    // (b) The 100 TB case the verdict asked about is a dim too big to
    //     broadcast. Pin that by disabling broadcast: the selective
    //     dim filter must then re-appear on the lineitem scan as a
    //     bloom-filter predicate (might_contain(..., xxhash64(key))),
    //     i.e. the shapes stay runtime-filterable exactly when the
    //     broadcast pushdown stops applying.
    val default5 = initialPlan("q5_local_supplier")
    assert(default5.contains("BroadcastHashJoin") && !default5.contains("might_contain"),
      s"q5 default shape should be broadcast-pushdown with no redundant bloom:\n$default5")
    withSQLConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      Seq("q5_local_supplier", "q8_market_share").foreach { q =>
        val p = SparkEntry.queries(q)(spark, sfDir).queryExecution.optimizedPlan.toString
        assert(p.contains("might_contain"),
          s"$q with broadcasts off must receive a runtime bloom filter on the fact side:\n$p")
      }
    }
  }

  test("tx_sql_prune: the scan is log-backed (TxnLogFileIndex) with the range pushed down") {
    val plan = initialPlan("tx_sql_prune")
    assert(plan.contains("TxnLogFileIndex"),
      s"the SQL path must scan through the log's file index:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("o_orderkey"),
      s"the WHERE range must reach the scan:\n$plan")
  }

  test("tx_str_prune / tx_ts_prune: typed predicates reach the log-backed scan") {
    val p1 = initialPlan("tx_str_prune")
    assert(p1.contains("TxnLogFileIndex"),
      s"the string-equality path must scan through the log's file index:\n$p1")
    assert(p1.contains("PushedFilters") && p1.contains("o_orderpriority"),
      s"the string predicate must reach the scan:\n$p1")
    val p2 = initialPlan("tx_ts_prune")
    assert(p2.contains("TxnLogFileIndex"),
      s"the timestamp path must scan through the log's file index:\n$p2")
    assert(p2.contains("PushedFilters") && p2.contains("o_orderdate"),
      s"the timestamp predicate must reach the scan:\n$p2")
  }

  test("tx_delete_read: the DV dim joins broadcast; the table is never shuffled for its own delete bitmaps") {
    val plan = initialPlan("tx_delete_read")
    assert(plan.contains("BroadcastHashJoin"),
      s"the (file, bitmap) dim must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"applying deletion vectors must not shuffle the table:\n$plan")
  }

  test("cur_decontaminate_bloom: corpus screened by a scan-level bit probe, joins only on survivors") {
    val plan = initialPlan("cur_decontaminate_bloom")
    // the bloom probe is a per-row codegen predicate (shiftright over
    // the broadcast word array) sitting in a Filter — BEFORE any join
    assert(plan.contains("shiftright"),
      s"bloom bit probe missing from the plan:\n$plan")
    // both the confirming semi-join and the final anti-join run over
    // bloom survivors / contaminated ids — small sides, broadcast;
    // the corpus must never be shuffled into a sort-merge join
    assert(!plan.contains("SortMergeJoin"),
      s"decontamination must not sort-merge the corpus:\n$plan")
  }

  test("decontamination beyond the broadcast threshold: plain path shuffles the corpus, bloom path still scans") {
    // the regime the bloom variant exists for — an eval set too big
    // to broadcast. The plain anti-join degrades to shuffling every
    // exploded corpus shingle into a sort-merge join; the bloom
    // path's word array is a plan literal, immune to the threshold.
    withSQLConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val plain = initialPlan("cur_decontaminate")
      assert(plain.contains("SortMergeJoin"),
        s"fixture check: plain decontamination must sort-merge with broadcasts off:\n$plain")
      val bloomed = initialPlan("cur_decontaminate_bloom")
      assert(bloomed.contains("shiftright") && !bloomed.contains("SortMergeJoin"),
        s"the bloom screen must survive the broadcast threshold:\n$bloomed")
    }
  }

  test("dd_lsh_star: ONE self-join — the banding pipeline appears exactly twice, " +
       "the capped side prunes via WindowGroupLimit (r20)") {
    import org.apache.spark.sql.functions.col
    val plan = graft.operators.DedupOps.lshCandidatePairsCappedStar(
        Tables.documents(spark, sfDir), "doc_id", "text", bucketCap = 32)
      .queryExecution.executedPlan.toString
    // r19 ran THREE consumers of the ranked banding (in-cap pairs,
    // rank-1 frame, star side) = 3 scans + signature pipelines; the
    // one-join spelling folds star edges into the pair join's filter,
    // so the corpus scans exactly twice (once per join side — the
    // sides differ by the pushed rank cap, which is the point: the
    // capped side gets a WindowGroupLimit and never materializes
    // over-cap rows into its sort)
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 2, s"expected exactly 2 corpus scans, got $scans:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"the in-cap side must prune via WindowGroupLimit:\n$plan")
    val smjs = "SortMergeJoin".r.findAllIn(plan).length
    assert(smjs == 1, s"star + in-cap pairs must be ONE join, got $smjs:\n$plan")
    // one distinct (the r19 spelling had an inner AND an outer one)
    val aggExchanges =
      plan.sliding("Exchange hashpartitioning(d1".length)
        .count(_ == "Exchange hashpartitioning(d1")
    assert(aggExchanges <= 1, s"at most one distinct exchange:\n$plan")
  }

  test("multimodal decode is narrow: the audio/video feature rows have " +
       "ZERO data exchanges (r20)") {
    // synthesize + platform-codec decode + feature extraction must all
    // ride the scan partitions — a shuffle here would serialize raw
    // asset bytes across the wire at 100 TB. The one allowed exchange
    // is the scale-adaptive round-robin fan-out of the 8-byte id
    // column BELOW the synthesis (spread — identity on multi-split
    // inputs): it moves keys, never asset bytes.
    Seq("mm_audio_features", "mm_video_frames", "mm_scene_cuts").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning") &&
        !plan.contains("Exchange rangepartitioning"),
        s"$q must not shuffle data:\n$plan")
      // r21 (advice): assert the invariant on the exchange NODES'
      // output schemas, not on substring counts — no exchange, of any
      // partitioning, may carry a binary column (the payload), and
      // the id fan-out is bounded to at most ONE round-robin exchange.
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      exchanges.foreach { e =>
        val binCols = e.output.filter(
          _.dataType == org.apache.spark.sql.types.BinaryType).map(_.name)
        assert(binCols.isEmpty,
          s"$q: exchange carries payload bytes ${binCols.mkString(",")}:\n$plan")
      }
      assert(exchanges.length <= 1,
        s"$q: at most one round-robin id fan-out exchange, got ${exchanges.length}:\n$plan")
    }
  }

  test("mm_frame_sample: the text payload moves at most ONCE (r21)") {
    // documentsAsAssets lifts real text bytes into the asset column,
    // so its under-split fan-out legitimately carries the payload —
    // but only that single round-robin move is allowed (guide §2.3:
    // heavy bytes cross the wire exactly once, and only because the
    // per-row decode needs them); any keyed exchange above the decode
    // would be a second payload shuffle.
    val df = SparkEntry.queries("mm_frame_sample")(spark, sfDir)
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.length <= 1,
      s"mm_frame_sample: payload may move at most once, got ${exchanges.length}")
    exchanges.foreach(e => assert(
      e.outputPartitioning.toString.contains("RoundRobinPartitioning"),
      s"mm_frame_sample: the one allowed exchange is the round-robin fan-out, got ${e.outputPartitioning}"))
  }

  test("mm_audio_dedup: exactly ONE hash exchange (the fingerprint " +
       "window), no join, no pair generation (r20)") {
    val plan = initialPlan("mm_audio_dedup")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"hamming-0 dedup is one fingerprint shuffle, got $exchanges:\n$plan")
    assert(!plan.contains("Join"),
      s"exact-match election must not join or emit pairs:\n$plan")
  }

  test("Explain sees through the eager operators' checkpoints: each plan reads parquet") {
    // each of these operators localCheckpoints inside the call, so the
    // frame it returns explains as a bare Scan ExistingRDD; the
    // recorder must still show the plan that read the tables
    Seq("gr_pagerank", "g20_basket_rules", "gr_triangles", "dd_ngram_capped", "txt_rake")
      .foreach { q =>
        val plans = checkpointPlans(q)
        assert(plans.exists(_.contains("FileScan parquet")),
          s"$q: no recorded localCheckpoint plan reads parquet:\n${plans.mkString("\n\n")}")
      }
  }
}
