package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, GraphOps, VectorOps}

/** Empirical scaling probe: replicate the corpus k× and measure the
  * heavy operators, because "would this hold at 1000×?" deserves a
  * measurement, not a hope.
  *
  *   sbt 'runMain graft.ScaleProbe [sfDir] [maxK]'
  *
  * Documents are SALTED per copy (every token suffixed with the copy
  * index) so copies don't near-dup each other — the pair structure
  * stays constant per copy and signature/join cost is what scales.
  * Embeddings replicate verbatim: a dup-heavy corpus is exactly the
  * adversarial load for LSH ANN (buckets grow k-fold, candidate pairs
  * k²-fold within identical groups), which is worth seeing honestly.
  *
  * Prints one JSON line per (op, k): {"op":…,"k":…,"rows":…,"sec":…}.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val maxK = args.lift(1).map(_.toInt).getOrElse(16)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.configure(SparkSession.builder(), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def replicateDocs(k: Int): DataFrame =
      (0 until k).map { i =>
        Tables.documents(spark, sfDir).select(
          (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
          array_join(transform(split(col("text"), " "), t => concat(t, lit("_" + i))), " ")
            .as("text"))
      }.reduce(_ union _)

    def replicateDocIds(k: Int): DataFrame =
      (0 until k).map { i =>
        Tables.documents(spark, sfDir).select(
          (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"))
      }.reduce(_ union _)

    def replicateVecs(k: Int): DataFrame =
      (0 until k).map { i =>
        Tables.embeddings(spark, sfDir).select(
          (col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"), col("embedding"))
      }.reduce(_ union _)

    def time(op: String, k: Int)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val rows = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"op":"$op","k":$k,"rows":$rows,"sec":$sec%.2f}""")
    }

    // UNsalted replication: copy i re-ids but keeps the TEXT — every
    // doc becomes a k-dup group (all copies share every band key at
    // any band count), the adversarial load for uncapped LSH stages
    def dupDocs(k: Int): DataFrame =
      (0 until k).map { i =>
        Tables.documents(spark, sfDir).select(
          (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"), col("text"))
      }.reduce(_ union _)

    // Adversarial corpus for the DF cap: every doc gets the SAME
    // (unsalted) leading phrase, so its shingles sit in all n·k docs —
    // the textbook formulation would fan out (n·k)² pairs from them;
    // the capped variant must stay ~linear in k.
    def stopSalted(k: Int): DataFrame =
      replicateDocs(k).withColumn("text",
        concat(lit("common header boilerplate text follows here "), col("text")))

    // Events replicate with DISJOINT keys per copy (user_id offset):
    // volume grows k×, per-key event density stays constant — the load
    // shape a k×-bigger tenant population produces.
    def replicateEvents(k: Int): DataFrame =
      (0 until k).map { i =>
        Tables.events(spark, sfDir).select(
          (col("user_id") + lit(i.toLong * 10000000L)).as("user_id"),
          col("event_type"),
          (col("event_id") + lit(i.toLong * 1000000000L)).as("event_id"),
          col("ts"))
      }.reduce(_ union _)

    // optional 3rd arg: comma-separated op filter (default: all)
    val only = args.lift(2).map(_.split(",").toSet)
    def enabled(op: String): Boolean = only.forall(_.contains(op))

    val ks = Iterator.iterate(1)(_ * 4).takeWhile(_ <= maxK).toSeq
    ks.foreach { k =>
      if (enabled("dd_minhash_lsh")) time("dd_minhash_lsh", k)(
        DedupOps.lshCandidatePairs(replicateDocs(k), "doc_id", "text"))
      // DUP-HEAVY text-LSH ladder (r19, the cur_neardup_prune guard):
      // replication WITHOUT salting makes every doc a k-dup group, so
      // every band bucket holds k near-identical members — the
      // uncapped stage materializes ~k² pairs per group (the text twin
      // of the r18 sf100 vector receipt), the capped stage is bounded
      // at cap² per bucket and must stay ~linear in corpus size
      if (enabled("dd_lsh_dup")) time("dd_lsh_dup", k)(
        DedupOps.lshCandidatePairs(dupDocs(k), "doc_id", "text"))
      if (enabled("dd_lsh_dup_capped")) time("dd_lsh_dup_capped", k)(
        DedupOps.lshCandidatePairsCapped(dupDocs(k), "doc_id", "text",
          bucketCap = 32))
      // star: cap²/2 + (k − cap) per bucket — complete dup-group
      // collapse at linear extra cost over the cap
      if (enabled("dd_lsh_dup_star")) time("dd_lsh_dup_star", k)(
        DedupOps.lshCandidatePairsCappedStar(dupDocs(k), "doc_id", "text",
          bucketCap = 32))
      if (enabled("dd_ngram_jaccard")) time("dd_ngram_jaccard", k)(
        DedupOps.ngramJaccardPairs(replicateDocs(k), "doc_id", "text", 0.5))
      if (enabled("dd_ngram_capped_stop")) time("dd_ngram_capped_stop", k)(
        DedupOps.ngramJaccardPairsCapped(stopSalted(k), "doc_id", "text", 0.5, dfCap = 25))
      // Span-duplication profile: clean load (copies salted, spans
      // per-copy unique) vs adversarial boilerplate — a 12-token
      // header shared by EVERY doc across copies puts 5 spans at
      // df = 5000k each. The groupBy df partial-combines map-side, so
      // the hot spans reach the reducer as partial counts and cost
      // must track total span count, not fan out on the hot key.
      if (enabled("dd_span_dups")) time("dd_span_dups", k)(
        DedupOps.dupSpans(replicateDocs(k), "doc_id", "text"))
      if (enabled("dd_span_boiler")) time("dd_span_boiler", k)(
        DedupOps.dupSpans(replicateDocs(k).withColumn("text",
          concat(lit("one two three four five six seven eight nine ten eleven twelve "),
            col("text"))), "doc_id", "text"))
      // Span REWRITE ladders (r19, X-D19): same frames as the profile
      // plus the rewrite join — clean load, and the adversarial
      // all-docs boilerplate header (every doc rewrites, the hot span
      // reaches the df reducer as partial counts). Cost must track
      // total tokens, never fan out on the hot span.
      if (enabled("dd_span_rewrite")) time("dd_span_rewrite", k)(
        DedupOps.dropDupSpans(replicateDocs(k), "doc_id", "text"))
      if (enabled("dd_span_rw_boiler")) time("dd_span_rw_boiler", k)(
        DedupOps.dropDupSpans(replicateDocs(k).withColumn("text",
          concat(lit("one two three four five six seven eight nine ten eleven twelve "),
            col("text"))), "doc_id", "text"))
      // BPE train+encode ladder (r19, X-T14): salted replication grows
      // the VOCABULARY k× (worst case for the word memo) — training
      // stays bounded (top-2048 vocab to the driver), encode must
      // stay ~linear in tokens
      if (enabled("txt_bpe")) time("txt_bpe", k) {
        val docs = replicateDocs(k)
        val norm = DedupOps.normalizeText(col("text"))
        val merges = graft.operators.BpeOps.trainMerges(
          docs.select(norm.as("__nt")), col("__nt"))
        docs.select(org.apache.spark.sql.functions.size(
          graft.operators.BpeOps.bpeTokens(norm, merges)).as("n"))
      }
      // BPE MERGE-COUNT ladder (r20): fixed salted ×4 corpus, merge
      // table grows 64·k (k=1→64, 4→256, 16→1024 — production depth).
      // Training runs OUTSIDE the timer; the timed encode's per-row
      // cost must stay ~flat vs merge count (the Zipf word memo makes
      // amortized cost O(new words × rules), and new words are a
      // vanishing fraction of occurrences)
      if (enabled("txt_bpe_merges")) {
        val docs = (0 until 4).map { i =>
          Tables.documents(spark, sfDir).select(
            (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
            array_join(transform(split(col("text"), " "),
              t => concat(t, lit("x" + i))), " ").as("text"))
        }.reduce(_ union _)
        val norm = DedupOps.normalizeText(col("text"))
        val merges = graft.operators.BpeOps.trainMerges(
          docs.select(norm.as("__nt")), col("__nt"),
          numMerges = 64 * k, vocabSize = 2048)
        time("txt_bpe_merges", k)(
          docs.select(org.apache.spark.sql.functions.size(
            graft.operators.BpeOps.bpeTokens(norm, merges)).as("n")))
      }
      // DSIR estimate phase shuffles 1024 bucket keys regardless of
      // corpus size; scoring is a scan fold — cost must stay ~linear
      if (enabled("cur_dsir")) time("cur_dsir", k)(
        graft.operators.CorpusOps.dsirWeights(replicateDocs(k), "doc_id", "text",
          isTarget = col("doc_id") % 2 === 0))
      // RAKE: word-stat shuffle bounded by |vocab| (which SALTED
      // replication grows k-fold — worst case for the word key)
      if (enabled("txt_rake")) time("txt_rake", k)(
        graft.operators.CorpusOps.rakeKeywords(replicateDocs(k), "doc_id", "text"))
      // Incremental span profile: FIXED batch (base corpus) against a
      // k×-grown span index PERSISTED to parquet first (the production
      // contract — the index is a stored artifact, not recomputed per
      // ingest) — timed per-ingest cost must not track k
      if (enabled("dd_span_incr")) {
        val idxDir = java.nio.file.Files.createTempDirectory(s"graft-spanidx-$k")
        try {
          DedupOps.spanIndex(replicateDocs(k), "doc_id", "text")
            .write.mode("overwrite").parquet(idxDir.toString)
          time("dd_span_incr", k)(
            DedupOps.incrementalSpanProfile(spark.read.parquet(idxDir.toString),
              Tables.documents(spark, sfDir), "doc_id", "text"))
        } finally {
          // probe hygiene: don't leave a k×-sized parquet index per
          // scale step accumulating on the probe box
          import java.nio.file.{Files, Path}
          import java.util.Comparator
          Files.walk(idxDir).sorted(Comparator.reverseOrder[Path]())
            .forEach(p => Files.deleteIfExists(p))
        }
      }
      // PageRank over a k×-replicated (id-offset) edge list: a fixed 3
      // rounds, each one (src) join + map-side-combined (dst) sum —
      // cost must track EDGE COUNT ~linearly; the node set is disjoint
      // per copy so component structure is constant per copy
      if (enabled("gr_pagerank")) time("gr_pagerank", k)(
        GraphOps.pageRank(
          (0 until k).map { i =>
            val off = lit(i.toLong * 100000000L)
            Tables.orders(spark, sfDir)
              .select((col("o_custkey") * 3 + off).as("src"),
                (col("o_orderkey") * 3 + 1 + off).as("dst"))
              .unionByName(Tables.lineitem(spark, sfDir)
                .select((col("l_orderkey") * 3 + 1 + off).as("src"),
                  (col("l_suppkey") * 3 + 2 + off).as("dst")))
          }.reduce(_ union _), "src", "dst"))
      // Basket rules over k×-replicated orders (disjoint orderkeys,
      // same item vocabulary): pair fan-out is bounded by basket
      // width² per order, so cost must track ORDER count ~linearly —
      // the (item_a, item_b) agg keys stay constant (100² max) while
      // their counts grow, the map-side-combine regime
      if (enabled("g20_basket_rules")) time("g20_basket_rules", k)(
        graft.operators.RelationalOps.basketRules(
          (0 until k).map { i =>
            Tables.lineitem(spark, sfDir).select(
              (col("l_orderkey") + lit(i.toLong * 100000000L)).as("oid"),
              pmod(col("l_partkey"), lit(100)).as("item"))
          }.reduce(_ union _), "oid", "item"))
      // Greedy watermark dedup (s9) over k× events with disjoint keys:
      // one key exchange + in-partition sort + an O(1)-state narrow
      // pass — cost must track event volume ~linearly
      if (enabled("s9_dedup_delay")) time("s9_dedup_delay", k)(
        graft.operators.RelationalOps.dedupWithinDelay(replicateEvents(k),
          Seq("user_id", "event_type"), "ts", Seq("event_id"),
          48L * 3600 * 1000000L))
      // Batch Space-Saving fold (g21) over k× events: the group count
      // stays 5 and counters stay O(k_sketch) per group, so cost must
      // track event volume ~linearly with constant state
      if (enabled("g21_heavy")) {
        import spark.implicits._
        time("g21_heavy", k)(
          graft.streaming.TopKPipeline.heavyHittersBatch(
            replicateEvents(k).select(col("event_type").as("group"),
              expr("150 div (1 + user_id % 150)").as("item"),
              col("event_id"), col("ts")).as[graft.streaming.TopKInput], 8)
            .toDF("grp", "item", "cnt_hi", "cnt_lo"))
      }
      // Multimodal decode ladders (r20, X-M6/M7): synthesize + REAL
      // platform-codec decode per asset is a narrow scan-fused pass —
      // per-asset cost is constant (fixed sample/frame budgets), so
      // wall must track asset count ~linearly with zero shuffles.
      // Replication re-ids docs; asset content derives from the id,
      // so every copy is a distinct encode+decode.
      if (enabled("mm_audio_decode")) time("mm_audio_decode", k)(
        graft.multimodal.MultimodalOps.decodeAudioFeatures(
          graft.multimodal.MultimodalOps.syntheticWavAssets(
            replicateDocIds(k))).toDF())
      if (enabled("mm_video_decode")) time("mm_video_decode", k)(
        graft.multimodal.MultimodalOps.decodeVideoFrames(
          graft.multimodal.MultimodalOps.syntheticGifAssets(
            replicateDocIds(k))).toDF())
      // Cross-modal curation ladder (r20, X-C20): the full text ∧
      // image ∧ audio conjunction over a k× corpus. Every stage is
      // individually receipted (star-capped banding, pigeonhole
      // pairs, hamming-0 window, decode ladders); this receipts the
      // COMPOSITION — wall must stay ~linear in corpus size since no
      // stage is pairwise-unbounded. Salted replication keeps text
      // groups honest; image/audio stages derive from the fresh ids.
      if (enabled("mm_xmodal_prune")) time("mm_xmodal_prune", k) {
        import graft.multimodal.MultimodalOps
        import graft.operators.{DedupOps, GraphOps}
        val docs = replicateDocs(k)
        val imgLosers = GraphOps.dedupClusters(
          DedupOps.fingerprintPairs(
            MultimodalOps.perceptualFeatures(
              MultimodalOps.syntheticPngAssets(docs)).toDF()
              .select(col("asset_id"), col("dhash")),
            "asset_id", "dhash", maxHamming = 3, bits = 56))
          .filter(!col("is_kept")).select(col("doc_id"))
        val aW = org.apache.spark.sql.expressions.Window
          .partitionBy(col("fingerprint"))
        val audLosers = MultimodalOps.audioFingerprints(
            MultimodalOps.syntheticWavAssets(docs)).toDF()
          .withColumn("__kept", min(col("asset_id")).over(aW))
          .filter(col("asset_id") =!= col("__kept"))
          .select(col("asset_id").as("doc_id"))
        val txtLosers = GraphOps.dedupClusters(
            DedupOps.lshCandidatePairsCappedStar(docs, "doc_id", "text",
              bucketCap = 32))
          .filter(!col("is_kept")).select(col("doc_id"))
        docs.select(col("doc_id"))
          .join(imgLosers.withColumn("__li", lit(true)), Seq("doc_id"), "left")
          .join(audLosers.withColumn("__la", lit(true)), Seq("doc_id"), "left")
          .join(txtLosers.withColumn("__lt", lit(true)), Seq("doc_id"), "left")
          .select(col("doc_id"),
            (col("__li").isNull && col("__la").isNull && col("__lt").isNull)
              .as("keep"))
      }
      // Power iteration: per round = one scan + a (dim, Σ) aggregate —
      // cost must track corpus size linearly, never dim²
      if (enabled("vec_power_iter")) time("vec_power_iter", k)(
        VectorOps.powerIteration(replicateVecs(k), "embedding"))
      // K-means: training reads the 25% slice, assignment one scan
      if (enabled("vec_kmeans")) time("vec_kmeans", k)(
        VectorOps.kmeansAssign(replicateVecs(k), "vec_id", "embedding",
          trainPct = 25))
      if (enabled("sim_ann_lsh")) time("sim_ann_lsh", k)(
        VectorOps.annCosinePairs(replicateVecs(k), "vec_id", "embedding", 0.4))
      if (enabled("sim_ann_capped")) time("sim_ann_capped", k)(
        VectorOps.annCosinePairsCapped(replicateVecs(k), "vec_id", "embedding", 0.4,
          bucketCap = 32))
      // A/B vs sim_ann_lsh: band on 8-dim projections instead of the
      // full 64-dim vectors — isolates what the narrower banding stage
      // buys (and what recall it costs) on the same dup-heavy load.
      // Probes the occupancy-adaptive default spelling (r17): band
      // bits grow with k, expected occupancy constant, so the ladder
      // must stay ~linear where the fixed-bits form was superlinear
      if (enabled("sim_ann_projected")) time("sim_ann_projected", k)(
        VectorOps.annCosinePairsProjected(replicateVecs(k), "vec_id", "embedding", 0.4,
          targetOccupancy = 16))
      if (enabled("sim_ann_proj_capped")) time("sim_ann_proj_capped", k)(
        VectorOps.annCosinePairsProjected(replicateVecs(k), "vec_id", "embedding", 0.4,
          bucketCap = 32))
      // Distributed CC forced (localThreshold=0): every driver query's
      // candidate graph takes the union-find shortcut, so this probe is
      // where the label-propagation path is actually exercised at
      // scale. Rounds must track component DIAMETER (~constant for
      // dedup cliques), NOT corpus size k — that O(diameter) bound is
      // the whole scale argument for min-label propagation.
      if (enabled("cc_distributed")) {
        val pairs = DedupOps.lshCandidatePairs(replicateDocs(k), "doc_id", "text")
        val t0 = System.nanoTime()
        val rows = GraphOps.connectedComponents(pairs, "d1", "d2",
          localThreshold = 0L).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"op":"cc_distributed","k":$k,"rows":$rows,"sec":$sec%.2f,"rounds":${GraphOps.lastRunRounds}}""")
      }
    }

    // Graph-SHAPE probes for distributed CC (forced, localThreshold=0),
    // k-independent: the r4 probe ran on near-dup cliques (diameter
    // 3–4); these are the two adversarial shapes that bound the design.
    // - cc_star: one hub node in 100k edges — the hot-key load. The
    //   min label floods the whole component in one round; what the
    //   probe checks is that the hub's 100k-row neighborhood aggregates
    //   map-side (partial min per partition) instead of funneling
    //   through one reducer.
    // - cc_path32: a 32-edge chain — worst-case diameter per node
    //   count. Min-label propagation moves one hop per round, so
    //   rounds ≈ path length: the honest O(diameter) cost, which is
    //   why the operator suits dedup cliques (tiny diameter) and a
    //   diameter-proportional bound must be chosen for skinny graphs.
    def timeCC(op: String, edges: DataFrame, maxIter: Int): Unit = {
      val t0 = System.nanoTime()
      val rows = GraphOps.connectedComponents(edges, "src", "dst",
        maxIter = maxIter, localThreshold = 0L).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"op":"$op","k":1,"rows":$rows,"sec":$sec%.2f,"rounds":${GraphOps.lastRunRounds}}""")
    }
    // Top-k retrieval scale A/B: FIXED probe set (100 base vectors, a
    // predicate replication never matches) against a k×-replicated
    // corpus. The brute path's work is |corpus| × |probes| (linear in k
    // here, but linear in |probes| too — the killer when probes grow);
    // the ANN path only touches the probes' bucket populations.
    ks.foreach { k =>
      if (enabled("topk_brute")) time("topk_brute", k)(
        VectorOps.topKNeighbors(replicateVecs(k), "vec_id", "embedding",
          col("vec_id") < 100, 10))
      if (enabled("topk_ann")) time("topk_ann", k)(
        VectorOps.topKNeighborsAnn(replicateVecs(k), "vec_id", "embedding",
          col("vec_id") < 100, 10))
      // the production knob: bits/table grows with log(corpus) so
      // bucket population — and with it per-probe candidate work —
      // stays bounded as the corpus scales (the driver query keeps
      // 4×4 only because its oracle must enumerate the hyperplanes)
      if (enabled("topk_ann8")) time("topk_ann8", k)(
        VectorOps.topKNeighborsAnn(replicateVecs(k), "vec_id", "embedding",
          col("vec_id") < 100, 10, bitsPerTable = 8))
      // GROWING probe set (1% of the corpus, so probes scale with k):
      // the regime that kills brute force — its scored-row count is
      // |corpus| × |probes| = k² — while ANN work per probe stays
      // bucket-bounded
      if (enabled("topk_brute_g")) time("topk_brute_g", k)(
        VectorOps.topKNeighbors(replicateVecs(k), "vec_id", "embedding",
          col("vec_id") % 100 === 0, 10))
      if (enabled("topk_ann_g")) time("topk_ann_g", k)(
        VectorOps.topKNeighborsAnn(replicateVecs(k), "vec_id", "embedding",
          col("vec_id") % 100 === 0, 10, bitsPerTable = 8))
      // IVF route under the growing-probe regime; nlist scales with the
      // corpus (the production knob) so cell populations stay bounded —
      // capped at 64 here because the codebook enters the plan as
      // literals and a 256-cell expression would measure codegen, not
      // retrieval
      if (enabled("topk_ivf_g")) time("topk_ivf_g", k)(
        VectorOps.topKNeighborsIvf(replicateVecs(k), "vec_id", "embedding",
          col("vec_id") % 100 === 0, 10, nlist = math.min(16 * k, 64), nprobe = 3))
      // two-stage rerank under the same regime (8-bit tables like
      // topk_ann_g, so the A/B isolates the coarse+rerank overhead)
      if (enabled("topk_rerank_g")) time("topk_rerank_g", k)(
        VectorOps.topKNeighborsRerank(replicateVecs(k), "vec_id", "embedding",
          col("vec_id") % 100 === 0, 10, bitsPerTable = 8))
    }

    // Incremental-dedup scale probe: the ingest batch is FIXED (the
    // base corpus's doc_id % 10 = 0 slice); the existing corpus's band
    // index grows k× but is MATERIALIZED first (cached), exactly as a
    // production pipeline persists it — so the timed body is what an
    // ingest batch actually pays: signature the batch + one (band, key)
    // join against the index.
    if (enabled("dd_incremental")) ks.foreach { k =>
      val idx = DedupOps.bandIndex(
        replicateDocs(k).filter(col("doc_id") % 10 =!= 0), "doc_id", "text").cache()
      idx.count() // materialize outside the timed body
      val batch = Tables.documents(spark, sfDir).filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"))
      time("dd_incremental", k)(
        DedupOps.incrementalDedup(idx, batch, "doc_id", "text"))
      idx.unpersist()
    }

    // Incremental ANN ingest probe, same protocol as dd_incremental:
    // FIXED new-vector batch, k×-grown existing corpus whose postings
    // index is materialized first. Embeddings replicate VERBATIM, so
    // every copy of a base vector collides with the batch — candidate
    // volume grows k-fold by construction; what the probe checks is
    // that cost tracks that candidate volume, not the corpus scan.
    if (enabled("sim_incremental")) ks.foreach { k =>
      val ex = replicateVecs(k).filter(col("vec_id") % 10 =!= 0)
      val idx = VectorOps.lshIndex(ex, "vec_id", "embedding").cache()
      idx.count() // materialize outside the timed body
      val batch = Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") % 10 === 0)
      time("sim_incremental", k)(
        VectorOps.incrementalAnnDedup(idx, ex, batch, "vec_id", "embedding", 0.45))
      idx.unpersist()
    }

    // CDF-maintained index refresh (r18, X-D17): the source corpus
    // grows k×, the ingest DELTA is fixed (the base %10 slice) — the
    // timed body is one maintainIndexInto refresh of that delta
    // version. Per-refresh cost must track the delta, not the corpus:
    // the feed reads only the delta commit's files, the retraction is
    // file-pruned on the index, and indexOf runs over delta rows only.
    if (enabled("ix_refresh")) ks.foreach { k =>
      import graft.sources.{TxnLog, TxnStream}
      val src = java.nio.file.Files.createTempDirectory(s"probe-ixsrc-$k").toString
      val tgt = java.nio.file.Files.createTempDirectory(s"probe-ixtgt-$k").toString
      TxnLog.init(src); TxnLog.init(tgt)
      val base = replicateDocs(k).filter(col("doc_id") % 10 =!= 0)
      TxnLog.commit(src, "append", TxnLog.stage(base, src, "b"), Nil,
        readVersion = 0L, txnId = "b")
      def indexOf(df: DataFrame) = DedupOps.bandIndex(df, "doc_id", "text")
      TxnStream.maintainIndexInto(spark, src, tgt, "ix", "doc_id")(indexOf) // initial build, untimed
      val batch = Tables.documents(spark, sfDir).filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"))
      TxnLog.commit(src, "append", TxnLog.stage(batch, src, "d"), Nil,
        readVersion = 0L, txnId = "d")
      val t0 = System.nanoTime()
      val applied = TxnStream.maintainIndexInto(spark, src, tgt, "ix", "doc_id")(indexOf)
      val sec = (System.nanoTime() - t0) / 1e9
      require(applied == Seq(2L), s"expected delta version applied, got $applied")
      val deltaRows = TxnStream.readChanges(spark, tgt, 1L, 2L).count()
      println(f"""{"op":"ix_refresh","k":$k,"rows":$deltaRows,"sec":$sec%.2f}""")
    }

    // r20: refresh cost WITH index hygiene interleaved — the index is
    // built over k batches, each followed by compaction (DV-dense +
    // small-file) + checkpoint + vacuum on the TARGET; the timed
    // refresh of one more FIXED batch must stay flat vs k (hygiene
    // commits are row-preserving, so they never echo into the feed,
    // and the compacted layout keeps the retraction deleteWhere from
    // touching one file per historical refresh).
    if (enabled("ix_refresh_hygiene")) ks.foreach { k =>
      import graft.sources.{TxnLog, TxnStream}
      val src = java.nio.file.Files.createTempDirectory(s"probe-ixhsrc-$k").toString
      val tgt = java.nio.file.Files.createTempDirectory(s"probe-ixhtgt-$k").toString
      TxnLog.init(src); TxnLog.init(tgt)
      def indexOf(df: DataFrame) = DedupOps.bandIndex(df, "doc_id", "text")
      (0 until k).foreach { i =>
        val b = Tables.documents(spark, sfDir).select(
          (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit("x" + i))), " ").as("text"))
        TxnLog.commit(src, "append", TxnLog.stage(b, src, s"b$i"), Nil,
          readVersion = 0L, txnId = s"b$i")
        TxnStream.maintainIndexInto(spark, src, tgt, "ixh", "doc_id")(indexOf)
        TxnLog.optimizeCompactDeletes(spark, tgt, 0.05, s"hyg-dv-$i")
        TxnLog.compactSmallFiles(spark, tgt, 1L << 24, 1L << 27, s"hyg-cf-$i")
        TxnLog.checkpoint(tgt)
        TxnLog.vacuum(tgt, TxnLog.currentVersion(tgt))
      }
      val batch = Tables.documents(spark, sfDir)
        .select((col("doc_id") + lit(990000000L)).as("doc_id"), col("text"))
      TxnLog.commit(src, "append", TxnLog.stage(batch, src, "dx"), Nil,
        readVersion = 0L, txnId = "dx")
      val liveFiles = TxnLog.snapshotFiles(tgt).size
      val t0 = System.nanoTime()
      TxnStream.maintainIndexInto(spark, src, tgt, "ixh", "doc_id")(indexOf)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"op":"ix_refresh_hygiene","k":$k,"rows":$liveFiles,"sec":$sec%.2f}""")
    }

    // Incremental MV maintenance A/B: FIXED delta (the base corpus's
    // event_id < 10k slice) against a k×-grown base. mv_merge reads
    // the MATERIALIZED snapshot (|keys| rows, grows with k only
    // through key cardinality) + the delta; mv_recompute re-aggregates
    // every base row ever ingested — the cost the merge path exists to
    // avoid. Both produce identical views (RelationalOpsSpec pins it).
    if (enabled("mv_merge") || enabled("mv_recompute")) {
      def replicateEvents(k: Int): DataFrame =
        (0 until k).map { i =>
          Tables.events(spark, sfDir).select(
            (col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
            (col("user_id") + lit(i.toLong * 100000L)).as("user_id"),
            col("event_type"), col("value"))
        }.reduce(_ union _)
      def aggOf(df: DataFrame): DataFrame =
        df.groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("cents"))
      val delta = Tables.events(spark, sfDir)
        .filter(col("event_id") < 10000)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      ks.foreach { k =>
        val snapDir =
          s"${System.getProperty("java.io.tmpdir")}/graft_mv_probe_${java.lang.ProcessHandle.current().pid()}_$k"
        aggOf(replicateEvents(k)).write.mode("overwrite").parquet(snapDir)
        if (enabled("mv_merge")) time("mv_merge", k)(
          graft.operators.RelationalOps.mergeAggSnapshot(
            spark.read.parquet(snapDir), aggOf(delta),
            Seq("user_id", "event_type"), Seq("n", "cents")))
        if (enabled("mv_recompute")) time("mv_recompute", k)(
          aggOf(replicateEvents(k).unionByName(delta)))
      }
    }

    // Native-vs-HOF simhash A/B (warm: one untimed pass each first) —
    // the r5 rewrite's measured justification, same protocol as the r4
    // txt_tfidf A/B in BASELINE.md.
    if (enabled("simhash_ab")) {
      val docs = replicateDocs(4).cache()
      docs.count()
      def run(tag: String, c: org.apache.spark.sql.Column): Unit = {
        val df = docs.select(col("doc_id"), c.as("simhash"))
        df.write.format("noop").mode("overwrite").save() // warm
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        println(f"""{"op":"simhash_$tag","k":4,"rows":${docs.count()},"sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
      }
      run("native", DedupOps.simhash(col("text")))
      run("hof", DedupOps.simhashHof(col("text")))
      docs.unpersist()
    }
    if (enabled("cc_star"))
      timeCC("cc_star",
        spark.range(1, 100001).select(lit(0L).as("src"), col("id").as("dst")), 8)
    if (enabled("cc_path32"))
      timeCC("cc_path32",
        spark.range(0, 32).select(col("id").as("src"), (col("id") + 1).as("dst")), 40)

    // TxnLog snapshot-resolution ladder (pure metadata — commits carry
    // synthetic paths, no Spark involved): per-resolution cost must
    // track commit count WITHOUT a checkpoint and go ~flat WITH one,
    // which is X-A26's whole claim. 50 resolutions per measurement.
    if (enabled("txn_resolution")) {
      import graft.sources.TxnLog
      Seq(64, 256, 1024).foreach { n =>
        val root = java.nio.file.Files.createTempDirectory(s"graft-txnprobe-$n").toString
        TxnLog.init(root)
        (1 to n).foreach(i =>
          TxnLog.commit(root, "append", Seq(s"/fake/f$i"), Nil,
            readVersion = 0L, txnId = s"t$i"))
        def perCallMs(): Double = {
          val t0 = System.nanoTime()
          (1 to 50).foreach(_ => TxnLog.snapshotFiles(root))
          (System.nanoTime() - t0) / 1e6 / 50
        }
        val raw = perCallMs()
        TxnLog.checkpoint(root)
        val ck = perCallMs()
        println(f"""{"op":"txn_resolution","k":$n,"rows":$n,"sec":${raw / 1000}%.5f,"ckpt_sec":${ck / 1000}%.5f}""")
      }
    }

    // TxnLog WRITE-path ladder (r11 verdict #2): per-COMMIT cost at a
    // head of n prior commits, measured over 50 fresh appends each —
    // must track n when the table is never checkpointed (the tail IS
    // the history) and go ~flat when a checkpoint lands every
    // CheckpointInterval commits, appendOnce's steady state. Also:
    // the txnId replay probe (ledger lookup, 50 calls) and one
    // single-fold vacuum timing per rung.
    if (enabled("txn_commit")) {
      import graft.sources.TxnLog
      Seq(64, 256, 1024).foreach { n =>
        def build(ckpt: Boolean): String = {
          val root = java.nio.file.Files
            .createTempDirectory(s"graft-txncommit-$n-$ckpt").toString
          TxnLog.init(root)
          (1 to n).foreach { i =>
            TxnLog.commit(root, "append", Seq(s"/fake/f$i"), Nil,
              readVersion = 0L, txnId = s"t$i")
            if (ckpt && i % TxnLog.CheckpointInterval == 0) TxnLog.checkpoint(root)
          }
          root
        }
        def commit50Ms(root: String, ckpt: Boolean): Double = {
          val t0 = System.nanoTime()
          (1 to 50).foreach { i =>
            val c = TxnLog.commit(root, "append", Seq(s"/fake/x$i"), Nil,
              readVersion = 0L, txnId = s"x$i")
            if (ckpt && c.version % TxnLog.CheckpointInterval == 0) TxnLog.checkpoint(root)
          }
          (System.nanoTime() - t0) / 1e6 / 50
        }
        val rawRoot = build(ckpt = false)
        val ckRoot = build(ckpt = true)
        val raw = commit50Ms(rawRoot, ckpt = false)
        val ck = commit50Ms(ckRoot, ckpt = true)
        val t1 = System.nanoTime()
        (1 to 50).foreach(_ =>
          TxnLog.commit(ckRoot, "append", Seq("/fake/f5"), Nil,
            readVersion = 0L, txnId = "t5")) // replay: resolved via ledger
        val replay = (System.nanoTime() - t1) / 1e6 / 50
        val t2 = System.nanoTime()
        val vacuumed = TxnLog.vacuum(ckRoot, retainFromVersion = 1L)
        val vac = (System.nanoTime() - t2) / 1e6
        println(f"""{"op":"txn_commit","k":$n,"rows":$n,"sec":${raw / 1000}%.5f,"ckpt_sec":${ck / 1000}%.5f,"replay_ms":$replay%.3f,"vacuum_ms":$vac%.3f,"vacuumed":${vacuumed.size}}""")
      }
    }

    // Contended OCC commits (X-A97, r19): N writer threads race M
    // commits each into ONE log. The filename-CAS serializes them —
    // losers re-list the tail and retry — so the receipt is (a) every
    // commit lands exactly once (versions = N·M, no gaps), and (b)
    // per-commit wall under contention vs the single-writer baseline
    // (the CAS retry cost, not a lock queue). `attempts` counts CAS
    // losses observed from version numbering (committed serially ⇒
    // each writer's versions interleave).
    if (enabled("txn_commit_contended")) {
      import graft.sources.TxnLog
      Seq(1, 2, 4, 8).foreach { writers =>
        val m = 64
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-txncc-$writers").toString
        TxnLog.init(root)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
        val barrier = new java.util.concurrent.CyclicBarrier(writers)
        val t0 = System.nanoTime()
        val fs = (0 until writers).map { w =>
          pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
            override def call(): Seq[Long] = {
              barrier.await()
              (1 to m).map { i =>
                TxnLog.commit(root, "append", Seq(s"/fake/w$w-f$i"), Nil,
                  readVersion = 0L, txnId = s"w$w-t$i").version
              }
            }
          })
        }
        val versions = fs.flatMap(_.get())
        pool.shutdown()
        val wallMs = (System.nanoTime() - t0) / 1e6
        require(versions.sorted == (1L to (writers * m).toLong),
          s"contended commits must land exactly once each, got ${versions.size}")
        // interleave score: how often consecutive versions came from
        // different writers (0 would mean the race never interleaved)
        val byVersion = fs.zipWithIndex.flatMap { case (f, w) =>
          f.get().map(v => v -> w) }.sortBy(_._1).map(_._2)
        val interleaves = byVersion.sliding(2).count(p => p.head != p.last)
        println(f"""{"op":"txn_commit_contended","writers":$writers,"commits":${writers * m},"sec":${wallMs / 1000}%.4f,"per_commit_ms":${wallMs / (writers * m)}%.3f,"interleaves":$interleaves}""")
      }
    }

    // Metadata-query ladder (X-A33/X-A34): statsAggregate over a
    // fully-statted table must cost METADATA (a local n-file fold +
    // one tiny Spark agg), independent of data volume — the fake
    // paths prove it never opens a file. Then one real-data point:
    // bloom point lookup vs full-scan equality on the same table,
    // with the scanned-file count.
    if (enabled("txn_metadata")) {
      import graft.sources.TxnLog
      Seq(64, 256, 1024).foreach { n =>
        val root = java.nio.file.Files.createTempDirectory(s"graft-txnmeta-$n").toString
        TxnLog.init(root)
        (1 to n).foreach(i =>
          TxnLog.commit(root, "append", Seq(s"/fake/f$i"), Nil,
            readVersion = 0L, txnId = s"t$i",
            multiStats =
              Seq(Map("k" -> TxnLog.FileStat(i * 100L, i * 100L + 99L, 1000L)))))
        TxnLog.checkpoint(root)
        val t0 = System.nanoTime()
        (1 to 20).foreach(_ => TxnLog.statsAggregate(spark, root, "k").head())
        val agg = (System.nanoTime() - t0) / 1e6 / 20
        println(f"""{"op":"txn_metadata","k":$n,"rows":${n * 1000},"sec":${agg / 1000}%.5f}""")
      }
      // real-data bloom point: 32 files × 2048 rows, tag uncorrelated
      // with the k clustering
      val root = java.nio.file.Files.createTempDirectory("graft-txnbloom").toString
      TxnLog.init(root)
      val df = spark.range(0, 65536)
        .select(col("id").as("k"),
          (col("id") * lit(2654435761L) % lit(1000000007L)).as("tag"))
        .repartitionByRange(32, col("k"))
      // ~16 bits/key (2048 rows/file): FPR ≈ 0.2% at k=4 — the
      // production sizing rule; the 8192-bit default suits ≤1k-row files
      val (files, stats) = TxnLog.stageWithStatsFor(df, root, "t1", Seq("k"))
      val blooms = TxnLog.bloomsForStaged(spark, root, "t1", "tag", files,
        bloomBits = 32768)
      TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1",
        multiStats = stats, blooms = blooms, bloomCol = "tag")
      val probeTag = 4242L * 2654435761L % 1000000007L
      def timeN(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime(); var r = 0L
        (1 to 10).foreach(_ => r = f)
        ((System.nanoTime() - t0) / 1e6 / 10, r)
      }
      val pointDf = TxnLog.readPoint(spark, root, "tag", probeTag)
      val scanned = pointDf.inputFiles.length
      val (ptMs, ptRows) = timeN(TxnLog.readPoint(spark, root, "tag", probeTag).count())
      val (fsMs, fsRows) = timeN(TxnLog.read(spark, root).filter(col("tag") === probeTag).count())
      require(ptRows == fsRows, s"bloom path must match full scan: $ptRows vs $fsRows")
      println(f"""{"op":"txn_bloom_point","k":32,"rows":65536,"sec":${ptMs / 1000}%.5f,"full_scan_sec":${fsMs / 1000}%.5f,"files_scanned":$scanned,"files_total":${files.size}}""")
    }

    // Delete-cost comparison (X-A35): kill 1% of rows across every
    // file of a 32-file table, once as a deletion-vector commit and
    // once as the copy-on-write rewrite it replaces. Compare wall
    // time and BYTES WRITTEN — the number that matters at 100 TB,
    // where a spread-out delete rewrites the whole table.
    if (enabled("txn_dv")) {
      import graft.sources.TxnLog
      def freshTable(): (String, Seq[String]) = {
        val root = java.nio.file.Files.createTempDirectory("graft-txndv").toString
        TxnLog.init(root)
        val df = spark.range(0, 65536)
          .select(col("id").as("k"), (col("id") * 7 % 13).as("v"))
          .repartitionByRange(32, col("k"))
        val (files, stats) = TxnLog.stageWithStatsFor(df, root, "t1", Seq("k"))
        TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1",
          multiStats = stats)
        (root, files)
      }
      def bytes(fs: Seq[String]): Long =
        fs.map(f => java.nio.file.Files.size(java.nio.file.Paths.get(f))).sum
      // k % 100 == 7 hits ~1% of rows in EVERY file (worst case for
      // pruning: no file escapes)
      val (dvRoot, _) = freshTable()
      val t0 = System.nanoTime()
      val dvCommit = TxnLog.deleteWhere(spark, dvRoot, col("k") % 100 === 7, "d1").get
      val dvSec = (System.nanoTime() - t0) / 1e9
      val dvBytes = dvCommit.dvs.map(_.length / 2).sum.toLong // bitmap payload
      val (cowRoot, cowFiles) = freshTable()
      val t1 = System.nanoTime()
      val kept = TxnLog.read(spark, cowRoot).filter(!(col("k") % 100 === 7))
      val (newFiles, newStats) = TxnLog.stageWithStatsFor(
        kept.repartitionByRange(32, col("k")), cowRoot, "rw1", Seq("k"))
      TxnLog.commit(cowRoot, "upsert", newFiles, removed = cowFiles,
        readVersion = 1L, txnId = "rw1", multiStats = newStats)
      val cowSec = (System.nanoTime() - t1) / 1e9
      val cowBytes = bytes(newFiles)
      val dvCount = TxnLog.read(spark, dvRoot).count()
      require(dvCount == TxnLog.read(spark, cowRoot).count(),
        s"DV and rewrite must agree: $dvCount")
      println(f"""{"op":"txn_dv_delete","k":32,"rows":65536,"sec":$dvSec%.3f,"cow_sec":$cowSec%.3f,"dv_bytes":$dvBytes,"cow_bytes":$cowBytes}""")

      // Stats-pruned MERGE: source confined to one file's key range —
      // rewritten-file count is the receipt (1 of 32 vs all 32 for a
      // stat-less table)
      val (mgRoot, _) = freshTable()
      val src = spark.range(100, 200)
        .select(col("id").as("k"), lit(999L).as("v"))
      val t2 = System.nanoTime()
      val mg = TxnLog.mergeInto(spark, mgRoot, src, "k", "m1")
      val mgSec = (System.nanoTime() - t2) / 1e9
      println(f"""{"op":"txn_merge_pruned","k":32,"rows":65536,"sec":$mgSec%.3f,"files_rewritten":${mg.removed.size},"files_total":32}""")
    }

    // r13 DV-maintenance probes (X-A45/X-A48): the regimes the r12
    // driver-side construction could not price.
    //  - txn_dv_half: delete 50% of EVERY file of a 32-file table —
    //    the executor-side build's receipt is `dv_result_rows` = the
    //    number of rows the driver collects (one per touched file;
    //    the r12 code would have shipped 32k (file,row) rows).
    //  - txn_del_keys: retract 25% of all keys via a key FRAME with
    //    broadcasts disabled — the shuffled-semi-join regime the
    //    collect+isInCollection literal could never survive.
    //  - txn_compact: density-triggered rewrite after the half-delete;
    //    receipt = only dense files rewritten + the metadata
    //    aggregate's zero-scan path restored.
    if (enabled("txn_dv_scale")) {
      import graft.sources.TxnLog
      def freshTable(tag: String): (String, Seq[String]) = {
        val root = java.nio.file.Files.createTempDirectory(s"graft-dvscale-$tag").toString
        TxnLog.init(root)
        val df = spark.range(0, 65536)
          .select(col("id").as("k"), (col("id") * 7 % 13).as("v"))
          .repartitionByRange(32, col("k"))
        val (files, stats) = TxnLog.stageWithStatsFor(df, root, "t1", Seq("k"))
        TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1",
          multiStats = stats)
        (root, files)
      }
      val (hRoot, _) = freshTable("half")
      val t0 = System.nanoTime()
      val half = TxnLog.deleteWhere(spark, hRoot, col("k") % 2 === 0, "d1").get
      val halfSec = (System.nanoTime() - t0) / 1e9
      require(TxnLog.read(spark, hRoot).count() == 32768L, "half delete must keep odd rows")
      println(f"""{"op":"txn_dv_half","k":32,"rows":65536,"sec":$halfSec%.3f,"dv_result_rows":${half.dvFiles.size},"dv_bytes":${half.dvs.map(_.length / 2).sum}}""")

      val (kRoot, _) = freshTable("keys")
      val keys = spark.range(0, 65536).filter(col("id") % 4 === 1)
        .select(col("id").as("k"))
      // disable BOTH broadcast knobs (AQE has its own) and restore in
      // a finally, so a probe failure can't leak "-1" into later ops
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val savedA = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val (kc, keysSec) =
        try {
          val t1 = System.nanoTime()
          val c = TxnLog.deleteWhereKeys(spark, kRoot, keys, "k", "d1").get
          (c, (System.nanoTime() - t1) / 1e9)
        } finally {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
          savedA match {
            case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
            case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
          }
        }
      require(TxnLog.read(spark, kRoot).count() == 49152L, "quarter retraction")
      println(f"""{"op":"txn_del_keys","k":32,"rows":65536,"sec":$keysSec%.3f,"dv_result_rows":${kc.dvFiles.size}}""")

      // density compaction on the half-deleted table: every file is
      // 50% dead → all rewritten clean; the metadata aggregate must
      // answer from the log again afterwards
      val t2 = System.nanoTime()
      val cc = TxnLog.optimizeCompactDeletes(spark, hRoot, 0.5, "oc1").get
      val compSec = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      val aggRows = TxnLog.statsAggregate(spark, hRoot, "k").head().getLong(0)
      val aggSec = (System.nanoTime() - t3) / 1e9
      require(aggRows == 32768L, s"post-compaction metadata count: $aggRows")
      println(f"""{"op":"txn_compact","k":32,"rows":65536,"sec":$compSec%.3f,"files_rewritten":${cc.removed.size},"agg_after_sec":$aggSec%.3f}""")
    }

    // Streaming-source drain probe (X-A46): 16 one-commit micro-
    // batches through spark.readStream over the log, memory sink —
    // rows/sec of the version-offset path including engine overhead.
    if (enabled("txn_source")) {
      import graft.sources.TxnLog
      val root = java.nio.file.Files.createTempDirectory("graft-srcprobe").toString
      TxnLog.init(root)
      val schema = spark.range(0, 1).select(col("id").as("k"), col("id").as("v")).schema
      (0 until 16).foreach { i =>
        val df = spark.range(i * 8192L, (i + 1) * 8192L)
          .select(col("id").as("k"), (col("id") * 7 % 13).as("v"))
        val files = TxnLog.stage(df, root, s"t$i")
        TxnLog.commit(root, "append", files, Nil, readVersion = 0L,
          txnId = s"t$i", physSchema = Some(schema))
      }
      val t0 = System.nanoTime()
      val q = spark.readStream.format("graft-txn")
        .option("root", root).option("maxVersionsPerTrigger", "1")
        .load().writeStream.format("memory").queryName("srcprobe").start()
      try q.processAllAvailable() finally q.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      val got = spark.table("srcprobe").count()
      require(got == 16 * 8192L, s"drained $got rows")
      println(f"""{"op":"txn_source_drain","k":16,"rows":$got,"sec":$sec%.3f}""")
    }

    // Catalog DML write-amplification probe (X-A51/X-A52): the same
    // worst-case UPDATE — 32 touched rows, one per file, so the
    // predicate prunes NOTHING — through both row-level modes.
    // Copy-on-write must rewrite all 32 files (~the whole table's
    // bytes); merge-on-read must add one tiny post-image file plus
    // 32 bitmaps. The ratio IS the 100 TB argument.
    if (enabled("catalog_dml")) {
      import graft.sources.TxnLog
      def freshCat(tag: String): (String, String) = {
        val wh = java.nio.file.Files.createTempDirectory(s"graft-catdml-$tag").toString
        val cat = s"catdml_$tag"
        spark.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)")
        spark.range(0, 1 << 20)
          .select(col("id").as("k"), (col("id") * 7 % 997).as("v"))
          .createOrReplaceTempView(s"catdml_src_$tag")
        spark.sql(s"INSERT INTO $cat.t " +
          s"SELECT /*+ REPARTITION_BY_RANGE(32, k) */ k, v FROM catdml_src_$tag")
        (cat, s"$wh/t")
      }
      val expectedSum = spark.sql("SELECT CAST(sum(id * 7 % 997) AS BIGINT) + 32 " +
        "FROM range(0, 1048576)").head.getLong(0)
      def runMode(mode: String): Unit = {
        val (cat, tRoot) = freshCat(mode)
        val before = TxnLog.snapshotFiles(tRoot).size
        require(before == 32, s"expected 32 files, got $before")
        val saved = spark.conf.getOption("spark.graft.dml.mode")
        spark.conf.set("spark.graft.dml.mode", mode)
        val t0 = System.nanoTime()
        try spark.sql(s"UPDATE $cat.t SET v = v + 1 WHERE k % 32768 = 7")
        finally saved match {
          case Some(m) => spark.conf.set("spark.graft.dml.mode", m)
          case None    => spark.conf.unset("spark.graft.dml.mode")
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val c = TxnLog.commits(tRoot).last
        val bytes = c.sizes.filter(_ > 0L).sum +
          c.dvs.filterNot(_.startsWith("@")).map(_.length / 2).sum
        val got = spark.sql(s"SELECT CAST(sum(v) AS BIGINT) FROM $cat.t").head.getLong(0)
        require(got == expectedSum, s"$mode sum: $got != $expectedSum")
        println(f"""{"op":"catalog_dml_$mode%s","k":32,"rows":${1 << 20},"sec":$sec%.3f,"bytes_written":$bytes,"files_added":${c.added.size},"files_removed":${c.removed.size},"dv_files":${c.dvFiles.size}}""")
      }
      runMode("cow")
      runMode("mor")
    }

    // Partitioned-INSERT overhead probe (X-A56): the same 1M-row
    // insert into a plain vs PARTITIONED BY table — the partitioned
    // path pays one range-sampling pass + one shuffle for its
    // point-collapsed file layout; the receipt bounds that price and
    // verifies the collapse (every staged file's partition range is
    // a point or a contiguous pair).
    if (enabled("catalog_part")) {
      def freshPartCat(tag: String, partitioned: Boolean): (String, String) = {
        val wh = java.nio.file.Files.createTempDirectory(s"graft-catpart-$tag").toString
        val cat = s"catpart_$tag"
        spark.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        spark.sql(s"CREATE TABLE $cat.t (k BIGINT, p BIGINT, v BIGINT)" +
          (if (partitioned) " PARTITIONED BY (p)" else ""))
        (cat, s"$wh/t")
      }
      def runIns(tag: String, partitioned: Boolean): Unit = {
        val (cat, tRoot) = freshPartCat(tag, partitioned)
        val t0 = System.nanoTime()
        spark.sql(s"INSERT INTO $cat.t SELECT id, id % 16, id * 3 " +
          "FROM range(0, 1048576)")
        val sec = (System.nanoTime() - t0) / 1e9
        val state = graft.sources.TxnLog.snapshotState(tRoot)
        if (partitioned)
          require(state.forall { case (_, m) =>
            val st = m.stats("p"); st.hi - st.lo <= 1L },
            "partition ranges must collapse")
        println(f"""{"op":"catalog_part_$tag%s","k":16,"rows":1048576,"sec":$sec%.3f,"files":${state.size}}""")
      }
      // warm-up pair then the measured pair: the first insert of a
      // probe JVM carries codegen/JIT warm-up, which would otherwise
      // masquerade as partitioning overhead
      runIns("plain_warm", partitioned = false)
      runIns("ranged_warm", partitioned = true)
      runIns("plain", partitioned = false)
      runIns("ranged", partitioned = true)
    }

    // Streaming-WRITE probe (X-A54): 16 exactly-once epochs through
    // writeStream.toTable — per-epoch cost includes the engine's own
    // checkpoint round-trip, the distributed stats pass and the log
    // commit; the floor is Structured Streaming's per-trigger cost,
    // same class as the read-side txn_source drain.
    if (enabled("txn_stream_write")) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val wh = java.nio.file.Files.createTempDirectory("graft-swprobe").toString
      val cat = "swprobe"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)")
      val ckpt = java.nio.file.Files.createTempDirectory("graft-swprobe-ck").toString
      implicit val enc = org.apache.spark.sql.Encoders.scalaLong
      val in = MemoryStream[Long](spark)
      val t0 = System.nanoTime()
      val q = in.toDF().selectExpr("value AS k", "value * 7 AS v")
        .writeStream.option("checkpointLocation", ckpt).toTable(s"$cat.t")
      try {
        (0 until 16).foreach { i =>
          in.addData(i * 8192L until (i + 1) * 8192L: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      val n = spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0)
      require(n == 16 * 8192L, s"stream-wrote $n rows")
      val commits = graft.sources.TxnLog.commits(s"$wh/t")
        .count(_.action == "stream-append")
      require(commits == 16, s"$commits epoch commits")
      println(f"""{"op":"txn_stream_write","k":16,"rows":$n,"sec":$sec%.3f}""")
    }

    // Bucket-transform probe (X-A63): the same 1M-row insert into a
    // hash-shuffled plain table vs PARTITIONED BY (bucket(16, k)),
    // then a burst of equality lookups — the bucketed path must admit
    // ~files/16 per probe while the unclustered plain table scans all
    // of them. Receipts bound the write-side price of bucket routing
    // and measure the read-side payoff.
    if (enabled("catalog_bucket")) {
      import graft.sources.TxnLog
      def fresh(tag: String, bucketed: Boolean): (String, String) = {
        val wh = java.nio.file.Files.createTempDirectory(s"graft-catbkt-$tag").toString
        val cat = s"catbkt_$tag"
        spark.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)" +
          (if (bucketed) " PARTITIONED BY (bucket(16, k))" else ""))
        (cat, s"$wh/t")
      }
      def insertTimed(cat: String, hint: String): Double = {
        val t0 = System.nanoTime()
        spark.sql(s"INSERT INTO $cat.t SELECT $hint id, id * 3 " +
          "FROM range(0, 1048576)")
        (System.nanoTime() - t0) / 1e9
      }
      def probeTimed(cat: String): Double = {
        val t0 = System.nanoTime()
        var s = 0L
        (0 until 64).foreach { i =>
          s += spark.sql(s"SELECT coalesce(sum(v), 0) FROM $cat.t " +
            s"WHERE k = ${i * 16384L + 7L}").head.getLong(0)
        }
        require(s == (0 until 64).map(i => (i * 16384L + 7L) * 3).sum, s"sum $s")
        (System.nanoTime() - t0) / 1e9
      }
      for ((tag, bucketed, hint) <- Seq(
          ("plain_warm", false, "/*+ REPARTITION(16) */"),
          ("bucket_warm", true, ""),
          ("plain", false, "/*+ REPARTITION(16) */"),
          ("bucket", true, ""))) {
        val (cat, tRoot) = fresh(tag, bucketed)
        val insSec = insertTimed(cat, hint)
        val state = TxnLog.snapshotState(tRoot)
        // admissibility of one representative probe, from stats alone
        val key = TxnLog.bucketStatKey(16, "k")
        val b = TxnLog.bucketOf(7L, org.apache.spark.sql.types.LongType, 16)
          .get.toLong
        val admitted =
          if (!bucketed) state.size
          else state.count { case (_, m) =>
            m.stats.get(key).forall(st => st.lo <= b && b <= st.hi) }
        val prSec = probeTimed(cat)
        println(f"""{"op":"catalog_bucket_$tag%s","rows":1048576,"files":${state.size},"insert_sec":$insSec%.3f,"probe64_sec":$prSec%.3f,"files_admitted_per_probe":$admitted}""")
      }
    }

    // Histogram-ANALYZE probe (X-A64): the added price of equi-height
    // histograms (one approx-percentile pass + one conditional
    // per-bin NDV pass) over the plain NDV-sketch ANALYZE on a 1M-row
    // 2-column table.
    if (enabled("catalog_hist")) {
      val wh = java.nio.file.Files.createTempDirectory("graft-cathist").toString
      val cat = "cathist"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      spark.sql(s"CREATE TABLE $cat.t AS SELECT id AS k, " +
        "CASE WHEN id % 10 < 9 THEN id % 100 ELSE id END AS x " +
        "FROM range(0, 1048576)")
      def timed(sql: String): Double = {
        val t0 = System.nanoTime(); spark.sql(sql).collect()
        (System.nanoTime() - t0) / 1e9
      }
      timed(s"CALL $cat.system.analyze(table => 't')") // warm-up
      val plain = timed(s"CALL $cat.system.analyze(table => 't')")
      val hist = timed(s"CALL $cat.system.analyze(table => 't', " +
        "histogram_bins => 32)")
      val got = graft.sources.TxnLog.tableHistograms(s"$wh/t")
      require(got.contains("x") && got("x").bins.size == 32, s"hists: ${got.keys}")
      println(f"""{"op":"catalog_hist","rows":1048576,"analyze_sec":$plain%.3f,"analyze_hist32_sec":$hist%.3f}""")
    }

    // COMPLETE-mode streaming-write probe (X-A62): 16 exactly-once
    // stream-replace epochs of a running aggregate — per-epoch cost
    // includes recomputing + rewriting the (small) full aggregate,
    // the same class as the append-mode per-trigger floor.
    if (enabled("catalog_complete")) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val wh = java.nio.file.Files.createTempDirectory("graft-ccprobe").toString
      val cat = "ccprobe"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      spark.sql(s"CREATE TABLE $cat.t (g BIGINT, n BIGINT, sv BIGINT)")
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ccprobe-ck").toString
      implicit val enc = org.apache.spark.sql.Encoders.scalaLong
      val in = MemoryStream[Long](spark)
      val t0 = System.nanoTime()
      val q = in.toDF().selectExpr("value % 64 AS g", "value AS v")
        .groupBy("g").agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        .writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt).toTable(s"$cat.t")
      try {
        (0 until 16).foreach { i =>
          in.addData(i * 8192L until (i + 1) * 8192L: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      val n = 16 * 8192L
      val got = spark.sql(s"SELECT CAST(sum(n) AS BIGINT), CAST(sum(sv) AS BIGINT) FROM $cat.t").head
      require(got.getLong(0) == n && got.getLong(1) == (0L until n).sum,
        s"complete aggregate diverged: $got")
      val commits = graft.sources.TxnLog.commits(s"$wh/t")
        .count(_.action == "stream-replace")
      require(commits == 16, s"$commits replace epochs")
      println(f"""{"op":"catalog_complete","epochs":16,"rows":$n,"sec":$sec%.3f}""")
    }

    // Storage-partitioned-join probe (X-A68): two 2M-row tables
    // co-bucketed on the join key, joined with the V2 bucketing
    // switch ON (zero shuffles under the join) vs OFF (both sides
    // shuffle) — the receipt for "the shuffle IS the join cost".
    if (enabled("catalog_spj")) {
      val wh = java.nio.file.Files.createTempDirectory("graft-spjprobe").toString
      val cat = "spjprobe"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      spark.sql(s"CREATE TABLE $cat.a (k BIGINT, v BIGINT) " +
        "PARTITIONED BY (bucket(16, k))")
      spark.sql(s"CREATE TABLE $cat.b (k BIGINT, w BIGINT) " +
        "PARTITIONED BY (bucket(16, k))")
      spark.sql(s"INSERT INTO $cat.a SELECT id, id * 2 FROM range(0, 2097152)")
      spark.sql(s"INSERT INTO $cat.b SELECT id, id * 3 FROM range(1048576, 3145728)")
      val expect = 1048576L
      def joinTimed(): Double = {
        val t0 = System.nanoTime()
        val n = spark.sql(s"SELECT count(*) FROM $cat.a JOIN $cat.b USING (k)")
          .head.getLong(0)
        require(n == expect, s"join count $n != $expect")
        (System.nanoTime() - t0) / 1e9
      }
      def withSwitch(on: Boolean)(f: => Double): Double = {
        val prev = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", on.toString)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try f finally {
          prev.foreach(spark.conf.set("spark.sql.sources.v2.bucketing.enabled", _))
          spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        }
      }
      withSwitch(on = true)(joinTimed()) // warm-up
      val spj = withSwitch(on = true)(joinTimed())
      val shuffled = withSwitch(on = false)(joinTimed())
      println(f"""{"op":"catalog_spj","rows":2097152,"spj_sec":$spj%.3f,"shuffled_sec":$shuffled%.3f}""")
    }

    // Mirror-maintenance ladder (X-A41): apply ONE new source version
    // (a small append + a small DV delete) to a mirror of a table
    // that is k× bigger — per-version cost must be ~flat in table
    // size (the whole point: nothing rescans either table; the merge
    // rewrite is bounded by the append's key range, the retraction by
    // its bitmap).
    if (enabled("txn_mirror")) {
      import graft.sources.{TxnLog, TxnStream}
      Seq(8, 32, 128).foreach { files =>
        val src = java.nio.file.Files.createTempDirectory(s"graft-mirsrc-$files").toString
        val mir = java.nio.file.Files.createTempDirectory(s"graft-mirdst-$files").toString
        TxnLog.init(src); TxnLog.init(mir)
        val rows = files * 2048
        val base = spark.range(0, rows)
          .select(col("id").as("k"), (col("id") * 7 % 13).as("v"))
          .repartitionByRange(files, col("k"))
        val (f1, st1) = TxnLog.stageWithStatsFor(base, src, "t1", Seq("k"))
        TxnLog.commit(src, "append", f1, Nil, readVersion = 0L, txnId = "t1",
          multiStats = st1)
        TxnStream.maintainMirror(spark, src, mir, "m", "k") // catch-up, untimed
        // TWO incremental versions: a 64-key UPDATE merge confined to
        // one file's range, and a 64-row DV delete
        val upd = spark.range(100, 164).select(col("id").as("k"), lit(999L).as("v"))
        TxnLog.mergeInto(spark, src, upd, "k", "t2")
        TxnLog.deleteWhere(spark, src, col("k").between(200, 263), "t3")
        val t0 = System.nanoTime()
        val applied = TxnStream.maintainMirror(spark, src, mir, "m", "k")
        val sec = (System.nanoTime() - t0) / 1e9
        require(applied.size == 2,
          s"expected 2 versions applied, got ${applied.size}")
        require(TxnLog.read(spark, mir).count() == TxnLog.read(spark, src).count(),
          "mirror must converge")
        println(f"""{"op":"txn_mirror_apply","k":$files,"rows":$rows,"sec":$sec%.3f}""")
      }
    }

    // Decontamination regime probe (X-C17): with broadcasts DISABLED
    // — the regime where the eval set outgrows the broadcast
    // threshold — the plain anti-join path must shuffle the entire
    // exploded corpus, while the bloom path's only non-scan work is
    // over its survivors. 4× corpus, fixed contamination.
    if (enabled("dc_bloom")) {
      import graft.operators.CorpusOps
      val docs4 = replicateDocs(maxK).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      docs4.count()
      val contam = CorpusOps.hashModSample(
        Tables.documents(spark, sfDir), col("doc_id"), pct = 5)
      def run(tag: String, broadcastOn: Boolean): Unit = {
        val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        val savedA = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
        if (!broadcastOn) {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        }
        try {
          val t0 = System.nanoTime()
          val plain = CorpusOps.decontaminate(docs4, contam, "doc_id", "text").count()
          val plainSec = (System.nanoTime() - t0) / 1e9
          val t1 = System.nanoTime()
          val bloomed = CorpusOps.decontaminateBloom(docs4, contam, "doc_id", "text").count()
          val bloomSec = (System.nanoTime() - t1) / 1e9
          require(plain == bloomed, s"paths must agree: $plain vs $bloomed")
          println(f"""{"op":"dc_bloom_$tag","k":$maxK,"rows":${docs4.count()},"sec":$bloomSec%.3f,"plain_sec":$plainSec%.3f}""")
        } finally {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
          savedA match {
            case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
            case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
          }
        }
      }
      run("broadcast", broadcastOn = true)
      run("nobroadcast", broadcastOn = false)
      docs4.unpersist()
    }
    spark.stop()
  }
}
