package graft

import org.apache.spark.sql.functions._

import graft.operators.CorpusOps._

class CorpusOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = Tables.documents(spark, sfDir)

  test("hashModSample is deterministic, shuffle-free, and near the target rate") {
    val s1 = hashModSample(docs, col("doc_id"), 10).select("doc_id").as[Long].collect().toSet
    val s2 = hashModSample(docs, col("doc_id"), 10).select("doc_id").as[Long].collect().toSet
    assert(s1 === s2, "same sample on every run — no RNG state")
    val rate = s1.size.toDouble / docs.count()
    assert(rate > 0.03 && rate < 0.2, s"rate $rate should be near 10%")
    val plan = hashModSample(docs, col("doc_id"), 10).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "sampling must be a scan-side filter")
  }

  test("perClassCap bounds every class and ranks in hash order") {
    val out = perClassCap(docs, "lang", col("doc_id"), cap = 5)
    val sizes = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(sizes.values.forall(_ <= 5))
    assert(out.filter(col("rnk") > 5).isEmpty)
  }

  test("chunkDocuments windows with stride, covers the tail, one chunk for short docs") {
    val toy = Seq(
      (1L, (1 to 100).map(i => s"t$i").mkString(" ")), // 100 tokens
      (2L, "a b c"),                                   // shorter than one window
      (3L, "")                                         // empty
    ).toDF("doc_id", "text")
    val out = chunkDocuments(toy, "doc_id", "text", chunkSize = 64, stride = 48)
      .as[(Long, Int, Int, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // doc 1: starts 0, 48, 96; window at 48 covers tokens 49..100
    assert(out(1L).map(c => (c._2, c._3, c._4)).toSeq ===
      Seq((0, 0, 64), (1, 48, 52), (2, 96, 4)))
    assert(out(1L).head._5.startsWith("t1 t2 ") && out(1L).head._5.endsWith(" t64"))
    assert(out(1L).last._5 === "t97 t98 t99 t100")
    // every token index is covered by some chunk
    val covered = out(1L).flatMap(c => c._3 until (c._3 + c._4)).toSet
    assert(covered === (0 until 100).toSet)
    assert(out(2L).toSeq === Seq((2L, 0, 0, 3, "a b c")))
    assert(out(3L).toSeq === Seq((3L, 0, 0, 0, "")))
  }

  test("weightedSample prefers heavy weights and is a deterministic pure function") {
    // two docs with identical hashes would need u ties; instead check
    // the distributional property exactly: with weight >> 1 the key
    // u^(1/w) -> 1, so the max-weight doc must outrank a weight-1 doc
    // with the same-or-smaller u
    val toy = (1L to 200L).map(i => (i, if (i <= 100) 1 else 1000)).toDF("doc_id", "w")
    val picked = weightedSample(toy, "doc_id", col("w"), n = 50)
      .as[(Long, Double)].collect().map(_._1).toSet
    val heavy = picked.count(_ > 100L)
    assert(heavy >= 40, s"heavy-weight docs should dominate the sample, got $heavy/50")
    val again = weightedSample(toy, "doc_id", col("w"), n = 50)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(again === picked)
    // top-n stays a bounded TakeOrdered, never a global sort
    val plan = weightedSample(docs, "doc_id", lit(2), 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("vocabTopK counts tokens exactly on a toy corpus") {
    val toy = Seq((1L, "a b a"), (2L, "a c")).toDF("doc_id", "text")
    val out = vocabTopK(toy, "text", 10).as[(String, Long)].collect().toSeq
    assert(out === Seq(("a", 3L), ("b", 1L), ("c", 1L)))
  }

  test("domainMix downsamples over-represented classes, keeps under-target ones whole") {
    val docs = Tables.documents(spark, sfDir)
    val natural = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    val total = natural.values.sum.toDouble
    val targets = Map("en" -> 0.30, "zh" -> 0.20, "es" -> 0.20, "fr" -> 0.15, "de" -> 0.15)
    val mixed = domainMix(docs, "lang", col("doc_id"), targets)
      .select("doc_id", "lang").as[(Long, String)].collect()
    val got = mixed.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    // classes at/under their target keep every row
    targets.foreach { case (cls, frac) =>
      if (natural(cls) <= frac * total)
        assert(got.getOrElse(cls, 0L) === natural(cls),
          s"$cls is under target; must keep all rows")
    }
    // over-represented classes land near target share of the ORIGINAL total
    targets.foreach { case (cls, frac) =>
      if (natural(cls) > frac * total) {
        val want = frac * total
        val g = got.getOrElse(cls, 0L).toDouble
        assert(g < natural(cls), s"$cls must shrink")
        assert(math.abs(g - want) / want < 0.35,
          s"$cls: got $g, want ~$want (hash-mod sampling noise bound)")
      }
    }
    // classes absent from targets are dropped entirely
    assert(got.keySet.subsetOf(targets.keySet))
    // deterministic: same inputs, same membership
    val again = domainMix(docs, "lang", col("doc_id"), targets)
      .select("doc_id", "lang").as[(Long, String)].collect()
    assert(again.sortBy(_._1).toSeq === mixed.sortBy(_._1).toSeq)
  }

  test("linearScore: shuffle-free, deterministic, empty doc scores 0") {
    val toy = Seq((1L, "alpha beta gamma"), (2L, ""), (3L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val r = linearScore(toy, "doc_id", "text").orderBy("doc_id").collect()
    assert(r(1).getLong(2) === 0L && !r(1).getBoolean(3),
      "empty doc: score 0, filtered")
    assert(r(0).getLong(2) === r(2).getLong(2), "pure function of text")
    assert(r(0).getInt(1) === 3)
    // model application must stay inside the scan projection: the only
    // allowed exchange is spread()'s round-robin input splitting — no
    // hash/range (key) shuffle anywhere
    val plan = linearScore(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning") && !plan.contains("rangepartitioning"),
      "scoring must not key-shuffle")
  }

  test("unigramNll prices tokens against corpus counts in exact micro-nats") {
    val toy = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = unigramNll(toy, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // counts: a=2, b=2, c=1, T=5; average = floored micro-nats (an
    // exact-integer contract — no decimal rounding to disagree on)
    def micro(cnt: Long): Long = math.round(-math.log(cnt / 5.0) * 1e6)
    def score(ms: Seq[Long]): Long = ms.sum / ms.length
    assert(out(1L) === ((score(Seq(micro(2), micro(2), micro(2))), 3L)))
    assert(out(2L) === ((score(Seq(micro(2), micro(1))), 2L)))
    // common-word docs score lower than rare-token docs
    assert(out(1L)._1 < out(2L)._1)
    // empty/null docs yield no row, not a crash
    val degenerate = Seq((3L, ""), (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    assert(unigramNll(toy.union(degenerate), "doc_id", "text").count() === 2)
  }

  test("tfIdf computes tf * ln(N/df) exactly") {
    val toy = Seq((1L, "x x y"), (2L, "x z")).toDF("doc_id", "text")
    val out = tfIdf(toy, "doc_id", "text")
      .as[(Long, String, Long, Double)].collect()
      .map { case (d, term, tf, w) => (d, term) -> ((tf, w)) }.toMap
    assert(out((1L, "x"))._1 === 2L)
    assert(out((1L, "x"))._2 === 0.0)                        // df=2, ln(1)=0
    assert(out((1L, "y")) === ((1L, math.rint(math.log(2.0) * 1e6) / 1e6)))
    assert(out((2L, "z"))._2 === math.rint(math.log(2.0) * 1e6) / 1e6)
  }

  test("containmentScores: verbatim contamination scores 1.0, disjoint docs 0, and hits agree with decontaminate") {
    val contam = hashModSample(docs, col("doc_id"), pct = 5)
    val scores = containmentScores(docs, contam, "doc_id", "text").cache()
    try {
      // every doc is scored, scores live in [0, 1]
      assert(scores.count() === docs.count())
      assert(scores.filter(col("containment") < 0 || col("containment") > 1).isEmpty)
      // the contamination docs themselves are fully contained
      val sampleIds = contam.select("doc_id")
      assert(scores.join(sampleIds, "doc_id")
        .filter(col("containment") < 1.0).isEmpty,
        "a verbatim contamination member must score 1.0")
      // boolean agreement: n_hit > 0 exactly when decontaminate drops
      val kept = decontaminate(docs, contam, "doc_id", "text").select("doc_id")
      val disagree = scores.join(kept, Seq("doc_id"), "left_semi")
        .filter(col("n_hit") > 0).count() +
        scores.join(kept, Seq("doc_id"), "left_anti")
          .filter(col("n_hit") === 0).count()
      assert(disagree === 0, "containment > 0 must coincide with the anti-join drop set")
    } finally scores.unpersist()
  }

  test("decontaminateBloom: bit-identical to decontaminate (false positives re-checked, none leak)") {
    val contam = hashModSample(docs, col("doc_id"), pct = 5)
    val plain = decontaminate(docs, contam, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val bloomed = decontaminateBloom(docs, contam, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(bloomed === plain,
      "the bloom pre-filter must be invisible in the result")
    // ...also when the eval set is too big to broadcast: both paths
    // take the shuffled joins
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      assert(decontaminateBloom(docs, contam, "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet === plain)
    }
    // degenerate contamination set: empty sample -> bloom of zero
    // keys -> nothing pruned, nothing dropped
    val none = docs.filter(lit(false))
    assert(decontaminateBloom(docs, none, "doc_id", "text").count() === docs.count())
  }

  test("quantileBinsApprox tracks exact ntile deciles within one bin") {
    import spark.implicits._
    val exact = SparkEntry.queries("cur_quantile_bins")(spark, sfDir)
      .select(col("doc_id"), col("decile").as("d_exact"))
    val approx = quantileBinsApprox(
      Tables.documents(spark, sfDir), "doc_id", "lang",
      round(graft.functions.TextFunctions.qualityScore(col("text")), 6))
      .select(col("doc_id"), col("decile").as("d_approx"))
    val joined = exact.join(approx, "doc_id")
      .select(abs(col("d_exact") - col("d_approx")).as("dev"))
      .as[Int].collect()
    assert(joined.length === exact.count())
    val close = joined.count(_ <= 1).toDouble / joined.length
    assert(close >= 0.9,
      f"only $close%.2f of docs within one decile of the exact binning")
    // sketch at this accuracy is near-exact: most rows agree outright
    assert(joined.count(_ == 0).toDouble / joined.length >= 0.6)
  }

  test("cur_quantile_bins: deciles 1..10 per language with near-equal populations") {
    import spark.implicits._
    val out = SparkEntry.queries("cur_quantile_bins")(spark, sfDir).cache()
    try {
      val sizes = out.groupBy("lang", "decile").count()
        .as[(String, Int, Long)].collect()
      assert(sizes.map(_._2).forall(d => d >= 1 && d <= 10))
      // NTILE balance: within one lang, bucket sizes differ by at most 1
      sizes.groupBy(_._1).foreach { case (lang, rows) =>
        val counts = rows.map(_._3)
        assert(counts.max - counts.min <= 1, s"$lang deciles unbalanced: ${counts.toSeq}")
      }
      // higher decile never has a higher score than a lower one (per lang)
      val inverted = out.as("a").join(out.as("b"),
        col("a.lang") === col("b.lang") &&
          col("a.decile") < col("b.decile") &&
          col("a.quality_score") < col("b.quality_score")).count()
      assert(inverted === 0, "decile order must follow score order")
    } finally out.unpersist()
  }

  test("rakeKeywords: stopword-split phrases, degree/freq scoring, top-k per doc") {
    // "deep learning" appears as a 2-word phrase; "systems" stands
    // alone. degree(deep)=degree(learning)=2, freq=1 -> ws=2e6 each;
    // phrase score 4e6 beats systems' 1e6.
    val toy = Seq(
      (1L, "deep learning in the systems"),
      (2L, "deep learning")
    ).toDF("doc_id", "text")
    val out = rakeKeywords(toy, "doc_id", "text", topK = 3)
      .as[(Long, String, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap
    // both docs contain the same top phrase with the corpus-wide score:
    // deg(deep)=4 over freq 2 -> 2e6; same for learning -> phrase 4e6
    assert(out(1L).head === (("deep learning", 4000000L)))
    assert(out(2L) === Seq(("deep learning", 4000000L)))
    // "systems": deg 1, freq 1 -> 1e6, ranked below
    assert(out(1L) === Seq(("deep learning", 4000000L), ("systems", 1000000L)))
  }

  test("dsirWeights scores target-domain tokens positive, source-only negative") {
    val toy = (
      (1 to 6).map(i => (i.toLong, "alpha alpha alpha", "tgt")) ++
      (7 to 12).map(i => (i.toLong, "beta beta beta", "src")) ++
      Seq((13L, "", "src"))
    ).toDF("doc_id", "text", "dom")
    val out = dsirWeights(toy, "doc_id", "text", isTarget = col("dom") === "tgt")
      .as[(Long, Int, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // "alpha" appears only in target docs: ln p_target > ln p_source
    // -> positive score, kept; "beta" never in target -> negative.
    assert(out(1L)._3 === true && out(1L)._2 > 0)
    assert(out(7L)._3 === false && out(7L)._2 < 0)
    // all-alpha docs share one score (same tokens, same table)
    assert((1 to 6).map(i => out(i.toLong)._2).toSet.size === 1)
    // token-less doc: zero score, not kept, still present
    assert(out(13L) === ((0, 0L, false)))
    // deterministic: the two-phase estimate/score is a pure function
    val again = dsirWeights(toy, "doc_id", "text", isTarget = col("dom") === "tgt")
      .as[(Long, Int, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(again === out)
  }

  test("boilerplateProfile flags cross-doc repeated chunks, not intra-doc repeats") {
    import spark.implicits._
    val header = (1 to 10).map(i => s"h$i").mkString(" ")
    val uniq = (1 to 10).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      (1L, header + " tail one two"), // header chunk + 3-word tail
      (2L, header + " other tail words here"), // header chunk + 4-word tail
      (3L, header), // header only: everything boilerplate
      (4L, "all alone words that repeat nowhere"), // 1 unique 6-word chunk
      (5L, uniq + " " + uniq), // SAME chunk twice in ONE doc: df = 1, kept
      (6L, "")) // empty: zero chunks, no output row
      .toDF("doc_id", "text")
    val out = boilerplateProfile(docs, "doc_id", "text",
      chunkWords = 10, dfThreshold = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((2L, 1L, 3L)))
    assert(out(2L) === ((2L, 1L, 4L)))
    assert(out(3L) === ((1L, 1L, 0L)))
    assert(out(4L) === ((1L, 0L, 6L)))
    // CCNet semantics: document frequency counts DISTINCT docs — an
    // intra-doc repeat is repetition (X-T7's job), not boilerplate
    assert(out(5L) === ((2L, 0L, 20L)))
    assert(!out.contains(6L), "an empty document yields no chunks")
  }
}
