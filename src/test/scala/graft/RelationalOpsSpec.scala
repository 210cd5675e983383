package graft

import org.apache.spark.sql.functions._

import graft.operators.RelationalOps

/** Semantics checks for the parity operators (SURVEY.md §2) beyond the
  * driver's DuckDB oracle: invariants, not just row hashes.
  */
class RelationalOpsSpec extends SparkTestBase {

  private def run(name: String) = SparkEntry.queries(name)(spark, sfDir)

  test("every registered query executes and most return rows") {
    SparkEntry.queries.keys.foreach { name =>
      val df = run(name)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.count() >= 0, s"$name failed to execute")
    }
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("g6 shares sum to 1") {
    val total = run("g6_share_of_total").agg(sum("share")).head.getDouble(0)
    assert(math.abs(total - 1.0) < 1e-4)
  }

  test("s6 dedup keeps the earliest event per key and is idempotent") {
    val deduped = run("s6_dedup_first")
    val keys = deduped.select("user_id", "event_type").distinct().count()
    assert(keys == deduped.count(), "one row per key")
    // first-write-wins: the kept ts must equal the min ts of the key
    val ev = Tables.events(spark, sfDir)
    val mins = ev.groupBy("user_id", "event_type").agg(min("ts").as("min_ts"))
    val bad = deduped.join(mins, Seq("user_id", "event_type"))
      .filter(col("ts") =!= col("min_ts")).count()
    assert(bad == 0)
  }

  test("o2 pagination slices the same total order as o1 rank") {
    val page3 = run("o2_pagination").collect().map(_.getLong(0))
    val ranked = run("o1_ranked_sort")
      .filter(col("rank") > 20 && col("rank") <= 30)
      .orderBy("rank").collect().map(_.getLong(0))
    assert(page3.toSeq == ranked.toSeq)
  }

  test("j1 enrichment assigns every event exactly one nation") {
    val n = run("j1_enrichment_join").count()
    assert(n == Tables.events(spark, sfDir).count())
  }

  test("g4 argmax agrees with max of g1 counts") {
    val top = run("g4_leading_type").head
    val maxCount = run("g1_votes_per_type").agg(max("total_votes")).head.getLong(0)
    assert(top.getAs[Long]("total_votes") == maxCount)
  }

  test("p2 json parse extracts props.k as int") {
    val df = run("p2_json_parse")
    assert(df.schema("k").dataType.typeName == "integer")
    assert(df.filter(col("k").isNull).count() == 0)
  }

  test("flagship q1 plan broadcasts nothing and aggregates hash-based") {
    val plan = run("q1_pricing_summary").queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), s"expected HashAggregate in:\n$plan")
  }

  test("g12 sketch percentiles sit inside their GK rank bound; exacts match g10") {
    val rows = run("g12_approx_percentiles").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("p50_in_bound"), s"p50 out of bound: $r")
      assert(r.getAs[Boolean]("p90_in_bound"), s"p90 out of bound: $r")
    }
    val exact = run("g10_percentiles").collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Double]("p50"), r.getAs[Double]("p90")))).toMap
    rows.foreach { r =>
      val (p50, p90) = exact(r.getAs[String]("event_type"))
      assert(r.getAs[Double]("p50") == p50 && r.getAs[Double]("p90") == p90,
        s"exact percentile columns must equal g10's: $r")
    }
  }

  test("g8 sketch distinct sits inside 3x rsd; exact count matches g7") {
    val rows = run("g8_approx_distinct").collect()
    assert(rows.nonEmpty)
    rows.foreach(r =>
      assert(r.getAs[Boolean]("est_in_bound"), s"estimate out of bound: $r"))
    val exact = run("g7_distinct_users").collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_users")).toMap
    rows.foreach(r =>
      assert(r.getAs[Long]("n_users") == exact(r.getAs[String]("event_type"))))
  }

  test("set operations match ground-truth user sets") {
    def users(t: String): Set[Long] = Tables.events(spark, sfDir)
      .filter(col("event_type") === t).select("user_id")
      .collect().map(_.getLong(0)).toSet
    val (c, p) = (users("click"), users("purchase"))
    assert(run("set_union").count() == (c union p).size)
    assert(run("set_intersect").count() == (c intersect p).size)
    assert(run("set_except").count() == (c diff p).size)
  }

  test("asofJoin picks the latest right value at or before each left ts") {
    import spark.implicits._
    val left = Seq((1L, 100L, 10L), (1L, 200L, 11L), (2L, 50L, 12L))
      .toDF("k", "ts", "lid")
    val right = Seq((1L, 90L, 900L), (1L, 200L, 901L), (1L, 300L, 902L))
      .toDF("k", "ts", "rid")
    val out = RelationalOps.asofJoin(left, right, "k", "ts", "rid", "last_rid",
        Seq("rid"))
      .select("lid", "last_rid").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    assert(out(10L) === Some(900L), "90 <= 100: most recent prior")
    assert(out(11L) === Some(901L), "equal ts is inclusive, 300 is future")
    assert(out(12L) === None, "no right row at or before -> null")
  }

  test("asofJoin is deterministic when multiple right rows share a timestamp") {
    import spark.implicits._
    val left = Seq((1L, 100L, 10L)).toDF("k", "ts", "lid")
    // two right rows at the SAME ts: the higher tiebreak must win,
    // independent of partition layout
    val right = Seq((1L, 90L, 900L), (1L, 90L, 901L)).toDF("k", "ts", "rid")
    (1 to 3).foreach { _ =>
      val out = RelationalOps.asofJoin(
          left, right.repartition(7), "k", "ts", "rid", "last_rid", Seq("rid"))
        .select("last_rid").as[Long].collect().toSeq
      assert(out === Seq(901L), "right-side tiebreak column must order the window")
    }
  }

  test("globalRowNumber equals the single-partition window at any partition count") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("n_chars"))
    val order = Seq(col("n_chars").asc, col("doc_id").asc)
    val expect = docs
      .withColumn("seq", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(order: _*)))
      .select("doc_id", "seq").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    def collectSeq(n: Int): Map[Long, Long] =
      RelationalOps.globalRowNumber(docs, order, "seq", numPartitions = n)
        .select("doc_id", "seq").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(1, 3, 16).foreach { n =>
      assert(collectSeq(n) === expect, s"two-level ranks diverge at numPartitions=$n")
    }
    // deterministic across runs (range sampling is stable per input)
    val again = RelationalOps.globalRowNumber(docs, order, "seq")
      .select("doc_id", "seq").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === expect)
    // sequence is dense 1..N
    assert(again.values.toSeq.sorted === (1L to docs.count()).toSeq)
  }

  test("profileColumns accounts rows, nulls, distincts and min/max in one pass") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("a"), 10.0),
      (2L, None, 20.5),
      (3L, Some("b"), 10.0),
      (4L, Some("a"), -3.2)
    ).toDF("id", "tag", "v")
    val prof = RelationalOps.profileColumns(df, Seq(
      "id" -> lpad(col("id").cast("string"), 4, "0"),
      "tag" -> col("tag"),
      "v_floor" -> lpad(floor(col("v")).cast("long").cast("string"), 4, "0")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(prof("id") === ((4L, 0L, 4L, "0001", "0004")))
    assert(prof("tag") === ((4L, 1L, 2L, "a", "b")))
    // floor(-3.2) = -4; lpad("-4") keeps the sign char — lexicographic
    // min is the padded positive "0010" vs "-004": '-' < '0' in ASCII,
    // so min is the negative rendering (documented canonical-form
    // contract: the CALLER chooses a rendering whose lex order is the
    // order they want)
    assert(prof("v_floor")._3 === 3L)
    // the profile plan is one Generate (explode) + one aggregate
    // exchange — no per-column re-scan of the input
    val plan = RelationalOps.profileColumns(df, Seq(
      "id" -> col("id").cast("string"),
      "tag" -> col("tag"))).queryExecution.executedPlan.toString
    assert(plan.split("Generate").length - 1 === 1, plan)
    assert(plan.split("Scan|LocalTableScan").length - 1 <= 1, plan)
  }

  test("scd2Apply accretes history across generations: each change closes the prior open row") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val t0 = ts("1995-01-01"); val t1 = ts("1997-01-01"); val t2 = ts("1999-01-01")
    val cur = Seq((1L, "A", t0, None: Option[Timestamp]),
                  (2L, "B", t0, None: Option[Timestamp]))
      .toDF("k", "attr", "valid_from", "valid_to")
    val chg1 = Seq((1L, "A2", t1, None: Option[Timestamp]))
      .toDF("k", "attr", "valid_from", "valid_to")
    val chg2 = Seq((1L, "A3", t2, None: Option[Timestamp]))
      .toDF("k", "attr", "valid_from", "valid_to")
    val gen2 = RelationalOps.scd2Apply(
      RelationalOps.scd2Apply(cur, chg1, "k", "valid_from", "valid_to"),
      chg2, "k", "valid_from", "valid_to")
    val rows = gen2.collect().map(r => (r.getLong(0), r.getString(1),
      r.getTimestamp(2), Option(r.getTimestamp(3)))).toSet
    assert(rows === Set(
      (1L, "A", t0, Some(t1)),   // first version closed by chg1
      (1L, "A2", t1, Some(t2)),  // second version closed by chg2
      (1L, "A3", t2, None),      // current open version
      (2L, "B", t0, None)))      // untouched key keeps its open row
    // exactly one open row per key, always
    assert(gen2.filter(col("valid_to").isNull).groupBy("k").count()
      .filter(col("count") > 1).isEmpty)
  }

  test("scd2Apply chains multiple versions of one key inside a single batch") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val t0 = ts("1995-01-01"); val t1 = ts("1997-01-01")
    val t2 = ts("1999-01-01"); val t3 = ts("2001-01-01")
    val cur = Seq((1L, "A", t0, None: Option[Timestamp]),
                  (2L, "B", t0, None: Option[Timestamp]))
      .toDF("k", "attr", "valid_from", "valid_to")
    // one CDC batch carrying THREE versions of key 1 — the round-6
    // shape that double-closed the open row and left multiple open
    // rows per key
    val batch = Seq(
      (1L, "A2", t1, None: Option[Timestamp]),
      (1L, "A3", t2, None: Option[Timestamp]),
      (1L, "A4", t3, None: Option[Timestamp]))
      .toDF("k", "attr", "valid_from", "valid_to")
    val out = RelationalOps.scd2Apply(cur, batch, "k", "valid_from", "valid_to")
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1),
      r.getTimestamp(2), Option(r.getTimestamp(3)))).toSet
    assert(rows === Set(
      (1L, "A", t0, Some(t1)),   // open row closed ONCE, at the FIRST change
      (1L, "A2", t1, Some(t2)),  // intra-batch versions chain
      (1L, "A3", t2, Some(t3)),
      (1L, "A4", t3, None),      // only the last version stays open
      (2L, "B", t0, None)))
    // invariants: one open row per key; no overlapping intervals
    assert(out.filter(col("valid_to").isNull).groupBy("k").count()
      .filter(col("count") > 1).isEmpty)
    val overlaps = out.as("a").join(out.as("b"),
      col("a.k") === col("b.k") && col("a.valid_from") < col("b.valid_from") &&
        (col("a.valid_to").isNull || col("a.valid_to") > col("b.valid_from")))
    assert(overlaps.isEmpty, "validity intervals must not overlap")
    // batch application ≡ sequential application change-by-change
    val seq1 = batch.filter(col("attr") === "A2")
    val seq2 = batch.filter(col("attr") === "A3")
    val seq3 = batch.filter(col("attr") === "A4")
    val sequential = RelationalOps.scd2Apply(
      RelationalOps.scd2Apply(
        RelationalOps.scd2Apply(cur, seq1, "k", "valid_from", "valid_to"),
        seq2, "k", "valid_from", "valid_to"),
      seq3, "k", "valid_from", "valid_to")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), Option(r.getTimestamp(3)))).toSet
    assert(sequential === rows, "one batch must equal change-by-change application")
  }

  test("profileColumns approx mode: HLL distinct within 10% of exact, rest identical") {
    val specs = Seq(
      "o_orderkey" -> col("o_orderkey").cast("string"),
      "o_orderstatus" -> col("o_orderstatus"),
      "o_orderpriority" -> col("o_orderpriority"))
    def collectProfile(approx: Boolean) =
      RelationalOps.profileColumns(Tables.orders(spark, sfDir), specs, approx)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
        .toMap
    val exact = collectProfile(approx = false)
    val approx = collectProfile(approx = true)
    exact.foreach { case (name, (nRows, nNulls, nd, mn, mx)) =>
      val (aRows, aNulls, and_, aMn, aMx) = approx(name)
      assert((aRows, aNulls, aMn, aMx) === ((nRows, nNulls, mn, mx)),
        s"$name: non-distinct terms must be identical in approx mode")
      assert(math.abs(and_ - nd) <= math.max(1L, (nd * 0.10).toLong),
        s"$name: HLL distinct $and_ strays >10% from exact $nd")
    }
  }

  test("snapshotDiff is the inverse of mergeUpsert: diff(old, merge(old, changes)) recovers the changes") {
    import spark.implicits._
    val old = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "s", "v")
    val changes = Seq((2L, "b2", 99L), (9L, "new", 1L)).toDF("k", "s", "v")
    val merged = RelationalOps.mergeUpsert(old, changes, Seq("k"))
    val diff = RelationalOps.snapshotDiff(old, merged, Seq("k"), Seq("s", "v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff === Map(2L -> "U", 9L -> "I"), "update + insert recovered, unchanged keys silent")
  }

  test("snapshotDiff classifies deletes and treats null columns null-safely") {
    import spark.implicits._
    val old = Seq((1L, Option("x")), (2L, None: Option[String]), (3L, Option("z")))
      .toDF("k", "s")
    val neu = Seq((2L, None: Option[String]), (3L, None: Option[String]))
      .toDF("k", "s")
    val diff = RelationalOps.snapshotDiff(old, neu, Seq("k"), Seq("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // key 1 vanished -> D; key 2 null==null unchanged -> absent;
    // key 3 z -> null is a real update, not a missing row
    assert(diff === Map(1L -> "D", 3L -> "U"))
  }

  test("mergeAggSnapshot: merged view equals direct recompute; untouched and new keys both land") {
    import spark.implicits._
    val base = Seq(("a", 1L), ("a", 2L), ("b", 5L)).toDF("k", "v")
    val delta = Seq(("a", 4L), ("c", 7L)).toDF("k", "v")
    def aggOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"),
        min("v").as("mn"), max("v").as("mx"))
    val merged = RelationalOps.mergeAggSnapshot(aggOf(base), aggOf(delta),
      Seq("k"), Seq("n", "s"), Seq("mn"), Seq("mx"))
    val direct = aggOf(base.unionByName(delta))
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty,
      "merge of partials must equal the recomputed aggregate")
  }

  test("resampleGapFill: dense per-key grid, event counts conserved, LOCF fills gaps") {
    val out = run("ts_gapfill").cache()
    try {
      // dense grid: per key, rows == hours between that key's min and max
      val spans = out.groupBy("user_id")
        .agg(count(lit(1)).as("rows"),
          ((unix_timestamp(max("bucket_ts")) - unix_timestamp(min("bucket_ts"))) / 3600 + 1)
            .cast("long").as("hours"))
        .filter(col("rows") =!= col("hours")).count()
      assert(spans == 0, "every key's grid must be gap-free")
      // conservation: generated rows add no events
      val total = out.agg(sum("n_events")).head.getLong(0)
      assert(total == Tables.events(spark, sfDir).count())
      // LOCF: a gap row's fill equals the previous non-gap bucket's cents
      assert(out.filter(col("n_events") === 0 && col("cents").isNotNull).isEmpty)
      val firstIsObserved = out
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy("bucket_ts")))
        .filter(col("rn") === 1 && col("cents").isNull).count()
      assert(firstIsObserved == 0, "grids start at each key's first OBSERVED bucket")
      assert(out.filter(col("cents_filled").isNull).isEmpty,
        "with an observed first bucket, LOCF leaves no null fills")
    } finally out.unpersist()
  }

  test("constraintAudit counts violations per rule; NULL rule results violate") {
    import spark.implicits._
    val df = Seq[(Long, Option[Double], String)](
      (1L, Some(10.0), "A"),   // clean
      (2L, Some(-5.0), "A"),   // violates positive
      (3L, None, "A"),         // NULL value -> rule unevaluable -> violation
      (4L, Some(3.0), "X")     // violates enum
    ).toDF("id", "v", "flag")
    val audit = RelationalOps.constraintAudit(df, Seq(
      "v_positive" -> (col("v") > 0),
      "flag_enum" -> col("flag").isInCollection(Seq("A", "B"))))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(audit("v_positive") === ((2L, 4L, false)),
      "negative AND null both violate v > 0")
    assert(audit("flag_enum") === ((1L, 4L, false)))
    // a passing table reports pass = true on every rule
    val clean = RelationalOps.constraintAudit(df.filter(col("id") === 1),
      Seq("v_positive" -> (col("v") > 0))).collect()
    assert(clean.forall(_.getBoolean(3)))
  }

  test("observedAudit metrics equal a direct aggregate and ride the job's scan") {
    import spark.implicits._
    val df = Seq[(Long, Option[Double], String)](
      (1L, Some(10.0), "A"), (2L, Some(-5.0), "A"),
      (3L, None, "B"), (4L, Some(3.0), "B")
    ).toDF("id", "v", "flag")
    var jobPlan: String = null
    val out = RelationalOps.observedAudit(df, Seq(
      count(lit(1)).as("n_rows"),
      sum(col("id")).as("sum_id"),
      count(when(col("v") < 0, 1)).as("n_neg"))) { d =>
      val job = d.groupBy(col("flag")).agg(count(lit(1)).as("n"))
      jobPlan = job.queryExecution.optimizedPlan.toString
      job
    }
    // the metrics node is IN the job's plan — no second pass exists
    assert(jobPlan.contains("CollectMetrics"),
      s"metrics must ride the job's own plan:\n$jobPlan")
    val r = out.collect()
    assert(r.length === 1)
    val m = r.head.getValuesMap[Any](Seq("n_rows", "sum_id", "n_neg"))
    assert(m("n_rows") === 4L)
    assert(m("sum_id") === 10L)
    assert(m("n_neg") === 1L, "NULL predicate rows are not counted (FILTER parity)")
    // empty input still yields exactly one metrics row (count 0, sum NULL)
    val empty = RelationalOps.observedAudit(df.filter(col("id") < 0),
      Seq(count(lit(1)).as("n_rows"), sum(col("id")).as("sum_id"))) { d =>
      d.groupBy(col("flag")).agg(count(lit(1)).as("n"))
    }.collect()
    assert(empty.length === 1 && empty.head.getLong(0) === 0L)
    assert(empty.head.isNullAt(1), "sum over an empty table is NULL, not 0")
  }

  test("cusumChangepoint finds the planted level shift; flat series ties earliest") {
    import spark.implicits._
    val series = (1 to 40).map(d => ("a", d, if (d <= 20) 100L else 200L)) ++
      (1 to 10).map(d => ("b", d, 50L))
    val out = RelationalOps
      .cusumChangepoint(series.toDF("g", "pos", "v"), "g", "pos", "v")
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3))))
      .toMap
    // a: the scaled CUSUM |n·prefix_k − k·total| peaks at the LAST
    // pre-shift point: S_20 = |40·2000 − 20·6000| = 40000, S_19/S_21 = 38000
    assert(out("a") === ((20, 40000L, 40L)))
    // b: flat series ⇒ statistic identically 0 ⇒ earliest position
    assert(out("b") === ((1, 0L, 10L)))
  }

  test("reconcile sizes side-only keys, per-column drift, and null-safe equality") {
    import spark.implicits._
    val l = Seq((1L, Option(10L), "a"), (2L, Option(20L), "b"),
      (3L, Option.empty[Long], "c"), (4L, Option(40L), "d")).toDF("k", "p", "s")
    val r = Seq(
      (1L, Option(10L), "a"), // equal
      (2L, Option(21L), "b"), // p differs
      (3L, Option.empty[Long], "x"), // s differs; null p <=> null p is EQUAL
      (5L, Option(50L), "e")) // only right (and key 4 only left)
      .toDF("k", "p", "s")
    val out = RelationalOps.reconcile(l, r, Seq("k"), Seq("p", "s"))
      .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
    assert(out === Map("only_left" -> 1L, "only_right" -> 1L,
      "matched_equal" -> 1L, "matched_differ" -> 2L,
      "col_diff:p" -> 1L, "col_diff:s" -> 1L))
  }

  test("gr_reachability (recursive CTE): one depth per customer, balance conserved") {
    val out = run("gr_reachability")
      .agg(sum(col("n_customers")), sum(col("bal_cents"))).head()
    val cust = Tables.customer(spark, sfDir)
      .agg(count(lit(1)), sum(round(col("c_acctbal") * 100).cast("long"))).head()
    // every walk strictly descends to node 0 exactly once, so the
    // depth histogram partitions the customer set
    assert(out.getLong(0) === cust.getLong(0))
    assert(out.getLong(1) === cust.getLong(1))
  }

  test("gr_reachability leaves the session recursion row limit untouched") {
    withSQLConf("spark.sql.cteRecursionRowLimit" -> "1000000") {
      run("gr_reachability").count()
      assert(spark.conf.get("spark.sql.cteRecursionRowLimit") === "1000000")
    }
    // and with no session override, the query must not leave one behind
    val before = spark.conf.getOption("spark.sql.cteRecursionRowLimit")
    run("gr_reachability").count()
    assert(spark.conf.getOption("spark.sql.cteRecursionRowLimit") === before)
  }
}
