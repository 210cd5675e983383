package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph operators for the dedup pipeline's last mile: LSH/Jaccard
  * candidate PAIRS are only half of fuzzy dedup — a production corpus
  * needs pairs clustered into duplicate GROUPS and one canonical
  * survivor chosen per group. That is connected components + min-id
  * election, the same composition CCNet/MassiveText-style pipelines
  * run after MinHash banding.
  *
  * The reference has no graph surface (its PK dedup is exact,
  * `main.py:77`); this extends [[DedupOps]]'s candidate generators to
  * a full keep-one decision.
  *
  * Scale design: iterative label propagation — each round every node
  * adopts the minimum label in its closed neighborhood; converges in
  * O(component diameter) rounds. Near-dup graphs are overwhelmingly
  * tiny cliques (a duplicate group is mutually similar), so diameters
  * are small and a bounded iteration count is safe. Each round is one
  * shuffle on the node key (map-side-combined min); the driver only
  * checks the convergence counter — no row data ever reaches it.
  * Labels are min-ids, so the fixpoint is deterministic regardless of
  * execution order.
  */
object GraphOps {

  /** Connected components over an undirected edge list.
    *
    * Size-adaptive: a near-dup candidate graph is tiny RELATIVE to the
    * corpus (edges ≈ duplicate pairs, not documents), so when the
    * symmetrized edge list fits under `localThreshold` it is collected
    * and solved with union-find on the driver — one job instead of
    * O(diameter) iterative rounds of shuffles (the rounds cost ~0.5 s
    * of scheduling each regardless of data size). Graphs above the
    * threshold, or with non-integral node ids, run the distributed
    * min-label propagation. Both paths produce the identical
    * (node, min-reachable-id) fixpoint.
    *
    * @param edges   two-column DataFrame of (src, dst) pairs; direction
    *                ignored, self-loops and duplicates tolerated
    * @param maxIter safety bound on propagation rounds (components with
    *                diameter > maxIter would stop early — callers pick
    *                a bound ≥ the plausible diameter; dedup cliques
    *                have diameter ≤ 2)
    * @param localThreshold max symmetrized edge count for the driver-
    *                side union-find (2M edges ≈ 32 MB of longs)
    * @return (node, component) — component = min node id reachable
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 10, localThreshold: Long = 2000000L): DataFrame = {
    val spark = edges.sparkSession
    // undirected: keep both orientations so each node sees every neighbor
    val sym = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct()
      .cache()
    val integral = sym.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    if (integral && sym.count() <= localThreshold) {
      val out = localUnionFind(sym.collect().map(r =>
        (r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue())))
      sym.unpersist()
      lastRunRounds = 0
      import spark.implicits._
      return out.toSeq.toDF("node", "component")
    }
    // localCheckpoint (eager) after every round: each iteration's plan
    // references the previous labels TWICE (union + convergence join),
    // so without lineage truncation the logical plan doubles per round
    // — 2^iter nodes, an OOM in the optimizer long before any data
    // volume matters. Checkpointing pins the round's result and resets
    // the plan to a leaf.
    var labels = sym.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // min label over the closed neighborhood (self + neighbors)
      val neighborLabels = sym
        .join(labels.withColumnRenamed("node", "b"), Seq("b"))
        .select(col("a").as("node"), col("label"))
      val next = labels.union(neighborLabels)
        .groupBy("node").agg(min("label").as("label"))
        .localCheckpoint()
      // coalesce: sum over zero rows is NULL (empty/disjoint label
      // sets), which a bare getLong would NPE on
      val changed = next.alias("n")
        .join(labels.alias("o"), Seq("node"))
        .agg(coalesce(sum(when(col("n.label") =!= col("o.label"), 1L).otherwise(0L)),
          lit(0L)))
        .head().getLong(0)
      labels = next
      converged = changed == 0
      iter += 1
    }
    sym.unpersist()
    lastRunRounds = iter
    if (!converged) {
      // a non-fixpoint labeling is WRONG (components silently split) —
      // surface it instead of returning it
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIter=$maxIter rounds; " +
          "raise maxIter (component diameter exceeds the bound)")
    }
    // match the local path's schema: union-find emits LongType ids, so
    // widen integral ids here too — output type must not depend on
    // which path the data size selected
    if (integral) {
      labels.select(col("node").cast("long").as("node"),
        col("label").cast("long").as("component"))
    } else {
      labels.select(col("node"), col("label").as("component"))
    }
  }

  /** Rounds the LAST [[connectedComponents]] call took on the
    * distributed label-propagation path (0 = the driver-side
    * union-find shortcut ran instead). Written, not read, by the
    * operator — `GraphOpsSpec` reads it to prove the distributed path
    * ran; BASELINE.md §"r4: forced distributed connected-components
    * probe" has rounds next to wall time.
    */
  @volatile var lastRunRounds: Int = -1

  /** Union-find with path halving; component label = min node id, so
    * the result matches the distributed fixpoint exactly.
    */
  private def localUnionFind(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      parent.putIfAbsent(x, x)
      while (parent.get(x) != x) {
        val gp = parent.get(parent.get(x))
        parent.put(x, gp)
        x = gp
      }
      x
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val it = parent.keySet().iterator()
    val out = Array.newBuilder[(Long, Long)]
    while (it.hasNext) { val n = it.next(); out += ((n, find(n))) }
    out.result()
  }

  /** Fuzzy-dedup keep-one decision: cluster near-duplicate candidate
    * pairs into components and elect the minimum doc id of each
    * component as its canonical survivor. Returns one row per doc that
    * appears in ANY candidate pair: (doc_id, kept_id, is_kept) —
    * docs with no near-duplicates are implicitly kept and not listed.
    */
  def dedupClusters(pairs: DataFrame, d1Col: String = "d1",
                    d2Col: String = "d2", maxIter: Int = 10): DataFrame =
    connectedComponents(pairs, d1Col, d2Col, maxIter)
      .select(col("node").as("doc_id"), col("component").as("kept_id"),
        (col("node") === col("component")).as("is_kept"))

  /** PageRank (Brin & Page 1998) over a directed edge list, the other
    * canonical iterative graph kernel (centrality, where
    * [[connectedComponents]] is membership) — in data-curation terms:
    * rank documents/hosts in a link graph to prioritize crawling or to
    * weight quality (the Common-Crawl-style harmonic/PageRank
    * prioritization every web-scale corpus pipeline runs).
    *
    * A FIXED `iters` power-iteration rounds are unrolled into one
    * declarative plan — no driver-side rank state, no collect; each
    * round is (ranks ⋈ edges on src) → map-side-combined sum per dst →
    * left join back to the node set, i.e. the shuffle pattern a
    * Pregel-style engine runs, expressed in joins Catalyst can
    * co-partition (every round keys on the same node id). Cost is
    * honestly O(iters) shuffle rounds; rank convergence for curation
    * needs single-digit rounds.
    *
    * Determinism contract: ranks are integer MICRO-units end to end —
    * start at 1e6, per-edge contribution `rank div out_degree`
    * (truncating division, identical on Spark/JVM/DuckDB), update
    * `(100−d)·10⁴ + (d · Σcontrib) div 100` with damping `d` as an
    * integer percent — so sums are order-independent longs and the
    * oracle unrolls the same three iterations with no float anywhere.
    * Dangling nodes (no out-edges) leak their mass, the standard
    * simplification when ranking is relative (redistribution adds a
    * scalar broadcast round per iteration and changes no ordering).
    *
    * The iteration-INVARIANT subtrees — the degree-annotated edge list
    * and the node set — are persisted before the loop: every unrolled
    * round references both, and without structural sharing the source
    * scan + degree shuffle replays once per reference (the r8 plan
    * audit counted 56 scans for 3 rounds). Same discipline as every
    * iterative graph engine (GraphX caches the graph per iteration)
    * and the [[graft.operators.RelationalOps.globalRowNumber]]
    * precedent.
    *
    * Lifecycle + depth guards (r9): the result is materialized EAGERLY
    * (`localCheckpoint`) so the two invariant pins can be released
    * inside the operator — no MEMORY_AND_DISK block outlives the call
    * (the r8 verdict's persist-without-unpersist finding). Past
    * `checkpointEvery` rounds the running ranks are also checkpointed,
    * truncating the unrolled lineage the same way
    * [[connectedComponents]] does per round — `iters=20` stays a
    * constant-depth plan for the optimizer instead of a 20-round tree.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, dampingPct: Int = 85): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100)
    val checkpointEvery = 4
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
    // (r21, tried and reverted: persisting these SORTED on the join
    // key does not help — under AQE the planner re-sorts above every
    // InMemoryTableScan regardless of the cached plan's ordering, so
    // the pre-sort only added cache-fill cost. Plan receipt in
    // plans/r21/gr_pagerank_after.txt of the experiment's commit.)
    val nodes = e.select(col("__src").as("id"))
      .unionByName(e.select(col("__dst").as("id"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val withDeg = e.join(
      e.groupBy(col("__src")).agg(count(lit(1)).as("__deg")), Seq("__src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = lit((100L - dampingPct) * 10000L)
    var ranks = nodes.select(col("id"), lit(1000000L).as("rank_micro"))
    (1 to iters).foreach { i =>
      // r21: the per-round update is ONE keyed aggregate over the
      // union of the edge contributions and a zero row per node —
      // replacing the former groupBy + LEFT JOIN back to the node set
      // (one exchange and one join fewer per round; 3 exchanges + 3
      // joins saved at iters = 3, and fewer AQE stage round trips,
      // which the profile showed dominating: 1.70 s stage sum vs
      // 2.90 s wall). Dangling-in nodes sum exactly their zero row,
      // so the result is bit-identical to the coalesce(__in, 0) form.
      val contrib = withDeg.join(ranks, withDeg("__src") === ranks("id"))
        .select(col("__dst").as("id"),
          expr("rank_micro div __deg").as("__c"))
      ranks = nodes.select(col("id"), lit(0L).as("__c"))
        .unionByName(contrib)
        .groupBy(col("id")).agg(sum(col("__c")).as("__in"))
        .select(col("id"),
          (base + expr(s"$dampingPct * __in div 100")).as("rank_micro"))
      if (i % checkpointEvery == 0 && i < iters) ranks = ranks.localCheckpoint()
    }
    val out = ranks.localCheckpoint()
    nodes.unpersist()
    withDeg.unpersist()
    out
  }

  /** Per-node triangle counts by DEGREE-ORIENTED enumeration (the
    * MapReduce-era distributed triangle algorithm, Suri &
    * Vassilvitskii WWW'11): orient every undirected edge from its
    * lower-(degree, id) endpoint to the higher one — the orientation
    * is acyclic and every node's OUT-degree is O(√|E|) on any graph —
    * then a triangle is exactly one wedge (a→b, a→c) whose closing
    * edge (b→c) exists. Each triangle is enumerated ONCE (at its
    * lowest-ranked corner) and credited to all three corners.
    *
    * Why this shape at 100 TB: the naive wedge join fans out by
    * Σ deg², which a single celebrity node turns quadratic; ordering
    * by degree bounds the join's left fan-out by √|E| per node — the
    * difference between a shuffle and a meltdown on power-law graphs.
    * Three shuffles total (degree count, wedge join, closure
    * semi-join), all on node/edge keys; the corner credit re-uses the
    * wedge join's output grain.
    *
    * @param edges undirected edge list; duplicates and self-loops are
    *        dropped here, direction is ignored
    * @return (node, n_triangles) — nodes in no triangle are absent
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // canonical undirected form (lo, hi), self-loops out, exact dedup
    val e = edges.select(
        least(col(srcCol), col(dstCol)).as("lo"),
        greatest(col(srcCol), col(dstCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
      .localCheckpoint() // feeds degree count, orientation AND closure
    // degree per node (both endpoints), then the total order
    // (degree, id) orients each edge small → large
    val deg = e.select(col("lo").as("v")).unionAll(e.select(col("hi").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val oriented = e
      .join(deg.withColumnsRenamed(Map("v" -> "lo", "d" -> "dlo")), Seq("lo"))
      .join(deg.withColumnsRenamed(Map("v" -> "hi", "d" -> "dhi")), Seq("hi"))
      .select(
        when(col("dlo") < col("dhi") ||
          (col("dlo") === col("dhi") && col("lo") < col("hi")),
          struct(col("lo").as("f"), col("hi").as("t")))
          .otherwise(struct(col("hi").as("f"), col("lo").as("t"))).as("e"))
      .select(col("e.f").as("f"), col("e.t").as("t"))
    val oriented0 = oriented.localCheckpoint() // tiny vs the wedge join; feeds it twice
    // wedges at the lowest-ranked corner: (f → b, f → c) with b ≠ c
    // enumerated once via b < c in EDGE (id) order.
    // The wedge join's exchange is pinned at defaultParallelism
    // (r21): the edge list is BYTES-tiny but the join's output is the
    // wedge fan-out (Σ out-deg² — orders of magnitude more rows than
    // its input), and AQE's byte-size coalescing folded the exchange
    // to one task, serializing the whole enumeration (profiled: a
    // 206 ms single-task stage at sf0.1 — the query's largest). An
    // explicit keyed repartition opts out of coalescing; both join
    // sides ride the one exchange via ReuseExchange, so the shuffle
    // count is unchanged.
    val byF = oriented0.repartition(
      oriented0.sparkSession.sparkContext.defaultParallelism, col("f"))
    val wedges = byF.alias("x").join(byF.alias("y"),
        col("x.f") === col("y.f") && col("x.t") < col("y.t"))
      .select(col("x.f").as("a"), col("x.t").as("b"), col("y.t").as("c"))
    // a wedge closes iff its (b, c) edge exists — closure is
    // undirected existence, which the canonical (lo, hi) form answers
    val closing = e.select(col("lo").as("b"), col("hi").as("c"))
    val tris = wedges.select(col("a"),
        least(col("b"), col("c")).as("b"), greatest(col("b"), col("c")).as("c"))
      .join(closing, Seq("b", "c"), "left_semi")
    // credit all three corners
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }
}
