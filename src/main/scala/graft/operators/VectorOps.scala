package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity-search operators over an embedding column
  * (`array<float>`), for the training-data-pipeline extensions:
  * brute-force cosine pairs / top-k (the correctness baseline) and a
  * random-hyperplane LSH-bucketed variant (the 100 TB scale path).
  *
  * All vector arithmetic goes through the native codegen'd
  * [[graft.functions.DotProductD]] (`graft_dot`), registered by
  * [[graft.GraftExtensions]] — interpreted higher-order functions
  * would put ~100 ns of lambda dispatch on every multiply-add.
  *
  * Determinism contract: hyperplanes derive from md5 (same
  * [[planeSign]] arithmetic is reproducible in the DuckDB oracle),
  * sums accumulate in index order, cosines are rounded before
  * thresholding/ranking — so even the APPROXIMATE operator is
  * bit-for-bit checkable.
  */
object VectorOps {

  /** Double-precision dot product (native codegen expression). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Expression-level let-binding (see DedupOps.bindArray): evaluate
    * `c` once, reference it many times inside `f` — a Scala `val`
    * would copy the subtree into every use site.
    */
  private def bindScalar(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), x => f(x)), 1)

  /** Symmetric int8 quantization of an embedding: scale = 127 / max|v|
    * (1.0 for the zero vector), q_i = round(v_i · scale) clamped to
    * [-127, 127]. The storage/compute trade every large-scale vector
    * store makes; per-row, shuffle-free, and exactly reproducible in
    * SQL (identical double arithmetic + half-away-from-zero rounding
    * on both engines). Returns (scale, quantized) columns; amax is
    * let-bound so the O(dim) max runs once, not once per element.
    */
  def quantizeInt8(vec: Column): (Column, Column) = {
    val amax = array_max(transform(vec, x => abs(x.cast("double"))))
    val scale = bindScalar(amax)(a => when(a === 0.0, 1.0).otherwise(lit(127.0) / a))
    val q = bindScalar(scale)(sc =>
      transform(vec, x =>
        least(greatest(round(x.cast("double") * sc), lit(-127.0)), lit(127.0)).cast("int")))
    (scale, q)
  }

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Top-n nearest codebook cells (best first) via the native
    * [[graft.functions.CellTopN]]: rank-1 assignment (`n = 1`) and
    * multi-probe fan-out (`n = nprobe`) share one operator. The flat
    * centroid/norm arrays enter the plan as ARRAY literals — codegen
    * REFERENCES, not inlined scalars — so the generated source is
    * independent of the trained values and one janino compile serves
    * every codebook/scale factor (the struct-sort formulation this
    * replaced inlined nlist × dim data constants into the source and
    * recompiled ~seconds on every dataset change).
    */
  private def cellTopN(v: Column, nrm: Column, centsFlat: Column,
                       centNrms: Column, n: Int): Column =
    call_function("graft_cell_topn", v, nrm, centsFlat, centNrms, lit(n))

  /** Deterministic ±1 random projection (Achlioptas 2003 /
    * Johnson-Lindenstrauss flavor): component j of the output is
    * `Σ_i sign(seed, j, i) · v_i` — a dense sign matrix derived from
    * the same md5 arithmetic as [[planeSign]], so the whole projection
    * is reproducible in a SQL oracle and needs NO stored matrix,
    * shuffle, or RNG state: any executor regenerates column j's signs
    * from (seed, j, i) alone. Per-row, scan-fused, O(dim · rdim).
    *
    * No 1/√rdim scaling is applied: downstream cosine/LSH consumers
    * are scale-invariant, and skipping the divide keeps the oracle's
    * float trace one op shorter. `seed` is offset away from the LSH
    * tables' (t, b) space so projection planes never alias bucket
    * hyperplanes. Components are rounded to 6 decimals — same
    * determinism contract as every cosine in this module.
    */
  def randomProject(vecs: DataFrame, idCol: String, vecCol: String,
                    rdim: Int, dim: Int = 64, seed: Int = 101): DataFrame =
    vecs.select(col(idCol), array((0 until rdim).map { j =>
      val plane = typedlit((0 until dim).map(i => planeSign(seed, j, i)))
      round(dot(col(vecCol), plane), 6)
    }: _*).as("proj"))

  /** Project id/vector/precomputed-norm. Norms are computed ONCE per
    * row here; recomputing inside a pair comparison would double the
    * flops of every join below.
    */
  private def withNorm(vecs: DataFrame, idCol: String, vecCol: String): DataFrame =
    RelationalOps.spread(vecs).select(col(idCol).as("__id"), col(vecCol).as("__v"),
      norm(col(vecCol)).as("__nrm"))

  /** Exact cosine near-dup pairs by brute force: O(n²) pair loop via a
    * broadcast nested-loop self-join. This is the CORRECTNESS BASELINE
    * and the right choice only when one side fits in memory (e.g.
    * probing a corpus against a small query set). For corpus-scale
    * near-dup at 100 TB use [[annCosinePairs]] — same output contract,
    * LSH-bounded work.
    */
  def cosinePairsBruteForce(vecs: DataFrame, idCol: String, vecCol: String,
                            minCosine: Double): DataFrame = {
    val p = withNorm(vecs, idCol, vecCol)
    p.alias("a")
      .join(p.alias("b"), col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("v1"), col("b.__id").as("v2"),
        round(dot(col("a.__v"), col("b.__v")) / (col("a.__nrm") * col("b.__nrm")), 6)
          .as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Exact top-k cosine neighbors for each query vector (queries =
    * rows matching `queryPred`). The query set broadcasts; the corpus
    * streams past it — one scan of the corpus, no corpus self-join,
    * per-group top-k via a partitioned rank window. Scales with
    * |corpus| × |queries| — this is the CORRECTNESS BASELINE; the
    * production retrieval path with the same output contract is
    * [[topKNeighborsAnn]], whose per-probe work is bucket-bounded.
    */
  def topKNeighbors(vecs: DataFrame, idCol: String, vecCol: String,
                    queryPred: Column, k: Int): DataFrame = {
    val p = withNorm(vecs, idCol, vecCol)
    val q = vecs.filter(queryPred)
    val qn = withNorm(q, idCol, vecCol)
      .select(col("__id").as("__qid"), col("__v").as("__qv"), col("__nrm").as("__qnrm"))
    val scored = p.crossJoin(broadcast(qn))
      .filter(col("__id") =!= col("__qid"))
      .select(col("__qid").as("qid"), col("__id").as("vec_id"),
        round(dot(col("__qv"), col("__v")) / (col("__qnrm") * col("__nrm")), 6).as("cosine"))
    RelationalOps.topKPerGroup(scored, Seq("qid"),
      Seq(col("cosine").desc, col("vec_id").asc), k, "rnk")
  }

  /** Sign bits [lo, lo+32) of an embedding packed into one long
    * (component > 0 ⇒ bit set). 32-bit words, not 64: the oracle's
    * `2**i` stays exactly representable and nothing brushes the sign
    * bit on either engine.
    */
  private[graft] def signWord(vec: Column, lo: Int): Column =
    aggregate(
      transform(sequence(lit(0), lit(31)), i =>
        when(element_at(vec, i + lit(lo + 1)).cast("double") > 0.0,
          call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))

  /** Binary-quantized top-k retrieval — 1-bit quantization (sign of
    * each component) with Hamming-distance shortlisting and exact
    * float rerank. The most aggressive point on the quantization
    * ladder ([[quantizeInt8]] is 8-bit): a 64-dim float vector becomes
    * 8 BYTES, Hamming distance is two XOR+popcount instructions, and
    * for angle-distributed data the collision probability of each sign
    * bit is proportional to the angle (Charikar STOC'02) — which is
    * why sign-bit search is the memory-bound regime's default in
    * production vector stores.
    *
    * Plan shape: packing is scan-fused per-row arithmetic (no shuffle,
    * no stored index); query signatures broadcast WITHOUT their float
    * vectors, so the coarse pass streams the corpus past 16 bytes per
    * probe; the per-probe `shortlist` (Hamming ties broken by id) is a
    * rank window, and only the ≤ shortlist·|probes| survivors join
    * back to float vectors for the exact cosine. Same output contract
    * as [[topKNeighbors]]; recall vs exact is pinned in VectorOpsSpec.
    */
  def topKNeighborsBinary(vecs: DataFrame, idCol: String, vecCol: String,
                          queryPred: Column, k: Int, shortlist: Int = 40): DataFrame = {
    val p = withNorm(vecs, idCol, vecCol)
      .select(col("__id"), col("__v"), col("__nrm"),
        signWord(col("__v"), 0).as("__lo"), signWord(col("__v"), 32).as("__hi"))
    val q = withNorm(vecs.filter(queryPred), idCol, vecCol)
      .select(col("__id").as("__qid"), col("__v").as("__qv"), col("__nrm").as("__qnrm"),
        signWord(col("__v"), 0).as("__qlo"), signWord(col("__v"), 32).as("__qhi"))
    val qSig = q.select(col("__qid"), col("__qlo"), col("__qhi"))
    val coarse = p.select(col("__id"), col("__lo"), col("__hi"))
      .crossJoin(broadcast(qSig))
      .filter(col("__id") =!= col("__qid"))
      .select(col("__qid"), col("__id"),
        (call_function("bit_count", col("__lo").bitwiseXOR(col("__qlo"))) +
          call_function("bit_count", col("__hi").bitwiseXOR(col("__qhi"))))
          .as("__hamming"))
    val short = RelationalOps.topKPerGroup(coarse, Seq("__qid"),
      Seq(col("__hamming").asc, col("__id").asc), shortlist, "__crnk")
    val scored = short.select(col("__qid"), col("__id"))
      .join(p.select(col("__id"), col("__v"), col("__nrm")), Seq("__id"))
      .join(broadcast(q.select(col("__qid"), col("__qv"), col("__qnrm"))), Seq("__qid"))
      .select(col("__qid").as("qid"), col("__id").as("vec_id"),
        round(dot(col("__qv"), col("__v")) / (col("__qnrm") * col("__nrm")), 6).as("cosine"))
    RelationalOps.topKPerGroup(scored, Seq("qid"),
      Seq(col("cosine").desc, col("vec_id").asc), k, "rnk")
  }

  /** Multi-vector late-interaction retrieval (the ColBERT MaxSim
    * scoring rule, Khattab & Zaharia SIGIR'20): documents and queries
    * are BAGS of token vectors sharing a doc id; score(q, d) =
    * Σ_{qv ∈ q} max_{dv ∈ d} cos(qv, dv). The retrieval shape modern
    * RAG rerankers use — single-vector cosine collapses a document to
    * one point, MaxSim lets every query token find its own best match.
    *
    * Exact integer contract: each (qv, dv) cosine rounds to micro
    * units BEFORE the max, and the per-query sum is a sum of ≤
    * |q-tokens| longs — no float summation order anywhere, so the
    * score is hash-stable.
    *
    * Plan shape: query token vectors broadcast (a probe set is
    * thousands of rows, never corpus-scale); the corpus streams past
    * them ONCE; the (qdoc, qtoken, doc) max and the (qdoc, doc) sum
    * are two map-side-combined aggregates on successively coarser
    * grains — the shuffle carries the candidate grain, not the token
    * cross product. At 100 TB, feed `tokenVecs` a per-qtoken candidate
    * shortlist from [[topKNeighborsAnn]]/[[topKNeighborsIvf]] first —
    * MaxSim composes with any ANN router because the scoring rule
    * only needs (qtoken, candidate-doc) pairs.
    *
    * @return (qdoc, doc, score_micro, rnk) — top-k docs per query doc
    */
  def maxSimTopK(tokenVecs: DataFrame, docCol: String, idCol: String,
                 vecCol: String, queryPred: Column, k: Int): DataFrame = {
    val corpus = RelationalOps.spread(tokenVecs)
      .select(col(docCol).as("__doc"), col(vecCol).as("__v"),
        norm(col(vecCol)).as("__nrm"))
    val q = tokenVecs.filter(queryPred)
      .select(col(docCol).as("__qdoc"), col(idCol).as("__qid"),
        col(vecCol).as("__qv"), norm(col(vecCol)).as("__qnrm"))
    val pairScores = corpus.crossJoin(broadcast(q))
      .filter(col("__doc") =!= col("__qdoc"))
      .select(col("__qdoc"), col("__qid"), col("__doc"),
        round(dot(col("__qv"), col("__v")) / (col("__qnrm") * col("__nrm")) * 1e6)
          .cast("long").as("__cos_micro"))
    val bestPerToken = pairScores.groupBy(col("__qdoc"), col("__qid"), col("__doc"))
      .agg(max(col("__cos_micro")).as("__m"))
    val perDoc = bestPerToken.groupBy(col("__qdoc"), col("__doc"))
      .agg(sum(col("__m")).as("score_micro"))
      .select(col("__qdoc").as("qdoc"), col("__doc").as("doc"), col("score_micro"))
    RelationalOps.topKPerGroup(perDoc, Seq("qdoc"),
      Seq(col("score_micro").desc, col("doc").asc), k, "rnk")
  }

  /** ANN-routed top-k retrieval — the scale path for [[topKNeighbors]]
    * with the SAME (qid, vec_id, cosine, rnk) output contract.
    * Production similarity search is "nearest neighbors of these probe
    * vectors", and the brute-force form scans |corpus| × |queries| —
    * dead at 100 TB once the probe set grows with the corpus. Here a
    * probe meets only the corpus vectors sharing one of its LSH
    * (table, bucket) keys across `tables` hash tables (union of the
    * probe's buckets = classic multi-table LSH retrieval), so per-probe
    * work is bounded by its bucket populations, not the corpus.
    *
    * Plan shape: corpus banding carries ONLY (id, table, bucket) — no
    * vectors ride the bucket shuffle; candidate (qid, vec_id) pairs are
    * deduped across tables, then vectors join back by id for the exact
    * cosine (one hash join on the corpus id), queries re-enter via
    * broadcast, and the final rank window partitions by qid. Ranking
    * only candidates (not the full corpus) is what makes it
    * approximate; recall vs the exact top-k is pinned in VectorOpsSpec.
    */
  def topKNeighborsAnn(vecs: DataFrame, idCol: String, vecCol: String,
                       queryPred: Column, k: Int, tables: Int = 4,
                       bitsPerTable: Int = 4, dim: Int = 64): DataFrame = {
    val p = withNorm(vecs, idCol, vecCol)
    val banded = p.select(col("__id"),
      posexplode(lshBuckets(col("__v"), tables, bitsPerTable, dim))
        .as(Seq("__tbl", "__bucket")))
    // Bucket keys are a deterministic function of the vector, so
    // banding the pre-filtered query frame yields exactly the probe
    // rows of the corpus banding.
    val qn = withNorm(vecs.filter(queryPred), idCol, vecCol)
      .select(col("__id").as("__qid"), col("__v").as("__qv"), col("__nrm").as("__qnrm"))
    val qbanded = qn.select(col("__qid"),
      posexplode(lshBuckets(col("__qv"), tables, bitsPerTable, dim))
        .as(Seq("__tbl", "__bucket")))
    val cand = qbanded.join(banded, Seq("__tbl", "__bucket"))
      .filter(col("__qid") =!= col("__id"))
      .select(col("__qid"), col("__id"))
      .distinct()
    val scored = cand.join(p, Seq("__id"))
      .join(broadcast(qn), Seq("__qid"))
      .select(col("__qid").as("qid"), col("__id").as("vec_id"),
        round(dot(col("__qv"), col("__v")) / (col("__qnrm") * col("__nrm")), 6).as("cosine"))
    RelationalOps.topKPerGroup(scored, Seq("qid"),
      Seq(col("cosine").desc, col("vec_id").asc), k, "rnk")
  }

  /** Persistable LSH POSTINGS of a corpus — one (id, table, bucket)
    * row per hash table, the artifact an ingest pipeline stores so
    * arriving vectors can be checked WITHOUT re-banding the corpus
    * (the embedding twin of [[graft.operators.DedupOps.bandIndex]]).
    * Vectors deliberately do not ride the index: postings are
    * fixed-width rows bucketed cheaply at 100 TB; the exact-cosine
    * stage reads vectors from the primary store by id.
    */
  def lshIndex(vecs: DataFrame, idCol: String, vecCol: String,
               tables: Int = 4, bitsPerTable: Int = 4, dim: Int = 64): DataFrame =
    withNorm(vecs, idCol, vecCol).select(col("__id"),
      posexplode(lshBuckets(col("__v"), tables, bitsPerTable, dim))
        .as(Seq("__tbl", "__bucket")))

  /** Incremental embedding ingest dedup — the vector-space twin of
    * [[graft.operators.DedupOps.incrementalDedup]]: a batch of NEW
    * vectors is scored against the EXISTING corpus through its
    * persisted [[lshIndex]], emitting per new vector the minimum
    * existing id with cosine ≥ `minCosine` in a shared bucket
    * (`dup_of`, null ⇒ kept). Nobody re-embeds or re-bands 100 TB per
    * ingest: the batch bands itself (tiny), joins the index on
    * (table, bucket), and only the candidate ids fetch vectors for the
    * exact cosine — per-ingest cost is O(|batch| + candidate bucket
    * populations), independent of corpus size (BASELINE.md §"r7:
    * incremental ANN ingest vs corpus growth").
    */
  def incrementalAnnDedup(index: DataFrame, existing: DataFrame,
                          batch: DataFrame, idCol: String, vecCol: String,
                          minCosine: Double, tables: Int = 4,
                          bitsPerTable: Int = 4, dim: Int = 64): DataFrame = {
    val ex = withNorm(existing, idCol, vecCol)
    val nw = withNorm(batch, idCol, vecCol)
    val nwBand = nw.select(col("__id").as("__nid"),
      posexplode(lshBuckets(col("__v"), tables, bitsPerTable, dim))
        .as(Seq("__tbl", "__bucket")))
    val cand = nwBand.join(index, Seq("__tbl", "__bucket"))
      .select(col("__nid"), col("__id")).distinct()
    val scored = cand
      .join(ex, Seq("__id"))
      .join(nw.select(col("__id").as("__nid"), col("__v").as("__nv"),
        col("__nrm").as("__nnrm")), Seq("__nid"))
      .filter(round(dot(col("__nv"), col("__v"))
        / (col("__nnrm") * col("__nrm")), 6) >= minCosine)
    nw.select(col("__id").as(idCol))
      .join(scored.groupBy(col("__nid")).agg(min(col("__id")).as("dup_of")),
        col(idCol) === col("__nid"), "left")
      .select(col(idCol), col("dup_of"), col("dup_of").isNull.as("is_kept"))
  }

  /** IVF-routed top-k retrieval — the cell-partitioned sibling of
    * [[topKNeighborsAnn]], same (qid, vec_id, cosine, rnk) contract.
    * Corpus vectors assign to their single nearest codebook cell; each
    * probe fans out to its `nprobe` nearest cells (classic multi-probe
    * IVF), so a probe meets only the corpus vectors living in the cells
    * it probes — per-probe work is bounded by cell populations, never
    * the corpus. The codebook is the same driver-side hash-sample
    * artifact as [[ivfCosinePairs]]; cell assignment happens inside the
    * scan projection (codebook literals, no shuffle), and the only
    * shuffles are the cell-key join and the per-qid rank window. A
    * corpus vector lives in exactly one cell, so a (probe, vector) pair
    * can form in at most one probed cell — no dedup step needed, unlike
    * the multi-table LSH route.
    */
  def topKNeighborsIvf(vecs: DataFrame, idCol: String, vecCol: String,
                       queryPred: Column, k: Int, nlist: Int = 16,
                       nprobe: Int = 3): DataFrame = {
    val p = withNorm(vecs, idCol, vecCol)
    val cents = p.select(col("__id"), col("__v"), col("__nrm"),
        graft.functions.TextFunctions.h7(col("__id").cast("string")).as("__h"))
      .orderBy(col("__h").asc, col("__id").asc).limit(nlist)
      .collect()
    if (cents.isEmpty) {
      import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
      val s = vecs.sparkSession
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("qid", vecs.schema(idCol).dataType),
          StructField("vec_id", vecs.schema(idCol).dataType),
          StructField("cosine", DoubleType), StructField("rnk", IntegerType))))
    }
    // codebook as array-literal REFERENCES (see cellTopN): one rank-1
    // assignment per corpus row, top-nprobe fan-out per probe row
    val centsFlat = typedlit(cents.flatMap(_.getSeq[Float](1).map(_.toDouble)).toSeq)
    val centNrms = typedlit(cents.map(_.getDouble(2)).toSeq)
    val corpus = p.select(col("__id"), col("__v"), col("__nrm"),
      element_at(cellTopN(col("__v"), col("__nrm"), centsFlat, centNrms, 1), 1)
        .as("__cell"))
    val probes = p.filter(queryPred)
      .select(col("__id").as("__qid"), col("__v").as("__qv"), col("__nrm").as("__qnrm"),
        explode(cellTopN(col("__v"), col("__nrm"), centsFlat, centNrms, nprobe))
          .as("__cell"))
    val scored = corpus.join(broadcast(probes), Seq("__cell"))
      .filter(col("__qid") =!= col("__id"))
      .select(col("__qid").as("qid"), col("__id").as("vec_id"),
        round(dot(col("__qv"), col("__v")) / (col("__qnrm") * col("__nrm")), 6).as("cosine"))
    RelationalOps.topKPerGroup(scored, Seq("qid"),
      Seq(col("cosine").desc, col("vec_id").asc), k, "rnk")
  }

  /** Two-stage retrieval — LSH candidates, int8 COARSE scoring, exact
    * float rerank of the shortlist; the production memory hierarchy
    * (compressed vectors stay hot for scoring, full-precision vectors
    * are fetched only for the few rows that survive the coarse cut).
    * Same (qid, vec_id, cosine, rnk) contract as [[topKNeighbors]];
    * `cosine` is the EXACT float cosine of the reranked survivors.
    *
    * Plan shape (r8 fusion — two shuffles total): the int8 codes RIDE
    * THE POSTINGS, the IVFADC layout where compressed codes live inside
    * the inverted lists, so the coarse score is computed in the same
    * scan stage that generates candidates — the corpus never shuffles.
    * The exploded query side enters by broadcast (the probe-set ≪
    * corpus contract; for probe sets that grow with the corpus use
    * [[topKNeighborsAnn]], whose bucket join shuffles both sides).
    * Cross-table duplicate candidates carry IDENTICAL coarse scores, so
    * one hash exchange on `__qid` serves BOTH the (qid, id) dedup
    * (HashPartitioning(qid) satisfies the groupBy(qid, id) clustering)
    * and the shortlist rank window — the stage fusion VERDICT r7 asked
    * for. Only the `shortlist`-sized survivor set re-enters by
    * broadcast to fetch float vectors; the final top-k window ranks
    * |queries|·shortlist rows. Coarse scores are exact integer dots in
    * double (the [[quantizeInt8]] determinism), so the shortlist — and
    * therefore the final result — is oracle-checkable.
    */
  def topKNeighborsRerank(vecs: DataFrame, idCol: String, vecCol: String,
                          queryPred: Column, k: Int, shortlist: Int = 40,
                          tables: Int = 4, bitsPerTable: Int = 4,
                          dim: Int = 64): DataFrame = {
    val p = withNorm(vecs, idCol, vecCol)
    // int8 postings: (table, bucket, id, codes, code-norm) — quantized
    // coordinates as double arrays (int dots are exact in double — the
    // annCosinePairsInt8 trick), 4 B/dim wire format standing in for
    // 8 B floats.
    val post8 = {
      val (_, q) = quantizeInt8(col(vecCol))
      RelationalOps.spread(vecs)
        .select(col(idCol).as("__id"), q.cast("array<double>").as("__v8"),
          lshBuckets(col(vecCol), tables, bitsPerTable, dim).as("__bks"))
        .select(col("__id"), col("__v8"), norm(col("__v8")).as("__n8"),
          posexplode(col("__bks")).as(Seq("__tbl", "__bucket")))
    }
    val qside = {
      val (_, q) = quantizeInt8(col(vecCol))
      vecs.filter(queryPred)
        .select(col(idCol).as("__qid"), q.cast("array<double>").as("__qv8"),
          lshBuckets(col(vecCol), tables, bitsPerTable, dim).as("__bks"))
        .select(col("__qid"), col("__qv8"), norm(col("__qv8")).as("__qn8"),
          posexplode(col("__bks")).as(Seq("__tbl", "__bucket")))
    }
    val qn = withNorm(vecs.filter(queryPred), idCol, vecCol)
      .select(col("__id").as("__qid"), col("__v").as("__qv"), col("__nrm").as("__qnrm"))
    // coarse scores materialize inside the scan stage; the only
    // full-stream shuffle is the 24-byte (qid, id, score8) triple
    val coarse = post8.join(broadcast(qside), Seq("__tbl", "__bucket"))
      .filter(col("__qid") =!= col("__id"))
      .select(col("__qid"), col("__id"),
        (dot(col("__qv8"), col("__v8")) / (col("__qn8") * col("__n8"))).as("__score8"))
    // one qid exchange serves dedup AND the shortlist rank window
    val dedup = coarse.repartition(col("__qid"))
      .groupBy(col("__qid"), col("__id")).agg(max(col("__score8")).as("__score8"))
    val short = RelationalOps.topKPerGroup(dedup, Seq("__qid"),
      Seq(col("__score8").desc, col("__id").asc), shortlist, "__crnk")
      .select(col("__qid"), col("__id"))
    val exact = p.join(broadcast(short), Seq("__id"))
      .join(broadcast(qn), Seq("__qid"))
      .select(col("__qid").as("qid"), col("__id").as("vec_id"),
        round(dot(col("__qv"), col("__v")) / (col("__qnrm") * col("__nrm")), 6).as("cosine"))
    RelationalOps.topKPerGroup(exact, Seq("qid"),
      Seq(col("cosine").desc, col("vec_id").asc), k, "rnk")
  }

  /** IVFADC retrieval (Jégou, Douze, Schmid, "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011) — the architecture behind
    * every billion-vector ANN store: a COARSE quantizer routes vectors
    * into `nlist` inverted cells, and within candidates, distances are
    * approximated from `m` PRODUCT-QUANTIZER codes (each sub-vector of
    * dim/m dims encoded as its nearest of `ksub` sub-centroids — here
    * 8 codes of 4 bits ≈ 8 B/vector instead of 256 B of floats).
    * Queries score candidates with an ASYMMETRIC distance computation
    * (ADC): one m × ksub table of query-to-sub-centroid dot products is
    * built per query, and each candidate's approximate score is m table
    * lookups — no float vectors touched until the final rerank.
    *
    * Plan shape (the 100 TB story): encoding is a pure per-row
    * projection inside the scan (codebooks enter the plan as literals —
    * nothing joins, nothing shuffles to encode); candidates exist only
    * inside probed (cell) groups; ADC is an unrolled chain of
    * `element_at` lookups (whole-stage codegen, no interpreted lambda
    * per candidate); only the `k·rerankFactor` shortlist survivors per
    * query join back to the float corpus for exact cosines.
    *
    * Determinism contract: sub-centroid scores use the algebraic form
    * |c|² − 2·v_s·c (the v_s·v_s term is rank-constant) with index-order
    * double sums, ties break to the lowest code; ADC table entries are
    * INTEGER MICRO-UNITS (`round(dot·1e6)` as long) so candidate
    * ranking sums longs — order-independent, bit-identical in SQL —
    * never doubles, whose summation order differs across engines.
    * Same (qid, vec_id, cosine, rnk) contract as [[topKNeighbors]].
    */
  def topKNeighborsPq(vecs: DataFrame, idCol: String, vecCol: String,
                      queryPred: Column, k: Int, nlist: Int = 16,
                      nprobe: Int = 2, m: Int = 8, ksub: Int = 16,
                      rerankFactor: Int = 4, dim: Int = 64): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible into m=$m segments")
    val ds = dim / m
    val p = withNorm(vecs, idCol, vecCol)
    val sample = p.select(col("__id"), col("__v"), col("__nrm"),
        graft.functions.TextFunctions.h7(col("__id").cast("string")).as("__h"))
      .orderBy(col("__h").asc, col("__id").asc).limit(math.max(nlist, ksub))
      .collect()
    if (sample.isEmpty) {
      import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
      val s = vecs.sparkSession
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("qid", vecs.schema(idCol).dataType),
          StructField("vec_id", vecs.schema(idCol).dataType),
          StructField("cosine", DoubleType), StructField("rnk", IntegerType))))
    }
    // Sub-codebook (s, j) = segment s of hash-ordered sample j; the
    // (s, j, i) row-major flattening feeds graft_pq_encode/graft_adc
    // as ONE array literal (a codegen reference — generated source
    // stays identical across codebooks, see CodebookExpressions).
    // |c|² accumulates in index order INSIDE the expression, same
    // doubles as the oracle's list_sum. A corpus smaller than ksub
    // just gets a smaller sub-codebook (codes stay dense in [0, kEff)).
    val kEff = math.min(ksub, sample.length)
    val cb: Array[Array[Array[Double]]] = Array.tabulate(m, kEff) { (s, j) =>
      sample(j).getSeq[Float](1)
        .slice(s * ds, (s + 1) * ds).map(_.toDouble).toArray
    }
    val cbFlat = typedlit(cb.flatten.flatten.toSeq)
    val coarse = sample.take(nlist)
    val centsFlat = typedlit(coarse.flatMap(_.getSeq[Float](1).map(_.toDouble)).toSeq)
    val centNrms = typedlit(coarse.map(_.getDouble(2)).toSeq)
    // PQ encode: argmin_j (|c|² − 2·v_s·c_j), ties -> lowest j — one
    // native per-row projection, codebook in the references table
    val codes = call_function("graft_pq_encode", col("__v"), cbFlat, lit(m), lit(kEff))
    val corpus = p.select(col("__id"), codes.as("__codes"),
      element_at(cellTopN(col("__v"), col("__nrm"), centsFlat, centNrms, 1), 1)
        .as("__cell"))
    val qn = p.filter(queryPred)
    // per-query ADC table in integer micro-units: long sums rank
    // identically on every engine
    val qt = call_function("graft_adc", col("__v"), cbFlat, lit(m), lit(kEff))
    val probes = qn.select(col("__id").as("__qid"), qt.as("__qt"),
      explode(cellTopN(col("__v"), col("__nrm"), centsFlat, centNrms, nprobe))
        .as("__cell"))
    // ADC score: unrolled Σ_s table[s][code_s] — m element_at lookups,
    // fully inside whole-stage codegen
    val adc = (0 until m).map { s =>
      element_at(element_at(col("__qt"), s + 1),
        element_at(col("__codes"), s + 1) + 1)
    }.reduce(_ + _)
    val scored = corpus.join(broadcast(probes), Seq("__cell"))
      .filter(col("__qid") =!= col("__id"))
      .select(col("__qid"), col("__id"), adc.as("__adc"))
    val short = RelationalOps.topKPerGroup(scored, Seq("__qid"),
      Seq(col("__adc").desc, col("__id").asc), k * rerankFactor, "__crnk")
      .select(col("__qid"), col("__id"))
    val qv = qn.select(col("__id").as("__qid"), col("__v").as("__qv"),
      col("__nrm").as("__qnrm"))
    val exact = short.join(p, Seq("__id"))
      .join(broadcast(qv), Seq("__qid"))
      .select(col("__qid").as("qid"), col("__id").as("vec_id"),
        round(dot(col("__qv"), col("__v")) / (col("__qnrm") * col("__nrm")), 6)
          .as("cosine"))
    RelationalOps.topKPerGroup(exact, Seq("qid"),
      Seq(col("cosine").desc, col("vec_id").asc), k, "rnk")
  }

  /** Deterministic ±1 hyperplane component for (table, bit, dim):
    * parity of the 28-bit md5 prefix of "t_b_i" — the exact integer a
    * SQL oracle recovers with
    * `CAST('0x' || substr(md5(...), 1, 7) AS BIGINT) % 2`.
    */
  def planeSign(table: Int, bit: Int, dim: Int): Double = {
    val h = graft.functions.TextFunctions.h7Jvm(
      s"${table}_${bit}_$dim".getBytes(StandardCharsets.UTF_8))
    if (h % 2 == 1) 1.0 else -1.0
  }

  /** The `tables` LSH bucket keys of vector `v`: element t is the
    * concatenation of `bitsPerTable` hyperplane sign bits for table t.
    * Shared by every hyperplane-LSH operator below so they bucket
    * identically (and so the DuckDB oracle's `$buckets` fragment has
    * exactly one Spark-side definition to mirror).
    */
  private def lshBuckets(v: Column, tables: Int, bitsPerTable: Int, dim: Int): Column = {
    // r21: one native expression over the FLAT sign matrix instead of
    // tables·bits `graft_dot(v, planeLit)` calls folded through
    // when/concat — that expression forest codegens into a method too
    // large for HotSpot to JIT, so the banding projection (the hottest
    // stage of every LSH operator) ran INTERPRETED at ~2 ms/row
    // (measured: 36 dots cost 0.3 ms/row unrolled vs 2 µs/row as one
    // compiled loop). Bucket strings are bit-identical — see
    // [[graft.functions.LshBucketsExpr]]'s exact-semantics contract.
    val planes = typedlit((0 until tables).flatMap(t =>
      (0 until bitsPerTable).flatMap(b =>
        (0 until dim).map(i => planeSign(t, b, i)))))
    call_function("graft_lsh_buckets", v, planes, lit(tables), lit(bitsPerTable))
  }

  /** ANN cosine pairs — the scale path. Random-hyperplane LSH
    * (Charikar 2002): `tables` independent hash tables, each keying on
    * `bitsPerTable` sign bits of hyperplane projections; vectors
    * meeting in any table's bucket become candidates, then exact
    * cosine filters. Two vectors at angle θ share one table's bucket
    * with probability (1-θ/π)^bitsPerTable, so recall is tuned by
    * (tables, bitsPerTable) — work stays |buckets| × bucket² instead
    * of n².
    *
    * Plan shape: per-row projections (codegen, no shuffle) →
    * posexplode to `tables` rows → shuffle on (table, bucket) →
    * sort-merge self-join (merge hint ⇒ ReuseExchange computes the
    * projection pipeline once) → exact-cosine filter → distinct.
    *
    * Scale path: on a DUP-HEAVY corpus this uncapped spelling grows
    * with the answer's own quadratic (identical vectors share every
    * bucket — measured 52×/decade at sf100); compose
    * [[annCosinePairsCapped]] there, which bounds every bucket at
    * bucketCap² deterministically.
    */
  def annCosinePairs(vecs: DataFrame, idCol: String, vecCol: String,
                     minCosine: Double, tables: Int = 4, bitsPerTable: Int = 4,
                     dim: Int = 64, targetOccupancy: Int = 0,
                     knownCount: Long = -1L): DataFrame = {
    // targetOccupancy > 0 = occupancy-adaptive band width (the same
    // ladder as the projected spelling): fixed 2^bits buckets make
    // within-bucket candidate pairs grow quadratically with the
    // corpus — the r17 sf10 receipt measured the fixed form (inside
    // cur_embed_prune) at 83× wall for 10× data; the adaptive ladder
    // keeps expected occupancy, and so per-vector candidate work,
    // constant. knownCount >= 0 serves the ladder's corpus-size input
    // from METADATA (X-V6): a graft-table corpus reads it from
    // per-file stats (TxnLog.rowCountFromStats, zero tasks), a
    // pipeline that already knows its corpus passes it through — the
    // count() job is the fallback, not the price of adaptivity
    val bits =
      if (targetOccupancy <= 0) bitsPerTable
      else adaptiveBits(
        if (knownCount >= 0L) knownCount else vecs.count(), targetOccupancy)
    val p = withNorm(vecs, idCol, vecCol)
    val banded = p.select(col("__id"), col("__v"), col("__nrm"),
      posexplode(lshBuckets(col("__v"), tables, bits, dim))
        .as(Seq("__tbl", "__bucket")))
    banded.alias("a").hint("merge")
      .join(banded.alias("b"),
        col("a.__tbl") === col("b.__tbl") && col("a.__bucket") === col("b.__bucket") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("v1"), col("b.__id").as("v2"),
        round(dot(col("a.__v"), col("b.__v")) / (col("a.__nrm") * col("b.__nrm")), 6)
          .as("cosine"))
      .filter(col("cosine") >= minCosine)
      .distinct()
  }

  /** Projected-space LSH ANN — [[randomProject]] composed in front of
    * [[annCosinePairs]]: band on the LSH buckets of the rdim-projected
    * vector, score the surviving candidates with the EXACT cosine in
    * the original space. Same output contract as [[annCosinePairs]].
    *
    * Why project first at 100 TB: banding cost drops from
    * O(tables·bits·dim) to O(dim·rdim + tables·bits·rdim) per row and
    * — the real win — every index-maintenance artifact (stored
    * signatures, incremental-ingest band keys) is rdim/dim the size.
    * Since final scoring is exact on full vectors, projection
    * distortion costs RECALL only, never precision — the same
    * candidates-then-exact-filter guarantee as every ANN op here.
    * Projection planes (seed space) and bucket planes (table space)
    * are disjoint md5 domains, so the composition stays
    * oracle-checkable end to end.
    *
    * Measured limit (BASELINE.md r6): rdim-dim buckets are COARSER, so
    * near-miss vectors that full-width banding separates collide here
    * — on a dup-heavy corpus the inflated candidate set costs more
    * than the cheaper banding saves (3× slower at the 16× adversarial
    * probe, 2.7× faster at base scale). Use when index size / banding
    * throughput is the bottleneck; prefer [[annCosinePairs]] or the
    * capped variant when candidate volume is.
    *
    * Scale path: like every uncapped spelling this fans out k² pairs
    * per k-dup bucket; pass `bucketCap` (the built-in cap parameter
    * below) or see [[annCosinePairsCapped]] for the full-width twin.
    */
  /** Occupancy-adaptive band width: the smallest `bits >= minBits`
    * whose 2^bits-per-table bucket space keeps EXPECTED occupancy at
    * or under `targetOccupancy` for an n-vector corpus (ladder stops
    * at `maxBits`). A FIXED bucket space makes occupancy — and the
    * within-bucket candidate pairs, which grow with occupancy² — scale
    * with the corpus: the r16 sf1 receipt measured the fixed-8-bit
    * projected spelling at 11× wall for 10× data. Constant occupancy
    * makes total candidate work ~n·occ/2, LINEAR in n. Integer shift
    * ladder, no floating log — the DuckDB oracle reproduces the exact
    * same comparisons (`n >> bits <= target`).
    */
  def adaptiveBits(n: Long, targetOccupancy: Int = 16,
                   minBits: Int = 4, maxBits: Int = 24): Int = {
    require(targetOccupancy > 0 && minBits >= 1 && maxBits >= minBits)
    var bits = minBits
    while (bits < maxBits && (n >> bits) > targetOccupancy) bits += 1
    bits
  }

  def annCosinePairsProjected(vecs: DataFrame, idCol: String, vecCol: String,
                              minCosine: Double, rdim: Int = 8, tables: Int = 4,
                              bitsPerTable: Int = 4, dim: Int = 64,
                              seed: Int = 101,
                              bucketCap: Int = Int.MaxValue,
                              targetOccupancy: Int = 0,
                              knownCount: Long = -1L): DataFrame = {
    // targetOccupancy > 0 = the occupancy-adaptive DEFAULT SPELLING:
    // band bits derived from the corpus count (one metadata-priced
    // count job) so expected bucket occupancy — and per-vector
    // candidate work — stays constant as the corpus grows. The fixed
    // `bitsPerTable` form remains available as the documented
    // baseline (its exponent degrades superlinearly on big corpora,
    // like sim_cosine_pairs' exact O(n²)).
    val bits =
      if (targetOccupancy <= 0) bitsPerTable
      else adaptiveBits(
        if (knownCount >= 0L) knownCount else vecs.count(), targetOccupancy)
    val projected = array((0 until rdim).map { j =>
      val plane = typedlit((0 until dim).map(i => planeSign(seed, j, i)))
      round(dot(col("__v"), plane), 6)
    }: _*)
    // materialize the rdim projection ONCE per row in its own Project
    // (r20): inlining `projected` into lshBuckets re-evaluates the
    // full rdim×dim projection for EVERY band bit — tables·bits·rdim
    // dot(dim)s per row instead of rdim (the r20 profile measured the
    // inlined spelling at 508 graft_dot calls in the plan and 24 ms/row
    // in the banding stage; values are identical either way, so the
    // oracle hash cannot move). Catalyst keeps the split: CollapseProject
    // refuses to duplicate non-cheap expressions into multiple
    // consumers, and the banding sits in a Generate, not a Project.
    val p = withNorm(vecs, idCol, vecCol)
      .select(col("__id"), col("__v"), col("__nrm"), projected.as("__pv"))
    val banded0 = p.select(col("__id"), col("__v"), col("__nrm"),
      posexplode(lshBuckets(col("__pv"), tables, bits, rdim))
        .as(Seq("__tbl", "__bucket")))
    // The coarser rdim-dim buckets make dup-heavy candidate blowup
    // MORE likely than in full-width banding (measured 3× at the 16×
    // probe — BASELINE.md r6), so the same deterministic-hash-order
    // cap as [[annCosinePairsCapped]] is the intended pairing on such
    // corpora; uncapped skips the window entirely.
    val banded = if (bucketCap == Int.MaxValue) banded0 else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__tbl"), col("__bucket"))
        .orderBy(graft.functions.TextFunctions.h7(col("__id").cast("string")).asc,
          col("__id").asc)
      banded0.withColumn("__rnk", row_number().over(w))
        .filter(col("__rnk") <= bucketCap)
        .drop("__rnk")
    }
    banded.alias("a").hint("merge")
      .join(banded.alias("b"),
        col("a.__tbl") === col("b.__tbl") && col("a.__bucket") === col("b.__bucket") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("v1"), col("b.__id").as("v2"),
        round(dot(col("a.__v"), col("b.__v")) / (col("a.__nrm") * col("b.__nrm")), 6)
          .as("cosine"))
      .filter(col("cosine") >= minCosine)
      .distinct()
  }

  /** IVF (inverted-file) ANN cosine pairs — the codebook-based scale
    * path, complementing the hyperplane LSH of [[annCosinePairs]].
    * Production IVF trains centroids with k-means; for a deterministic,
    * oracle-checkable engine the codebook is the `nlist` corpus vectors
    * with the smallest portable id-hash (a random-but-reproducible
    * sample — the standard no-training fallback). Every vector is
    * assigned to its `nprobe` nearest cells; vectors sharing a cell
    * become candidates; exact cosine filters.
    *
    * Plan shape: the codebook is collected driver-side (nlist rows —
    * the same small-artifact pattern as the LSH hyperplanes) and
    * enters the plan as literals, so cell assignment is a per-row
    * 16-element array sort inside the scan projection — NO
    * corpus × nlist shuffle. The only shuffle is the (cell) self-join,
    * and multi-probe assignment buys recall the way IVF nprobe always
    * does.
    */
  def ivfCosinePairs(vecs: DataFrame, idCol: String, vecCol: String,
                     minCosine: Double, nlist: Int = 16, nprobe: Int = 2): DataFrame = {
    val p = withNorm(vecs, idCol, vecCol)
    val cents = p.select(col("__id"), col("__v"), col("__nrm"),
        graft.functions.TextFunctions.h7(col("__id").cast("string")).as("__h"))
      .orderBy(col("__h").asc, col("__id").asc).limit(nlist)
      .collect() // nlist rows: the codebook is a driver-side artifact
    if (cents.isEmpty) {
      // empty corpus: a zero-element array() literal would type as
      // VOID and break the cell extraction — return the empty result
      // with the contract schema instead
      import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
      val s = vecs.sparkSession
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("v1", vecs.schema(idCol).dataType),
          StructField("v2", vecs.schema(idCol).dataType),
          StructField("cosine", DoubleType))))
    }
    // top-nprobe cells via the native graft_cell_topn — the codebook
    // rides in array literals (codegen references, plan-canonical: no
    // comparator lambda whose per-instantiation variable ids would
    // defeat ReuseExchange on the self-join below).
    val centsFlat = typedlit(cents.flatMap(_.getSeq[Float](1).map(_.toDouble)).toSeq)
    val centNrms = typedlit(cents.map(_.getDouble(2)).toSeq)
    val assigned = p.select(col("__id"), col("__v"), col("__nrm"),
      explode(cellTopN(col("__v"), col("__nrm"), centsFlat, centNrms, nprobe))
        .as("__cell"))
    assigned.alias("a").hint("merge")
      .join(assigned.alias("b"),
        col("a.__cell") === col("b.__cell") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("v1"), col("b.__id").as("v2"),
        round(dot(col("a.__v"), col("b.__v")) / (col("a.__nrm") * col("b.__nrm")), 6)
          .as("cosine"))
      .filter(col("cosine") >= minCosine)
      .distinct()
  }

  /** [[ivfCosinePairs]] with a TRAINED codebook: `lloydIters` rounds of
    * deterministic k-means (Lloyd) refinement over the hash-sampled
    * initial codebook before the final multi-probe assignment.
    * Production IVF always trains its centroids — a random sample
    * leaves cells unbalanced (hot cells → quadratic candidate blow-up,
    * empty cells → wasted probes); even 2 Lloyd rounds substantially
    * evens cell populations and improves recall at the same nprobe.
    *
    * Determinism contract (what makes a TRAINED ANN index still
    * oracle-checkable): each Lloyd round assigns every vector to its
    * single nearest cell (sim desc, cell asc tie-break) and recomputes
    * centroids as per-(cell, dim) means QUANTIZED TO INTEGER MICRO-UNITS
    * inside the engine (`round(avg·1e6)` — exact integers on both
    * engines, the vec_centroids trick), so the refined codebook is
    * bit-identical in Spark and the SQL oracle; empty cells keep their
    * previous centroid. Assignment distributes (codebook enters the
    * plan as literals, as in [[ivfCosinePairs]]); only the
    * nlist × dim micro-unit means are collected per round — the
    * codebook is a driver-side artifact by design. Each round costs
    * one scan + one (cell, dim) hash aggregation over the TRAINING
    * sample: `trainPct` < 100 restricts training (init + Lloyd) to the
    * [[graft.operators.CorpusOps.hashModSample]] slice of the corpus —
    * at 100 TB nobody trains 16 centroids on every vector; the final
    * multi-probe assignment still covers the full corpus.
    */
  /** Deterministic Lloyd training over `p` (a [[withNorm]] frame):
    * hash-ordered init, `lloydIters` rounds of rank-1 assignment +
    * per-(cell, dim) micro-unit means, training restricted to the
    * `trainPct`% hash-mod slice. Shared by [[ivfCosinePairsTrained]]
    * and [[kmeansAssign]] — same codebook, same oracle CTEs. None on
    * an empty corpus.
    */
  private def trainCodebook(p: DataFrame, nlist: Int, lloydIters: Int,
                            trainPct: Int): Option[Array[(Array[Double], Double)]] = {
    // The training slice is scanned eagerly once per Lloyd round plus
    // once for init — cache it so rounds 2..n and init read memory, not
    // parquet (it is the trainPct% sample: tiny relative to the corpus).
    val pt =
      (if (trainPct >= 100) p
       else p.filter(pmod(graft.functions.TextFunctions.h7(col("__id").cast("string")),
         lit(100)) < trainPct)).persist()
    try {
      val init = pt.select(col("__id"), col("__v"), col("__nrm"),
          graft.functions.TextFunctions.h7(col("__id").cast("string")).as("__h"))
        .orderBy(col("__h").asc, col("__id").asc).limit(nlist)
        .collect()
      if (init.isEmpty) return None
      // index-ordered norm, matching sqrt(list_sum(...)) in the oracle
      def normOf(v: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        math.sqrt(s)
      }
      var codebook: Array[(Array[Double], Double)] = init.map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        (v, r.getDouble(2))
      }
      // codebook re-flattened per Lloyd round (the centroids change):
      // array literals = codegen references, so every round — and every
      // retrain — reuses the same compiled source (see cellTopN)
      def centsFlat: Column = typedlit(codebook.flatMap(_._1).toSeq)
      def centNrms: Column = typedlit(codebook.map(_._2).toSeq)
      for (_ <- 0 until lloydIters) {
        // rank-1 assignment -> per-(cell, dim) mean in integer micro-units
        // (round() half-away-from-zero matches DuckDB's; the micro ints
        // are then exact on both engines, and micro/1e6 is the same IEEE
        // division everywhere)
        // assignment computed BELOW the explode (r20): an expensive
        // expression in the same select as posexplode lands in the
        // Project ABOVE the Generate and is re-evaluated once per
        // exploded dimension — dim× the nearest-cell scans (profiled
        // at 9 s task CPU per Lloyd round at sf0.1, 0.6 s with the
        // split). The extra Project stays below the Generate; values
        // are identical.
        val micros = pt
          .select(element_at(cellTopN(col("__v"), col("__nrm"),
              centsFlat, centNrms, 1), 1).as("__cell"), col("__v"))
          .select(col("__cell"), posexplode(col("__v")).as(Seq("__pos", "__x")))
          .groupBy(col("__cell"), col("__pos"))
          .agg(round(avg(col("__x").cast("double")) * 1e6).cast("long").as("__micro"))
          .collect()
        val dim = codebook.head._1.length
        val byCell = micros.groupBy(_.getInt(0))
        codebook = codebook.zipWithIndex.map { case (prev, i) =>
          byCell.get(i) match {
            case Some(rows) =>
              val cv = new Array[Double](dim)
              rows.foreach(r => cv(r.getInt(1)) = r.getLong(2) / 1e6)
              (cv, normOf(cv))
            case None => prev // empty cell: keep its previous centroid
          }
        }
      }
      Some(codebook)
    } finally pt.unpersist()
  }

  def ivfCosinePairsTrained(vecs: DataFrame, idCol: String, vecCol: String,
                            minCosine: Double, nlist: Int = 16, nprobe: Int = 2,
                            lloydIters: Int = 2, trainPct: Int = 100): DataFrame = {
    val p = withNorm(vecs, idCol, vecCol)
    trainCodebook(p, nlist, lloydIters, trainPct) match {
      case None =>
        import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
        val s = vecs.sparkSession
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("v1", vecs.schema(idCol).dataType),
            StructField("v2", vecs.schema(idCol).dataType),
            StructField("cosine", DoubleType))))
      case Some(codebook) =>
        val centsFlat = typedlit(codebook.flatMap(_._1).toSeq)
        val centNrms = typedlit(codebook.map(_._2).toSeq)
        // Training was eager; the final assignment scans the FULL
        // corpus, not the slice.
        val assigned = p.select(col("__id"), col("__v"), col("__nrm"),
          explode(cellTopN(col("__v"), col("__nrm"), centsFlat, centNrms, nprobe))
            .as("__cell"))
        assigned.alias("a").hint("merge")
          .join(assigned.alias("b"),
            col("a.__cell") === col("b.__cell") && col("a.__id") < col("b.__id"))
          .select(col("a.__id").as("v1"), col("b.__id").as("v2"),
            round(dot(col("a.__v"), col("b.__v")) / (col("a.__nrm") * col("b.__nrm")), 6)
              .as("cosine"))
          .filter(col("cosine") >= minCosine)
          .distinct()
    }
  }

  /** K-MEANS clustering exposed as cluster assignment: the
    * [[trainCodebook]] Lloyd machinery (hash-ordered deterministic
    * init, micro-unit centroid means, train-on-a-slice) with the
    * rank-1 cell per vector and its cosine to the assigned centroid
    * as the output — embedding-space clustering for corpus
    * stratification / topic bucketing. One scan for the assignment;
    * the centroid lookup per row indexes the codebook literal by the
    * assigned cell (no join, no shuffle).
    */
  def kmeansAssign(vecs: DataFrame, idCol: String, vecCol: String,
                   k: Int = 16, lloydIters: Int = 2,
                   trainPct: Int = 100): DataFrame = {
    val p = withNorm(vecs, idCol, vecCol)
    trainCodebook(p, k, lloydIters, trainPct) match {
      case None =>
        import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
        val s = vecs.sparkSession
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField(idCol, vecs.schema(idCol).dataType),
            StructField("cell", IntegerType), StructField("sim", DoubleType))))
      case Some(codebook) =>
        val centsFlat = typedlit(codebook.flatMap(_._1).toSeq)
        val centNrms = typedlit(codebook.map(_._2).toSeq)
        val cents2d = typedlit(codebook.map(_._1.toSeq).toSeq)
        p.select(col("__id"), col("__v"), col("__nrm"),
            element_at(cellTopN(col("__v"), col("__nrm"), centsFlat, centNrms, 1), 1)
              .as("cell"))
          .select(col("__id").as(idCol), col("cell"),
            round(dot(col("__v"), element_at(cents2d, col("cell") + 1)) /
              (col("__nrm") * element_at(centNrms, col("cell") + 1)), 6).as("sim"))
    }
  }

  /** Per-group embedding centroids (elementwise mean) — the classifier
    * prototype / cluster-summary op every embedding pipeline needs
    * (nearest-centroid labeling, IVF codebook training, drift
    * monitoring). The scale shape DISTRIBUTES OVER DIMENSIONS:
    * posexplode to (group, dim) rows, hash-aggregate the mean per
    * (group, dim) — map-side combined, so the shuffle carries
    * |groups| × dim rows per partition, never the vectors themselves —
    * then reassemble each centroid with an ordered collect over its
    * ≤ dim elements. A whole-vector `aggregate()` fold per group would
    * instead funnel every vector through a single reducer per group.
    *
    * Returns (group, n_vecs, centroid) with the centroid serialized as
    * CSV micro-units (round(mean·1e6) per dimension): integer strings
    * are portable across engines/comparators, where raw double→string
    * diverges in scientific-notation formatting.
    */
  def groupCentroids(vecs: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    val ex = RelationalOps.spread(vecs).select(col(groupCol),
      posexplode(col(vecCol)).as(Seq("__pos", "__v")))
    ex.groupBy(col(groupCol), col("__pos"))
      .agg(avg(col("__v").cast("double")).as("__cv"), count(lit(1)).as("__n"))
      .groupBy(col(groupCol))
      .agg(min(col("__n")).as("n_vecs"),
        array_join(transform(array_sort(collect_list(struct(col("__pos"), col("__cv")))),
          s => round(s.getField("__cv") * 1e6).cast("long").cast("string")), ",")
          .as("centroid"))
  }

  /** Distributed POWER ITERATION for the corpus's top principal
    * direction — one Gram-matrix-free matvec per round: y = Xᵀ(Xv)
    * needs only (a) a per-row scalar s = x·v against the current
    * iterate as a LITERAL array (scan-fused, no join) and (b) one
    * map-side-combined (dim, Σ) aggregation — the [[groupCentroids]]
    * distribute-over-dimensions shape. The 64×64 covariance never
    * materializes, X is never shuffled, and each round moves only
    * `dim` partial sums per partition; rounds cost one corpus scan
    * each — how truncated PCA/spectral embedding actually runs at
    * 100 TB (the power method of Golub & Van Loan; same matvec
    * structure as PageRank's).
    *
    * Determinism contract (what makes an ITERATIVE float algorithm
    * oracle-checkable): the iterate lives as integer MICRO-UNITS.
    * Per-row contributions quantize to micro-longs BEFORE the
    * cross-row sum (integer addition is order-independent — the
    * cross-row float sum a naive formulation needs is not), the dot
    * against v is index-ordered ([[dot]]), and renormalization is
    * fixed IEEE ops from exact longs: v'_j = round(y_j / max|y| ·
    * 1e6) (max-norm, not L2 — max of ints is exact where a float L2
    * norm would re-introduce summation order). Intermediate rounds
    * post-process the collected 64-row y on the driver with the SAME
    * HALF_UP rounding Spark and DuckDB apply; the FINAL round's
    * normalization stays in-plan (broadcast max-abs scalar, the
    * share-of-total shape), so the query output is distributed
    * end-to-end. Sign follows the deterministic all-ones init.
    *
    * @return `dim` rows: (pos, y_micro, v_micro) of the last round.
    */
  def powerIteration(vecs: DataFrame, vecCol: String, dim: Int = 64,
                     iters: Int = 3): DataFrame = {
    require(iters >= 1, "powerIteration: iters must be >= 1")
    def yFrame(vMicro: Array[Long]): DataFrame = {
      val vLit = typedlit(vMicro.map(_ / 1e6).toSeq)
      RelationalOps.spread(vecs)
        .select(col(vecCol).as("__v"), dot(col(vecCol), vLit).as("__s"))
        .select(posexplode(col("__v")).as(Seq("pos", "__x")), col("__s"))
        .groupBy(col("pos"))
        .agg(sum(round((col("__x").cast("double") * col("__s")) * 1e6).cast("long"))
          .as("y_micro"))
    }
    var vMicro = Array.fill(dim)(1000000L)
    for (_ <- 1 until iters) {
      val y = yFrame(vMicro).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val m = (0 until dim).map(j => math.abs(y.getOrElse(j, 0L))).max
      vMicro = (0 until dim).map { j =>
        if (m == 0L) 0L
        else java.math.BigDecimal.valueOf(y.getOrElse(j, 0L).toDouble / m * 1e6)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      }.toArray
    }
    val y = yFrame(vMicro)
    val mFrame = y.agg(max(abs(col("y_micro"))).as("__m"))
    y.crossJoin(broadcast(mFrame))
      .select(col("pos"), col("y_micro"),
        when(col("__m") === 0L, lit(0L))
          .otherwise(round(col("y_micro").cast("double") / col("__m") * 1e6)
            .cast("long")).as("v_micro"))
  }

  /** Per-DIMENSION z-score standardization — the feature-prep pass
    * before distance-based models (whitening makes every dimension
    * contribute comparably; unstandardized scale differences dominate
    * L2/centroid math): z_i = (x_i − μ_i) / σ_i with corpus-global
    * per-dimension mean and population std.
    *
    * Scale shape, two stages: (1) stats are ONE map-side-combined
    * aggregate over the posexploded corpus — the shuffle carries
    * dim × partitions partial rows, and the result is `dim` rows
    * collected as a DRIVER-SIDE ARTIFACT (same deliberate pattern as
    * the IVF codebook: a 64-entry literal, not a join side); (2) the
    * standardization itself is then a scan-fused per-row `transform`
    * against the μ/σ literal arrays — shuffle-free, so at 100 TB the
    * corpus is touched twice and moved zero times.
    *
    * Determinism contract: μ and E[x²] are quantized to integer
    * micro-units (round(avg·1e6) — the vec_centroids trick), σ derives
    * from those ints by fixed IEEE ops (σ of a constant dimension
    * becomes 1 so z = 0), and z is emitted as round(z·1e4) integer CSV
    * — bit-identical on any engine replaying the same arithmetic.
    */
  def standardize(vecs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val ex = RelationalOps.spread(vecs).select(
      posexplode(col(vecCol)).as(Seq("__pos", "__x")))
    val stats = ex.groupBy(col("__pos"))
      .agg(round(avg(col("__x").cast("double")) * 1e6).cast("long").as("__mu6"),
        round(avg(col("__x").cast("double") * col("__x").cast("double")) * 1e6)
          .cast("long").as("__m26"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val dim = if (stats.isEmpty) 0 else stats.keys.max + 1
    val mu = (0 until dim).map(i => stats(i)._1 / 1e6)
    val sigma = (0 until dim).map { i =>
      val m = stats(i)._1 / 1e6
      val s = math.sqrt(math.max(stats(i)._2 / 1e6 - m * m, 0.0))
      if (s == 0.0) 1.0 else s
    }
    val muLit = typedlit(mu)
    val sgLit = typedlit(sigma)
    vecs.select(col(idCol),
      concat_ws(",", transform(col(vecCol), (x, i) =>
        round((x.cast("double") - element_at(muLit, i + 1))
          / element_at(sgLit, i + 1) * 1e4).cast("long").cast("string")))
        .as("zvec"))
  }

  /** LSH ANN over int8-QUANTIZED vectors — turns [[quantizeInt8]] from
    * a stored artifact into a working compute path (the reason
    * production stores int8: 4× less memory/IO than float32 while the
    * search still runs on the compressed form). Cosine is invariant
    * under each vector's positive quantization scale, so the quantized
    * ints are usable DIRECTLY as coordinates — no dequantization
    * multiply per element; the integer dot products run exactly in
    * double registers (|q| ≤ 127, so dim · 127² ≪ 2^53). Hyperplane
    * bucketing happens on the quantized coordinates too; recall
    * differs from the float path only where quantization noise flips a
    * sign near a hyperplane. Over the quantized corpus the result is
    * exact and fully oracle-checkable.
    */
  def annCosinePairsInt8(vecs: DataFrame, idCol: String, vecCol: String,
                         minCosine: Double, tables: Int = 4, bitsPerTable: Int = 4,
                         dim: Int = 64, targetOccupancy: Int = 0,
                         knownCount: Long = -1L): DataFrame = {
    val (_, q) = quantizeInt8(col(vecCol))
    annCosinePairs(vecs.select(col(idCol), q.cast("array<double>").as(vecCol)),
      idCol, vecCol, minCosine, tables, bitsPerTable, dim, targetOccupancy,
      knownCount)
  }

  /** [[annCosinePairs]] with a per-(table, bucket) candidate cap — the
    * guard a dup-heavy corpus needs at 100 TB: a bucket holding k
    * identical (or near-identical) vectors generates k² candidate
    * pairs, and the replicated-corpus runs in BASELINE.md §"r3: capped
    * variants under adversarial load" showed exactly that quadratic
    * growth. Each bucket keeps only its `bucketCap`
    * lowest-ranked members under a DETERMINISTIC order (portable md5
    * hash of the id, then id — reproducible in the SQL oracle, stable
    * across retries), so candidate work per bucket is bounded by
    * bucketCap² regardless of corpus duplication. Recall loss is
    * confined to over-full buckets — precisely the ones whose members
    * are near-duplicates of each other, where any survivor still
    * represents the group.
    *
    * The rank is a row_number window over (table, bucket) — the same
    * key the self-join shuffles on, so the cap adds no extra shuffle.
    */
  def annCosinePairsCapped(vecs: DataFrame, idCol: String, vecCol: String,
                           minCosine: Double, bucketCap: Int, tables: Int = 4,
                           bitsPerTable: Int = 4, dim: Int = 64,
                           targetOccupancy: Int = 0,
                           knownCount: Long = -1L): DataFrame = {
    // cap ∘ adaptive bits (r18): adaptivity keeps UNIFORM growth
    // linear (constant expected occupancy), the cap bounds the
    // dup-heavy buckets adaptivity cannot thin (identical vectors
    // share every band at any width) — the same composition the
    // projected spelling carries since r17
    val bits =
      if (targetOccupancy <= 0) bitsPerTable
      else adaptiveBits(
        if (knownCount >= 0L) knownCount else vecs.count(), targetOccupancy)
    val p = withNorm(vecs, idCol, vecCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__tbl"), col("__bucket"))
      .orderBy(graft.functions.TextFunctions.h7(col("__id").cast("string")).asc,
        col("__id").asc)
    val banded = p.select(col("__id"), col("__v"), col("__nrm"),
      posexplode(lshBuckets(col("__v"), tables, bits, dim))
        .as(Seq("__tbl", "__bucket")))
      .withColumn("__rnk", row_number().over(w))
      .filter(col("__rnk") <= bucketCap)
      .drop("__rnk")
    banded.alias("a").hint("merge")
      .join(banded.alias("b"),
        col("a.__tbl") === col("b.__tbl") && col("a.__bucket") === col("b.__bucket") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("v1"), col("b.__id").as("v2"),
        round(dot(col("a.__v"), col("b.__v")) / (col("a.__nrm") * col("b.__nrm")), 6)
          .as("cosine"))
      .filter(col("cosine") >= minCosine)
      .distinct()
  }
}
