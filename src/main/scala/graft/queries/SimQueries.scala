package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry.{corpusCounts, ensureVecIndex}

/** Similarity-search extensions over `embeddings` (north star):
  * brute-force cosine pairs and top-k (correctness baseline), and
  * the LSH-bucketed ANN scale path. Even the approximate operator is
  * exactly oracle-checked: hyperplanes derive from md5 so DuckDB
  * reproduces the same buckets. See [[graft.operators.VectorOps]].
  */
object SimQueries {
  import graft.operators.VectorOps._

  private def embeddingsCount(s: SparkSession, dir: String): Long =
    corpusCounts.computeIfAbsent(s"emb:$dir",
      _ => Tables.embeddings(s, dir).count())

  /** DuckDB fragments mirroring VectorOps's double-precision,
    * index-ordered vector arithmetic. */
  private def duckDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  /** Shared trained-codebook CTEs (p, pt, cb0, two Lloyd rounds →
    * cb2): hash-ordered init from the 25% training slice, rank-1
    * assignment, per-(cell, dim) micro-unit means, empty cells carry
    * forward — the SQL mirror of `VectorOps.trainCodebook`, used by
    * both `sim_ivf_trained` and `vec_kmeans_assign`.
    */
  private def duckTrainedCbCtes: String = {
    def lloydRound(prev: String, i: Int): String =
      s"""a$i AS (SELECT vec_id, embedding, cell FROM (
            SELECT p.vec_id, p.embedding, k.cell,
                   row_number() OVER (PARTITION BY p.vec_id
                     ORDER BY ${duckDot("p.embedding", "k.cv")} / (p.nrm * k.cnrm)
                                DESC,
                              k.cell ASC) AS rnk
            FROM pt p, $prev k) WHERE rnk = 1),
         m$i AS (SELECT cell, pos,
                   round(avg(CAST(v AS DOUBLE)) * 1000000) / 1000000 AS mv
                 FROM (SELECT cell, unnest(embedding) AS v,
                              generate_subscripts(embedding, 1) AS pos FROM a$i)
                 GROUP BY cell, pos),
         g$i AS (SELECT cell, list(mv ORDER BY pos) AS cv FROM m$i GROUP BY cell),
         cb$i AS (SELECT cell, cv, sqrt(${duckDot("cv", "cv")}) AS cnrm FROM (
                   SELECT c.cell, coalesce(g.cv, c.cv) AS cv
                   FROM $prev c LEFT JOIN g$i g ON c.cell = g.cell))"""
    s"""p AS (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm,
          CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7) AS BIGINT) AS h
        FROM embeddings),
       pt AS (SELECT * FROM p WHERE h % 100 < 25),
       cb0 AS (SELECT row_number() OVER (ORDER BY h ASC, vec_id ASC) - 1 AS cell,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv,
                 nrm AS cnrm
               FROM (SELECT * FROM pt ORDER BY h ASC, vec_id ASC LIMIT 16)),
       ${lloydRound("cb0", 1)},
       ${lloydRound("cb1", 2)}"""
  }

  private def duckPlaneDot(t: Int, b: Int): String =
    s"""list_sum(list_transform(range(1, 65),
        i -> CAST(embedding[i] AS DOUBLE) *
             (CASE WHEN CAST('0x' || substr(md5('${t}_${b}_' || CAST(i - 1 AS VARCHAR)), 1, 7)
                        AS BIGINT) % 2 = 1 THEN 1.0 ELSE -1.0 END)))"""

  private val pairCos = s"round(${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6)"
  private val buckets = (0 until 4).map { t =>
    (0 until 4).map { b =>
      s"(CASE WHEN ${duckPlaneDot(t, b)} >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
  }.mkString("[", ", ", "]")
  // occupancy-adaptive CTEs shared by the full-width adaptive rows:
  // bits = smallest b in [4, 24] with (n >> b) <= 16, the exact
  // integer ladder of VectorOps.adaptiveBits
  private val adaptiveBitsCtes =
    """nb AS (SELECT count(*) AS n FROM embeddings),
       bt AS (SELECT COALESCE(MIN(CAST(r.b AS INT)), 24) AS bits
              FROM range(4, 25) r(b), nb
              WHERE (nb.n >> CAST(r.b AS INT)) <= 16)"""
  // table t's FULL-WIDTH (64-dim) bucket string with DYNAMIC band
  // width — the b-dynamic twin of duckPlaneDot's literal planes
  private def bucketAdaptive(t: Int): String =
    s"""list_aggregate(list_transform(range(0, bt.bits), b ->
          CASE WHEN list_sum(list_transform(range(1, 65),
            i -> CAST(embedding[i] AS DOUBLE) *
                 (CASE WHEN CAST('0x' || substr(md5(
                           '${t}_' || CAST(b AS VARCHAR) || '_' ||
                           CAST(i - 1 AS VARCHAR)), 1, 7)
                       AS BIGINT) % 2 = 1 THEN 1.0 ELSE -1.0 END))) >= 0
          THEN '1' ELSE '0' END), 'string_agg', '')"""
  private val bucketsAdaptive =
    s"[${(0 until 4).map(bucketAdaptive).mkString(", ")}]"
  // the 64→8 ±1 projection (seed 101) and the 8-dim bucket planes —
  // mirrors VectorOps.annCosinePairsProjected's two md5 domains
  private val projList =
    """list_transform(range(0, 8), j ->
         round(list_sum(list_transform(range(1, 65),
           i -> CAST(embedding[i] AS DOUBLE) *
                (CASE WHEN CAST('0x' || substr(md5(
                          '101_' || CAST(j AS VARCHAR) || '_' ||
                          CAST(i - 1 AS VARCHAR)), 1, 7)
                      AS BIGINT) % 2 = 1 THEN 1.0 ELSE -1.0 END))), 6))"""
  private def projPlaneDot(t: Int, b: Int): String =
    s"""list_sum(list_transform(range(1, 9),
        i -> proj[i] *
             (CASE WHEN CAST('0x' || substr(md5('${t}_${b}_' || CAST(i - 1 AS VARCHAR)), 1, 7)
                        AS BIGINT) % 2 = 1 THEN 1.0 ELSE -1.0 END)))"""
  private val projBuckets = (0 until 4).map { t =>
    (0 until 4).map { b =>
      s"(CASE WHEN ${projPlaneDot(t, b)} >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
  }.mkString("[", ", ", "]")
  // table t's bucket string with DYNAMIC band width: one sign char
  // per b in [0, bits) — bits from the `bt` CTE (occupancy ladder)
  private def projBucketAdaptive(t: Int): String =
    s"""list_aggregate(list_transform(range(0, bt.bits), b ->
          CASE WHEN list_sum(list_transform(range(1, 9),
            i -> proj[i] *
                 (CASE WHEN CAST('0x' || substr(md5(
                           '${t}_' || CAST(b AS VARCHAR) || '_' ||
                           CAST(i - 1 AS VARCHAR)), 1, 7)
                       AS BIGINT) % 2 = 1 THEN 1.0 ELSE -1.0 END))) >= 0
          THEN '1' ELSE '0' END), 'string_agg', '')"""

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sim_cosine_pairs",
      s"""WITH p AS (SELECT vec_id, embedding,
            sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings)
         SELECT a.vec_id AS v1, b.vec_id AS v2, $pairCos AS cosine
         FROM p a JOIN p b ON a.vec_id < b.vec_id
         WHERE $pairCos >= 0.45""",
      (s, dir) =>
        cosinePairsBruteForce(Tables.embeddings(s, dir), "vec_id", "embedding", 0.45)),
    QuerySpec("sim_topk",
      s"""WITH p AS (SELECT vec_id, embedding,
            sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
         q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qnrm FROM p
               WHERE vec_id % 100 = 0),
         s AS (SELECT qid, vec_id,
                 round(${duckDot("qe", "embedding")} / (qnrm * nrm), 6) AS cosine
               FROM q, p WHERE vec_id <> qid)
         SELECT qid, vec_id, cosine, rnk FROM (
           SELECT qid, vec_id, cosine,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY cosine DESC, vec_id ASC) AS rnk
           FROM s) WHERE rnk <= 10""",
      (s, dir) =>
        topKNeighbors(Tables.embeddings(s, dir), "vec_id", "embedding",
          col("vec_id") % 100 === 0, k = 10)),
    // ANN-routed top-k retrieval: same contract as sim_topk, but each
    // probe meets only the corpus vectors sharing one of its LSH
    // buckets — the production retrieval path (sim_topk stays as the
    // brute-force correctness baseline).
    QuerySpec("sim_topk_ann",
      // ANN top-k: candidates = corpus vectors sharing any of the
      // probe's (table, bucket) LSH keys; exact cosine + rank over the
      // candidate set only.
      s"""WITH p AS (SELECT vec_id, embedding,
            sqrt(${duckDot("embedding", "embedding")}) AS nrm,
            $buckets AS buckets
          FROM embeddings),
         e AS (SELECT vec_id, unnest(buckets) AS bucket,
                 unnest(range(0, 4)) AS tbl FROM p),
         qe AS (SELECT vec_id AS qid, bucket, tbl FROM e
                WHERE vec_id % 100 = 0),
         cand AS (SELECT DISTINCT qe.qid, e.vec_id
                  FROM qe JOIN e ON qe.tbl = e.tbl AND qe.bucket = e.bucket
                  WHERE e.vec_id <> qe.qid),
         s AS (SELECT c.qid, c.vec_id,
                 round(${duckDot("pq.embedding", "pv.embedding")} /
                       (pq.nrm * pv.nrm), 6) AS cosine
               FROM cand c
               JOIN p pq ON c.qid = pq.vec_id
               JOIN p pv ON c.vec_id = pv.vec_id)
         SELECT qid, vec_id, cosine, rnk FROM (
           SELECT qid, vec_id, cosine,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY cosine DESC, vec_id ASC) AS rnk
           FROM s) WHERE rnk <= 10""",
      (s, dir) =>
        topKNeighborsAnn(Tables.embeddings(s, dir), "vec_id", "embedding",
          col("vec_id") % 100 === 0, k = 10)),
    // IVF-routed top-k: corpus in exactly one cell, probes fan out
    // to nprobe cells — the cell-partitioned retrieval sibling
    QuerySpec("sim_topk_ivf",
      // IVF top-k: corpus rows take their rank-1 cell, probes their 3
      // nearest cells; exact cosine + rank over cell-mates only.
      s"""WITH p AS (SELECT vec_id, embedding,
            sqrt(${duckDot("embedding", "embedding")}) AS nrm,
            CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7) AS BIGINT) AS h
          FROM embeddings),
         c AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm,
                 row_number() OVER (ORDER BY h ASC, vec_id ASC) - 1 AS cell
               FROM (SELECT * FROM p ORDER BY h ASC, vec_id ASC LIMIT 16)),
         s AS (SELECT p.vec_id, p.embedding, p.nrm, c.cell,
                 ${duckDot("p.embedding", "c.cv")} / (p.nrm * c.cnrm) AS sim
               FROM p, c),
         corp AS (SELECT vec_id, embedding, nrm, cell FROM (
                   SELECT vec_id, embedding, nrm, cell,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY sim DESC, cell ASC) AS rnk
                   FROM s) WHERE rnk = 1),
         probe AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qnrm, cell FROM (
                   SELECT vec_id, embedding, nrm, cell,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY sim DESC, cell ASC) AS rnk
                   FROM s WHERE vec_id % 100 = 0) WHERE rnk <= 3),
         sc AS (SELECT q.qid, t.vec_id,
                  round(${duckDot("q.qe", "t.embedding")} / (q.qnrm * t.nrm), 6) AS cosine
                FROM probe q JOIN corp t ON q.cell = t.cell AND t.vec_id <> q.qid)
         SELECT qid, vec_id, cosine, rnk FROM (
           SELECT qid, vec_id, cosine,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY cosine DESC, vec_id ASC) AS rnk
           FROM sc) WHERE rnk <= 10""",
      (s, dir) =>
        topKNeighborsIvf(Tables.embeddings(s, dir), "vec_id", "embedding",
          col("vec_id") % 100 === 0, k = 10)),
    // two-stage retrieval: LSH candidates -> int8 coarse scores ->
    // exact float rerank of the 40-row shortlist per probe
    QuerySpec("sim_rerank",
      // two-stage rerank: LSH candidates, int8 coarse scores (exact
      // integer dots in double), 40-row shortlist per probe, exact
      // float rerank. Coarse score8 is deliberately UNROUNDED — it is
      // bit-identical across engines, and only its ORDER matters.
      s"""WITH p AS (SELECT vec_id, embedding,
            sqrt(${duckDot("embedding", "embedding")}) AS nrm,
            $buckets AS buckets
          FROM embeddings),
         e AS (SELECT vec_id, unnest(buckets) AS bucket,
                 unnest(range(0, 4)) AS tbl FROM p),
         qe AS (SELECT vec_id AS qid, bucket, tbl FROM e
                WHERE vec_id % 100 = 0),
         cand AS (SELECT DISTINCT qe.qid, e.vec_id
                  FROM qe JOIN e ON qe.tbl = e.tbl AND qe.bucket = e.bucket
                  WHERE e.vec_id <> qe.qid),
         q0 AS (SELECT vec_id, embedding AS raw,
                  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
                FROM embeddings),
         qq AS (SELECT vec_id,
                  list_transform(raw, x -> CAST(least(greatest(
                      round(CAST(x AS DOUBLE) *
                            (CASE WHEN amax = 0 THEN 1.0 ELSE 127.0 / amax END)),
                      -127.0), 127.0) AS INT)) AS q8
                FROM q0),
         n8 AS (SELECT vec_id, q8, sqrt(${duckDot("q8", "q8")}) AS n8 FROM qq),
         coarse AS (SELECT c.qid, c.vec_id,
                      ${duckDot("a.q8", "b.q8")} / (a.n8 * b.n8) AS score8
                    FROM cand c JOIN n8 a ON c.qid = a.vec_id
                                JOIN n8 b ON c.vec_id = b.vec_id),
         short AS (SELECT qid, vec_id FROM (
                     SELECT qid, vec_id,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY score8 DESC, vec_id ASC) AS crnk
                     FROM coarse) WHERE crnk <= 40),
         ex AS (SELECT s.qid, s.vec_id,
                  round(${duckDot("pq.embedding", "pv.embedding")} /
                        (pq.nrm * pv.nrm), 6) AS cosine
                FROM short s JOIN p pq ON s.qid = pq.vec_id
                             JOIN p pv ON s.vec_id = pv.vec_id)
         SELECT qid, vec_id, cosine, rnk FROM (
           SELECT qid, vec_id, cosine,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY cosine DESC, vec_id ASC) AS rnk
           FROM ex) WHERE rnk <= 10""",
      (s, dir) =>
        topKNeighborsRerank(Tables.embeddings(s, dir), "vec_id", "embedding",
          col("vec_id") % 100 === 0, k = 10)),
    // X-S20: 1-bit (sign) quantization — Hamming-distance shortlist
    // over two packed 32-bit words per vector, exact float rerank;
    // same (qid, vec_id, cosine, rnk) contract as sim_topk
    QuerySpec("sim_binary_topk",
      // sign-bit packing into two 32-bit words (2**i stays exactly
      // representable), Hamming shortlist of 40, exact float rerank —
      // the identical three-stage trace as the Spark side
      s"""WITH p AS (SELECT vec_id, embedding,
            sqrt(${duckDot("embedding", "embedding")}) AS nrm,
            CAST(list_sum(list_transform(range(0, 32),
              i -> CASE WHEN embedding[i+1] > 0 THEN 2**i ELSE 0 END))
              AS BIGINT) AS lo,
            CAST(list_sum(list_transform(range(0, 32),
              i -> CASE WHEN embedding[i+33] > 0 THEN 2**i ELSE 0 END))
              AS BIGINT) AS hi
          FROM embeddings),
         c AS (SELECT q.vec_id AS qid, p.vec_id AS vid,
                 bit_count(xor(p.lo, q.lo)) + bit_count(xor(p.hi, q.hi)) AS hd
               FROM p, (SELECT * FROM p WHERE vec_id % 100 = 0) q
               WHERE p.vec_id <> q.vec_id),
         sh AS (SELECT qid, vid FROM (
                  SELECT qid, vid, row_number() OVER (PARTITION BY qid
                           ORDER BY hd ASC, vid ASC) AS r
                  FROM c) WHERE r <= 40),
         s AS (SELECT sh.qid, sh.vid AS vec_id,
                 round(${duckDot("pq.embedding", "pv.embedding")} /
                       (pq.nrm * pv.nrm), 6) AS cosine
               FROM sh
               JOIN p pq ON sh.qid = pq.vec_id
               JOIN p pv ON sh.vid = pv.vec_id)
         SELECT qid, vec_id, cosine, rnk FROM (
           SELECT qid, vec_id, cosine,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY cosine DESC, vec_id ASC) AS rnk
           FROM s) WHERE rnk <= 10""",
      (s, dir) =>
        topKNeighborsBinary(Tables.embeddings(s, dir), "vec_id", "embedding",
          col("vec_id") % 100 === 0, k = 10, shortlist = 40)),
    // X-S21: ColBERT MaxSim late interaction — docs are bags of 4
    // token vectors (doc = vec_id div 4); score(q,d) = Σ_qv max_dv
    // cos, in exact integer micro units
    // probe set BOUNDED (doc < 2500): a retrieval benchmark serves a
    // fixed query batch against a GROWING corpus — an unbounded %25
    // probe set made the benched work quadratic in corpus size by
    // fixture design (sf10 receipt: 70x wall for 10x data); the cap
    // keeps it linear while leaving the sf0.01 gate rows identical
    QuerySpec("sim_maxsim",
      // MaxSim: per-(qtoken, doc) max of micro-rounded cosines, summed
      // per (qdoc, doc) as exact longs — no float summation order
      s"""WITH p AS (SELECT vec_id, vec_id // 4 AS doc, embedding,
            sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
         q AS (SELECT vec_id AS qid, doc AS qdoc, embedding AS qe, nrm AS qnrm
               FROM p WHERE doc % 25 = 0 AND doc < 2500),
         s AS (SELECT q.qdoc, q.qid, p.doc,
                 CAST(round(${duckDot("qe", "p.embedding")} / (qnrm * p.nrm)
                            * 1000000) AS BIGINT) AS cm
               FROM q, p WHERE p.doc <> q.qdoc),
         m AS (SELECT qdoc, qid, doc, max(cm) AS mx FROM s GROUP BY 1, 2, 3),
         d AS (SELECT qdoc, doc, CAST(SUM(mx) AS BIGINT) AS score_micro
               FROM m GROUP BY 1, 2)
         SELECT qdoc, doc, score_micro, rnk FROM (
           SELECT qdoc, doc, score_micro,
                  row_number() OVER (PARTITION BY qdoc
                                     ORDER BY score_micro DESC, doc ASC) AS rnk
           FROM d) WHERE rnk <= 3""",
      (s, dir) =>
        maxSimTopK(Tables.embeddings(s, dir).withColumn("doc", expr("vec_id div 4")),
          "doc", "vec_id", "embedding",
          col("doc") % 25 === 0 && col("doc") < 2500, k = 3)),
    // IVFADC (Jégou 2011): coarse cells route candidates, 8×4-bit
    // product-quantization codes + integer micro-unit ADC tables
    // rank them, exact cosine reranks the 40-row shortlist
    QuerySpec("sim_pq_topk",
      // IVFADC: the oracle re-derives both codebooks relationally
      // (hash-ordered 16-row sample; sub-centroid (seg, j) = segment
      // seg of sample j), encodes the corpus via the same
      // |c|² − 2·v_s·c argmin with (score, j) tie-break, builds each
      // query's micro-unit ADC table, sums longs over the 8 codes, and
      // reranks the 40-row shortlist with exact cosines — mirroring
      // topKNeighborsPq stage for stage.
      {
        // dot of vector `v`'s segment `seg` (8 elems, 1-based) with an
        // 8-elem double list `cv`, index-ordered like graft_dot
        def segDot(v: String, seg: String, cv: String): String =
          s"list_sum(list_transform(range(1, 9), i -> CAST($v[$seg * 8 + i] AS DOUBLE) * $cv[i]))"
        s"""WITH p AS (SELECT vec_id, embedding,
              sqrt(${duckDot("embedding", "embedding")}) AS nrm,
              CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7) AS BIGINT) AS h
            FROM embeddings),
           sam AS (SELECT row_number() OVER (ORDER BY h ASC, vec_id ASC) - 1 AS j,
                     embedding, nrm
                   FROM (SELECT * FROM p ORDER BY h ASC, vec_id ASC LIMIT 16)),
           cb AS (SELECT j AS cell, embedding AS cv, nrm AS cnrm FROM sam),
           pqcb AS (SELECT segs.seg, sam.j,
                      list_transform(list_slice(sam.embedding, segs.seg * 8 + 1,
                                                segs.seg * 8 + 8),
                                     x -> CAST(x AS DOUBLE)) AS cv
                    FROM sam, (SELECT unnest(range(0, 8)) AS seg) segs),
           pq2 AS (SELECT seg, j, cv,
                     list_sum(list_transform(range(1, 9),
                       i -> cv[i] * cv[i])) AS c2 FROM pqcb),
           enc AS (SELECT vec_id, seg, j AS code FROM (
                     SELECT p.vec_id, q.seg, q.j,
                       row_number() OVER (PARTITION BY p.vec_id, q.seg
                         ORDER BY q.c2 - 2 * ${segDot("p.embedding", "q.seg", "q.cv")} ASC,
                                  q.j ASC) AS rnk
                     FROM p, pq2 q) WHERE rnk = 1),
           cs AS (SELECT p.vec_id, c.cell,
                    ${duckDot("p.embedding", "c.cv")} / (p.nrm * c.cnrm) AS sim
                  FROM p, cb c),
           corp AS (SELECT vec_id, cell FROM (
                      SELECT vec_id, cell,
                        row_number() OVER (PARTITION BY vec_id
                                           ORDER BY sim DESC, cell ASC) AS rnk
                      FROM cs) WHERE rnk = 1),
           qs AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qnrm FROM p
                  WHERE vec_id % 100 = 0),
           pr AS (SELECT qid, cell FROM (
                    SELECT vec_id AS qid, cell,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sim DESC, cell ASC) AS rnk
                    FROM cs WHERE vec_id % 100 = 0) WHERE rnk <= 2),
           qt AS (SELECT q.qid, pq.seg, pq.j,
                    CAST(round(${segDot("q.qe", "pq.seg", "pq.cv")} * 1000000) AS BIGINT) AS w
                  FROM qs q, pq2 pq),
           cand AS (SELECT pr.qid, corp.vec_id
                    FROM pr JOIN corp ON pr.cell = corp.cell
                    WHERE corp.vec_id <> pr.qid),
           adc AS (SELECT c.qid, c.vec_id, sum(qt.w) AS score
                   FROM cand c
                   JOIN enc e ON e.vec_id = c.vec_id
                   JOIN qt ON qt.qid = c.qid AND qt.seg = e.seg AND qt.j = e.code
                   GROUP BY c.qid, c.vec_id),
           short AS (SELECT qid, vec_id FROM (
                       SELECT qid, vec_id,
                         row_number() OVER (PARTITION BY qid
                                            ORDER BY score DESC, vec_id ASC) AS rnk
                       FROM adc) WHERE rnk <= 40),
           sc AS (SELECT s.qid, s.vec_id,
                    round(${duckDot("q.qe", "t.embedding")} / (q.qnrm * t.nrm), 6) AS cosine
                  FROM short s
                  JOIN qs q ON q.qid = s.qid
                  JOIN p t ON t.vec_id = s.vec_id)
           SELECT qid, vec_id, cosine, rnk FROM (
             SELECT qid, vec_id, cosine,
                    row_number() OVER (PARTITION BY qid
                                       ORDER BY cosine DESC, vec_id ASC) AS rnk
             FROM sc) WHERE rnk <= 10"""
      },
      (s, dir) =>
        topKNeighborsPq(Tables.embeddings(s, dir), "vec_id", "embedding",
          col("vec_id") % 100 === 0, k = 10)),
    // full-width LSH, occupancy-adaptive band bits (r17): the scale
    // path's default spelling must itself scale — the sf10 receipt
    // caught the fixed-bits geometry (via cur_embed_prune) at 83×
    // wall for 10× data
    QuerySpec("sim_ann_lsh",
      s"""WITH $adaptiveBitsCtes,
         p AS (SELECT vec_id, embedding,
            sqrt(${duckDot("embedding", "embedding")}) AS nrm,
            $bucketsAdaptive AS buckets
          FROM embeddings, bt),
         e AS (SELECT vec_id, embedding, nrm,
                 unnest(buckets) AS bucket, unnest(range(0, 4)) AS tbl FROM p)
         SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2, $pairCos AS cosine
         FROM e a JOIN e b
           ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         WHERE $pairCos >= 0.4""",
      (s, dir) =>
        annCosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding",
          minCosine = 0.4, targetOccupancy = 16,
          knownCount = embeddingsCount(s, dir))),
    // project 64→8 dims first, band in projected space, exact cosine
    // in the original space — index artifacts shrink 8×, precision
    // stays exact (projection costs recall only). Band bits are
    // OCCUPANCY-ADAPTIVE (derived from the corpus count, constant
    // expected bucket occupancy): the r16 sf1 receipt measured the
    // fixed-bits spelling at 11× wall for 10× data — a fixed 2^bits
    // bucket space makes candidate pairs grow ~quadratically.
    QuerySpec("sim_ann_projected",
      // occupancy-adaptive band bits: the smallest b in [4, 24] with
      // (n >> b) <= 16 — the exact integer ladder of
      // VectorOps.adaptiveBits, so bits (and buckets) match Spark's
      // at every corpus size
      s"""WITH nb AS (SELECT count(*) AS n FROM embeddings),
         bt AS (SELECT COALESCE(MIN(CAST(r.b AS INT)), 24) AS bits
                FROM range(4, 25) r(b), nb
                WHERE (nb.n >> CAST(r.b AS INT)) <= 16),
         p0 AS (SELECT vec_id, embedding,
            sqrt(${duckDot("embedding", "embedding")}) AS nrm,
            $projList AS proj
          FROM embeddings),
         p AS (SELECT vec_id, embedding, nrm,
                 [${(0 until 4).map(projBucketAdaptive).mkString(", ")}]
                   AS buckets
               FROM p0, bt),
         e AS (SELECT vec_id, embedding, nrm,
                 unnest(buckets) AS bucket, unnest(range(0, 4)) AS tbl FROM p)
         SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2, $pairCos AS cosine
         FROM e a JOIN e b
           ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         WHERE $pairCos >= 0.4""",
      (s, dir) =>
        annCosinePairsProjected(Tables.embeddings(s, dir), "vec_id", "embedding",
          minCosine = 0.4, targetOccupancy = 16,
          knownCount = embeddingsCount(s, dir))),
    // coarse projected buckets + the hash-order cap: the dup-heavy
    // guard the r6 probe showed projected banding needs. The cap
    // COMPOSES with the adaptive bits (r17): occupancy-adaptive
    // banding keeps UNIFORM growth linear, the cap bounds the
    // dup-heavy buckets adaptivity cannot thin (identical vectors
    // share every band at any width)
    QuerySpec("sim_ann_proj_capped",
      s"""WITH nb AS (SELECT count(*) AS n FROM embeddings),
         bt AS (SELECT COALESCE(MIN(CAST(r.b AS INT)), 24) AS bits
                FROM range(4, 25) r(b), nb
                WHERE (nb.n >> CAST(r.b AS INT)) <= 16),
         p0 AS (SELECT vec_id, embedding,
            sqrt(${duckDot("embedding", "embedding")}) AS nrm,
            $projList AS proj
          FROM embeddings),
         p AS (SELECT vec_id, embedding, nrm,
                 [${(0 until 4).map(projBucketAdaptive).mkString(", ")}]
                   AS buckets
               FROM p0, bt),
         e AS (SELECT vec_id, embedding, nrm,
                 unnest(buckets) AS bucket, unnest(range(0, 4)) AS tbl FROM p),
         ek AS (SELECT vec_id, embedding, nrm, bucket, tbl FROM (
                  SELECT vec_id, embedding, nrm, bucket, tbl,
                         row_number() OVER (PARTITION BY tbl, bucket
                           ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7)
                                         AS BIGINT) ASC,
                                    vec_id ASC) AS rnk
                  FROM e) WHERE rnk <= 32)
         SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2, $pairCos AS cosine
         FROM ek a JOIN ek b
           ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         WHERE $pairCos >= 0.4""",
      (s, dir) =>
        annCosinePairsProjected(Tables.embeddings(s, dir), "vec_id", "embedding",
          minCosine = 0.4, bucketCap = 32, targetOccupancy = 16,
          knownCount = embeddingsCount(s, dir))),
    // bucketCap sized to the bucket geometry: 4 sign bits = 16
    // buckets/table, so 32 keeps typical buckets whole and only
    // truncates pathological (dup-heavy) ones.
    QuerySpec("sim_ann_capped",
      // Capped variant: each (table, bucket) keeps only its 32 lowest-
      // ranked members under the portable md5-hash-of-id order.
      s"""WITH p AS (SELECT vec_id, embedding,
            sqrt(${duckDot("embedding", "embedding")}) AS nrm,
            $buckets AS buckets
          FROM embeddings),
         e AS (SELECT vec_id, embedding, nrm,
                 unnest(buckets) AS bucket, unnest(range(0, 4)) AS tbl FROM p),
         ek AS (SELECT vec_id, embedding, nrm, bucket, tbl FROM (
                  SELECT vec_id, embedding, nrm, bucket, tbl,
                         row_number() OVER (PARTITION BY tbl, bucket
                           ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7)
                                         AS BIGINT) ASC,
                                    vec_id ASC) AS rnk
                  FROM e) WHERE rnk <= 32)
         SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2, $pairCos AS cosine
         FROM ek a JOIN ek b
           ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         WHERE $pairCos >= 0.4""",
      (s, dir) =>
        annCosinePairsCapped(Tables.embeddings(s, dir), "vec_id", "embedding",
          minCosine = 0.4, bucketCap = 32)),
    QuerySpec("sim_ivf_pairs",
      // IVF: codebook = 16 smallest-id-hash vectors; each vector joins
      // its 2 nearest cells; candidates share a cell.
      s"""WITH p AS (SELECT vec_id, embedding,
            sqrt(${duckDot("embedding", "embedding")}) AS nrm,
            CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7) AS BIGINT) AS h
          FROM embeddings),
         c AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm,
                 row_number() OVER (ORDER BY h ASC, vec_id ASC) - 1 AS cell
               FROM (SELECT * FROM p ORDER BY h ASC, vec_id ASC LIMIT 16)),
         s AS (SELECT p.vec_id, p.embedding, p.nrm, c.cell,
                 ${duckDot("p.embedding", "c.cv")} / (p.nrm * c.cnrm) AS sim
               FROM p, c),
         asn AS (SELECT vec_id, embedding, nrm, cell FROM (
                   SELECT vec_id, embedding, nrm, cell,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY sim DESC, cell ASC) AS rnk
                   FROM s) WHERE rnk <= 2)
         SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2, $pairCos AS cosine
         FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id
         WHERE $pairCos >= 0.4""",
      (s, dir) =>
        ivfCosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding",
          minCosine = 0.4)),
    // trained codebook: 2 deterministic Lloyd rounds (micro-unit
    // centroids) over a 25% hash-mod training sample — the 100 TB
    // shape (train on a slice, assign the full corpus) — before the
    // multi-probe assignment
    QuerySpec("sim_ivf_trained",
      // trained IVF: 2 unrolled Lloyd rounds — rank-1 assignment
      // against the previous codebook, per-(cell, dim) mean quantized
      // to integer micro-units (exact on both engines), empty cells
      // carry forward — then the untrained query's multi-probe tail.
      // Training (init + Lloyd) reads only the 25% hash-mod sample
      // `pt`; the final assignment covers the full corpus `p`.
      s"""WITH $duckTrainedCbCtes,
         s AS (SELECT p.vec_id, p.embedding, p.nrm, k.cell,
                 ${duckDot("p.embedding", "k.cv")} / (p.nrm * k.cnrm) AS sim
               FROM p, cb2 k),
         asn AS (SELECT vec_id, embedding, nrm, cell FROM (
                   SELECT vec_id, embedding, nrm, cell,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY sim DESC, cell ASC) AS rnk
                   FROM s) WHERE rnk <= 2)
         SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2, $pairCos AS cosine
         FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id
         WHERE $pairCos >= 0.4""",
      (s, dir) =>
        ivfCosinePairsTrained(Tables.embeddings(s, dir), "vec_id", "embedding",
          minCosine = 0.4, trainPct = 25)),
    // quantize-then-search: the whole ANN pipeline (bucketing AND
    // exact-cosine verify) runs on the int8-quantized coordinates —
    // band bits occupancy-adaptive like the float spellings
    QuerySpec("sim_ann_int8",
      // int8 ANN: quantize exactly as vec_quantize does, then run the
      // sim_ann_lsh pipeline over the quantized ints (the bucket/pairCos
      // fragments reference a column named `embedding`, which the qq
      // CTE provides). Int dots are exact in double, so the hash check
      // is bit-for-bit like the float path.
      s"""WITH $adaptiveBitsCtes,
         q0 AS (SELECT vec_id, embedding AS raw,
            list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
          FROM embeddings),
         qq AS (SELECT vec_id,
            list_transform(raw, x -> CAST(least(greatest(
                round(CAST(x AS DOUBLE) *
                      (CASE WHEN amax = 0 THEN 1.0 ELSE 127.0 / amax END)),
                -127.0), 127.0) AS INT)) AS embedding
          FROM q0),
         p AS (SELECT vec_id, embedding,
            sqrt(${duckDot("embedding", "embedding")}) AS nrm,
            $bucketsAdaptive AS buckets
          FROM qq, bt),
         e AS (SELECT vec_id, embedding, nrm,
                 unnest(buckets) AS bucket, unnest(range(0, 4)) AS tbl FROM p)
         SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2, $pairCos AS cosine
         FROM e a JOIN e b
           ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         WHERE $pairCos >= 0.4""",
      (s, dir) =>
        annCosinePairsInt8(Tables.embeddings(s, dir), "vec_id", "embedding",
          minCosine = 0.4, targetOccupancy = 16,
          knownCount = embeddingsCount(s, dir))),
    // incremental ingest dedup: the new-vector batch (every 10th id)
    // bands itself and probes the EXISTING corpus's persisted
    // postings index; dup_of = min existing id with cosine >= 0.45
    // in a shared bucket (the embedding twin of dd_incremental)
    QuerySpec("sim_incremental",
      // incremental ANN dedup: candidates only where a new (%10=0)
      // vector shares a (table, bucket) with an existing one; exact
      // cosine gates; dup_of = min qualifying existing id
      s"""WITH p AS (SELECT vec_id, embedding,
            sqrt(${duckDot("embedding", "embedding")}) AS nrm,
            $buckets AS buckets
          FROM embeddings),
         e AS (SELECT vec_id, nrm,
                 unnest(buckets) AS bucket, unnest(range(0, 4)) AS tbl FROM p),
         cand AS (SELECT DISTINCT n.vec_id AS nid, x.vec_id AS xid
                  FROM e n JOIN e x ON n.tbl = x.tbl AND n.bucket = x.bucket
                  WHERE n.vec_id % 10 = 0 AND x.vec_id % 10 <> 0),
         sc AS (SELECT c.nid, c.xid
                FROM cand c
                JOIN p a ON a.vec_id = c.nid
                JOIN p b ON b.vec_id = c.xid
                WHERE round(${duckDot("a.embedding", "b.embedding")}
                            / (a.nrm * b.nrm), 6) >= 0.45),
         m AS (SELECT nid, min(xid) AS dup_of FROM sc GROUP BY nid)
         SELECT v.vec_id, m.dup_of, (m.dup_of IS NULL) AS is_kept
         FROM (SELECT vec_id FROM embeddings WHERE vec_id % 10 = 0) v
         LEFT JOIN m ON v.vec_id = m.nid""",
      (s, dir) => {
        val vecs = Tables.embeddings(s, dir)
        val ex = vecs.filter(col("vec_id") % 10 =!= 0)
        val nw = vecs.filter(col("vec_id") % 10 === 0)
        incrementalAnnDedup(lshIndex(ex, "vec_id", "embedding"), ex, nw,
          "vec_id", "embedding", minCosine = 0.45)
      }),
    // X-S22 end to end (r19): the same incremental-ANN answer, but
    // the postings index is the CDF-MAINTAINED lakehouse table after
    // an insert, a COW embedding update (negation) and a DV delete
    // on the source corpus — the vector twin of dd_maintained_index.
    QuerySpec("sim_maintained_index",
      // Maintained-postings ANN: the oracle replays the SOURCE
      // MUTATIONS (negate embeddings of corpus vec_id % 7 = 1, drop
      // % 5 = 3), then the sim_incremental structure over that state.
      s"""WITH base AS (SELECT vec_id,
            CASE WHEN vec_id % 10 <> 0 AND vec_id % 7 = 1
                 THEN list_transform(embedding, x -> -x)
                 ELSE embedding END AS embedding
          FROM embeddings
          WHERE vec_id % 10 = 0 OR vec_id % 5 <> 3),
         p AS (SELECT vec_id, embedding,
            sqrt(${duckDot("embedding", "embedding")}) AS nrm,
            $buckets AS buckets
          FROM base),
         e AS (SELECT vec_id, nrm,
                 unnest(buckets) AS bucket, unnest(range(0, 4)) AS tbl FROM p),
         cand AS (SELECT DISTINCT n.vec_id AS nid, x.vec_id AS xid
                  FROM e n JOIN e x ON n.tbl = x.tbl AND n.bucket = x.bucket
                  WHERE n.vec_id % 10 = 0 AND x.vec_id % 10 <> 0),
         sc AS (SELECT c.nid, c.xid
                FROM cand c
                JOIN p a ON a.vec_id = c.nid
                JOIN p b ON b.vec_id = c.xid
                WHERE round(${duckDot("a.embedding", "b.embedding")}
                            / (a.nrm * b.nrm), 6) >= 0.45),
         m AS (SELECT nid, min(xid) AS dup_of FROM sc GROUP BY nid)
         SELECT v.vec_id, m.dup_of, (m.dup_of IS NULL) AS is_kept
         FROM (SELECT vec_id FROM embeddings WHERE vec_id % 10 = 0) v
         LEFT JOIN m ON v.vec_id = m.nid""",
      (s, dir) => {
        val wh = ensureVecIndex(s, dir)
        val index = graft.sources.TxnLog.read(s, s"$wh/db/vecsix")
          .withColumnRenamed("vec_id", "__id")
        val corpus = graft.sources.TxnLog.read(s, s"$wh/db/vecs")
        incrementalAnnDedup(index, corpus,
          Tables.embeddings(s, dir).filter(col("vec_id") % 10 === 0)
            .select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", minCosine = 0.45)
      }),
    // per-label centroids: the shuffle carries (label, dim) partial
    // means, never the vectors
    QuerySpec("vec_centroids",
      // centroids: same distribute-over-dimensions aggregation; CSV of
      // integer micro-units sidesteps double→string format divergence
      """WITH ex AS (SELECT label, unnest(embedding) AS v,
                       generate_subscripts(embedding, 1) AS pos
                     FROM embeddings),
         c AS (SELECT label, pos, avg(CAST(v AS DOUBLE)) AS cv, count(*) AS n
               FROM ex GROUP BY 1, 2)
         SELECT label, min(n) AS n_vecs,
                array_to_string(list(CAST(round(cv * 1000000) AS BIGINT)
                                     ORDER BY pos), ',') AS centroid
         FROM c GROUP BY label""",
      (s, dir) =>
        groupCentroids(Tables.embeddings(s, dir), "label", "embedding")),
    // embedding-cosine near-dup prune: ANN candidate pairs ->
    // connected components -> keep the min-id survivor per group
    // (the embedding-space twin of cur_neardup_prune's text LSH).
    // r18: the candidate stage composes the occupancy-adaptive band
    // width WITH the deterministic bucket cap — adaptivity keeps
    // uniform growth linear, the cap bounds dup-heavy buckets that
    // band width cannot thin (a replicated corpus's identical
    // vectors share every band at any width; the r18 sf1/sf10
    // receipt measured the uncapped spelling superlinear on exactly
    // that load). Cap truncation only drops pairs inside over-full
    // near-identical buckets, where surviving edges still merge the
    // component.
    QuerySpec("cur_embed_prune",
      // embedding-space near-dup prune: LSH candidate pairs at 0.45,
      // recursive reachability for components, min-id survivor
      s"""WITH RECURSIVE $adaptiveBitsCtes,
         p AS (SELECT vec_id, embedding,
            sqrt(${duckDot("embedding", "embedding")}) AS nrm,
            $bucketsAdaptive AS buckets
          FROM embeddings, bt),
         e AS (SELECT vec_id, embedding, nrm,
                 unnest(buckets) AS bucket, unnest(range(0, 4)) AS tbl FROM p),
         ek AS (SELECT vec_id, embedding, nrm, bucket, tbl FROM (
                  SELECT vec_id, embedding, nrm, bucket, tbl,
                         row_number() OVER (PARTITION BY tbl, bucket
                           ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7)
                                         AS BIGINT) ASC,
                                    vec_id ASC) AS rnk
                  FROM e) WHERE rnk <= 32),
         pairs AS (SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
                   FROM ek a JOIN ek b
                     ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
                   WHERE $pairCos >= 0.45),
         edges AS (SELECT v1 AS a, v2 AS b FROM pairs
                   UNION SELECT v2, v1 FROM pairs),
         nodes AS (SELECT DISTINCT a AS node FROM edges),
         reach(node, r) AS (
           SELECT node, node FROM nodes
           UNION
           SELECT e2.a, reach.r FROM edges e2 JOIN reach ON e2.b = reach.node),
         losers AS (SELECT node FROM reach GROUP BY node HAVING node <> min(r))
         SELECT vec_id, label FROM embeddings
         WHERE vec_id NOT IN (SELECT node FROM losers)""",
      (s, dir) => {
        val vecs = Tables.embeddings(s, dir)
        val losers = graft.operators.GraphOps.dedupClusters(
          annCosinePairsCapped(vecs, "vec_id", "embedding", minCosine = 0.45,
            bucketCap = 32, targetOccupancy = 16,
            knownCount = embeddingsCount(s, dir)),
          "v1", "v2")
          .filter(!col("is_kept")).select(col("doc_id").as("vec_id"))
        vecs.join(losers, Seq("vec_id"), "left_anti")
          .select(col("vec_id"), col("label"))
      }),
    // qvec is serialized to a CSV string for the driver comparison:
    // array-typed result columns are not portable across result
    // comparators (the p11_collect_array rule — the r3 driver died
    // sorting a raw array<int> column).
    QuerySpec("vec_quantize",
      // int8 quantization: scale rounded for display only; the
      // quantized values use the unrounded scale on both engines.
      // qvec is CSV-serialized on both sides (portable-comparator rule).
      """WITH a AS (SELECT vec_id, embedding,
            list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
          FROM embeddings),
         s AS (SELECT vec_id, embedding,
            CASE WHEN amax = 0 THEN 1.0 ELSE 127.0 / amax END AS sc FROM a)
         SELECT vec_id, round(sc, 6) AS scale,
            array_to_string(list_transform(embedding,
              x -> CAST(least(greatest(round(CAST(x AS DOUBLE) * sc), -127.0), 127.0)
                        AS INT)), ',') AS qvec
         FROM s""",
      (s, dir) => {
        val (scale, q) = quantizeInt8(col("embedding"))
        Tables.embeddings(s, dir).select(
          col("vec_id"), round(scale, 6).as("scale"),
          array_join(transform(q, _.cast("string")), ",").as("qvec"))
      }),

    // ---- Deterministic ±1 random projection 64 → 8 dims (the
    //      dimensionality-reduction stage ahead of ANN indexing /
    //      clustering at 100 TB: 8× less data rides every downstream
    //      shuffle). No stored matrix — executors regenerate sign
    //      columns from (seed, j, i) md5 arithmetic, which is also
    //      what makes the op oracle-checkable. Output is exploded to
    //      (vec_id, j, comp) scalar rows so the compare stays on
    //      scalar doubles. ----
    QuerySpec("vec_project",
      // ±1 random projection: the sign matrix regenerates from
      // (seed=101, j, i) md5 parity — same arithmetic as planeSign
      """SELECT vec_id, j,
           round(list_sum(list_transform(range(1, 65),
             i -> CAST(embedding[i] AS DOUBLE) *
                  (CASE WHEN CAST('0x' || substr(md5(
                            '101_' || CAST(j AS VARCHAR) || '_' ||
                            CAST(i - 1 AS VARCHAR)), 1, 7)
                        AS BIGINT) % 2 = 1 THEN 1.0 ELSE -1.0 END))), 6) AS comp
         FROM embeddings, (SELECT unnest(range(0, 8)) AS j)""",
      (s, dir) =>
        graft.operators.VectorOps.randomProject(
            Tables.embeddings(s, dir), "vec_id", "embedding", rdim = 8)
          .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "comp")))
          .select(col("vec_id"), col("j").cast("long").as("j"), col("comp"))),

    // ---- Per-dimension z-score standardization: global μ/σ from
    //      one map-side-combined stats pass (collected as a 64-entry
    //      driver artifact, the IVF-codebook pattern), then a
    //      scan-fused shuffle-free transform. Micro-unit moments +
    //      integer z output keep it engine-portable. ----
    QuerySpec("vec_standardize",
      // z-score standardization: micro-unit moments (round(avg·1e6))
      // make μ/σ integer-derived on both engines; σ=0 dims emit z=0
      // via the σ→1 substitution; z itself ships as round(z·1e4) ints
      """WITH ex AS (SELECT vec_id, CAST(v AS DOUBLE) AS x, pos
                     FROM (SELECT vec_id, unnest(embedding) AS v,
                             generate_subscripts(embedding, 1) AS pos
                           FROM embeddings)),
         st AS (SELECT pos,
                  CAST(round(avg(x) * 1000000) AS BIGINT) AS mu6,
                  CAST(round(avg(x * x) * 1000000) AS BIGINT) AS m26
                FROM ex GROUP BY pos),
         sg AS (SELECT pos, mu6 / 1000000.0 AS mu,
                  CASE WHEN sqrt(greatest(
                           m26 / 1000000.0
                           - (mu6 / 1000000.0) * (mu6 / 1000000.0), 0)) = 0
                       THEN 1.0
                       ELSE sqrt(greatest(
                           m26 / 1000000.0
                           - (mu6 / 1000000.0) * (mu6 / 1000000.0), 0)) END AS sigma
                FROM st)
         SELECT ex.vec_id,
                array_to_string(list(
                  CAST(CAST(round((ex.x - sg.mu) / sg.sigma * 10000) AS BIGINT)
                       AS VARCHAR) ORDER BY ex.pos), ',') AS zvec
         FROM ex JOIN sg USING (pos) GROUP BY ex.vec_id""",
      (s, dir) =>
        standardize(Tables.embeddings(s, dir), "vec_id", "embedding")),

    // ---- K-means clustering (assignment view): deterministic Lloyd
    //      training on the 25% hash-mod slice (the sim_ivf_trained
    //      codebook machinery), rank-1 cell per vector + cosine to
    //      its centroid — embedding-space corpus stratification. ----
    QuerySpec("vec_kmeans_assign",
      // k-means cluster assignment: identical training CTEs, rank-1
      // cell + cosine to the assigned centroid
      s"""WITH $duckTrainedCbCtes,
         s AS (SELECT p.vec_id, k.cell,
                 ${duckDot("p.embedding", "k.cv")} / (p.nrm * k.cnrm) AS sim
               FROM p, cb2 k)
         SELECT vec_id, cell, round(sim, 6) AS sim FROM (
           SELECT vec_id, cell, sim,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY sim DESC, cell ASC) AS rnk
           FROM s) WHERE rnk = 1""",
      (s, dir) =>
        kmeansAssign(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 16, lloydIters = 2, trainPct = 25)),

    // ---- Top principal direction by distributed power iteration
    //      (3 rounds of y = Xᵀ(Xv), Gram-matrix-free): per-row
    //      scalar against the iterate as a literal, one (dim, Σ)
    //      map-side-combined aggregate per round, micro-int state
    //      so the iterative float algorithm stays oracle-exact. ----
    QuerySpec("vec_power_iter",
      // power iteration: three unrolled y = Xᵀ(Xv) rounds. Per-row
      // contributions quantize to micro BEFORE the cross-row sum (the
      // only sums crossing rows are integer), the dot runs in list
      // index order, and renormalization is fixed IEEE ops on exact
      // longs — bit-exact per round, so three rounds stay bit-exact.
      {
        def rnd(i: Int, prevV: String): String =
          s"""s$i AS (SELECT e.vec_id,
                   list_sum(list_transform(range(1, 65),
                     k -> CAST(e.embedding[k] AS DOUBLE) * ($prevV.vm[k] / 1000000.0))) AS s
                 FROM embeddings e, $prevV),
             y$i AS (SELECT ex.pos,
                   CAST(sum(CAST(round((CAST(ex.x AS DOUBLE) * s$i.s) * 1000000)
                        AS BIGINT)) AS BIGINT) AS y
                 FROM ex JOIN s$i USING (vec_id) GROUP BY ex.pos),
             m$i AS (SELECT max(abs(y)) AS m FROM y$i),
             v$i AS (SELECT list(CAST(CASE WHEN m$i.m = 0 THEN 0
                          ELSE round(CAST(y AS DOUBLE) / m$i.m * 1000000) END
                        AS BIGINT) ORDER BY pos) AS vm FROM y$i, m$i)"""
        s"""WITH ex AS (SELECT vec_id, unnest(embedding) AS x,
                          generate_subscripts(embedding, 1) - 1 AS pos
                        FROM embeddings),
           v0 AS (SELECT list_transform(range(0, 64),
                    i -> CAST(1000000 AS BIGINT)) AS vm),
           ${rnd(1, "v0")},
           ${rnd(2, "v1")},
           ${rnd(3, "v2")}
           SELECT pos, y AS y_micro,
                  CAST(CASE WHEN m3.m = 0 THEN 0
                       ELSE round(CAST(y AS DOUBLE) / m3.m * 1000000) END
                    AS BIGINT) AS v_micro
           FROM y3, m3"""
      },
      (s, dir) =>
        powerIteration(Tables.embeddings(s, dir), "embedding"))
  )
}
