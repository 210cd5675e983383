package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.RelationalOps._
import graft.SparkEntry.{ensureDocIndex, duckShingleCtes}

/** Dedup extensions over `documents` (north star): exact normalized
  * content dedup, MinHash+LSH near-dup candidates, SimHash
  * fingerprints, exact n-gram Jaccard pairs. See
  * [[graft.operators.DedupOps]] for the scale rationale.
  */
object DedupQueries {
  import graft.operators.DedupOps._

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dd_exact",
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                        ' +', ' ', 'g'))) AS content_key,
         min(doc_id) AS kept_id, count(*) AS n_copies
         FROM documents GROUP BY 1""",
      (s, dir) =>
        exactDedupSummary(Tables.documents(s, dir), "doc_id", "text")),
    QuerySpec("dd_minhash_lsh",
      s"""WITH $duckShingleCtes,
         keys AS (SELECT doc_id, sig, unnest(range(0, 4)) AS band FROM sig),
         k2 AS (SELECT doc_id, sig, band,
                  array_to_string(list_slice(sig, band*4 + 1, band*4 + 4), ',') AS bkey
                FROM keys)
         SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
           round(CAST(list_sum(list_transform(range(1, 17),
                   i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16, 4)
             AS sig_agree
         FROM k2 a JOIN k2 b
           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id""",
      (s, dir) =>
        lshCandidatePairs(Tables.documents(s, dir), "doc_id", "text")),
    // Capped twin (X-D18, r19): per-(band, key) deterministic rank
    // cap bounds a k-dup bucket at cap² candidates — the scale
    // spelling a boilerplate-heavy crawl composes (the text twin of
    // sim_ann_capped's guard)
    QuerySpec("dd_lsh_capped",
      // Capped twin: each (band, bkey) bucket keeps only its 32 lowest-
      // ranked members under the portable md5-hash-of-id order (the
      // sim_ann_capped replay, on the text banding).
      s"""WITH $duckShingleCtes,
         keys AS (SELECT doc_id, sig, unnest(range(0, 4)) AS band FROM sig),
         k2 AS (SELECT doc_id, sig, band,
                  array_to_string(list_slice(sig, band*4 + 1, band*4 + 4), ',') AS bkey
                FROM keys),
         k3 AS (SELECT doc_id, sig, band, bkey FROM (
                  SELECT doc_id, sig, band, bkey,
                         row_number() OVER (PARTITION BY band, bkey
                           ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
                                         AS BIGINT) ASC,
                                    doc_id ASC) AS rnk
                  FROM k2) WHERE rnk <= 32)
         SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
           round(CAST(list_sum(list_transform(range(1, 17),
                   i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16, 4)
             AS sig_agree
         FROM k3 a JOIN k3 b
           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id""",
      (s, dir) =>
        lshCandidatePairsCapped(Tables.documents(s, dir), "doc_id", "text",
          bucketCap = 32)),
    // Star twin (r19): cap + one edge from every over-cap member to
    // its bucket's rank-1 member — bounded like the cap (cap²/2 +
    // k−cap per bucket), but the keep-one election collapses the
    // WHOLE dup group; output always ⊆ the uncapped candidates.
    QuerySpec("dd_lsh_star",
      // Star twin: in-cap all-pairs UNION one pair per over-cap member
      // to its bucket's rank-1 member (least/greatest normalizes order).
      s"""WITH $duckShingleCtes,
         keys AS (SELECT doc_id, sig, unnest(range(0, 4)) AS band FROM sig),
         k2 AS (SELECT doc_id, sig, band,
                  array_to_string(list_slice(sig, band*4 + 1, band*4 + 4), ',') AS bkey
                FROM keys),
         kr AS (SELECT doc_id, sig, band, bkey,
                  row_number() OVER (PARTITION BY band, bkey
                    ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
                                  AS BIGINT) ASC,
                             doc_id ASC) AS rnk
                FROM k2),
         agr AS (SELECT least(a.doc_id, b.doc_id) AS d1,
                        greatest(a.doc_id, b.doc_id) AS d2,
                        round(CAST(list_sum(list_transform(range(1, 17),
                          i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))
                          AS DOUBLE) / 16, 4) AS sig_agree
                 FROM kr a JOIN kr b
                   ON a.band = b.band AND a.bkey = b.bkey
                  AND ((a.rnk <= 32 AND b.rnk <= 32 AND a.doc_id < b.doc_id)
                       OR (a.rnk > 32 AND b.rnk = 1)))
         SELECT DISTINCT d1, d2, sig_agree FROM agr""",
      (s, dir) =>
        lshCandidatePairsCappedStar(Tables.documents(s, dir), "doc_id", "text",
          bucketCap = 32)),
    QuerySpec("dd_simhash",
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         h AS (SELECT doc_id,
                 list_transform(toks, tk -> CAST('0x' || substr(md5(tk), 1, 7) AS BIGINT)) AS hs
               FROM t)
         SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 28),
             b -> CASE WHEN list_sum(list_transform(hs, x -> ((x >> b) & 1) * 2 - 1)) > 0
                       THEN 1 << b ELSE 0 END)) AS BIGINT) AS simhash
         FROM h""",
      (s, dir) =>
        spread(Tables.documents(s, dir))
          .select(col("doc_id"), simhash(col("text")).as("simhash"))),
    // Hamming-banded simhash pairs: EXACT near-dup detection at
    // hamming <= 3 (pigeonhole over 4 chunks of 7 bits — complete
    // candidates, no recall loss)
    QuerySpec("dd_simhash_pairs",
      // same fingerprint CTE, then 4×7-bit chunk banding + hamming <= 3
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         h AS (SELECT doc_id,
                 list_transform(toks, tk -> CAST('0x' || substr(md5(tk), 1, 7) AS BIGINT)) AS hs
               FROM t),
         f AS (SELECT doc_id,
                 CAST(list_sum(list_transform(range(0, 28),
                   b -> CASE WHEN list_sum(list_transform(hs, x -> ((x >> b) & 1) * 2 - 1)) > 0
                             THEN 1 << b ELSE 0 END)) AS BIGINT) AS sh
               FROM h),
         k AS (SELECT doc_id, sh, unnest(range(0, 4)) AS band FROM f),
         k2 AS (SELECT doc_id, sh, band, (sh >> (band * 7)) & 127 AS chunk FROM k)
         SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
         FROM k2 a JOIN k2 b
           ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sh, b.sh)) <= 3""",
      (s, dir) =>
        simhashPairs(Tables.documents(s, dir), "doc_id", "text")),
    QuerySpec("dd_ngram_jaccard",
      s"""WITH $duckShingleCtes,
         ds AS (SELECT doc_id, list_distinct(shingles) AS sh FROM sh),
         cnt AS (SELECT doc_id, len(sh) AS n FROM ds),
         ex AS (SELECT doc_id, unnest(sh) AS s FROM ds),
         common AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
                    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
         SELECT d1, d2, round(CAST(c AS DOUBLE) / (n1.n + n2.n - c), 6) AS jaccard
         FROM common
         JOIN cnt n1 ON d1 = n1.doc_id
         JOIN cnt n2 ON d2 = n2.doc_id
         WHERE round(CAST(c AS DOUBLE) / (n1.n + n2.n - c), 6) >= 0.5""",
      (s, dir) =>
        ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text", minJaccard = 0.5)),
    QuerySpec("dd_ngram_capped",
      // Capped variant: shingles with document frequency above 25 are
      // dropped BEFORE the pair join (df = 1 shingles too — they cannot
      // form a pair); set sizes n still count full shingle sets. Join
      // key is the portable 56-bit md5 prefix of the shingle (fixed-
      // width longs through every shuffle/sort).
      s"""WITH $duckShingleCtes,
         ds AS (SELECT doc_id, list_distinct(shingles) AS sh FROM sh),
         cnt AS (SELECT doc_id, len(sh) AS n FROM ds),
         ex AS (SELECT doc_id,
                  CAST('0x' || substr(md5(unnest(sh)), 1, 14) AS BIGINT) AS s
                FROM ds),
         exk AS (SELECT doc_id, s FROM (
                   SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM ex)
                 WHERE df BETWEEN 2 AND 25),
         common AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
                    FROM exk a JOIN exk b ON a.s = b.s AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
         SELECT d1, d2, round(CAST(c AS DOUBLE) / (n1.n + n2.n - c), 6) AS jaccard
         FROM common
         JOIN cnt n1 ON d1 = n1.doc_id
         JOIN cnt n2 ON d2 = n2.doc_id
         WHERE round(CAST(c AS DOUBLE) / (n1.n + n2.n - c), 6) >= 0.5""",
      (s, dir) =>
        ngramJaccardPairsCapped(Tables.documents(s, dir), "doc_id", "text",
          minJaccard = 0.5, dfCap = 25)),
    // Incremental corpus-delta dedup: docs with doc_id % 10 = 0 play
    // the incoming ingest batch, the rest the existing corpus; each
    // incoming doc is kept iff it shares no MinHash band key with the
    // corpus's band index (the production path persists that index).
    QuerySpec("dd_incremental",
      // Incremental dedup: same banding as dd_minhash_lsh; incoming =
      // doc_id % 10 = 0, existing = the rest; dup_of = min colliding
      // existing id (NULL → kept).
      s"""WITH $duckShingleCtes,
         keys AS (SELECT doc_id, sig, unnest(range(0, 4)) AS band FROM sig),
         k2 AS (SELECT doc_id, band,
                  array_to_string(list_slice(sig, band*4 + 1, band*4 + 4), ',') AS bkey
                FROM keys),
         inc AS (SELECT doc_id, band, bkey FROM k2 WHERE doc_id % 10 = 0),
         ex AS (SELECT doc_id, band, bkey FROM k2 WHERE doc_id % 10 <> 0)
         SELECT i.doc_id, min(e.doc_id) AS dup_of,
                (min(e.doc_id) IS NULL) AS is_kept
         FROM inc i LEFT JOIN ex e ON i.band = e.band AND i.bkey = e.bkey
         GROUP BY i.doc_id""",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val isNew = col("doc_id") % 10 === 0
        incrementalDedup(
          bandIndex(docs.filter(!isNew), "doc_id", "text"),
          docs.filter(isNew), "doc_id", "text")
      }),
    // Substring-level duplicate-span profile (Lee et al. ACL'22):
    // per doc, how many of its distinct 8-token windows occur in
    // >= 2 documents corpus-wide. Span df is a window count on the
    // span hash's own exchange — no pair join, no k^2 fan-out.
    QuerySpec("dd_span_dups",
      // Duplicate-span profile: distinct 8-token windows per doc, span
      // document-frequency as a window count over the 56-bit span hash,
      // per-doc rollup with the duplicated fraction in floored micro.
      """WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         sp AS (SELECT doc_id,
                  CASE WHEN len(toks) >= 8
                       THEN list_transform(range(1, len(toks) - 6),
                              i -> array_to_string(list_slice(toks, i, i + 7), ' '))
                       ELSE [coalesce(array_to_string(toks, ' '), '')] END AS spans
                FROM t),
         ds AS (SELECT doc_id, unnest(list_distinct(spans)) AS s FROM sp),
         h AS (SELECT doc_id,
                 CAST('0x' || substr(md5(s), 1, 14) AS BIGINT) AS hs
               FROM ds),
         d AS (SELECT doc_id, count(*) OVER (PARTITION BY hs) AS df FROM h)
         SELECT doc_id, count(*) AS n_spans,
                count(CASE WHEN df >= 2 THEN 1 END) AS n_dup_spans,
                (count(CASE WHEN df >= 2 THEN 1 END) * 1000000) // count(*)
                  AS dup_micro
         FROM d GROUP BY doc_id""",
      (s, dir) =>
        dupSpans(Tables.documents(s, dir), "doc_id", "text",
          window = 8, minDocs = 2)),
    // X-D17 end to end (r19): same incremental-dedup ANSWER, but the
    // index is the CDF-MAINTAINED lakehouse table after an insert, a
    // COW text update and a DV delete on the source corpus — the
    // production loop (ingest mutates the corpus, maintainIndexInto
    // keeps the index fresh, dedup answers through it) under the
    // DuckDB oracle.
    QuerySpec("dd_maintained_index",
      // Maintained-index dedup: the oracle replays the SOURCE MUTATIONS
      // (COW text update on doc_id % 7 = 1, delete of % 5 = 3) on the
      // existing corpus, then the standard banding — the maintained
      // index must serve exactly that corpus state.
      """WITH uni AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 7 = 1 THEN text || ' updated twice over'
                       ELSE text END AS text,
                  0 AS inc
           FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 5 <> 3
           UNION ALL
           SELECT doc_id, text, 1 AS inc FROM documents WHERE doc_id % 10 = 0),
         t AS (SELECT doc_id, inc,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
               FROM uni),
         sh AS (SELECT doc_id, inc,
                  CASE WHEN len(toks) >= 3
                       THEN list_transform(range(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                       ELSE [coalesce(array_to_string(toks, ' '), '')] END AS shingles
                FROM t),
         hs AS (SELECT doc_id, inc,
                  list_transform(shingles,
                    s -> CAST('0x' || substr(md5(s), 1, 7) AS BIGINT)) AS hs
                FROM sh),
         sig AS (SELECT doc_id, inc,
                   list_transform(range(0, 16),
                     j -> list_min(list_transform(hs,
                            h -> ((1000003 + j*7919) * h + 12345 + j*104729)
                                 % 2147483647))) AS sig
                 FROM hs),
         keys AS (SELECT doc_id, inc, sig, unnest(range(0, 4)) AS band FROM sig),
         k2 AS (SELECT doc_id, inc, band,
                  array_to_string(list_slice(sig, band*4 + 1, band*4 + 4), ',') AS bkey
                FROM keys),
         i AS (SELECT doc_id, band, bkey FROM k2 WHERE inc = 1),
         e AS (SELECT doc_id, band, bkey FROM k2 WHERE inc = 0)
         SELECT i.doc_id, min(e.doc_id) AS dup_of,
                (min(e.doc_id) IS NULL) AS is_kept
         FROM i LEFT JOIN e ON i.band = e.band AND i.bkey = e.bkey
         GROUP BY i.doc_id""",
      (s, dir) => {
        val wh = ensureDocIndex(s, dir)
        val index = graft.sources.TxnLog.read(s, s"$wh/db/docsix")
        incrementalDedup(index,
          Tables.documents(s, dir).filter(col("doc_id") % 10 === 0),
          "doc_id", "text")
      }),
    // X-D19 (r19): the REMOVAL half of Lee et al. — rewrite every
    // doc dropping the tokens covered by any cross-corpus duplicated
    // 8-token window (adjacent windows merge into maximal spans via
    // the native linear-sweep graft_drop_spans). Same no-pair-join
    // shape as the profile; the rewrite rides the doc-id join.
    QuerySpec("dd_span_rewrite",
      // Exact-substring rewrite: positions keep every occurrence (an
      // intra-doc repeat of a cross-doc span is covered at BOTH
      // positions), df counts per-doc-distinct spans, and the kept
      // tokens are the complement of the merged [p, p+8) covers.
      """WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         sp AS (SELECT doc_id, toks,
                  CASE WHEN len(toks) >= 8
                       THEN list_transform(range(1, len(toks) - 6),
                              i -> array_to_string(list_slice(toks, i, i + 7), ' '))
                       ELSE [coalesce(array_to_string(toks, ' '), '')] END AS spans
                FROM t),
         pos AS (SELECT doc_id, unnest(spans) AS s,
                   generate_subscripts(spans, 1) - 1 AS p
                 FROM sp),
         h AS (SELECT doc_id, p,
                 CAST('0x' || substr(md5(s), 1, 14) AS BIGINT) AS hs
               FROM pos),
         df AS (SELECT hs, count(*) AS df FROM (
                  SELECT DISTINCT doc_id, hs FROM h) GROUP BY hs),
         dup AS (SELECT doc_id, list(p ORDER BY p) AS starts
                 FROM h JOIN df USING (hs) WHERE df.df >= 2
                 GROUP BY doc_id),
         r AS (SELECT t.doc_id, t.toks,
                 coalesce(d.starts, []) AS starts
               FROM t LEFT JOIN dup d USING (doc_id)),
         k AS (SELECT doc_id, toks,
                 list_filter(range(1, len(toks) + 1),
                   i -> len(list_filter(starts,
                          p -> p <= i - 1 AND i - 1 < p + 8)) = 0) AS keep
               FROM r)
         SELECT doc_id,
                coalesce(array_to_string(list_transform(keep, i -> toks[i]), ' '), '')
                  AS text_clean,
                CAST(len(toks) AS BIGINT) AS n_tokens,
                CAST(len(toks) - len(keep) AS BIGINT) AS n_dropped
         FROM k""",
      (s, dir) =>
        dropDupSpans(Tables.documents(s, dir), "doc_id", "text",
          window = 8, minDocs = 2)),
    // Span-profile for an ingest batch against the persisted span
    // index (docs with doc_id % 10 = 0 play the batch): duplication
    // vs the EXISTING corpus only, cost independent of corpus size.
    QuerySpec("dd_span_incremental",
      // Incremental span profile: corpus spans (doc_id % 10 <> 0) build
      // the df index; batch docs (doc_id % 10 = 0) count a span dup iff
      // corpus df + 1 (self) reaches the threshold.
      """WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         sp AS (SELECT doc_id,
                  CASE WHEN len(toks) >= 8
                       THEN list_transform(range(1, len(toks) - 6),
                              i -> array_to_string(list_slice(toks, i, i + 7), ' '))
                       ELSE [coalesce(array_to_string(toks, ' '), '')] END AS spans
                FROM t),
         ds AS (SELECT doc_id,
                  CAST('0x' || substr(md5(unnest(list_distinct(spans))), 1, 14)
                       AS BIGINT) AS hs
                FROM sp),
         idx AS (SELECT hs, count(*) AS df FROM ds
                 WHERE doc_id % 10 <> 0 GROUP BY hs),
         inc AS (SELECT ds.doc_id, COALESCE(idx.df, 0) AS df
                 FROM ds LEFT JOIN idx USING (hs)
                 WHERE ds.doc_id % 10 = 0)
         SELECT doc_id, count(*) AS n_spans,
                count(CASE WHEN df + 1 >= 2 THEN 1 END) AS n_dup_spans,
                (count(CASE WHEN df + 1 >= 2 THEN 1 END) * 1000000) // count(*)
                  AS dup_micro
         FROM inc GROUP BY doc_id""",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val isNew = col("doc_id") % 10 === 0
        incrementalSpanProfile(
          spanIndex(docs.filter(!isNew), "doc_id", "text"),
          docs.filter(isNew), "doc_id", "text")
      }),
    // Fuzzy dedup's last mile: candidate pairs -> connected
    // components -> min-id survivor election (GraphOps).
    QuerySpec("dd_cluster_keep_first",
      // Connected components over the LSH candidate pairs via a
      // recursive reachability CTE; min reachable id = component.
      s"""WITH RECURSIVE $duckShingleCtes,
         keys AS (SELECT doc_id, sig, unnest(range(0, 4)) AS band FROM sig),
         k2 AS (SELECT doc_id, sig, band,
                  array_to_string(list_slice(sig, band*4 + 1, band*4 + 4), ',') AS bkey
                FROM keys),
         pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                   FROM k2 a JOIN k2 b
                     ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                   UNION SELECT d2, d1 FROM pairs),
         nodes AS (SELECT DISTINCT a AS node FROM edges),
         reach(node, r) AS (
           SELECT node, node FROM nodes
           UNION
           SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node)
         SELECT node AS doc_id, min(r) AS kept_id,
                (node = min(r)) AS is_kept
         FROM reach GROUP BY node""",
      (s, dir) =>
        graft.operators.GraphOps.dedupClusters(
          lshCandidatePairs(Tables.documents(s, dir), "doc_id", "text"))),
    // PageRank over the customer -> order -> supplier link graph
    // (node ids prefix-spaced by role), 3 unrolled power-iteration
    // rounds in integer micro-units — the crawl-prioritization /
    // quality-weighting kernel of web-scale curation (GraphOps).
    QuerySpec("gr_pagerank",
      // Three PageRank power-iteration rounds unrolled as CTEs — integer
      // micro-unit ranks, truncating // division, identical to the Spark
      // unrolled-join formulation contribution for contribution.
      """WITH e AS (SELECT o_custkey * 3 AS src, o_orderkey * 3 + 1 AS dst
                    FROM orders
                    UNION ALL
                    SELECT l_orderkey * 3 + 1, l_suppkey * 3 + 2
                    FROM lineitem),
         n AS (SELECT DISTINCT id
               FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         d AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM n),
         i1 AS (SELECT n.id,
                  CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
                FROM n LEFT JOIN (
                  SELECT e.dst AS id, SUM(r0.r // d.deg) AS s
                  FROM e JOIN r0 ON e.src = r0.id JOIN d ON e.src = d.src
                  GROUP BY e.dst) c ON n.id = c.id),
         i2 AS (SELECT n.id,
                  CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
                FROM n LEFT JOIN (
                  SELECT e.dst AS id, SUM(i1.r // d.deg) AS s
                  FROM e JOIN i1 ON e.src = i1.id JOIN d ON e.src = d.src
                  GROUP BY e.dst) c ON n.id = c.id),
         i3 AS (SELECT n.id,
                  CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
                FROM n LEFT JOIN (
                  SELECT e.dst AS id, SUM(i2.r // d.deg) AS s
                  FROM e JOIN i2 ON e.src = i2.id JOIN d ON e.src = d.src
                  GROUP BY e.dst) c ON n.id = c.id)
         SELECT id, r AS rank_micro FROM i3""",
      // customer → order → supplier edges, node ids prefix-spaced by
      // role (×3 + 0/1/2)
      (s, dir) =>
        graft.operators.GraphOps.pageRank(
          Tables.orders(s, dir)
            .select((col("o_custkey") * 3).as("src"),
              (col("o_orderkey") * 3 + 1).as("dst"))
            .unionByName(Tables.lineitem(s, dir)
              .select((col("l_orderkey") * 3 + 1).as("src"),
                (col("l_suppkey") * 3 + 2).as("dst"))),
          "src", "dst")),
    // End-to-end curation composition: quality-score -> language +
    // quality filter -> exact-dedup keep-first -> deterministic
    // hash-mod sample. One declarative plan; Catalyst fuses the
    // scalar stages into the scan projection.
    QuerySpec("cur_pipeline",
      // Curation pipeline: the quality formula mirrors txt_quality's
      // oracle; filter on the ROUNDED score keeps both engines'
      // threshold decisions identical.
      """WITH t AS (
           SELECT doc_id, lang, text,
                  list_filter(string_split(text, ' '), x -> x <> '') AS toks,
                  length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS n_punct
           FROM documents),
         q AS (
           SELECT doc_id, lang, text,
             round(
               least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4 +
               greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
                 ELSE CAST(n_punct AS DOUBLE) / length(text) END) * 5) * 0.3 +
               least((CASE WHEN len(toks) = 0 THEN 0.0
                 ELSE CAST(len(list_filter(toks,
                   x -> list_contains(['the','a','and','of','to','in','is','it'], x))) AS DOUBLE)
                   / len(toks) END) * 4, 1.0) * 0.3,
             6) AS quality
           FROM t),
         f AS (SELECT * FROM q WHERE lang = 'en' AND quality >= 0.4),
         d AS (SELECT doc_id, lang, quality,
                 row_number() OVER (
                   PARTITION BY md5(trim(regexp_replace(regexp_replace(lower(text),
                     '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
                   ORDER BY doc_id ASC) AS rn
               FROM f)
         SELECT doc_id, lang, quality FROM d
         WHERE rn = 1
           AND CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 100 < 50""",
      (s, dir) => {
        import graft.functions.TextFunctions.qualityScore
        val scored = spread(Tables.documents(s, dir)).select(
          col("doc_id"), col("lang"), col("text"),
          round(qualityScore(col("text")), 6).as("quality"))
        val filtered = scored.filter(col("lang") === "en" && col("quality") >= 0.4)
        val deduped = dedupFirst(
          filtered.withColumn("content_key", md5(normalizeText(col("text")))),
          Seq("content_key"), Seq(col("doc_id").asc))
        graft.operators.CorpusOps.hashModSample(deduped, col("doc_id"), pct = 50)
          .select(col("doc_id"), col("lang"), col("quality"))
      }),
    // Full fuzzy-dedup prune: CAPPED LSH candidates -> components ->
    // drop every non-survivor; docs with no near-dup pass through.
    // r19: composes lshCandidatePairsCapped (per-(band,key) rank cap
    // 32) — the uncapped stage is k² per dup group on a boilerplate-
    // heavy crawl (the r18 sf100 vector receipt measured 52×/decade
    // for that shape); recall loss is confined to over-full buckets,
    // whose members are near-dups of each other, and the component
    // merge reunites survivors.
    QuerySpec("cur_neardup_prune",
      // Near-dup prune: keep docs that are either untouched by any
      // candidate pair or the min-id survivor of their component.
      // r19: candidates come from the CAPPED banding (rank cap 32 per
      // (band, bkey) under the portable md5-of-id order) PLUS star
      // edges (over-cap member ↔ the bucket's rank-1 member) — the
      // oracle replays both exactly like the Spark composition.
      s"""WITH RECURSIVE $duckShingleCtes,
         keys AS (SELECT doc_id, sig, unnest(range(0, 4)) AS band FROM sig),
         k2 AS (SELECT doc_id, sig, band,
                  array_to_string(list_slice(sig, band*4 + 1, band*4 + 4), ',') AS bkey
                FROM keys),
         kr AS (SELECT doc_id, band, bkey,
                  row_number() OVER (PARTITION BY band, bkey
                    ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
                                  AS BIGINT) ASC,
                             doc_id ASC) AS rnk
                FROM k2),
         pairs AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS d1,
                          greatest(a.doc_id, b.doc_id) AS d2
                   FROM kr a JOIN kr b
                     ON a.band = b.band AND a.bkey = b.bkey
                    AND ((a.rnk <= 32 AND b.rnk <= 32 AND a.doc_id < b.doc_id)
                         OR (a.rnk > 32 AND b.rnk = 1))),
         edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                   UNION SELECT d2, d1 FROM pairs),
         nodes AS (SELECT DISTINCT a AS node FROM edges),
         reach(node, r) AS (
           SELECT node, node FROM nodes
           UNION
           SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node),
         losers AS (SELECT node AS doc_id FROM reach
                    GROUP BY node HAVING node <> min(r))
         SELECT doc_id, lang FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM losers)""",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // r19 (cont.): the STAR spelling — cap 32 bounds bucket work,
        // the star edges keep the election COMPLETE (over-cap dup-
        // group members still merge the component instead of escaping
        // the prune); candidates remain ⊆ the uncapped spelling's
        val losers = graft.operators.GraphOps.dedupClusters(
          lshCandidatePairsCappedStar(docs, "doc_id", "text", bucketCap = 32))
          .filter(!col("is_kept")).select(col("doc_id"))
        docs.join(losers, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"))
      })
  )
}
