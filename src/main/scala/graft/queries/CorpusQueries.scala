package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.RelationalOps._
import graft.SparkEntry.{duckShingleCtes, duckBpeCtes}

/** Corpus curation extensions: deterministic hash sampling, per-class
  * caps, vocabulary, TF-IDF. See [[graft.operators.CorpusOps]].
  */
object CorpusQueries {
  import graft.operators.CorpusOps._

  val specs: Seq[QuerySpec] = Seq(
    // feature-hashed linear scorer: tokenize -> bucket -> weighted
    // sum -> threshold, all inside the scan projection (the
    // run-a-classifier-over-100TB shape; weights are literals)
    QuerySpec("cur_model_score",
      // same Knuth-multiplicative bucket weights; empty docs coalesce
      // to 0 (Spark's aggregate over an empty array returns the init)
      """WITH t AS (SELECT doc_id,
              list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents)
         SELECT doc_id, len(toks) AS n_toks,
                CAST(COALESCE(list_sum(list_transform(toks, tok ->
                  ((CAST('0x' || substr(md5(tok), 1, 7) AS BIGINT) % 1024)
                   * 2654435761) % 2001 - 1000)), 0) AS BIGINT) AS score_micro,
                COALESCE(list_sum(list_transform(toks, tok ->
                  ((CAST('0x' || substr(md5(tok), 1, 7) AS BIGINT) % 1024)
                   * 2654435761) % 2001 - 1000)), 0) > 0 AS keep
         FROM t""",
      (s, dir) =>
        linearScore(Tables.documents(s, dir), "doc_id", "text")),
    QuerySpec("samp_hash_mod",
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 100 < 10""",
      (s, dir) =>
        hashModSample(Tables.documents(s, dir), col("doc_id"), pct = 10)
          .select(col("doc_id"), col("lang"), col("n_chars"))),
    QuerySpec("samp_per_class_cap",
      """SELECT doc_id, lang, rnk FROM (
           SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) ASC,
                             doc_id ASC) AS rnk
           FROM documents) WHERE rnk <= 20""",
      (s, dir) =>
        perClassCap(Tables.documents(s, dir), "lang", col("doc_id"), cap = 20)
          .select(col("doc_id"), col("lang"), col("rnk"))),
    QuerySpec("txt_vocab_topk",
      """SELECT token, count(*) AS n FROM (
           SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
           FROM documents)
         GROUP BY token ORDER BY n DESC, token ASC LIMIT 50""",
      (s, dir) =>
        vocabTopK(Tables.documents(s, dir), "text", k = 50)),
    // X-T13: cross-document boilerplate profile (CCNet line dedup
    // adapted to unsegmented text): 10-word pseudo-paragraphs, a
    // chunk in ≥2 distinct docs is boilerplate — the planted
    // duplicate pairs in the corpus light this up
    QuerySpec("txt_boilerplate",
      // 10-word chunk hashes (56-bit md5 prefix), document frequency via
      // a window on the (hash, doc) grain — the same three-stage shape
      // the Spark side runs; slices clamp identically on both engines
      """WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         ix AS (SELECT doc_id, toks,
                  unnest(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS i
                FROM t),
         ch AS (SELECT doc_id,
                  CAST('0x' || substr(md5(array_to_string(
                    toks[i*10+1 : i*10+10], ' ')), 1, 14) AS BIGINT) AS h,
                  CAST(len(toks[i*10+1 : i*10+10]) AS BIGINT) AS w
                FROM ix
                WHERE len(toks[i*10+1 : i*10+10]) > 0),
         pd AS (SELECT h, doc_id, count(*) AS occ, CAST(SUM(w) AS BIGINT) AS words
                FROM ch GROUP BY 1, 2),
         fl AS (SELECT *, count(*) OVER (PARTITION BY h) >= 2 AS boiler FROM pd)
         SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS n_chunks,
                CAST(SUM(CASE WHEN boiler THEN occ ELSE 0 END) AS BIGINT) AS n_boiler,
                CAST(SUM(CASE WHEN boiler THEN 0 ELSE words END) AS BIGINT)
                  AS n_kept_words
         FROM fl GROUP BY doc_id""",
      (s, dir) =>
        boilerplateProfile(Tables.documents(s, dir), "doc_id", "text",
          chunkWords = 10, dfThreshold = 2)),
    QuerySpec("txt_tfidf",
      """WITH ex AS (SELECT doc_id,
                       unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
                     FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
         idf AS (SELECT term, count(*) AS df
                 FROM (SELECT DISTINCT doc_id, term FROM ex) GROUP BY term),
         n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT doc_id, tf.term AS term, tf,
                round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
         FROM tf JOIN idf ON tf.term = idf.term CROSS JOIN n""",
      (s, dir) =>
        tfIdf(Tables.documents(s, dir), "doc_id", "text")),
    // X-C18: FUZZY decontamination — MinHash-estimated Jaccard >= 0.5
    // against any doc of the same 5% sample (catches paraphrased /
    // truncated leakage the exact n-gram recipes miss)
    QuerySpec("cur_decontaminate_fuzzy",
      // fuzzy: the SAME signature/banding pipeline as dd_minhash_lsh,
      // cross-joined docs × 5%-sample inside shared band buckets,
      // agreement >= 8/16 (Jaccard-estimate 0.5) drops the doc
      s"""WITH $duckShingleCtes,
         keys AS (SELECT doc_id, sig, unnest(range(0, 4)) AS band FROM sig),
         k2 AS (SELECT doc_id, sig, band,
                  array_to_string(list_slice(sig, band*4 + 1, band*4 + 4), ',') AS bkey
                FROM keys),
         cont AS (SELECT * FROM k2
                  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
                             AS BIGINT) % 100 < 5),
         bad AS (SELECT DISTINCT d.doc_id
                 FROM k2 d JOIN cont c ON d.band = c.band AND d.bkey = c.bkey
                 WHERE CAST(list_sum(list_transform(range(1, 17),
                         i -> CASE WHEN d.sig[i] = c.sig[i] THEN 1 ELSE 0 END))
                       AS BIGINT) * 1000000 >= 500000 * 16)
         SELECT doc_id, lang FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM bad)""",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val contam = hashModSample(docs, col("doc_id"), pct = 5)
        graft.operators.DedupOps.decontaminateFuzzy(docs, contam,
          "doc_id", "text", minAgreeMicro = 500000L)
          .select(col("doc_id"), col("lang"))
      }),
    // eval-set hygiene: drop docs sharing any 3-gram with the
    // (deterministic 5%) contamination sample
    QuerySpec("cur_decontaminate",
      """WITH t AS (SELECT doc_id, lang,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(toks) >= 3
                       THEN list_transform(range(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                       ELSE [coalesce(array_to_string(toks, ' '), '')] END AS shingles
                FROM t),
         ds AS (SELECT doc_id,
                  CAST('0x' || substr(md5(unnest(list_distinct(shingles))), 1, 14)
                       AS BIGINT) AS s
                FROM sh),
         c AS (SELECT DISTINCT s FROM ds
               WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
                     % 100 < 5),
         bad AS (SELECT DISTINCT doc_id FROM ds JOIN c USING (s))
         SELECT doc_id, lang FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM bad)""",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val contam = hashModSample(docs, col("doc_id"), pct = 5)
        decontaminate(docs, contam, "doc_id", "text")
          .select(col("doc_id"), col("lang"))
      }),
    // the same decontamination through the broadcast-bloom
    // pre-filter (X-C19): the corpus is screened by a per-row
    // codegen bit probe at the scan — no join, no shuffle — and
    // only bloom survivors reach the exact confirming semi-join.
    // Output is IDENTICAL to cur_decontaminate (the semi-join
    // re-checks exactly), so it shares that oracle verbatim.
    QuerySpec("cur_decontaminate_bloom",
      // the bloom pre-filter is invisible in the result (the exact
      // semi-join re-checks every survivor), so the oracle is the same
      // anti-join as cur_decontaminate
      """WITH t AS (SELECT doc_id, lang,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(toks) >= 3
                       THEN list_transform(range(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                       ELSE [coalesce(array_to_string(toks, ' '), '')] END AS shingles
                FROM t),
         ds AS (SELECT doc_id,
                  CAST('0x' || substr(md5(unnest(list_distinct(shingles))), 1, 14)
                       AS BIGINT) AS s
                FROM sh),
         c AS (SELECT DISTINCT s FROM ds
               WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
                     % 100 < 5),
         bad AS (SELECT DISTINCT doc_id FROM ds JOIN c USING (s))
         SELECT doc_id, lang FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM bad)""",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val contam = hashModSample(docs, col("doc_id"), pct = 5)
        decontaminateBloom(docs, contam, "doc_id", "text")
          .select(col("doc_id"), col("lang"))
      }),
    // graded decontamination: per-doc 3-gram CONTAINMENT score
    // against the same 5% sample — the tunable-threshold sibling of
    // cur_decontaminate's boolean drop
    QuerySpec("cur_containment",
      // same shingle/hash CTEs as cur_decontaminate, but a LEFT join +
      // per-doc aggregate instead of the anti-join: containment =
      // hits / distinct shingles
      """WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(toks) >= 3
                       THEN list_transform(range(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                       ELSE [coalesce(array_to_string(toks, ' '), '')] END AS shingles
                FROM t),
         ds AS (SELECT doc_id,
                  CAST('0x' || substr(md5(unnest(list_distinct(shingles))), 1, 14)
                       AS BIGINT) AS s
                FROM sh),
         c AS (SELECT DISTINCT s FROM ds
               WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
                     % 100 < 5)
         SELECT ds.doc_id, count(*) AS n_shingles,
                CAST(sum(CASE WHEN c.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hit,
                round(CAST(sum(CASE WHEN c.s IS NOT NULL THEN 1 ELSE 0 END)
                           AS BIGINT) / count(*), 6) AS containment
         FROM ds LEFT JOIN c ON ds.s = c.s
         GROUP BY ds.doc_id""",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val contam = hashModSample(docs, col("doc_id"), pct = 5)
        containmentScores(docs, contam, "doc_id", "text")
      }),
    // quality-decile binning per language: the curriculum/mixture
    // knob (sample rate per decile) every curation pipeline exposes.
    // Ordering on the ROUNDED score + doc_id keeps tie structure
    // engine-portable. NOTE: ntile sorts each language inside one
    // partition — this exact form is the oracle-checkable
    // correctness baseline; the 100 TB path is
    // CorpusOps.quantileBinsApprox (sketch boundaries, no per-class
    // sort), agreement pinned in CorpusOpsSpec.
    QuerySpec("cur_quantile_bins",
      // txt_quality's score CTE + NTILE over (lang, score desc, doc_id)
      """WITH t AS (
           SELECT doc_id, lang, text,
                  list_filter(string_split(text, ' '), x -> x <> '') AS toks,
                  length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
                    AS n_punct
           FROM documents),
         m AS (
           SELECT doc_id, lang,
             CASE WHEN len(toks) = 0 THEN 0.0 ELSE
               CAST(len(list_filter(toks, x -> list_contains(
                 ['the','a','and','of','to','in','is','it'], x))) AS DOUBLE)
               / len(toks) END AS sr,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(n_punct AS DOUBLE) / length(text) END AS pr,
             least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS lenscore
           FROM t),
         q AS (
           SELECT doc_id, lang,
                  round(lenscore * 0.4 + greatest(0.0, 1.0 - pr * 5) * 0.3
                        + least(sr * 4, 1.0) * 0.3, 6) AS quality_score
           FROM m)
         SELECT doc_id, lang, quality_score,
                ntile(10) OVER (PARTITION BY lang
                                ORDER BY quality_score DESC, doc_id) AS decile
         FROM q""",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"))
          .orderBy(col("quality_score").desc, col("doc_id").asc)
        spread(Tables.documents(s, dir))
          .select(col("doc_id"), col("lang"),
            round(graft.functions.TextFunctions.qualityScore(col("text")), 6)
              .as("quality_score"))
          .withColumn("decile", ntile(10).over(w))
      }),
    QuerySpec("corp_len_histogram",
      """SELECT n_chars // 100 * 100 AS bucket, count(*) AS n_docs
         FROM documents GROUP BY 1""",
      (s, dir) =>
        Tables.documents(s, dir)
          .groupBy(expr("n_chars div 100 * 100").as("bucket"))
          .agg(count(lit(1)).as("n_docs"))),
    QuerySpec("samp_split",
      """SELECT doc_id, lang,
         CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
                   % 100 < 80 THEN 'train'
              WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
                   % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
         FROM documents""",
      (s, dir) =>
        Tables.documents(s, dir).select(col("doc_id"), col("lang"),
          assignSplit(col("doc_id"), trainPct = 80, valPct = 10).as("split"))),
    // training-batch assembly: 2048-token bins, 8 parallel shards
    QuerySpec("cur_pack_sequences",
      // sharded hash-order packing: bin = exclusive running token sum
      // integer-divided by the budget, per shard
      """WITH t AS (SELECT doc_id,
                      CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                           AS BIGINT) AS n_tokens,
                      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
                           AS BIGINT) AS h
                    FROM documents),
         s AS (SELECT doc_id, n_tokens, h, h % 8 AS shard FROM t),
         c AS (SELECT doc_id, n_tokens, shard,
                 sum(n_tokens) OVER (PARTITION BY shard ORDER BY h ASC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM s)
         SELECT doc_id, shard, CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin,
                n_tokens
         FROM c""",
      (s, dir) =>
        packSequences(Tables.documents(s, dir), col("doc_id"),
          graft.functions.TextFunctions.nTokens(col("text")).cast("long"),
          budget = 2048, shards = 8)),
    // X-C19 (r19): the same packing on REAL token counts — the
    // trained merge-table BPE's subword count per doc drives the
    // budget instead of the whitespace estimate.
    QuerySpec("cur_pack_bpe",
      // Packing on trained-BPE counts: the duckBpeCtes pipeline supplies
      // per-doc subword counts, then the identical shard/cumsum/bin fold.
      s"""WITH RECURSIVE ${duckBpeCtes(16, 2048)},
         cnts AS (SELECT n.doc_id,
                    CAST(coalesce(a.n_bpe, 0) AS BIGINT) AS n_tokens,
                    CAST('0x' || substr(md5(CAST(n.doc_id AS VARCHAR)), 1, 7)
                         AS BIGINT) AS h
                  FROM norm n LEFT JOIN (
                    SELECT d.doc_id,
                           sum(length(f.wstr) - length(replace(f.wstr, '{', '')))
                             AS n_bpe
                    FROM dw d JOIN fin f USING (word) GROUP BY d.doc_id)
                    a USING (doc_id)),
         s AS (SELECT doc_id, n_tokens, h, h % 8 AS shard FROM cnts),
         c AS (SELECT doc_id, n_tokens, shard,
                 sum(n_tokens) OVER (PARTITION BY shard ORDER BY h ASC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM s)
         SELECT doc_id, shard, CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin,
                n_tokens
         FROM c""",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val norm = graft.operators.DedupOps.normalizeText(col("text"))
        val merges = graft.operators.BpeOps.trainMerges(
          docs.select(norm.as("__nt")), col("__nt"))
        packSequences(docs, col("doc_id"),
          size(graft.operators.BpeOps.bpeTokens(norm, merges)).cast("long"),
          budget = 2048, shards = 8)
      }),
    // context-length chunking: 64-token windows, stride 48 (overlap
    // 16) — one row per window, scan-side explode
    QuerySpec("cur_chunk",
      // chunking: starts at multiples of 48 while < n_tokens (empty and
      // short docs yield one chunk); idx = start / stride
      """WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         s AS (SELECT doc_id, toks,
                 unnest(range(0, greatest(len(toks), 1), 48)) AS chunk_start
               FROM t)
         SELECT doc_id, CAST(chunk_start // 48 AS INT) AS chunk_idx,
                CAST(chunk_start AS INT) AS chunk_start,
                CAST(least(64, len(toks) - chunk_start) AS INT) AS n_tokens,
                array_to_string(list_slice(toks, chunk_start + 1, chunk_start + 64), ' ')
                  AS chunk_text
         FROM s""",
      (s, dir) =>
        chunkDocuments(Tables.documents(s, dir), "doc_id", "text")),
    // quality-weighted sampling (Efraimidis–Spirakis with a
    // hash-derived uniform): weight = token count + 1, keep top 100
    QuerySpec("samp_weighted",
      // weighted sampling: u = (h7(id)+1)/(2^28+1), key = u^(1/w),
      // top 100 by key
      """WITH t AS (SELECT doc_id,
                      len(list_filter(string_split(text, ' '), x -> x <> '')) + 1 AS w,
                      (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
                       + 1) / 268435457.0 AS u
                    FROM documents)
         SELECT doc_id, round(pow(u, 1.0 / w), 6) AS score
         FROM t ORDER BY pow(u, 1.0 / w) DESC, doc_id ASC LIMIT 100""",
      (s, dir) =>
        weightedSample(Tables.documents(s, dir), "doc_id",
          size(graft.functions.TextFunctions.tokens(col("text"))) + 1, n = 100)),
    // domain-mix rebalancing toward a target lang distribution:
    // en is down-sampled (natural ~41% -> target 30%), the rest are
    // at/under target and keep all rows (rate caps at 1)
    QuerySpec("cur_domain_mix",
      // domain mix: per-class keep rate = min(1, target·total/count),
      // selection by h7(doc_id) mod 1e6 under the floored micro-rate.
      // Every fractional literal is CAST to DOUBLE — DuckDB would
      // otherwise run the arithmetic in DECIMAL and disagree with
      // Spark's IEEE doubles in the last bit.
      """WITH n AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
         t AS (SELECT sum(cnt) AS total FROM n),
         r AS (SELECT lang,
                 CAST(floor(least(CAST(1.0 AS DOUBLE),
                   (CASE lang WHEN 'en' THEN CAST(0.30 AS DOUBLE)
                              WHEN 'zh' THEN CAST(0.20 AS DOUBLE)
                              WHEN 'es' THEN CAST(0.20 AS DOUBLE)
                              WHEN 'fr' THEN CAST(0.15 AS DOUBLE)
                              WHEN 'de' THEN CAST(0.15 AS DOUBLE)
                              ELSE CAST(0.0 AS DOUBLE) END) * t.total / n.cnt)
                   * 1000000) AS BIGINT) AS thr
               FROM n, t)
         SELECT d.doc_id, d.lang
         FROM documents d JOIN r ON d.lang = r.lang
         WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 7) AS BIGINT)
                 % 1000000 < r.thr""",
      (s, dir) =>
        domainMix(Tables.documents(s, dir), "lang", col("doc_id"),
          Map("en" -> 0.30, "zh" -> 0.20, "es" -> 0.20, "fr" -> 0.15, "de" -> 0.15))
          .select(col("doc_id"), col("lang"))),
    // RAKE keyword extraction: stopword-free phrase runs scored by
    // corpus-wide word degree/frequency micro-ratios; top-3 per doc
    QuerySpec("txt_rake",
      // RAKE: running stopword count segments phrases; word score =
      // degree*1e6 // freq (exact ints); phrase = ordered word join
      """WITH tok AS (SELECT doc_id,
                        unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w,
                        generate_subscripts(
                          list_filter(string_split(text, ' '), x -> x <> ''), 1) AS pos
                      FROM documents),
         t2 AS (SELECT doc_id, pos, w,
                  w IN ('the', 'a', 'and', 'of', 'to', 'in', 'is', 'it') AS is_stop
                FROM tok),
         ph AS (SELECT doc_id, pos, w, is_stop,
                  sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY pos) AS pid
                FROM t2),
         pl AS (SELECT doc_id, pid, pos, w,
                  count(*) OVER (PARTITION BY doc_id, pid) AS plen
                FROM ph WHERE NOT is_stop),
         sc AS (SELECT w, (sum(plen) * 1000000) // count(*) AS ws
                FROM pl GROUP BY w),
         ps AS (SELECT pl.doc_id, pl.pid,
                  string_agg(pl.w, ' ' ORDER BY pl.pos) AS phrase,
                  CAST(sum(sc.ws) AS BIGINT) AS score_micro
                FROM pl JOIN sc USING (w) GROUP BY 1, 2),
         dd AS (SELECT DISTINCT doc_id, phrase, score_micro FROM ps)
         SELECT doc_id, phrase, score_micro, rnk FROM (
           SELECT doc_id, phrase, score_micro,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score_micro DESC, phrase ASC) AS rnk
           FROM dd) WHERE rnk <= 3""",
      (s, dir) =>
        rakeKeywords(Tables.documents(s, dir), "doc_id", "text")),
    // DSIR importance scoring: target domain = English docs; score =
    // sum over tokens of micro-quantized ln(p_target/p_source) over
    // 1024 hashed-unigram buckets (add-1 smoothed); keep = score > 0
    QuerySpec("cur_dsir",
      // DSIR importance scoring: dense 1024-bucket hashed-unigram
      // counts (target = lang 'en' vs full corpus), add-1 smoothed,
      // per-bucket ln ratio quantized to micro-nats BEFORE the per-doc
      // sum — each engine rounds each bucket exactly once, so document
      // scores are exact integer sums on both sides.
      """WITH tok AS (SELECT doc_id,
                        unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tk
                      FROM documents),
         b AS (SELECT tok.doc_id,
                 CAST('0x' || substr(md5(tk), 1, 7) AS BIGINT) % 1024 AS b,
                 (d.lang = 'en') AS t
               FROM tok JOIN documents d ON tok.doc_id = d.doc_id),
         c AS (SELECT b, count(*) AS n, count(CASE WHEN t THEN 1 END) AS nt
               FROM b GROUP BY b),
         dense AS (SELECT g.range AS b, COALESCE(c.n, 0) AS n,
                          COALESCE(c.nt, 0) AS nt
                   FROM range(0, 1024) g LEFT JOIN c ON g.range = c.b),
         tt AS (SELECT sum(n) AS na, sum(nt) AS ntt FROM dense),
         r AS (SELECT b,
                 CAST(round(-ln(CAST(n + 1 AS DOUBLE) / CAST(na + 1024 AS DOUBLE))
                            * 1000000) AS BIGINT)
               - CAST(round(-ln(CAST(nt + 1 AS DOUBLE) / CAST(ntt + 1024 AS DOUBLE))
                            * 1000000) AS BIGINT) AS w
               FROM dense, tt),
         sc AS (SELECT b.doc_id, count(*) AS n_toks, sum(r.w) AS s
                FROM b JOIN r USING (b) GROUP BY b.doc_id)
         SELECT d.doc_id,
                CAST(COALESCE(sc.n_toks, 0) AS BIGINT) AS n_toks,
                CAST(COALESCE(sc.s, 0) AS BIGINT) AS score_micro,
                COALESCE(sc.s, 0) > 0 AS keep
         FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""",
      (s, dir) =>
        dsirWeights(Tables.documents(s, dir), "doc_id", "text",
          isTarget = col("lang") === "en")),
    // corpus-priced quality: per-doc average unigram -ln(p), the
    // perplexity-proxy filter signal (micro-nat integer sums keep
    // it oracle-exact)
    QuerySpec("txt_unigram_nll",
      // unigram NLL: corpus term counts price each token; per-token
      // -ln(p) quantized to micro-nats so the doc sum is an exact
      // integer, and the average stays integer (floored micro-nats —
      // a rounded decimal average is rational-by-construction and sits
      // on exact half boundaries where rounders disagree)
      """WITH tok AS (SELECT doc_id,
                        unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
                      FROM documents),
         c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
         t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
         m AS (SELECT tok.doc_id,
                 CAST(round(-ln(CAST(c.cnt AS DOUBLE) / t.total) * 1000000) AS BIGINT)
                   AS micro
               FROM tok JOIN c USING (term), t)
         SELECT doc_id,
                CAST((sum(micro) // count(*)) AS BIGINT) AS avg_nll_micro,
                count(*) AS n_tokens
         FROM m GROUP BY doc_id""",
      (s, dir) =>
        unigramNll(Tables.documents(s, dir), "doc_id", "text")),
    // n=2 joint surprise: catches templated/repetitive pair reuse
    // that unigram pricing cannot see
    QuerySpec("txt_bigram_nll",
      // bigrams = 2-gram shingles (whole-doc collapse under 2 tokens),
      // then the same micro-nat pricing as txt_unigram_nll
      """WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         bg AS (SELECT doc_id,
                  unnest(CASE WHEN len(toks) >= 2
                         THEN list_transform(range(1, len(toks)),
                                i -> toks[i] || ' ' || toks[i+1])
                         ELSE [coalesce(array_to_string(toks, ' '), '')] END) AS bigram
                FROM t),
         c AS (SELECT bigram, count(*) AS cnt FROM bg GROUP BY bigram),
         tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
         m AS (SELECT bg.doc_id,
                 CAST(round(-ln(CAST(c.cnt AS DOUBLE) / tt.total) * 1000000) AS BIGINT)
                   AS micro
               FROM bg JOIN c USING (bigram), tt)
         SELECT doc_id,
                CAST((sum(micro) // count(*)) AS BIGINT) AS avg_nll_micro,
                count(*) AS n_bigrams
         FROM m GROUP BY doc_id""",
      (s, dir) =>
        bigramNll(Tables.documents(s, dir), "doc_id", "text")),
    // stable global sequence numbers (shard-ready contiguous ids) —
    // the scalable two-level row_number, ordered by (n_chars, doc_id)
    QuerySpec("cur_assign_ids",
      // the two-level Spark plan must equal the textbook single window
      """SELECT doc_id,
              row_number() OVER (ORDER BY n_chars ASC, doc_id ASC) AS seq
         FROM documents""",
      (s, dir) =>
        graft.operators.RelationalOps.globalRowNumber(
          Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
          Seq(col("n_chars").asc, col("doc_id").asc), "seq")
          .select(col("doc_id"), col("seq")))
  )
}
