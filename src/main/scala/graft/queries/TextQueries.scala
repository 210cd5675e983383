package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.RelationalOps._
import graft.SparkEntry.duckBpeCtes

/** Text-analysis extensions over `documents` (north star): token
  * stats, quality scoring, language-ID heuristic, fingerprinting.
  * All per-row codegen'd expressions — no shuffle, embarrassingly
  * parallel at any scale.
  */
object TextQueries {
  import graft.functions.TextFunctions._

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("txt_token_stats",
      """SELECT doc_id,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpe_tokens,
         length(text) AS n_chars_calc
         FROM documents""",
      (s, dir) => {
        spread(Tables.documents(s, dir)).select(
          col("doc_id"),
          nTokens(col("text")).as("n_tokens"),
          nBpeTokens(col("text")).as("n_bpe_tokens"),
          length(col("text")).as("n_chars_calc"))
      }),
    // X-T14 (r19): REAL merge-table BPE — 16 Sennrich merges trained
    // driver-side on the corpus's own top-2048 weighted vocabulary
    // (a bounded artifact, like the IVF codebooks), then every doc
    // tokenized by the native graft_bpe expression (merges ride the
    // codegen references table). The oracle replays training AND
    // encoding in SQL, so the table and every subword are
    // hash-checked end to end.
    QuerySpec("txt_bpe_tokens",
      // Merge-table BPE (X-T14): training + encode replayed end to end
      // (the duckBpeCtes doc explains the unroll); tokens re-render as a
      // '|'-joined stream, counts come off the brace count.
      s"""WITH RECURSIVE ${duckBpeCtes(16, 2048)}
         SELECT n.doc_id,
                coalesce(a.bpe_tokens, '') AS bpe_tokens,
                CAST(coalesce(a.n_bpe, 0) AS BIGINT) AS n_bpe
         FROM norm n LEFT JOIN (
           SELECT d.doc_id,
                  string_agg(replace(substr(f.wstr, 2, length(f.wstr) - 2),
                                     '}{', '|'), '|' ORDER BY d.ord) AS bpe_tokens,
                  sum(length(f.wstr) - length(replace(f.wstr, '{', ''))) AS n_bpe
           FROM dw d JOIN fin f USING (word) GROUP BY d.doc_id) a USING (doc_id)""",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val norm = graft.operators.DedupOps.normalizeText(col("text"))
        val merges = graft.operators.BpeOps.trainMerges(
          docs.select(norm.as("__nt")), col("__nt"))
        val toks = graft.operators.BpeOps.bpeTokens(norm, merges)
        spread(docs).select(col("doc_id"),
          array_join(toks, "|").as("bpe_tokens"),
          size(toks).cast("long").as("n_bpe"))
      }),
    // PII scrub: the corpus text itself is synthetic, so the query
    // splices a deterministic email + phone per doc into it — the
    // redactor must strip exactly those (plus any phone-ish digit
    // run already present), identically to the oracle's RE2 pass.
    QuerySpec("txt_redact",
      // same email/phone automata (Java regex ∩ RE2 dialect), same
      // order: emails first, then phones; n_pii counted pre-redaction
      """WITH t AS (SELECT doc_id,
             text || ' contact voter' || CAST(doc_id AS VARCHAR) ||
             '@example.com or +44-7700-900' || CAST(doc_id % 1000 AS VARCHAR) AS et
           FROM documents),
         r AS (SELECT doc_id, et,
                 regexp_replace(et, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                                '<EMAIL>', 'g') AS no_email
               FROM t)
         SELECT doc_id,
                len(regexp_extract_all(et, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                + len(regexp_extract_all(no_email, '\+?[0-9][0-9-]{7,}[0-9]')) AS n_pii,
                regexp_replace(no_email, '\+?[0-9][0-9-]{7,}[0-9]', '<PHONE>', 'g')
                  AS clean_text
         FROM r""",
      (s, dir) => {
        val enriched = concat(col("text"), lit(" contact voter"),
          col("doc_id").cast("string"), lit("@example.com or +44-7700-900"),
          (col("doc_id") % 1000).cast("string"))
        spread(Tables.documents(s, dir)).select(
          col("doc_id"),
          piiCount(enriched).as("n_pii"),
          redactPii(enriched).as("clean_text"))
      }),
    QuerySpec("txt_quality",
      """WITH t AS (
           SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS toks,
                  length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS n_punct
           FROM documents),
         m AS (
           SELECT doc_id,
             CASE WHEN len(toks) = 0 THEN 0.0 ELSE
               CAST(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it'], x))) AS DOUBLE) / len(toks) END AS sr,
             CASE WHEN len(toks) = 0 THEN 0.0 ELSE
               CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) END AS atl,
             CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / length(text) END AS pr,
             least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS lenscore
           FROM t)
         SELECT doc_id, round(sr, 6) AS stopword_ratio, round(atl, 6) AS avg_token_len,
                round(pr, 6) AS punct_ratio,
                round(lenscore * 0.4 + greatest(0.0, 1.0 - pr * 5) * 0.3 + least(sr * 4, 1.0) * 0.3, 6) AS quality_score
         FROM m""",
      (s, dir) => {
        spread(Tables.documents(s, dir)).select(
          col("doc_id"),
          round(stopwordRatio(col("text")), 6).as("stopword_ratio"),
          round(avgTokenLen(col("text")), 6).as("avg_token_len"),
          round(punctRatio(col("text")), 6).as("punct_ratio"),
          round(qualityScore(col("text")), 6).as("quality_score"))
      }),
    QuerySpec("txt_langid",
      """SELECT doc_id, CASE
           WHEN ' ' || lower(text) || ' ' LIKE '% der %' OR ' ' || lower(text) || ' ' LIKE '% und %' OR ' ' || lower(text) || ' ' LIKE '% nicht %' THEN 'de'
           WHEN ' ' || lower(text) || ' ' LIKE '% el %' OR ' ' || lower(text) || ' ' LIKE '% los %' OR ' ' || lower(text) || ' ' LIKE '% una %' THEN 'es'
           WHEN ' ' || lower(text) || ' ' LIKE '% le %' OR ' ' || lower(text) || ' ' LIKE '% et %' OR ' ' || lower(text) || ' ' LIKE '% les %' THEN 'fr'
           WHEN ' ' || lower(text) || ' ' LIKE '% the %' OR ' ' || lower(text) || ' ' LIKE '% and %' THEN 'en'
           ELSE 'unknown' END AS lang_pred
         FROM documents""",
      (s, dir) => {
        spread(Tables.documents(s, dir)).select(
          col("doc_id"), langId(col("text")).as("lang_pred"))
      }),
    // r20 (X-T15): Coleman–Liau readability (Coleman & Liau 1975:
    // CLI = 0.0588·L − 0.296·S − 15.8 over letters/sentences per
    // 100 words) in EXACT milli-integer arithmetic — every division
    // is a floor div on non-negative operands, so Spark and DuckDB
    // agree bit for bit with no float rounding to paper over.
    // Readability bands are a standard pretraining curation filter.
    QuerySpec("txt_reading_level",
      // r20 (X-T15): the same milli-integer Coleman–Liau — floor
      // division on non-negative operands matches Spark's `div` exactly
      """WITH b AS (SELECT doc_id,
                CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS letters,
                CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS words,
                CAST(greatest(length(regexp_replace(text, '[^.!?]', '', 'g')), 1) AS BIGINT) AS sentences
              FROM documents),
         c AS (SELECT *, greatest(words, 1) AS w FROM b)
         SELECT doc_id, letters, words, sentences,
                CAST(588 * (letters * 100000 // w) // 10000
                     - 2960 * (sentences * 100000 // w) // 10000
                     - 15800 AS BIGINT) AS cli_milli
         FROM c""",
      (s, dir) =>
        spread(Tables.documents(s, dir)).select(
          col("doc_id"),
          length(regexp_replace(col("text"), "[^A-Za-z]", ""))
            .cast("long").as("letters"),
          size(filter(split(col("text"), " "), x => x =!= lit("")))
            .cast("long").as("words"),
          greatest(length(regexp_replace(col("text"), "[^.!?]", ""))
            .cast("long"), lit(1L)).as("sentences"))
          .withColumn("__w", greatest(col("words"), lit(1L)))
          .select(col("doc_id"), col("letters"), col("words"),
            col("sentences"),
            (expr("588 * (letters * 100000 div __w) div 10000")
              - expr("2960 * (sentences * 100000 div __w) div 10000")
              - lit(15800L)).as("cli_milli"))),
    QuerySpec("txt_repetition",
      """WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         g AS (SELECT doc_id, toks,
                 CASE WHEN len(toks) >= 2
                      THEN list_transform(range(1, len(toks)),
                             i -> toks[i] || ' ' || toks[i+1])
                      ELSE [coalesce(array_to_string(toks, ' '), '')] END AS g2,
                 CASE WHEN len(toks) >= 3
                      THEN list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                      ELSE [coalesce(array_to_string(toks, ' '), '')] END AS g3
               FROM t)
         SELECT doc_id,
           round(CASE WHEN len(toks) < 2 THEN 0.0
                 ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) END, 6) AS rep2,
           round(CASE WHEN len(toks) < 3 THEN 0.0
                 ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) END, 6) AS rep3
         FROM g""",
      (s, dir) => {
        spread(Tables.documents(s, dir)).select(
          col("doc_id"),
          round(repetitionRatio(col("text"), 2), 6).as("rep2"),
          round(repetitionRatio(col("text"), 3), 6).as("rep3"))
      }),
    QuerySpec("txt_fingerprint",
      // LEFT JOIN + COALESCE so zero-token docs yield fingerprint 0,
      // matching Spark's aggregate-over-empty-array semantics (ADVICE r1).
      """SELECT d.doc_id, COALESCE(f.fp, 0) AS fingerprint
         FROM documents d LEFT JOIN (
           SELECT doc_id, CAST(sum(i * h) AS BIGINT) AS fp FROM (
             SELECT doc_id,
                    generate_subscripts(toks, 1) AS i,
                    CAST('0x' || substr(md5(unnest(toks)), 1, 7) AS BIGINT) AS h
             FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
                   FROM documents))
           GROUP BY doc_id) f ON d.doc_id = f.doc_id""",
      (s, dir) => {
        spread(Tables.documents(s, dir)).select(
          col("doc_id"), fingerprint(col("text")).as("fingerprint"))
      }),
    // character entropy (bits/char): gibberish/binary-junk detector;
    // sorted-distinct fold keeps the double bit-identical cross-engine
    QuerySpec("txt_entropy",
      // entropy terms fold over SORTED distinct chars on both engines,
      // so the double sum is bit-identical before the round
      """WITH t AS (SELECT doc_id, coalesce(text, '') AS text FROM documents)
         SELECT doc_id,
           CASE WHEN length(text) = 0 THEN 0.0 ELSE
             round(-list_sum(list_transform(
                 list_sort(list_distinct(string_split(text, ''))),
                 c -> (CAST(len(list_filter(string_split(text, ''), x -> x = c))
                            AS DOUBLE) / length(text))
                      * ln(CAST(len(list_filter(string_split(text, ''), x -> x = c))
                                AS DOUBLE) / length(text))))
               / ln(2), 6) END AS char_entropy
         FROM t""",
      (s, dir) =>
        spread(Tables.documents(s, dir)).select(
          col("doc_id"), round(charEntropy(col("text")), 6).as("char_entropy")))
  )
}
