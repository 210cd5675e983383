package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry.{corpusCounts, duckShingleCtes}

/** Multimodal-column extensions: binary assets + typed metadata with
  * a stubbed (deterministic, md5-derived) decode — the Spark
  * plumbing (binary columns, per-partition decoder amortization,
  * narrow typed transforms, frame fan-out) is real and oracle-
  * checked; only the codec math is fake. See
  * [[graft.multimodal.MultimodalOps]].
  */
object MultimodalQueries {
  import graft.multimodal._

  private def documentsCount(s: SparkSession, dir: String): Long =
    corpusCounts.computeIfAbsent(s"doc:$dir",
      _ => Tables.documents(s, dir).count())

  /** Run `pipelines` at once on driver futures, each in its own Spark
    * job group, and return their results in order. On the first
    * failure the siblings' groups are cancelled — again until each
    * sibling settles, since a cancel reaches only jobs already
    * submitted — and that failure's exception is rethrown as is.
    */
  private def runConcurrently[T](s: SparkSession, label: String)(
      pipelines: (() => T)*): Seq[T] = {
    import scala.concurrent.{Await, Future, Promise}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val sc = s.sparkContext
    val groups = pipelines.indices.map(i => s"$label-$i-${java.util.UUID.randomUUID()}")
    val futures = pipelines.zip(groups).map { case (p, g) =>
      Future {
        sc.setJobGroup(g, label, interruptOnCancel = true)
        try p() finally sc.clearJobGroup()
      }
    }
    val outcome = Promise[Seq[T]]()
    futures.foreach(_.failed.foreach(outcome.tryFailure))
    Future.sequence(futures).foreach(outcome.trySuccess)
    Await.ready(outcome.future, Duration.Inf)
    outcome.future.value.get match {
      case scala.util.Success(results) => results
      case scala.util.Failure(cause) =>
        futures.zip(groups).foreach { case (f, g) =>
          while (!f.isCompleted) {
            sc.cancelJobGroup(g)
            scala.util.Try(Await.ready(f, 100.millis))
          }
        }
        throw cause
    }
  }

  /** The image-dedup asset frame: every document's synthesized PNG
    * plus a clamped +24 brightness variant for each doc_id % 5 == 0
    * (ids offset by 1e8) — planted near-duplicates with genuinely
    * different bytes. Shared by `mm_phash_pairs` / `mm_embed_prune`.
    */
  private def mmAssets(s: SparkSession, dir: String)
    : org.apache.spark.sql.Dataset[graft.multimodal.RawAsset] = {
    import graft.multimodal.MultimodalOps
    val docs = Tables.documents(s, dir)
    MultimodalOps.syntheticPngAssets(docs).unionByName(
      MultimodalOps.brightnessVariants(docs, every = 5, delta = 24,
        idOffset = 100000000L))
  }

  /** Shared oracle CTEs for the video rows: the GIF synthesis closed
    * form per (asset, frame, x, y), per-frame pixel sums, and exact
    * inter-frame absolute-difference sums via a previous-frame
    * self-join — one definition so the frame table and the scene-cut
    * detector replay identical pixels.
    */
  private val mmVideoFrameCtes: String =
    """WITH par AS (SELECT doc_id,
                        CAST(12 + doc_id % 8 AS INT) AS w,
                        CAST(12 + (doc_id // 8) % 8 AS INT) AS h,
                        4 + doc_id % 5 AS nf
                 FROM documents),
       px AS (SELECT doc_id, w, h, nf, f.f, x.x, y.y,
                     (3 * x.x + 5 * y.y + 11 * f.f + doc_id
                      + CASE WHEN f.f >= nf // 2 THEN 97 ELSE 0 END)
                       % 256 AS g
              FROM par
              CROSS JOIN range(0, 9) f(f)
              CROSS JOIN range(0, 20) x(x)
              CROSS JOIN range(0, 20) y(y)
              WHERE f.f < par.nf AND x.x < par.w AND y.y < par.h),
       fr AS (SELECT doc_id, f, min(w) AS w, min(h) AS h,
                     SUM(g) AS pixel_sum
              FROM px GROUP BY 1, 2),
       df AS (SELECT a.doc_id, a.f, SUM(abs(a.g - b.g)) AS diff_sum
              FROM px a JOIN px b
                ON a.doc_id = b.doc_id AND a.x = b.x AND a.y = b.y
                   AND b.f = a.f - 1
              GROUP BY 1, 2)"""

  private val mmVideoFrameSelect: String =
    """SELECT fr.doc_id AS asset_id, CAST(fr.f AS INT) AS frame_idx,
              fr.w AS width, fr.h AS height,
              CAST(fr.pixel_sum AS BIGINT) AS pixel_sum,
              CAST(COALESCE(df.diff_sum, 0) AS BIGINT) AS diff_sum
       FROM fr LEFT JOIN df ON fr.doc_id = df.doc_id AND fr.f = df.f"""

  /** Shared oracle CTEs for the image-dedup rows: the asset frame
    * (every doc's PNG + the doc_id % 5 brightness variants at id
    * offset 1e8), the synthesis dimensions, the per-pixel grid and
    * integer BT.601 luma with saturating `+delta` — one definition so
    * the hash and embedding oracles replay identical pixels.
    */
  private val mmLumaCtes: String =
    """base AS (SELECT doc_id AS asset_id, doc_id AS img_id, 0 AS delta
               FROM documents),
       variants AS (SELECT doc_id + 100000000 AS asset_id, doc_id AS img_id,
                           24 AS delta
                    FROM documents WHERE doc_id % 5 = 0),
       assets AS (SELECT * FROM base UNION ALL SELECT * FROM variants),
       dims AS (SELECT asset_id, img_id, delta,
                       CAST(16 + img_id % 16 AS BIGINT) AS w,
                       CAST(16 + (img_id // 16) % 16 AS BIGINT) AS h
                FROM assets),
       u1 AS (SELECT *, unnest(range(0, w)) AS x FROM dims),
       px AS (SELECT asset_id, w, h, x, unnest(range(0, h)) AS y,
                     img_id, delta FROM u1),
       lum AS (SELECT asset_id, w, h, x, y,
                 (299 * LEAST(255, (x*7 + y*13 + img_id) % 256 + delta)
                + 587 * LEAST(255, (x*7 + y*13 + img_id + 85) % 256 + delta)
                + 114 * LEAST(255, (x*7 + y*13 + img_id + 170) % 256 + delta))
                // 1000 AS l
               FROM px)"""

  val specs: Seq[QuerySpec] = Seq(
    // r8: REAL decode — synthesize actual PNGs (pixel values from a
    // closed form over (x, y, id)), parse them with javax.imageio,
    // and emit statistics of the DECODED raster; the oracle
    // recomputes the closed form, so a mis-decode hash-mismatches.
    QuerySpec("mm_decode_features",
      // The oracle recomputes the PNG synthesis closed form per pixel
      // (r = (7x+13y+id) mod 256, g/b offset +85/+170) and aggregates the
      // same statistics the Spark side derives from the DECODED raster —
      // if javax.imageio mis-parsed dims, band order, or samples, the
      // hashes diverge. Integer division truncates on both engines.
      """WITH dims AS (SELECT doc_id AS asset_id,
                         CAST(16 + doc_id % 16 AS INT) AS width,
                         CAST(16 + (doc_id // 16) % 16 AS INT) AS height
                       FROM documents),
         u1 AS (SELECT asset_id, width, height,
                       unnest(range(0, width)) AS x FROM dims),
         u2 AS (SELECT asset_id, width, height, x,
                       unnest(range(0, height)) AS y FROM u1),
         s AS (SELECT asset_id, width, height,
                      SUM((x*7 + y*13 + asset_id) % 256
                        + (x*7 + y*13 + asset_id + 85) % 256
                        + (x*7 + y*13 + asset_id + 170) % 256) AS pixel_sum
               FROM u2 GROUP BY 1, 2, 3)
         SELECT asset_id, width, height, CAST(3 AS INT) AS channels,
                CAST(pixel_sum AS BIGINT) AS pixel_sum,
                CAST(pixel_sum * 1000 // (width * height * 3) AS BIGINT)
                  AS mean_milli
         FROM s""",
      (s, dir) =>
        MultimodalOps.decodeImageFeatures(
          MultimodalOps.syntheticPngAssets(Tables.documents(s, dir))
        ).toDF()),
    QuerySpec("mm_frame_sample",
      """WITH a AS (SELECT doc_id AS asset_id,
                      octet_length(encode(text)) AS n_bytes,
                      CAST('0x' || substr(md5(text), 1, 7) AS BIGINT) AS h
                    FROM documents),
         f AS (SELECT asset_id, n_bytes, h, 1 + h % 8 AS n_frames FROM a),
         u AS (SELECT asset_id, n_bytes, h, n_frames,
                      unnest(range(0, n_frames)) AS frame_idx FROM f)
         SELECT asset_id, frame_idx,
                frame_idx * (n_bytes // n_frames) AS byte_offset,
                (h * 31 + frame_idx) % 2147483647 AS frame_hash
         FROM u""",
      (s, dir) => {
        import s.implicits._
        MultimodalOps.sampleFrames(
          MultimodalOps.documentsAsAssets(Tables.documents(s, dir)).as[RawAsset]
        ).toDF()
      }),
    // r20 (X-M3): image-level near-dup pairs by perceptual hash —
    // REAL decodes (base PNGs + genuinely re-encoded brightness
    // variants), 56-bit dHash from each decoded raster, then the
    // COMPLETE Hamming-banded pigeonhole pair generator (one
    // (band, chunk) shuffle of (id, fingerprint) rows — the scan
    // and decode never reshuffle). The oracle replays the dHash
    // over the synthesis closed form pixel for pixel, so a decoder
    // or grid bug hash-mismatches.
    QuerySpec("mm_phash_pairs",
      // r20: replay the synthesis closed form (base + clamped +24
      // brightness variants), integer BT.601 luma, 9×7 block means via
      // the pixel-assignment mapping (cx = x·9 // w), adjacent-column
      // sign bits packed at cy·8 + cx, then ALL pairs within Hamming 3
      // by brute force — the banding side must be complete, so the
      // textbook cross-join is the oracle.
      s"""WITH $mmLumaCtes,
         cells AS (SELECT asset_id,
                          CAST(x * 9 // w AS INT) AS cx,
                          CAST(y * 7 // h AS INT) AS cy,
                          SUM(l) // COUNT(*) AS m
                   FROM lum GROUP BY 1, 2, 3),
         bits AS (SELECT a.asset_id,
                         CASE WHEN a.m < b.m
                              THEN 1::BIGINT << (a.cy * 8 + a.cx)
                              ELSE 0 END AS bit
                  FROM cells a JOIN cells b
                    ON a.asset_id = b.asset_id AND a.cy = b.cy
                       AND b.cx = a.cx + 1),
         fp AS (SELECT asset_id, SUM(bit)::BIGINT AS fp FROM bits GROUP BY 1)
         SELECT a.asset_id AS a1, b.asset_id AS a2,
                bit_count(xor(a.fp, b.fp)) AS hamming
         FROM fp a JOIN fp b ON a.asset_id < b.asset_id
         WHERE bit_count(xor(a.fp, b.fp)) <= 3""",
      (s, dir) => {
        graft.operators.DedupOps.fingerprintPairs(
          MultimodalOps.perceptualFeatures(mmAssets(s, dir)).toDF()
            .select(col("asset_id"), col("dhash")),
          "asset_id", "dhash", maxHamming = 3, bits = 56)
          .select(col("d1").as("a1"), col("d2").as("a2"), col("hamming"))
      }),
    // r20 (X-M4): the embedding-space twin — 16-dim centered
    // block-mean vectors from the SAME decode pass, routed through
    // the engine's standard capped+adaptive ANN stack
    // (annCosinePairsCapped at dim 16) and the connected-components
    // keep-one election: the cross-modal analog of cur_embed_prune,
    // one machinery for text, vectors and images. The synthetic
    // image manifold is dense in near-dups (the closed form aliases
    // translations), so the election collapses large components —
    // the full (asset, kept_id, is_kept) decision is the result.
    QuerySpec("mm_embed_prune",
      // r20: same pixel replay down to 4×4 centered block means, the
      // 16-dim twin of the cur_embed_prune oracle (md5 hyperplanes,
      // occupancy-adaptive band width over the ASSET count, cap 32 per
      // (table, bucket), exact cosine ≥ 0.9, recursive-CTE reachability
      // min-id election).
      s"""WITH RECURSIVE
         nb AS (SELECT count(*) + (count(*) + 4) // 5 AS n FROM documents),
         bt AS (SELECT COALESCE(MIN(CAST(r.b AS INT)), 24) AS bits
                FROM range(4, 25) r(b), nb
                WHERE (nb.n >> CAST(r.b AS INT)) <= 16),
         $mmLumaCtes,
         cells AS (SELECT asset_id,
                          CAST(y * 4 // h AS INT) * 4 + CAST(x * 4 // w AS INT) AS k,
                          SUM(l) // COUNT(*) AS m
                   FROM lum GROUP BY 1, 2),
         emb0 AS (SELECT asset_id, list(m ORDER BY k) AS ml, SUM(m) AS tot
                  FROM cells GROUP BY 1),
         p AS (SELECT asset_id,
                      list_transform(ml, x -> CAST(16 * x - tot AS DOUBLE)) AS e
               FROM emb0),
         pn AS (SELECT asset_id, e,
                  sqrt(list_sum(list_transform(range(1, 17), i -> e[i] * e[i]))) AS nrm,
                  list_transform(range(0, 4), t ->
                    list_aggregate(list_transform(range(0, bt.bits), b ->
                      CASE WHEN list_sum(list_transform(range(1, 17),
                        i -> e[i] * (CASE WHEN CAST('0x' || substr(md5(
                                  CAST(t AS VARCHAR) || '_' || CAST(b AS VARCHAR)
                                  || '_' || CAST(i - 1 AS VARCHAR)), 1, 7)
                              AS BIGINT) % 2 = 1 THEN 1.0 ELSE -1.0 END))) >= 0
                      THEN '1' ELSE '0' END), 'string_agg', '')) AS buckets
                FROM p, bt),
         ex AS (SELECT asset_id, e, nrm, unnest(buckets) AS bucket,
                       unnest(range(0, 4)) AS tbl FROM pn),
         ek AS (SELECT asset_id, e, nrm, bucket, tbl FROM (
                  SELECT *, row_number() OVER (PARTITION BY tbl, bucket
                    ORDER BY CAST('0x' || substr(md5(CAST(asset_id AS VARCHAR)), 1, 7)
                                  AS BIGINT) ASC, asset_id ASC) AS rnk
                  FROM ex) WHERE rnk <= 32),
         pairs AS (SELECT DISTINCT a.asset_id AS v1, b.asset_id AS v2
                   FROM ek a JOIN ek b
                     ON a.tbl = b.tbl AND a.bucket = b.bucket
                        AND a.asset_id < b.asset_id
                   WHERE round(list_sum(list_transform(range(1, 17),
                               i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 6) >= 0.9),
         edges AS (SELECT v1 AS a, v2 AS b FROM pairs
                   UNION SELECT v2, v1 FROM pairs),
         nodes AS (SELECT DISTINCT a AS node FROM edges),
         reach(node, r) AS (
           SELECT node, node FROM nodes
           UNION
           SELECT e2.a, reach.r FROM edges e2 JOIN reach ON e2.b = reach.node)
         SELECT node AS asset_id, min(r) AS kept_id, (node = min(r)) AS is_kept
         FROM reach GROUP BY node""",
      (s, dir) => {
        import graft.operators.VectorOps.annCosinePairsCapped
        // r21: materialize the 16-dim embeddings ONCE before the ANN
        // stack — the capped self-join consumes its input subtree
        // twice and the decode is the expensive part (profiled: two
        // 8 s-CPU decode stages; with the checkpoint, one). At scale
        // this is the standard shape: embeddings are materialized
        // (bytes-per-row tiny) and the heavy decode never re-runs.
        val emb = MultimodalOps.perceptualFeatures(mmAssets(s, dir)).toDF()
          .select(col("asset_id"), col("embedding"))
          .localCheckpoint()
        val n = documentsCount(s, dir)
        graft.operators.GraphOps.dedupClusters(
          annCosinePairsCapped(emb, "asset_id", "embedding",
            minCosine = 0.9, bucketCap = 32, dim = 16,
            targetOccupancy = 16, knownCount = n + (n + 4) / 5),
          "v1", "v2")
          .select(col("doc_id").as("asset_id"), col("kept_id"), col("is_kept"))
      }),
    // r20 (X-M5): the end-to-end image near-dup PRUNE — the dHash
    // pigeonhole pairs (X-M3) fed through the connected-components
    // keep-one election, so the perceptual-hash path produces
    // keep/drop decisions, not just candidate pairs: the exact
    // multimodal twin of cur_neardup_prune. Pairs are COMPLETE at
    // hamming ≤ 3 (pigeonhole over 4 bands), so the election sees
    // every true near-dup edge; min-id keep-one matches the text
    // and embedding prunes' survivor rule.
    QuerySpec("mm_neardup_prune",
      // r20 (X-M5): the dHash pair replay (same 9×7 luma-grid CTEs as
      // mm_phash_pairs) feeding the recursive-CTE reachability min-id
      // election (same as mm_embed_prune) — pairs at hamming ≤ 3 ARE
      // the edge set, so Spark's pigeonhole banding must be complete or
      // the component structure (and hash) diverges.
      s"""WITH RECURSIVE $mmLumaCtes,
         cells AS (SELECT asset_id,
                          CAST(x * 9 // w AS INT) AS cx,
                          CAST(y * 7 // h AS INT) AS cy,
                          SUM(l) // COUNT(*) AS m
                   FROM lum GROUP BY 1, 2, 3),
         bits AS (SELECT a.asset_id,
                         CASE WHEN a.m < b.m
                              THEN 1::BIGINT << (a.cy * 8 + a.cx)
                              ELSE 0 END AS bit
                  FROM cells a JOIN cells b
                    ON a.asset_id = b.asset_id AND a.cy = b.cy
                       AND b.cx = a.cx + 1),
         fp AS (SELECT asset_id, SUM(bit)::BIGINT AS fp FROM bits GROUP BY 1),
         pairs AS (SELECT a.asset_id AS a1, b.asset_id AS a2
                   FROM fp a JOIN fp b ON a.asset_id < b.asset_id
                   WHERE bit_count(xor(a.fp, b.fp)) <= 3),
         edges AS (SELECT a1 AS a, a2 AS b FROM pairs
                   UNION SELECT a2, a1 FROM pairs),
         nodes AS (SELECT DISTINCT a AS node FROM edges),
         reach(node, r) AS (
           SELECT node, node FROM nodes
           UNION
           SELECT e2.a, reach.r FROM edges e2 JOIN reach ON e2.b = reach.node)
         SELECT node AS asset_id, min(r) AS kept_id, (node = min(r)) AS is_kept
         FROM reach GROUP BY node""",
      (s, dir) => {
        val pairs = graft.operators.DedupOps.fingerprintPairs(
          MultimodalOps.perceptualFeatures(mmAssets(s, dir)).toDF()
            .select(col("asset_id"), col("dhash")),
          "asset_id", "dhash", maxHamming = 3, bits = 56)
        graft.operators.GraphOps.dedupClusters(pairs)
          .select(col("doc_id").as("asset_id"), col("kept_id"), col("is_kept"))
      }),
    // r20 (X-M6): the AUDIO modality — real RIFF/WAVE synthesis per
    // document, a REAL javax.sound.sampled decode (header parse +
    // PCM frame read), and integer-exact waveform features (energy,
    // peak, zero crossings) computed from the DECODED samples. The
    // oracle replays the sawtooth closed form sample for sample, so
    // a header, endianness or sample-layout bug hash-mismatches.
    QuerySpec("mm_audio_features",
      // r20 (X-M6): sample-for-sample replay of the WAV synthesis
      // closed form — the integer sawtooth s(i) = (2·A·j)//(p−1) − A,
      // j = (i + id) mod p — then the same aggregate features the
      // decoder computes from parsed PCM frames. Integer division on
      // non-negative operands, so DuckDB's // and the JVM's / agree.
      """WITH par AS (SELECT doc_id,
                           16 + doc_id % 48 AS p,
                           4000 + (doc_id % 9) * 1000 AS a,
                           1600 + (doc_id % 8) * 100 AS n
                    FROM documents),
         s AS (SELECT doc_id, t.i,
                      ((2 * a * ((t.i + doc_id) % p)) // (p - 1)) - a AS s
               FROM par CROSS JOIN range(0, 2300) t(i) WHERE t.i < par.n),
         c AS (SELECT doc_id, s,
                      CASE WHEN (s < 0) <>
                                (lag(s) OVER (PARTITION BY doc_id
                                              ORDER BY i) < 0)
                           THEN 1 ELSE 0 END AS cr
               FROM s)
         SELECT doc_id AS asset_id, CAST(8000 AS INT) AS sample_rate,
                count(*) AS n_samples,
                CAST(sum(s * s) AS BIGINT) AS energy,
                CAST(max(abs(s)) AS BIGINT) AS peak,
                CAST(sum(cr) AS BIGINT) AS crossings
         FROM c GROUP BY doc_id""",
      (s, dir) =>
        MultimodalOps.decodeAudioFeatures(
          MultimodalOps.syntheticWavAssets(Tables.documents(s, dir))
        ).toDF()),
    // r20 (X-M7): REAL multi-frame video decode — animated GIF89a
    // synthesized per document (planted mid-sequence scene cut),
    // decoded frame by frame through javax.imageio, per-frame pixel
    // sums and exact inter-frame |Δ| sums from the DECODED rasters.
    QuerySpec("mm_video_frames",
      // r20 (X-M7): pixel-for-pixel replay of the GIF frame synthesis —
      // g(x,y,f) = (3x + 5y + 11f + id + cut) mod 256, cut = 97 from the
      // middle frame — then the same per-frame aggregates the decoder
      // computes from decoded rasters, diffs via a self-join on the
      // previous frame's pixel grid.
      s"$mmVideoFrameCtes\n$mmVideoFrameSelect",
      (s, dir) =>
        MultimodalOps.decodeVideoFrames(
          MultimodalOps.syntheticGifAssets(Tables.documents(s, dir))
        ).toDF()),
    // r20 (X-M7): scene-cut detection over the decoded frame diffs —
    // threshold the per-frame |Δ| sum at 60·w·h (smooth frames sit
    // near 11/px + wrap noise, the planted cut near 125/px). The
    // detector must land on EXACTLY the planted middle frame per
    // asset or the hash diverges.
    QuerySpec("mm_scene_cuts",
      // r20 (X-M7): the detector replay — frames whose decoded |Δ| sum
      // clears 60·w·h. On the synthesis closed form that is exactly the
      // planted middle frame of every asset.
      s"""$mmVideoFrameCtes,
         vf AS ($mmVideoFrameSelect)
         SELECT asset_id, frame_idx AS cut_frame FROM vf
         WHERE frame_idx > 0 AND diff_sum > 60 * width * height""",
      (s, dir) =>
        MultimodalOps.decodeVideoFrames(
          MultimodalOps.syntheticGifAssets(Tables.documents(s, dir))
        ).toDF()
          .filter(col("frame_idx") > 0 &&
            col("diff_sum") > lit(60L) * col("width") * col("height"))
          .select(col("asset_id"), col("frame_idx").as("cut_frame"))),
    // r20 (X-M8): loudness-invariant audio dedup — ×2 re-masters
    // (genuinely different PCM bytes) fingerprint identically to
    // their base because positive gain never flips a sample's sign;
    // exact-match election is ONE hash exchange (window min over
    // the fingerprint), no pair generation — the right spelling for
    // hamming-0 dedup at 100 TB. The oracle replays the sign bitmap
    // from the gain-FREE closed form (s < 0 ⇔ 2j < p−1): if the
    // decoder's signs depended on amplitude at all, every variant
    // row would hash-mismatch.
    QuerySpec("mm_audio_dedup",
      // r20 (X-M8): the sign bitmap replayed from the gain-free
      // inequality — s(i) < 0 ⇔ 2·((i + src) mod p) < p − 1, amplitude
      // cancels under floor division — so base docs AND their ×2
      // re-masters derive the identical fingerprint the decoder reads
      // from actual PCM signs; exact-match min-id election per bitmap.
      """WITH par AS (SELECT doc_id AS asset_id, doc_id AS src,
                           16 + doc_id % 48 AS p
                    FROM documents
                    UNION ALL
                    SELECT doc_id + 100000000, doc_id, 16 + doc_id % 48
                    FROM documents WHERE doc_id % 4 = 0),
         b AS (SELECT asset_id,
                      CASE WHEN 2 * ((t.i + src) % p) < p - 1
                           THEN 1::BIGINT << CAST(t.i AS INT)
                           ELSE 0 END AS bit
               FROM par CROSS JOIN range(0, 56) t(i)),
         f AS (SELECT asset_id, SUM(bit)::BIGINT AS fp FROM b GROUP BY 1)
         SELECT asset_id,
                min(asset_id) OVER (PARTITION BY fp) AS kept_id,
                asset_id = min(asset_id) OVER (PARTITION BY fp) AS is_kept
         FROM f""",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val fps = MultimodalOps.audioFingerprints(
          MultimodalOps.syntheticWavAssets(docs).unionByName(
            MultimodalOps.gainVariants(docs, every = 4, gain = 2,
              idOffset = 100000000L))).toDF()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("fingerprint"))
        fps.withColumn("kept_id", min(col("asset_id")).over(w))
          .select(col("asset_id"), col("kept_id"),
            (col("asset_id") === col("kept_id")).as("is_kept"))
      }),
    // r20 (X-C20): CROSS-MODAL corpus curation — one decision table
    // over the documents from all three modality prunes at once:
    // text (star-capped LSH → CC election), image (dHash pigeonhole
    // pairs over each doc's own PNG → CC election), audio (sign-
    // bitmap exact-match election). A multimodal training pipeline's
    // first gate is exactly this conjunction; every stage is the
    // already-proven bounded machinery, composed. Losers frames are
    // component non-minima — tiny next to the corpus — so the three
    // left joins are broadcast-scale; the full frame is emitted
    // (keep flags per modality + the conjunction) so the oracle
    // checks every decision, not just the survivor list.
    QuerySpec("cur_multimodal_prune",
      // r20 (X-C20): the cross-modal conjunction — replays all three
      // modality elections (text minhash star-capped banding, image
      // dHash over each doc's own PNG, audio sign bitmap) against the
      // same documents and emits the full per-doc decision table. Two
      // recursive reachability CTEs (text and image components) live in
      // one WITH RECURSIVE; the image fingerprint frame is restricted
      // to the base assets (no planted variants — the curation question
      // is which DOCUMENTS survive).
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
         tpairs AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS d1,
                           greatest(a.doc_id, b.doc_id) AS d2
                    FROM kr a JOIN kr b
                      ON a.band = b.band AND a.bkey = b.bkey
                     AND ((a.rnk <= 32 AND b.rnk <= 32 AND a.doc_id < b.doc_id)
                          OR (a.rnk > 32 AND b.rnk = 1))),
         tedges AS (SELECT d1 AS a, d2 AS b FROM tpairs
                    UNION SELECT d2, d1 FROM tpairs),
         tnodes AS (SELECT DISTINCT a AS node FROM tedges),
         treach(node, r) AS (
           SELECT node, node FROM tnodes
           UNION
           SELECT e.a, treach.r FROM tedges e JOIN treach ON e.b = treach.node),
         tlosers AS (SELECT node AS doc_id FROM treach
                     GROUP BY node HAVING node <> min(r)),
         $mmLumaCtes,
         cells AS (SELECT asset_id,
                          CAST(x * 9 // w AS INT) AS cx,
                          CAST(y * 7 // h AS INT) AS cy,
                          SUM(l) // COUNT(*) AS m
                   FROM lum GROUP BY 1, 2, 3),
         dbits AS (SELECT a.asset_id,
                          CASE WHEN a.m < b.m
                               THEN 1::BIGINT << (a.cy * 8 + a.cx)
                               ELSE 0 END AS bit
                   FROM cells a JOIN cells b
                     ON a.asset_id = b.asset_id AND a.cy = b.cy
                        AND b.cx = a.cx + 1),
         dfp AS (SELECT asset_id, SUM(bit)::BIGINT AS fp FROM dbits
                 WHERE asset_id < 100000000 GROUP BY 1),
         ipairs AS (SELECT a.asset_id AS d1, b.asset_id AS d2
                    FROM dfp a JOIN dfp b ON a.asset_id < b.asset_id
                    WHERE bit_count(xor(a.fp, b.fp)) <= 3),
         iedges AS (SELECT d1 AS a, d2 AS b FROM ipairs
                    UNION SELECT d2, d1 FROM ipairs),
         inodes AS (SELECT DISTINCT a AS node FROM iedges),
         ireach(node, r) AS (
           SELECT node, node FROM inodes
           UNION
           SELECT e.a, ireach.r FROM iedges e JOIN ireach ON e.b = ireach.node),
         ilosers AS (SELECT node AS doc_id FROM ireach
                     GROUP BY node HAVING node <> min(r)),
         apar AS (SELECT doc_id, 16 + doc_id % 48 AS p FROM documents),
         ab AS (SELECT doc_id,
                       CASE WHEN 2 * ((ti.i + doc_id) % p) < p - 1
                            THEN 1::BIGINT << CAST(ti.i AS INT)
                            ELSE 0 END AS bit
                FROM apar CROSS JOIN range(0, 56) ti(i)),
         af AS (SELECT doc_id, SUM(bit)::BIGINT AS fp FROM ab GROUP BY 1),
         alosers AS (SELECT doc_id FROM (
                       SELECT doc_id,
                              min(doc_id) OVER (PARTITION BY fp) AS k
                       FROM af) WHERE doc_id <> k)
         SELECT d.doc_id,
                d.doc_id NOT IN (SELECT doc_id FROM ilosers) AS keep_image,
                d.doc_id NOT IN (SELECT doc_id FROM alosers) AS keep_audio,
                d.doc_id NOT IN (SELECT doc_id FROM tlosers) AS keep_text,
                (d.doc_id NOT IN (SELECT doc_id FROM ilosers)
                 AND d.doc_id NOT IN (SELECT doc_id FROM alosers)
                 AND d.doc_id NOT IN (SELECT doc_id FROM tlosers)) AS keep
         FROM documents d""",
      (s, dir) => {
        import graft.operators.{DedupOps, GraphOps}
        val docs = Tables.documents(s, dir)
        // r21 (guide §2.6): the three modality pipelines are mutually
        // independent jobs that were running SEQUENTIALLY — each one's
        // stage tails and CC driver round trips left the other two's
        // work waiting (profiled: 24 serial jobs, 2.4 s stage wall +
        // 0.9 s driver gap, with three ~8–10 s-CPU decode stages that
        // never overlapped). Submitting them from driver futures lets
        // the scheduler backfill idle cores across pipelines; each
        // future materializes its loser frame (the CC paths already
        // materialize eagerly inside dedupClusters; the audio window
        // is pinned with a localCheckpoint so its synth+decode runs
        // inside the overlap window too). Results are unchanged —
        // same three frames, same conjunction.
        val aW = org.apache.spark.sql.expressions.Window
          .partitionBy(col("fingerprint"))
        val Seq(imgLosers, audLosers, txtLosers) =
          runConcurrently(s, "cur_multimodal_prune")(
            () => GraphOps.dedupClusters(
              DedupOps.fingerprintPairs(
                MultimodalOps.perceptualFeatures(
                  MultimodalOps.syntheticPngAssets(docs)).toDF()
                  .select(col("asset_id"), col("dhash")),
                "asset_id", "dhash", maxHamming = 3, bits = 56))
              .filter(!col("is_kept")).select(col("doc_id")),
            () => MultimodalOps.audioFingerprints(
                MultimodalOps.syntheticWavAssets(docs)).toDF()
              .withColumn("__kept", min(col("asset_id")).over(aW))
              .filter(col("asset_id") =!= col("__kept"))
              .select(col("asset_id").as("doc_id"))
              .localCheckpoint(),
            () => GraphOps.dedupClusters(
                DedupOps.lshCandidatePairsCappedStar(docs, "doc_id", "text",
                  bucketCap = 32))
              .filter(!col("is_kept")).select(col("doc_id")))
        docs.select(col("doc_id"))
          .join(imgLosers.withColumn("__li", lit(true)), Seq("doc_id"), "left")
          .join(audLosers.withColumn("__la", lit(true)), Seq("doc_id"), "left")
          .join(txtLosers.withColumn("__lt", lit(true)), Seq("doc_id"), "left")
          .select(col("doc_id"),
            col("__li").isNull.as("keep_image"),
            col("__la").isNull.as("keep_audio"),
            col("__lt").isNull.as("keep_text"),
            (col("__li").isNull && col("__la").isNull && col("__lt").isNull)
              .as("keep"))
      })
  )
}
