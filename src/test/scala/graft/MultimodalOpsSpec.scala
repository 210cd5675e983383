package graft

import graft.multimodal._
import org.apache.spark.sql.functions.{col, lit}

class MultimodalOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def assets = Seq(
    RawAsset(1L, "image/fake", Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)),
    RawAsset(2L, "image/fake", "hello world".getBytes("UTF-8")),
    RawAsset(3L, "video/fake", Array.tabulate(1000)(_.toByte))
  ).toDS()

  test("synthesized assets are REAL PNGs (magic bytes + ImageIO parse)") {
    val docs = Seq((0L, "x"), (5L, "y"), (300L, "z")).toDF("doc_id", "text")
    val rows = MultimodalOps.syntheticPngAssets(docs).collect()
    assert(rows.length === 3)
    rows.foreach { a =>
      val b = a.bytes
      // PNG signature: 89 50 4E 47 0D 0A 1A 0A
      assert((b(0) & 0xff) === 0x89 && b(1) === 'P' && b(2) === 'N' && b(3) === 'G',
        s"asset ${a.asset_id} lacks the PNG signature")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      assert(img != null, s"asset ${a.asset_id} is not ImageIO-decodable")
      assert(img.getWidth === 16 + (a.asset_id % 16).toInt)
      assert(img.getHeight === 16 + ((a.asset_id / 16) % 16).toInt)
    }
  }

  test("decodeImageFeatures recovers the synthesis closed form from decoded pixels") {
    val docs = Seq((0L, ""), (7L, ""), (123L, ""), (4095L, "")).toDF("doc_id", "text")
    val feats = MultimodalOps.decodeImageFeatures(
      MultimodalOps.syntheticPngAssets(docs)).collect().map(f => f.asset_id -> f).toMap
    assert(feats.size === 4)
    Seq(0L, 7L, 123L, 4095L).foreach { id =>
      val w = 16 + (id % 16).toInt
      val h = 16 + ((id / 16) % 16).toInt
      var expect = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val base = x * 7L + y * 13L + id
        expect += base % 256 + (base + 85) % 256 + (base + 170) % 256
      }
      val f = feats(id)
      assert(f.width === w && f.height === h && f.channels === 3)
      assert(f.pixel_sum === expect,
        s"id=$id: decoded pixel sum ${f.pixel_sum} != closed form $expect")
      assert(f.mean_milli === expect * 1000L / (w.toLong * h * 3))
    }
  }

  test("decodeImageFeatures fails loudly on undecodable bytes, not silently") {
    val junk = Seq(RawAsset(9L, "image/fake", Array[Byte](1, 2, 3))).toDS()
    intercept[Exception] {
      MultimodalOps.decodeImageFeatures(junk).collect()
    }
  }

  test("sampleFrames fans out 1..8 evenly-strided frames per asset") {
    val frames = MultimodalOps.sampleFrames(assets).collect().groupBy(_.asset_id)
    frames.foreach { case (_, fs) =>
      assert(fs.length >= 1 && fs.length <= 8)
      assert(fs.map(_.frame_idx).sorted.toSeq === (0 until fs.length))
      val stride = if (fs.length > 1) fs.sortBy(_.frame_idx).apply(1).byte_offset else 0
      fs.foreach(f => assert(f.byte_offset === f.frame_idx * stride || fs.length == 1))
    }
  }

  test("encode+decode is a narrow transform: no shuffle, partition count preserved") {
    val docs = Tables.documents(spark, sfDir)
    val synth = MultimodalOps.syntheticPngAssets(docs)
    val decoded = MultimodalOps.decodeImageFeatures(synth)
    // the synthesis stage carries ONE scale-adaptive fan-out exchange
    // (r20: spread of the 8-byte id column before per-row encode; the
    // identity on multi-split inputs) — the DECODE must add zero
    // exchanges of its own and preserve the partition count
    def exchanges(plan: String): Int = "Exchange".r.findAllIn(plan).length
    assert(exchanges(decoded.queryExecution.executedPlan.toString) ===
      exchanges(synth.queryExecution.executedPlan.toString))
    assert(decoded.rdd.getNumPartitions === synth.rdd.getNumPartitions)
  }

  test("documentsAsAssets payload is the exact UTF-8 bytes of the text") {
    // key the comparison by id: the asset frame is spread (round-robin
    // fan-out), so positional limit(1) picks different rows per side
    val doc = Tables.documents(spark, sfDir).limit(1).collect().head
    val docId = doc.getAs[Long]("doc_id")
    val row = MultimodalOps.documentsAsAssets(Tables.documents(spark, sfDir))
      .filter(col("asset_id") === docId).collect().head
    assert(row.getAs[Array[Byte]]("bytes").toSeq ===
      doc.getAs[String]("text").getBytes("UTF-8").toSeq)
  }

  /** JVM reference dHash from the closed form — the executable spec
    * the decoded-raster path must reproduce.
    */
  private def refPerception(id: Long, delta: Int): (Long, Seq[Double]) = {
    val w = 16 + (id % 16).toInt
    val h = 16 + ((id / 16) % 16).toInt
    def lumaAt(x: Int, y: Int): Long = {
      val base = x * 7L + y * 13L + id
      val r = math.min(255L, base % 256 + delta)
      val g = math.min(255L, (base + 85) % 256 + delta)
      val b = math.min(255L, (base + 170) % 256 + delta)
      (299 * r + 587 * g + 114 * b) / 1000
    }
    def grid(gw: Int, gh: Int): Array[Long] = {
      val s = new Array[Long](gw * gh); val n = new Array[Long](gw * gh)
      for (y <- 0 until h; x <- 0 until w) {
        val k = (y * gh / h) * gw + x * gw / w
        s(k) += lumaAt(x, y); n(k) += 1
      }
      Array.tabulate(gw * gh)(k => s(k) / n(k))
    }
    val d = grid(9, 7)
    var fp = 0L
    for (cy <- 0 until 7; cx <- 0 until 8)
      if (d(cy * 9 + cx) < d(cy * 9 + cx + 1)) fp |= 1L << (cy * 8 + cx)
    val m = grid(4, 4); val tot = m.sum
    (fp, m.map(v => (16 * v - tot).toDouble).toSeq)
  }

  test("perceptualFeatures: decoded-raster dHash + embedding match the " +
       "closed-form executable spec bit for bit (r20)") {
    import spark.implicits._
    val docs = Seq(0L, 7L, 100L, 255L, 256L, 499L).toDF("doc_id")
    val got = MultimodalOps.perceptualFeatures(
        MultimodalOps.syntheticPngAssets(docs))
      .collect().map(p => p.asset_id -> ((p.dhash, p.embedding.toSeq))).toMap
    for (id <- Seq(0L, 7L, 100L, 255L, 256L, 499L)) {
      val (fp, e) = refPerception(id, 0)
      assert(got(id) === ((fp, e)), s"asset $id")
    }
    // variants decode to the clamped-shift reference
    val vgot = MultimodalOps.perceptualFeatures(
        MultimodalOps.brightnessVariants(docs, every = 5, delta = 24,
          idOffset = 1000L))
      .collect().map(p => p.asset_id -> p.dhash).toMap
    for (id <- Seq(0L, 100L, 255L))
      assert(vgot(id + 1000L) === refPerception(id, 24)._1)
  }

  test("dHash near-dup: a RE-ENCODED duplicate lands at Hamming 0, a " +
       "brightness-shifted one within the budget, unrelated images far outside (r20)") {
    import spark.implicits._
    val one = Seq(42L).toDF("doc_id")
    val base = MultimodalOps.perceptualFeatures(
      MultimodalOps.syntheticPngAssets(one)).head()
    // re-encode the same raster in a DIFFERENT lossless format (BMP):
    // entirely new bytes, identical pixels — the classic
    // exact-visual-dup a byte hash misses and a perceptual hash catches
    val reenc = {
      val bytes = MultimodalOps.syntheticPngAssets(one).head().bytes
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "bmp", out)
      out.toByteArray
    }
    assert(!java.util.Arrays.equals(reenc,
      MultimodalOps.syntheticPngAssets(one).head().bytes),
      "the re-encode must produce different bytes")
    val reencFp = MultimodalOps.perceptualFeatures(
      Seq(RawAsset(9042L, "image/png", reenc)).toDS()).head()
    assert(java.lang.Long.bitCount(base.dhash ^ reencFp.dhash) === 0,
      "re-encoded duplicate must hash identically")
    // brightness-shifted: different pixels, tiny Hamming distance
    val shifted = MultimodalOps.perceptualFeatures(
      MultimodalOps.brightnessVariants(one, every = 1, delta = 24,
        idOffset = 1000L)).head()
    assert(java.lang.Long.bitCount(base.dhash ^ shifted.dhash) <= 3,
      "brightness-shifted duplicate must stay within the Hamming budget")
    // unrelated image: far outside the budget
    val other = MultimodalOps.perceptualFeatures(
      MultimodalOps.syntheticPngAssets(Seq(143L).toDF("doc_id"))).head()
    assert(java.lang.Long.bitCount(base.dhash ^ other.dhash) > 10,
      "unrelated images must not collide")
  }

  test("fingerprintPairs over dHash is COMPLETE: equals brute force " +
       "within the Hamming budget (r20)") {
    import spark.implicits._
    val docs = spark.range(0, 120).select(col("id").as("doc_id"))
    val fps = MultimodalOps.perceptualFeatures(
        MultimodalOps.syntheticPngAssets(docs).unionByName(
          MultimodalOps.brightnessVariants(docs, every = 5, delta = 24,
            idOffset = 100000000L)))
      .toDF().select(col("asset_id"), col("dhash"))
    val banded = graft.operators.DedupOps.fingerprintPairs(
        fps, "asset_id", "dhash", maxHamming = 3, bits = 56)
      .as[(Long, Long, Long)].collect().toSet
    val all = fps.as[(Long, Long)].collect()
    val brute = (for {
      (i1, f1) <- all; (i2, f2) <- all if i1 < i2
      hm = java.lang.Long.bitCount(f1 ^ f2) if hm <= 3
    } yield (i1, i2, hm.toLong)).toSet
    assert(banded === brute, "pigeonhole banding must admit no false negatives")
    assert(brute.nonEmpty, "fixture must contain near-dup pairs")
  }

  test("image near-dup PRUNE: brightness variants collapse onto their " +
       "base and the min-id survivor is kept (r20, X-M5)") {
    import spark.implicits._
    val docs = spark.range(0, 60).select(col("id").as("doc_id"))
    val pairs = graft.operators.DedupOps.fingerprintPairs(
      MultimodalOps.perceptualFeatures(
          MultimodalOps.syntheticPngAssets(docs).unionByName(
            MultimodalOps.brightnessVariants(docs, every = 5, delta = 24,
              idOffset = 100000000L)))
        .toDF().select(col("asset_id"), col("dhash")),
      "asset_id", "dhash", maxHamming = 3, bits = 56)
    val decisions = graft.operators.GraphOps.dedupClusters(pairs)
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // every planted variant appears in a component, is NOT the
    // survivor (its base has the smaller id), and its kept_id is a
    // base-range id — the variant is the row a prune would drop
    val planted = (0L until 60L by 5).map(_ + 100000000L)
    assert(planted.forall(decisions.contains),
      "every planted variant must be caught by the prune")
    planted.foreach { v =>
      val (kept, isKept) = decisions(v)
      assert(!isKept && kept < 100000000L,
        s"variant $v must lose the election to a base asset (kept=$kept)")
    }
    // survivors are exactly the component minima: is_kept ⇔ id == kept_id
    decisions.foreach { case (id, (kept, isKept)) =>
      assert(isKept === (id == kept), s"asset $id")
      assert(kept <= id, s"kept_id must be the component min for $id")
    }
  }

  test("synthesized WAVs are REAL RIFF files (magic bytes + AudioSystem " +
       "header parse) (r20, X-M6)") {
    import spark.implicits._
    val assets = MultimodalOps.syntheticWavAssets(
      Seq(0L, 7L, 100L, 499L).toDF("doc_id")).collect()
    assets.foreach { a =>
      assert(new String(a.bytes.take(4), "US-ASCII") === "RIFF")
      assert(new String(a.bytes.slice(8, 12), "US-ASCII") === "WAVE")
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(a.bytes))
      val fmt = in.getFormat
      assert(fmt.getSampleRate === 8000f)
      assert(fmt.getChannels === 1)
      assert(fmt.getSampleSizeInBits === 16)
      assert(!fmt.isBigEndian)
      assert(in.getFrameLength === 1600 + (a.asset_id % 8) * 100,
        s"asset ${a.asset_id}: header frame count")
      in.close()
    }
  }

  test("decodeAudioFeatures recovers the sawtooth closed form from " +
       "decoded PCM frames (r20, X-M6)") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 7L, 47L, 48L, 100L, 255L, 499L)
    val got = MultimodalOps.decodeAudioFeatures(
        MultimodalOps.syntheticWavAssets(ids.toDF("doc_id")))
      .collect().map(f => f.asset_id -> f).toMap
    for (id <- ids) {
      val n = 1600 + (id % 8).toInt * 100
      val p = 16 + (id % 48).toInt
      val a = 4000 + (id % 9).toInt * 1000
      val samples = Array.tabulate(n) { i =>
        (2 * a * ((i + id) % p).toInt) / (p - 1) - a
      }
      val f = got(id)
      assert(f.sample_rate === 8000, s"id $id")
      assert(f.n_samples === n.toLong, s"id $id")
      assert(f.energy === samples.map(s => s.toLong * s).sum, s"id $id")
      assert(f.peak === samples.map(s => math.abs(s).toLong).max, s"id $id")
      val crossings = samples.sliding(2).count(w => (w(0) < 0) != (w(1) < 0))
      assert(f.crossings === crossings.toLong, s"id $id")
    }
  }

  test("synthesized GIFs are REAL animated GIF89a files with the " +
       "declared frame count (r20, X-M7)") {
    import spark.implicits._
    val assets = MultimodalOps.syntheticGifAssets(
      Seq(0L, 7L, 100L, 499L).toDF("doc_id")).collect()
    assets.foreach { a =>
      assert(new String(a.bytes.take(6), "US-ASCII") === "GIF89a")
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(a.bytes))
      val rd = javax.imageio.ImageIO.getImageReaders(iis).next()
      rd.setInput(iis)
      assert(rd.getNumImages(true) === 4 + (a.asset_id % 5).toInt,
        s"asset ${a.asset_id}: frame count")
      rd.dispose(); iis.close()
    }
  }

  test("decodeVideoFrames recovers the frame closed form (pixel sums, " +
       "exact inter-frame diffs) from decoded rasters (r20, X-M7)") {
    import spark.implicits._
    val ids = Seq(0L, 7L, 63L, 100L, 499L)
    val got = MultimodalOps.decodeVideoFrames(
        MultimodalOps.syntheticGifAssets(ids.toDF("doc_id")))
      .collect().groupBy(_.asset_id)
    for (id <- ids) {
      val w = 12 + (id % 8).toInt
      val h = 12 + ((id / 8) % 8).toInt
      val nf = 4 + (id % 5).toInt
      def px(x: Int, y: Int, f: Int): Int =
        ((3L * x + 5L * y + 11L * f + id +
          (if (f >= nf / 2) 97 else 0)) % 256).toInt
      val frames = got(id).sortBy(_.frame_idx)
      assert(frames.length === nf, s"id $id")
      frames.foreach { vf =>
        assert((vf.width, vf.height) === ((w, h)), s"id $id f ${vf.frame_idx}")
        val want = (for (y <- 0 until h; x <- 0 until w)
          yield px(x, y, vf.frame_idx).toLong).sum
        assert(vf.pixel_sum === want, s"id $id f ${vf.frame_idx} pixel_sum")
        val wantDiff = if (vf.frame_idx == 0) 0L
          else (for (y <- 0 until h; x <- 0 until w) yield
            math.abs(px(x, y, vf.frame_idx) -
              px(x, y, vf.frame_idx - 1)).toLong).sum
        assert(vf.diff_sum === wantDiff, s"id $id f ${vf.frame_idx} diff_sum")
      }
    }
  }

  test("scene-cut detection lands on EXACTLY the planted middle frame " +
       "per asset (r20, X-M7)") {
    import spark.implicits._
    val docs = spark.range(0, 80).select(col("id").as("doc_id"))
    val cuts = MultimodalOps.decodeVideoFrames(
        MultimodalOps.syntheticGifAssets(docs))
      .toDF()
      .filter(col("frame_idx") > 0 &&
        col("diff_sum") > lit(60L) * col("width") * col("height"))
      .select(col("asset_id"), col("frame_idx"))
      .as[(Long, Int)].collect().groupBy(_._1)
    assert(cuts.size === 80, "every asset has a detectable cut")
    cuts.foreach { case (id, fs) =>
      val nf = 4 + (id % 5).toInt
      assert(fs.map(_._2).toSeq === Seq(nf / 2),
        s"asset $id: exactly one cut at the planted middle frame")
    }
  }

  test("audio fingerprint is loudness-invariant: a x2 re-master (different " +
       "PCM bytes) fingerprints identically, different waveforms diverge (r20, X-M8)") {
    import spark.implicits._
    val docs = spark.range(0, 96).select(col("id").as("doc_id"))
    val base = MultimodalOps.audioFingerprints(
        MultimodalOps.syntheticWavAssets(docs))
      .collect().map(f => f.asset_id -> f.fingerprint).toMap
    val vars = MultimodalOps.audioFingerprints(
        MultimodalOps.gainVariants(docs, every = 4, gain = 2,
          idOffset = 100000000L))
      .collect().map(f => f.asset_id -> f.fingerprint).toMap
    assert(vars.size === 24)
    // the re-master's bytes genuinely differ from the base's...
    val baseBytes = MultimodalOps.syntheticWavAssets(
      Seq(4L).toDF("doc_id")).head().bytes
    val varBytes = MultimodalOps.gainVariants(
      Seq(4L).toDF("doc_id"), every = 1, gain = 2, idOffset = 0L).head().bytes
    assert(!java.util.Arrays.equals(baseBytes, varBytes))
    // ...but every variant fingerprint equals its base's exactly
    vars.foreach { case (vid, fp) =>
      assert(fp === base(vid - 100000000L), s"variant $vid")
    }
    // waveforms with different periods diverge (doc 1 vs doc 2)
    assert(base(1L) !== base(2L))
    // sanity: fingerprints are non-trivial (some negative samples exist)
    assert(base.values.count(_ != 0L) > 90)
  }

  test("cross-modal prune: every modality contributes drops, keeps are " +
       "component minima, the conjunction is exact (r20, X-C20)") {
    import spark.implicits._
    val rows = SparkEntry.queries("cur_multimodal_prune")(
        spark, "/root/testdata/sf0.001")
      .as[(Long, Boolean, Boolean, Boolean, Boolean)].collect()
    assert(rows.length === 500, "one decision row per document")
    // no modality's gate is degenerate on the standard fixture: each
    // drops at least one doc and keeps at least one
    for ((name, idx) <- Seq(("image", 1), ("audio", 2), ("text", 3))) {
      val col = rows.map(r => idx match {
        case 1 => r._2; case 2 => r._3; case _ => r._4 })
      assert(col.exists(_ == true) && col.exists(_ == false),
        s"$name gate must be non-degenerate")
    }
    rows.foreach { case (id, ki, ka, kt, keep) =>
      assert(keep === (ki && ka && kt), s"doc $id: keep must be the conjunction")
    }
  }

  test("decodeAudioFeatures fails loudly on undecodable bytes (r20)") {
    import spark.implicits._
    val bad = Seq(RawAsset(1L, "audio/wav", Array[Byte](1, 2, 3, 4))).toDS()
    val e = intercept[org.apache.spark.SparkException] {
      MultimodalOps.decodeAudioFeatures(bad).collect()
    }
    assert(e.getMessage.contains("undecodable") ||
      Option(e.getCause).exists(_.getMessage.contains("undecodable")))
  }

  test("cur_multimodal_prune: a failing pipeline surfaces its own error and cancels the rest") {
    import org.apache.spark.sql.functions.{min, when}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    // a copy of the corpus with one doc id set to -8: its synthesized
    // PNG is 8x16, below the 9-wide dHash grid, so the image pipeline
    // throws while the audio and text pipelines accept the id
    val dir = java.nio.file.Files.createTempDirectory("graft-mm-fail")
    try {
      val docs = Tables.documents(spark, sfDir)
      val first = docs.agg(min(col("doc_id"))).head().getLong(0)
      docs.withColumn("doc_id",
          when(col("doc_id") === first, lit(-8L)).otherwise(col("doc_id")))
        .write.parquet(s"$dir/documents.parquet")
      val e = intercept[Exception](
        SparkEntry.queries("cur_multimodal_prune")(spark, dir.toString))
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(c => Option(c.getMessage).exists(_.contains("below the 9x7"))),
        s"the image pipeline's own error must surface, got: $e")
      assert(!chain.exists(_.isInstanceOf[java.util.concurrent.ExecutionException]))
      eventually(timeout(30.seconds), interval(100.millis)) {
        assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
      }
    } finally graft.sources.TxnLog.deleteRecursively(dir)
  }
}
