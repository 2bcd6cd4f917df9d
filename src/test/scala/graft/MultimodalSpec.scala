package graft

import graft.multimodal.Multimodal

/** Multimodal plumbing tests: binary payload column + metadata, the
  * stubbed mapPartitions feature extractor, frame sampling shape.
  */
class MultimodalSpec extends SparkSpec {

  private def media() = {
    import spark.implicits._
    val df = Seq((1L, "ab"), (2L, "hello world"), (3L, "中文内容测试")).toDF("id", "txt")
    Multimodal.mediaFromText(df, "id", "txt")
  }

  test("mediaFromText: UTF-8 byte sizing and content hash") {
    val m = media().collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    assert(m(1L).getAs[Long]("n_bytes") == 2)
    assert(m(2L).getAs[Long]("n_bytes") == 11)
    assert(m(3L).getAs[Long]("n_bytes") == 18) // 6 CJK chars × 3 bytes
    assert(m(1L).getAs[String]("content_md5") == "187ef4436122d1cc2f40dc2b92f0eba0")
    assert(m(1L).getAs[Array[Byte]]("payload").toSeq == "ab".getBytes("UTF-8").toSeq)
  }

  test("decodeFeatures: deterministic 16-bin byte histogram, L1-normalized") {
    val feats = Multimodal.decodeFeatures(spark, media())
      .collect().map(r => r.getAs[Long]("media_id") -> r.getAs[scala.collection.Seq[Double]]("features").toSeq).toMap
    assert(feats(1L).size == 16)
    assert(math.abs(feats(1L).sum - 1.0) < 1e-12)
    // "ab" = 0x61 0x62 → both in bin 6 → bin6 = 1.0
    assert(feats(1L)(6) == 1.0)
    // determinism: second run identical
    val again = Multimodal.decodeFeatures(spark, media())
      .collect().map(r => r.getAs[Long]("media_id") -> r.getAs[scala.collection.Seq[Double]]("features").toSeq).toMap
    assert(again == feats)
  }

  test("resize: strided byte downsample, exact bytes, null-safe") {
    import spark.implicits._
    val big = Seq((1L, "x" * 256), (2L, "abc"), (3L, "")).toDF("id", "txt")
    val resized = Multimodal.resize(Multimodal.mediaFromText(big, "id", "txt"), 64)
      .collect().map(r => r.getAs[Long]("media_id") ->
        Option(r.getAs[Array[Byte]]("payload_resized")).map(_.toSeq)).toMap
    // 256 bytes at stride 256/64 = 4 → bytes 0,4,8,...,252 → 64 bytes
    assert(resized(1L).get.length == 64)
    assert(resized(1L).get.forall(_ == 'x'.toByte))
    // smaller than target → stride 1 → identity
    assert(resized(2L).get == "abc".getBytes("UTF-8").toSeq)
    // empty payload → empty resized (not null, payload exists)
    assert(resized(3L).get.isEmpty)
  }

  test("resize: byte_stride kernel ≡ the hex-string formulation, byte for byte") {
    import spark.implicits._
    // multi-byte UTF-8 and a stride that doesn't divide the length —
    // the two addressing schemes must still agree on every byte
    val df = Seq((1L, "The quick brown fox jumps over the lazy dog " * 8),
        (2L, "中文内容测试 interleaved ascii 测试"), (3L, "tiny"))
      .toDF("id", "txt")
    val media = Multimodal.mediaFromText(df, "id", "txt")
    val rows = Multimodal.resize(media, 64)
      .withColumn("hex_form", org.apache.spark.sql.functions.expr(
        """unhex(concat_ws('', transform(
             filter(sequence(0, greatest(cast(n_bytes AS int) - 1, 0),
                             greatest(1, cast(n_bytes AS int) div 64)),
                    i -> i < n_bytes),
             i -> substring(hex(payload), i * 2 + 1, 2))))"""))
      .collect()
    rows.foreach { r =>
      assert(r.getAs[Array[Byte]]("payload_resized").toSeq ==
        r.getAs[Array[Byte]]("hex_form").toSeq, s"media ${r.getAs[Long]("media_id")}")
    }
  }

  test("payload column is pruned when a query doesn't touch it") {
    val dir = SparkSpec.tmpDir("graft_mm").toString + "/media"
    media().write.parquet(dir)
    val q = spark.read.parquet(dir).select("media_id", "n_bytes")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema"))
    assert(!scan.contains("payload"), "binary payload must not be read for a metadata query")
    assert(q.count() == 3)
  }

  test("sampleFrames: every-k-th fixed-size byte window with frame numbers") {
    val frames = Multimodal.sampleFrames(media().where("media_id = 2"), frameBytes = 4, everyK = 2)
      .collect()
    assert(frames.nonEmpty)
    val frameNos = frames.map(_.getAs[Int]("frame_no")).toSeq
    assert(frameNos == frameNos.sorted)
    frames.foreach(r => assert(r.getAs[Array[Byte]]("frame_bytes").length <= 4))
  }

  test("mm_patchify: patch digests equal a hand-gathered 16-wide byte grid") {
    val sf = "/root/testdata/sf0.001"
    val doc = Tables.documents(spark, sf).where("doc_id = 0")
      .select("text").collect().head.getString(0)
    val bytes = doc.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    assume(bytes.length >= 64)
    def md5Hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map(x => f"$x%02x").mkString
    val expected = (for {
      py <- 0 until math.min(bytes.length / 64, 8)
      px <- 0 until 4
    } yield {
      val patch = (0 until 4).flatMap(r =>
        bytes.slice((py * 4 + r) * 16 + px * 4, (py * 4 + r) * 16 + px * 4 + 4)).toArray
      (py.toLong, px.toLong) ->
        md5Hex(java.util.Base64.getEncoder.encodeToString(patch).getBytes)
    }).toMap
    val got = Registry.byName("mm_patchify").run(spark, sf)
      .where("doc_id = 0").collect()
      .map(r => (r.getAs[Long]("py"), r.getAs[Long]("px")) -> r.getAs[String]("patch_md5"))
      .toMap
    assert(got == expected)
  }

  test("mm_ahash_neardup: banding finds exactly the brute-force Hamming ≤ 3 pairs") {
    val sf = "/root/testdata/sf0.001"
    val banded = Registry.byName("mm_ahash_neardup").run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force straight off the fingerprint query's own output —
    // the pigeonhole recall argument (Hamming ≤ 3 over 4 bands must
    // share a band) has no approximation to hide behind
    val codes = Registry.byName("mm_ahash").run(spark, sf)
      .selectExpr("doc_id", "ahash_lo", "ahash_hi")
    val brute = codes.as("a").join(codes.as("b"),
        org.apache.spark.sql.functions.expr("a.doc_id < b.doc_id"))
      .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b",
        "cast(bit_count(a.ahash_lo ^ b.ahash_lo) + bit_count(a.ahash_hi ^ b.ahash_hi) AS bigint) AS h")
      .where("h <= 3")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute)
    assert(banded.nonEmpty, "fixture must contain near-dup payloads")
  }

  test("phash: invariant to uniform brightness shift, sensitive to structure") {
    import spark.implicits._
    // bytes in [128, 228]: pixel = b - 128, so +5 on every byte is a
    // uniform +5 pixel shift (no abs() folding)
    val base = Array.tabulate(128)(i => (128 + (i * 7) % 100).toByte)
    val bright = base.map(b => (b + 5).toByte)
    // structured edit: swap two pixels the 8x8 grid actually samples
    val swapped = base.clone()
    val (a, b) = (0 * 16 + 0 * 2, 3 * 16 + 4 * 2)
    swapped(a) = base(b); swapped(b) = base(a)
    val df = Seq((0L, base), (1L, bright), (2L, swapped))
      .toDF("doc_id", "payload")
    val got = multimodal.Multimodal.phash(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val (pixB, loB, hiB, onesB) = got(0L)
    val (pixL, loL, hiL, onesL) = got(1L)
    // uniform shift: every AC basis row sums to exactly zero in the
    // integer table, so all 63 coefficients — and the code — are unchanged
    assert(pixL == pixB + 64L * 5L, "sampled pixels must shift by exactly +5 each")
    assert((loL, hiL, onesL) == (loB, hiB, onesB),
      s"brightness shift flipped bits: ($loB,$hiB) -> ($loL,$hiL)")
    // structure moved: the code must move too
    val (_, loS, hiS, _) = got(2L)
    assert((loS, hiS) != (loB, hiB), "pixel swap left the fingerprint unchanged")
  }

  test("mm_dhash: every bit equals a byte-level gradient recompute on the raw UTF-8") {
    val sf = "/root/testdata/sf0.001"
    val out = Registry.byName("mm_dhash").run(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.nonEmpty)
    val texts = Tables.documents(spark, sf).selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    var nonTrivial = 0
    out.foreach { case (id, (lo, hi, ones)) =>
      val b = texts(id).getBytes("UTF-8")
      assert(b.length >= 128, s"$id: filter must have dropped short payloads")
      def px(k: Int): Long = math.abs((b((k / 8) * 16 + (k % 8)) & 0xff) - 128).toLong
      var eLo = 0L; var eHi = 0L; var eOnes = 0L
      (0 until 64).foreach { k =>
        if (px(k) > math.abs((b((k / 8) * 16 + (k % 8) + 1) & 0xff) - 128).toLong) {
          eOnes += 1L
          if (k < 32) eLo |= 1L << k else eHi |= 1L << (k - 32)
        }
      }
      assert((lo, hi, ones) == (eLo, eHi, eOnes), s"doc $id: dhash mismatch")
      if (ones > 0L && ones < 64L) nonTrivial += 1
    }
    assert(nonTrivial > out.size / 2, "fixture too uniform to pin the gradient rule")
  }

  test("mm_audio_vad: segments equal a consecutive-run scan of the voiced frames") {
    val sf = "/root/testdata/sf0.001"
    val frames = Registry.byName("mm_audio_energy").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getBoolean(4)))
    val segs = Registry.byName("mm_audio_vad").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(s => (s._1, s._2))
    assert(segs.nonEmpty, "threshold produced zero segments — gate degenerate again")
    val expected = frames.groupBy(_._1).toSeq.flatMap { case (doc, fs) =>
      val runs = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long, Long, Long, Long)]
      var start = -1L; var prev = -1L; var n = 0L; var e = 0L
      fs.sortBy(_._2).foreach { case (_, fn, energy, voiced) =>
        if (voiced) {
          if (start < 0 || fn != prev + 1) {
            if (start >= 0) runs += ((doc, start, prev, n, e, e / n))
            start = fn; n = 0L; e = 0L
          }
          prev = fn; n += 1L; e += energy
        }
      }
      if (start >= 0) runs += ((doc, start, prev, n, e, e / n))
      runs.toSeq
    }.sortBy(s => (s._1, s._2))
    assert(segs.toSeq == expected, "segment set mismatch vs consecutive-run replay")
    // the fixture must contain a multi-frame segment AND a doc with > 1
    // segment, or the island arithmetic is untested
    assert(segs.exists(_._4 > 1L), "no multi-frame segment")
    assert(segs.groupBy(_._1).exists(_._2.length > 1), "no doc with multiple segments")
  }
  test("mm_audio_zcr: crossings replay per frame and all three classes fire") {
    val sf = "/root/testdata/sf0.001"
    val rows = Registry.byName("mm_audio_zcr").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).getBytes("UTF-8")))
    rows.foreach { case (id, fno, flen, energy, zcr, cls) =>
      val bytes = docs.find(_._1 == id).get._2
      val off = (fno * 80).toInt
      val end = math.min(bytes.length, off + 160)
      assert(flen == math.min(160, bytes.length - off).toLong, s"doc $id frame $fno: len")
      var e = 0L; var z = 0L
      (off until end).foreach { i =>
        e += math.abs((bytes(i) & 0xff) - 128)
        if (i + 1 < end && ((bytes(i) & 0xff) - 64) * ((bytes(i + 1) & 0xff) - 64) < 0) z += 1
      }
      assert(energy == e && zcr == z, s"doc $id frame $fno: energy/zcr")
      val want =
        if (energy < flen * 30) "silence"
        else if (zcr * 8 >= flen * 3) "unvoiced"
        else "voiced"
      assert(cls == want, s"doc $id frame $fno: class")
    }
    assert(rows.map(_._6).distinct.sorted.toSeq == Seq("silence", "unvoiced", "voiced"),
      "all three classes must fire on the fixture")
  }

}
