package graft.multimodal

import org.apache.spark.sql.graft.CheckpointOps.FenceSyntax
import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing — images/audio/video as opaque `binary`
  * columns with typed metadata (the training-data-pipeline extension).
  *
  * The decode step itself is a STUB (no media libs in this container):
  * `decodeFeatures` computes a deterministic fake feature vector (byte
  * histogram) so the Spark-side plumbing — schema, batching via
  * mapPartitions, partition-sized work units — is real and tested
  * (MultimodalSpec + the oracle-checked `mm_features` row), and a real
  * decoder drops in by replacing one function.
  *
  * Scale notes: binary payloads ride in their own column so Parquet
  * column pruning skips them unless the query touches them; feature
  * extraction is mapPartitions (per-partition amortization of any model
  * or codec init) — the Scala analog of `mapInPandas` batch UDFs.
  */
object Multimodal {

  /** Typed metadata every media row carries alongside its payload. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("payload", BinaryType),
    StructField("n_bytes", LongType),
    StructField("content_md5", StringType)))

  /** Build a media table from any string column (deterministic fake
    * payloads: the UTF-8 bytes stand in for decoded media bytes).
    */
  def mediaFromText(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit("image").as("kind"),
      encode(col(textCol), "UTF-8").as("payload"),
      octet_length(col(textCol)).cast("long").as("n_bytes"),
      md5(col(textCol)).as("content_md5"))

  /** STUB decoder: a real implementation would decode image/audio bytes
    * here (per-partition codec init amortized by mapPartitions). The
    * deterministic fake is a 16-bin byte histogram, L1-normalized —
    * shaped exactly like a per-frame feature vector.
    */
  def decodeFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    val outSchema = StructType(media.schema.fields.toSeq :+
      StructField("features", ArrayType(DoubleType, containsNull = false)))
    val rdd = media.rdd.mapPartitions { rows =>
      // real decoder init (e.g. codec, model session) would happen once
      // per partition here
      rows.map { row =>
        val payload = row.getAs[Array[Byte]]("payload")
        val hist = new Array[Long](16)
        if (payload != null) payload.foreach(b => hist((b & 0xFF) >> 4) += 1)
        val total = math.max(hist.sum, 1L).toDouble
        Row.fromSeq(row.toSeq :+ hist.map(_ / total).toSeq)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Frame sampling stub: every k-th byte window stands in for every
    * k-th video frame — the partitioning/explode shape is the real part.
    * Offsets explode FIRST (cheap ints), then one binary `substring`
    * per frame in the projection — Spark's substring on BinaryType is a
    * byte-exact `Arrays.copyOfRange`, fully codegen'd; slicing inside
    * the transform lambda would interpret per element instead.
    */
  def sampleFrames(media: DataFrame, frameBytes: Int, everyK: Int): DataFrame = {
    val step = frameBytes * everyK
    media.selectExpr(
        "media_id", "payload",
        s"""explode(filter(sequence(0, greatest(cast(n_bytes AS int) - 1, 0), $step),
                           i -> i < n_bytes)) AS off""")
      .selectExpr(
        "media_id",
        s"cast(off div $step AS int) AS frame_no",
        s"substring(payload, off + 1, $frameBytes) AS frame_bytes")
  }

  /** Resize stub: strided byte selection down to ~targetBytes — the
    * deterministic stand-in for image resize (a real implementation
    * replaces the stride select with a decoder + scaler inside the same
    * column-to-column contract). Adds `payload_resized`; the original
    * payload column is untouched so parquet pruning still skips it for
    * metadata-only readers.
    *
    * The selection is the native `byte_stride` kernel
    * (graft.plans.ByteStride) — one generated loop over the raw bytes.
    * The previous formulation addressed bytes through
    * `substring(hex(payload), i*2+1, 2)` inside an interpreted lambda:
    * a 2× string blowup plus per-byte lambda dispatch, per row.
    * MultimodalSpec pins byte-for-byte equality of the two forms.
    * Null payload or null n_bytes propagate to a null result (the
    * kernel is a null-safe BinaryExpression).
    */
  def resize(media: DataFrame, targetBytes: Int): DataFrame = {
    media.withColumn("payload_resized", expr(
      s"byte_stride(payload, greatest(1, cast(n_bytes AS int) div $targetBytes))"))
  }

  def queries: Seq[QueryDef] = Seq(
    // Resize plumbing as an oracle-checked query: every (n/64)-th byte
    // of the payload, content-digested. The Spark side is fully
    // byte-native — `byte_stride` kernel + md5 over base64 of the raw
    // bytes, no hex strings anywhere in the plan. The DuckDB oracle
    // DELIBERATELY keeps the hex-string formulation (DuckDB 1.0 cannot
    // slice BLOBs) and only converts back with unhex at the digest —
    // two genuinely different byte-addressing schemes that must agree
    // byte for byte.
    QueryDef(
      "mm_resize",
      (spark, dir) => {
        Tables.documents(spark, dir)
          .selectExpr("doc_id", "encode(text, 'UTF-8') AS payload",
            "cast(octet_length(text) AS int) AS n")
          .selectExpr(
            "doc_id", "cast(n AS bigint) AS n_bytes",
            "byte_stride(payload, greatest(1, n div 64)) AS rb")
          .selectExpr(
            "doc_id", "n_bytes",
            "cast(octet_length(rb) AS bigint) AS resized_len",
            // translate strips the CRLFs of Spark's MIME-chunked base64
            // (chunked at 76 chars in 4.1.2) → canonical RFC-4648 text,
            // byte-derived on this side, hex-derived on the oracle side
            "md5(translate(base64(rb), '\r\n', '')) AS resized_md5")
      },
      Some("""
        SELECT doc_id, n_bytes::BIGINT AS n_bytes,
               (length(rh) // 2)::BIGINT AS resized_len,
               md5(to_base64(unhex(rh))) AS resized_md5
        FROM (
          SELECT doc_id, n_bytes,
                 array_to_string(list_transform(
                     list_filter(generate_series(0, greatest(n_bytes - 1, 0), s), i -> i < n_bytes),
                     i -> substring(ph, i * 2 + 1, 2)), '') AS rh
          FROM (SELECT doc_id, hex(encode(text)) AS ph,
                       octet_length(encode(text)) AS n_bytes,
                       greatest(1, octet_length(encode(text)) // 64) AS s
                FROM documents))""")),

    // Frame sampling as an oracle-checked query: every 64th byte offset
    // yields a 16-byte window over the binary payload (UTF-8 bytes
    // standing in for decoded media), each frame content-digested.
    // Spark side: explode the offsets (cheap ints), then one byte-exact
    // binary `substring` per frame — codegen'd, no hex. Oracle side:
    // frames addressed through the hex encoding (byte i ↔ hex chars
    // 2i+1..2i+32, DuckDB 1.0 cannot slice BLOBs), unhex'd only at the
    // digest. Byte-exact in both engines.
    QueryDef(
      "mm_frame_sample",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id", "encode(text, 'UTF-8') AS payload",
            "cast(octet_length(text) AS int) AS n_bytes")
          .selectExpr(
            "doc_id", "payload",
            """explode(filter(sequence(0, greatest(n_bytes - 1, 0), 64),
                              i -> i < n_bytes)) AS off""")
          .selectExpr(
            "doc_id",
            "cast(off div 64 AS bigint) AS frame_no",
            "substring(payload, off + 1, 16) AS fb")
          .selectExpr(
            "doc_id", "frame_no",
            "cast(octet_length(fb) AS bigint) AS frame_len",
            // 16-byte frames encode under the 76-char chunk line, but the
            // CRLF strip keeps this robust if the frame size ever grows
            "md5(translate(base64(fb), '\r\n', '')) AS frame_md5"),
      Some("""
        SELECT doc_id, g.frame_no,
               (length(substring(ph, g.frame_no * 128 + 1, 32)) // 2)::BIGINT AS frame_len,
               md5(to_base64(unhex(substring(ph, g.frame_no * 128 + 1, 32)))) AS frame_md5
        FROM (SELECT doc_id, hex(encode(text)) AS ph, octet_length(encode(text)) AS n_bytes
              FROM documents) d,
        LATERAL (SELECT unnest(generate_series(0, (d.n_bytes - 1) // 64)) AS frame_no) g""")),

    // ViT-style patch extraction: the payload's first bytes stand in for
    // a W=16-wide byte image; 4×4 patches tile a band of 4 rows, patches
    // explode on (py, px) grid coordinates — the vision-transformer
    // tokenizer shape. Unlike frame sampling (contiguous windows), a 2-D
    // patch is a NON-CONTIGUOUS gather: 4 binary substrings, one per
    // row, concatenated in the projection — all codegen'd byte ops, no
    // hex in the plan. Grid capped at 8 bands (512 bytes) so per-doc
    // fan-out is bounded. Oracle: the same gather addressed through the
    // hex encoding (byte b ↔ hex chars 2b+1..), unhex'd at the digest.
    QueryDef(
      "mm_patchify",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id", "encode(text, 'UTF-8') AS payload",
            "cast(octet_length(text) AS int) AS n_bytes")
          .where("n_bytes >= 64") // at least one full 4-row patch band
          .selectExpr("doc_id", "payload",
            "explode(sequence(0, least(n_bytes div 64, 8) - 1, 1)) AS py")
          .selectExpr("doc_id", "payload", "py", "explode(sequence(0, 3, 1)) AS px")
          .selectExpr("doc_id", "cast(py AS bigint) AS py", "cast(px AS bigint) AS px",
            (0 until 4).map(r => s"substring(payload, (py * 4 + $r) * 16 + px * 4 + 1, 4)")
              .mkString("concat(", ", ", ") AS pb"))
          .selectExpr("doc_id", "py", "px",
            "md5(translate(base64(pb), '\r\n', '')) AS patch_md5"),
      Some("""
        SELECT doc_id, py::BIGINT AS py, px::BIGINT AS px,
               md5(to_base64(unhex(
                 substring(ph, ((py*4 + 0)*16 + px*4)*2 + 1, 8) ||
                 substring(ph, ((py*4 + 1)*16 + px*4)*2 + 1, 8) ||
                 substring(ph, ((py*4 + 2)*16 + px*4)*2 + 1, 8) ||
                 substring(ph, ((py*4 + 3)*16 + px*4)*2 + 1, 8)))) AS patch_md5
        FROM (SELECT doc_id, hex(encode(text)) AS ph, octet_length(encode(text)) AS n
              FROM documents) d,
        LATERAL (SELECT unnest(generate_series(0, least(d.n // 64, 8) - 1)) AS py) g,
        LATERAL (SELECT unnest(generate_series(0, 3)) AS px) x
        WHERE d.n >= 64""")),

    // Oracle-checkable slice of the plumbing: payload sizing + content
    // hashing over the binary column (md5 here IS over the raw bytes).
    QueryDef(
      "mm_binary_meta",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr(
            "doc_id",
            "'image' AS kind",
            "cast(octet_length(text) AS bigint) AS n_bytes",
            "md5(text) AS content_md5",
            "cast(length(text) AS bigint) AS n_chars"),
      Some("""
        SELECT doc_id, 'image' AS kind,
               octet_length(encode(text))::BIGINT AS n_bytes,
               md5(text) AS content_md5,
               length(text)::BIGINT AS n_chars
        FROM documents""")),

    // -------------------------------------- PCM frame energy / VAD gate
    // The audio half of the multimodal family: treat the payload as
    // unsigned-8-bit PCM centered at 128 and compute per-frame energy
    // over sliding windows (160 samples, 50% overlap — the classic
    // 20 ms/10 ms speech framing), plus a voice-activity-style flag.
    // Energy is the native codegen'd `byte_energy` kernel — one fused
    // loop over the raw bytes inside WholeStageCodegen; the DuckDB
    // oracle recomputes it per-byte from the hex image (two addressing
    // schemes agreeing integer-for-integer, the same discipline as
    // mm_resize). Integer energies ⇒ hash-exact across engines.
    //
    // Scale shape: frame fan-out is a row-local explode (no shuffle at
    // all — the whole query is scan → generate → project), and payload
    // bytes are read once per frame window from the already-loaded
    // binary column.
    QueryDef(
      "mm_audio_energy",
      (spark, dir) => audioFrames(spark, dir),
      Some("""
        SELECT doc_id, frame_no, frame_len,
               list_sum(list_transform(generate_series(1, frame_len::INT),
                 i -> abs(('0x' || substr(ph, (off + i - 1) * 2 + 1, 2))::INT - 128)))::BIGINT AS energy,
               (list_sum(list_transform(generate_series(1, frame_len::INT),
                 i -> abs(('0x' || substr(ph, (off + i - 1) * 2 + 1, 2))::INT - 128)))::BIGINT
                >= frame_len * 34) AS voiced
        FROM (
          SELECT doc_id, ph, g.frame_no * 80 AS off,
                 g.frame_no::BIGINT AS frame_no,
                 least(160, n_bytes - g.frame_no * 80)::BIGINT AS frame_len
          FROM (SELECT doc_id, hex(encode(text)) AS ph, octet_length(encode(text)) AS n_bytes
                FROM documents) d,
          LATERAL (SELECT unnest(generate_series(0, greatest(d.n_bytes - 1, 0) // 80)) AS frame_no) g
          WHERE g.frame_no * 80 < d.n_bytes)""")),

    // -------------------------------------- scene-cut / shot detection
    // The video-side change detector built ON the frame-energy
    // primitive: per-frame mean sample energy (integer per-mille —
    // length-normalized so truncated tail frames don't false-fire), a
    // one-frame lag delta per document, and a cut wherever the delta
    // jumps past the threshold. Emits only the cut rows. The window is
    // doc-partitioned (bounded state, no global sort); energies stay
    // BIGINT end to end so the gate hash is exact.
    QueryDef(
      "mm_scenecut",
      (spark, dir) => {
        Tables.documents(spark, dir)
          .selectExpr("doc_id", "encode(text, 'UTF-8') AS payload",
            "cast(octet_length(text) AS int) AS n_bytes")
          .selectExpr("doc_id", "payload", "n_bytes",
            """explode(filter(sequence(0, greatest(n_bytes - 1, 0), 80),
                              i -> i < n_bytes)) AS off""")
          .selectExpr("doc_id",
            "cast(off div 80 AS bigint) AS frame_no",
            "byte_energy(payload, off, 160) * 1000 div least(160, n_bytes - off) AS epm")
          .selectExpr("doc_id", "frame_no", "epm",
            """lag(epm) OVER (PARTITION BY doc_id ORDER BY frame_no) AS prev_epm""")
          .where(s"prev_epm IS NOT NULL AND abs(epm - prev_epm) > $CutThreshold")
          .selectExpr("doc_id", "frame_no", "epm", "prev_epm",
            "abs(epm - prev_epm) AS delta")
      },
      Some(s"""
        WITH frames AS (
          SELECT doc_id, frame_no,
                 list_sum(list_transform(generate_series(1, frame_len::INT),
                   i -> abs(('0x' || substr(ph, (off + i - 1) * 2 + 1, 2))::INT - 128)))::BIGINT
                   * 1000 // frame_len AS epm
          FROM (
            SELECT doc_id, ph, g.frame_no * 80 AS off,
                   g.frame_no::BIGINT AS frame_no,
                   least(160, n_bytes - g.frame_no * 80)::BIGINT AS frame_len
            FROM (SELECT doc_id, hex(encode(text)) AS ph, octet_length(encode(text)) AS n_bytes
                  FROM documents) d,
            LATERAL (SELECT unnest(generate_series(0, greatest(d.n_bytes - 1, 0) // 80)) AS frame_no) g
            WHERE g.frame_no * 80 < d.n_bytes)),
        lagged AS (
          SELECT doc_id, frame_no, epm,
                 lag(epm) OVER (PARTITION BY doc_id ORDER BY frame_no) AS prev_epm
          FROM frames)
        SELECT doc_id, frame_no, epm, prev_epm, abs(epm - prev_epm) AS delta
        FROM lagged
        WHERE prev_epm IS NOT NULL AND abs(epm - prev_epm) > $CutThreshold""")),

    // ---------------------- perceptual fingerprint (average hash)
    // The aHash construction over the 16-wide byte image: an 8×8 block
    // grid covers the first 128 bytes (each block = 2 adjacent bytes of
    // one row), each block's magnitude comes from the native
    // codegen'd byte_energy kernel, and bit k is set when block k's
    // energy exceeds the image mean (e_k·64 > Σe, all-integer — the
    // strict inequality is the deterministic tie rule). This is the
    // image near-dup primitive: visually similar payloads land within
    // small Hamming distance, and the 64-bit code is the join/bucket
    // key a 100 TB image dedup shards on. The fingerprint is emitted as
    // two 32-bit halves — summing a set bit 63 would wrap in Spark's
    // int64 but promote to HUGEINT in DuckDB's sum(), so the sign bit
    // never enters an accumulator.
    // Scale shape: the 64-block fan-out is row-local (explode → partial
    // agg back to one row per doc); no shuffle beyond the per-doc
    // re-aggregation, kernel runs inside the scan's codegen span.
    QueryDef(
      "mm_ahash",
      (spark, dir) => {
        Tables.documents(spark, dir)
          .selectExpr("doc_id", "encode(text, 'UTF-8') AS payload",
            "cast(octet_length(text) AS int) AS n_bytes")
          .where("n_bytes >= 128")
          .selectExpr("doc_id", "payload", "explode(sequence(0, 63, 1)) AS k")
          .selectExpr("doc_id", "k",
            "byte_energy(payload, (k div 8) * 16 + (k % 8) * 2, 2) AS e")
          .groupBy("doc_id")
          .agg(
            expr("cast(sum(e) AS bigint) AS total_energy"),
            // 64 fixed-size structs per doc — a bounded buffer, not a
            // corpus-sized collect_list
            expr("collect_list(named_struct('k', k, 'e', e)) AS blocks"))
          .selectExpr("doc_id", "total_energy",
            """aggregate(filter(blocks, x -> x.k < 32 AND x.e * 64 > total_energy),
                         0L, (acc, x) -> acc + shiftleft(1L, x.k)) AS ahash_lo""",
            """aggregate(filter(blocks, x -> x.k >= 32 AND x.e * 64 > total_energy),
                         0L, (acc, x) -> acc + shiftleft(1L, x.k - 32)) AS ahash_hi""",
            "cast(size(filter(blocks, x -> x.e * 64 > total_energy)) AS bigint) AS n_ones")
      },
      Some("""
        WITH img AS (
          SELECT doc_id, hex(encode(text)) AS ph
          FROM documents WHERE octet_length(encode(text)) >= 128),
        blocks AS (
          SELECT doc_id, g.k,
                 (abs(('0x' || substr(ph, ((g.k // 8) * 16 + (g.k % 8) * 2) * 2 + 1, 2))::INT - 128)
                  + abs(('0x' || substr(ph, ((g.k // 8) * 16 + (g.k % 8) * 2 + 1) * 2 + 1, 2))::INT - 128))::BIGINT AS e
          FROM img, (SELECT unnest(generate_series(0, 63)) AS k) g),
        tot AS (SELECT doc_id, sum(e)::BIGINT AS total_energy FROM blocks GROUP BY doc_id)
        SELECT b.doc_id, any_value(total_energy) AS total_energy,
               sum(CASE WHEN k < 32 AND e * 64 > total_energy THEN (1::BIGINT << k) ELSE 0 END)::BIGINT AS ahash_lo,
               sum(CASE WHEN k >= 32 AND e * 64 > total_energy THEN (1::BIGINT << (k - 32)) ELSE 0 END)::BIGINT AS ahash_hi,
               sum(CASE WHEN e * 64 > total_energy THEN 1 ELSE 0 END)::BIGINT AS n_ones
        FROM blocks b JOIN tot USING (doc_id)
        GROUP BY b.doc_id""")),

    // ----------------- image near-dup pairs (aHash banding + verify)
    // The dedup half the mm_ahash fingerprint exists for: find all
    // image pairs within Hamming ≤ 3 of each other WITHOUT an
    // all-pairs comparison. The 64-bit code splits into four 16-bit
    // bands; by pigeonhole any pair at Hamming ≤ 3 agrees on at least
    // one whole band, so the candidate set is an equi-join on
    // (band_id, band_value) buckets — the same banding discipline as
    // dd_simhash, applied to the image modality. Candidates then
    // verify exactly with bit_count over the XORed halves, so the
    // emitted pair set is EXACT at the ≤ 3 threshold and the oracle
    // can be the honest all-pairs scan. Scale shape: codes are
    // row-local, the bucket join's pair space is bounded by band
    // collisions (16-bit bands keep buckets thin), verification is
    // per-candidate O(1) integer ops.
    QueryDef(
      "mm_ahash_neardup",
      (spark, dir) => {
        // Skew discipline (the r10 sf3 profile): text/image-derived
        // perceptual hashes are STRUCTURED, so a few 16-bit band
        // values hold a constant FRACTION of the corpus and the naive
        // bucket join went superlinear (202M candidates for 1.06M
        // true pairs at sf3 = 190× waste, 12× wall for 3× rows). Two
        // fixes, both exactness-preserving:
        //   1. verify INLINE at the band join — each band row carries
        //      its full 64-bit code, so the Hamming filter runs in the
        //      join's codegen and only VERIFIED pairs reach the
        //      distinct (the old shape shuffled every duplicate
        //      candidate through a corpus-pair-sized distinct and two
        //      code joins);
        //   2. hierarchical refinement — buckets larger than [[AhashHotCap]]
        //      re-band their members' REMAINING 48 bits into 4×12-bit
        //      sub-bands: a Hamming ≤ 3 pair agreeing on the hot band
        //      has ≤ 3 differing bits among those 48, so by the same
        //      pigeonhole it agrees on a whole sub-band — candidates
        //      in hot buckets shrink by the sub-band split (3.6× at
        //      sf3), with only the genuinely-identical-prefix groups
        //      (whose pairs are real output) left quadratic.
        val codes = ahashCodes(spark, dir)
        val bands = codes.selectExpr("doc_id", "ahash_lo AS lo", "ahash_hi AS hi",
          """explode(array(
               named_struct('band', 0, 'v', ahash_lo % 65536),
               named_struct('band', 1, 'v', ahash_lo div 65536),
               named_struct('band', 2, 'v', ahash_hi % 65536),
               named_struct('band', 3, 'v', ahash_hi div 65536))) AS b""")
          .selectExpr("doc_id", "lo", "hi", "b.band AS band", "b.v AS v",
            // the other three bands' values packed into one 48-bit key,
            // the refinement domain for hot buckets
            """CASE b.band
                 WHEN 0 THEN (lo div 65536) + (hi % 65536) * 65536L + (hi div 65536) * 4294967296L
                 WHEN 1 THEN (lo % 65536) + (hi % 65536) * 65536L + (hi div 65536) * 4294967296L
                 WHEN 2 THEN (lo % 65536) + (lo div 65536) * 65536L + (hi div 65536) * 4294967296L
                 ELSE (lo % 65536) + (lo div 65536) * 65536L + (hi % 65536) * 4294967296L
               END AS rest""")
          // feeds the bucket-size counter and both sides of both joins
          .fenced
        val sizes = bands.groupBy("band", "v")
          .agg(expr("count(*) AS bc"))
        def verified(cand: DataFrame) = cand
          .selectExpr("doc_a", "doc_b",
            "cast(bit_count(la ^ lb) + bit_count(ha ^ hb) AS bigint) AS hamming")
          .where("hamming <= 3")
        val cold = bands.join(sizes.where(s"bc <= $AhashHotCap"), Seq("band", "v"))
          .select("doc_id", "lo", "hi", "band", "v")
        val coldPairs = verified(
          cold.selectExpr("doc_id AS doc_a", "lo AS la", "hi AS ha", "band", "v")
            .join(cold.selectExpr("doc_id AS doc_b", "lo AS lb", "hi AS hb", "band", "v"),
              Seq("band", "v"))
            .where("doc_a < doc_b"))
        val hot = bands.join(sizes.where(s"bc > $AhashHotCap"), Seq("band", "v"))
          .selectExpr("doc_id", "lo", "hi", "band", "v",
            "explode(sequence(0, 3, 1)) AS sb", "rest")
          .selectExpr("doc_id", "lo", "hi", "band", "v", "sb",
            "(rest div shiftleft(1L, sb * 12)) % 4096 AS sv")
        val hotPairs = verified(
          hot.selectExpr("doc_id AS doc_a", "lo AS la", "hi AS ha", "band", "v", "sb", "sv")
            .join(hot.selectExpr("doc_id AS doc_b", "lo AS lb", "hi AS hb", "band", "v", "sb", "sv"),
              Seq("band", "v", "sb", "sv"))
            .where("doc_a < doc_b"))
        coldPairs.unionByName(hotPairs)
          .distinct() // a pair can collide in several (sub-)bands
      },
      Some("""
        WITH img AS (
          SELECT doc_id, hex(encode(text)) AS ph
          FROM documents WHERE octet_length(encode(text)) >= 128),
        blocks AS (
          SELECT doc_id, g.k,
                 (abs(('0x' || substr(ph, ((g.k // 8) * 16 + (g.k % 8) * 2) * 2 + 1, 2))::INT - 128)
                  + abs(('0x' || substr(ph, ((g.k // 8) * 16 + (g.k % 8) * 2 + 1) * 2 + 1, 2))::INT - 128))::BIGINT AS e
          FROM img, (SELECT unnest(generate_series(0, 63)) AS k) g),
        tot AS (SELECT doc_id, sum(e)::BIGINT AS total_energy FROM blocks GROUP BY doc_id),
        codes AS (
          SELECT b.doc_id,
                 sum(CASE WHEN k < 32 AND e * 64 > total_energy THEN (1::BIGINT << k) ELSE 0 END)::BIGINT AS lo,
                 sum(CASE WHEN k >= 32 AND e * 64 > total_energy THEN (1::BIGINT << (k - 32)) ELSE 0 END)::BIGINT AS hi
          FROM blocks b JOIN tot USING (doc_id)
          GROUP BY b.doc_id)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               (bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)))::BIGINT AS hamming
        FROM codes a JOIN codes b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3""")),

    // --------------- cross-modal alignment filter (LAION-style gate)
    // The curation rule web-scale image-text corpora are BUILT with:
    // keep a (caption, image) pair only when the two modalities'
    // embeddings agree — cosine(text_emb, image_emb) ≥ θ (LAION ran
    // CLIP at θ = 0.28; here θ = 0.1 splits the synthetic pairing
    // meaningfully). Pairing is the deterministic stand-in the
    // multimodal lane uses throughout: even vec_ids play the caption
    // tower, odd the image tower, pair_id = vec_id div 2 — the
    // embedding-side plumbing (pair join, native codegen'd cosine,
    // threshold gate) is the real operator and a real CLIP head drops
    // in by replacing the fixture. Scale shape: ONE self-equi-join on
    // pair_id (both sides hash-partition on it; no broadcast of
    // corpus data), cosine inside codegen via `cosine_f`, verdict in
    // the scan — output pair-sized.
    QueryDef(
      "mm_clip_filter",
      (spark, dir) => {
        val e = Tables.embeddings(spark, dir)
        val txt = e.where("vec_id % 2 = 0")
          .selectExpr("vec_id div 2 AS pair_id", "embedding AS t_emb",
            "label AS t_label")
        val img = e.where("vec_id % 2 = 1")
          .selectExpr("vec_id div 2 AS pair_id", "embedding AS i_emb",
            "label AS i_label")
        txt.join(img, "pair_id")
          .selectExpr("pair_id",
            "round(cosine_f(t_emb, i_emb), 6) AS sim6",
            "t_label = i_label AS label_match")
          .selectExpr("pair_id", "sim6", "label_match", "sim6 >= 0.1D AS kept")
      },
      Some(s"""
        WITH t AS (SELECT vec_id // 2 AS pair_id, embedding AS t_emb, label AS t_label
                   FROM embeddings WHERE vec_id % 2 = 0),
        i AS (SELECT vec_id // 2 AS pair_id, embedding AS i_emb, label AS i_label
              FROM embeddings WHERE vec_id % 2 = 1),
        p AS (SELECT t.pair_id AS pair_id,
                     round(${graft.operators.Knn.dCos("t_emb", "i_emb")}, 6) AS sim6,
                     (t_label = i_label) AS label_match
              FROM t JOIN i ON t.pair_id = i.pair_id)
        SELECT pair_id, sim6, label_match, (sim6 >= 0.1) AS kept FROM p""")),

    // ---------------- perceptual fingerprint, frequency domain (pHash)
    // mm_ahash thresholds raw block energies, so uniform brightness or
    // contrast shifts flip bits; pHash thresholds DCT COEFFICIENTS
    // against their own median, which survives those global transforms
    // — the standard second fingerprint an image-dedup stack runs when
    // aHash buckets look too coarse. Construction over the 16-wide
    // byte image: the 8×8 pixel grid (every other column of the first
    // 8 rows, |b−128| via the codegen'd byte_energy kernel), then an
    // EXACT INTEGER 2-D DCT-II — the cosine basis is embedded as one
    // table of millionths (the same 64 literals in both engines, so
    // cross-engine equality is by construction; max |term| =
    // 255·10¹²·64 ≈ 1.6e16, well inside int64), bit k set when
    // coefficient k exceeds the MEDIAN of the 63 AC coefficients
    // (rank-32 of a sorted 63-list — exact, no float mean; DC is
    // excluded per the standard construction, bit 0 stays unused).
    // Emitted as two halves like mm_ahash (sign-bit discipline).
    // Scale shape: entirely row-local — pixels, 63 coefficients,
    // median and bits are higher-order-function folds inside the
    // scan's codegen span; zero shuffles, output one row per doc.
    QueryDef(
      "mm_phash",
      (spark, dir) => {
        phash(Tables.documents(spark, dir)
          .selectExpr("doc_id", "encode(text, 'UTF-8') AS payload",
            "cast(octet_length(text) AS int) AS n_bytes")
          .where("n_bytes >= 128"))
      },
      Some(s"""
        WITH img AS (
          SELECT doc_id, hex(encode(text)) AS ph
          FROM documents WHERE octet_length(encode(text)) >= 128),
        pix AS (
          SELECT doc_id,
                 list_transform(generate_series(0, 63),
                   i -> abs(('0x' || substr(ph, ((i // 8) * 16 + (i % 8) * 2) * 2 + 1, 2))::INT - 128)::BIGINT) AS p
          FROM img),
        dct AS (
          SELECT doc_id, p,
                 list_transform(generate_series(1, 63), k ->
                   list_sum(list_transform(generate_series(0, 63), i ->
                     p[i + 1] * ($DctCSql)[(k // 8) * 8 + (i // 8) + 1]
                              * ($DctCSql)[(k % 8) * 8 + (i % 8) + 1]))::BIGINT) AS f
          FROM pix),
        med AS (
          SELECT doc_id, p, f, list_sort(f)[32] AS m FROM dct)
        SELECT doc_id,
               list_sum(p)::BIGINT AS pix_total, m AS median_coef,
               list_sum(list_transform(generate_series(1, 31),
                 k -> CASE WHEN f[k] > m THEN (1::BIGINT << k) ELSE 0 END))::BIGINT AS phash_lo,
               list_sum(list_transform(generate_series(32, 63),
                 k -> CASE WHEN f[k] > m THEN (1::BIGINT << (k - 32)) ELSE 0 END))::BIGINT AS phash_hi,
               list_sum(list_transform(generate_series(1, 63),
                 k -> CASE WHEN f[k] > m THEN 1 ELSE 0 END))::BIGINT AS n_ones
        FROM med""")),

    // ------------------ perceptual fingerprint (difference hash)
    // dHash completes the standard perceptual trio (aHash = global
    // mean, pHash = frequency domain, dHash = local GRADIENT): bit
    // r·8+c set when pixel (r,c) outshines its right neighbor (r,c+1)
    // on a 9-wide × 8-tall single-byte pixel grid over the image's
    // first 128 bytes. Gradients survive global brightness and
    // contrast shifts that move every aHash bit at once, which is why
    // production image dedup banks all three codes, not one. Strict
    // inequality is the deterministic tie rule (equal neighbors → 0),
    // and the code is emitted as two 32-bit halves for the same
    // sum-accumulator reason as mm_ahash. Scale shape: entirely
    // row-local — each bit is two byte_energy kernel probes folded
    // inside the scan's codegen span; zero shuffles, one row per doc.
    QueryDef(
      "mm_dhash",
      (spark, dir) => {
        def half(lo: Int): String =
          s"""aggregate(sequence($lo, ${lo + 31}), 0L, (acc, k) ->
                acc + CASE WHEN byte_energy(payload, (k div 8) * 16 + (k % 8), 1)
                              > byte_energy(payload, (k div 8) * 16 + (k % 8) + 1, 1)
                           THEN shiftleft(1L, k - $lo) ELSE 0L END)"""
        Tables.documents(spark, dir)
          .selectExpr("doc_id", "encode(text, 'UTF-8') AS payload",
            "cast(octet_length(text) AS int) AS n_bytes")
          .where("n_bytes >= 128")
          .selectExpr("doc_id",
            s"${half(0)} AS dhash_lo",
            s"${half(32)} AS dhash_hi",
            """aggregate(sequence(0, 63), 0L, (acc, k) ->
                 acc + CASE WHEN byte_energy(payload, (k div 8) * 16 + (k % 8), 1)
                               > byte_energy(payload, (k div 8) * 16 + (k % 8) + 1, 1)
                            THEN 1L ELSE 0L END) AS n_ones""")
      },
      Some("""
        WITH img AS (
          SELECT doc_id, hex(encode(text)) AS ph
          FROM documents WHERE octet_length(encode(text)) >= 128),
        px AS (
          SELECT doc_id,
                 list_transform(generate_series(0, 63), k ->
                   CASE WHEN abs(('0x' || substr(ph, ((k // 8) * 16 + (k % 8)) * 2 + 1, 2))::INT - 128)
                           > abs(('0x' || substr(ph, ((k // 8) * 16 + (k % 8) + 1) * 2 + 1, 2))::INT - 128)
                        THEN 1::BIGINT ELSE 0::BIGINT END) AS b
          FROM img)
        SELECT doc_id,
               list_sum(list_transform(generate_series(1, 32),
                 k -> b[k] * (1::BIGINT << (k - 1))))::BIGINT AS dhash_lo,
               list_sum(list_transform(generate_series(33, 64),
                 k -> b[k] * (1::BIGINT << (k - 33))))::BIGINT AS dhash_hi,
               list_sum(b)::BIGINT AS n_ones
        FROM px""")),

    // ------------------- voice-activity segments (energy-gated VAD)
    // The segmentation half of the audio pipeline: consecutive VOICED
    // frames (the mm_audio_energy gate — shared audioFrames kernel, so
    // the voicing rule cannot diverge between the two queries) merge
    // into utterance segments via the classic island trick
    // (frame_no − row_number() is constant exactly on a consecutive
    // run). Emits per segment: frame span, length, exact energy mass,
    // and the integer-mean level — what an ASR pre-processor cuts
    // audio on before transcription. Scale shape: frames are row-local
    // explodes off the scan; the island window and the segment
    // aggregate both key on doc_id (one exchange, per-doc bounded
    // state); output is segments, not frames.
    QueryDef(
      "mm_audio_vad",
      (spark, dir) =>
        audioFrames(spark, dir)
          .where("voiced")
          .selectExpr("doc_id", "frame_no", "energy",
            """frame_no - row_number() OVER (PARTITION BY doc_id
                 ORDER BY frame_no) AS grp""")
          .groupBy("doc_id", "grp")
          .agg(
            expr("cast(min(frame_no) AS bigint) AS start_frame"),
            expr("cast(max(frame_no) AS bigint) AS end_frame"),
            expr("cast(count(*) AS bigint) AS n_frames"),
            expr("cast(sum(energy) AS bigint) AS energy"))
          .selectExpr("doc_id", "start_frame", "end_frame", "n_frames",
            "energy", "energy div n_frames AS mean_energy"),
      Some("""
        WITH frames AS (
          SELECT doc_id, frame_no, frame_len,
                 list_sum(list_transform(generate_series(1, frame_len::INT),
                   i -> abs(('0x' || substr(ph, (off + i - 1) * 2 + 1, 2))::INT - 128)))::BIGINT AS energy
          FROM (
            SELECT doc_id, ph, g.frame_no * 80 AS off,
                   g.frame_no::BIGINT AS frame_no,
                   least(160, n_bytes - g.frame_no * 80)::BIGINT AS frame_len
            FROM (SELECT doc_id, hex(encode(text)) AS ph, octet_length(encode(text)) AS n_bytes
                  FROM documents) d,
            LATERAL (SELECT unnest(generate_series(0, greatest(d.n_bytes - 1, 0) // 80)) AS frame_no) g
            WHERE g.frame_no * 80 < d.n_bytes)),
        voiced AS (
          SELECT doc_id, frame_no, energy,
                 frame_no - row_number() OVER (PARTITION BY doc_id
                   ORDER BY frame_no) AS grp
          FROM frames WHERE energy >= frame_len * 34)
        SELECT doc_id,
               min(frame_no)::BIGINT AS start_frame,
               max(frame_no)::BIGINT AS end_frame,
               count(*)::BIGINT AS n_frames,
               sum(energy)::BIGINT AS energy,
               (sum(energy)::BIGINT // count(*)::BIGINT)::BIGINT AS mean_energy
        FROM voiced
        GROUP BY doc_id, grp""")),

    // ----------------- zero-crossing rate / frame classification
    // The second classic frame feature next to energy: the
    // zero-crossing count of the 64-centered samples per 160-byte
    // frame (the native `byte_zcr` codegen kernel — one fused loop, no
    // per-sample allocation; see its scaladoc for why the center is 64
    // on this ASCII fixture). Energy and ZCR together drive the
    // textbook three-way frame label: low energy → silence, high
    // crossing rate → unvoiced (fricative-like), else voiced — both
    // boundaries integer cross-multiplications, thresholds tuned so
    // all three classes fire on the fixture (silence 67 / unvoiced 441
    // / voiced 1643 frames at sf0.001). Same 80-byte-hop framing as
    // mm_audio_energy; everything row-local off the one scan, zero
    // shuffles at any corpus size.
    QueryDef(
      "mm_audio_zcr",
      (spark, dir) => {
        Tables.documents(spark, dir)
          .selectExpr("doc_id", "encode(text, 'UTF-8') AS payload",
            "cast(octet_length(text) AS int) AS n_bytes")
          .selectExpr("doc_id", "payload", "n_bytes",
            """explode(filter(sequence(0, greatest(n_bytes - 1, 0), 80),
                              i -> i < n_bytes)) AS off""")
          .selectExpr("doc_id",
            "cast(off div 80 AS bigint) AS frame_no",
            "cast(least(160, n_bytes - off) AS bigint) AS frame_len",
            "byte_energy(payload, off, 160) AS energy",
            "byte_zcr(payload, off, 160) AS zcr")
          .selectExpr("doc_id", "frame_no", "frame_len", "energy", "zcr",
            """CASE WHEN energy < frame_len * 30 THEN 'silence'
                    WHEN zcr * 8 >= frame_len * 3 THEN 'unvoiced'
                    ELSE 'voiced' END AS cls""")
      },
      Some("""
        SELECT doc_id, frame_no, frame_len, energy, zcr,
               CASE WHEN energy < frame_len * 30 THEN 'silence'
                    WHEN zcr * 8 >= frame_len * 3 THEN 'unvoiced'
                    ELSE 'voiced' END AS cls
        FROM (
          SELECT doc_id, frame_no, frame_len,
                 list_sum(list_transform(generate_series(1, frame_len::INT),
                   i -> abs(('0x' || substr(ph, (off + i - 1) * 2 + 1, 2))::INT - 128)))::BIGINT AS energy,
                 coalesce(list_sum(list_transform(generate_series(1, frame_len::INT - 1),
                   i -> CASE WHEN (('0x' || substr(ph, (off + i - 1) * 2 + 1, 2))::INT - 64)
                                * (('0x' || substr(ph, (off + i) * 2 + 1, 2))::INT - 64) < 0
                        THEN 1 ELSE 0 END)), 0)::BIGINT AS zcr
          FROM (
            SELECT doc_id, ph, g.frame_no * 80 AS off,
                   g.frame_no::BIGINT AS frame_no,
                   least(160, n_bytes - g.frame_no * 80)::BIGINT AS frame_len
            FROM (SELECT doc_id, hex(encode(text)) AS ph, octet_length(encode(text)) AS n_bytes
                  FROM documents) d,
            LATERAL (SELECT unnest(generate_series(0, greatest(d.n_bytes - 1, 0) // 80)) AS frame_no) g
            WHERE g.frame_no * 80 < d.n_bytes))""")),

    // The decoder seam itself as an oracle-checked query: every media
    // row through [[decodeFeatures]] (per-partition init + row→feature
    // mapPartitions — the exact contract a real codec/model drops
    // into), feature vectors exploded to (media_id, bin, share) rows so
    // the DuckDB oracle can recompute the 16-bin L1-normalized byte
    // histogram from the same payload bytes (hex-nibble addressing —
    // DuckDB cannot slice BLOBs). All 16 bins emit, zeros included: the
    // VECTOR shape is the product, not the sparse support. Scale: the
    // decode is row-local (no exchange before the explode), and a real
    // decoder inherits that plan unchanged.
    QueryDef(
      "mm_features",
      (spark, dir) => {
        val media = mediaFromText(
          Tables.documents(spark, dir).select("doc_id", "text"), "doc_id", "text")
        decodeFeatures(spark, media)
          .selectExpr("media_id", "posexplode(features) AS (bin, share)")
          .selectExpr("media_id", "cast(bin AS int) AS bin",
            "round(share, 6) AS share")
      },
      Some("""
        WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
                          greatest(octet_length(encode(text)), 1) AS total
                   FROM documents),
        n AS (SELECT media_id,
                     unnest(list_transform(generate_series(1, length(hx), 2),
                                           i -> substr(hx, i, 1))) AS nib
              FROM m),
        c AS (SELECT media_id, ('0x' || nib)::INT AS bin, count(*)::BIGINT AS c
              FROM n GROUP BY 1, 2),
        b AS (SELECT unnest(generate_series(0, 15)) AS bin)
        SELECT m.media_id, b.bin::INT AS bin,
               round(coalesce(c.c, 0)::DOUBLE / m.total::DOUBLE, 6) AS share
        FROM m CROSS JOIN b
        LEFT JOIN c ON c.media_id = m.media_id AND c.bin = b.bin"""))
  )

  /** The 80-byte-hop / 160-byte audio frame table
    * (doc_id, frame_no, frame_len, energy, voiced) — ONE kernel for
    * mm_audio_energy (which emits it) and mm_audio_vad (which segments
    * it), so the frame grid and the voicing gate cannot diverge.
    * Voiced = per-sample mean energy ≥ 34, as an integer
    * cross-multiplication (energy ≥ frame_len · 34). The gate was
    * re-tuned from 40 when mm_audio_vad landed: on the synthetic
    * fixture's byte distribution (letters ≈ 6–31, spaces = 96) the
    * per-frame mean tops out just under 40, so the old threshold made
    * `voiced` an all-false column — 34 sits inside the distribution
    * (≈ 34 % of frames fire at sf0.001) and both the flag and the
    * segmenter exercise real decision boundaries.
    */
  private def audioFrames(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "encode(text, 'UTF-8') AS payload",
        "cast(octet_length(text) AS int) AS n_bytes")
      .selectExpr("doc_id", "payload", "n_bytes",
        """explode(filter(sequence(0, greatest(n_bytes - 1, 0), 80),
                          i -> i < n_bytes)) AS off""")
      .selectExpr("doc_id",
        "cast(off div 80 AS bigint) AS frame_no",
        "cast(least(160, n_bytes - off) AS bigint) AS frame_len",
        "byte_energy(payload, off, 160) AS energy")
      .selectExpr("doc_id", "frame_no", "frame_len", "energy",
        // per-sample mean ≥ 34 counts as voiced (integer compare)
        "energy >= frame_len * 34 AS voiced")
  }

  /** The mm_ahash code table (doc_id, ahash_lo, ahash_hi) — the shared
    * row-local fingerprint scan mm_ahash emits and mm_ahash_neardup
    * bands. See mm_ahash's QueryDef comment for the construction.
    */
  private def ahashCodes(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "encode(text, 'UTF-8') AS payload",
        "cast(octet_length(text) AS int) AS n_bytes")
      .where("n_bytes >= 128")
      .selectExpr("doc_id", "payload", "explode(sequence(0, 63, 1)) AS k")
      .selectExpr("doc_id", "k",
        "byte_energy(payload, (k div 8) * 16 + (k % 8) * 2, 2) AS e")
      .groupBy("doc_id")
      .agg(
        expr("cast(sum(e) AS bigint) AS total_energy"),
        expr("collect_list(named_struct('k', k, 'e', e)) AS blocks"))
      .selectExpr("doc_id",
        """aggregate(filter(blocks, x -> x.k < 32 AND x.e * 64 > total_energy),
                     0L, (acc, x) -> acc + shiftleft(1L, x.k)) AS ahash_lo""",
        """aggregate(filter(blocks, x -> x.k >= 32 AND x.e * 64 > total_energy),
                     0L, (acc, x) -> acc + shiftleft(1L, x.k - 32)) AS ahash_hi""")

  /** mm_scenecut: per-mille mean-energy jump that counts as a cut. */
  /** The DuckDB-side rendering of the 8×8 integer-millionths DCT
    * basis. ONE source of truth: [[graft.plans.Dct8.C]] — the same 64
    * longs the Spark kernel multiplies with, so the two engines'
    * transforms are equal by construction (no per-engine trig, no
    * float drift).
    */
  private val DctCSql = graft.plans.Dct8.C.mkString("[", ", ", "]::BIGINT[]")

  /** pHash over (doc_id, payload≥128 bytes): 8×8 pixel grid from the
    * 16-wide byte image, exact integer 2-D DCT-II against [[DctFlat]],
    * bit k set when AC coefficient k beats the rank-32 median of all
    * 63. Every integer-millionths basis row u ≥ 1 sums to EXACTLY
    * zero (the rounded table keeps the cosine antisymmetry), so a
    * uniform pixel shift provably cannot move any AC coefficient —
    * the brightness invariance MultimodalSpec pins. Row-local
    * end-to-end: all folds run inside the scan's codegen span.
    */
  private[graft] def phash(df: DataFrame): DataFrame =
    df
      .selectExpr("doc_id",
        "transform(sequence(0, 63), i -> byte_energy(payload, (i div 8) * 16 + (i % 8) * 2, 1)) AS p",
        // the whole 63-coefficient transform is ONE native codegen'd
        // kernel (separable integer DCT, ~1 000 fused multiply-adds).
        // The HOF formulation is the documented anti-pattern here:
        // CollapseProject inlines the intermediate table into every
        // lambda reference and the interpreted cost goes quadratic —
        // see graft.plans.Dct8's scaladoc for the measured blowup.
        "dct8(payload) AS f")
      .selectExpr("doc_id", "p", "f", "element_at(array_sort(f), 32) AS m")
      .selectExpr("doc_id",
        "aggregate(p, 0L, (acc, x) -> acc + x) AS pix_total",
        "m AS median_coef",
        """aggregate(sequence(1, 31), 0L, (acc, k) ->
             acc + CASE WHEN element_at(f, k) > m THEN shiftleft(1L, k) ELSE 0L END) AS phash_lo""",
        """aggregate(sequence(32, 63), 0L, (acc, k) ->
             acc + CASE WHEN element_at(f, k) > m THEN shiftleft(1L, k - 32) ELSE 0L END) AS phash_hi""",
        "cast(size(filter(f, x -> x > m)) AS bigint) AS n_ones")

  private val CutThreshold = 2500L

  /** mm_ahash_neardup: band-bucket size above which candidates refine
    * through the 48-bit sub-band split instead of pairing directly.
    */
  private val AhashHotCap = 256L
}
