package graft.sources

import graft.{Fns, QueryDef, SessionMemo, Tables}
import graft.operators.Chunker
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Sources & sinks (SURVEY.md §2.1 S1–S8) — the reference's interchange
  * surface, with its quirk ledger preserved:
  *  - S3 CSV sink: header, UTF-8, overwrite (`src/pdf_extractor.py:236-237`)
  *  - S4 CSV source: reload hardcodes the four metadata fields and
  *    SILENTLY DROPS `chunk_number` (`src/main.py:58-63`)
  *  - S5 vector-store sink: positional `chunk_{i}` ids, metadata values
  *    stringified, NO-OP when the store is non-empty
  *    (`src/vector_store.py:115-117,127,132-140`)
  *  - S6 reset: overwrite (`src/vector_store.py:96-107`)
  *  - every store version is committed whole: built in a hidden
  *    sibling staging directory, stamped with a `_COMMIT` token
  *    (version id, embedder, embedding type), renamed into place
  *  - S7 JSON dump (`src/vector_store.py:184-205`)
  *  - S8 stats (`src/vector_store.py:177-182`)
  */
object ChunkStore {

  /** The reference's flattened chunk-row schema (FIXTURES.md §1.1). */
  val chunkSchema: StructType = StructType(Seq(
    StructField("text", StringType),
    StructField("source", StringType),
    StructField("page_number", IntegerType),
    StructField("paragraph_number", IntegerType),
    StructField("total_pages", IntegerType),
    StructField("chunk_number", IntegerType)))

  /** The vector store's row (FIXTURES.md §1.2): what [[addDocuments]]
    * writes and what every store reader declares, so no read runs a
    * schema-inference job.
    */
  val storeSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("text", StringType),
    StructField("metadata", MapType(StringType, StringType)),
    StructField("embedding", ArrayType(DoubleType))))

  /** The vector store at `storePath`, read by [[storeSchema]]. */
  def readStore(spark: SparkSession, storePath: String): DataFrame =
    spark.read.schema(storeSchema).parquet(storePath)

  /** A committed store version's token: a `version` id fresh per
    * commit, the `embedder` class its rows were embedded with and, for a
    * store committed with its count, its number of `rows` (the token
    * also records the `embedding` type, for readers of the files).
    */
  private final case class Commit(version: String, embedder: String, rows: Option[Long])

  private def embedderName(e: graft.Embedder): String = e.getClass.getName.stripSuffix("$")

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The `_COMMIT` token of the store at `storePath`, or None when the
    * path holds no committed store. One file open, no existence check.
    */
  private def readCommit(spark: SparkSession, storePath: String): Option[Commit] = {
    val token = new Path(storePath, "_COMMIT")
    val opened = try Some(fsOf(spark, token).open(token))
    catch { case _: java.io.FileNotFoundException => None }
    opened.map { in =>
      val kv = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
      finally in.close()
      Commit(kv("version"), kv("embedder"), kv.get("rows").map(_.toLong))
    }
  }

  /** The number of rows the `_COMMIT` token of the store at `storePath`
    * records, read without a Spark job; None for a path with no token,
    * or a token written before commits recorded it.
    */
  def committedRows(spark: SparkSession, storePath: String): Option[Long] =
    readCommit(spark, storePath).flatMap(_.rows)

  /** Commit one store version: `write` fills a hidden sibling staging
    * directory and returns how many rows it wrote, the `_COMMIT` token
    * (which records that count) is written last, then whatever
    * store `storePath` held (empty, or the version a reset drops) is
    * renamed aside, one rename puts the staging directory in its place,
    * and the set-aside store is deleted. A failed write or rename
    * deletes the staging directory and leaves `storePath` as it was.
    * A process killed mid-commit leaves its hidden `.<name>.staging-*`
    * (and, between the two renames, `.<name>.superseded-*`) sibling
    * behind; nothing sweeps them.
    */
  private def commit(spark: SparkSession, storePath: String, embedder: String,
                     embedding: String)(write: String => Long): Unit = {
    val target = new Path(storePath)
    val fs = fsOf(spark, target)
    val version = java.util.UUID.randomUUID().toString
    val staging = new Path(target.getParent, s".${target.getName}.staging-$version")
    val aside = new Path(target.getParent, s".${target.getName}.superseded-$version")
    val move = (from: Path, to: Path) =>
      if (!fs.rename(from, to)) throw new java.io.IOException(s"could not rename $from to $to")
    try {
      val rows = write(staging.toString)
      val out = fs.create(new Path(staging, "_COMMIT"), false)
      try out.write(s"version=$version\nembedder=$embedder\nembedding=$embedding\nrows=$rows\n"
        .getBytes("UTF-8"))
      finally out.close()
      val had = fs.exists(target)
      if (had) move(target, aside)
      try move(staging, target)
      catch {
        case e: Throwable =>
          if (had) move(aside, target)
          throw e
      }
      if (had) fs.delete(aside, true)
    } catch {
      case e: Throwable =>
        fs.delete(staging, true)
        throw e
    }
  }

  /** A committed store version as searches read it: its version id and
    * its rows as one [[SearchKernel.Part]] per store partition, held in
    * driver heap.
    */
  private final case class Snapshot(version: String, parts: Array[SearchKernel.Part])

  /** Per (session, store path): the committed version answers are
    * served from, collected by the first search of that version (one
    * job; a failed collect leaves no snapshot, and the next search
    * collects again). [[search]] swaps in a new snapshot when the token
    * names a new version; the superseded one is left to the GC.
    */
  private val snapshots = new SessionMemo[Snapshot](
    (spark, storePath) => Snapshot(readCommit(spark, storePath).map(_.version).orNull,
      SearchKernel.parts(readStore(spark, storePath))),
    _ => ())

  /** Per (session, embedder class name): the embedder's query-side
    * expression, bound once. The class name is the embedder's identity
    * in `_COMMIT` too.
    */
  private val queryEmbedders = new SessionMemo[SearchKernel.QueryEmbedder](
    (spark, name) => new SearchKernel.QueryEmbedder(spark, name), _ => ())

  /** S1/S2 — PDF directory scan (reference
    * `src/pdf_extractor.py:246-265`): list a directory, keep files whose
    * LOWERCASED name ends ".pdf" (`:251`), expose filename + raw bytes.
    * `binaryFile` is Spark's distributed file source — listing and
    * reads parallelize across executors, and the `pathGlobFilter`-less
    * lowercase filter reproduces the reference's case-insensitive
    * match (`Report.PDF` is included, `notes.txt` is not).
    */
  def scanPdfDir(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile").load(dir)
      .where(lower(col("path")).endsWith(".pdf"))
      .select(
        substring_index(col("path"), "/", -1).as("file_name"),
        col("path"),
        col("length").as("n_bytes"),
        col("content"))

  /** S3 — CSV sink (header, UTF-8, overwrite). The reference writes one
    * CSV per source PDF; at scale one file per task is the same layout.
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", "true").option("encoding", "UTF-8")
      // RFC-4180 doubled-quote escaping — what Python's csv module (the
      // reference sink, src/pdf_extractor.py:236-241) emits, and what
      // readCsv's multiLine+escape options expect back
      .option("escape", "\"")
      // Spark's CSV writer TRIMS cell whitespace by default — Python's
      // csv writes strings verbatim; a chunk starting or ending in a
      // space must survive the round trip (s3_csv_roundtrip caught a
      // one-char loss on exactly this)
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)

  /** S4 — CSV source with the reference's reload quirk: only the four
    * hardcoded metadata fields survive; `chunk_number` is dropped.
    * `multiLine` + explicit quote escaping make the round-trip
    * newline-safe: the sink quotes embedded `\n`, and without multiLine
    * the reader would split the quoted field at the newline and corrupt
    * the row.
    */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(chunkSchema).option("header", "true")
      .option("multiLine", "true").option("escape", "\"")
      .csv(path)
      .select("text", "source", "page_number", "paragraph_number", "total_pages")

  /** S5 — vector-store add: positional ids `chunk_{i}` (i from 0 in the
    * given ordering), all metadata stringified, idempotence guard (no-op
    * if the store already has rows). `orderCols` makes the positional id
    * deterministic — the reference relies on Python list order.
    *
    * The rows are committed as one new store version (a staging
    * directory, its `_COMMIT` token naming `embedder`, one rename): a
    * failed add leaves no store behind, or the empty one it found. A
    * store with rows but no token raises instead of passing for
    * indexed, since no answer could be served from it.
    *
    * Scale note: `row_number` over a global window is a single-partition
    * sort; fine for the reference-fidelity path. The scale path is
    * `zipWithIndex`-style partition-offset ids — see
    * [[ChunkStore.withPositionalIds]].
    */
  def addDocuments(spark: SparkSession, chunks: DataFrame, storePath: String,
                   orderCols: Seq[String],
                   embedder: graft.Embedder = graft.HashedTokenEmbedder): Boolean = {
    val embType = chunks.select(embedder.embed(col("text"))).schema.head.dataType
    val storeType = storeSchema("embedding").dataType
    require(embType.catalogString == storeType.catalogString,
      s"embedder produces ${embType.catalogString}, the store holds ${storeType.catalogString}")
    // a missing store is built; a present one is read, and a read that
    // fails (corrupt or half-written files) raises instead of passing
    // for empty and being replaced
    val path = new Path(storePath)
    if (fsOf(spark, path).exists(path) && readStore(spark, storePath).limit(1).count() > 0) {
      // a store with rows but no token was not written by a commit (an
      // older build, a hand-written directory): answers would refuse it,
      // so the guard must not pass it off as already indexed
      if (readCommit(spark, storePath).isEmpty)
        throw new IllegalStateException(s"the store at $storePath has rows but no _COMMIT " +
          "token; reset it (or rebuild with forceRebuild) before adding")
      false // reference: add is a no-op when non-empty
    } else {
      val metaCols = chunks.columns.filterNot(_ == "text").toSeq
      commit(spark, storePath, embedderName(embedder), embType.catalogString) { dir =>
        val (withIds, sorted, rows) = positionalIds(chunks, orderCols)
        // the one write is the last read of the sorted rows: free them
        // now, not when a GC finds the frame unreachable (Spark can keep
        // a finished plan reachable for the rest of the session)
        try withIds.select(
            col("id"),
            col("text"),
            // FIXTURES §1.2 entry shape: EVERY metadata value stringified
            // (`src/vector_store.py:132-140` — "3" not 3), and the
            // embedding computed store-side (`:143-147`) through the
            // pluggable embedder seam (default: hashed tokens)
            map_from_arrays(
              array(metaCols.map(lit): _*),
              array(metaCols.map(c => col(c).cast("string")): _*)).as("metadata"),
            embedder.embed(col("text")).as("embedding"))
          .write.parquet(dir)
        finally CheckpointOps.release(sorted)
        rows
      }
      true
    }
  }

  /** V3/V4 — top-k cosine similarity search over a vector store written
    * by [[addDocuments]]: embed the query text with the SAME embedder
    * the store used, score every row of the committed snapshot by its
    * cosine, keep the top k — best first, as rows of
    * [[SearchKernel.Result]].
    *
    * It first reads the store's `_COMMIT` token and raises if there is
    * none (no committed store at `storePath`) or if it names another
    * embedder than `embedder`. When the token names a version other than
    * the snapshot held for this (session, path), the new version's rows
    * are collected to the driver (one job) and replace the old snapshot.
    * The query vector is computed on the driver by the embedder's bound
    * expression; then [[SearchKernel.top]] scores and ranks the
    * snapshot's parts on the calling thread, with no Spark job, no query
    * plan, no file listing and no parquet decode. A search racing a
    * commit may fail; it never mixes rows of two versions. Output
    * shape = the reference's search result (`src/vector_store.py:167-175`):
    * text, all-string metadata, similarity ∈ [-1, 1] (may be negative).
    */
  def search(spark: SparkSession, storePath: String, query: String, topK: Int = 5,
             embedder: graft.Embedder = graft.HashedTokenEmbedder): Seq[Row] = {
    val token = readCommit(spark, storePath).getOrElse(
      throw new IllegalStateException(s"no committed store at $storePath: its _COMMIT token is missing"))
    val used = embedderName(embedder)
    require(token.embedder == used,
      s"the store at $storePath was embedded by ${token.embedder}, the query by $used")
    val held = snapshots(spark, storePath)
    val snapshot = if (held.version == token.version) held else {
      snapshots.reset(spark, storePath)
      snapshots(spark, storePath)
    }
    SearchKernel.top(snapshot.parts, queryEmbedders(spark, used)(embedder, query), topK)
  }

  /** [[search]]'s hits as a local DataFrame (`id`, `text`, `metadata`,
    * `similarity`): the search runs when this is called.
    */
  def similaritySearch(spark: SparkSession, storePath: String, query: String,
                       topK: Int = 5,
                       embedder: graft.Embedder = graft.HashedTokenEmbedder): DataFrame =
    spark.createDataFrame(search(spark, storePath, query, topK, embedder).asJava,
      SearchKernel.Result)

  /** Positional `chunk_{i}` ids without a global single-partition sort:
    * sort within partitions after a range-partitioned repartitionByRange
    * (so order is global), then add per-partition offsets computed from
    * partition sizes — the standard scalable global-index pattern.
    */
  def withPositionalIds(chunks: DataFrame, orderCols: Seq[String]): DataFrame =
    positionalIds(chunks, orderCols)._1

  /** [[withPositionalIds]], the pinned sorted rows it reads and their
    * count.
    */
  private def positionalIds(chunks: DataFrame, orderCols: Seq[String]): (DataFrame, DataFrame, Long) = {
    val spark = chunks.sparkSession
    // pinned before the two passes below (sizes, then id assignment):
    // recomputing the sort per pass could order orderCols-ties
    // differently across the two jobs and hand out nondeterministic ids.
    // CheckpointOps.pin, not Dataset.persist: nothing enters the
    // session's CacheManager. addDocuments releases the blocks after its
    // write; for other callers ContextCleaner frees them once the
    // returned frame is unreachable.
    val sorted = CheckpointOps.pin(chunks.repartitionByRange(orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*))
    val sizes = sorted.rdd.mapPartitionsWithIndex {
      case (pid, it) => Iterator((pid, it.size.toLong))
    }.collect().sortBy(_._1)
    val offsets = sizes.map(_._2).scanLeft(0L)(_ + _)
    val offsetMap = sizes.map(_._1).zip(offsets).toMap
    val bc = spark.sparkContext.broadcast(offsetMap)
    val schema = sorted.schema.add("id", StringType)
    val rdd = sorted.rdd.mapPartitionsWithIndex { case (pid, it) =>
      val base = bc.value(pid)
      it.zipWithIndex.map { case (row, i) =>
        Row.fromSeq(row.toSeq :+ s"chunk_${base + i}")
      }
    }
    (spark.createDataFrame(rdd, schema), sorted, offsets.last)
  }

  /** S6 — reset: drop + recreate, committed as a new, empty store
    * version. Like the reference's recreated collection it keeps the
    * store's embedder: the one the dropped version's token names, or
    * the default for a store that had none.
    */
  def reset(spark: SparkSession, storePath: String, schema: StructType): Unit = {
    val embedder =
      readCommit(spark, storePath).fold(embedderName(graft.HashedTokenEmbedder))(_.embedder)
    commit(spark, storePath, embedder, storeSchema("embedding").dataType.catalogString) { dir =>
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema).write.parquet(dir)
      0L
    }
  }

  /** S7 — full-store JSON dump (id, text, metadata). */
  def dumpJson(store: DataFrame, path: String): Unit =
    store.write.mode(SaveMode.Overwrite).json(path)

  /** S8 — store stats. */
  def stats(store: DataFrame, collectionName: String): (Long, String) =
    (store.count(), collectionName)

  // -------------------------------------------------------------- queries

  /** s5_store_entries' oracle, shared by s5_store_entries_scalable. */
  private[graft] val storeEntriesOracleSql: String = s"""
        WITH ${Chunker.chunkCte("doc_id")}
        SELECT 'chunk_' || (row_number() OVER (ORDER BY doc_id, coalesce(chunk_number, 0)) - 1) AS id,
               chunk_text AS text,
               doc_id::VARCHAR AS doc_id_str,
               chunk_number::VARCHAR AS chunk_number_str
        FROM chunks"""

  def queries: Seq[QueryDef] = Seq(
    // S1+S2+E1-E5+C1 over REAL PDF BYTES: the fixture corpus (2-page
    // Flate-compressed + 1-page raw + Type0/CID CJK files (embedded
    // ToUnicode AND predefined UniGB-UCS2-H) + an ObjStm-packed file +
    // an /Encoding /Differences file + a decoy .txt) is written to disk,
    // scanned with the case-insensitive binaryFile source, parsed by the
    // from-scratch PDF extractor, layout-segmented, cleaned, chunked.
    // The oracle holds the hand-simulated expected rows as literal
    // VALUES — the only way real-bytes extraction can be gate-checked
    // (DuckDB cannot parse PDFs).
    QueryDef(
      "s2_pdf_pipeline",
      (spark, dir) => {
        val tmp = graft.TmpDirs.create("graft_pdf_gate").toString
        PdfFixtures.writeFixtureDir(tmp)
        PdfText.extractChunks(spark, tmp)
          .selectExpr("source", "cast(page_number AS int) AS page_number",
            "cast(paragraph_number AS int) AS paragraph_number",
            "cast(total_pages AS int) AS total_pages", "chunk_number", "text")
      },
      Some("""
        SELECT * FROM (VALUES
          ('a.pdf', 1::INT, 1::INT, 2::INT, NULL::INT,
           'Introduction to distributed query engines for large corpora. This line continues the same opening paragraph cleanly.'),
          ('a.pdf', 1::INT, 2::INT, 2::INT, NULL::INT,
           'A clearly separate second paragraph follows after a gap.'),
          ('a.pdf', 2::INT, 1::INT, 2::INT, NULL::INT,
           'Second page opens with kerned text runs. And a continuation line via the leading operator arrives.'),
          ('B.PDF', 1::INT, 1::INT, 1::INT, NULL::INT,
           'Uppercase extension file with one short paragraph inside.'),
          ('cjk.pdf', 1::INT, 1::INT, 1::INT, NULL::INT,
           'Unit 01: 数据工程与分布式查询引擎概论。'),
          ('cjk.pdf', 1::INT, 2::INT, 1::INT, NULL::INT,
           '本章介绍大规模语料的去重、检索与质量评估方法。'),
          ('m.pdf', 1::INT, 1::INT, 1::INT, NULL::INT,
           'Modern object stream layout parses through the packed table.'),
          ('lzw.pdf', 1::INT, 1::INT, 1::INT, NULL::INT,
           'Lempel Ziv Welch coded content inflates through the variable width code table.'),
          ('rle.pdf', 1::INT, 1::INT, 1::INT, NULL::INT,
           'Run length packed content expands literal and repeated aaaaaaaaaa runs alike.'),
          ('a85.pdf', 1::INT, 1::INT, 1::INT, NULL::INT,
           'Ascii armored deflate content decodes through the two stage filter chain.'),
          ('xr.pdf', 1::INT, 1::INT, 1::INT, NULL::INT,
           'Cross reference stream files keep endstream words inside string payloads safely.'),
          ('rc4.pdf', 1::INT, 1::INT, 1::INT, NULL::INT,
           'Rivest cipher four streams decrypt under the empty user password handler.'),
          ('aes.pdf', 1::INT, 1::INT, 1::INT, NULL::INT,
           'Advanced encryption standard blocks chain behind a sixteen byte vector.'),
          ('aes256.pdf', 1::INT, 1::INT, 1::INT, NULL::INT,
           'Modern two hundred fifty six bit keys derive from iterated hashing rounds.'),
          ('m_enc.pdf', 1::INT, 1::INT, 1::INT, NULL::INT,
           'Encrypted object streams decrypt before the packed table expands.'),
          ('xr_enc.pdf', 1::INT, 1::INT, 1::INT, NULL::INT,
           'Encrypted cross reference stream files resolve indirect lengths then decrypt.'),
          ('gb.pdf', 1::INT, 1::INT, 1::INT, NULL::INT,
           '预定义字符映射表直接按统一码解码文本。'),
          ('diff.pdf', 1::INT, 1::INT, 1::INT, NULL::INT,
           'Glyph name differences map café • — • codes to text.')
        ) t(source, page_number, paragraph_number, total_pages, chunk_number, text)"""),
      bench = false, sinkBench = true),

    // S3+S4 — the CSV sink/source ROUND TRIP as an oracle-checked query:
    // chunk rows in the reference's flattened schema go out through the
    // RFC-4180 sink (header, UTF-8, doubled-quote escaping) and come
    // back through the reload projection (which drops chunk_number —
    // the reference quirk), then aggregate per source. The oracle
    // computes the same aggregates straight from the chunk pipeline —
    // any byte the sink or source mangles breaks the hash. bench=false:
    // this measures temp-dir I/O, not engine throughput.
    QueryDef(
      "s3_csv_roundtrip",
      (spark, dir) => {
        val chunks = graft.operators.Chunker.queries.head.run(spark, dir) // c1_chunk
          .selectExpr(
            "chunk_text AS text",
            "concat('doc_', cast(doc_id AS string)) AS source",
            "cast(pmod(doc_id, 7) + 1 AS int) AS page_number",
            "cast(coalesce(chunk_number, 0) AS int) AS paragraph_number",
            "cast(7 AS int) AS total_pages",
            "cast(coalesce(chunk_number, 0) AS int) AS chunk_number")
        val path = graft.TmpDirs.create("graft_s3").toString + "/chunks_csv"
        writeCsv(chunks, path)
        readCsv(spark, path)
          .groupBy("source")
          .agg(
            expr("cast(count(*) AS bigint) AS n_chunks"),
            expr("cast(sum(length(text)) AS bigint) AS total_chars"),
            expr("cast(sum(paragraph_number) AS bigint) AS para_sum"),
            expr("max(page_number) AS max_page"))
      },
      Some(s"""
        WITH ${Chunker.chunkCte("doc_id")}
        SELECT 'doc_' || doc_id::VARCHAR AS source,
               count(*) AS n_chunks,
               sum(length(chunk_text))::BIGINT AS total_chars,
               sum(coalesce(chunk_number, 0))::BIGINT AS para_sum,
               (doc_id % 7 + 1)::INT AS max_page
        FROM chunks GROUP BY doc_id"""),
      bench = false, sinkBench = true),

    // S3b — ORC sink/source round trip: the second columnar format a
    // lakehouse deployment actually negotiates (zlib ORC here; parquet
    // is the native store format everywhere else in the suite). The
    // gate writes the cleaned documents as ORC, reads them back through
    // the vectorized ORC reader WITH a pushed-down predicate, and
    // aggregates — the oracle computes the same aggregate from the
    // source parquet directly, so any row/byte lost or mangled by the
    // ORC round trip (or a filter the reader misapplies) breaks the
    // hash. bench=false: measuring tmpdir I/O is noise.
    QueryDef(
      "s9_orc_roundtrip",
      (spark, dir) => {
        val docs = graft.Tables.documents(spark, dir)
          .selectExpr("doc_id", "lang", "source",
            s"${Fns.cleanTextSql("text")} AS tc")
        val path = graft.TmpDirs.create("graft_s9").toString + "/docs_orc"
        docs.write.mode("overwrite").option("compression", "zlib").orc(path)
        spark.read.orc(path)
          .where("lang != 'zh'") // pushes into the ORC reader
          .groupBy("lang")
          .agg(
            expr("cast(count(*) AS bigint) AS n_docs"),
            expr("cast(sum(length(tc)) AS bigint) AS total_chars"),
            expr("cast(count(DISTINCT source) AS bigint) AS n_sources"),
            // mod before summing: 60-bit hashes × 500 docs would
            // overflow int64 (DuckDB would widen to HUGEINT, Spark wraps)
            expr("md5(cast(sum(pmod(cast(conv(substring(md5(tc), 1, 15), 16, 10) AS bigint), 1000000007)) AS string)) AS content_fold"))
      },
      Some(s"""
        SELECT lang, count(*)::BIGINT AS n_docs,
               sum(length(tc))::BIGINT AS total_chars,
               count(DISTINCT source)::BIGINT AS n_sources,
               md5((sum(('0x' || substr(md5(tc), 1, 15))::BIGINT % 1000000007)::BIGINT)::VARCHAR) AS content_fold
        FROM (SELECT doc_id, lang, source,
                     ${Fns.cleanTextDuck("text")} AS tc
              FROM documents)
        WHERE lang != 'zh'
        GROUP BY lang"""),
      bench = false, sinkBench = true),

    // S3c — JSON Lines sink/source round trip over RAW text: where s7
    // checks the dump's counts, this row pins CONTENT fidelity through
    // JSON string escaping — the md5 fold covers every byte of every
    // document (CJK, quotes, embedded whitespace), so one character
    // mangled by the writer's escaping or the reader's decoding breaks
    // the hash. The oracle computes the same fold straight from the
    // source parquet: the JSONL hop must be byte-invisible.
    // bench=false: measures tmpdir I/O, not engine throughput.
    QueryDef(
      "s12_jsonl_roundtrip",
      (spark, dir) => {
        val docs = graft.Tables.documents(spark, dir)
          .selectExpr("doc_id", "lang", "source", "text", "n_chars")
        val path = graft.TmpDirs.create("graft_s12").toString + "/docs_jsonl"
        docs.write.mode("overwrite").json(path)
        spark.read
          .schema("doc_id BIGINT, lang STRING, source STRING, text STRING, n_chars BIGINT")
          .json(path)
          .groupBy("lang")
          .agg(
            expr("cast(count(*) AS bigint) AS n_docs"),
            expr("cast(sum(length(text)) AS bigint) AS total_chars"),
            expr("cast(sum(n_chars) AS bigint) AS n_chars_sum"),
            expr("md5(cast(sum(pmod(cast(conv(substring(md5(text), 1, 15), 16, 10) AS bigint), 1000000007)) AS string)) AS content_fold"))
      },
      Some("""
        SELECT lang, count(*)::BIGINT AS n_docs,
               sum(length(text))::BIGINT AS total_chars,
               sum(n_chars)::BIGINT AS n_chars_sum,
               md5((sum(('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000007)::BIGINT)::VARCHAR) AS content_fold
        FROM documents
        GROUP BY lang"""),
      bench = false, sinkBench = true),

    // S10 — small-file compaction: the operational chore every
    // long-running lake hits (streaming sinks and per-executor writers
    // leave thousands of KB-sized files; at 100 TB the NameNode/listing
    // and per-file open costs dominate scans). The gate fragments the
    // documents table into 64 shards, compacts to 4 with a plain
    // repartition-write (no sort assumptions), and folds the content of
    // BOTH layouts into the output row — the oracle derives the same
    // folds from the source parquet, so a row lost, duplicated, or
    // mangled by either rewrite breaks the hash. ChunkStoreSpec pins
    // the file counts (the part the oracle cannot see).
    QueryDef(
      "s10_compact",
      (spark, dir) => {
        val docs = graft.Tables.documents(spark, dir)
          .selectExpr("doc_id", "lang",
            s"${Fns.cleanTextSql("text")} AS tc")
        val base = graft.TmpDirs.create("graft_s10").toString
        docs.repartition(64).write.mode("overwrite").parquet(s"$base/small")
        spark.read.parquet(s"$base/small")
          .repartition(4).write.mode("overwrite").parquet(s"$base/compact")
        val fold = (p: String, alias: String) =>
          spark.read.parquet(p).groupBy("lang").agg(
            expr("cast(count(*) AS bigint) AS n_docs"),
            expr(s"md5(cast(sum(pmod(cast(conv(substring(md5(tc), 1, 15), 16, 10) AS bigint), 1000000007)) AS string)) AS $alias"))
        fold(s"$base/small", "fold_small")
          .join(fold(s"$base/compact", "fold_compact").withColumnRenamed("n_docs", "n_docs_c"), "lang")
          .selectExpr("lang", "n_docs", "fold_small", "fold_compact",
            "(n_docs = n_docs_c AND fold_small = fold_compact) AS identical")
      },
      Some(s"""
        SELECT lang, count(*)::BIGINT AS n_docs,
               md5((sum(('0x' || substr(md5(tc), 1, 15))::BIGINT % 1000000007)::BIGINT)::VARCHAR) AS fold_small,
               md5((sum(('0x' || substr(md5(tc), 1, 15))::BIGINT % 1000000007)::BIGINT)::VARCHAR) AS fold_compact,
               true AS identical
        FROM (SELECT doc_id, lang,
                     ${Fns.cleanTextDuck("text")} AS tc
              FROM documents)
        GROUP BY lang"""),
      bench = false, sinkBench = true),

    // S5+S8+S6 — store lifecycle round trip: add the chunk table to a
    // fresh store (positional ids, stringified metadata, store-side
    // embeddings), count it, reset, count again. The oracle knows only
    // the chunk pipeline's cardinality — a store that loses or
    // duplicates rows, or a reset that leaves residue, breaks the row.
    QueryDef(
      "s6_reset_roundtrip",
      (spark, dir) => {
        val chunks = graft.operators.Chunker.queries.head.run(spark, dir)
          .selectExpr("chunk_text AS text", "cast(doc_id AS string) AS doc_id_str",
            "cast(coalesce(chunk_number, 0) AS string) AS chunk_no_str")
        val store = graft.TmpDirs.create("graft_s6").toString + "/store"
        addDocuments(spark, chunks, store, Seq("doc_id_str", "chunk_no_str"))
        val stBefore = spark.read.parquet(store)
        val before = stats(stBefore, "graft_chunks")._1
        reset(spark, store, stBefore.schema)
        val after = stats(spark.read.parquet(store), "graft_chunks")._1
        spark.range(1).selectExpr(
          s"cast($before AS bigint) AS docs_before",
          s"cast($after AS bigint) AS docs_after",
          "'graft_chunks' AS collection_name")
      },
      Some(s"""
        WITH ${Chunker.chunkCte("doc_id")}
        SELECT count(*)::BIGINT AS docs_before, 0::BIGINT AS docs_after,
               'graft_chunks' AS collection_name
        FROM chunks"""),
      bench = false, sinkBench = true),

    // S7 — JSON dump round trip: store entries (id, text, stringified
    // metadata map) out through the JSON sink, back through a
    // schema-pinned JSON source, aggregated. Counts, distinct ids, text
    // chars, and metadata-entry counts must all survive the format.
    QueryDef(
      "s7_json_dump",
      (spark, dir) => {
        val store = graft.operators.Chunker.queries.head.run(spark, dir)
          .selectExpr(
            "concat(cast(doc_id AS string), '_', cast(coalesce(chunk_number, 0) AS string)) AS id",
            "chunk_text AS text",
            """map('doc_id', cast(doc_id AS string),
                   'chunk_number', cast(coalesce(chunk_number, 0) AS string)) AS metadata""")
        val path = graft.TmpDirs.create("graft_s7").toString + "/dump"
        dumpJson(store, path)
        val schema = StructType(Seq(
          StructField("id", StringType),
          StructField("text", StringType),
          StructField("metadata", MapType(StringType, StringType))))
        spark.read.schema(schema).json(path)
          .agg(
            expr("cast(count(*) AS bigint) AS n_entries"),
            expr("cast(count(DISTINCT id) AS bigint) AS n_ids"),
            expr("cast(sum(length(text)) AS bigint) AS total_chars"),
            expr("cast(sum(size(metadata)) AS bigint) AS meta_entries"))
      },
      Some(s"""
        WITH ${Chunker.chunkCte("doc_id")}
        SELECT count(*)::BIGINT AS n_entries,
               count(DISTINCT doc_id::VARCHAR || '_' || coalesce(chunk_number, 0)::VARCHAR)::BIGINT AS n_ids,
               sum(length(chunk_text))::BIGINT AS total_chars,
               (count(*) * 2)::BIGINT AS meta_entries
        FROM chunks"""),
      bench = false, sinkBench = true),

    // S5 surface as a pure query: positional ids over the chunk table in
    // (doc_id, chunk_number) order + the stringification quirk — every
    // metadata value becomes a string (page_number "3" not 3).
    QueryDef(
      "s5_store_entries",
      (spark, dir) =>
        graft.operators.Chunker.queries.head.run(spark, dir) // c1_chunk
          .selectExpr(
            "doc_id", "chunk_number", "chunk_text",
            """cast(row_number() OVER (ORDER BY doc_id, coalesce(chunk_number, 0)) - 1 AS bigint) AS pos""")
          .selectExpr(
            "concat('chunk_', cast(pos AS string)) AS id",
            "chunk_text AS text",
            "cast(doc_id AS string) AS doc_id_str",
            "cast(chunk_number AS string) AS chunk_number_str"),
      Some(storeEntriesOracleSql)),

    // S5, the SCALE path: the same positional-id contract computed by
    // withPositionalIds (range partition → in-partition sort →
    // partition-offset ids) instead of the reference-fidelity global
    // row_number window. Same oracle as s5_store_entries — the driver
    // gate proves the two formulations hand out IDENTICAL ids, so a
    // user can switch to the scalable path with zero behavior change.
    QueryDef(
      "s5_store_entries_scalable",
      (spark, dir) => {
        val chunks = graft.operators.Chunker.queries.head.run(spark, dir)
          .selectExpr("doc_id", "chunk_number", "chunk_text",
            "coalesce(chunk_number, 0) AS ord")
        withPositionalIds(chunks, Seq("doc_id", "ord"))
          .selectExpr(
            "id",
            "chunk_text AS text",
            "cast(doc_id AS string) AS doc_id_str",
            "cast(chunk_number AS string) AS chunk_number_str")
      },
      Some(storeEntriesOracleSql)),

    // S4 reload quirk as a pure query: the metadata projection that
    // survives a CSV round-trip (chunk_number dropped).
    QueryDef(
      "s4_reload_projection",
      (spark, dir) =>
        graft.operators.Chunker.queries.head.run(spark, dir)
          .selectExpr("chunk_text AS text", "cast(doc_id AS string) AS source_doc")
          .groupBy("source_doc")
          .agg(expr("count(*) AS n_chunks"),
               expr("cast(sum(length(text)) AS bigint) AS total_chars")),
      Some(s"""
        WITH ${Chunker.chunkCte("doc_id")}
        SELECT doc_id::VARCHAR AS source_doc, count(*) AS n_chunks,
               sum(length(chunk_text))::BIGINT AS total_chars
        FROM chunks GROUP BY 1""")),

    // S8 — stats query.
    QueryDef(
      "s8_stats",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .agg(expr("count(*) AS document_count"))
          .selectExpr("document_count", "'graft_documents' AS collection_name"),
      Some("""
        SELECT count(*) AS document_count, 'graft_documents' AS collection_name
        FROM documents"""))
  )
}
