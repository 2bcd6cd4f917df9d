package graft

import graft.sources.ChunkStore
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** S3–S8 quirk-ledger tests (SURVEY.md §2.1): CSV round-trip drops
  * chunk_number, add is idempotent, positional ids are deterministic.
  */
class ChunkStoreSpec extends SparkSpec {

  private def tmp(): String =
    SparkSpec.tmpDir("graft_store").toString

  private def sampleChunks() = {
    import spark.implicits._
    Seq(
      ("alpha chunk text", "a.pdf", 1, 1, 3, Some(1)),
      ("beta chunk text", "a.pdf", 1, 1, 3, Some(2)),
      ("gamma chunk text", "a.pdf", 2, 1, 3, None: Option[Int]),
      ("delta chunk text", "b.pdf", 1, 1, 1, None: Option[Int]))
      .toDF("text", "source", "page_number", "paragraph_number", "total_pages", "chunk_number")
  }

  test("S1/S2: binaryFile scan keeps only .pdf (case-insensitive), exposes name+bytes") {
    val dir = tmp()
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.pdf"), "AAA".getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "B.PDF"), "BBBB".getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "notes.txt"), "no".getBytes)
    val got = ChunkStore.scanPdfDir(spark, dir).collect()
      .map(r => (r.getAs[String]("file_name"), r.getAs[Long]("n_bytes"),
        new String(r.getAs[Array[Byte]]("content")))).toSet
    assert(got == Set(("a.pdf", 3L, "AAA"), ("B.PDF", 4L, "BBBB")))
  }

  test("S3/S4: CSV round-trip preserves the 4 metadata fields and DROPS chunk_number") {
    val dir = tmp() + "/csv"
    ChunkStore.writeCsv(sampleChunks(), dir)
    val back = ChunkStore.readCsv(spark, dir)
    assert(back.columns.toSeq ==
      Seq("text", "source", "page_number", "paragraph_number", "total_pages"))
    assert(back.count() == 4)
    val row = back.where("text = 'alpha chunk text'").collect().head
    assert(row.getAs[String]("source") == "a.pdf")
    assert(row.getAs[Int]("page_number") == 1) // 1-based, preserved
  }

  test("S3/S4: embedded newlines and quotes survive the CSV round-trip intact") {
    import spark.implicits._
    val dir = tmp() + "/csv_nl"
    val tricky = Seq(
      ("line one\nline two", "a.pdf", 1, 1, 1, None: Option[Int]),
      ("says \"quoted\" and, commas", "a.pdf", 2, 1, 1, None: Option[Int]))
      .toDF("text", "source", "page_number", "paragraph_number", "total_pages", "chunk_number")
    ChunkStore.writeCsv(tricky, dir)
    val back = ChunkStore.readCsv(spark, dir)
    assert(back.count() == 2, "newline in a quoted field split a row")
    val texts = back.select("text").collect().map(_.getString(0)).toSet
    assert(texts == Set("line one\nline two", "says \"quoted\" and, commas"))
  }

  test("S3/S4: leading/trailing cell whitespace survives verbatim (Python-csv fidelity)") {
    import spark.implicits._
    val dir = tmp() + "/csv_ws"
    val ws = Seq(("  padded on both ends  ", "a.pdf", 1, 1, 1, None: Option[Int]))
      .toDF("text", "source", "page_number", "paragraph_number", "total_pages", "chunk_number")
    ChunkStore.writeCsv(ws, dir)
    val back = ChunkStore.readCsv(spark, dir).collect().head.getAs[String]("text")
    assert(back == "  padded on both ends  ",
      "CSV sink/source must not trim cell whitespace (the writer trims by default!)")
  }

  test("S5: positional ids chunk_{i} follow the given ordering from 0") {
    val withIds = ChunkStore.withPositionalIds(sampleChunks(), Seq("source", "page_number", "chunk_number"))
    val ids = withIds.orderBy("source", "page_number", "chunk_number")
      .select("id").collect().map(_.getString(0))
    assert(ids.toSet == Set("chunk_0", "chunk_1", "chunk_2", "chunk_3"))
    // ordering: a.pdf/1/1, a.pdf/1/2, a.pdf/2/null?  — nulls first in asc
    val first = withIds.where("text = 'beta chunk text'").collect().head.getAs[String]("id")
    assert(first.startsWith("chunk_"))
  }

  test("S5: positional ids are stable across re-materializations even with order ties") {
    import spark.implicits._
    // 60 rows, only 3 distinct orderCols values → heavy ties; the
    // persisted sort must hand out the same ids on every evaluation
    val ties = (0 until 60).map(i => (s"text_$i", s"src_${i % 3}", 1, 1, 1))
      .toDF("text", "source", "page_number", "paragraph_number", "total_pages")
    val withIds = ChunkStore.withPositionalIds(ties, Seq("source"))
    val first = withIds.select("text", "id").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val second = withIds.select("text", "id").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(first == second, "ids changed between materializations")
    assert(first.values.toSet == (0 until 60).map(i => s"chunk_$i").toSet)
  }

  test("S5: addDocuments is a NO-OP when the store is non-empty (reference guard)") {
    val store = tmp() + "/store"
    assert(ChunkStore.addDocuments(spark, sampleChunks(), store, Seq("source", "text")))
    val n1 = spark.read.parquet(store).count()
    // second add must be refused and leave the store untouched
    assert(!ChunkStore.addDocuments(spark, sampleChunks(), store, Seq("source", "text")))
    assert(spark.read.parquet(store).count() == n1)
  }

  test("S6: reset empties the store; a subsequent add succeeds again") {
    val store = tmp() + "/store"
    assert(ChunkStore.addDocuments(spark, sampleChunks(), store, Seq("source", "text")))
    val schema = spark.read.parquet(store).schema
    ChunkStore.reset(spark, store, schema)
    assert(spark.read.parquet(store).count() == 0)
    assert(ChunkStore.addDocuments(spark, sampleChunks(), store, Seq("source", "text")))
    assert(spark.read.parquet(store).count() == 4)
  }

  test("S5: store entries have stringified metadata + store-side embeddings (FIXTURES §1.2)") {
    val store = tmp() + "/store"
    ChunkStore.addDocuments(spark, sampleChunks(), store, Seq("source", "page_number", "text"))
    val df = spark.read.parquet(store)
    assert(df.columns.toSet == Set("id", "text", "metadata", "embedding"))
    val row = df.where("text = 'alpha chunk text'").collect().head
    val meta = row.getAs[Map[String, String]]("metadata")
    assert(meta("page_number") == "1") // stringified, "1" not 1
    assert(meta("source") == "a.pdf")
    assert(meta("chunk_number") == "1")
    val emb = row.getAs[scala.collection.Seq[Double]]("embedding")
    assert(emb.size == 64)
    assert(math.abs(emb.map(x => x * x).sum - 1.0) < 1e-9) // L2-normalized
  }

  test("V3/V4: similaritySearch returns the reference's result shape, ranked") {
    val store = tmp() + "/store"
    ChunkStore.addDocuments(spark, sampleChunks(), store, Seq("source", "page_number", "text"))
    val hits = ChunkStore.similaritySearch(spark, store, "alpha chunk text", topK = 2).collect()
    assert(hits.length == 2)
    assert(hits.head.getAs[String]("text") == "alpha chunk text") // exact match ranks first
    assert(hits.head.getAs[Double]("similarity") > 0.99)
    hits.foreach { h =>
      val s = h.getAs[Double]("similarity")
      assert(s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9)
    }
  }

  test("V1 seam: a custom Embedder round-trips ingest → search") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    // toy embedding space: ASCII codes of the first 4 characters,
    // L2-normalized — nothing like the default hashed tokens (and a
    // space where the sample texts are pairwise distinct), so a pass
    // proves the seam carries the custom space end to end
    object PrefixCodeEmbedder extends Embedder {
      override val dim: Int = 4
      override def embed(text: Column): Column = {
        val counts = array((1 to dim).map(i => ascii(substring(text, i, 1))): _*)
          .cast("array<double>")
        val nrm = sqrt(aggregate(transform(counts, x => x * x), lit(0.0), (acc, v) => acc + v))
        when(nrm === 0.0, counts).otherwise(transform(counts, x => x / nrm))
      }
    }
    val store = tmp() + "/store"
    ChunkStore.addDocuments(spark, sampleChunks(), store, Seq("source", "text"),
      embedder = PrefixCodeEmbedder)
    val stored = spark.read.parquet(store)
    // ingest wrote 4-dim vectors from the CUSTOM space, not 64-dim
    val emb = stored.where("text = 'delta chunk text'").collect().head
      .getAs[scala.collection.Seq[Double]]("embedding")
    assert(emb.size == 4)
    assert(math.abs(emb.map(x => x * x).sum - 1.0) < 1e-9)
    // search with the SAME embedder finds the identical text at sim 1
    val hits = ChunkStore.similaritySearch(spark, store, "delta chunk text",
      topK = 1, embedder = PrefixCodeEmbedder).collect()
    assert(hits.head.getAs[String]("text") == "delta chunk text")
    assert(math.abs(hits.head.getAs[Double]("similarity") - 1.0) < 1e-9)
  }

  test("Q4: answerWithSources composes retrieval, citations, and the stub answer") {
    val store = tmp() + "/store"
    ChunkStore.addDocuments(spark, sampleChunks(), store, Seq("source", "page_number", "text"))
    // NOTE: "delta", not "gamma" — alpha/gamma md5-hash into the same
    // 64-bucket, making their embeddings identical (a legitimate
    // hashed-embedding collision; the tie then breaks by id)
    val resp = graft.operators.Qa.answerWithSources(spark, store, "delta chunk text", topK = 3)
    assert(resp.query == "delta chunk text")
    assert(resp.sources.length == 3)
    assert(resp.sources.head.text == "delta chunk text")
    assert(resp.answer.startsWith("根据资料, delta chunk text"))
    val ctx = graft.operators.Qa.formatContext(resp.sources)
    assert(ctx.contains("[来源1: 文档《b.pdf》第1页第1段]")) // delta is b.pdf page 1
  }

  /** The search as a SQL plan: a one-row query relation, broadcast and
    * cross-joined with the store's files, ordered by similarity then id.
    * Kept here only as the reference the search kernel must match.
    */
  private def crossJoinSearch(store: String, query: String, topK: Int,
                              embedder: Embedder = HashedTokenEmbedder) = {
    import org.apache.spark.sql.functions._
    val q = spark.range(1).select(embedder.embed(lit(query)).as("q_emb"))
    spark.read.parquet(store).crossJoin(broadcast(q))
      .selectExpr("id", "text", "metadata", "cosine_f(embedding, q_emb) AS similarity")
      .orderBy(desc("similarity"), col("id"))
      .limit(topK)
  }

  test("V3/V4: a warm similaritySearch(...).collect() runs no Spark job") {
    val store = tmp() + "/store"
    ChunkStore.addDocuments(spark, sampleChunks(), store, Seq("source", "page_number", "text"))
    ChunkStore.similaritySearch(spark, store, "alpha", topK = 3)
    assert(jobsRunBy(ChunkStore.similaritySearch(spark, store, "beta chunk text", topK = 3)
      .collect(): Unit) == 0)
  }

  test("V3/V4: folded-query search is bit-identical to the broadcast cross-join search") {
    import spark.implicits._
    val words = Seq("alpha", "beta", "gamma", "delta", "chunk", "text", "store", "query")
    val extra = (0 until 40).map { i =>
      (Seq(words(i % 8), words((i * 3 + 1) % 8), words((i * 5 + 2) % 8)).mkString(" "),
        s"c${i % 5}.pdf", i % 7, 1, 7, None: Option[Int])
    }.toDF("text", "source", "page_number", "paragraph_number", "total_pages", "chunk_number")
    val store = tmp() + "/store"
    ChunkStore.addDocuments(spark, sampleChunks().unionByName(extra), store,
      Seq("source", "page_number", "text"))
    // alpha/gamma hash into the same bucket (see the Q4 test): the
    // first two questions tie at the top and break by id
    val questions = Seq("alpha chunk text", "gamma chunk text", "delta chunk text",
      "beta", "chunk text store", "query query alpha", "nothing in common", "  Delta   CHUNK ")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map { r =>
      (r.getAs[String]("id"), r.getAs[String]("text"), r.getAs[Map[String, String]]("metadata"),
        java.lang.Double.doubleToRawLongBits(r.getAs[Double]("similarity")))
    }
    for (q <- questions; k <- Seq(1, 5, 44)) {
      val got = rows(ChunkStore.similaritySearch(spark, store, q, topK = k))
      assert(got.nonEmpty)
      assert(got == rows(crossJoinSearch(store, q, k)), s"question '$q', top-$k")
    }
  }

  /** A search's rows with the similarity's raw bits. */
  private def bits(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map { r =>
    (r.getAs[String]("id"), r.getAs[String]("text"), r.getAs[Map[String, String]]("metadata"),
      Option(r.getAs[java.lang.Double]("similarity")).map(d => java.lang.Double.doubleToRawLongBits(d)))
  }

  test("V3/V4: the search kernel is bit-identical to the cross-join search across partitions, " +
    "ties, null and NaN similarities, k beyond the rows, and an empty store") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // no vector for one stored text and for one question, a zero vector
    // (whose cosine is NaN, which ranks first) for another; the default
    // space otherwise
    object NullingEmbedder extends Embedder {
      override val dim: Int = 64
      override def embed(text: Column): Column =
        when(text.isin("gamma chunk text", "no vector"), lit(null).cast("array<double>"))
          .when(text === "zero vector", array_repeat(lit(0.0), dim))
          .otherwise(HashedTokenEmbedder.embed(text))
    }
    val words = Seq("alpha", "beta", "gamma", "delta", "chunk", "text", "store", "query")
    val extra = (0 until 30).map { i =>
      (Seq(words(i % 8), words((i * 3 + 1) % 8)).mkString(" "), s"c${i % 5}.pdf", i % 7, 1, 7,
        None: Option[Int])
    } ++ Seq(
      // exact ties: the same text, so the same vector, under three ids
      ("beta chunk text", "t1.pdf", 1, 1, 1, None), ("beta chunk text", "t2.pdf", 1, 1, 1, None),
      ("beta chunk text", "t3.pdf", 1, 1, 1, None),
      ("zero vector", "z.pdf", 1, 1, 1, None))
    val chunks = sampleChunks().unionByName(extra.toDF("text", "source", "page_number",
      "paragraph_number", "total_pages", "chunk_number"))
    val store = tmp() + "/store"
    // one store file per range partition
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val was = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try ChunkStore.addDocuments(spark, chunks, store, Seq("source", "page_number", "text"),
      embedder = NullingEmbedder)
    finally spark.conf.set(coalesce, was)
    val files = new java.io.File(store).list().count(f => f.startsWith("part-") && f.endsWith(".parquet"))
    assert(files >= 3, s"$files store files")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // the snapshot is collected from one task per store partition
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet(); ()
      }
    }
    assert(jobsRunBy {
      sc.addSparkListener(l)
      try ChunkStore.search(spark, store, "beta", embedder = NullingEmbedder)
      finally sc.removeSparkListener(l)
    } == 1)
    assert(tasks.get >= 3, s"the snapshot was collected by ${tasks.get} tasks")
    val questions = Seq("beta chunk text", "alpha chunk text", "no vector", "zero vector",
      "delta query", "gamma chunk text")
    for (q <- questions; k <- Seq(0, 1, 3, 5, 100)) {
      val got = bits(ChunkStore.similaritySearch(spark, store, q, topK = k, embedder = NullingEmbedder))
      assert(got.size == math.min(k, 4 + extra.size), s"question '$q', top-$k")
      assert(got == bits(crossJoinSearch(store, q, k, NullingEmbedder)), s"question '$q', top-$k")
      // with a query vector and a non-zero one, the zero row's NaN leads
      if (k > 0 && !Set("no vector", "gamma chunk text", "zero vector")(q))
        assert(got.head._2 == "zero vector", s"NaN does not rank first for '$q'")
    }
    assert(sc.getPersistentRDDs.keySet == before, "a search persisted an RDD")
    ChunkStore.reset(spark, store, ChunkStore.storeSchema)
    for (k <- Seq(1, 5)) {
      val got = bits(ChunkStore.similaritySearch(spark, store, "beta", topK = k, embedder = NullingEmbedder))
      assert(got.isEmpty && got == bits(crossJoinSearch(store, "beta", k, NullingEmbedder)))
    }
  }

  test("V3: a query embedder that does not resolve, or is not array<double>, raises naming it") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    // builds the store in the default space, then turns
    object TurningEmbedder extends Embedder {
      @volatile var mode = "double"
      override val dim: Int = 64
      override def embed(text: Column): Column = mode match {
        case "double" => HashedTokenEmbedder.embed(text)
        case "float" => array(length(text).cast("float"))
        case _ => col("no_such_column")
      }
    }
    val store = tmp() + "/store"
    ChunkStore.addDocuments(spark, sampleChunks(), store, Seq("source", "text"),
      embedder = TurningEmbedder)
    val name = TurningEmbedder.getClass.getName.stripSuffix("$")
    TurningEmbedder.mode = "float"
    val float = intercept[IllegalArgumentException](hits(store, "alpha", TurningEmbedder))
    assert(float.getMessage.contains(name) && float.getMessage.contains("array<float>"), float.getMessage)
    TurningEmbedder.mode = "unresolved"
    val unresolved = intercept[IllegalArgumentException](hits(store, "alpha", TurningEmbedder))
    assert(unresolved.getMessage.contains(name) && unresolved.getMessage.contains("no_such_column"),
      unresolved.getMessage)
    TurningEmbedder.mode = "double"
    assert(hits(store, "alpha", TurningEmbedder) == Set("alpha chunk text", "beta chunk text",
      "gamma chunk text", "delta chunk text"))
  }

  test("Q4: concurrent answers over one store equal the sequential ones and run no job warm") {
    val store = tmp() + "/store"
    ChunkStore.addDocuments(spark, sampleChunks(), store, Seq("source", "page_number", "text"))
    val questions = Seq("alpha chunk text", "beta", "gamma chunk", "delta chunk text", "text",
      "nothing in common", "chunk")
    def ask(i: Int) = operators.Qa.answerWithSources(spark, store, questions(i % questions.size),
      topK = 1 + i % 4)
    val want = (0 until 200).map(ask)
    val got = new java.util.concurrent.ConcurrentHashMap[Int, operators.Qa.Response]
    val jobs = jobsRunBy {
      val threads = (0 until 4).map { t =>
        new Thread(() => (t * 50 until (t + 1) * 50).foreach(i => got.put(i, ask(i))))
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    assert(got.size == 200, s"${200 - got.size} answers missing")
    assert((0 until 200).map(got.get) == want)
    assert(jobs == 0, s"warm concurrent answers ran $jobs jobs")
  }

  test("V3/V4: searching a missing store path throws, not an empty answer") {
    val missing = tmp() + "/no_such_store"
    intercept[Exception](ChunkStore.similaritySearch(spark, missing, "alpha").collect())
  }

  test("S5: addDocuments refuses an embedder whose type is not the store's array<double>") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    object FloatEmbedder extends Embedder {
      override val dim: Int = 1
      override def embed(text: Column): Column = array(length(text).cast("float"))
    }
    val store = tmp() + "/store"
    val e = intercept[IllegalArgumentException](
      ChunkStore.addDocuments(spark, sampleChunks(), store, Seq("source", "text"),
        embedder = FloatEmbedder))
    assert(e.getMessage.contains("array<float>"))
    assert(!new java.io.File(store).exists())
  }

  test("S5: a store holding a corrupt parquet file makes addDocuments throw, untouched") {
    val store = tmp() + "/store"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(store))
    java.nio.file.Files.write(java.nio.file.Paths.get(store, "part-00000-corrupt.parquet"),
      "this is not a parquet file".getBytes("UTF-8"))
    def listing() = new java.io.File(store).listFiles().toSeq
      .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).sortBy(_._1)
    val before = listing()
    intercept[Exception](
      ChunkStore.addDocuments(spark, sampleChunks(), store, Seq("source", "text")))
    assert(listing() == before, "an unreadable store was written to")
  }

  /** Every file under `dir`, hidden ones included, with the SHA-256 of
    * its bytes.
    */
  private def tree(dir: String): Map[String, String] = {
    val root = java.nio.file.Paths.get(dir)
    def sha(f: java.nio.file.Path) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(java.nio.file.Files.readAllBytes(f)).map("%02x".format(_)).mkString
    scala.util.Using.resource(java.nio.file.Files.walk(root)) { w =>
      w.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => root.relativize(f).toString -> sha(f)).toMap
    }
  }

  /** `after` holds the files of `before`, byte for byte: the same names,
    * then the same SHA-256 per file; a failure names what differs.
    */
  private def assertSameTree(before: Map[String, String], after: Map[String, String],
                             what: String): Unit = {
    val (added, lost) = (after.keySet -- before.keySet, before.keySet -- after.keySet)
    assert(added.isEmpty && lost.isEmpty,
      s"$what: files added ${added.toSeq.sorted.mkString(", ")}; lost ${lost.toSeq.sorted.mkString(", ")}")
    val changed = before.keys.toSeq.sorted.filter(f => before(f) != after(f))
      .map(f => s"$f ${before(f)} -> ${after(f)}")
    assert(changed.isEmpty, s"$what: ${changed.mkString("; ")}")
  }

  private def hits(store: String, q: String, embedder: Embedder = HashedTokenEmbedder) =
    ChunkStore.similaritySearch(spark, store, q, topK = 10, embedder = embedder)
      .collect().map(_.getAs[String]("text")).toSet

  test("S5/S6: a build that fails mid-way leaves no store, or the reset store byte-identical") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    // the third row raises: in the chunk frame (before the write), and
    // in the embedder (inside the write job)
    val failingChunks = sampleChunks().withColumn("text",
      when(col("text") === "gamma chunk text", raise_error(lit("third row"))).otherwise(col("text")))
    object FailingEmbedder extends Embedder {
      override val dim: Int = 64
      override def embed(text: Column): Column =
        when(text === "gamma chunk text", raise_error(lit("third row")))
          .otherwise(HashedTokenEmbedder.embed(text))
    }
    val failures = Seq[String => Unit](
      store => ChunkStore.addDocuments(spark, failingChunks, store, Seq("source", "text")),
      store => ChunkStore.addDocuments(spark, sampleChunks(), store, Seq("source", "text"),
        embedder = FailingEmbedder))
    for (fail <- failures) {
      val fresh = tmp()
      intercept[Exception](fail(s"$fresh/store"))
      assert(new java.io.File(fresh).list().isEmpty, "a failed build left a store or its staging dir")

      val base = tmp()
      val store = s"$base/store"
      assert(ChunkStore.addDocuments(spark, sampleChunks(), store, Seq("source", "text")))
      ChunkStore.reset(spark, store, ChunkStore.storeSchema)
      val before = tree(base)
      intercept[Exception](fail(store))
      assertSameTree(before, tree(base), "a failed build changed the reset store")
    }
  }

  test("S5/S6: add → search → reset → search finds nothing → add → search finds the new rows") {
    import spark.implicits._
    val store = tmp() + "/store"
    ChunkStore.addDocuments(spark, sampleChunks(), store, Seq("source", "text"))
    assert(hits(store, "alpha chunk text") == sampleChunks().select("text").as[String].collect().toSet)
    ChunkStore.reset(spark, store, ChunkStore.storeSchema)
    assert(hits(store, "alpha chunk text").isEmpty)
    val other = Seq(("epsilon words here", "c.pdf"), ("zeta words there", "c.pdf")).toDF("text", "source")
    assert(ChunkStore.addDocuments(spark, other, store, Seq("source", "text")))
    assert(hits(store, "zeta words") == Set("epsilon words here", "zeta words there"))
  }

  test("V3: no search persists an RDD; after reset and add it serves only the new rows") {
    import spark.implicits._
    val sc = spark.sparkContext
    val store = tmp() + "/store"
    ChunkStore.addDocuments(spark, sampleChunks(), store, Seq("source", "text"))
    val persisted = () => sc.getPersistentRDDs.keySet.toSet
    val before = persisted()
    assert(hits(store, "alpha") == sampleChunks().select("text").as[String].collect().toSet)
    assert(persisted() == before, "the first search persisted an RDD")
    hits(store, "beta")
    assert(persisted() == before, "a warm search persisted an RDD")
    ChunkStore.reset(spark, store, ChunkStore.storeSchema)
    ChunkStore.addDocuments(spark, Seq(("eta", "d.pdf")).toDF("text", "source"), store, Seq("source"))
    val reset = persisted()
    assert(hits(store, "eta") == Set("eta"))
    assert(persisted() == reset, "the new version's search persisted an RDD")
  }

  test("V3: a snapshot build that fails raises, persists nothing, and the rebuilt store answers") {
    import spark.implicits._
    val sc = spark.sparkContext
    val store = tmp() + "/store"
    ChunkStore.addDocuments(spark, sampleChunks(), store, Seq("source", "text"))
    val part = new java.io.File(store).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.write(part.toPath, "this is not a parquet file".getBytes("UTF-8"))
    val before = sc.getPersistentRDDs.keySet.toSet
    for (_ <- 1 to 2) {
      intercept[Exception](hits(store, "alpha"))
      assert(sc.getPersistentRDDs.keySet == before, "a failed snapshot build left an RDD persisted")
    }
    ChunkStore.reset(spark, store, ChunkStore.storeSchema)
    val other = Seq(("epsilon words here", "c.pdf"), ("zeta words there", "c.pdf")).toDF("text", "source")
    assert(ChunkStore.addDocuments(spark, other, store, Seq("source", "text")))
    assert(hits(store, "zeta words") == Set("epsilon words here", "zeta words there"))
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("S5/S6: a commit whose final rename fails puts the prior store back, byte-identical") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.failrename.impl", classOf[ChunkStoreSpec.FailingRenameFs].getName)
    val base = tmp()
    val store = s"$base/store"
    assert(ChunkStore.addDocuments(spark, sampleChunks(), store, Seq("source", "text")))
    val failures = Seq[() => Unit](
      // the version a reset drops
      () => ChunkStore.reset(spark, s"failrename://$store", ChunkStore.storeSchema),
      // the empty store a reset left
      () => ChunkStore.addDocuments(spark, sampleChunks(), s"failrename://$store",
        Seq("source", "text")))
    for (fail <- failures) {
      val before = tree(base)
      intercept[java.io.IOException](fail())
      assertSameTree(before, tree(base), "a failed rename lost the prior store or left a sibling")
      ChunkStore.reset(spark, store, ChunkStore.storeSchema)
    }
  }

  test("V3/S5: a store without _COMMIT raises on search and on add; so does a search with another embedder, naming both") {
    val bare = tmp() + "/bare"
    spark.createDataFrame(java.util.List.of(
      Row("chunk_0", "alpha", Map("source" -> "a.pdf"), Seq.fill(64)(0.125))), ChunkStore.storeSchema)
      .write.parquet(bare)
    val missing = intercept[IllegalStateException](ChunkStore.similaritySearch(spark, bare, "alpha"))
    assert(missing.getMessage.contains("_COMMIT"))
    // the add guard sees what search sees: rows without a token are not
    // "already indexed"; the add raises and writes nothing
    val before = tree(bare)
    val unindexed = intercept[IllegalStateException](
      ChunkStore.addDocuments(spark, sampleChunks(), bare, Seq("source", "text")))
    assert(unindexed.getMessage.contains("_COMMIT"), unindexed.getMessage)
    assertSameTree(before, tree(bare), "an uncommitted store was written to")
    ChunkStore.reset(spark, bare, ChunkStore.storeSchema)
    assert(ChunkStore.addDocuments(spark, sampleChunks(), bare, Seq("source", "text")))

    import org.apache.spark.sql.Column
    object OtherEmbedder extends Embedder {
      override val dim: Int = 64
      override def embed(text: Column): Column = HashedTokenEmbedder.embed(text)
    }
    val store = tmp() + "/store"
    ChunkStore.addDocuments(spark, sampleChunks(), store, Seq("source", "text"))
    val e = intercept[IllegalArgumentException](hits(store, "alpha", OtherEmbedder))
    assert(e.getMessage.contains("graft.HashedTokenEmbedder"), e.getMessage)
    assert(e.getMessage.contains(OtherEmbedder.getClass.getName.stripSuffix("$")), e.getMessage)
  }

  test("V3: the first search of a new store version runs exactly one Spark job") {
    import spark.implicits._
    val store = tmp() + "/store"
    ChunkStore.addDocuments(spark, sampleChunks(), store, Seq("source", "text"))
    assert(jobsRunBy(hits(store, "alpha"): Unit) == 1)
    ChunkStore.reset(spark, store, ChunkStore.storeSchema)
    ChunkStore.addDocuments(spark, Seq(("theta", "e.pdf")).toDF("text", "source"), store, Seq("source"))
    var got = Set.empty[String]
    assert(jobsRunBy { got = hits(store, "theta") } == 1)
    assert(got == Set("theta"))
  }

  test("S5: forced rebuilds leave nothing in the CacheManager and no persisted RDD") {
    import org.apache.spark.sql.functions.col
    val work = tmp()
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Pipeline.setupKnowledgeBase(spark, docs, work, forceRebuild = true)
    Pipeline.setupKnowledgeBase(spark, docs, work, forceRebuild = true)
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before == Set.empty[Int])
    // the sorted chunk table withPositionalIds builds for Pipeline's add
    val order = Seq("source", "page_number", "text").map(col)
    val sorted = ChunkStore.readCsv(spark, s"$work/extracted_csv")
      .repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    assert(cacheManager.lookupCachedData(
      sorted.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty)
  }

  test("S7/S8: JSON dump writes id/text rows; stats counts them") {
    val store = tmp() + "/store"
    ChunkStore.addDocuments(spark, sampleChunks(), store, Seq("source", "text"))
    val df = spark.read.parquet(store)
    val out = tmp() + "/dump"
    ChunkStore.dumpJson(df.select("id", "text"), out)
    assert(spark.read.json(out).count() == 4)
    assert(ChunkStore.stats(df, "graft_vectors") == (4L, "graft_vectors"))
  }

  test("S10: compaction shrinks the file count, keeps every row byte-identical") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .selectExpr("doc_id", "lang", "text")
    val base = tmp()
    docs.repartition(64).write.parquet(s"$base/small")
    spark.read.parquet(s"$base/small")
      .repartition(4).write.parquet(s"$base/compact")
    def parts(p: String) = new java.io.File(p).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts(s"$base/small") == 64)
    assert(parts(s"$base/compact") == 4)
    // identical multiset of rows either side of the rewrite
    val a = spark.read.parquet(s"$base/small").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val b = spark.read.parquet(s"$base/compact").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(a.sameElements(b))
  }
}

object ChunkStoreSpec {
  /** The local file system under a `failrename://` scheme, whose rename
    * of a store's staging directory into place fails.
    */
  class FailingRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create("failrename:///")
    override def getScheme: String = "failrename"
    override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
      !src.getName.contains(".staging-") && super.rename(src, dst)
  }
}
