package graft

import graft.operators.Chunker
import graft.sources.{ChunkStore, PdfFixtures, PdfText}
import graft.streaming.Streaming
import org.apache.spark.sql.DataFrame

/** The four ways a document becomes chunks — the `c1_chunk` query, the
  * CSV that `Pipeline.setupKnowledgeBase` extracts, the streaming
  * `Streaming.chunkIngest`, and `PdfText.extractChunks` over the same
  * texts written as one-paragraph PDF pages — must produce the same
  * rows, not just the same row counts. The fixture mixes tabs, `\n`,
  * `\r`, space runs and leading/trailing whitespace, and puts cleaned
  * lengths on every C1/E5 boundary: 9 (dropped), 10 (kept), 500 (one
  * chunk), 501 (two), 950 and 951 (three). Its words are Latin-1, so
  * the PDF fixture font can show every one of them.
  */
class ChunkPathsSpec extends SparkSpec {

  private def tmp(): String = SparkSpec.tmpDir("graft_chunks").toString

  /** Cleaned text of length `n`: words joined by single spaces. */
  private def cleaned(n: Int, seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    val words = Seq("spark", "chunk", "daté", "overlap", "q", "window", "ß")
    val t = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ").take(n)
    if (t.endsWith(" ")) t.init + "x" else t
  }

  /** `t` with each space turned into a whitespace run (a run cleans
    * back to one space) and whitespace around it.
    */
  private def dirty(t: String, seed: Int): String = {
    val runs = Seq("  ", "\t\t", " \n", "\r\n", " \t \r ", "   ")
    val rnd = new scala.util.Random(seed)
    val body = t.map {
      case ' ' => runs(rnd.nextInt(runs.size))
      case c => c.toString
    }.mkString
    "\r\n\t  " + body + " \t\n\r"
  }

  private val cleanedLengths = Seq(9, 10, 11, 49, 120, 500, 501, 549, 550, 950, 951, 1000, 1403)

  private def documents(): DataFrame = {
    import spark.implicits._
    val docs = cleanedLengths.zipWithIndex.map { case (n, i) =>
      (i.toLong + 1, dirty(cleaned(n, i), i))
    } ++ Seq(
      // a single whitespace character is not a run: E4 keeps it
      (100L, "\t lone\ttab, lone\nnewline and lone\rreturn stay inside \r\n"),
      (101L, " \t\r\n "),
      (102L, ""))
    docs.map { case (id, text) => (id, text, "en", s"s$id", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def rows(df: DataFrame): Seq[(Long, Option[Int], String)] =
    df.selectExpr("cast(doc_id AS bigint)", "chunk_number", "chunk_text").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Int]), r.getString(2)))
      .toSeq.sortBy(r => (r._1, r._2.getOrElse(0), r._3))

  test("c1_chunk, the Pipeline extract and chunkIngest produce the same chunks") {
    val lengths = documents().collect().map(_.getString(1))
      .map(_.replaceAll("\\s{2,}", " ").replaceAll("^\\s+|\\s+$", "").length).toSet
    assert(Seq(9, 10, 500, 501, 950, 951).forall(lengths.contains), "fixture misses a boundary")

    val dir = tmp()
    documents().write.parquet(s"$dir/documents.parquet")

    val query = rows(Registry.byName("c1_chunk").run(spark, dir))

    val work = tmp()
    Pipeline.setupKnowledgeBase(spark, documents(), work)
    val extracted = rows(spark.read.schema(ChunkStore.chunkSchema)
      .option("header", "true").option("multiLine", "true").option("escape", "\"")
      .csv(s"$work/extracted_csv")
      .selectExpr("page_number AS doc_id", "chunk_number", "text AS chunk_text"))

    val out = s"${tmp()}/out"
    Streaming.chunkIngest(spark, s"$dir/documents.parquet", out, s"${tmp()}/ck")
      .awaitTermination()
    val streamed = rows(spark.read.parquet(out))

    val pdfs = tmp()
    documents().collect().foreach { r =>
      java.nio.file.Files.write(java.nio.file.Paths.get(pdfs, s"${r.getLong(0)}.pdf"),
        PdfFixtures.buildPdf(Seq(PdfFixtures.textPage(r.getString(1))), compress = true))
    }
    val fromPdf = rows(PdfText.extractChunks(spark, pdfs)
      .selectExpr("cast(substring_index(source, '.', 1) AS bigint) AS doc_id", "chunk_number",
        "text AS chunk_text"))

    // per doc: 9 → none, 10/11/49/120/500 → 1, 501/549/550 → 2,
    // 950/951/1000/1403 → 3, 3, 3, 4; plus the lone-whitespace doc
    assert(query.size == 1 * 5 + 2 * 3 + 3 * 3 + 4 + 1)
    assert(query.forall(r => r._3.nonEmpty && r._3.length <= Chunker.ChunkSize))
    assert(extracted == query)
    assert(streamed == query)
    assert(fromPdf == query)
  }
}
