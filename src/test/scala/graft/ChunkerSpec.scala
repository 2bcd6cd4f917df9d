package graft

import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the C1 chunker (FIXTURES.md §1.5): the shipped
  * `Chunker.chunk` is compared row-for-row against an independent Scala
  * model of the reference semantics (`src/pdf_extractor.py:43-55`), and
  * the chunk invariants are asserted over a generated corpus.
  */
class ChunkerSpec extends SparkSpec {

  /** Independent model of the reference chunker: clean → filter →
    * chunk. Mirrors Python slicing text[i:i+500] for i in
    * range(0, len, 450), dropping split chunks < 50 chars.
    */
  private def model(raw: String): Seq[(Option[Int], String)] = {
    val t = raw.replaceAll("\\s{2,}", " ").trim
    if (t.length < 10) Seq.empty
    else if (t.length <= 500) Seq((None, t))
    else (0 until t.length by 450).iterator
      .map(i => (i / 450 + 1, t.substring(i, math.min(i + 500, t.length))))
      .filter(_._2.length >= 50)
      .map { case (n, c) => (Some(n), c) }
      .toSeq
  }

  private val corpus: Seq[String] = {
    val rnd = new scala.util.Random(42)
    val words = Seq("spark", "数据", "join", "流", "hash", "sort", "表", "scan", "query", "批")
    val ws = Seq(" ", "  ", "\t", "   ")
    (0 until 300).map { i =>
      val n = rnd.nextInt(220) // up to ~1400 chars → multi-chunk
      (0 until n).map(_ => words(rnd.nextInt(words.size)) + ws(rnd.nextInt(ws.size)))
        .mkString
    } ++ Seq("", "   ", "short", "x" * 500, "y" * 501, "z" * 950, "w" * 951, "v" * 1000)
  }

  private lazy val results: Map[Long, Seq[(Option[Int], String)]] = {
    import spark.implicits._
    val df = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = operators.Chunker.chunk(df, "doc_id")
      .select("doc_id", "chunk_number", "chunk_text")
      .collect()
      .map(r => (r.getLong(0), (Option(r.get(1)).map(_.asInstanceOf[Int]), r.getString(2))))
      .toSeq
    out.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }

  test("Spark chunker matches the reference model on every generated doc") {
    corpus.zipWithIndex.foreach { case (text, i) =>
      val expected = model(text)
      val got = results.getOrElse(i.toLong, Seq.empty)
      assert(got.sortBy(_._1.getOrElse(0)) == expected.sortBy(_._1.getOrElse(0)),
        s"doc $i (len ${text.length})")
    }
  }

  test("invariants: chunk sizes, stride overlap, dense numbering") {
    results.foreach { case (id, chunks) =>
      chunks.foreach { case (_, c) => assert(c.length <= 500, s"doc $id chunk > 500") }
      val split = chunks.collect { case (Some(n), c) => (n, c) }.sortBy(_._1)
      if (split.nonEmpty) {
        // dense 1-based numbering
        assert(split.map(_._1) == (1 to split.size), s"doc $id numbering")
        // all split chunks >= 50
        split.foreach { case (_, c) => assert(c.length >= 50, s"doc $id short chunk") }
        // consecutive full chunks share exactly 50 chars
        split.sliding(2).foreach {
          case Seq((_, a), (_, b)) if a.length == 500 =>
            assert(a.takeRight(50) == b.take(50), s"doc $id overlap")
          case _ => ()
        }
      }
      // unsplit chunk ⇔ cleaned text ≤ 500
      chunks.collect { case (None, c) => assert(c.length <= 500 && c.length >= 10) }
    }
  }

  test("reconstruction: dropping the 50-char overlap rebuilds a prefix of the text") {
    results.foreach { case (id, chunks) =>
      val split = chunks.collect { case (Some(n), c) => (n, c) }.sortBy(_._1)
      if (split.size > 1) {
        val rebuilt = split.head._2 + split.tail.map(_._2.drop(50)).mkString
        val original = corpus(id.toInt).replaceAll("\\s{2,}", " ").trim
        assert(original.startsWith(rebuilt), s"doc $id reconstruction")
      }
    }
  }
}
