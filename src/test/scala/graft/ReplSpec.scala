package graft

/** P5 end-to-end: a scripted stdin session drives the REAL interactive
  * loop against a populated vector store, and the captured console
  * transcript is golden-checked byte for byte against the reference's
  * banners and answer format (`/root/reference/src/main.py:84-103`:
  * the `====` banner block, the `请输入问题: ` prompt, `回答:` + answer
  * only — sources are returned but never printed — and the farewell).
  */
class ReplSpec extends SparkSpec {

  test("scripted stdin session over a populated store matches the console golden") {
    import spark.implicits._
    val work = SparkSpec.tmpDir("graft_repl_spec").toString
    val docs = Seq(
      (1L, "数据工程课程介绍分布式查询引擎与大规模语料处理方法", "s1"),
      (2L, "another readable document with enough characters to index", "s2"))
      .toDF("doc_id", "text", "source")
    Pipeline.setupKnowledgeBase(spark, docs, work)
    val store = s"$work/vector_store"

    val question = "课程介绍什么内容"
    // the deterministic extractive stub makes the printed answer exactly
    // reproducible from the same store + query
    val expected = operators.Qa.answerWithSources(spark, store, question, topK = 5)
    assert(expected.sources.nonEmpty, "store must retrieve sources")
    assert(expected.answer.startsWith("根据资料, "))

    val in = new java.io.ByteArrayInputStream(
      s"$question\nexit\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
      Console.withIn(new java.io.InputStreamReader(
        in, java.nio.charset.StandardCharsets.UTF_8)) {
        Repl.interactiveQa(spark, store)
      }
    }
    val got = bos.toString("UTF-8")
    val banner = "\n" + "=" * 50 + "\n智能数据工程课程知识问答系统\n" + "=" * 50 +
      "\n输入问题与课程内容进行交互，输入 'exit' 或 'quit' 退出\n"
    assert(got ==
      banner +
      "\n请输入问题: " + // consumed the question
      "\n回答:\n" + expected.answer + "\n" +
      "\n请输入问题: " + // consumed the exit token
      "谢谢使用，再见！\n")
  }
}
