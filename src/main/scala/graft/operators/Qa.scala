package graft.operators

import graft.{Fns, QueryDef, Tables}

/** QA / answer-generation layer (SURVEY.md §2.5).
  *
  * Retrieval is a deterministic token-overlap score against a fixed
  * query string (the engine's model-free relevance stand-in — same
  * geometry as V3, fully oracle-checkable); context formatting
  * reproduces the reference's Chinese citation template
  * (`src/qa_system.py:22-39`), answer generation is the deterministic
  * extractive stub (the reference's LLM call is an external side effect
  * — SURVEY §2.5 Q3 — pluggable behind [[graft.operators.Qa.answer]]).
  */
object Qa {

  /** Fixed natural-language query used by the oracle-checkable QA
    * queries (word-soup-compatible).
    */
  val Query = "spark hash join merge sort"
  private val TopK = 5

  /** Ranked retrieval CTE shared by the Spark side: top-5 docs by token
    * overlap with [[Query]], tie-broken by doc_id.
    */
  private def retrieved(spark: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "source", s"${Fns.cleanTextSql("text")} AS tc")
      .selectExpr(
        "doc_id", "source", "tc",
        s"""cast(size(array_intersect(split(tc, ' '), split('$Query', ' '))) AS bigint) AS score""")
      // top-k FIRST via orderBy+limit (TakeOrderedAndProject: per-
      // partition heaps, no global sort); the rank window then runs
      // over k rows instead of single-partitioning the whole corpus
      .orderBy(org.apache.spark.sql.functions.desc("score"), org.apache.spark.sql.functions.col("doc_id"))
      .limit(TopK)
      .selectExpr(
        "doc_id", "source", "tc", "score",
        "cast(row_number() OVER (ORDER BY score DESC, doc_id) AS bigint) AS rn")

  private val retrievedSql: String =
    s"""SELECT doc_id, source, tc, score, rn FROM (
       |  SELECT doc_id, source, tc, score,
       |         row_number() OVER (ORDER BY score DESC, doc_id)::BIGINT AS rn
       |  FROM (
       |    SELECT doc_id, source, tc,
       |           len(list_intersect(string_split(tc, ' '), string_split('$Query', ' ')))::BIGINT AS score
       |    FROM (SELECT doc_id, source, ${Fns.cleanTextDuck("text")} AS tc
       |          FROM documents)))
       |WHERE rn <= $TopK""".stripMargin

  def queries: Seq[QueryDef] = Seq(
    // ---------------------------------------------------- Q1 context agg
    // The reference's citation template `[来源{i}: 文档《{source}》第{page}页
    // 第{par}段]\n{text}\n` joined with '\n' (src/qa_system.py:34,39).
    // documents has no page/paragraph — doc_id stands in for page, 1 for
    // paragraph. Ordered string-agg: collect (rn, line) structs, sort,
    // join — the one true window + string-agg operator of the system.
    QueryDef(
      "q1_context",
      (spark, dir) =>
        retrieved(spark, dir)
          .selectExpr(
            "rn",
            """concat('[来源', cast(rn AS string), ': 文档《', source, '》第',
                      cast(doc_id AS string), '页第1段]\n', tc, '\n') AS line""")
          .groupBy()
          .agg(org.apache.spark.sql.functions.expr(
            "array_join(transform(array_sort(collect_list(named_struct('rn', rn, 'line', line))), s -> s.line), '\n') AS context"))
          .selectExpr(s"'$Query' AS query", "context"),
      Some(s"""
        WITH r AS ($retrievedSql)
        SELECT '$Query' AS query,
               string_agg(line, chr(10) ORDER BY rn) AS context
        FROM (SELECT rn,
                     '[来源' || rn || ': 文档《' || source || '》第' || doc_id || '页第1段]' || chr(10)
                     || tc || chr(10) AS line
              FROM r)""")),

    // ------------------------------------------------- Q4 answer+sources
    // One row per retrieved source: rank, citation fields, score, plus
    // the deterministic extractive answer (stub for the reference's LLM
    // call — Q3): first 200 chars of the top document, prefixed with the
    // grounding banner. Error-as-answer semantics live in Qa.answer.
    QueryDef(
      "q4_answer_sources",
      (spark, dir) => {
        val r = retrieved(spark, dir)
        r.selectExpr("doc_id", "source", "tc", "score", "rn")
          .selectExpr(
            s"'$Query' AS query",
            "rn", "doc_id", "source", "score",
            """first_value(concat('根据资料, ', substring(tc, 1, 200)))
                 OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS answer""")
      },
      Some(s"""
        WITH r AS ($retrievedSql)
        SELECT '$Query' AS query, rn, doc_id, source, score,
               first_value('根据资料, ' || substring(tc, 1, 200))
                 OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS answer
        FROM r""")),

    // --------------------------------------------------- Q2 prompt build
    // System + user template assembly (src/qa_system.py:52-66): a pure
    // projection — the point is the template fidelity.
    QueryDef(
      "q2_prompt",
      (spark, dir) =>
        retrieved(spark, dir)
          .selectExpr("rn", "concat('[来源', cast(rn AS string), '] ', tc) AS line")
          .groupBy()
          .agg(org.apache.spark.sql.functions.expr(
            "array_join(transform(array_sort(collect_list(named_struct('rn', rn, 'line', line))), s -> s.line), '\n') AS ctx"))
          .selectExpr(
            s"'$Query' AS query",
            s"""concat('你是一个课程知识问答助手。请严格基于提供的资料回答问题。\n\n资料:\n',
                       ctx, '\n\n问题: ', '$Query', '\n请基于上述资料回答:') AS prompt"""),
      Some(s"""
        WITH r AS ($retrievedSql)
        SELECT '$Query' AS query,
               '你是一个课程知识问答助手。请严格基于提供的资料回答问题。' || chr(10) || chr(10) || '资料:' || chr(10)
               || string_agg('[来源' || rn || '] ' || tc, chr(10) ORDER BY rn)
               || chr(10) || chr(10) || '问题: ' || '$Query' || chr(10) || '请基于上述资料回答:' AS prompt
        FROM r"""))
  )

  /** Q3: pluggable answerer with the reference's error-as-answer
    * semantics (`src/qa_system.py:106-109`): any failure becomes the
    * answer string instead of an exception.
    */
  def answer(generate: String => String)(prompt: String): String =
    try generate(prompt)
    catch { case e: Exception => s"抱歉，生成回答时出现错误: ${e.getMessage}" }

  // ------------------------------------------------- Q4 full query path
  // answer_with_sources (`src/qa_system.py:111-138`): retrieve top-k →
  // format citations → generate → response struct. The library twin of
  // the oracle-checked q1/q2/q4 queries, operating over a real vector
  // store written by ChunkStore.addDocuments.

  final case class Source(text: String, metadata: Map[String, String], similarity: Double)
  final case class Response(query: String, answer: String, sources: Seq[Source])

  /** Q1 — citation context formatting (`src/qa_system.py:22-39`):
    * missing metadata renders as "Unknown".
    */
  def formatContext(sources: Seq[Source]): String =
    sources.zipWithIndex.map { case (s, i) =>
      val src = s.metadata.getOrElse("source", "Unknown")
      val page = s.metadata.getOrElse("page_number", "Unknown")
      val par = s.metadata.getOrElse("paragraph_number", "Unknown")
      s"[来源${i + 1}: 文档《$src》第${page}页第${par}段]\n${s.text}\n"
    }.mkString("\n")

  /** Q2 — prompt assembly (`src/qa_system.py:52-66`). */
  def buildPrompt(context: String, query: String): String =
    s"你是一个课程知识问答助手。请严格基于提供的资料回答问题。\n\n资料:\n$context\n\n问题: $query\n请基于上述资料回答:"

  /** Deterministic extractive stub standing in for the LLM call. */
  def extractiveStub(sources: Seq[Source]): String =
    sources.headOption
      .map(s => s"根据资料, ${s.text.take(200)}")
      .getOrElse("抱歉，没有检索到相关资料。")

  /** Q4 — the reference's whole query lifecycle over a graft vector
    * store: kNN retrieval (after the store's `_COMMIT` token is read and
    * its embedder checked, the search kernel scores the committed
    * snapshot on the calling thread: no Spark job once the version is
    * collected, see [[graft.sources.ChunkStore.search]]), Q1
    * context, Q2 prompt, Q3 answer (stub by default, any generator
    * pluggable), assembled response.
    */
  def answerWithSources(spark: org.apache.spark.sql.SparkSession, storePath: String,
                        query: String, topK: Int = 5,
                        generate: Option[String => String] = None): Response = {
    val rows = graft.sources.ChunkStore.search(spark, storePath, query, topK)
    val sources = rows.map { r =>
      Source(r.getAs[String]("text"), r.getAs[Map[String, String]]("metadata"),
        r.getAs[Double]("similarity"))
    }
    val prompt = buildPrompt(formatContext(sources), query)
    val ans = generate match {
      case Some(g) => answer(g)(prompt)
      case None => extractiveStub(sources)
    }
    Response(query, ans, sources)
  }
}
