package graft.operators

import graft.{Fns, QueryDef, Tables}
import org.apache.spark.sql.DataFrame

/** C1/C2 — the reference's core reshaping operator: fixed-size
  * overlapping chunking with metadata enrichment.
  *
  * Reference semantics (`src/pdf_extractor.py:43-55`, params
  * chunk_size=500 / overlap=50 / stride=450 at `:15`):
  *   - text length <= 500  → ONE chunk, `chunk_number` absent (null);
  *   - else windows start at i = 0, 450, 900, … (i < len),
  *     chunk = text[i : i+500], `chunk_number = i/450 + 1`,
  *     trailing chunks shorter than 50 chars are dropped (`:50-51`).
  *
  * Implementation is pure Catalyst SQL — `sequence` → `transform` →
  * `filter` → `inline` — no UDF, fully parallel per row, zero shuffle:
  * the plan is a single narrow map over the parquet scan, which is
  * exactly what you want when the input is 100 TB of documents.
  * Upstream: E4 clean + E5 min-length filter (pushed to the scan).
  */
object Chunker {
  val ChunkSize = 500
  val Overlap = 50
  val Stride: Int = ChunkSize - Overlap // 450
  val MinChunk = 50
  val MinParagraph = 10

  /** C1, the one definition of chunking: clean (E4) → drop cleaned
    * texts shorter than [[MinParagraph]] (E5) → one row per window.
    * `docs` needs a `text` column; the result keeps the `keep` columns
    * and adds `tc` (the cleaned text), `chunk_number` and `chunk_text`.
    * Works on batch and streaming frames alike.
    */
  def chunk(docs: DataFrame, keep: String*): DataFrame =
    docs
      .selectExpr(keep :+ s"${Fns.cleanTextSql("text")} AS tc": _*)
      .where(s"length(tc) >= $MinParagraph")
      .selectExpr(keep ++ Seq("tc",
        s"""inline(CASE WHEN length(tc) <= $ChunkSize
           |            THEN array(named_struct('chunk_number', cast(null AS int), 'chunk_text', tc))
           |            ELSE filter(
           |                   transform(sequence(0, length(tc) - 1, $Stride),
           |                             i -> named_struct('chunk_number', cast(i div $Stride + 1 AS int),
           |                                               'chunk_text', substring(tc, i + 1, $ChunkSize))),
           |                   s -> length(s.chunk_text) >= $MinChunk)
           |       END)""".stripMargin): _*)

  /** [[chunk]] in DuckDB over `documents`, as the CTE pair `ok` (the
    * cleaned `tc` of every kept document) and `chunks` (the `keep`
    * columns, `tc`, `chunk_number`, `chunk_text` — what [[chunk]] gives
    * in Spark), without the leading `WITH`. Every chunk oracle reads it.
    */
  def chunkCte(keep: String*): String = {
    val k = keep.mkString(", ")
    s"""ok AS (
          SELECT $k, ${Fns.cleanTextDuck("text")} AS tc
          FROM documents
          WHERE length(${Fns.cleanTextDuck("text")}) >= $MinParagraph
        ), chunks AS (
          SELECT $k, tc, NULL::INT AS chunk_number, tc AS chunk_text
          FROM ok WHERE length(tc) <= $ChunkSize
          UNION ALL
          SELECT $k, tc, (i // $Stride + 1)::INT AS chunk_number,
                 substring(tc, i + 1, $ChunkSize) AS chunk_text
          FROM ok, LATERAL (SELECT unnest(generate_series(0, length(tc) - 1, $Stride)) AS i) g
          WHERE length(tc) > $ChunkSize
            AND length(substring(tc, i + 1, $ChunkSize)) >= $MinChunk
        )"""
  }

  /** The oracle of `c1_chunk` and of its streaming twin `st_chunk_ingest`. */
  val chunkOracle: String = s"""
        WITH ${chunkCte("doc_id")}
        SELECT doc_id, chunk_number, chunk_text FROM chunks"""

  def queries: Seq[QueryDef] = Seq(
    // ---------------------------------------------------------------- C1
    QueryDef(
      "c1_chunk",
      (spark, dir) =>
        chunk(Tables.documents(spark, dir), "doc_id").select("doc_id", "chunk_number", "chunk_text"),
      Some(chunkOracle),
      bench = true),

    // ---------------------------------------------------------------- C2
    // Metadata enrichment + per-document fan-out accounting: source /
    // n_chars carried through, total_chunks via a window keyed by the
    // chunk's own document (narrow after the chunk explode; the window
    // shuffles on doc_id — at scale this stays balanced because doc_id
    // is unique and high-cardinality).
    QueryDef(
      "c2_chunk_meta",
      (spark, dir) =>
        chunk(Tables.documents(spark, dir), "doc_id", "source")
          .selectExpr(
            "doc_id", "source",
            "cast(length(tc) AS bigint) AS char_len",
            "chunk_number",
            "cast(length(chunk_text) AS bigint) AS chunk_len")
          .withColumn(
            "total_chunks",
            org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1))
              .over(org.apache.spark.sql.expressions.Window.partitionBy("doc_id"))),
      Some(s"""
        WITH ${chunkCte("doc_id", "source")}
        SELECT doc_id, source, length(tc)::BIGINT AS char_len, chunk_number,
               length(chunk_text)::BIGINT AS chunk_len,
               count(*) OVER (PARTITION BY doc_id) AS total_chunks
        FROM chunks"""))
  )
}
