package graft

import graft.operators.Chunker
import graft.sources.ChunkStore
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end ingest orchestration — the engine twin of the reference's
  * `setup_knowledge_base` (`src/main.py:14-78`), stage for stage:
  *
  *   [1/3] extract: documents → [[Chunker.chunk]] (clean E4 → filter
  *         E5 → chunk C1/C2) → CSV sink (S3), SKIPPED if the extracted
  *         output already exists (P1, `src/main.py:27-28`); an
  *         extracted output that cannot be read raises;
  *   [2/3] index: ALWAYS reload chunks from CSV (P4 — the reference
  *         discards the in-memory list and re-reads, dropping
  *         `chunk_number`, `src/main.py:44-68`), then add to the vector
  *         store with positional ids + stringified metadata (S5),
  *         guarded to a no-op when the store is non-empty (P2); a
  *         store with rows but no `_COMMIT` token (built before
  *         stores were committed) raises: rebuild with `forceRebuild`;
  *   [3/3] qa init: nothing to do engine-side (the answerer is a
  *         function, Qa.answer).
  *
  * `forceRebuild` (P3) resets both outputs first (`src/main.py:38-39`).
  * Each stage boundary is a materialization — exactly Spark's natural
  * stage structure; the streaming twin (graft.streaming.Streaming
  * .chunkIngest) replaces the existence guards with a checkpoint.
  */
object Pipeline {

  final case class Result(extracted: Boolean, indexed: Boolean, chunkCount: Long)

  def setupKnowledgeBase(spark: SparkSession, documents: DataFrame, workDir: String,
                         forceRebuild: Boolean = false): Result = {
    val extractedDir = s"$workDir/extracted_csv"
    val storeDir = s"$workDir/vector_store"

    val extracted = new Path(extractedDir)
    val fs = extracted.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (forceRebuild) fs.delete(new Path(workDir), true)

    // ---- [1/3] extract (P1 guard: skip if output exists and non-empty).
    // A missing directory is extracted; a present one is read, and a read
    // that fails (corrupt or half-written files) raises instead of passing
    // for "not extracted yet" and being overwritten.
    val alreadyExtracted =
      fs.exists(extracted) && ChunkStore.readCsv(spark, extractedDir).limit(1).count() > 0

    val extractedNow = if (!alreadyExtracted) {
      val chunks = Chunker.chunk(documents, "doc_id", "source")
        .select(
          col("chunk_text").as("text"),
          col("source"),
          col("doc_id").cast("int").as("page_number"), // doc stands in for page
          lit(1).as("paragraph_number"),
          lit(1).as("total_pages"),
          col("chunk_number"))
      ChunkStore.writeCsv(chunks, extractedDir)
      true
    } else false

    // ---- [2/3] index (P4: ALWAYS re-read from CSV; P2: no-op if store non-empty)
    val reloaded = ChunkStore.readCsv(spark, extractedDir) // drops chunk_number (S4 quirk)
    val indexed = ChunkStore.addDocuments(spark, reloaded, storeDir,
      orderCols = Seq("source", "page_number", "text"))

    // the commit recorded its row count; a store committed before
    // tokens carried one is counted
    val count = ChunkStore.committedRows(spark, storeDir)
      .getOrElse(ChunkStore.readStore(spark, storeDir).count())
    Result(extractedNow, indexed, count)
  }
}
