package graft

import java.nio.file.Files

/** End-to-end pipeline orchestration tests: the reference's three-stage
  * setup with P1/P2 skip guards, P3 force rebuild, and the P4
  * CSV-handoff quirk (chunk_number never reaches the store).
  */
class PipelineSpec extends SparkSpec {

  private def docs() = {
    import spark.implicits._
    Seq(
      (1L, "a readable document with enough characters to survive", "s1"),
      (2L, "x" * 950, "s2"), // splits into 3 chunks
      (3L, "tiny", "s3")) // dropped by E5
      .toDF("doc_id", "text", "source")
  }

  test("cold run extracts + indexes; warm run skips both (P1/P2)") {
    val work = SparkSpec.tmpDir("graft_pipe").toString
    val first = Pipeline.setupKnowledgeBase(spark, docs(), work)
    assert(first.extracted && first.indexed)
    assert(first.chunkCount == 4) // 1 + 3

    val second = Pipeline.setupKnowledgeBase(spark, docs(), work)
    assert(!second.extracted && !second.indexed) // both guards fire
    assert(second.chunkCount == 4)
  }

  test("force rebuild resets and reprocesses (P3)") {
    val work = SparkSpec.tmpDir("graft_pipe").toString
    Pipeline.setupKnowledgeBase(spark, docs(), work)
    val rebuilt = Pipeline.setupKnowledgeBase(spark, docs(), work, forceRebuild = true)
    assert(rebuilt.extracted && rebuilt.indexed)
    assert(rebuilt.chunkCount == 4)
  }

  test("the chunk count is the one the store's _COMMIT token records; a token without it is counted") {
    val work = SparkSpec.tmpDir("graft_pipe")
    Pipeline.setupKnowledgeBase(spark, docs(), work.toString)
    val token = work.resolve("vector_store/_COMMIT")
    val lines = Files.readAllLines(token).toArray.map(_.toString).toSeq
    assert(lines.contains("rows=4"), lines)
    assert(sources.ChunkStore.committedRows(spark, s"$work/vector_store").contains(4L))
    // a token written before commits recorded the count (and its stale
    // checksum file gone)
    Files.delete(work.resolve("vector_store/._COMMIT.crc"))
    Files.write(token, lines.filterNot(_.startsWith("rows=")).mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(sources.ChunkStore.committedRows(spark, s"$work/vector_store").isEmpty)
    assert(Pipeline.setupKnowledgeBase(spark, docs(), work.toString).chunkCount == 4)
    sources.ChunkStore.reset(spark, s"$work/vector_store", sources.ChunkStore.storeSchema)
    assert(sources.ChunkStore.committedRows(spark, s"$work/vector_store").contains(0L))
  }

  test("store rows carry positional ids and NO chunk_number (P4/S4 quirk)") {
    val work = SparkSpec.tmpDir("graft_pipe").toString
    Pipeline.setupKnowledgeBase(spark, docs(), work)
    val store = spark.read.parquet(s"$work/vector_store")
    assert(!store.columns.contains("chunk_number"))
    val ids = store.select("id").collect().map(_.getString(0)).toSet
    assert(ids == Set("chunk_0", "chunk_1", "chunk_2", "chunk_3"))
  }

  test("an unreadable extract raises and is left byte-identical (P1 guard)") {
    val work = SparkSpec.tmpDir("graft_pipe")
    val extracted = Files.createDirectories(work.resolve("extracted_csv"))
    Files.write(extracted.resolve("part-00000.csv.gz"), "not gzip data".getBytes("UTF-8"))
    def listing() = extracted.toFile.listFiles().toSeq
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).sortBy(_._1)
    val before = listing()
    intercept[Exception](Pipeline.setupKnowledgeBase(spark, docs(), work.toString))
    assert(listing() == before, "an unreadable extract was overwritten")
  }
}
