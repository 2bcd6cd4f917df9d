package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Source guards for the shared seams: temp dirs go through
  * [[TmpDirs]], per-session memos through [[SessionMemo]], the
  * streaming twins start their sinks only through the drain seam in
  * `Streaming.scala`, chunking's constants stay in `Chunker.scala`, the
  * PDF fixtures serialize only through their one writer, the vector
  * store is renamed into place and its token written and read only by
  * `ChunkStore`'s commit and token reader, and every materialization
  * (fence or pin) goes through `CheckpointOps`.
  */
class SeamGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** Each line of `p` containing `needle`, with the name of the `def` or
    * registered query (`"name",` on its own line) that encloses it: the
    * nearest one above.
    */
  private def hits(p: Path, needle: String): List[(String, String)] = {
    val Def = """.*\bdef (\w+).*""".r
    val Query = """\s*"(\w+)",\s*""".r
    var owner = "<top>"
    Files.readAllLines(p).asScala.zipWithIndex.toList.flatMap { case (line, i) =>
      line match {
        case Def(n) => owner = n
        case Query(n) => owner = n
        case _ =>
      }
      if (line.contains(needle)) List(s"${p.getFileName}:${i + 1}" -> owner) else Nil
    }
  }

  private def sources: List[Path] = {
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    Using.resource(Files.walk(root))(_.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
  }

  /** Files under `src/main` whose lines contain `needle`. */
  private def filesWith(needle: String): Set[String] =
    sources.flatMap(p => hits(p, needle)).map(_._1.takeWhile(_ != ':')).toSet

  test("Files.createTempDirectory appears in src/main only in TmpDirs and Repl") {
    val stray = sources.flatMap(p => hits(p, "Files.createTempDirectory("))
      .filterNot { case (at, _) => Set("TmpDirs.scala", "Repl.scala")(at.takeWhile(_ != ':')) }
    assert(stray.isEmpty, stray.mkString("\n"))
  }

  test("per-session state lives only in SessionMemo, exit cleanup only in TmpDirs") {
    assert(filesWith("TrieMap") == Set("SessionMemo.scala"))
    assert(filesWith("sparkContext.isStopped") == Set("SessionMemo.scala"))
    assert(filesWith("addShutdownHook") == Set("TmpDirs.scala"))
  }

  test(".writeStream appears in Streaming.scala only in the drain seam and the foreachBatch twins") {
    val file = root.resolve("graft/streaming/Streaming.scala")
    val owners = hits(file, ".writeStream").map(_._2)
    assert(owners.sorted == List("appendParquet", "drainTable", "st_ivm", "st_lake_ingest"),
      owners)
  }

  test("the C1/E5 constants are read in src/main only in Chunker.scala") {
    val Const = """\b(ChunkSize|Stride|MinChunk|MinParagraph)\b""".r
    val readers = sources.filter(p => Files.readAllLines(p).asScala.exists(Const.findFirstIn(_).isDefined))
      .map(_.getFileName.toString).toSet
    assert(readers == Set("Chunker.scala"), readers)
  }

  test("PdfText.scala writes endobj and startxref only in the fixture writer") {
    val file = root.resolve("graft/sources/PdfText.scala")
    assert(hits(file, "endobj\\n").map(_._2) == List("obj"))
    assert(hits(file, "startxref\\n").map(_._2) == List("finish"))
  }

  test("the vector store commits by one rename, and only its commit and token reader name _COMMIT") {
    val store = root.resolve("graft/sources/ChunkStore.scala")
    assert(hits(store, "rename(").map(_._2) == List("commit"))
    assert(filesWith("rename(") == Set("ChunkStore.scala", "Lake.scala"))
    val token = sources.flatMap(p => hits(p, "\"_COMMIT\""))
    assert(token.map { case (at, owner) => at.takeWhile(_ != ':') -> owner }.sorted ==
      List("ChunkStore.scala" -> "commit", "ChunkStore.scala" -> "readCommit"), token)
  }

  test("answers never re-read the store: readStore is not called from similaritySearch or Qa") {
    val store = root.resolve("graft/sources/ChunkStore.scala")
    val owners = hits(store, "readStore(").map(_._2)
    assert(!owners.contains("similaritySearch") && !owners.contains("search"), owners)
    assert(!filesWith("readStore(").contains("Qa.scala"))
  }

  test("persist/unpersist/StorageLevel only in CheckpointOps; cacheManager nowhere") {
    for (needle <- Seq(".persist(", ".unpersist(", "StorageLevel"))
      assert(filesWith(needle) == Set("CheckpointOps.scala"), needle)
    assert(filesWith("cacheManager").isEmpty)
  }
}
