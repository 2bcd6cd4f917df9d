package graft.plans

import graft.{SparkEntry, SparkSpec}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import scala.jdk.CollectionConverters._
import scala.util.Using

/** The native functions are installed once per session: by the
  * extension `GraftSession` adds, or, for a session built elsewhere, by
  * the one imperative path (`SparkEntry`, `Graft.initSql`).
  */
class RegistrationSpec extends SparkSpec {
  private val ids = VectorExprs.fns.map { case (name, _, _) => FunctionIdentifier(name) }

  test("a new session of a GraftSession session has every native function") {
    val registry = spark.newSession().sessionState.functionRegistry
    ids.foreach(id => assert(registry.functionExists(id), id))
  }

  test("a session without the functions gets them through SparkEntry.queries") {
    import spark.implicits._
    val dir = SparkSpec.tmpDir("graft_foreign").toString
    (0L until 8L).map(i => (i, Seq.tabulate(4)(j => ((i + j) % 5 + 1).toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    // stands in for a session built outside GraftSession
    val foreign = spark.newSession()
    val registry = foreign.sessionState.functionRegistry
    ids.foreach(registry.dropFunction)
    assert(ids.forall(id => !registry.functionExists(id)))

    val top = SparkEntry.queries("v3_knn_topk")(foreign, dir).collect() // cosine_f
    assert(top.head.getLong(0) == 0L && top.head.getDouble(1) == 1.0)
    ids.foreach(id => assert(registry.functionExists(id), id))
  }

  test("a second register leaves each function's info and builder untouched") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    def entries = ids.map(id =>
      (registry.lookupFunction(id).get, registry.lookupFunctionBuilder(id).get))
    val before = entries
    VectorExprs.register(s)
    entries.zip(before).zip(ids).foreach { case (((info, builder), (info0, builder0)), id) =>
      assert((info eq info0) && (builder eq builder0), id)
    }
  }

  test("only SparkEntry and Graft call VectorExprs.register in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val allowed = Set("SparkEntry.scala", "Graft.scala")
    val stray = Using.resource(Files.walk(root)) { paths =>
      paths.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") && !allowed(p.getFileName.toString))
        .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("VectorExprs.register(") => s"$p:${i + 1}"
        })
        .toList
    }
    assert(stray.isEmpty, stray.mkString("\n"))
  }
}
