package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Library front door: one call wires the whole engine surface into a
  * SparkSession so everything is reachable from `spark.sql(...)` —
  * every table as a temp view, every native expression (`dot_f`,
  * `cosine_f`, `hash_tokens`, `word_shingles`, `minhash16`,
  * `simhash60`) in the function registry. Sessions built by
  * [[GraftSession]] already have the functions; for a session built
  * elsewhere, `initSql` registers them, and must run before [[query]]
  * or any operator that calls them.
  */
object Graft {

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Register all tables under `dir` as temp views + all native
    * functions. After this, `spark.sql("SELECT simhash60(hash_tokens(
    * split(text, ' '))) FROM documents")` just works.
    */
  def initSql(spark: SparkSession, dir: String): Unit = {
    plans.VectorExprs.register(spark)
    tableNames.foreach { t =>
      val df = t match {
        case "events" => Tables.events(spark, dir) // nanos → micros rewrap
        case other => Tables.load(spark, dir, other)
      }
      df.createOrReplaceTempView(t)
    }
  }

  /** Run a registered engine query by name (see COVERAGE.md / Registry). */
  def query(spark: SparkSession, name: String, dir: String): DataFrame =
    Registry.byName(name).run(spark, dir)
}
