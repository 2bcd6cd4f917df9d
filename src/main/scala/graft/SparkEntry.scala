package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * All operators live in graft.operators / graft.sources /
  * graft.multimodal and register themselves through [[Registry]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The engine's core reshaping operator: E4 clean → E5 filter →
    * C1 overlapping chunker (SURVEY.md §2.3).
    */
  def entry(spark: SparkSession): DataFrame = {
    plans.VectorExprs.register(spark)
    Registry.byName("c1_chunk").run(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. Callers of
    * this contract build their own sessions, without [[GraftSession]]'s
    * extension, so each function registers the native functions first
    * (a no-op once the session has them).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.byName.map { case (name, d) =>
      name -> { (s: SparkSession, dir: String) =>
        plans.VectorExprs.register(s)
        d.run(s, dir)
      }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    Registry.byName.collect { case (name, d) if d.oracle.isDefined =>
      name -> d.oracle.get.trim
    }
}
