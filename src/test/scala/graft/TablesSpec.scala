package graft

import org.apache.spark.sql.Row

/** `Tables.load` infers a table's schema once per session and path, and
  * again only when the path's length or modification time moved.
  */
class TablesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("every sf0.001 table loads with its freshly inferred schema; a second load runs no job") {
    val names = new java.io.File(sf).list().filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
    assert(names.length >= 10, names.toSeq)
    names.foreach { n =>
      val fresh = spark.read.parquet(s"$sf/$n.parquet").schema
      assert(Tables.load(spark, sf, n).schema == fresh, n)
      assert(jobsRunBy(Tables.load(spark, sf, n): Unit) == 0, n)
    }
  }

  test("a table rewritten at the same path with another column comes back with its new schema") {
    import spark.implicits._
    val dir = SparkSpec.tmpDir("graft_tables").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("k", "v"))
    Seq((2L, "b", 0.5)).toDF("k", "v", "x").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.load(spark, dir, "t")
    assert(again.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(again.collect().toSeq == Seq(Row(2L, "b", 0.5)))
  }
}
