package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All loads are `spark.read.parquet` — Catalyst prunes columns and
  * pushes filters into the vectorized parquet reader (verify with
  * `.explain`: `ReadSchema` / `PushedFilters`). The schema is Spark's
  * own inference from the parquet footers, resolved once per session
  * and table path ([[load]]): inference is a one-task Spark job per
  * read, and the schema of an unchanged file does not change. At 100 TB
  * these would be partitioned tables behind a catalog; the access
  * pattern (scan + prune + push) is identical.
  */
object Tables {

  /** The Hadoop length and modification time of a path. */
  private def fingerprint(spark: SparkSession, path: String): (Long, Long) = {
    val p = new Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    (st.getLen, st.getModificationTime)
  }

  /** Per (session, table path): the path's fingerprint, taken BEFORE
    * the schema is inferred, and the inferred schema. A file rewritten
    * after the fingerprint was taken fails the check in [[load]] and is
    * inferred again, so a stale schema is never served.
    */
  private val schemas = new SessionMemo[((Long, Long), StructType)](
    (spark, path) => (fingerprint(spark, path), spark.read.parquet(path).schema), _ => ())

  /** `name`'s table under `dir`, read with its memoized schema: no
    * inference job while the path's length and modification time are
    * those the schema was inferred under. A missing path reads as
    * `spark.read.parquet` reads it (and raises the same way).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    scala.util.Try(fingerprint(spark, path)).toOption match {
      case None => spark.read.parquet(path)
      case Some(now) =>
        if (schemas(spark, path)._1 != now) schemas.reset(spark, path)
        spark.read.schema(schemas(spark, path)._2).parquet(path)
    }
  }

  /** Spread a NARROW scan across the session's shuffle parallelism
    * before expensive row-local work (md5 hashing, unpivot fan-out,
    * tokenize-everything projections). The test fixtures are
    * single-row-group parquet files, so the scan has ONE split and the
    * heavy projection serializes into one task regardless of cores
    * (the r15 ml_train_linear profile: 12 s of a 16 s wall). The
    * exchange is CONDITIONAL on the actual scan width: a real corpus
    * (the 100 TB case) arrives in thousands of splits, where a
    * corpus-sized repartition purely to re-win parallelism the scan
    * already has would be the wrong trade — those pass through
    * exchange-free. Checking `rdd.getNumPartitions` builds the RDD
    * lineage but runs no job.
    */
  def spread(df: DataFrame, key: String): DataFrame = {
    val par = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions >= math.max(2, par / 2)) df
    else df.repartition(par, org.apache.spark.sql.functions.col(key))
  }

  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** events.parquet's `ts` has shipped in two vintages: TIMESTAMP(NANOS)
    * (readable only as raw int64 under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, set by Verify/Bench)
    * and TIMESTAMP(MICROS) without UTC adjustment (read as
    * TIMESTAMP_NTZ). Normalize both to a micros-precision TimestampType
    * column: all engine sessions run with session timeZone=UTC, so the
    * NTZ→TZ cast is value-identity and matches DuckDB, which treats the
    * naive timestamp as-is in `epoch_us`.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
}
