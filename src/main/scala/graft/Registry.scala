package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine operator exposed through the driver contract
  * (`SparkEntry.queries` / `SparkEntry.oracleSql`).
  *
  * @param name   stable query name (drives CORRECTNESS_r{N}.json keys)
  * @param run    the Spark-side implementation; `dir` is the scale-factor
  *               directory holding the parquet tables (TESTDATA.md)
  * @param oracle equivalent DuckDB SQL over the same tables; None for
  *               operators that are not SQL-expressible (driver then
  *               records a weaker rows-only check)
  * @param bench  whether Bench.scala should time this query (heavy or
  *               redundant queries can opt out)
  * @param streamBench whether this query belongs to the stateful
  *               streaming timing lane (bench/stream_<sf>.json). Set on
  *               every streaming twin at registration so a new twin can
  *               never be silently untimed — the lane derives its
  *               membership from this flag, not a hardcoded name list.
  * @param sinkBench whether this query belongs to the side-effecting
  *               sink/source timing lane (bench/sink_<sf>.json). These
  *               queries are bench=false in the main lane (they write
  *               temp-dir sinks, so the main lane would time tmpfs I/O
  *               noise alongside pure operator throughput) — but
  *               without a lane of their own the whole format-codec
  *               surface (PdfText, CSV/ORC/JSONL round trips, zorder
  *               rewrite, compaction) has NO perf regression signal.
  *               Same flag-derived-membership rule as streamBench.
  * @param resetMemo for queries whose RESULT is held in a
  *               [[SessionMemo]] (gr_labelprop's label table,
  *               tp_bpe_train's merges, ml_train_linear's chain): that
  *               memo's `reset`, which drops the entry and releases
  *               what it holds, so a timed bench pass measures the
  *               kernel, not a cached read. Input-level memos
  *               (purchaseEdges) stay — sharing
  *               an input table across queries is legitimate; caching a
  *               query's own answer in the timed lane is not.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = true,
    streamBench: Boolean = false,
    sinkBench: Boolean = false,
    resetMemo: Option[(SparkSession, String) => Unit] = None)

/** Central registry: every module contributes its QueryDefs here. */
object Registry {
  def all: Seq[QueryDef] =
    operators.TextOps.queries ++
      operators.Chunker.queries ++
      operators.Relational.queries ++
      operators.Events.queries ++
      operators.Dedup.queries ++
      operators.Curation.queries ++
      operators.Knn.queries ++
      operators.Qa.queries ++
      sources.ChunkStore.queries ++
      sources.Layout.queries ++
      sources.Lake.queries ++
      multimodal.Multimodal.queries ++
      operators.Segmenter.queries ++
      operators.Search.queries ++
      operators.Quality.queries ++
      operators.Graph.queries ++
      operators.Ml.queries ++
      streaming.Streaming.queries

  lazy val byName: Map[String, QueryDef] = {
    val defs = all
    require(defs.map(_.name).distinct.size == defs.size, "duplicate query names")
    defs.map(d => d.name -> d).toMap
  }
}
