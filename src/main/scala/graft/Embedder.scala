package graft

import org.apache.spark.sql.Column

/** V1 seam — the store's embedding function as a pluggable strategy,
  * mirroring the Q3 answerer seam (`Qa.answer(generate)`): the reference
  * embeds model-side inside the store (`src/vector_store.py:13,92-94`,
  * its SentenceTransformer), so a user swapping models must only swap
  * this object. The contract is COLUMN to COLUMN: an embedder is a
  * Catalyst expression builder, not a per-row closure — whatever it
  * returns participates in codegen/pushdown like any built-in, and a
  * model-backed implementation would wrap its batch inference in
  * `mapPartitions` behind the same signature.
  *
  * Invariant the store relies on: the SAME embedder instance must be
  * used at ingest ([[sources.ChunkStore.addDocuments]]) and at query
  * ([[sources.ChunkStore.similaritySearch]]) — cosine geometry is only
  * meaningful within one embedding space. Each store version's
  * `_COMMIT` token names the embedder class it was built with, and a
  * search with another embedder raises.
  *
  * Query side: the search computes the query vector on the driver, by
  * evaluating `embed` over the query string: the expression is
  * resolved, optimized and bound once per (session, embedder class),
  * so `embed` must be DETERMINISTIC and its type must be
  * `array<double>`, the store's declared embedding type
  * ([[sources.ChunkStore.storeSchema]]); an embedder that does not
  * resolve, or has another type, raises naming it. The search kernel
  * then scores the committed snapshot's vectors against it on the
  * driver, with no Spark job ([[sources.SearchKernel]]): only the query
  * vector's non-zero dimensions are read, so a sparse embedding (the
  * hashed tokens of a short question touch a few of 64 buckets) costs
  * a fraction of a dense one, with the same similarities to the bit.
  */
trait Embedder extends Serializable {
  /** text column → array<double> vector column. */
  def embed(text: Column): Column
  /** Dimensionality of the produced vectors. */
  def dim: Int
}

/** Default embedder: the deterministic hashed-token embedding (64-dim,
  * L2-normalized, md5-derived buckets — reproducible in the DuckDB
  * oracle). Runs the codegen'd `embed64` kernel (graft.plans.TextHash);
  * [[Fns.embedText]] is the lambda-form reference implementation it is
  * spec-pinned against. Sessions built by [[GraftSession]] have
  * `embed64`; a session built elsewhere gets it through [[SparkEntry]]
  * or [[Graft.initSql]].
  */
object HashedTokenEmbedder extends Embedder {
  override def embed(text: Column): Column =
    org.apache.spark.sql.functions.call_function(
      "embed64", Fns.tokens(Fns.cleanText(text)))
  override val dim: Int = 64
}
