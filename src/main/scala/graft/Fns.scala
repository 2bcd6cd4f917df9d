package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared column-level building blocks (all Catalyst-native — no UDFs,
  * so everything stays inside whole-stage codegen / native evaluation
  * and is usable verbatim at 100 TB).
  */
object Fns {

  // E4's two patterns: whitespace runs collapse to one space, then
  // leading/trailing whitespace is removed
  private val SpaceRuns = "\\s{2,}"
  private val EdgeSpace = "^\\s+|\\s+$"

  /** E4 whitespace normalization — reference `src/pdf_extractor.py:30`:
    * `re.sub(r'\s{2,}', ' ', paragraph).strip()`. NOT `trim()`: Python
    * strip removes tabs/newlines too, Spark/DuckDB trim only spaces —
    * the regex strip matches Python for all ASCII whitespace.
    *
    * The only place the rule is written out, in both dialects: this
    * Column form and [[cleanTextSql]] (for `selectExpr`) build the same
    * two `RegExpReplace`s; [[cleanTextDuck]] is the DuckDB oracle form.
    * The dialects differ twice over: Spark SQL string literals unescape
    * backslashes (the pattern `\s` is spelled `'\\s'`) while DuckDB's
    * keep them verbatim, and DuckDB's `regexp_replace` replaces only the
    * first match unless given the `'g'` flag, while Spark's replaces all.
    */
  def cleanText(c: Column): Column =
    regexp_replace(regexp_replace(c, SpaceRuns, " "), EdgeSpace, "")

  /** [[cleanText]] of the named column as a Spark SQL expression. */
  def cleanTextSql(column: String): String = {
    def escaped(p: String) = p.replace("\\", "\\\\")
    s"regexp_replace(regexp_replace($column, '${escaped(SpaceRuns)}', ' '), '${escaped(EdgeSpace)}', '')"
  }

  /** [[cleanText]] of the named column as a DuckDB expression (oracle SQL). */
  def cleanTextDuck(column: String): String =
    s"regexp_replace(regexp_replace($column, '$SpaceRuns', ' ', 'g'), '$EdgeSpace', '', 'g')"

  /** Deterministic 60-bit hash of a string: the first 15 hex digits of
    * md5, parsed base-16. Chosen because BOTH Spark and DuckDB compute
    * identical md5 over UTF-8, making every hash-derived operator
    * (minhash, simhash, fingerprints, hashed embeddings) exactly
    * oracle-checkable. 60 bits fits a signed int64 without overflow
    * under ANSI arithmetic.
    *
    * DuckDB equivalent: `('0x' || substr(md5(s), 1, 15))::BIGINT`.
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("bigint")

  /** Whitespace word tokens of already-cleaned (single-spaced) text. */
  def tokens(cleaned: Column): Column = split(cleaned, " ")

  /** V1 — deterministic hashed-token embedding (64-dim, L2-normalized):
    * the store-side embedding function (reference computes embeddings
    * inside the store, `src/vector_store.py:143-147`). Same bucket
    * counts as the scalable explode/groupBy pipeline in Knn.embedDocs —
    * this per-row form is for low-cardinality uses (store writes, query
    * strings).
    */
  def embedText(c: Column): Column = {
    val bks = transform(tokens(cleanText(c)), t => pmod(hash60(t), lit(64L)))
    val counts = transform(sequence(lit(0), lit(63), lit(1)),
      b => size(filter(bks, x => x === b)).cast("double"))
    val nrm = sqrt(aggregate(transform(counts, x => x * x), lit(0.0), (acc, v) => acc + v))
    when(nrm === 0.0, counts).otherwise(transform(counts, x => x / nrm))
  }
}
