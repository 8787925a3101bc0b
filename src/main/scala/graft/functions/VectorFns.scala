package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.functions._

import graft.expressions.{CosineSimilarity, DotProduct, SrpSignature}

/** Embedding-vector primitives over `Array[Float]`/`Array[Double]` columns.
  * Dot/cosine/SRP run as native Catalyst expressions with `doGenCode`
  * ([[graft.expressions.VectorExprs]]): Spark's higher-order functions
  * evaluate lambdas interpreted, so the generated single-loop forms keep
  * the vector math inside whole-stage codegen with zero shuffles — the
  * only viable form at 100 TB of vectors. Arithmetic is bit-exact with the
  * `zip_with`/`aggregate` equivalents (same element-order accumulation),
  * so the shared-coefficient DuckDB oracles still hash-match.
  */
object VectorFns {

  private def d(c: Column): Column = c.cast("array<double>")
  private def ex(c: Column) = GraftColumnBridge.expression(c)

  def dot(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProduct(ex(d(a)), ex(d(b))))

  def norm(a: Column): Column =
    sqrt(aggregate(transform(d(a), x => x * x), lit(0.0), (acc, v) => acc + v))

  def cosine(a: Column, b: Column): Column =
    GraftColumnBridge.column(CosineSimilarity(ex(d(a)), ex(d(b))))

  /** Cosine against a constant query vector — ONE `typedLit` Literal node
    * (not a per-element CreateArray tree), broadcast-free. */
  def cosineToQuery(a: Column, query: Seq[Double]): Column =
    cosine(a, typedLit(query.toArray))

  /** Signature from explicit hyperplanes (shared with the oracle SQL
    * generator so both engines hash identically). All planes project in
    * ONE generated pass over the vector. */
  def srpSignaturePlanes(vec: Column, planes: Seq[Seq[Double]]): Column =
    GraftColumnBridge.column(SrpSignature(ex(d(vec)), planes.map(_.toArray).toArray))

  /** Hamming distance between two SRP signatures (Long bucket ids). */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}
