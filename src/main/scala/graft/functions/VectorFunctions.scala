package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, as pure built-in
  * higher-order functions (codegen'd, no UDF, no serialization off the
  * Tungsten row).
  *
  * All arithmetic is done in DOUBLE, accumulated sequentially in element
  * order — this matches DuckDB's `list_cosine_similarity(a::DOUBLE[],
  * b::DOUBLE[])` bit-for-bit, keeping the similarity operators
  * oracle-checkable with exact hash compares.
  */
object VectorFunctions {

  private def d(c: Column): Column = c.cast("array<double>")

  /** Sequential-order dot product in double precision, as a native
    * codegen'd expression (see DotProduct — bit-identical to the
    * higher-order-function formulation, ~10x faster). array<float> and
    * array<double> inputs are consumed NATIVELY (no casted array copy —
    * floats widen per element inside the loop, which is exact). Any
    * OTHER element type is the caller's job to cast (e.g.
    * `.cast("array<double>")` on s8's int8 codes) — the expression
    * type-checks rather than silently copying, so an accidental
    * int/decimal array surfaces at analysis instead of paying a hidden
    * per-row array conversion in a hot loop.
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.Shims
    Shims.column(DotProduct(Shims.expression(a), Shims.expression(b)))
  }

  /** The interpreted higher-order-function formulation (kept as the
    * reference implementation the native one is spec-checked against).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(d(a), d(b), (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity with a null-on-zero-denominator contract: a zero
    * vector has zero norm, ANSI mode makes the division THROW, and null
    * similarity means "undefined against this vector" — ranking and
    * threshold consumers drop it (DuckDB's list_cosine_similarity on
    * clean data is value-identical since the divisor is nonzero there).
    *
    * Guard shape: `dot / nullif(denom, 0)` — a plain generated branch,
    * no TryEval try/catch. NOTE (r8 bisect, design A/B): ANY per-row
    * guard costs ~1.4x on an O(n²) pair join (try_divide and nullif
    * alike, s4 at sf0.1) — so the quadratic
    * paths (Similarity.knnJoin, Dedup.embeddingNearDupPairs) do NOT
    * call this: they pre-filter zero-norm vectors once per row and
    * divide unguarded. This guarded form is for the broadcast top-k
    * paths (s1/s2/s3), where the query side is tiny and the null
    * contract is the cheapest way to keep zero vectors inert.
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / nullif(l2norm(a) * l2norm(b), lit(0.0))

  /** Squared L2 distance (sequential order) — the native codegen'd
    * L2SqDist (r15; bit-identical to [[l2sqHof]], which
    * VectorFunctionsSpec pins it against, including the HOF's
    * null-on-length-mismatch contract).
    *
    * Input contract: both sides are `array<float>` or `array<double>`.
    * Any other element type (e.g. `array<int>`) is an analysis error,
    * not an implicit widening as in [[l2sqHof]]; cast such a column to
    * `array<double>` first.
    */
  def l2sq(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.Shims
    Shims.column(L2SqDist(Shims.expression(a), Shims.expression(b)))
  }

  /** The interpreted HOF formulation of [[l2sq]] (the executable
    * reference; also the shape the DuckDB oracles mirror).
    */
  def l2sqHof(a: Column, b: Column): Column =
    aggregate(zip_with(d(a), d(b), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)
}
