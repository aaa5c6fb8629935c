package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ARRAY<FLOAT>` embedding columns, composed from
  * Spark's higher-order array functions (`zip_with` + `aggregate`), which
  * evaluate as codegen'd expressions — no UDF boxing per element.
  *
  * Determinism contract (needed for the DuckDB-oracle compare): all
  * arithmetic is done in DOUBLE after an explicit array cast, and the
  * accumulation folds left-to-right in element order — the same order a
  * single-threaded engine uses — so results are bit-identical.
  *
  * Scale path: brute-force cosine is O(n·m·d) and only used as the exact
  * baseline / verification stage; the 100 TB path is LSH bucketing
  * (see operators.Similarity) which turns the cross join into an
  * equi-join on bucket signature.
  */
object VectorFunctions {

  /** Cast to ARRAY<DOUBLE> for stable arithmetic. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** [[asDouble]] plus the dense-corpus boundary validation
    * ([[KnownDenseArray]]): one O(d) null scan per INPUT row, loud
    * failure on a null element, and a `containsNull = false` output
    * type that lets [[CosineSimilarity]] codegen its check-free
    * multiply-accumulate loop inside the O(n²) pair stages. Use for
    * corpora whose generator guarantees density (the catalog
    * embeddings); keep plain [[asDouble]] where a null element must
    * map to a NULL score instead of failing the query.
    */
  def asDoubleDense(v: Column): Column =
    KnownDenseArray.denseChecked(asDouble(v))

  /** Sequential-fold dot product of two double arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (double, deterministic). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))
}
