package graft

import graft.functions.{CosineSimilarity, GraftFunctions, VectorFunctions => VF}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused codegen expression must be bit-identical to the builtin
  * zip_with/aggregate composition (both sequential double folds) — that
  * equivalence is what lets the fast path keep passing the DuckDB oracle.
  */
class CosineExprSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("fused expression == builtin composition, bit-for-bit, on real embeddings") {
    val e = Tables.embeddings(spark, TestSpark.Sf0001).limit(50)
      .select(col("vec_id"), col("embedding"))
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val pairs = a.join(b, col("ia") < col("ib"))
    val cmp = pairs.select(
      CosineSimilarity.cosineSim(col("va"), col("vb")).as("fused"),
      (VF.dot(VF.asDouble(col("va")), VF.asDouble(col("vb"))) /
        (VF.norm(VF.asDouble(col("va"))) * VF.norm(VF.asDouble(col("vb"))))).as("builtin"))
    val mismatches = cmp.filter(col("fused") =!= col("builtin")).count()
    assert(mismatches === 0L)
    assert(cmp.count() === 50L * 49 / 2)
  }

  test("SQL registration: graft_cosine works through spark.sql") {
    GraftFunctions.register(spark)
    Tables.embeddings(spark, TestSpark.Sf0001).limit(5)
      .createOrReplaceTempView("emb_test")
    val n = spark.sql(
      """SELECT graft_cosine(a.embedding, b.embedding) AS cs
        |FROM emb_test a JOIN emb_test b ON a.vec_id < b.vec_id""".stripMargin)
      .filter(col("cs").between(-1.0000001, 1.0000001)).count()
    assert(n === 10L)
  }

  test("denseChecked narrows the type, passes dense data through " +
      "bit-identically, and fails LOUDLY on a null element") {
    import org.apache.spark.sql.types.ArrayType
    val e = Tables.embeddings(spark, TestSpark.Sf0001).limit(40)
    // type narrows: containsNull = false on the certified column
    val certified = e.select(col("vec_id"),
      VF.asDoubleDense(col("embedding")).as("v"))
    assert(!certified.schema("v").dataType.asInstanceOf[ArrayType].containsNull,
      "the validator must narrow the element type to non-null")
    // same pair scores as the raw (containsNull=true) path, bit for bit
    def pairScores(vdf: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] = {
      val a = vdf.select(col("vec_id").as("ia"), col("v").as("va"))
      val b = vdf.select(col("vec_id").as("ib"), col("v").as("vb"))
      a.join(b, col("ia") < col("ib"))
        .select(col("ia"), col("ib"),
          CosineSimilarity.cosineSim(col("va"), col("vb")).as("cs"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
    }
    val raw = e.select(col("vec_id"), VF.asDouble(col("embedding")).as("v"))
    assert(pairScores(certified) == pairScores(raw),
      "check-free fast loop must score identically to the checked loop")
    // a null element fails the query instead of silently narrowing
    val s = spark
    import s.implicits._
    val corrupt = Seq((1L, Seq[java.lang.Double](1.0, null, 3.0)))
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      corrupt.select(VF.asDoubleDense(col("embedding"))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("dense-array certificate violated")),
      s"null element must fail loudly, got: $ex")
    // a NULL whole array stays NULL (nullSafe wrapper)
    val nullArr = Seq((1L, null: Seq[java.lang.Double]))
      .toDF("vec_id", "embedding")
      .select(VF.asDoubleDense(col("embedding")).as("v")).head()
    assert(nullArr.isNullAt(0), "a null ARRAY value passes through as NULL")
  }

  test("NULL contract matches the composed form: mismatch, null element, zero norm") {
    // the composed zip_with/aggregate/divide form yields NULL on a
    // length mismatch (padding nulls), a null element, and a zero-norm
    // side (divide by zero) — the fused kernel must do the same, never
    // a prefix-truncated score, an NPE, or a NaN
    val rows = spark.sql(
      """SELECT
        |  cosine_sim(array(3.0d), array(3.0d, 4.0d)) AS mismatch,
        |  cosine_sim(array(1.0d, cast(null as double)), array(1.0d, 1.0d)) AS nullel,
        |  cosine_sim(array(0.0d, 0.0d), array(1.0d, 2.0d)) AS zeronorm,
        |  cosine_sim(array(3.0d, 4.0d), array(3.0d, 4.0d)) AS same
        |""".stripMargin).head()
    assert(rows.isNullAt(0), "length mismatch must be NULL")
    assert(rows.isNullAt(1), "null element must be NULL")
    assert(rows.isNullAt(2), "zero norm must be NULL")
    assert(rows.getDouble(3) === 1.0)
  }
}
