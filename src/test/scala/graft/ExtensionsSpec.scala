package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BatchTimestampExpr, BatchTimestampInProject, CosineSimilarity,
  GraftFunctions, NfcNormalize, PolyHash, VectorFunctions => VF}
import org.apache.spark.sql.catalyst.expressions.{Alias, CurrentBatchTimestamp, GreaterThan,
  Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, OneRowRelation, Project}
import org.apache.spark.sql.types.TimestampType

/** The session-extension surface. GraftExtensions loads through its
  * ServiceLoader entry and installs the batch-timestamp optimizer rule
  * next to the SQL functions. The SQL function surface
  * (GraftFunctions.register / GraftExtensions): the
  * registered `cosine_sim` and `poly_hash` SQL functions must be the
  * SAME expressions the DataFrame API builds — pinned by exact equality
  * of results on real data (cosine is float: bit equality holds because
  * both paths run the identical fused kernel), plus arity errors and
  * registration idempotence.
  */
class ExtensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  test("SQL cosine_sim/poly_hash equal the DataFrame API expressions") {
    val s = spark
    GraftFunctions.register(s)
    GraftFunctions.register(s) // idempotent: replaces, never errors
    Tables.embeddings(s, sf).filter(col("vec_id") < 40)
      .select(col("vec_id"), VF.asDouble(col("embedding")).as("v"))
      .createOrReplaceTempView("ext_vecs")
    val sql = s.sql(
      """SELECT a.vec_id AS ia, b.vec_id AS ib, cosine_sim(a.v, b.v) AS c
        |FROM ext_vecs a JOIN ext_vecs b ON a.vec_id < b.vec_id
        |ORDER BY ia, ib""".stripMargin).collect()
    val api = {
      val v = s.table("ext_vecs")
      v.select(col("vec_id").as("ia"), col("v").as("va"))
        .join(v.select(col("vec_id").as("ib"), col("v").as("vb")),
          col("ia") < col("ib"))
        .select(col("ia"), col("ib"),
          CosineSimilarity.cosineSim(col("va"), col("vb")).as("c"))
        .orderBy(col("ia"), col("ib")).collect()
    }
    assert(sql.length == api.length && sql.length > 0)
    sql.zip(api).foreach { case (x, y) =>
      assert(x.getLong(0) == y.getLong(0) && x.getLong(1) == y.getLong(1))
      assert(x.getDouble(2) == y.getDouble(2),
        s"bit-exact: same fused kernel on pair (${x.getLong(0)},${x.getLong(1)})")
    }

    Tables.documents(s, sf).filter(col("doc_id") < 50)
      .createOrReplaceTempView("ext_docs")
    val sqlHash = s.sql(
      "SELECT doc_id, poly_hash(text) AS h FROM ext_docs ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val apiHash = s.table("ext_docs")
      .select(col("doc_id"), PolyHash.polyhash(col("text")).as("h"))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sqlHash.sameElements(apiHash) && sqlHash.nonEmpty)
  }

  test("wrong arity fails at analysis with the function's own message") {
    val s = spark
    GraftFunctions.register(s)
    val e1 = intercept[Exception](s.sql("SELECT cosine_sim(array(1.0d))"))
    assert(e1.getMessage.contains("cosine_sim takes exactly 2 arguments"))
    val e2 = intercept[Exception](s.sql("SELECT poly_hash('a', 'b')"))
    assert(e2.getMessage.contains("poly_hash takes exactly 1 argument"))
  }

  test("the extensions class injects the same descriptors") {
    // graft.GraftExtensions is the cluster path (spark.sql.extensions
    // applies only at session instantiation, so it cannot be exercised
    // on the shared test session); identity of descriptors pins that it
    // and GraftFunctions.register install the same builders
    val collected =
      scala.collection.mutable.ArrayBuffer[GraftFunctions.Descriptor]()
    val ext = new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(fd: GraftFunctions.Descriptor): Unit =
        collected += fd
    }
    new GraftExtensions().apply(ext)
    assert(collected.map(_._1.funcName).toSet ==
      Set("cosine_sim", "poly_hash", "nfc_normalize",
        "graft_cosine", "graft_polyhash"))
    assert(collected.toSeq == GraftFunctions.descriptors)
  }

  /** The optimizer of `s`, and how often it holds the batch-timestamp rule. */
  private def ruleCount(s: org.apache.spark.sql.SparkSession): Int =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.optimizer
      .extendedOperatorOptimizationRules.count(_ eq BatchTimestampInProject)

  /** A streaming projection of `current_timestamp()` under a Filter on
    * it, as IncrementalExecution hands it to the optimizer. */
  private def batchPlan(s: org.apache.spark.sql.SparkSession) = {
    val ts = CurrentBatchTimestamp(1792460882829L, TimestampType, Some("UTC"))
    val plan = Project(Seq(Alias(ts, "t")()),
      Filter(GreaterThan(ts, Literal(0L, TimestampType)), OneRowRelation()))
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.optimizer
      .execute(plan)
  }

  test("without spark.sql.extensions the ServiceLoader entry installs functions and rule") {
    val s = spark
    assert(!s.sparkContext.getConf.contains("spark.sql.extensions"))
    assert(ruleCount(s) === 1)
    Tables.embeddings(s, sf).limit(2).createOrReplaceTempView("ext_sl")
    assert(s.sql("SELECT graft_cosine(embedding, embedding) FROM ext_sl").count() === 2L)
    s.catalog.dropTempView("ext_sl")
    val optimized = batchPlan(s)
    // the projection reads the batch's value by reference, the filter keeps
    // Spark's CurrentBatchTimestamp (IncrementalExecution makes it a literal)
    val Project(Seq(Alias(BatchTimestampExpr(v, TimestampType), "t")), f: Filter) = optimized
    assert(v === 1792460882829000L)
    assert(f.condition.find(_.isInstanceOf[CurrentBatchTimestamp]).isDefined)
  }

  test("applying the extension twice (ServiceLoader plus an explicit one) is harmless") {
    // spark.sql.extensions is static conf of the shared SparkContext, so a
    // second session adds the explicit application through withExtensions,
    // which runs the same GraftExtensions.apply on the session's extensions
    val twice = org.apache.spark.sql.classic.SparkSession.builder()
      .withExtensions(new GraftExtensions).create()
    try {
      assert(ruleCount(twice) === 2)
      Tables.embeddings(twice, sf).limit(2).createOrReplaceTempView("ext_twice")
      assert(twice.sql("SELECT graft_cosine(embedding, embedding) FROM ext_twice")
        .count() === 2L)
      assert(batchPlan(twice).canonicalized === batchPlan(spark).canonicalized)
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
    }
  }

  test("nfc_normalize: ASCII identity fast path, recomposition, SQL==API") {
    val s = spark
    GraftFunctions.register(s)
    import org.apache.spark.unsafe.types.UTF8String
    // ASCII fast path returns the SAME object — no allocation
    val ascii = UTF8String.fromString("plain ascii text")
    assert(NfcNormalize.norm(ascii) eq ascii)
    // decomposed e + U+0301 recomposes to precomposed U+00E9
    val dec = UTF8String.fromString("cafe\u0301")
    assert(NfcNormalize.norm(dec).toString == "caf\u00e9")
    // already-NFC non-ASCII input comes back unchanged (and unallocated)
    val pre = UTF8String.fromString("caf\u00e9")
    assert(NfcNormalize.norm(pre) eq pre)
    // null propagates; SQL surface runs the same expression as the API
    Tables.documents(s, sf).filter(col("doc_id") < 50)
      .select(col("doc_id"),
        regexp_replace(col("text"), "e", "e\u0301").as("t"))
      .createOrReplaceTempView("ext_nfc")
    val sqlN = s.sql(
      "SELECT doc_id, nfc_normalize(t) AS n FROM ext_nfc ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val apiN = s.table("ext_nfc")
      .select(col("doc_id"), NfcNormalize.nfc(col("t")).as("n"))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(sqlN.sameElements(apiN) && sqlN.nonEmpty)
    assert(sqlN.forall(!_._2.contains("\u0301")), "all pairs recomposed")
    assert(s.sql("SELECT nfc_normalize(CAST(NULL AS STRING)) AS n")
      .collect().head.isNullAt(0))
  }
}
