package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL-surface registration for the engine's custom codegen
  * expressions, so pure-SQL users (spark.sql, thrift, notebooks) reach
  * the same fused kernels the DataFrame API exposes through
  * [[CosineSimilarity.cosineSim]] / [[PolyHash]]:
  *
  *  - as a session extension: [[graft.GraftExtensions]] is loaded through
  *    its ServiceLoader entry (and by `spark.sql.extensions` or
  *    `builder.withExtensions` where a deployment names it), so every new
  *    session gets the functions with no per-session code;
  *  - or imperatively on an existing session via [[register]] (the
  *    notebook path, and q152's — Spark applies extension classes only
  *    at session INSTANTIATION, so an already-running session cannot
  *    load them any other way).
  *
  * Both paths share [[descriptors]], so behavior cannot diverge.
  * ExtensionsSpec pins SQL == DataFrame API on every function.
  */
object GraftFunctions {
  type Descriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[graft.GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "internal")

  val descriptors: Seq[Descriptor] = Seq(
    (FunctionIdentifier("cosine_sim"),
      info("cosine_sim",
        "cosine_sim(a, b) - fused cosine similarity of two DOUBLE arrays"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "cosine_sim takes exactly 2 arguments")
        CosineSimilarity(children(0), children(1))
      }),
    (FunctionIdentifier("poly_hash"),
      info("poly_hash",
        "poly_hash(s) - 64-bit polynomial rolling hash of a string"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "poly_hash takes exactly 1 argument")
        PolyHash(children.head)
      }),
    (FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize",
        "nfc_normalize(s) - Unicode NFC normalization of a string"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "nfc_normalize takes exactly 1 argument")
        NfcNormalize(children.head)
      }),
    // legacy aliases (the extension's original names) — same kernels,
    // same arity validation
    (FunctionIdentifier("graft_cosine"),
      info("graft_cosine",
        "graft_cosine(a, b) - alias of cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_cosine takes exactly 2 arguments")
        CosineSimilarity(children(0), children(1))
      }),
    (FunctionIdentifier("graft_polyhash"),
      info("graft_polyhash",
        "graft_polyhash(s) - alias of poly_hash"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_polyhash takes exactly 1 argument")
        PolyHash(children.head)
      }))

  /** Imperative registration on a live session (idempotent — replaces
    * any prior registration of the same names).
    */
  def register(s: SparkSession): Unit =
    descriptors.foreach { case (id, inf, builder) =>
      s.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
}
