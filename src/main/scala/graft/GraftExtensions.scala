package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension entry point: registers graft's custom expressions
  * for SQL users. Enable with
  * `spark.sql.extensions=graft.GraftExtensions` (or programmatically via
  * `SparkSession.builder.withExtensions(new GraftExtensions)`).
  *
  * Injects [[graft.functions.GraftFunctions.descriptors]], the same
  * list [[graft.functions.GraftFunctions.register]] puts on a live
  * session, so the function set, arity validation, and behavior cannot
  * diverge between the two.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    graft.functions.GraftFunctions.descriptors.foreach(ext.injectFunction)
}
