package graft

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}

/** graft's one session-extension entry point. Listed in
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * so every session built with graft on its classpath applies it with
  * no configuration; a deployment's
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `SparkSession.builder.withExtensions(new GraftExtensions)`) keeps
  * working and applies it a second time, which is harmless: functions
  * are registered by name, and the rule finds nothing left to rewrite.
  *
  * Injects:
  *  - [[graft.functions.GraftFunctions.descriptors]], the same list
  *    [[graft.functions.GraftFunctions.register]] puts on a live session,
  *    so the function set, arity validation, and behavior cannot diverge
  *    between the two;
  *  - [[graft.functions.BatchTimestampInProject]], which keeps a
  *    streaming projection's batch timestamp out of its generated code so
  *    that each plan is compiled once, not once per trigger.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.GraftFunctions.descriptors.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.functions.BatchTimestampInProject)
  }
}
