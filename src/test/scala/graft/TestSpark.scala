package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole (forked) test JVM. It sets no
  * `spark.sql.extensions`: graft.GraftExtensions reaches it through its
  * ServiceLoader entry, as it reaches any session with graft on the
  * classpath (a JVM's sessions share the SparkContext's static conf, so
  * setting it here would hide that path from every spec). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark 4.1's checkpoint file-checksum writer deadlocks stateful
      // commits under local-mode test churn (threads park forever in
      // ChecksumCheckpointFileManager.awaitResult); checksums add nothing
      // on a local tmpfs checkpoint.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val Sf0001 = "/root/testdata/sf0.001"
}
