package graft.examples

import java.nio.file.{Files, StandardOpenOption}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.pipeline.EnvelopePipeline
import graft.streaming.FirehoseMetricsListener

/** End-to-end demo of the reference pipeline re-expressed on Spark: the
  * graft-tail DSv2 source follows growing log files, `EnvelopePipeline.
  * forward` wraps each line in a LogMessage envelope keyed by its file's
  * path and encodes it with ProtoWire, and the graft-kinesis sink applies
  * the K1–K7 producer semantics against a registered client (here: the
  * default "accept" client, which acknowledges everything). Run:
  *
  *   sbt "runMain graft.examples.TailPipelineDemo"
  */
object TailPipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tail-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val watchRoot = Files.createTempDirectory("demo-logs")
    Files.createDirectories(watchRoot.resolve("svc"))
    val f1 = watchRoot.resolve("svc/app.log")
    Files.writeString(f1, "boot: engine up\nboot: sources registered\n")

    val metrics = new FirehoseMetricsListener("demo-node")
    spark.streams.addListener(metrics)
    def count(name: String): Double =
      metrics.snapshot(s"""firehose_to_kinesis_${name}_count{system="demo-node"}""")
    val lines = spark.readStream.format("graft-tail")
      .option("path", watchRoot.toString)
      .option("glob", "*.log")
      .load()

    // P1–P4: one LogMessage envelope per line, keyed by its file's path
    val serialized = EnvelopePipeline.forward(lines, "demo-node")

    val query = serialized.writeStream.format("graft-kinesis")
      .option("checkpointLocation",
        Files.createTempDirectory("demo-ckpt").toString)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()

    query.processAllAvailable()
    org.apache.spark.sql.GraftBridge.waitForListeners(spark)
    println(s"[demo] after batch 1: sent=${count("sent")} dropped=${count("dropped")}")

    // grow the file + add a late file: the tail source must pick both up
    Files.writeString(f1, "req: GET /healthz 200\n", StandardOpenOption.APPEND)
    Files.writeString(watchRoot.resolve("svc/late.log"), "late file line\n")
    query.processAllAvailable()
    org.apache.spark.sql.GraftBridge.waitForListeners(spark)
    println(s"[demo] after growth: sent=${count("sent")} dropped=${count("dropped")}")

    // after stop() every progress has been posted; drain them to the
    // listener before the final check
    query.stop()
    org.apache.spark.sql.GraftBridge.waitForListeners(spark)
    val ok = count("sent") == 4 && count("dropped") == 0
    println(s"[demo] RESULT: ${if (ok) "OK" else "MISMATCH"} (expected 4 sent)")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
