package graft.streaming

import org.apache.spark.sql.streaming.Trigger

/** Streaming entry point: runs the hourly rollup and session-window plans
  * over a staged copy of the events table with an AvailableNow trigger and
  * prints the sink contents. Usage: runMain graft.streaming.StreamDemo [sfDir]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Sessions.local("4")

    // File stream sources need a directory; stage the single file.
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_demo_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), dir.resolve("events.parquet"))

    for ((name, plan) <- Seq(
        "hourly_rollup" -> EventStreams.hourlyRollup(EventStreams.readEventStream(spark, dir.toString)),
        "sessions" -> EventStreams.sessionize(EventStreams.readEventStream(spark, dir.toString)))) {
      val q = plan.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      if (!q.awaitTermination(120000)) {
        q.stop()
        throw new IllegalStateException(
          s"StreamDemo: query $name did not finish within 120 s; stopped it")
      }
      println(s"== $name: ${spark.table(name).count()} rows")
      spark.table(name).show(5, truncate = false)
    }
    spark.stop()
  }
}
