package graft

import org.apache.spark.sql.functions._

import graft.sinks.ReportSink
import graft.sources.EventSource
import graft.streaming.StreamingSessions

/** Runnable twin of the reference deployment (`flink_stream_task1.py`):
  * continuous source → keyed session windows → formatted console report.
  * With no Kafka jar in this environment the source is the rate-based
  * synthetic workload (S2 twin); swap in the Kafka reader from
  * [[EventSource]]'s scaladoc on a cluster with the connector.
  *
  * Usage: `sbt "runMain graft.StreamDemo [seconds] [eventsPerSec]"`.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val runSeconds = args.headOption.map(_.toInt).getOrElse(15)
    val rate = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = SparkEntry.session()
    println(ReportSink.header)
    val sessions = StreamingSessions.sessionAggStream(
      EventSource.syntheticStream(spark, rate), lit("5 seconds"))
    val query = ReportSink.consoleReport(sessions).start()
    query.awaitTermination(runSeconds * 1000L)
    query.stop()
    spark.stop()
  }
}
