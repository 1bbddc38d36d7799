package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites are cheap). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** Run `body` on a fresh temp dir named `prefix…`, deleted afterwards. */
  def withTempRoot[T](prefix: String)(body: java.nio.file.Path => T): T = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
    try body(root) finally graft.streaming.StreamingSessions.deleteRecursively(root)
  }
}
