package streambench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

/** The benchmark's own tests: generators are deterministic, the
  * reference gets the gap edge, the malformed-line drop and the rounding
  * right (checked against the library's batch operators as well), and
  * BENCHMARK.json lists the metrics the runs report.
  *
  * Run with `python3 streambench/build.py test`; exits non-zero on a failure.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def filesOf(dir: Path): Map[String, Seq[Byte]] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith("."))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    Files.createDirectories(work)
    val malformed = graft.operators.CsvIngest.malformedFixtures
    val epochUs = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
    // live lines with one malformed fixture after every hundredth
    def mixed(seed: Long, n: Int): Seq[String] =
      Gen.liveSchedule(seed, n).map(Gen.liveLine(epochUs / 1000L, _)).zipWithIndex.flatMap {
        case (l, i) => if (i % 100 == 99) Seq(l, malformed(i / 100 % malformed.size)) else Seq(l)
      }

    check("live schedule: same seed, identical lines; phase 1 of the reference on a loop") {
      val evs = Gen.liveSchedule(5, 20000)
      val a = evs.map(Gen.liveLine(1700000000000L, _))
      assert(a == Gen.liveSchedule(5, 20000).map(Gen.liveLine(1700000000000L, _)))
      assert(a != Gen.liveSchedule(6, 20000).map(Gen.liveLine(1700000000000L, _)))
      assert(a.size == 20000, s"${a.size} events in 20 s")
      // 14 users at a time, each active for at most one second
      val second = evs.filter(e => e.dueMs >= 5000 && e.dueMs < 6000).map(_.user).distinct
      assert(second.size >= 14 && second.size <= 28, s"${second.size} users in one second")
      val spans = evs.groupBy(_.user).values.map(es => es.map(_.dueMs).max - es.map(_.dueMs).min)
      assert(spans.forall(_ < 1000), s"longest span ${spans.max} ms")
      assert(evs.map(_.user % Gen.LiveIdStride).distinct.sorted == Gen.PhaseOneUsers.sorted)
    }

    check("reference: exactly one gap apart merges, one microsecond more splits") {
      val gap = 30000000L
      def evs(ts: Long*) = ts.map(t => Reference.Event(t, 7, 1.0))
      assert(Reference.sessions(evs(0, gap), gap).map(_.count) == Seq(2L))
      assert(Reference.sessions(evs(0, gap + 1), gap).map(_.count) == Seq(1L, 1L))
      assert(Reference.sessions(evs(0, gap), gap).head.endUs == 2 * gap)
    }

    check("reference: malformed fixtures are dropped, a well-formed line is kept") {
      assert(malformed.forall(l => Reference.parse(l).isEmpty))
      val ok = Reference.parse("2024-01-01 00:00:01.250000,42,7,420.5").get
      assert(ok == Reference.Event(epochUs + 1250000L, 42, 420.5))
    }

    check("reference: integer cents and the half-up average") {
      assert(Reference.cents(0.125) == 13L && Reference.cents(19.99) == 1999L)
      assert(Reference.Session(1, 0, 1, 2, 5).avg == 0.03) // 2.5 cents rounds up
      assert(Reference.alerts(Seq(Reference.Session(1, 0, 1, 1, 200), Reference.Session(1, 5, 6, 1, 300),
        Reference.Session(2, 0, 1, 1, 50)), 1.5).map(_.startUs) == Seq(0L))
    }

    check("BENCHMARK.json lists exactly the metrics the runs report") {
      val text = new String(Files.readAllBytes(Paths.get("BENCHMARK.json")), "UTF-8")
      val metric = "\"name\":\\s*\"([^\"]+)\",\\s*\"unit\":\\s*\"([^\"]+)\",\\s*\"better\":\\s*\"(\\w+)\"".r
      def listed(section: String) = {
        val from = text.indexOf(s"\"$section\"")
        metric.findAllMatchIn(text.substring(from, text.indexOf("]", from)))
          .map(m => (m.group(1), m.group(2), m.group(3))).toSeq
      }
      assert(listed("per_layer") == Layers.All)
      val pass = Bench.Pass(Seq(1.0), 1, 1.0, 0, 0, Nil, Nil)
      assert(listed("end_to_end").map(m => (m._1, m._2)).toSet ==
        (Bench.endToEnd(pass).map(m => (m.name, m.unit)) :+ ("setup_s", "s")).toSet)
    }

    check("stats: the tail keeps ten samples beyond it") {
      val (v, p) = Stats.tail((1 to 100).map(_.toDouble))
      assert(v == 90.0 && p == 90.0, s"$v at $p")
    }

    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._

      check("reference parse agrees with the library's permissive parse") {
        val lines = mixed(3, 3000)
        val got = graft.operators.CsvIngest.parsePermissive(lines.toDF("value"))
          .selectExpr("unix_micros(ts)", "user_id", "payload_value").collect()
          .map(r => Reference.Event(r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        assert(got == lines.flatMap(Reference.parse))
      }

      check("reference sessions equal the library's batch sessions, gap edge included") {
        val gap = 30000000L
        val t0 = epochUs
        val lines = Seq(t0, t0 + gap, t0 + 2 * gap + 1, t0 + 2 * gap + 2)
          .zipWithIndex.map { case (t, i) => Gen.csvLine(t, 3, i, 10.005 + i) } ++
          mixed(4, 5000)
        val events = graft.operators.CsvIngest.parsePermissive(lines.toDF("value"))
          .withColumnRenamed("payload_value", "value")
        val got = graft.operators.Sessions.sessionAgg(events, lit("30 seconds"))
          .selectExpr("user_id", "unix_micros(session_start)", "unix_micros(session_end)",
            "event_count", "session_sum", "session_avg").collect()
          .map(r => Reference.Out(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getDouble(4), r.getDouble(5))).toSeq
        val want = Reference.sessions(lines.flatMap(Reference.parse), gap)
        assert(Reference.diff(want, got) == (0, 0))
        assert(want.exists(s => s.user == 3 && s.count == 2 && s.startUs == t0))
      }

      check("curation inputs: same seed, byte-identical files") {
        Curation.generate(spark, 9, 400, 2, work.resolve("c1"))
        Curation.generate(spark, 9, 400, 2, work.resolve("c2"))
        val (a, b) = (filesOf(work.resolve("c1")), filesOf(work.resolve("c2")))
        assert(a.nonEmpty && a == b, s"${a.keySet} vs ${b.keySet}")
      }

      check("curation corpus: planted near-duplicates sit far above Jaccard 0.5") {
        val c = Gen.corpus(11, 2000)
        def shingles(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
        def jaccard(a: String, b: String) = {
          val (x, y) = (shingles(a), shingles(b))
          (x & y).size.toDouble / (x | y).size
        }
        val dups = (0 until c.size).filter(i => c.root(i) != i)
        assert(dups.size > 200)
        assert(dups.forall(i => jaccard(c.texts(i), c.texts(c.root(i))) >= 0.8))
        val originals = (0 until c.size).filter(i => c.root(i) == i).take(200)
        assert(originals.sliding(2).forall { case Seq(a, b) => jaccard(c.texts(a), c.texts(b)) < 0.05 })
      }
    } finally spark.stop()

    if (failures > 0) {
      println(s"$failures test(s) failed")
      sys.exit(1)
    }
    println("all tests passed")
  }
}
