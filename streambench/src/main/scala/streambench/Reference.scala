package streambench

import java.math.RoundingMode

/** Independent reference for the session workloads, in plain Scala with no
  * Spark and no library code: the permissive CSV parse, gap-and-islands
  * sessionization with the closed-interval merge (`diff <= gap` merges),
  * integer-cent sums, the half-up average, and the keep-first alert set.
  */
object Reference {

  final case class Event(tsUs: Long, user: Long, value: Double)

  /** One session. `endUs` is the last event's time plus the user's gap. */
  final case class Session(user: Long, startUs: Long, endUs: Long,
                           count: Long, sumCents: Long) {
    def sum: Double = sumCents / 100.0
    def avg: Double = math.floor(sumCents.toDouble / count + 0.5) / 100.0
    def out: Out = Out(user, startUs, endUs, count, sum, avg)
  }

  /** A session row as a query emits it. */
  final case class Out(user: Long, startUs: Long, endUs: Long, count: Long,
                       sum: Double, avg: Double)

  private val Decimal = "-?[0-9]+(\\.[0-9]+)?".r

  /** Permissive parse: four comma-separated fields, each of the right type,
    * or the line is dropped. Numbers are plain decimals only (no exponent,
    * no `NaN`), which covers every well-formed line the generators write.
    */
  def parse(line: String): Option[Event] = {
    val p = line.trim.split(",", -1).map(_.trim)
    if (p.length != 4) None
    else for {
      ts <- scala.util.Try(Gen.parseTsUs(p(0))).toOption
      user <- p(1).toLongOption
      _ <- p(2).toLongOption
      v <- Some(p(3)).filter(s => Decimal.matches(s)).map(_.toDouble)
    } yield Event(ts, user, v)
  }

  /** A value in whole cents, rounded half up. */
  def cents(v: Double): Long =
    new java.math.BigDecimal(v * 100).setScale(0, RoundingMode.HALF_UP).longValueExact()

  /** Gap-and-islands per user: a new session starts only where the
    * distance to the previous event is strictly greater than the gap. */
  def sessions(events: Iterable[Event], gap: Long): Vector[Session] =
    events.groupBy(_.user).iterator.flatMap { case (user, evs) =>
      val sorted = evs.toVector.sortBy(_.tsUs)
      val out = Vector.newBuilder[Session]
      var start = sorted.head.tsUs
      var last = start
      var n = 0L
      var c = 0L
      for (e <- sorted) {
        if (n > 0 && e.tsUs - last > gap) {
          out += Session(user, start, last + gap, n, c)
          start = e.tsUs; n = 0; c = 0
        }
        last = e.tsUs; n += 1; c += cents(e.value)
      }
      out += Session(user, start, last + gap, n, c)
      out.result()
    }.toVector.sortBy(s => (s.user, s.startUs))

  /** Keep-first alert set: each user's earliest session whose sum reaches
    * the threshold, and never a second one for that user. */
  def alerts(sessions: Seq[Session], threshold: Double): Vector[Session] =
    sessions.filter(_.sum >= threshold).groupBy(_.user).values
      .map(_.minBy(_.startUs)).toVector.sortBy(_.user)

  /** Sessions a watermarked append-mode query has emitted once its
    * watermark reached `watermarkUs`. */
  def closedBy(sessions: Seq[Session], watermarkUs: Long): Vector[Session] =
    sessions.filter(_.endUs <= watermarkUs).toVector

  /** Compare emitted rows with the expected ones. Returns (missing or wrong,
    * unexpected extra) counts. Rows are keyed by (user, start, end). */
  def diff(expected: Seq[Session], got: Seq[Out]): (Int, Int) = {
    val want = expected.map(s => (s.user, s.startUs, s.endUs) -> s.out).toMap
    val have = got.groupBy(s => (s.user, s.startUs, s.endUs))
    val bad = want.count { case (k, s) => !have.get(k).contains(Seq(s)) }
    (bad, have.keys.count(k => !want.contains(k)))
  }
}
