package streambench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Seeded input generators. Every generator takes the seed as an argument
  * and is a pure function of (seed, size): the same seed yields
  * byte-identical inputs. The library under test only ever sees the files
  * these write.
  */
object Gen {

  /** Wire format of the reference producer: `timestamp,userID,sessionID,payload`. */
  val TsFormat: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)

  def formatTs(us: Long): String =
    TsFormat.format(Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L))

  def parseTsUs(s: String): Long = {
    val t = LocalDateTime.parse(s, TsFormat).toInstant(ZoneOffset.UTC)
    t.getEpochSecond * 1000000L + t.getNano / 1000
  }

  def csvLine(tsUs: Long, user: Long, txn: Long, value: Double): String =
    s"${formatTs(tsUs)},$user,$txn,$value"

  /** The user ids of the reference producer's peak phase (`generator1.py:35-39`). */
  val PhaseOneUsers: Seq[Long] =
    Seq(4L, 9999L, 100L, 108L, 116L, 124L, 132L, 140L, 150L, 160L, 170L, 180L, 190L, 198L)

  /** Write `lines` as the text file `dir/00000.csv`. */
  def writeCsvFile(dir: Path, lines: Seq[String]): Path = {
    Files.createDirectories(dir)
    Files.write(dir.resolve("00000.csv"), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  // ------------------------------------------------------------------- live

  /** One scheduled live event. `dueMs` is its offset from the schedule's
    * start; the generator stamps the event with start + dueMs. */
  final case class LiveEvent(dueMs: Long, user: Long, txn: Long, value: Double)

  /** The reference's peak phase (`generator1.py:35-39`) on a loop: 1,000
    * events/s, one per millisecond, each from one of 14 users picked at
    * random, with phase 1's user ids. In the reference the phase-1 users
    * go quiet after one second and their sessions close 30 s later. Here
    * each of the 14 user slots hands over to a fresh user id every second
    * (slot `j` at `j/14` s past each second, id `+ 10,000` per hand-over),
    * so the phase repeats with the same key count and burst shape, and one
    * session closes every ~71 ms. Payload is the reference's `userID * 10`
    * of the slot's phase-1 id, so the alert mix is phase 1's too.
    */
  val LiveGapSeconds = 30
  val LiveSpanMs = 1000L
  val LiveIdStride = 10000L

  def liveSchedule(seed: Long, durationMs: Long): Vector[LiveEvent] = {
    val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 2)
    val slots = PhaseOneUsers.size
    Vector.tabulate(durationMs.toInt) { t =>
      val j = rnd.nextInt(slots)
      val handOvers = Math.floorDiv(t - j * LiveSpanMs / slots, LiveSpanMs) + 1
      val base = PhaseOneUsers(j)
      LiveEvent(t, base + LiveIdStride * handOvers, 1 + rnd.nextInt(1000000), base * 10.0)
    }
  }

  def liveLine(startMs: Long, e: LiveEvent): String =
    csvLine((startMs + e.dueMs) * 1000L, e.user, e.txn, e.value)

  // --------------------------------------------------------------- curation

  /** Document corpus with planted duplicate groups plus one embedding per
    * document with planted clusters. `root(i)` is the first document of
    * i's duplicate group (i itself for an original); `cluster(i)` is the
    * planted center of i's embedding.
    */
  final case class Corpus(texts: Vector[String], root: Vector[Int],
                          emb: Vector[Array[Float]], cluster: Vector[Int]) {
    def size: Int = texts.size
  }

  val EmbDim = 32
  val EmbClusters = 16
  /** Words per document; distinct random words from a large vocabulary, so
    * unrelated documents share no word 3-gram (Jaccard ~0). */
  val DocWordsMin = 40
  val DocWordsMax = 60

  def corpus(seed: Long, n: Int): Corpus = {
    val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 3)
    def word(): String = "w" + Integer.toString(rnd.nextInt(1 << 24), 36)
    val texts = new Array[String](n)
    val root = new Array[Int](n)
    val originals = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (i <- 0 until n) {
      val r = rnd.nextInt(100)
      if (originals.nonEmpty && r < 20) {
        val o = originals(rnd.nextInt(originals.size))
        root(i) = o
        texts(i) =
          if (r < 6) texts(o) // exact duplicate
          else {
            // near duplicate: one word replaced inside the text — Jaccard of
            // the word 3-gram sets >= 35/41, far above NearDup's 0.5
            val ws = texts(o).split(" ")
            ws(1 + rnd.nextInt(ws.length - 2)) = word()
            ws.mkString(" ")
          }
      } else {
        root(i) = i
        originals += i
        texts(i) = Seq.fill(DocWordsMin + rnd.nextInt(DocWordsMax - DocWordsMin + 1))(word())
          .mkString(" ")
      }
    }
    val centers = Array.fill(EmbClusters) {
      val c = Array.fill(EmbDim)(rnd.nextGaussian())
      val norm = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / norm)
    }
    val cluster = Vector.fill(n)(rnd.nextInt(EmbClusters))
    val emb = cluster.map { k =>
      Array.tabulate(EmbDim)(d => (centers(k)(d) + 0.08 * rnd.nextGaussian()).toFloat)
    }
    Corpus(texts.toVector, root.toVector, emb, cluster)
  }
}
