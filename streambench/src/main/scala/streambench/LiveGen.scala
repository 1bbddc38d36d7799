package streambench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The live load generator, run as its own process: an open loop that
  * writes the seeded schedule as small CSV files, one per `TickMs`, on a
  * fixed wall-clock schedule, whatever the engine is doing. Each event is
  * stamped with its due time; a file appears atomically (written beside
  * the watched directory, then renamed into it) once all its events are due.
  * The schedule starts `historyMs` before `liveStartEpochMs`; that part,
  * the traffic a running system has already seen, is not written here.
  *
  * Usage: `LiveGen <inDir> <seed> <durationMs> <historyMs> <liveStartEpochMs> <statsFile>`.
  * On exit it writes one line per live file to `statsFile`: the file's due
  * time and how late it was written, both in ms.
  */
object LiveGen {
  val TickMs = 100L

  def main(args: Array[String]): Unit = {
    val Array(inDir, seedS, durS, historyS, liveStartS, statsFile) = args
    val dir = Paths.get(inDir)
    val staging = dir.resolveSibling(dir.getFileName.toString + "-staging")
    Files.createDirectories(staging)
    val (duration, history) = (durS.toLong, historyS.toLong)
    val origin = liveStartS.toLong - history
    val events = Gen.liveSchedule(seedS.toLong, duration)
    val stats = new StringBuilder
    var i = events.indexWhere(_.dueMs >= history)
    // one file per tick, each written when its last event is due
    for (b <- (history + TickMs) to duration by TickMs) {
      val due = origin + b
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val lines = new StringBuilder
      while (i < events.length && events(i).dueMs < b) {
        lines.append(Gen.liveLine(origin, events(i))).append('\n')
        i += 1
      }
      if (lines.nonEmpty) {
        val name = f"$b%08d.csv"
        val tmp = staging.resolve(name)
        Files.write(tmp, lines.toString.getBytes(UTF_8))
        Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
        stats.append(s"$b ${System.currentTimeMillis() - due}\n")
      }
    }
    Files.write(Paths.get(statsFile), stats.toString.getBytes(UTF_8))
  }
}
