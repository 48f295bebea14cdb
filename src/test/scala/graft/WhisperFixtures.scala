package graft

import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}

/** Whisper files built in the test, stand-ins for the reference's
  * `test/testcreate.whisper` and `test/large.whisper` (FIXTURES.md §1.2-1.3).
  *
  * The bytes come from this file's own encoder of the big-endian layout
  * (SURVEY §1.2): `!2LfL` header (lastUpdate, maxRetention, xff, count),
  * `!3L` per archive (offset, secondsPerPoint, points), then `!Ld` ring
  * slots (interval, value). It never calls `WhisperFormat`, so a test
  * that decodes these files checks the engine against an independent
  * encoding of the format, and [[largeValues]] is the naive expected
  * content of every slot.
  */
object WhisperFixtures {

  /** One archive: its step, and its ring's `(interval, value)` slots in
    * file order; an all-zero slot is unwritten. */
  final case class Ring(step: Int, slots: IndexedSeq[(Long, Double)])

  def encode(lastUpdate: Long, xff: Float, rings: Seq[Ring]): Array[Byte] = {
    val offsets = rings.scanLeft(16 + 12 * rings.size)(_ + 12 * _.slots.size)
    val buf = ByteBuffer.allocate(offsets.last) // big-endian
    buf.putInt(lastUpdate.toInt)
      .putInt(rings.map(r => r.step * r.slots.size).max)
      .putFloat(xff).putInt(rings.size)
    rings.zip(offsets).foreach { case (r, off) =>
      buf.putInt(off).putInt(r.step).putInt(r.slots.size)
    }
    for (r <- rings; (ts, v) <- r.slots) buf.putInt(ts.toInt).putDouble(v)
    buf.array()
  }

  /** `testcreate.whisper`: policy `[[1,60],[10,600]]`, xff 0.5, the
    * reference's lastUpdate word, zeroed rings — 7,960 B, offsets 40/760. */
  val CreateLastUpdate = 1312314443L
  lazy val testcreate: Array[Byte] = encode(CreateLastUpdate, 0.5f,
    Seq(Ring(1, Vector.fill(60)((0L, 0.0))), Ring(10, Vector.fill(600)((0L, 0.0)))))

  /** The large-shaped file's lastUpdate, its natural replay clock. */
  val LargeNow = 1312504705L
  /** Oldest daily slot: the one daily slot older than `LargeNow` minus
    * the daily retention (94,608,000 s). */
  val OldestDaily = 1217894400L

  /** Every slot of the large-shaped file as `(step, interval) → value`:
    * a full hourly ring ending at `LargeNow`'s hour and a full daily
    * ring starting at [[OldestDaily]], seeded integers 10-4999. */
  lazy val largeValues: Map[(Long, Long), Double] = built._2

  /** Policy `[[3600,8760],[86400,1095]]`, xff 0.5, lastUpdate
    * [[LargeNow]] — 118,300 B, offsets 40/105160. Each ring is wrapped:
    * slot 0 holds a seeded interval other than the oldest, so the newest
    * slot is not the last one. */
  lazy val large: Array[Byte] = built._1

  private lazy val built: (Array[Byte], Map[(Long, Long), Double]) = {
    val rnd = new scala.util.Random(20110805)
    def ring(step: Int, oldest: Long, points: Int) = {
      val byAge = Vector.tabulate(points)(k =>
        (oldest + k.toLong * step, rnd.between(10, 5000).toDouble))
      val first = rnd.between(1, points) // age index held by slot 0
      Ring(step, Vector.tabulate(points)(i => byAge((first + i) % points)))
    }
    val hourly = ring(3600, LargeNow / 3600 * 3600 - 8759L * 3600, 8760)
    val daily = ring(86400, OldestDaily, 1095)
    val values = (for (r <- Seq(hourly, daily); (ts, v) <- r.slots)
      yield (r.step.toLong, ts) -> v).toMap
    (encode(LargeNow, 0.5f, Seq(hourly, daily)), values)
  }

  /** Write `bytes` to `dir/name` and return the file's path. */
  def write(dir: String, name: String, bytes: Array[Byte]): String = {
    val p = Paths.get(dir, name)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes).toString
  }
}
