package graft.store

import graft.core.{Archive, ArchivePolicy}

/** Pure binary codec for the whisper/hoard on-disk format — the
  * reference's file layout (`src/hoard.coffee:392-424` header parse,
  * `:426-513` ring decode; Python Whisper's format, which the
  * reference is byte-compatible with by test
  * `test/hoard.test.coffee:60-63`):
  *
  * {{{
  * header   = lastUpdate:u32be maxRetention:u32be xff:f32be count:u32be
  * archive  = offset:u32be secondsPerPoint:u32be points:u32be   (× count)
  * ring     = (pointTime:u32be value:f64be) × points            (per archive)
  * }}}
  *
  * All functions are driver-free pure byte-array decoders so the same
  * code parses a file on the driver (header peek) or inside an
  * executor task (the whisper source's bulk decode of many files).
  */
object WhisperFormat {

  /** One archive header entry: byte offset + (step, points) ring shape
    * (`src/hoard.coffee:412-418`).
    */
  final case class ArchiveInfo(offset: Int, step: Int, points: Int) {
    def retention: Long = step.toLong * points
    def sizeBytes: Int = points * PointSize
  }

  /** File header (`src/hoard.coffee:404-421`). `lastUpdate` is the
    * old-style whisper first word the reference reads; it doubles as
    * the natural `now` for replaying a fetch against archived data.
    */
  final case class Header(lastUpdate: Long, maxRetention: Long,
                          xff: Float, archives: Seq[ArchiveInfo]) {
    /** The engine policy equivalent of this header (cf is not encoded
      * in the format — the reference only ships the mean,
      * `src/hoard.coffee:156`).
      */
    def policy(cf: String = "avg"): ArchivePolicy =
      ArchivePolicy(archives.map(a => Archive(a.step.toLong, a.points.toLong)),
        xff = xff.toDouble, cf = cf)
  }

  /** One populated ring slot, tagged with its archive's step. */
  final case class Slot(step: Int, ts: Long, value: Double)

  private val HeaderSize = 16
  private val ArchiveEntrySize = 12
  /** `!Ld` — u32 interval + f64 value (`src/hoard.coffee:19`). */
  private val PointSize = 12

  private def u32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  def header(bytes: Array[Byte]): Header = {
    require(bytes.length >= HeaderSize, s"whisper header needs $HeaderSize bytes")
    val lastUpdate = u32(bytes, 0)
    val maxRetention = u32(bytes, 4)
    val xff = java.lang.Float.intBitsToFloat(u32(bytes, 8).toInt)
    val n = u32(bytes, 12).toInt
    require(n > 0 && n <= 1024, s"implausible archive count $n")
    require(bytes.length >= HeaderSize + n * ArchiveEntrySize,
      "truncated archive table")
    val archives = (0 until n).map { i =>
      val o = HeaderSize + i * ArchiveEntrySize
      ArchiveInfo(u32(bytes, o).toInt, u32(bytes, o + 4).toInt,
        u32(bytes, o + 8).toInt)
    }
    archives.foreach { a =>
      require(a.offset + a.sizeBytes.toLong <= bytes.length,
        s"archive ring at ${a.offset} overruns file (${bytes.length} bytes)")
    }
    Header(lastUpdate, maxRetention, xff, archives)
  }

  /** Every populated ring slot of every archive (`pointTime != 0`
    * marks an unwritten slot, `src/hoard.coffee:452-455`). Values are
    * exactly the stored f64 bits. A slot whose stored time is stale
    * (an older era of the ring) still decodes here — validity against
    * a requested window is the fetch-time exact interval match, same
    * as the reference (`src/hoard.coffee:500-506`).
    */
  /** Encode a whisper/hoard file: header + archive table + rings
    * (`src/hoard.coffee:30-69` create layout; byte-parity with the
    * reference's `test/testcreate.whisper` asserted in tests). Each
    * archive's points (aligned epoch-second, value) are placed at ring
    * slot `floorMod((ts - base) / step, points)` with base = the
    * oldest exported interval — any congruent placement is a valid
    * ring, since readers match slots by exact stored timestamp. Points
    * older than the ring span (or colliding on a slot) resolve to the
    * NEWEST timestamp, exactly like ring wraparound overwrites. The
    * actual xff is written — the reference's create hardcodes 0.5 no
    * matter what was asked (`src/hoard.coffee:40-46`, bug B1), which
    * we fix by intent like the rest of the engine.
    */
  def write(lastUpdate: Long, xff: Float,
            archives: Seq[(graft.core.Archive, Seq[(Long, Double)])]): Array[Byte] = {
    require(archives.nonEmpty, "need at least one archive")
    val sorted = archives.sortBy(_._1.step)
    val headerSize = HeaderSize + sorted.size * ArchiveEntrySize
    val offsets = sorted.map(_._1).scanLeft(headerSize) {
      (o, ar) => o + ar.points.toInt * PointSize
    }
    val total = offsets.last
    val buf = java.nio.ByteBuffer.allocate(total) // big-endian default
    val maxRetention = sorted.map(_._1.retention).max
    buf.putInt(lastUpdate.toInt)
    buf.putInt(maxRetention.toInt)
    buf.putFloat(xff)
    buf.putInt(sorted.size)
    sorted.zip(offsets).foreach { case ((ar, _), off) =>
      buf.putInt(off); buf.putInt(ar.step.toInt); buf.putInt(ar.points.toInt)
    }
    sorted.zip(offsets).foreach { case ((ar, pts), off) =>
      val step = ar.step
      val n = ar.points.toInt
      val live = pts.filter { case (t, _) =>
        require(t % step == 0, s"point $t not aligned to step $step")
        t > lastUpdate - ar.retention // ring span only
      }
      if (live.nonEmpty) {
        val base = live.map(_._1).min
        // newest wins a slot, like wraparound overwrites
        live.sortBy(_._1).foreach { case (t, v) =>
          val slot = java.lang.Math.floorMod((t - base) / step, n.toLong).toInt
          buf.putInt(off + slot * PointSize, t.toInt)
          buf.putDouble(off + slot * PointSize + 4, v)
        }
      }
    }
    buf.array()
  }

  def slots(bytes: Array[Byte]): Iterator[Slot] = {
    val h = header(bytes)
    val buf = java.nio.ByteBuffer.wrap(bytes) // big-endian by default
    h.archives.iterator.flatMap { a =>
      (0 until a.points).iterator.flatMap { i =>
        val o = a.offset + i * PointSize
        val t = u32(bytes, o)
        if (t == 0L) None
        else Some(Slot(a.step, t, buf.getDouble(o + 4)))
      }
    }
  }
}
