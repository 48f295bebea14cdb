package graft

import graft.core.{Archive, ArchivePolicy}
import graft.store.{HoardExport, HoardImport, HoardStore}
import graft.store.HoardStore.RawPoint
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Whisper migration both ways on a store built in the test (no
  * reference fixtures): `toWhisperTree` → the whisper source reads back
  * exactly the export frame, each tree file is byte-identical to the
  * single-series `toWhisper`, and `intoStore` of the tree — or of a
  * subtree whose root holds only directories — serves the source
  * store's fetches.
  */
class WhisperTreeRoundTripSpec extends SparkTestBase {

  private val Now = 1700000000L
  private val policy = ArchivePolicy(Seq(Archive(60, 120), Archive(3600, 48)))
  private val series = Seq("load", "web.srv1.cpu", "web.srv2.cpu")

  /** Seeded minutely points over the last 6 h: the fine ring (2 h)
    * holds the newest, the hourly ring the whole span. */
  private lazy val store: HoardStore = {
    val rnd = new scala.util.Random(4242)
    val points = for {
      s <- series
      ts <- (Now - 6 * 3600) to Now by 60L
      if rnd.nextDouble() < 0.8
    } yield RawPoint(s, ts, rnd.between(0, 1000).toDouble)
    val st = HoardStore.create(spark, tmpDir("rt-src") + "/store", policy)
    st.updateMany(points, Now)
    st
  }

  private lazy val tree: String = {
    val dir = tmpDir("rt-tree") + "/tree"
    assert(HoardExport.toWhisperTree(store, dir, Now) == series.size.toLong)
    dir
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("series_id"), col("step"), col("ts").cast("long"),
        col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet

  /** Fetches routed to each level: 1 h (fine ring), 1 d (hourly ring). */
  private def fetches(st: HoardStore, name: String) =
    Seq(3600L, 86400L).map(w => st.fetchValues(name, Now - w, Now, Now))

  test("tree export reads back as the export frame, byte-identical to toWhisper") {
    val want = rows(HoardExport.liveRings(store, Now))
    assert(want.map(_._2) == Set(60L, 3600L), "fixture must fill both levels")
    assert(rows(spark.read.format("whisper").load(tree)) == want)

    series.foreach { s =>
      val single = tmpDir("rt-single") + "/one.whisper"
      HoardExport.toWhisper(store, s, single, Now)
      val inTree = Paths.get(tree, s.split('.').mkString("/") + ".whisper")
      assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(single)),
        Files.readAllBytes(inTree)), s"tree file of $s diverged from toWhisper")
    }

    val back = HoardImport.intoStore(spark, tree, tmpDir("rt-back") + "/store")
    series.foreach(s => assert(fetches(back, s) == fetches(store, s), s))
  }

  test("intoStore of a tree whose root holds only subdirectories") {
    // <tree>/web holds srv1/ and srv2/ only; names are root-relative
    val web = HoardImport.intoStore(spark, s"$tree/web",
      tmpDir("rt-web") + "/store")
    assert(web.policy.sorted == policy.sorted)
    Seq("srv1", "srv2").foreach { srv =>
      assert(fetches(web, s"$srv.cpu") == fetches(store, s"web.$srv.cpu"), srv)
    }
  }
}
