package graft

import graft.core.ArchivePolicy
import graft.store.HoardStore
import graft.streaming.CarbonIngest
import org.apache.spark.sql.functions._

class CarbonIngestSpec extends SparkTestBase {

  private def linesDf(ls: String*) = {
    import spark.implicits._
    ls.toDF("value")
  }

  test("parse accepts well-formed lines, any whitespace run, and round-trips doubles exactly") {
    val in = linesDf(
      "web.srv1.cpu 0.5 1312502906",
      "  web.srv2.mem\t1.0E7   1312502907  ", // tabs + runs + leading/trailing
      "a.b -3.25 0",
      "c 4.9E-324 42") // Double.MIN_VALUE must survive the wire
    val out = CarbonIngest.parse(in).orderBy("ts")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(
      ("a.b", 0L, -3.25),
      ("c", 42L, java.lang.Double.MIN_VALUE),
      ("web.srv1.cpu", 1312502906L, 0.5),
      ("web.srv2.mem", 1312502907L, 1.0e7)))
  }

  test("parse drops every malformed shape; rejected() is the exact complement minus blanks") {
    val badShapes = Seq(
      "web.cpu 1.5",                 // missing timestamp
      "web.cpu 1.5 1312502906 extra", // 4 fields
      "web.cpu abc 1312502906",      // non-numeric value
      "web.cpu NaN 1312502906",      // NaN
      "web.cpu Infinity 1312502906", // Inf
      "web.cpu 1.5 12x4",            // non-numeric ts
      "web.cpu 1.5 -5",              // negative ts
      "web.cpu 1.5 3.7")             // fractional ts (carbon is int secs)
    val good = Seq("web.cpu 1.5 1312502906")
    val blanks = Seq("", "   ")
    val in = linesDf(scala.util.Random.shuffle(badShapes ++ good ++ blanks): _*)
    assert(CarbonIngest.parse(in).count() == good.size)
    val rej = CarbonIngest.rejected(in).collect().map(_.getString(0)).toSet
    assert(rej == badShapes.toSet) // all bad, no good, no blanks
  }

  test("carbon text stream feeds the store write path end-to-end; bad lines don't poison the batch") {
    val now = 1312502906L
    val store = HoardStore.create(spark, tmpDir("carbon") + "/store",
      ArchivePolicy.referenceTest)
    val stage = tmpDir("carbon-in")
    linesDf(
      s"cpu 1.0 ${now - 7200}",
      s"cpu 2.0 ${now - 7200 + 60}", // same minute-archive slot: lww
      "garbage-line-without-fields",
      s"mem 9.0 ${now - 3600}",
      "mem broken").coalesce(1).write.mode("append").text(stage)
    val q = CarbonIngest.start(
      spark.readStream.text(stage), store, () => now, tmpDir("carbon-ckpt"))
    q.awaitTermination(120000)

    val (_, cpu) = store.fetchValues("cpu", now - 10800, now, now)
    assert(cpu.flatten == Seq(2.0))
    val (_, mem) = store.fetchValues("mem", now - 10800, now, now)
    assert(mem.flatten == Seq(9.0))
  }

  test("a micro-batch of only malformed lines publishes no manifest version") {
    val now = 1312502906L
    val store = HoardStore.create(spark, tmpDir("carbon-bad") + "/store",
      ArchivePolicy.referenceTest)
    val before = HoardStore.latestManifestVersion(store.root)
    val stage = tmpDir("carbon-bad-in")
    linesDf("garbage-line-without-fields", "mem broken", s"cpu x $now")
      .coalesce(1).write.mode("append").text(stage)
    assert(CarbonIngest.start(spark.readStream.text(stage), store, () => now,
      tmpDir("carbon-bad-ckpt")).awaitTermination(120000))
    assert(HoardStore.latestManifestVersion(store.root) == before)
  }
}
