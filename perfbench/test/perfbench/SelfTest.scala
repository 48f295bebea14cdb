package perfbench

import perfbench.Gen.{Now, Point}

/** Tests of the benchmark's own logic; run with
  * `python3 perfbench/run.py --selftest`. Exits non-zero on any failure.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = scala.util.Try(cond).getOrElse(false)
    if (!ok) failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  private def throws(body: => Any): Boolean =
    scala.util.Try(body).isFailure

  def main(args: Array[String]): Unit = {
    // generator: byte-identical for a seed, different across seeds
    def bytes(g: Gen): String =
      (0 until 5).map(g.ingestFile).mkString + g.ingestHistory.mkString +
        g.dashboardHistory.mkString + (0 until 5).map(g.writerBatch).mkString +
        (0 until 30).map(g.request).mkString
    check("generator is byte-identical for a seed")(bytes(new Gen(7)) == bytes(new Gen(7)))
    check("generator differs across seeds")(bytes(new Gen(7)) != bytes(new Gen(8)))
    check("file j does not depend on the files drawn before it")(
      new Gen(3).ingestFile(4) == { val g = new Gen(3); g.ingestFile(0); g.ingestFile(4) })
    check("late points hit each (series, hour) at most once") {
      val g = new Gen(5)
      val keys = (0 until Gen.IngestMaxFiles).flatMap(g.ingestLate)
        .map(p => (p.series, p.ts / Gen.Hour))
      keys.distinct.size == keys.size
    }
    check("each ingest file has its malformed lines") {
      val lines = new Gen(9).ingestFile(2).split("\n")
      lines.length == Gen.Series.size + Gen.LatePerFile + Gen.MalformedPerFile
    }

    // percentile rule
    val xs = (1 to 100).map(_.toDouble)
    check("nearest-rank p50 of 1..100 is 50")(Stats.median(xs) == 50.0)
    check("nearest-rank p90 of 1..100 is 90")(Stats.percentile(xs, 0.9) == 90.0)
    check("p90 of 1 sample is that sample")(Stats.percentile(Seq(3.0), 0.9) == 3.0)
    check("p90 needs 100 samples for 10 beyond it")(
      Stats.tailSupported(100, 0.9) && !Stats.tailSupported(99, 0.9))
    check("p50 needs 20 samples for 10 beyond it")(
      Stats.tailSupported(20, 0.5) && !Stats.tailSupported(19, 0.5))
    check("percentile of an empty sample throws")(throws(Stats.median(Nil)))

    // mirror xff gating: 10-minute level over 1-minute points, xff 0.5
    val t = Now - Gen.Hour // in band 0, aligned to every step
    def mirrorWith(n: Int): Mirror = {
      val m = new Mirror(Gen.Policy, Now)
      m.write(0, (0 until n).map(i => Point("s", t + 60L * i + 7, i + 1.0)))
      m
    }
    check("5 of 10 slots pass xff 0.5: mean of 1..5 is 3")(
      mirrorWith(5).value(1, "s", t, 0).contains(3.0))
    check("4 of 10 slots fail xff 0.5")(mirrorWith(4).value(1, "s", t, 0).isEmpty)
    check("hourly level needs 3 of 6 ten-minute values") {
      val m = new Mirror(Gen.Policy, Now)
      // 3 ten-minute intervals with 5 points each (means 3, 13, 23)
      m.write(0, for (k <- 0 until 3; i <- 0 until 5)
        yield Point("s", t + 600L * k + 60L * i, 10.0 * k + i + 1))
      m.value(2, "s", t, 0).contains(13.0) && {
        val m2 = new Mirror(Gen.Policy, Now)
        m2.write(0, for (k <- 0 until 2; i <- 0 until 5)
          yield Point("s", t + 600L * k + 60L * i, 1.0))
        m2.value(2, "s", t, 0).isEmpty
      }
    }
    check("later batch wins, earlier state stays readable") {
      val m = new Mirror(Gen.Policy, Now)
      m.write(0, Seq(Point("s", t, 1.0)))
      m.write(1, Seq(Point("s", t + 5, 2.0)))
      m.value(0, "s", t, 0).contains(1.0) && m.value(0, "s", t, 1).contains(2.0)
    }
    check("points older than every level are dropped")(
      { val m = new Mirror(Gen.Policy, Now); m.write(0, Seq(Point("s", Now - 400 * Gen.Day, 1.0)))
        m.band(Now - 400 * Gen.Day) == -1 })
    check("glob match") {
      Mirror.globMatch("app.*.cpu", "app.h01.cpu") && !Mirror.globMatch("app.*.cpu", "app.h01.mem") &&
        Mirror.globMatch("app.h0{1,2}.*", "app.h02.req") && !Mirror.globMatch("app.h0{1,2}.*", "app.h03.req")
    }

    // self time: a span minus the union of its children's intervals
    val spans = Seq(Span(1, 0, 1, "op", 0, 100), Span(2, 1, 1, "a", 10, 30),
      Span(3, 1, 1, "b", 20, 50), Span(4, 1, 1, "c", 70, 80),
      Span(5, 2, 1, "d", 12, 14), Span(6, 1, 1, "late", 95, 120))
    val self = Tracer.selfTimes(spans)
    check("self time subtracts overlapping children once")(self(1) == 100 - 40 - 10 - 5)
    check("self time of a nested span")(self(2) == 20 - 2)
    check("self time of a leaf is its duration")(self(4) == 10)

    // error_rate accounting: throws and wrong results both count
    val rep = new Report
    rep.op("fetch", None)
    rep.op("fetch", Some("slot 60: got Some(1.0) want Some(2.0)"))
    rep.guard("render")(throw new IllegalStateException("boom"))
    check("guard returns the value of a successful op")(rep.guard("render")(5).contains(5))
    check("attempted counts every op, failed counts throws and mismatches")(
      rep.attempted == 3 && rep.failed == 2)
    check("failing op kinds are kept")(
      rep.failKinds == Map("fetch" -> 1L, "render" -> 1L))
    check("error_rate is failed over attempted")(
      Stats.errorRate(rep.attempted, rep.failed) == 2.0 / 3)
    check("error_rate rejects impossible counts")(throws(Stats.errorRate(1, 2)))
    check("slot diff reports a wrong value")(
      Workloads.diffSlots(Map(60L -> Some(1.0)), Map(60L -> Some(2.0))).isDefined &&
        Workloads.diffSlots(Map(60L -> Some(1.0)), Map(60L -> Some(1.0))).isEmpty &&
        Workloads.diffSlots(Map(60L -> None), Map(60L -> Some(1.0))).isDefined &&
        Workloads.diffSlots(Map.empty, Map(60L -> None)).isDefined)

    println(if (failures == 0) "ALL PASS" else s"$failures FAILED")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
