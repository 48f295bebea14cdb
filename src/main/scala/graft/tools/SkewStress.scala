package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew validation at ~10× the bench scale: generates two deterministic
  * events fixtures of the same volume — one uniform, one with a
  * deliberately hot user (≈5% of all rows on ONE key, ~750× the uniform
  * share) and a hot event_type (80% of rows) — and times the
  * skew-sensitive query paths on both:
  *
  *   - h8_salted: two-stage salted aggregation over user_id
  *   - q8_range:  equi+range self-join on user_id (hour-bucket
  *                decomposed — the undecomposed join is O(n·m) per hot
  *                key in one task)
  *   - h17_seriesagg: per-(series, hour) rollup then bucket aggregate
  *
  * The gate: skewed wall time within 2× of uniform wall time at equal
  * volume, and (printed) identical results between q8's bucketized plan
  * and the naive undecomposed join on the skewed fixture.
  *
  * Usage: runMain graft.tools.SkewStress [rows]   (default 1,000,000)
  */
object SkewStress {

  /** Deterministic synthetic events in the testdata schema (ts stored
    * as INT64 nanos like the driver's fixtures; Tables.load converts).
    */
  private def gen(s: SparkSession, n: Long, hot: Boolean,
                  burst: Boolean = false): DataFrame = {
    val users = 15000L
    val base = 1704067200L // 2024-01-01 UTC
    val span = 30L * 86400 // 30 days
    val types = array(lit("click"), lit("view"), lit("purchase"),
      lit("signup"), lit("error"))
    val df = s.range(n).select(
      col("id").as("event_id"),
      // xxhash64-derived pseudo-randomness: deterministic, seedable by
      // an extra literal column
      pmod(xxhash64(col("id"), lit(1)), lit(span)).as("off"),
      pmod(xxhash64(col("id"), lit(2)), lit(1000000000L)).as("subsec"),
      pmod(xxhash64(col("id"), lit(3)), lit(users)).as("u_uniform"),
      pmod(xxhash64(col("id"), lit(4)), lit(20)).as("hotroll"),
      pmod(xxhash64(col("id"), lit(5)), lit(5)).cast("int").as("t_uniform"),
      pmod(xxhash64(col("id"), lit(6)), lit(5)).as("hottype"),
      (pmod(xxhash64(col("id"), lit(7)), lit(1000000)).cast("double") /
        lit(100.0)).as("value"))
    val user =
      if (!hot) col("u_uniform")
      else when(col("hotroll") === 0, lit(0L)).otherwise(col("u_uniform"))
    val typ =
      if (!hot) element_at(types, col("t_uniform") + 1)
      else when(col("hottype") =!= 0, lit("click")) // 80% one series
        .otherwise(element_at(types, col("t_uniform") + 1))
    // burst: 80% of all rows land inside ONE wall-clock hour (a flash
    // crowd) — the hot-TIME analogue of the hot-user fixture
    val off =
      if (!burst) col("off")
      else when(col("hotroll") < 16, pmod(col("off"), lit(3600L)))
        .otherwise(col("off"))
    val ts = (lit(base) + off) * lit(1000000000L) + col("subsec")
    df.select(col("event_id"), ts.as("ts"), user.as("user_id"),
      typ.as("event_type"), col("value"), lit("{}").as("props"))
  }

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = graft.Graft.session(cores = 32, appName = "graft-skewstress")
    spark.sparkContext.setLogLevel("WARN")
    val ok = run(spark, n, timeNaive = args.contains("naive"))
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** The envelope as a boolean (StressAll's unit): every skew-sensitive
    * query within 2× of its uniform-fixture time at equal volume, and
    * q8's bucketized plan result-identical to the naive join.
    */
  def run(spark: SparkSession, n: Long, timeNaive: Boolean = false): Boolean = {
    val root = graft.Scratch.dir("graft-skew")
    val dirs = Seq(("uniform", false, false), ("hot", true, false),
      ("burst", false, true)).map { case (name, h, b) =>
      val d = s"$root/$name"
      gen(spark, n, h, b).coalesce(8)
        .write.mode("overwrite").parquet(s"$d/events.parquet")
      name -> d
    }.toMap

    // sanity: hot fixture's top key share
    val hotShare = spark.read.parquet(s"${dirs("hot")}/events.parquet")
      .groupBy("user_id").count().orderBy(desc("count")).head()
    println(s"[skew] rows=$n hot user=${hotShare.get(0)} " +
      s"share=${hotShare.getLong(1).toDouble / n}")

    val queries = Seq("h8_salted", "q8_range", "h17_seriesagg")
    val results = for (q <- queries; (name, d) <- dirs.toSeq.sortBy(_._1).reverse)
      yield {
        def once() = SparkEntry.queries(q)(spark, d)
          .write.format("noop").mode("overwrite").save()
        once() // warm (plan + codegen + scan cache effects)
        val t = time(once())
        println(f"[skew] $q%-15s $name%-8s ${t}%.2f s")
        (q, name, t)
      }
    println("[skew] ratios vs uniform:")
    val ratiosOk = queries.map { q =>
      val m = results.collect { case (`q`, nm, t) => nm -> t }.toMap
      Seq("hot", "burst").map { variant =>
        val r = m(variant) / m("uniform")
        val verdict = if (r <= 2.0) "OK (<=2x)" else "FAIL (>2x)"
        println(f"[skew] $q%-15s $variant%-6s ${r}%.2f  $verdict")
        r <= 2.0
      }.forall(identity)
    }.forall(identity)

    // q8 correctness under skew: bucketized plan ≡ naive join. The
    // naive join is exactly the quadratic-per-hot-key plan this stress
    // exists to avoid, so the equivalence runs on a SMALLER hot fixture
    // (same generator, n/10) where its O(hot²) cost is tolerable.
    val smallHot = s"$root/hot-small"
    gen(spark, math.min(n / 10, 200000L), hot = true).coalesce(4)
      .write.mode("overwrite").parquet(s"$smallHot/events.parquet")
    val e = graft.Tables.load(spark, smallHot, "events")
    val clicks = e.where(col("event_type") === "click")
      .select(col("user_id").as("u1"), col("event_id"), col("ts").as("ts1"))
    val naive = clicks.join(
        e.select(col("user_id").as("u2"), col("ts").as("ts2")),
        col("u1") === col("u2") && col("ts2") > col("ts1") &&
          col("ts2") <= col("ts1") + expr("INTERVAL 1 HOUR"), "left")
      .groupBy(col("event_id")).agg(count(col("ts2")).as("n"))
    val bucketized = SparkEntry.queries("q8_range")(spark, smallHot)
    val diff = bucketized.join(naive.withColumnRenamed("n", "n2"), "event_id")
      .where(col("n") =!= col("n2")).count()
    println(s"[skew] q8 bucketized vs naive differing rows: $diff " +
      (if (diff == 0) "(IDENTICAL)" else "(MISMATCH!)"))

    // opt-in: time the UNDECOMPOSED join on the full hot fixture to
    // demonstrate the per-hot-key quadratic the bucketization removes
    if (timeNaive) {
      val ef = graft.Tables.load(spark, dirs("hot"), "events")
      val cf = ef.where(col("event_type") === "click")
        .select(col("user_id").as("u1"), col("event_id"), col("ts").as("ts1"))
      val t = time {
        cf.join(ef.select(col("user_id").as("u2"), col("ts").as("ts2")),
            col("u1") === col("u2") && col("ts2") > col("ts1") &&
              col("ts2") <= col("ts1") + expr("INTERVAL 1 HOUR"), "left")
          .groupBy(col("event_id")).agg(count(col("ts2")).as("n"))
          .write.format("noop").mode("overwrite").save()
      }
      println(f"[skew] q8 NAIVE (undecomposed) on hot fixture: ${t}%.2f s")
    }
    ratiosOk && diff == 0L
  }
}
