package graft.tools

import graft.core.{Archive, ArchivePolicy}
import graft.store.HoardStore
import graft.store.HoardStore.RawPoint
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.functions.{col, max}
import scala.util.Random

/** Contention stress for the lock-free optimistic commit path: W
  * writers race M batches each onto ONE store with
  * OVERLAPPING series and intervals (every batch conflicts with every
  * concurrent batch at the (level, month) granularity, so the
  * conflict-retry path fires constantly — the worst case, where a real
  * deployment sees mostly-disjoint appends).
  *
  * Gates printed: every batch lands (total attempts >= batches;
  * retries visible), and every level's (series, interval) → value map
  * equals the same batches replayed SEQUENTIALLY on a fresh store in
  * the order their commits landed. Each batch carries one [[marker]]
  * point whose stored lww stamp is the id of the commit that landed it,
  * so the order is read off the store itself; a stale winner or a
  * propagation from a stale snapshot changes a value.
  *
  * Usage: runMain graft.tools.ManifestStress [writers] [batchesEach]
  */
object ManifestStress {

  def main(args: Array[String]): Unit = {
    val writers = args.headOption.map(_.toInt).getOrElse(4)
    val batches = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val spark = graft.Graft.session(cores = 32, appName = "graft-manifeststress")
    spark.sparkContext.setLogLevel("WARN")
    val ok = run(spark, writers, batches)
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Batch `b` of writer `w`'s marker: a series of its own at `now`, so
    * it lands in the finest level, and its stored `seq` is the id of
    * the commit that landed the batch.
    */
  def marker(w: Int, b: Int, now: Long): RawPoint = RawPoint(s"m$w-$b", now, 0.0)

  /** Each level's (series, interval) → value map, by step. */
  def levelValues(st: HoardStore): Map[Long, Map[(String, Long), Double]] =
    st.policy.sorted.map { ar =>
      ar.step -> st.readLevel(ar).collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toInstant.getEpochSecond)
          -> r.getDouble(2)).toMap
    }.toMap

  /** Replays `work` (writer, batch) → points on a fresh store at
    * `refRoot` in the order `st`'s commits landed the batches and
    * returns, per level step, the keys whose values differ.
    */
  def replayDiff(st: HoardStore, refRoot: String,
                 work: Seq[((Int, Int), Seq[RawPoint])],
                 now: Long): Map[Long, Set[(String, Long)]] = {
    val finest = st.latestEntries
      .filter(e => !e.isCatalog && e.step == st.policy.sorted.head.step)
    val ids = st.spark.read.parquet(finest.map(e => s"${st.root}/${e.rel}"): _*)
      .where(col("series_id").startsWith("m"))
      .groupBy(col("series_id")).agg(max(col("seq")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ref = HoardStore.create(st.spark, refRoot, st.policy)
    work.sortBy { case ((w, b), _) => ids(s"m$w-$b") }
      .foreach { case (_, pts) => ref.updateMany(pts, now) }
    val (got, want) = (levelValues(st), levelValues(ref))
    got.map { case (step, g) =>
      val r = want(step)
      step -> (g.keySet ++ r.keySet).filter(k => g.get(k) != r.get(k))
    }
  }

  /** The envelope as a boolean (StressAll's unit): every racing batch
    * lands and every level's values equal a commit-order sequential
    * replay's (the linearizability gate).
    */
  def run(spark: org.apache.spark.sql.SparkSession, writers: Int,
          batches: Int): Boolean = {
    val policy = ArchivePolicy(Seq(
      Archive(60, 60), Archive(3600, 24), Archive(86400, 30)))
    val now = 1700000000L
    val root = graft.Scratch.dir("graft-mstress") + "/store"
    HoardStore.create(spark, root, policy)

    // every writer hits the SAME series and the same 20-day range:
    // maximal (level, month) overlap → every concurrent pair conflicts
    val rnd = new Random(99)
    val work: Seq[((Int, Int), Seq[RawPoint])] = (0 until writers).flatMap { w =>
      (0 until batches).map { b =>
        (w, b) -> ((0 until 60).map(_ => RawPoint(s"s${rnd.nextInt(3)}",
          now - rnd.between(0L, 20L * 86400), rnd.nextInt(1000).toDouble))
          :+ marker(w, b, now))
      }
    }

    implicit val ec: ExecutionContext = ExecutionContext.global
    val t0 = System.nanoTime()
    val futures = (0 until writers).map { w =>
      Future {
        val st = HoardStore.open(spark, root)
        work.filter(_._1._1 == w).foreach { case (_, b) =>
          st.updateMany(b, now)
        }
        st.lastCommitAttempts
      }
    }
    val attempts = futures.map(Await.result(_, 600.seconds))
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"[mstress] $writers writers x $batches batches in $wall%.1f s; " +
      s"last-batch attempts per writer: ${attempts.mkString(",")}")

    val diff = replayDiff(HoardStore.open(spark, root),
      graft.Scratch.dir("graft-mstress-ref") + "/store", work, now)
    diff.toSeq.sortBy(_._1).foreach { case (step, keys) =>
      if (keys.nonEmpty)
        println(s"[mstress] step $step: ${keys.size} keys differ from the " +
          s"commit-order replay, e.g. ${keys.take(5)}")
    }
    val ok = diff.values.forall(_.isEmpty)
    println(if (ok) "[mstress] OK — all batches landed, values equal the commit-order replay"
      else "[mstress] FAIL")
    ok
  }
}
