package graft

import graft.core.{Archive, ArchivePolicy}
import graft.store.{HoardStore, InMemoryManifestCatalog}
import graft.store.HoardStore.RawPoint
import graft.tools.ManifestStress
import java.nio.file.{Files, Paths}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Random

/** The external-catalog seam (round-7 verdict item 5): the optimistic
  * commit protocol must hold against a REMOTE-CAS-style catalog, not
  * just the filesystem hard-link CAS — an injected in-memory
  * [[InMemoryManifestCatalog]] (one atomic compare-and-swap per
  * publish, the shape of a DynamoDB conditional put / Iceberg catalog
  * commit) carries ALL manifest traffic while racing writers hammer
  * one store. Convergence, snapshot isolation, and expiry must behave
  * exactly as on the file catalog, and `_manifests/` must never
  * appear on disk (proof nothing bypassed the seam).
  */
class ExternalCatalogSpec extends SparkTestBase {

  private val policy = ArchivePolicy(Seq(
    Archive(60, 60), Archive(3600, 24), Archive(86400, 30)))
  private val now = 1700000000L

  test("racing writers through an injected CAS catalog converge; no _manifests on disk") {
    val root = tmpDir("extcat") + "/store"
    val cat = new InMemoryManifestCatalog
    HoardStore.injectCatalog(root, cat)
    try {
      HoardStore.create(spark, root, policy)

      // maximal (level, month) overlap → every concurrent pair
      // conflicts, the ManifestStress worst case
      val rnd = new Random(42)
      val writers = 3
      val work: Seq[((Int, Int), Seq[RawPoint])] = (0 until writers).flatMap { w =>
        (0 until 2).map { b =>
          (w, b) -> ((0 until 40).map(_ => RawPoint(s"s${rnd.nextInt(3)}",
            now - rnd.between(0L, 20L * 86400), rnd.nextInt(1000).toDouble))
            :+ ManifestStress.marker(w, b, now))
        }
      }

      implicit val ec: ExecutionContext = ExecutionContext.global
      val attempts = (0 until writers).map { w =>
        Future {
          val st = HoardStore.open(spark, root)
          work.filter(_._1._1 == w).foreach { case (_, b) => st.updateMany(b, now) }
          st.lastCommitAttempts
        }
      }.map(Await.result(_, 300.seconds))

      // every version the catalog holds was claimed exactly once, and
      // publish attempts ≥ published versions (the CAS race is real)
      val vers = cat.versions
      assert(vers == vers.distinct.sorted, s"duplicate/mis-ordered versions: $vers")
      assert(cat.publishAttempts.get() >= vers.size.toLong)
      assert(attempts.forall(_ >= 1))

      // linearizability gate (ManifestStress's): every level's values
      // equal a replay of the same batches, in the order their commits
      // landed, on a FILE-catalog store
      val diff = ManifestStress.replayDiff(HoardStore.open(spark, root),
        tmpDir("extcat-ref") + "/store", work, now)
      assert(diff.size == policy.sorted.size)
      diff.foreach { case (step, keys) =>
        assert(keys.isEmpty, s"step $step: ${keys.size} values differ, e.g. ${keys.take(5)}")
      }

      // nothing bypassed the seam
      assert(Files.notExists(Paths.get(root, "_manifests")),
        "_manifests directory appeared on disk despite the injected catalog")
    } finally HoardStore.removeCatalog(root)
  }

  test("snapshot pin, compaction, and expiry run through the injected catalog") {
    val root = tmpDir("extcat2") + "/store"
    val cat = new InMemoryManifestCatalog
    HoardStore.injectCatalog(root, cat)
    try {
      val st = HoardStore.create(spark, root, policy)
      val rnd = new Random(7)
      def batch() = (0 until 30).map(_ => RawPoint(s"s${rnd.nextInt(2)}",
        now - rnd.between(0L, 20L * 86400), rnd.nextInt(1000).toDouble))

      st.updateMany(batch(), now)
      val pinVer = cat.latestVersion
      val pinned = HoardStore.openVersion(spark, root, pinVer)
      val before = ManifestStress.levelValues(pinned)

      st.updateMany(batch(), now)
      st.compact(maxFilesPerMonth = 1)
      assert(cat.latestVersion > pinVer)

      // the pinned view is immune to later commits and compaction
      assert(ManifestStress.levelValues(HoardStore.openVersion(spark, root, pinVer)) == before)

      // expiry deletes old versions FROM THE CATALOG; the latest stays
      st.expireSnapshots(keepLast = 1)
      assert(cat.versions.size == 1)
      assert(cat.versions.head == cat.latestVersion)
      // an expired pin now fails loudly
      intercept[IllegalArgumentException](
        HoardStore.openVersion(spark, root, pinVer))
      // and the survivor still reads
      assert(ManifestStress.levelValues(HoardStore.open(spark, root)).values
        .exists(_.nonEmpty))
      assert(Files.notExists(Paths.get(root, "_manifests")))
    } finally HoardStore.removeCatalog(root)
  }
}
