package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (UTC, small shuffle width).
  *
  * Teardown hygiene (r13 verdict item 1 — the driver's `sbt test` died
  * mid-run with a RejectedExecutionException from an async subquery job
  * racing a terminated executor pool): suites never stop the shared
  * session, but the eager `localCheckpoint(true)` frames that remain
  * (lineage cuts in streaming folds, recursion and iterative loops, and
  * frames several actions read) persist executor-storage blocks at
  * DataFrame-CONSTRUCTION time, and across 350+ tests in one JVM those
  * blocks pile up in the block manager until storage pressure can kill
  * the context (a dead context then rejects every later async
  * broadcast/subquery job — exactly the stack VERIFY_r13 recorded).
  * After each suite: wait for the suite's async jobs to drain, then
  * drop its checkpoint blocks — the same unpersist discipline
  * Bench.run applies between queries — and delete the temp directories
  * its tests made.
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  @volatile private var sparkStarted = false
  lazy val spark: SparkSession = {
    sparkStarted = true
    Graft.session(cores = 8, appName = getClass.getSimpleName)
  }

  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** A fresh temp directory, deleted with everything under it after the
    * suite.
    */
  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tmpDirs.add(d)
    d.toString
  }

  override def afterAll(): Unit = {
    try {
      if (sparkStarted) {
        val sc = spark.sparkContext
        if (!sc.isStopped) {
          // quiesce: async broadcast/subquery jobs submitted by the last
          // tests must finish before the next suite reuses the context
          val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
          while (sc.statusTracker.getActiveJobIds().nonEmpty &&
                 System.nanoTime() < deadline)
            Thread.sleep(50)
          sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        }
      }
    } finally {
      tmpDirs.forEach(d => Scratch.deleteRecursively(d))
      super.afterAll()
    }
  }
}
