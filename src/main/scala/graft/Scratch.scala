package graft

import java.nio.file.{Files, Path}

/** The one owner of the scratch space query fixtures build in: temp
  * stores, staged stream inputs, stream checkpoints and exported trees.
  *
  * Lifetime rule: everything lives under one per-JVM root in
  * `java.io.tmpdir`, and one shutdown hook deletes that root when the
  * JVM exits — not when a query finishes. Fixtures are built once per
  * JVM through [[memo]] and reused by every later query that names
  * them (hs2's store also backs hs4, hs5, hs12, hs13, …; PipelineQueries'
  * near-dup pairs table backs a family of p-queries), so a Bench,
  * Verify or perfbench run keeps them until its last query; a per-query
  * delete would pull a store out from under the next reader.
  */
object Scratch {

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try deleteRecursively(r)
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }))
    r
  }

  /** A fresh directory under the scratch root. */
  def dir(prefix: String): String =
    Files.createTempDirectory(root, prefix).toString

  private final class Cell(build: () => Any) { lazy val value: Any = build() }
  private val cells = new java.util.concurrent.ConcurrentHashMap[Any, Cell]()

  /** `build`'s result, computed once per JVM for `key`. Concurrent
    * callers of one key wait for the first build; a build that throws
    * is retried by the next caller. Builds may nest (a key's build may
    * ask for another key).
    */
  def memo[T](key: Any)(build: => T): T =
    cells.computeIfAbsent(key, _ => new Cell(() => build)).value.asInstanceOf[T]

  /** Delete `p` and everything under it; a missing `p` is a no-op. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally st.close()
    }
}
