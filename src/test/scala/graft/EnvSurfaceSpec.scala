package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the engine's environment surface. The library is configured by
  * its archive policy; the mains read only where to run (fixture dir,
  * cores), Bench's one dev-loop switch and the path Bench hands its
  * stress child. A new knob fails here until this list is edited, so it
  * shows up in review as a change to the surface.
  */
class EnvSurfaceSpec extends AnyFunSuite {

  private val surface = Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_STRESS_JSON")

  private def sources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("src/main reads exactly the four documented environment variables") {
    val reads = sources.flatMap { f =>
      val src = Files.readString(f)
      val any = "sys\\.env|System\\.getenv|Properties\\.env".r
        .findAllMatchIn(src).size
      val named = ("(?:sys\\.env(?:\\.get|\\.getOrElse|\\.contains)?|" +
        "System\\.getenv)\\(\\s*\"([A-Za-z0-9_]+)\"").r
        .findAllMatchIn(src).map(_.group(1)).toList
      // every read names its variable as a literal, or the set below
      // could miss one
      assert(named.size == any, s"$f reads the environment by a non-literal name")
      named
    }.toSet
    assert(reads == surface,
      s"added: ${(reads -- surface).toSeq.sorted.mkString(",")}; " +
        s"gone: ${(surface -- reads).toSeq.sorted.mkString(",")}")
  }
}
