package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The contract around graft.Bench that needs no Spark session:
  * the comma list of query names Bench's SPARK_GRAFT_BENCH_ONLY and
  * Verify's third argument take, and the one JSON line Bench prints
  * last, which is parsed out of a 2000-char stdout tail.
  */
class BenchSpec extends AnyFunSuite {

  test("a query-name list returns declared names and refuses unknown ones by name") {
    assert(SparkEntry.queryNames(" q42_funnel3, q37_funnel ,,") ==
      Set("q42_funnel3", "q37_funnel"))
    assert(SparkEntry.queryNames("") == Set.empty)
    val e = intercept[IllegalArgumentException](
      SparkEntry.queryNames("q42_funnle3,q37_funnel,zz_nope"))
    assert(e.getMessage.contains("q42_funnle3,zz_nope"), e.getMessage)
    assert(!e.getMessage.contains("q37_funnel"), e.getMessage)
  }

  test("the JSON line fits the tail budget, parses, and accounts for 257 queries") {
    // worst-case magnitudes: every time and the setup near 1e5 s (the
    // widest one-sig-fig rendering), 9-digit streaming rates
    val names = (1 to 257).map(i => f"x$i%03d_synthetic")
    val failed = Set(names(3), names(100), names(256))
    val results = names.zipWithIndex.map { case (n, i) =>
      n -> (if (failed(n)) -1.0 else 99999.0 - i * 0.37) }
    val streaming = (1 to 18).map(i => s""""s$i":987654321""")
      .mkString("{", ",", "}")
    val line = Bench.jsonLine(results, streaming, 99999.9)
    assert(line.length <= 1900, s"${line.length} chars")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.get("metric").asText == "total")
    assert(!json.get("ok").asBoolean)
    val failedKeys = json.get("failed").elements.asScala.map(_.asText).toSet
    assert(failedKeys == failed.map(_.takeWhile(_ != '_')))
    val itemized = json.get("queries").fieldNames.asScala.toSet
    assert((itemized & failedKeys).isEmpty)
    val restN = Option(json.get("rest_n")).map(_.asInt).getOrElse(0)
    assert(itemized.size + failedKeys.size + restN == 257,
      s"${itemized.size} itemized + ${failedKeys.size} failed + $restN rest")
  }
}
