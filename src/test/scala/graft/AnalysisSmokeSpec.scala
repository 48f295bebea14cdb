package graft

/** Analysis smoke over EVERY declared query: build the DataFrame at
  * sf0.001 and force `queryExecution.analyzed` — no execution of the
  * final plan, so the whole surface gates in CI-time.
  *
  * Exists because round 9 shipped three queries whose post-agg
  * `.select` referenced pre-rename column names: the queries threw
  * `UNRESOLVED_COLUMN` at analysis time, Verify swallowed the
  * exception, and they silently vanished from the correctness
  * artifact. Any rename drift between an agg alias and a downstream
  * select (or between engine and oracle schema) now fails `sbt test`
  * before it can ship.
  *
  * Note some query CONSTRUCTORS run bounded Spark jobs (store builds,
  * k-means centroid collects, generator-choice stats) — that work is
  * per-JVM-cached and small at sf0.001; the final plan itself is never
  * executed here.
  */
class AnalysisSmokeSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  test("every declared query analyzes at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1)
      .flatMap { case (name, fn) =>
        try { fn(spark, dir).queryExecution.analyzed; None }
        catch { case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").linesIterator
              .take(3).mkString(" | ")}")
        }
      }
    assert(failures.isEmpty,
      s"\n${failures.size} of ${SparkEntry.queries.size} declared " +
        s"queries failed analysis:\n  ${failures.mkString("\n  ")}")
  }

  test("every declared query with an oracle has matching column names") {
    // the driver's compare sorts columns by name before hashing, so an
    // engine/oracle schema drift is a guaranteed hash mismatch; catch
    // the cheap half (engine side analyzes + oracle key exists) here
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql keys without a query: $missing")
  }

  test("every declared query is oracle-gated — no rows-only checks") {
    // the full surface ships with a DuckDB oracle (the strong gate);
    // a query landing without one silently downgrades to the driver's
    // rows-only check, which round 9 showed can pass a broken query.
    // New non-SQL-expressible operators must be argued here, not
    // defaulted.
    val ungated = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(ungated.isEmpty,
      s"queries without an oracle (rows-only gate): ${ungated.toSeq.sorted}")
  }
}
