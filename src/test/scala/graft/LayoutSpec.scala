package graft

import graft.store.Layout
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkTestBase {

  /** The FINAL adaptive plan (not the initial one embedded in the
    * treeString), flattened through query-stage wrappers so shuffle
    * stages materialized by AQE are visible to the assertions.
    */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children
    }
    p +: kids.flatMap(flatten)
  }

  /** Every SortMergeJoinExec in the final plan must have zero shuffle
    * exchanges (or shuffle query stages) anywhere in its subtree —
    * traversing the executed tree, so an Exchange AQE injects into the
    * final plan cannot hide behind the '== Initial Plan ==' text.
    */
  private def assertNoShuffleBelowSmj(df: DataFrame): Unit = {
    val nodes = flatten(df.queryExecution.executedPlan)
    val smjs = nodes.collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty,
      s"expected SMJ:\n${df.queryExecution.executedPlan}")
    smjs.foreach { j =>
      val shuffles = flatten(j).drop(1).collect {
        case e: ShuffleExchangeLike => e
      }
      assert(shuffles.isEmpty,
        s"join inputs were shuffled despite bucketing:\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("bucketed tables join with zero exchanges (co-located layout)") {
    val dir = "/root/testdata/sf0.001"
    val at = tmpDir("graft-layout")
    Layout.writeBucketedAt(Tables.load(spark, dir, "orders"),
      "b_orders", s"$at/b_orders", Seq("o_custkey"), 8)
    Layout.writeBucketedAt(Tables.load(spark, dir, "customer"),
      "b_customer", s"$at/b_customer", Seq("c_custkey"), 8)

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      joined.collect() // materialize so the adaptive plan is final
      assertNoShuffleBelowSmj(joined)
      // and values match the plain (unbucketed) join
      val direct = Tables.load(spark, dir, "orders")
        .join(Tables.load(spark, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      assert(joined.orderBy("c_mktsegment").collect().toSeq ==
        direct.orderBy("c_mktsegment").collect().toSeq)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("q27_bucketjoin consumes the bucketed layout: no exchange below the SMJ") {
    val df = SparkEntry.queries("q27_bucketjoin")(spark, "/root/testdata/sf0.001")
    df.collect() // materialize so the adaptive plan is final
    assertNoShuffleBelowSmj(df)
  }
}
