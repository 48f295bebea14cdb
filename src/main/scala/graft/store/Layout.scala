package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Physical-layout helpers for repeated-join workloads: bucketing
  * co-locates both sides of an equi-join by the join key at WRITE time,
  * so every subsequent join on that key runs with zero exchanges — at
  * 100 TB the difference between an all-to-all shuffle per query and a
  * purely local merge per bucket.
  */
object Layout {

  /** Persist `df` as an EXTERNAL bucketed, per-bucket-sorted table at
    * `path` — for sessions whose static warehouse conf we don't own (e.g.
    * the driver's), where a managed table would land in an unwanted
    * default warehouse dir.
    */
  def writeBucketedAt(df: DataFrame, table: String, path: String,
                      bucketCols: Seq[String], buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
}
