package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact BM25 (Okapi) retrieval over a tokenized corpus — the lexical
  * half of a training-data / RAG search stack (the dense half is
  * P7/P8/P9/P13's ANN family).
  *
  * Scale shape (the reason this is NOT a generic "search engine"):
  * the query term set is O(10), so doc length AND every per-term
  * frequency ride ONE map-side-combined per-doc aggregate — the
  * corpus token stream is touched exactly once, and the only
  * corpus-sized shuffle carries one row per doc. The
  * document-frequency table and the corpus stats (N, avgdl) are
  * O(|terms|) and O(1) over that per-doc frame and join back by
  * broadcast; the final top-k is a TakeOrderedAndProject, not a
  * global sort.
  *
  * Determinism across engines: per-term scores are rounded to 1e-6
  * and summed as DECIMAL, so the only float ops are ln / div / mul on
  * identical doubles (correctly-rounded IEEE in both engines at this
  * precision — same stance as [[LanguageModel]]'s micro-log-probs).
  */
object Bm25 {

  /** (doc_id, score, n_hit) for every document matching ≥1 query term.
    *
    * @param toks  (idCol, token) one row per token occurrence
    * @param terms0 the query's terms (deduplicated here; must be
    *               non-empty)
    */
  def score(toks: DataFrame, idCol: String, terms0: Seq[String],
            k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // r13 advice: the one-pass rewrite would double-count a duplicated
    // query term (the old isin+groupBy deduped) and explode(array())
    // fails analysis on an empty list — dedup here and fail loudly so
    // the latent degenerate inputs stay impossible.
    val terms = terms0.distinct
    require(terms.nonEmpty, "BM25 needs at least one query term")
    // ONE corpus pass (r13 optimization): the old shape aggregated the
    // token stream separately for doc length (dl), corpus stats (via
    // dl, recomputed), and term frequencies (tf, recomputed again for
    // df) — four tokenize+scan passes for one query. Since |terms| is
    // O(10) by contract, per-term tf rides the SAME map-side-combined
    // aggregate as dl (one conditional counter per term), and the
    // per-doc frame (doc-count-sized, the smallest frame in the
    // pipeline) feeds stats, df and scoring. The tf>0 unpivot
    // reproduces the old inner-tf row set exactly, and dl now travels
    // ON the tf row, deleting the old tf⋈dl exchange as well.
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("token") === t, lit(1L)).otherwise(lit(0L))).as(s"__tf$i") }
    val perDoc = toks.groupBy(col(idCol))
      .agg(count(lit(1)).as("dl"), tfCols: _*)
    // O(1) corpus stats: exact integer totals, then one IEEE division
    val stats = perDoc.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = perDoc.select(col(idCol), col("dl"),
        explode(array(terms.zipWithIndex.map { case (t, i) =>
          struct(lit(t).as("token"), col(s"__tf$i").as("tf")) }: _*)).as("s"))
      .select(col(idCol), col("dl"), col("s.token").as("token"),
        col("s.tf").as("tf"))
      .where(col("tf") > 0)
    // O(|terms|) document frequencies; broadcast back onto tf
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df), "token")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("term_score",
        // tf*k1 + tf (not tf*(k1+1)): the oracle mirrors this exact form so
        // both engines evaluate the same IEEE ops on the same doubles
        round(col("idf") * (col("tf") * k1 + col("tf")) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))), 6)
          .cast("decimal(28,6)"))
    scored.groupBy(col(idCol))
      .agg(sum(col("term_score")).cast("double").as("score"),
        count(lit(1)).as("n_hit"))
  }
}
