package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CCNet-style n-gram language-model perplexity filtering (Wenzek et
  * al. 2020, "CCNet: Extracting High Quality Monolingual Datasets from
  * Web Crawl Data"): score every document under an LM trained on a
  * trusted reference corpus, then split the corpus into head / middle
  * / tail perplexity tertiles. CCNet uses a KenLM 5-gram per language;
  * here the LM is a Laplace-smoothed bigram with unigram backoff —
  * the same dataflow shape (train counts on the reference, join the
  * scoring stream against them, aggregate per doc, bucket by global
  * quantiles) with a model that is exactly reproducible in SQL.
  *
  * Cross-engine exactness: every probability is a ratio of integer
  * counts evaluated in double (correctly-rounded division — identical
  * on any IEEE engine); the only transcendental, ln, is immediately
  * rounded to 1e-6 and scaled to an INTEGER per-token log-prob, so
  * all downstream aggregation is order-independent integer arithmetic.
  * A 1-ulp libm difference would have to land within ~1e-15 of a
  * rounding boundary to flip a value — and distinct (count, count)
  * ratios number far below the corpus token count.
  *
  * Scale shape: token/bigram streams are narrow array expressions (no
  * window, no shuffle before the first aggregate); unigram tables are
  * vocab-bounded and BROADCAST to the scoring stream (a shuffle join
  * keyed on the previous-token id would hotspot on high-frequency
  * words — "the" routes every occurrence to one partition); the
  * bigram-count join shuffles on the (pvid, vid) pair key, whose
  * frequency distribution is far flatter than per-word keys. Totals
  * are a 1-row cross-join broadcast.
  */
object LanguageModel {

  /** Scoring stream: one row per token occurrence with its PREVIOUS
    * token's hashed id — (idCol, pvid, vid), pvid NULL at position 1.
    * Pure array expressions (split → transform → explode) inside
    * whole-stage codegen; nothing shuffles.
    */
  def bigramStream(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val arr = col("__arr")
    val pairs = transform(sequence(lit(1), size(arr)), i =>
      struct(
        when(i === 1, lit(null).cast("long"))
          .otherwise(TextOps.hashId(element_at(arr, i - 1))).as("pvid"),
        TextOps.hashId(element_at(arr, i)).as("vid")))
    docs.select(col(idCol), split(col(textCol), " ").as("__arr"))
      .select(col(idCol), explode(pairs).as("pr"))
      .select(col(idCol), col("pr.pvid").as("pvid"), col("pr.vid").as("vid"))
  }

  /** uni: (vid, c1); bi: (pvid, vid, c2); totals: 1 row (t = reference
    * token count, v = reference vocabulary size + 1 for UNK).
    */
  final case class Lm(uni: DataFrame, bi: DataFrame, totals: DataFrame)

  /** Count-based LM training over the reference corpus: two map-side-
    * combinable groupBys over the narrow bigram stream.
    */
  def train(ref: DataFrame, idCol: String, textCol: String): Lm = {
    val st = bigramStream(ref, idCol, textCol)
    // the count tables are the model: vocab- and bigram-vocab-bounded,
    // never corpus-sized
    val uni = st.groupBy(col("vid")).agg(count(lit(1)).as("c1"))
    val bi = st.where(col("pvid").isNotNull)
      .groupBy(col("pvid"), col("vid")).agg(count(lit(1)).as("c2"))
    val totals = uni.agg(sum(col("c1")).as("t"), (count(lit(1)) + 1).as("v"))
    Lm(uni, bi, totals)
  }

  /** Per-document LM score: every token is scored exactly once —
    * position 1 under the backoff unigram, positions 2..n under the
    * smoothed bigram P(w|v) = (c2(v,w)+1)/(c1(v)+V) when the previous
    * token is in-vocabulary, else the backoff P1(w) = (c1(w)+1)/(T+V).
    * Output: (idCol, n_tok, llp_micro, avg_llp) where llp_micro is the
    * integer sum of per-token round(ln(P)·1e6) and avg_llp its rounded
    * per-token mean (higher = more reference-like = lower perplexity).
    */
  def perplexityScore(docs: DataFrame, idCol: String, textCol: String,
                      lm: Lm): DataFrame = {
    val st = bigramStream(docs, idCol, textCol)
    val up = lm.uni.select(col("vid").as("pvid"), col("c1").as("c1p"))
    val uw = lm.uni.select(col("vid"), col("c1").as("c1w"))
    // bi is vocab^2-bounded in the worst case, so it carries no hint:
    // the planner sizes the join from the table's statistics
    val scored = st
      .join(broadcast(up), Seq("pvid"), "left")
      .join(lm.bi, Seq("pvid", "vid"), "left")
      .join(broadcast(uw), Seq("vid"), "left")
      .crossJoin(broadcast(lm.totals))
    val p = when(col("c1p").isNotNull,
        (coalesce(col("c2"), lit(0L)) + lit(1)).cast("double") /
          (col("c1p") + col("v")).cast("double"))
      .otherwise((coalesce(col("c1w"), lit(0L)) + lit(1)).cast("double") /
        (col("t") + col("v")).cast("double"))
    val llpMicro = round(log(p) * 1e6, 0).cast("long")
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"), sum(llpMicro).as("llp_micro"))
      .withColumn("avg_llp",
        // integer-ratio outputs land on exact .xxxxxx5 values, where
        // ROUND(x, 6) tie-breaking is engine-specific; round(x·1e6)/1e6
        // is the identical IEEE sequence on both engines
        round(col("llp_micro").cast("double") / 1e6 / col("n_tok") * lit(1e6))
          / lit(1e6))
  }

  /** CCNet's head/middle/tail split: global score tertiles (exact
    * percentiles over the per-doc scores — the declared-exact q22
    * shape; a 100 TB deployment swaps approx_percentile behind the
    * same cutpoint contract), broadcast back as 1-row cutpoints.
    */
  def buckets(scores: DataFrame): DataFrame = {
    val cuts = scores.agg(
      expr("percentile(avg_llp, cast(1 as double)/3)").as("c_lo"),
      expr("percentile(avg_llp, cast(2 as double)/3)").as("c_hi"))
    scores.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("avg_llp") >= col("c_hi"), "head")
          .when(col("avg_llp") >= col("c_lo"), "middle")
          .otherwise("tail"))
      .drop("c_lo", "c_hi")
  }
}
