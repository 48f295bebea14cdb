package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact top-k cosine pairs over SPARSE integer-weighted vectors —
  * term-frequency bag-of-words similarity, the classic AllPairs/L2AP
  * setting (Bayardo et al. WWW'07, Anastasiu & Karypis L2AP, public
  * literature) where dimension-posting-list prefix filtering genuinely
  * prunes: vocabulary is huge, each document touches a tiny fraction
  * of it, and rare terms make short posting lists.
  *
  * Plan (the weighted sibling of [[Jaccard.exactTopK]]):
  *  1. τ bound: a bounded candidate set is exactly cosine-verified;
  *     the kth best of ANY ≥k exactly-verified pairs lower-bounds the
  *     kth best overall, so candidate QUALITY affects only pruning
  *     power, never correctness. Candidates come from 1-D signed
  *     projection adjacency (see [[projectionCandidates]]) — the
  *     classic sort-by-random-projection trick, which unlike MinHash
  *     over the unweighted vid sets stays discriminative when the
  *     vocabulary is small (this fixture: 31 distinct tokens, so every
  *     doc's token SET is near-identical and set-LSH degenerates to
  *     all-pairs — 6M candidates, 37 s of verification at sf0.1).
  *  2. Candidate generation at τ — the INTERSECTION of two complete
  *     conditions, evaluated as ONE equi-join on (term, band-key):
  *     a. L2 prefix filter: order each document's terms by ascending
  *        global document frequency (rarest first, total order
  *        (df, vid)); with s_r = the L2 norm of the doc's suffix from
  *        rank r on, any pair with cos ≥ τ must share a term where
  *        BOTH sides' relative suffix norm s_r/‖x‖ is ≥ τ
  *        (Cauchy–Schwarz over the first shared term in the global
  *        order). Only prefix rows are indexed. Prunes hard when the
  *        vocabulary is large and rare terms exist; degenerates alone
  *        when the vocabulary is tiny — every doc then indexes the
  *        same globally-rarest term (one all-pairs posting list).
  *     b. Multi-projection band: m fixed ±1 signed projections r_i of
  *        the UNIT vectors; cos(a,b) ≥ τ forces |proj_i(a) −
  *        proj_i(b)| ≤ ‖r_i‖·√(2−2τ) = √V·√(2−2τ) for EVERY i
  *        (Cauchy–Schwarz), captured as agreement on a composite
  *        ⌊proj_i/B⌋ key under 2^m boundary offsets. Selective
  *        exactly where (a) degenerates, and the band width shrinks
  *        as the corpus grows because the kth-best τ rises.
  *     Each condition is individually complete for cos ≥ τ, so their
  *     conjunction is too; joining prefix rows keyed by (vid,
  *     band-key) prunes in BOTH regimes at once — rare-term prefixes
  *     rule in sparse vocabularies, band keys split the degenerate
  *     posting lists in dense ones, and content-disjoint shards never
  *     pair at all because their vids are shard-local (a pure band
  *     join would still collide them in projection space).
  *  3. Exact verification of surviving pairs, cost bounded by the
  *     pairs, not the corpus.
  *
  * All similarity arithmetic is integer until the final division:
  * i = Σ tf_a·tf_b and the squared norms are exact longs, so
  * sim = i / √(n2a·n2b) is bit-identical across engines (products
  * stay far inside the 2^53 double-exact range for real documents).
  *
  * With fewer than k verified candidates τ falls to 0 and the plan
  * switches to the classic single-aggregation inverted-index join —
  * same degenerate-τ reasoning as [[Jaccard.exactTopK]].
  */
object SparseCosine {

  /** Top-k (id_a, id_b, cosine) over rows (idCol, vid, tf), cosine
    * rounded to 6 decimals, ordered (cosine DESC, id_a, id_b).
    */
  def exactTopK(tf: DataFrame, idCol: String, k: Int): DataFrame = {
    val t = tf.select(col(idCol), col("vid"), col("tf").cast("long").as("tf"))
      .localCheckpoint(true) // (b) cross-action: phase 1, the vocab count, the plan
    val n2 = t.groupBy(idCol).agg(sum(col("tf") * col("tf")).as("n2"))

    // phase 1: verified candidates -> τ. Two bounded sources, union'd:
    //  - weighted-SimHash Manku buckets (Hamming <= 3 of 63 bits ≈
    //    angle <= ~8.6°) recover the near-1 pairs that set a TIGHT τ
    //    when the corpus has near-duplicates;
    //  - projection adjacency guarantees ~2·W·N pairs exist so τ > 0
    //    on corpora whose top-k live below SimHash's radius.
    val shPairs = SimHash.nearPairsBucketed(
      SimHash.fingerprintsWeighted(t, idCol, "tf"), idCol, maxDist = 3)
      .select("id_a", "id_b")
    val cands = shPairs
      .union(projectionCandidates(t, n2, idCol, neighbors = 8))
      .distinct()
    val candC = verify(cands, t, n2, idCol).select(round(col("c"), 6).as("c"))
      .orderBy(col("c").desc).limit(k).collect()
    val tau = math.max(0.0,
      (if (candC.length < k) 0.0 else candC.last.getDouble(0)) - 1e-6)

    val scored =
      if (tau <= 0.0) {
        // classic inverted-index aggregation (no pair re-verify)
        t.select(col(idCol).as("id_a"), col("vid"), col("tf").as("tfa"))
          .join(t.select(col(idCol).as("id_b"), col("vid"),
            col("tf").as("tfb")), "vid")
          .where(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b").agg(sum(col("tfa") * col("tfb")).as("i"))
          .join(n2.select(col(idCol).as("id_a"), col("n2").as("na")), "id_a")
          .join(n2.select(col(idCol).as("id_b"), col("n2").as("nb")), "id_b")
          .withColumn("c", col("i").cast("double") /
            sqrt(col("na").cast("double") * col("nb")))
      } else {
        // phase 2a: L2 suffix-norm prefix filter at τ. suffix² at rank
        // r is n2 − Σ tf² of earlier ranks; index the row iff
        // suffix²/n2 ≥ τ² (with a 1e-9 float back-off so a borderline
        // row is INDEXED, never pruned).
        val dfreq = t.groupBy("vid").agg(count(lit(1)).as("df"))
        val w = Window.partitionBy(col(idCol)).orderBy(col("df"), col("vid"))
        val pre = t.join(dfreq, "vid")
          .join(n2, idCol)
          .withColumn("cum", coalesce(sum(col("tf") * col("tf"))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .where((col("n2") - col("cum")).cast("double") >=
            lit(tau * tau - 1e-9) * col("n2"))
          // (c) kept, pays: without it p14's warm runs compiled 16-22
          // classes against 12-16 at sf0.1 (5 pairs, 7.67 -> 7.71 s)
          .localCheckpoint(true)

        // phase 2b: projections + band width B = √V·√(2−2τ), V =
        // vocabulary size (+ float back-off so a borderline pair is
        // KEPT, never pruned)
        val projs = projections(t, n2, idCol, BandProjections)
        val vocab = t.select("vid").distinct().count()
        val band = math.sqrt(vocab.toDouble) *
          math.sqrt(math.max(0.0, 2.0 - 2.0 * tau)) + 1e-9

        // prefix rows × 2^m band-key combos: the join key carries BOTH
        // complete conditions at once
        val m = BandProjections
        val preK = pre.select(col(idCol), col("vid"))
          .join(bandKeyed(projs, idCol, band), idCol)
        val a = preK.select(col("vid") +: col("key") +:
          (col(idCol).as("id_a")) +:
          (1 to m).map(i => col(s"p$i").as(s"pa$i")): _*)
        val b = preK.select(col("vid") +: col("key") +:
          (col(idCol).as("id_b")) +:
          (1 to m).map(i => col(s"p$i").as(s"pb$i")): _*)
        val inBand = (1 to m).map(i =>
          abs(col(s"pa$i") - col(s"pb$i")) <= lit(band)).reduce(_ && _)
        val pairs = a.join(b, Seq("vid", "key"))
          .where(col("id_a") < col("id_b") && inBand)
          .select("id_a", "id_b").distinct()
        // phase 3: exact verification on surviving pairs only
        verify(pairs, t, n2, idCol)
      }

    scored
      // tie-safe *1e6 rounding: integer tf dots over a perfect-square
      // norm product are exact ratios (the cross-engine ROUND tie class)
      .select(col("id_a"), col("id_b"),
        (round(col("c") * lit(1e6)) / lit(1e6)).as("cosine"))
      .orderBy(col("cosine").desc, col("id_a"), col("id_b"))
      .limit(k)
  }

  /** Number of independent ±1 projections for the band join — each
    * multiplies the emitted key count by 2 (2^m boundary offsets) and
    * divides pair survival by the per-band selectivity, so 4 is the
    * sweet spot: 16 keys per doc, ~f^4 pair survival.
    */
  val BandProjections = 4

  /** (id, p1..pm): m deterministic signed projections of each doc's
    * UNIT vector — p_i = (Σ tf·s_i(vid)) / √n2 with s_i(vid) = ±1 from
    * xxhash64(vid, i). The signed sums are exact longs (order-
    * independent at any parallelism); one float division at the end
    * keeps each projection bit-deterministic.
    */
  def projections(t: DataFrame, n2: DataFrame, idCol: String,
                  m: Int): DataFrame = {
    val sums = (1 to m).map(i =>
      sum(col("tf") * when(expr(s"xxhash64(vid, $i) & 1") === 0, lit(1L))
        .otherwise(lit(-1L))).as(s"sp$i"))
    t.groupBy(idCol).agg(sums.head, sums.tail: _*)
      .join(n2, idCol)
      .select(col(idCol) +: (1 to m).map(i =>
        (col(s"sp$i").cast("double") / sqrt(col("n2"))).as(s"p$i")): _*)
  }

  /** (id, p1..pm, key): each doc exploded to its 2^m composite band
    * keys — per projection ⌊p_i/band⌋ plus a 0/1 boundary offset, so
    * any pair within `band` in EVERY projection shares at least one
    * key (per-dim floors differ by ≤ 1 ⇒ the offset sets intersect).
    */
  def bandKeyed(projs: DataFrame, idCol: String, band: Double): DataFrame = {
    val m = BandProjections
    val combos = (0 until (1 << m)).map { c =>
      array((1 to m).map(i =>
        floor(col(s"p$i") / lit(band)) + lit(((c >> (i - 1)) & 1).toLong)): _*)
    }
    projs.select(
      col(idCol) +: (1 to m).map(i => col(s"p$i")) :+
        explode(array(combos: _*)).as("key"): _*)
  }

  /** Bounded τ-bootstrap candidates by 1-D projection adjacency.
    *
    * Each doc gets proj = (Σ tf·s(vid)) / √n2 where s(vid) = ±1 from
    * xxhash64 — the signed sum is an exact LONG (order-independent at
    * any parallelism; the single float division makes the projection
    * deterministic), and proj is the dot product of the UNIT vector
    * with a fixed ±1 direction, so cos(a,b) ≈ 1 ⇒ proj_a ≈ proj_b.
    * Docs are bucketed by ⌊proj/w⌋ twice with a w/2 offset (a pair
    * within w/2 of each other shares a bucket in at least one of the
    * two bucketings), and each doc pairs with its `neighbors` in-bucket
    * successors via a PARTITIONED window — no global sort, no window
    * without partitioning, ≤ 2·W·N pairs total. Emits (id_a, id_b)
    * with id_a < id_b.
    */
  def projectionCandidates(t: DataFrame, n2: DataFrame, idCol: String,
                           neighbors: Int, bucketWidth: Double = 0.5): DataFrame = {
    val signed = t.withColumn("s",
      when(expr("xxhash64(vid) & 1") === 0, lit(1L)).otherwise(lit(-1L)))
    val proj = signed.groupBy(idCol).agg(sum(col("tf") * col("s")).as("sp"))
      .join(n2, idCol)
      .select(col(idCol), (col("sp").cast("double") / sqrt(col("n2")))
        .as("proj"))
    val w = Window.partitionBy(col("bkt")).orderBy(col("proj"), col(idCol))
    val leads = (1 to neighbors).map(i => lead(col(idCol), i).over(w).as(s"n$i"))
    def pairsFor(offset: Double): DataFrame =
      proj.withColumn("bkt", floor(col("proj") / bucketWidth + lit(offset)))
        .select(col(idCol).as("a") +: leads: _*)
        .select(col("a"),
          explode(array((1 to neighbors).map(i => col(s"n$i")): _*)).as("b"))
        .where(col("b").isNotNull)
    pairsFor(0.0).union(pairsFor(0.5))
      .select(least(col("a"), col("b")).as("id_a"),
        greatest(col("a"), col("b")).as("id_b"))
      .distinct()
  }

  /** Exact (i, na, nb, c) for an explicit pair frame — pair-bounded. */
  private def verify(pairs: DataFrame, t: DataFrame, n2: DataFrame,
                     idCol: String): DataFrame =
    pairs
      .join(t.select(col(idCol).as("id_a"), col("vid"), col("tf").as("tfa")),
        "id_a")
      .join(t.select(col(idCol).as("id_b"), col("vid"), col("tf").as("tfb")),
        Seq("id_b", "vid"))
      .groupBy("id_a", "id_b").agg(sum(col("tfa") * col("tfb")).as("i"))
      .join(n2.select(col(idCol).as("id_a"), col("n2").as("na")), "id_a")
      .join(n2.select(col(idCol).as("id_b"), col("n2").as("nb")), "id_b")
      .withColumn("c", col("i").cast("double") /
        sqrt(col("na").cast("double") * col("nb")))
}
