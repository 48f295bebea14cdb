package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact top-k Jaccard pairs WITHOUT the all-pairs inverted-index join.
  *
  * The naive exact plan (self-join on shingle id, count intersections)
  * shuffles one row per co-occurrence — ~50M rows at sf0.1 and
  * quadratic-ish beyond; it was the single slowest declared query. This
  * operator computes the IDENTICAL result with a threshold algorithm:
  *
  *  1. τ bound: MinHash-LSH candidates are exactly verified; the kth
  *     best candidate similarity is a LOWER bound τ on the kth best
  *     overall (a subset's kth best can only be lower). LSH missing
  *     pairs only lowers τ — never correctness.
  *  2. ≥k-of-m counting probe at τ (the ppjoin/AllPairs prefix bound
  *     of Xiao et al. / Bayardo et al., strengthened by counting —
  *     see [[thresholdPairs]]): order each set's shingles by
  *     ascending global document frequency (rarest first; window
  *     partitioned per document — no global sort); any pair with
  *     J >= τ must share k_eff = min(3, ⌈τ·n⌉) of one side's first
  *     min(n, n − ⌈τ·n⌉ + 3) shingles. The equi-join probes only
  *     those windows — the rare end of the posting lists — plus a
  *     size-ratio filter (min/max >= τ) and a map-combinable count
  *     threshold before any verification.
  *  3. Exact verification of the surviving pairs (a pair-bounded join,
  *     not a corpus join), then top-k by (rounded J desc, ids).
  *
  * τ is relaxed by 1e-6 before filtering so ROUND(j, 6) ties at the
  * cutoff cannot exclude a pair the naive plan would have ranked in.
  * With fewer than k verified candidates τ falls to 0 and the plan
  * switches to the classic single-aggregation inverted-index join
  * (counting intersections directly in the self-join's groupBy) — a
  * degenerate prefix filter would instead enumerate every
  * co-occurring pair AND re-verify each one, strictly worse than
  * naive. Only reachable on inputs with almost no similar pairs.
  */
object Jaccard {

  /** Top-k (id_a, id_b, jaccard) over distinct set rows (idCol, vid),
    * jaccard rounded to 6 decimals, ordered (jaccard DESC, id_a, id_b).
    */
  def exactTopK(sets: DataFrame, idCol: String, k: Int): DataFrame = {
    val bg = sets.select(col(idCol), col("vid"))
      .localCheckpoint(true) // (b) cross-action: phase 1's collect + the plan
    val sizes = bg.groupBy(idCol).agg(count(lit(1)).as("n"))

    // phase 1: verified LSH candidates -> τ (driver pulls ONE scalar)
    val cands = MinHashLsh.candidates(
      MinHashLsh.bands(MinHashLsh.signatures(bg, idCol, 16), idCol, r = 4), idCol)
    val candJ = verify(cands, bg, sizes, idCol).select(col("j"))
      .orderBy(col("j").desc).limit(k).collect()
    val tau = math.max(0.0,
      (if (candJ.length < k) 0.0 else candJ.last.getDouble(0)) - 1e-6)

    val scored =
      if (tau <= 0.0) {
        // no usable bound: classic inverted-index aggregation (one
        // groupBy over the co-occurrence join; no pair re-verify)
        bg.select(col(idCol).as("id_a"), col("vid"))
          .join(bg.select(col(idCol).as("id_b"), col("vid")), "vid")
          .where(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("i"))
          .join(sizes.select(col(idCol).as("id_a"), col("n").as("na")), "id_a")
          .join(sizes.select(col(idCol).as("id_b"), col("n").as("nb")), "id_b")
          .withColumn("j",
            col("i").cast("double") / (col("na") + col("nb") - col("i")))
      } else {
        // phases 2+3: prefix-filter join at τ + exact verification
        thresholdPairs(bg, idCol, tau)
      }

    scored
      .select(col("id_a"), col("id_b"),
        (round(col("j") * lit(1e6)) / lit(1e6)).as("jaccard"))
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
      .limit(k)
  }

  /** Exact (id_a, id_b, i, na, nb, j) for EVERY pair with J ≥ τ —
    * provably complete, via the ≥k-of-m COUNTING strengthening of the
    * ppjoin/AllPairs prefix theorem (the symmetric twin of
    * [[containmentPairs]], which proved the shape at 100× scale):
    *
    *  - J ≥ τ forces i = |A∩B| ≥ τ/(1+τ)·(n_a+n_b) ≥ τ·n_a (since
    *    n_b ≥ i), i.e. EVERY J-qualifying pair also satisfies the
    *    ordered-containment bound C(a→b) ≥ τ in BOTH directions. So
    *    the containment window guarantee holds verbatim with the
    *    lower-id side probing: with ℓ = n_a − ⌈τ·n_a⌉ + 1, B misses
    *    at most ℓ − 1 of A's tokens, hence among A's
    *    m = min(n_a, ℓ + minShared − 1) RAREST tokens (ascending
    *    global (df, vid) order) B must share
    *    k_eff = min(minShared, ⌈τ·n_a⌉) — a per-pair COUNT threshold
    *    applied by a map-combinable aggregation before any exact
    *    verification. The classic ℓ-prefix/share-≥1 generator (with
    *    its per-occurrence positional filter) is the k_eff = 1
    *    special case; on a vocabulary-saturated corpus (df ~ N/V on
    *    even the rarest tokens) its candidate volume is ~quadratic
    *    (sf10 measured 2.67e9 post-positional-filter candidates
    *    against a LINEAR true-pair set), while each extra required
    *    shared rare token multiplies false-candidate rejection.
    *  - Size-ratio filter: J ≥ τ ⟹ min(n_a,n_b) ≥ τ·max(n_a,n_b),
    *    applied per occurrence inside the probe join's codegen stage.
    *
    * Unlike banded MinHash-LSH, no qualifying pair can escape — at
    * sf0.1 banding with 32 hashes / r=3 drops a true J ≥ 0.7 pair,
    * which is why the dedup operators candidate through THIS path.
    * Callers wanting an integer-exact threshold apply their own
    * filter on (i, na, nb); the τ given here only has to be ≤ the
    * real cutoff (candidates are a superset).
    *
    * GENERATOR CHOICE is adaptive (the p14 dual-generator pattern):
    * both the classic prefix×prefix/positional-filter generator and
    * the ≥k-of-m counting probe are complete, but their costs invert
    * with candidate volume — one bounded aggregation computes both
    * closed-form volumes and the cheaper plan is taken (decision
    * recorded in [[lastGenerator]], plan-pinned both ways in
    * PipelineScaleSpec).
    */
  def thresholdPairs(sets: DataFrame, idCol: String, tau: Double,
                     minShared: Int = 3,
                     forceGenerator: Option[String] = None): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val bg = sets.select(col(idCol), col("vid"))
    val sizes = bg.groupBy(idCol).agg(count(lit(1)).as("n"))
    val dfreq = bg.groupBy("vid").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("df"), col("vid"))
    // The rank window runs ONCE and only its m-window rows (the only
    // rows any generator's build side ever reads) are materialized:
    // the volume-estimate job below, the prefix generator (both
    // sides — prefix ⊆ window), and the counting generator's A side
    // all reuse this checkpoint, and the counting probe side joins
    // bg+sizes directly and never pays ranks at all. Materializing
    // FULL ranked instead was measured 4× slower at sf1 (27.7 s vs
    // 7.0 s, GenCompare — the probe side loses its window-free
    // plan), and not materializing anything re-ran the whole window
    // pass for the estimate (+114 s on the 620 s sf10 build).
    val ell = col("n") - ceil(lit(tau) * col("n") - lit(1e-9)) + 1
    val mWin = least(col("n"), ell + lit(minShared) - 1)
    val windowed = bg.join(dfreq, "vid")
      .withColumn("r", row_number().over(w))
      .join(sizes, idCol)
      .where(col("r") <= mWin)
      .select(col(idCol), col("vid"), col("r"), col("n"))
      .localCheckpoint(true) // (b) cross-action: the estimate's head() + the plan
    // Closed-form generator costs, ONE bounded aggregation (the p14
    // dual-generator pattern: measure the estimates, then choose):
    //  - prefix generator emits Σ_vid C(pdf, 2) candidate rows into a
    //    DISTINCT shuffle (pdf = docs whose ℓ-prefix holds vid),
    //  - counting generator emits Σ_vid wdf·(df−1)/2 occurrence rows
    //    into a map-combined count aggregation (wdf = docs whose
    //    m-window holds vid; /2 for the id_a<id_b predicate).
    // volPrefix ≤ volWindow ALWAYS (prefix rows ⊆ window rows and
    // pdf−1 ≤ df−1 per vid), but a candidate row costs a multiple of
    // an occurrence row: it rides a DISTINCT shuffle + per-candidate
    // verify, vs a map-side-combined count. GenCompare measured the
    // per-row gap at 3–8× (sf0.1 2.3 vs 1.7 s on 0.21M/0.29M rows;
    // sf1 47.3 vs 7.0 s on 25.5M/34.3M; sf10 2332 vs ~620 s on
    // 2.67e9/3.56e9 — the distinct's per-row cost also inflates once
    // it spills, 42 GB at sf10). On THIS fixture the volume ratio
    // stays ~1.35 at every SF, so counting always wins. Prefix exists
    // for the corpus shape where the ratio explodes instead: mixed
    // doc sizes under a Zipfian vocabulary put globally-COMMON tokens
    // inside SHORT docs' windows, and each such token pays its whole
    // posting list (wdf·df) against a C(pdf,2) that stays tiny —
    // ratios of 100–10000× that no per-row cost gap can absorb.
    // Decision: prefix only when its volume advantage exceeds the
    // measured worst-case per-row cost gap.
    val volRow = windowed
      .groupBy("vid")
      .agg(sum(when(col("r") <= ell, 1L).otherwise(0L)).as("pdf"),
        count(lit(1)).as("wdf"))
      .join(dfreq, "vid")
      .agg(sum(col("pdf") * (col("pdf") - 1)).as("volPrefix2"),
        sum(col("wdf") * (col("df") - 1)).as("volWindow2"))
      .head()
    // halve on the driver: Spark's `/` is DOUBLE division and a
    // ~1e10 volume cast through double would still be exact, but the
    // long path never has to think about it
    val volPrefix = Option(volRow.get(0)).fold(0L)(_.toString.toLong) / 2
    val volWindow = Option(volRow.get(1)).fold(0L)(_.toString.toLong) / 2
    val usePrefix = forceGenerator match {
      case Some("prefix")   => true
      case Some("counting") => false
      case Some(g) => throw new IllegalArgumentException(
        s"unknown generator '$g' (prefix|counting)")
      case None => volWindow > 8L * volPrefix
    }
    lastGenerator.set(
      s"${if (usePrefix) "prefix" else "counting"}:$volPrefix:$volWindow")

    val pairs = if (usePrefix) {
      // ppjoin prefix×prefix generator with the POSITIONAL filter
      // (Xiao et al.), applied per occurrence BEFORE the distinct
      // shuffle: a pair sharing the prefix token at (ascending-df)
      // positions (ra, rb) has i ≤ 1 + min(na−ra, nb−rb), and J ≥ τ
      // forces i ≥ ⌈τ/(1+τ)·(na+nb)⌉. Complete: a qualifying pair's
      // EARLIEST common token in the shared global (df, vid) order
      // has every common token at/after it on both sides, so that
      // occurrence's bound ≥ i ≥ the threshold and the pair survives.
      val prefix = windowed.where(col("r") <= ell)
      val alpha = ceil(lit(tau / (1.0 + tau)) *
        (col("na") + col("nb")) - lit(1e-9))
      prefix.select(col(idCol).as("id_a"), col("vid"),
          col("r").as("ra"), col("n").as("na"))
        .join(prefix.select(col(idCol).as("id_b"), col("vid"),
          col("r").as("rb"), col("n").as("nb")), "vid")
        .where(col("id_a") < col("id_b"))
        // same -1e-9 backing-off as the counting branch (:243): float
        // rounding of τ·max above the exact rational boundary must
        // widen, never prune — else a qualifying pair exactly at
        // nb = ceil(τ·na) could fail the size filter on this path only
        .where(least(col("na"), col("nb")).cast("double") >=
          lit(tau) * greatest(col("na"), col("nb")) - lit(1e-9))
        .where(lit(1) + least(col("na") - col("ra"), col("nb") - col("rb"))
          >= alpha)
        .select("id_a", "id_b").distinct()
    } else {
      // ≥k-of-m group probe: A (the lower id) keeps only its
      // rarest-token window, B probes with its whole list (the count
      // is over A-window tokens PRESENT in B — restricting B too
      // would drop matches a qualifying pair is entitled to). All
      // ceil() bounds back the float product off by 1e-9 first, so an
      // epsilon-above-integral τ·n can only LENGTHEN the window /
      // LOWER k_eff — never prune a qualifying pair.
      val ellA = col("na") - ceil(lit(tau) * col("na") - lit(1e-9)) + 1
      val kEff = least(lit(minShared), col("na") - ellA + 1)
      // the checkpointed RDD carries no Catalyst stats, so AQE can't
      // see when the window side is broadcast-sized (at high τ the
      // m-window is ~minShared rows per doc) and falls back to a
      // sort-merge that shuffles the WHOLE probe side — measured
      // +290 s on p4's sf10 build. The exact row count is free here
      // (counting cached blocks), so hint the broadcast ourselves;
      // past ~100 MB the shuffled join is the right plan anyway.
      val wCount = windowed.count()
      val windowA0 = windowed
        .select(col(idCol).as("id_a"), col("vid"), col("n").as("na"))
      val windowA =
        if (wCount <= 4000000L) broadcast(windowA0) else windowA0
      windowA
        .join(bg.join(sizes, idCol)
          .select(col(idCol).as("id_b"), col("vid"),
            col("n").as("nb")), "vid")
        .where(col("id_a") < col("id_b"))
        .where(least(col("na"), col("nb")).cast("double") >=
          lit(tau) * greatest(col("na"), col("nb")) - lit(1e-9))
        .groupBy("id_a", "id_b", "na")
        .agg(count(lit(1)).as("shared_in_window"))
        .where(col("shared_in_window") >= kEff)
        .select("id_a", "id_b")
    }
    verify(pairs, bg, sizes, idCol)
  }

  /** Which generator the last [[thresholdPairs]] call chose — test
    * seam for the plan-pinning specs (both directions), mirroring the
    * p6/p14 path pins.
    */
  private[graft] val lastGenerator =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** Exact ORDERED containment pairs: every (id_a, id_b), a ≠ b, with
    * C(a→b) = |S_a ∩ S_b| / |S_a| ≥ τ, as (id_a, id_b, i, na, nb, c).
    *
    * The naive posting-list self-join shuffles one row per token
    * co-occurrence — Σ_vid df² rows, quadratic on a corpus whose
    * vocabulary stops growing (every token ever hotter). This computes
    * the IDENTICAL result with a counting strengthening of the prefix
    * theorem (the ≥k-of-m group probe):
    *
    *  - Prefix theorem (asymmetric): C(a→b) ≥ τ forces
    *    |S_a ∖ S_b| ≤ ℓ − 1 where ℓ = n_a − ⌈τ·n_a⌉ + 1, so among
    *    ANY m tokens of A, B shares at least m − ℓ + 1. Taking A's
    *    m = min(n_a, ℓ + minShared − 1) RAREST tokens in ascending
    *    global (df, vid) order, a qualifying pair must share
    *    k_eff = min(minShared, ⌈τ·n_a⌉) of them — a per-pair COUNT
    *    threshold on the probe join's output, applied by a
    *    map-combinable aggregation before any exact verification.
    *    The classic ℓ-prefix/share-≥1 generator is the k_eff = 1
    *    special case; its selectivity collapses on a vocabulary-
    *    saturated corpus (df ~ N/V on even the rarest tokens — sf10
    *    measured 4.17e9 probe occurrences against a true-pair set
    *    that is LINEAR in N), while each extra required shared rare
    *    token multiplies false-candidate rejection.
    *  - Size filter: i ≤ min(n_a, n_b) with i ≥ ⌈τ·n_a⌉ forces
    *    n_b ≥ ⌈τ·n_a⌉ (an excerpt can only be contained in a doc at
    *    least as large as its shared part).
    *
    * Candidates then verify exactly (pair-bounded join, not a corpus
    * join). τ only has to be ≤ the caller's real cutoff — callers
    * wanting an integer-exact threshold filter on (i, na) afterwards.
    */
  def containmentPairs(sets: DataFrame, idCol: String, tau: Double,
                       minShared: Int = 3): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val bg = sets.select(col(idCol), col("vid"))
    val sizes = bg.groupBy(idCol).agg(count(lit(1)).as("n"))
    val dfreq = bg.groupBy("vid").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("df"), col("vid"))
    // every doc's full list carries its global rank once; the A side
    // keeps only its rarest-token window, the B side the whole list
    // (asymmetric — containment gives no right-hand prefix to exploit)
    val ranked = bg.join(dfreq, "vid")
      .withColumn("r", row_number().over(w))
      .join(sizes, idCol)
    // ≥k-of-m group probe (the prefix theorem, strengthened by
    // counting): with ℓ = n_a − ⌈τ·n_a⌉ + 1, B misses at most ℓ − 1
    // of A's tokens, so among A's m = min(n_a, ℓ + minShared − 1)
    // RAREST tokens B must share ≥ k_eff = m − ℓ + 1 =
    // min(minShared, n_a − ℓ + 1). The ℓ-prefix/≥1 generator is the
    // k_eff = 1 special case — on a vocabulary-saturated corpus its
    // selectivity collapses (every prefix token's df ~ N/V, sf10
    // measured 4.17e9 probe occurrences against a LINEAR true-pair
    // set), while requiring 3 shared rare tokens multiplies the
    // false-candidate rejection without touching completeness. The
    // per-occurrence positional filter of the k=1 form is dropped:
    // it only guarantees survival of a pair's EARLIEST common token,
    // which is incompatible with counting (true pairs would lose
    // later occurrences and miss the threshold).
    val ellA = col("na") - ceil(lit(tau) * col("na") - lit(1e-9)) + 1
    val kEff = least(lit(minShared), col("na") - ellA + 1)
    val windowA = ranked
      .where(col("r") <=
        least(col("n"), col("n") - ceil(lit(tau) * col("n") - lit(1e-9))
          + lit(minShared)))
      .select(col(idCol).as("id_a"), col("vid"), col("n").as("na"))
    val pairs = windowA
      .join(ranked.select(col(idCol).as("id_b"), col("vid"),
        col("n").as("nb")), "vid")
      .where(col("id_a") =!= col("id_b"))
      .where(col("nb").cast("double") >= lit(tau) * col("na") - lit(1e-9))
      .groupBy("id_a", "id_b", "na")
      .agg(count(lit(1)).as("shared_in_window"))
      .where(col("shared_in_window") >= kEff)
      .select("id_a", "id_b")
    verify(pairs, bg, sizes, idCol)
      .withColumn("c", col("i").cast("double") / col("na"))
      .drop("j")
  }

  /** Exact (i, na, nb, j) for an explicit pair frame — cost bounded by
    * Σ over pairs of the left set size, not by the corpus.
    */
  private def verify(pairs: DataFrame, sets: DataFrame, sizes: DataFrame,
                     idCol: String): DataFrame =
    pairs
      .join(sets.select(col(idCol).as("id_a"), col("vid")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("vid")), Seq("id_b", "vid"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("i"))
      .join(sizes.select(col(idCol).as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("n").as("nb")), "id_b")
      .withColumn("j",
        col("i").cast("double") / (col("na") + col("nb") - col("i")))
}
