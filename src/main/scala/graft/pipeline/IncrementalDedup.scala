package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental corpus-update dedup: match an INCOMING document batch
  * against an EXISTING corpus through a cross-side COMPLETE candidate
  * generator, then exact-verify. The existing side's rarest-token
  * windows, shingle-id sets and frozen document-frequency table are
  * what a production pipeline persists as its dedup index — per-update
  * work is O(incoming + collided occurrences), independent of the
  * existing corpus's pair count, and existing×existing pairs are never
  * enumerated.
  *
  * COMPLETENESS (r12): the original candidate generator was a banded
  * MinHash join (32 hashes, r=3) — a J≈0.7 pair misses all bands with
  * probability (1−0.7³)¹⁰ ≈ 1.5%, and at the 500k-doc sf10 fixture
  * three matched docs lost ALL their pairs that way (caught the
  * moment the chunked DuckDB oracle closed the sf10 exclusion). Both
  * generators below are provably complete — no hash-family recall
  * term:
  *
  *  - COUNTING probe (≥k-of-m): J ≥ τ forces an overlap i ≥ ⌈τ·ne⌉ on
  *    the indexed side, whose m-window holds its ℓe + k − 1 =
  *    ne − ⌈τ·ne⌉ + k rarest tokens — at most ne − i ≤ ne − ⌈τ·ne⌉ of
  *    them can be non-shared, so a qualifying pair shares ≥ k window
  *    tokens. Only the INDEXED side needs an order (frozen at build;
  *    any fixed order stays complete under appends — a stale-df
  *    window only prunes less); the probe side joins its WHOLE token
  *    list and needs no order at all.
  *  - PREFIX×PREFIX probe (the [[Jaccard.thresholdPairs]] ppjoin
  *    generator, cross-side): under ONE total token order shared by
  *    both sides, a qualifying pair's EARLIEST common token lies
  *    within BOTH ℓ-prefixes (ℓ = n − ⌈τ·n⌉ + 1), and that
  *    occurrence's positional bound 1 + min(ne−re, ni−ri) ≥
  *    ⌈τ/(1+τ)·(ne+ni)⌉ survives the filter. The shared order is the
  *    index's FROZEN (df, vid) order, extended to tokens unseen at
  *    build time with df = 0 — still one total order over the union
  *    vocabulary, so completeness holds; the incoming side ranks its
  *    batch against the persisted df table (per-doc bounded windows,
  *    linear in the batch).
  *
  * GENERATOR CHOICE is adaptive (the thresholdPairs dual-generator
  * pattern, ported cross-side by the r12 verdict): one bounded
  * aggregation computes both closed-form probe volumes —
  * volCounting = Σ_vid wdf_ex·df_in (window occurrences shipped into
  * the map-combined count agg) and volPrefix = Σ_vid pdf_ex·pdf_in
  * (prefix pairs shipped into a DISTINCT shuffle) — and prefix is
  * taken only when its volume advantage exceeds the measured
  * worst-case per-row cost gap (8×, GenCompare). The decision and
  * both volumes land in [[lastGenerator]], which Bench's
  * pair-generators line prints so the p23/s4 walls carry a measured
  * attribution at every scale step (r12 verdict #2: the 15×/decade
  * exponent was unattributed). Plan-pinned both ways in
  * StreamingSpec.
  *
  * Exact verification (integer-form τ: (TauNum+TauDen)·i ≥
  * TauNum·(ni+ne) ⟺ jaccard ≥ τ) is generator-independent, so the
  * batch query (p23) is gated by an all-pairs DuckDB oracle and the
  * streaming wrapper (s4) must converge to the identical answer — at
  * any scale and under either generator.
  *
  * Both entry points take (id, vid) DISTINCT shingle-id frames so
  * callers choose the hash (xxhash64 engine-only, hashId for oracle
  * parity) and the shingle width once.
  */
object IncrementalDedup {

  /** τ = TauNum/TauDen = 0.7, kept in INTEGER form because every use
    * is integer arithmetic: ⌈τ·n⌉ = ⌊(TauNum·n + TauDen − 1)/TauDen⌋
    * in [[buildIndex]], the prefix α-bound ⌈τ/(1+τ)·(ni+ne)⌉ =
    * ⌊(TauNum·(ni+ne) + TauNum + TauDen − 1)/(TauNum+TauDen)⌋, and
    * J ≥ τ ⟺ (TauNum+TauDen)·i ≥ TauNum·(ni+ne) in the exact verify.
    * One source of truth — the r12 advice found the old `Tau = 0.7`
    * declared but never read while 7/10/17 lived as literals.
    */
  private val TauNum = 7L
  private val TauDen = 10L
  private val MinShared = 3

  /** ⌈τ·n⌉ in exact integer arithmetic. */
  private def ceilTau(n: org.apache.spark.sql.Column) =
    floor((n * TauNum + (TauDen - 1)) / TauDen).cast("long")

  /** The persisted index of the existing corpus: per-doc rarest-token
    * m-windows (with positions, prefix lengths and each doc's k_eff)
    * for candidate generation, shingle-id sets + set sizes for exact
    * verification, and the FROZEN document-frequency table that
    * defines the shared token order (the incoming side ranks against
    * it). A production pipeline maintains these as tables and only
    * APPENDS to them as batches are accepted; the window's df-order
    * is frozen at build.
    */
  final case class Index(window: DataFrame, ids: DataFrame,
                         sizes: DataFrame, dfreq: DataFrame) {
    /** Eagerly materialized copy — what every steady-state caller
      * (micro-batch loops, stress harnesses) wants: the index is
      * built once and each re-use reads cached blocks, never
      * re-running the rank window. Class (b), cross-action state:
      * every later batch's probe reads it.
      */
    def checkpointed: Index = Index(window.localCheckpoint(true),
      ids.localCheckpoint(true), sizes.localCheckpoint(true),
      dfreq.localCheckpoint(true))
  }

  def buildIndex(exIds: DataFrame, idCol: String): Index = {
    // the rank window is partitioned per document (bounded groups,
    // never a global sort). ℓ = n − ⌈τn⌉ + 1; m-window =
    // min(n, ℓ + k − 1); k_eff = min(k, n − ℓ + 1) handles tiny sets
    // exactly like thresholdPairs' counting branch.
    val dfreq = exIds.groupBy("vid").agg(count(lit(1)).as("__df"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__df"), col("vid"))
    val sz = exIds.groupBy(idCol).agg(count(lit(1)).as("ne"))
    val ell = col("ne") - ceilTau(col("ne")) + 1
    val window = exIds.join(dfreq, "vid").join(sz, idCol)
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= least(col("ne"), ell + lit(MinShared - 1)))
      .select(col(idCol), col("vid"), col("__rk").as("__r"),
        ell.as("__ell"), col("ne"),
        least(lit(MinShared.toLong), col("ne") - ell + 1).as("__k"))
    Index(window, exIds, sz, dfreq)
  }

  /** (id_in, id_ex, jaccard): every incoming-vs-existing pair with
    * exact jaccard ≥ 0.7, found through the adaptive cross-side probe.
    */
  def crossMatches(inIds: DataFrame, exIds: DataFrame,
                   idCol: String): DataFrame =
    crossMatches(inIds, buildIndex(exIds, idCol), idCol)

  /** Persisted-index form: per-update cost is O(incoming + collided
    * occurrences) no matter how large the indexed corpus is. The
    * incoming batch is ranked ONCE against the index's frozen df
    * table (unseen tokens order first at df = 0); that ranking feeds
    * the one bounded volume-estimate aggregation and, when chosen,
    * the prefix generator — the counting generator's probe side joins
    * the whole incoming list and ignores the ranks.
    */
  def crossMatches(inIds: DataFrame, index: Index, idCol: String,
                   forceGenerator: Option[String] = None): DataFrame = {
    val inSz = inIds.groupBy(idCol).agg(count(lit(1)).as("ni"))
    val wIn = Window.partitionBy(col(idCol)).orderBy(col("__df"), col("vid"))
    val ellI = col("ni") - ceilTau(col("ni")) + 1
    // incoming ℓ-prefix rows under the SHARED frozen order — the only
    // rows the prefix generator or its volume estimate ever read;
    // checkpointed so the estimate job and the generator don't each
    // re-run the rank window (the thresholdPairs materialization
    // stance — window rows only, never the full ranked frame)
    val inPre = inIds
      .join(index.dfreq, Seq("vid"), "left").na.fill(0L, Seq("__df"))
      .withColumn("__ri", row_number().over(wIn))
      .join(inSz, idCol)
      .where(col("__ri") <= ellI)
      .select(col(idCol).as("id_in"), col("vid"),
        col("__ri").as("ri"), col("ni"))
      .localCheckpoint(true) // (b) cross-action: the estimate's head() + the plan

    // Closed-form generator costs, ONE bounded aggregation: per vid
    // the ex side contributes (wdf = m-window rows, pdfEx = ℓ-prefix
    // rows) and the in side (dfin = incoming docs, pdfIn = incoming
    // prefix rows); volCounting = Σ wdf·dfin occurrence rows into the
    // map-combined count agg, volPrefix = Σ pdfEx·pdfIn candidate
    // rows into a DISTINCT shuffle + verify. A candidate row costs a
    // measured 3–8× an occurrence row (GenCompare), so prefix wins
    // only past the 8× volume gap — the Zipfian/rotate corpus shape
    // where globally-common tokens inside short docs' windows pay
    // whole posting lists (the adversarial shape the r12 verdict
    // flagged: rotate-sf10's counting probe cost ~19 min where banded
    // cost ~2).
    val exStats = index.window.groupBy("vid")
      .agg(count(lit(1)).as("wdf"),
        sum(when(col("__r") <= col("__ell"), 1L).otherwise(0L)).as("pdfEx"))
    val inStats = inIds.groupBy("vid").agg(count(lit(1)).as("dfin"))
      .join(inPre.groupBy("vid").agg(count(lit(1)).as("pdfIn")),
        Seq("vid"), "left").na.fill(0L, Seq("pdfIn"))
    val volRow = exStats.join(inStats, "vid")
      .agg(sum(col("wdf") * col("dfin")).as("volCounting"),
        sum(col("pdfEx") * col("pdfIn")).as("volPrefix"))
      .head()
    val volCounting = Option(volRow.get(0)).fold(0L)(_.toString.toLong)
    val volPrefix = Option(volRow.get(1)).fold(0L)(_.toString.toLong)
    val usePrefix = forceGenerator match {
      case Some("prefix")   => true
      case Some("counting") => false
      case Some(g) => throw new IllegalArgumentException(
        s"unknown generator '$g' (prefix|counting)")
      case None => volCounting > 8L * volPrefix
    }
    lastGenerator.set(s"${if (usePrefix) "prefix" else "counting"}" +
      s":$volPrefix:$volCounting")

    val cands = if (usePrefix) {
      // cross-side ppjoin prefix×prefix with the positional filter:
      // a pair sharing a prefix token at positions (ri, re) has
      // i ≤ 1 + min(ni−ri, ne−re), and J ≥ τ forces
      // i ≥ ⌈τ/(1+τ)·(ni+ne)⌉ — integer-exact at τ = 7/10. The size
      // ratio 10·min ≥ 7·max applies per occurrence inside the same
      // codegen stage, before the distinct shuffle.
      val alpha = floor((
        (col("ni") + col("ne")) * TauNum + (TauNum + TauDen - 1)) /
        (TauNum + TauDen)).cast("long")
      inPre
        .join(index.window.where(col("__r") <= col("__ell"))
          .select(col(idCol).as("id_ex"), col("vid"),
            col("__r").as("re"), col("ne")), "vid")
        .where(least(col("ni"), col("ne")) * TauDen >=
          greatest(col("ni"), col("ne")) * TauNum)
        .where(lit(1) + least(col("ni") - col("ri"), col("ne") - col("re"))
          >= alpha)
        .select("id_in", "id_ex").distinct()
    } else {
      // ≥k-of-m counting probe: the indexed side's m-window vs the
      // WHOLE incoming token list (restricting the probe side would
      // drop matches a qualifying pair is entitled to), counted by a
      // map-combinable aggregation.
      index.window
        .select(col(idCol).as("id_ex"), col("vid"), col("__k"))
        .join(inIds.select(col(idCol).as("id_in"), col("vid")), Seq("vid"))
        .groupBy("id_in", "id_ex", "__k")
        .agg(count(lit(1)).as("__shared"))
        .where(col("__shared") >= col("__k"))
        .select("id_in", "id_ex")
    }
    cands
      .join(inIds.select(col(idCol).as("id_in"), col("vid")), "id_in")
      .join(index.ids.select(col(idCol).as("id_ex"), col("vid")),
        Seq("id_ex", "vid"))
      .groupBy("id_in", "id_ex").agg(count(lit(1)).as("i"))
      .join(inSz.withColumnRenamed(idCol, "id_in"), "id_in")
      .join(index.sizes.withColumnRenamed(idCol, "id_ex"), "id_ex")
      .where(col("i") * (TauNum + TauDen) >= (col("ni") + col("ne")) * TauNum)
      .select(col("id_in"), col("id_ex"),
        (round(col("i").cast("double") / (col("ni") + col("ne") - col("i"))
          * lit(1e6)) / lit(1e6)).as("jaccard"))
  }

  /** Which generator the last [[crossMatches]] call chose, with both
    * closed-form volumes — "counting:volPrefix:volCounting" — the
    * test seam for the plan-pinning specs and the figure Bench's
    * pair-generators stderr line prints.
    */
  private[graft] val lastGenerator =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** One row per matched incoming id: match count + best witness
    * (highest jaccard, ties to the lowest existing id).
    */
  def bestWitness(matches: DataFrame): DataFrame =
    matches.groupBy("id_in")
      .agg(count(lit(1)).as("n_matches"),
        max_by(struct(col("id_ex"), col("jaccard")),
          struct(col("jaccard"), -col("id_ex"))).as("best"))
      .select(col("id_in").as("doc_id"), col("n_matches"),
        col("best.id_ex").as("best_match"),
        col("best.jaccard").as("best_jaccard"))
}
