package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge list via
  * alternating large-star / small-star contractions (Kiveris, Lattanzi,
  * Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
  * and Beyond", ACM SoCC 2014).
  *
  * Dedup clustering is the motivating use: the verified near-dup pair
  * graph (p3/p10) becomes cluster assignments — every document labeled
  * with its component's minimum doc id, so "keep one per cluster" and
  * "how big is this duplicate family" are plain column predicates.
  *
  * Scale shape: each round is two star steps; a star step is one
  * symmetric groupBy-min plus one equi-join — shuffle-bounded, no
  * global sort, no driver-side graph state. The edge set provably
  * converges to per-component stars rooted at the component minimum in
  * O(log² n) rounds (O(log n) observed; near-dup graphs are
  * overwhelmingly tiny quasi-cliques that finish in 2–3). The driver
  * sees one (count, checksum) scalar pair per round for fixpoint
  * detection, and lineage is truncated per round with localCheckpoint
  * so plan depth stays O(1).
  */
object Components {

  /** One star step. Both steps connect nodes through the minimum of
    * their closed neighborhood, which preserves connectivity:
    *  - large-star: for each u, emit (v, m(u)) for v ∈ Γ(u), v > u
    *  - small-star: for each u, emit (v, m(u)) for v ∈ {w ∈ Γ(u): w ≤ u} ∪ {u}, v ≠ m(u)
    * where m(u) = min(Γ(u) ∪ {u}). Output normalized to a > b, deduped.
    */
  private def star(edges: DataFrame, large: Boolean): DataFrame = {
    val sym = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
    val m = sym.groupBy("a")
      .agg(min(least(col("b"), col("a"))).as("m"))
    val emitted =
      if (large)
        sym.join(m, "a").where(col("b") > col("a"))
          .select(col("b").as("a"), col("m").as("b"))
      else
        sym.where(col("b") <= col("a"))
          .select(col("a"), col("b"))
          .union(m.select(col("a"), col("a").as("b")))
          .join(m, "a").where(col("b") =!= col("m"))
          .select(col("b").as("a"), col("m").as("b"))
    emitted.where(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .distinct()
  }

  /** Component labels for every node of `edges` (columns a, b).
    * Returns (node, component) where component is the minimum node id
    * reachable from `node`; nodes absent from the edge list are absent
    * here (callers union in their universe — see componentsOver).
    */
  def labels(edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    var e = edges.select(
        greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .where(col("a") =!= col("b")).distinct()
      .localCheckpoint() // (a) lineage cut: the checksum and round 1 read it
    var sig = checksum(e)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = star(star(e, large = true), large = false)
        .localCheckpoint() // (a) lineage cut: one per round keeps plan depth O(1)
      val nextSig = checksum(next)
      converged = nextSig == sig
      e = next; sig = nextSig; rounds += 1
    }
    require(converged, s"connected components did not converge in $maxRounds rounds")
    // converged state: stars (child > root); roots label themselves
    e.select(col("a").as("node"), col("b").as("component"))
      .union(e.select(col("b").as("node"), col("b").as("component")).distinct())
      .distinct()
  }

  /** Labels over a full universe: singletons get their own id. */
  def componentsOver(universe: DataFrame, idCol: String,
                     edges: DataFrame): DataFrame = {
    val l = labels(edges)
    universe.select(col(idCol))
      .join(l.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("component"))
  }

  /** O(1)-to-driver fixpoint signature: (row count, order-independent
    * hash fold). XOR (not SUM — ANSI mode rejects the inevitable long
    * overflow) is safe here because the edge set is distinct, so no
    * pair cancellation; collision odds over 64-bit xxhash are
    * negligible, and a false positive only ends the loop one round
    * early on a set that hashed identically — never observed; the
    * property suite cross-checks final labels against a sequential
    * union-find.
    */
  private def checksum(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("a"), col("b")))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}
