package graft.pipeline

import graft.functions.ArrayDot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity: native codegen'd dot product (ArrayDot),
  * brute-force top-k as the correctness baseline, and signed-random-
  * projection LSH buckets as the scale path (candidates drop from N²
  * to N²/buckets).
  *
  * Pair similarity always runs over L2-normalized vectors computed
  * ONCE per input row before the pair join, so the per-pair work is a
  * single primitive dot-product loop — the difference between 35 s and
  * ~1 s on 2M pairs at sf0.1.
  */
object Embeddings {

  /** Double-precision copy of a float array column. */
  def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Add `outCol` = unit-length double copy of `vecCol`. */
  def withUnitVector(df: DataFrame, vecCol: String, outCol: String): DataFrame = {
    ArrayDot.register(df.sparkSession)
    df.withColumn("__vd", asDouble(col(vecCol)))
      .withColumn("__nrm", sqrt(expr("graft_dot(__vd, __vd)")))
      .withColumn(outCol, transform(col("__vd"), x => x / col("__nrm")))
      .drop("__vd", "__nrm")
  }

  /** Cosine of two pre-normalized vector columns (by name). */
  def unitCosine(aCol: String, bCol: String): Column = expr(s"graft_dot($aCol, $bCol)")

  /** Brute-force cosine top-k: for each query row, the k most similar
    * non-self candidates. Similarity is rounded to 6 decimals BEFORE
    * ranking so float-accumulation ulps can never flip an order; ties
    * break on neighbor id.
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = withUnitVector(queries, "embedding", "qn")
      .select(col("vec_id").as("query_id"), col("qn"))
    val c = withUnitVector(candidates, "embedding", "cn")
      .select(col("vec_id").as("neighbor_id"), col("cn"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(unitCosine("qn", "cn"), 6).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
  }

  /** Exact ALL-pairs cosine enumeration, sharded over block pairs.
    *
    * A bare `id_a < id_b` theta self-join physically plans as a
    * BroadcastNestedLoopJoin — one whole side broadcast to every
    * executor, which cannot work once the table outgrows one machine.
    * Here each vector hashes to one of `blocks` blocks; every unordered
    * block pair (bi <= bj) becomes a shuffle equi-join key (each side
    * replicated ~blocks/2×, tiny relative to the quadratic output), so
    * the pair generation runs as a SortMergeJoin whose per-key
    * cartesian spreads evenly across the cluster. The work is still
    * inherently O(N²) — that is the QUERY's complexity — but no
    * broadcast, no single-task hotspot, and AQE can split stragglers.
    *
    * A pair lands in exactly one block-pair key (its blocks, ordered);
    * within a same-block key the id filter dedups; ids are normalized
    * (least, greatest) so output convention stays id_a < id_b.
    * Similarity is rounded to 6 decimals before any downstream ranking.
    */
  def blockedCosinePairs(vectors: DataFrame, blocks: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val bp = (for { i <- 0 until blocks; j <- i until blocks } yield (i, j))
      .toDF("bi", "bj")
    val v = withUnitVector(vectors, "embedding", "uv")
      .withColumn("blk", pmod(col("vec_id"), lit(blocks)).cast("int"))
    val a = v.select(col("vec_id").as("ida0"), col("uv").as("ua"),
        col("blk").as("bi"))
      .join(broadcast(bp), "bi")
    val b = v.select(col("vec_id").as("idb0"), col("uv").as("ub"),
        col("blk").as("bj"))
      .join(broadcast(bp), "bj")
    a.join(b, Seq("bi", "bj"))
      .where(col("bi") < col("bj") || col("ida0") < col("idb0"))
      .select(
        least(col("ida0"), col("idb0")).as("id_a"),
        greatest(col("ida0"), col("idb0")).as("id_b"),
        round(unitCosine("ua", "ub"), 6).as("sim"))
  }

  /** Exact cosine top-k pairs via an adaptive threshold algorithm —
    * the dense-vector analogue of [[Jaccard.exactTopK]]'s plan.
    *
    *  1. τ bound: SRP-LSH same-bucket pairs are exactly verified; the
    *     kth best is a LOWER bound on the kth best overall.
    *  2. Centroid pruning (spherical triangle inequality, public
    *     metric-space pruning as in LEMP/FEXIPRO-style exact MIPS):
    *     assign every vector to its nearest of K deterministic k-means
    *     centroids; with α_c = max angle from cell c's members to its
    *     centroid, a pair x∈c, y∈d can reach cos ≥ τ only if
    *     θ(c,d) ≤ arccos(τ) + α_c + α_d. Only qualifying cell pairs
    *     are enumerated (equi-join on the (c,d) key), then every
    *     surviving pair is EXACTLY scored in the original space.
    *  3. Fallback: pruning power is measured BEFORE committing — the
    *     K² qualification table is driver-side, so the surviving pair
    *     fraction q is known up front. If q > maxQualFrac (or fewer
    *     than k seed candidates exist) the plan falls back to
    *     [[blockedCosinePairs]]' uniform sharded enumeration, whose
    *     even blocks can't hotspot on a dominant cell.
    *
    * On data with cluster structure the qualification table drops most
    * cell pairs and the plan is subquadratic-in-practice; on isotropic
    * data NO exact plan can prune: measured on the sf0.1 fixture
    * (64-dim, near-iid), cell radii are ~77° against arccos(τ) ≈ 62°
    * and the covariance eigenspectrum is flat (λ₁=0.021 … λ₆₄=0.011),
    * so every cell pair qualifies and every dimension-prefix index
    * admits every vector — the information content for exact pruning
    * simply isn't there. The adaptive gate makes that measurement part
    * of the plan instead of a hope.
    *
    * Returns exactly the top-k rows (id_a, id_b, sim) ordered by
    * (sim DESC, id_a, id_b) — provably identical to ranking
    * [[blockedCosinePairs]] (property-tested on clustered AND
    * isotropic inputs).
    */
  def thresholdCosineTopK(vectors: DataFrame, k: Int, kCent: Int = 32,
                          iters: Int = 2, maxQualFrac: Double = 0.6): DataFrame = {
    val (df, _) = thresholdCosineTopKWithStats(vectors, k, kCent, iters,
      maxQualFrac)
    df
  }

  /** Plan diagnostics for [[thresholdCosineTopK]]: surviving pair
    * fraction q and whether the pruned plan (vs the blocked fallback)
    * was chosen — asserted by the scale spec.
    */
  final case class CosinePruneStats(qualFrac: Double, pruned: Boolean)

  def thresholdCosineTopKWithStats(vectors: DataFrame, k: Int, kCent: Int,
                                   iters: Int, maxQualFrac: Double)
      : (DataFrame, CosinePruneStats) = {
    def ranked(pairs: DataFrame): DataFrame =
      pairs.orderBy(col("sim").desc, col("id_a"), col("id_b")).limit(k)

    val v = withUnitVector(vectors, "embedding", "uv")
      .select(col("vec_id"), col("uv"))
      .localCheckpoint(true) // (b) cross-action: both phases' collects + the plan

    // phase 1: verified SRP-LSH candidates -> τ (one driver scalar)
    val vb = v.join(lshBuckets(vectors, planes = 8), "vec_id")
    val seed = vb.select(col("vec_id").as("ida0"), col("uv").as("ua"),
        col("bucket"))
      .join(vb.select(col("vec_id").as("idb0"), col("uv").as("ub"),
        col("bucket")), "bucket")
      .where(col("ida0") < col("idb0"))
      .select(round(unitCosine("ua", "ub"), 6).as("sim"))
      .orderBy(col("sim").desc).limit(k).collect()
    val tau = if (seed.length < k) 0.0 else seed.last.getDouble(0) - 1e-6
    if (tau <= 0.0)
      return (ranked(blockedCosinePairs(vectors, blocks = 16)),
        CosinePruneStats(1.0, pruned = false))

    // phase 2: centroid fit + driver-side K² qualification table
    val cents = kmeansCentroids(vectors, kCent, iters)
    val assigned = v.join(broadcast(cents), lit(true))
      .select(col("vec_id"), col("uv"), col("c_id"),
        unitCosine("uv", "cv").as("csim"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("c_id"), col("csim")),
          struct(round(col("csim"), 6), -col("c_id"))).as("pick"),
        first(col("uv")).as("uv"))
      .select(col("vec_id"), col("uv"), col("pick.c_id").as("cell"),
        col("pick.csim").as("csim"))
      .localCheckpoint(true) // (b) cross-action: the stats collect + the plan
    val stats = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        max(acos(greatest(lit(-1.0), least(lit(1.0), col("csim")))))
          .as("alpha"))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    val cvs = cents.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    val thetaTau = math.acos(math.min(1.0, math.max(-1.0, tau)))
    val cells = stats.keys.toSeq.sorted
    def theta(c: Long, d: Long): Double = {
      val (a, b) = (cvs(c), cvs(d))
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      math.acos(math.min(1.0, math.max(-1.0, s)))
    }
    val qual = for {
      c <- cells; d <- cells if c <= d
      if theta(c, d) <= thetaTau + stats(c)._2 + stats(d)._2 + 1e-7
    } yield (c, d)
    val nTotal = stats.values.map(_._1).sum
    val totalPairs = nTotal * (nTotal - 1) / 2
    val survPairs = qual.map { case (c, d) =>
      if (c == d) stats(c)._1 * (stats(c)._1 - 1) / 2
      else stats(c)._1 * stats(d)._1
    }.sum
    val q = if (totalPairs == 0) 1.0 else survPairs.toDouble / totalPairs
    if (q > maxQualFrac)
      return (ranked(blockedCosinePairs(vectors, blocks = 16)),
        CosinePruneStats(q, pruned = false))

    // phase 3: enumerate ONLY qualifying cell pairs, exact-score each
    val spark = vectors.sparkSession
    import spark.implicits._
    val qdf = qual.toDF("bi", "bj")
    val a = assigned.select(col("vec_id").as("ida0"), col("uv").as("ua"),
        col("cell").as("bi"))
      .join(broadcast(qdf), "bi")
    val b = assigned.select(col("vec_id").as("idb0"), col("uv").as("ub"),
        col("cell").as("bj"))
      .join(broadcast(qdf), "bj")
    val pairs = a.join(b, Seq("bi", "bj"))
      .where(col("bi") < col("bj") || col("ida0") < col("idb0"))
      .select(
        least(col("ida0"), col("idb0")).as("id_a"),
        greatest(col("ida0"), col("idb0")).as("id_b"),
        round(unitCosine("ua", "ub"), 6).as("sim"))
    (ranked(pairs), CosinePruneStats(q, pruned = true))
  }

  /** Deterministic Lloyd-iteration k-means centroids for IVF — the
    * production replacement for p9's fixed-id centroid set (same O(K)
    * broadcast plan, better cells). Init = the k lowest-id vectors
    * (deterministic sample); each iteration assigns every vector to
    * its nearest centroid (broadcast O(k) join, cosine on unit
    * vectors) and recomputes each centroid as the element-wise mean of
    * its members, re-normalized. All means run through decimal sums so
    * the result is IDENTICAL at any parallelism (a plain double sum
    * here made centroids drift across core counts elsewhere in this
    * repo); cells that lose every member keep their previous centroid.
    *
    * Output: (c_id, cv) unit centroid vectors. Cost per iteration: one
    * broadcast join + one (cell, dim) groupBy — linear in N·k.
    */
  def kmeansCentroids(vectors: DataFrame, k: Int, iters: Int): DataFrame = {
    val v = withUnitVector(vectors, "embedding", "uv")
      .select(col("vec_id"), col("uv"))
      .localCheckpoint(true) // (a) lineage cut: every iteration re-reads v
    var cents = v.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("c_id"), col("uv").as("cv"))
      .localCheckpoint(true) // (a) lineage cut: the centroids iterate
    (0 until iters).foreach { _ =>
      val assign = v.join(broadcast(cents), lit(true))
        .select(col("vec_id"), col("uv"), col("c_id"),
          round(unitCosine("uv", "cv"), 6).as("csim"))
        .groupBy(col("vec_id"))
        .agg(max_by(col("c_id"), struct(col("csim"), -col("c_id"))).as("c_id"),
          first(col("uv")).as("uv"))
      val means = assign
        .select(col("c_id"), posexplode(col("uv")).as(Seq("d", "x")))
        .groupBy(col("c_id"), col("d"))
        // decimal-exact mean per (cell, dimension): order-independent
        .agg((sum(col("x").cast("decimal(24,18)")).cast("double") /
          count(lit(1))).as("m"))
        .groupBy(col("c_id"))
        .agg(transform(array_sort(collect_list(struct(col("d"), col("m")))),
          x => x.getField("m")).as("mv"))
      val updated = means
        // norm through a decimal sum of squares for the same reason
        .withColumn("nrm", sqrt(aggregate(col("mv"),
          lit(java.math.BigDecimal.ZERO).cast("decimal(30,20)"),
          (acc, x) => (acc + (x * x).cast("decimal(30,20)"))
            .cast("decimal(30,20)")).cast("double")))
        .where(col("nrm") > 0)
        .select(col("c_id"), transform(col("mv"), x => x / col("nrm")).as("cv"))
      // cells with no surviving members keep their previous centroid
      cents = updated
        .unionByName(cents.join(updated.select("c_id"), Seq("c_id"), "left_anti"))
        .localCheckpoint(true) // (a) lineage cut: one per iteration
    }
    cents
  }

  /** IVF probe + search shared by the fixed-id (p9) and learned-
    * centroid (p13) declared queries: rank cells per vector by rounded
    * cosine (ties to the lower c_id), index each vector under its top
    * cell, probe each query's top `nprobe` cells, exact-score within
    * probed cells, return the top `topK` neighbors per query. The
    * centroid side is O(K) broadcast at any corpus size; both ranking
    * windows partition per vector — never an unpartitioned window.
    */
  def ivfSearch(v: DataFrame, cents: DataFrame, nprobe: Int,
                topK: Int, queries: DataFrame = null): DataFrame = {
    // query side defaults to the corpus (the all-pairs demo shape) but
    // scale callers MUST pass a bounded probe set: with Q queries the
    // scored volume is Q·nprobe·N/K — all-queries makes it N²·nprobe/K,
    // which at 200k vectors is 1e10 scored rows whose top-k sort
    // exhausted the sf10 box's disk (measured; the p52 fixed-eval-set
    // precedent applies — a benchmark's probe set is fixed-size)
    val qv = Option(queries).getOrElse(v)
    def cellRank(df: DataFrame): DataFrame = {
      val wc = Window.partitionBy(col("vec_id"))
        .orderBy(col("csim").desc, col("c_id"))
      df.join(broadcast(cents), lit(true))
        .select(col("vec_id"), col("c_id"),
          round(unitCosine("uv", "cv"), 6).as("csim"))
        .withColumn("crn", row_number().over(wc))
    }
    val probes = cellRank(qv)
      .where(col("crn") <= nprobe)
      .select(col("vec_id"), col("c_id").as("cell"), col("crn"))
    val assign = cellRank(v).where(col("crn") === 1)
      .select(col("vec_id"), col("c_id").as("cell"))
    val q = qv.join(probes.drop("crn"), "vec_id")
      .select(col("vec_id").as("query_id"), col("cell"), col("uv").as("qn"))
    val c = v.join(assign, "vec_id")
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("uv").as("cn"))
    // r13: BROADCAST the probe side. It is bounded by contract (Q
    // queries × nprobe rows — scale callers must pass a fixed probe
    // set, see above), while `c` is the whole indexed corpus; without
    // the hint the planner sort-merge-joins on `cell`, whose domain is
    // only K values — the corpus side would shuffle into K hot
    // partitions (max skew at any parallelism). With the hint the
    // corpus side never shuffles at all on the probe path.
    val scored = broadcast(q).join(c, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cell"),
        round(unitCosine("qn", "cn"), 6).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= topK)
      .select("query_id", "rnk", "neighbor_id", "sim", "cell")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    * corpus into coarse cells, then drop every vector that has a
    * SMALLER-id cell-mate with cosine above `tau` — "keep one per
    * ε-ball, greedily by id", a deterministic restatement of the
    * paper's keep-one-per-duplicate-group rule. Returns the REMOVED
    * rows with their best witness: (vec_id, cell, witness_id, sim),
    * witness = the highest-similarity smaller-id cell-mate (ties to
    * the lowest id); similarity rounded to 6 decimals before every
    * compare so no float ulp can flip a keep decision cross-engine.
    *
    * Scale shape: assignment is an O(K) broadcast join + per-vector
    * max_by (no window); the pair stage is an equi-join on the cell
    * key, so the work is Σ_c n_c² — the SemDeDup contract is that K
    * grows with the corpus (the paper runs 50k clusters for LAION),
    * keeping cells bounded; nothing here shuffles more than (cell,
    * unit-vector) rows and there is no driver-side state at all.
    */
  def semDedup(vectors: DataFrame, cents: DataFrame, tau: Double): DataFrame = {
    val v = withUnitVector(vectors, "embedding", "uv")
      .select(col("vec_id"), col("uv"))
    val assign = v.join(broadcast(cents), lit(true))
      .select(col("vec_id"), col("uv"), col("c_id"),
        round(unitCosine("uv", "cv"), 6).as("csim"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("c_id"), struct(col("csim"), -col("c_id"))).as("cell"),
        first(col("uv")).as("uv"))
    val lo = assign.select(col("vec_id").as("w_id"), col("cell"),
      col("uv").as("ua"))
    val hi = assign.select(col("vec_id"), col("cell"), col("uv").as("ub"))
    lo.join(hi, Seq("cell"))
      .where(col("w_id") < col("vec_id"))
      .select(col("vec_id"), col("cell"), col("w_id"),
        round(unitCosine("ua", "ub"), 6).as("sim"))
      .where(col("sim") > tau)
      .groupBy(col("vec_id"))
      .agg(first(col("cell")).as("cell"),
        max_by(struct(col("w_id"), col("sim")),
          struct(col("sim"), -col("w_id"))).as("best"))
      .select(col("vec_id"), col("cell"),
        col("best.w_id").as("witness_id"), col("best.sim").as("sim"))
  }

  /** Signed-random-projection bucket id per vector: `planes` fixed
    * deterministic hyperplanes (LCG-derived weights so the SQL oracle
    * reproduces them), bucket = bit-pack of dot-product signs.
    */
  def lshBuckets(vectors: DataFrame, planes: Int): DataFrame = {
    val exploded = vectors.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("d0", "x")))
      .select(col("vec_id"), (col("d0") + 1).as("d"), col("x").cast("double").as("x"))
      .crossJoin(spark_range_df(planes))
    val w = (pmod(lit(1103515245L) * (col("j") * 64 + col("d")) + 12345L,
      lit(2048L)).cast("double") / 2048.0) - 0.5
    exploded
      .groupBy(col("vec_id"), col("j"))
      .agg(round(sum(w * col("x")), 6).as("dotp"))
      .groupBy(col("vec_id"))
      .agg(sum(when(col("dotp") > 0,
        expr("shiftleft(cast(1 as bigint), cast(j as int))"))
        .otherwise(0L)).as("bucket"))
  }

  private def spark_range_df(n: Int) = {
    import org.apache.spark.sql.SparkSession
    SparkSession.active.range(n).select(col("id").as("j"))
  }
}
