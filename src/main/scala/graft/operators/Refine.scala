package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.functions.VectorOps._

/**
 * Bandwidth-first ANN refinement: precision-on-demand with early rejection.
 *
 * Static-tau0 formulation of the reference's six refinement operators
 * (reference `ANNCode.py:307-647`), run by [[fetchedSplit]] as
 * per-partition block passes over the cheap relation
 * ([[RefineKernel.SeedPass]], [[RefineKernel.SurvivorPass]]) — no N*Q
 * (row, query) pair relation is ever built:
 *
 *   1. ''seed pass'': each partition scores its rows against every query
 *      on the truncated-precision copy only (at rest a scan of the small
 *      `rvec` Parquet column; column pruning keeps the full `vec`
 *      untouched, which is what makes the bandwidth win physical) and
 *      keeps a k-bounded heap per query; the driver merges the P*Q*k
 *      candidates into the Q*k seeds (`ANNCode.py:339`).
 *   2. ''tau0'': the seeds are rescored at full precision, read through an
 *      `id IN (seeds)` filter on the full side; tau0 = worst seed full
 *      score per query (`ANNCode.py:339-345`).
 *   3. ''survivor pass'': a second block pass keeps the non-seed rows
 *      whose cushion-adjusted reduced score could still beat tau0
 *      (`ANNCode.py:352-356` etc.). The reference tightens tau as it walks
 *      candidates sequentially; this form holds tau0 fixed — strictly
 *      conservative, so the zero-miss modes keep recall == 1.0 (paper
 *      §3.1.3-3.2.2) and Hoeffding recall here is >= the reference's.
 *   4. ''fetch'': the survivors (kept distributed) join the streamed
 *      full-precision table on id as the build side — the full table is
 *      never broadcast — and are rescored; callers rank seeds + survivors
 *      with [[TopK.window]].
 *
 * Cushions (paper Table 2):
 *   cos_hoeff : sqrt(2 ln(1/delta)) * ||q_unit ∘ Delta_i||    (ANNCode.py:354)
 *   cos_l1    : alpha * dot(|q_unit|, Delta_i)                (ANNCode.py:411)
 *   cos_l2    : alpha * ||unit(x_i) - unit(r_i)||             (ANNCode.py:446-447)
 *   l2_sym    : sum_j max(|a_j|-Delta_j, 0)^2    lower bound  (ANNCode.py:500-505)
 *   l2_tz     : sign-aware per-coordinate bound               (ANNCode.py:508-522)
 *   l2_hoeff  : ||a||^2 - 2 c ||a ∘ Delta_i||    lower bound  (ANNCode.py:630-632)
 *
 * All unit-space quantities are computed as ratios of raw dot products
 * (e.g. cos = dot(x,q)/(||x|| ||q||), ||u-ru||^2 = 2 - 2 dot(x,r)/(||x|| ||r||))
 * so that, on fp16-exact fixture data, every score is a fixed expression
 * tree over EXACT partial sums — bit-reproducible across engines and
 * partitionings (see Fixture docs). The block passes evaluate the same
 * trees in Scala ([[RefineKernel.Scores]]), so their rows are
 * bit-identical to the relational cross-join form the oracle mirrors.
 * The accounting fan-outs ([[metricsModes]], [[perQidMkeepMetricsSplit]])
 * are composed from the same passes, so the paper's (recall, save, fpr)
 * triple is measured on the passes that serve queries.
 */
object Refine {

  val CosModes = Seq("cos_hoeff", "cos_l1", "cos_l2")
  val L2Modes  = Seq("l2_sym", "l2_tz", "l2_hoeff")
  val Modes: Seq[String] = CosModes ++ L2Modes

  final case class Params(
      mode: String,
      k: Int = 20,
      keepM: Int = 6,
      keepE: Int = 5,
      delta: Double = 0.7,   // Hoeffding failure prob
      alpha: Double = 1.0) {
    require(Modes.contains(mode), s"unknown mode $mode")
    def hoeffConst: Double = math.sqrt(2.0 * math.log(1.0 / delta))
    def isCos: Boolean = CosModes.contains(mode)
    /** modeled bits per reduced scalar: sign + kept exponent + kept mantissa. */
    def bitsRed: Int = 1 + keepE + keepM
  }

  private def fnorm(x: Column): Column = VectorOps.fnorm(x)

  /** B_i = ||unit(x)-unit(r)|| = sqrt(max(0, 2 - 2 xr/(||x|| ||r||))) —
    * the cos_l2 per-vector stat; query-free, so at rest it can be
    * materialized beside rvec/delta (see sources.Disaggregated). */
  def cosL2Stat(vec: Column, rvec: Column): Column =
    sqrt(greatest(lit(0.0),
      lit(2.0) - lit(2.0) * dot(vec, rvec) /
        (fnorm(norm2Sq(vec)) * fnorm(norm2Sq(rvec)))))

  /**
   * The query-independent cheap-pass relation
   * (id, rvec, delta, nr2[, bb]) derived from an in-memory vectors
   * relation (id, vec, rvec, delta). Only cos_l2 touches `vec` (for its
   * stat); every other mode's cheap pass is vec-free, which is what makes
   * the at-rest bandwidth win physical under column pruning.
   */
  def cheapSide(vectors: DataFrame, p: Params): DataFrame =
    if (p.mode == "cos_l2")
      vectors.select(col("id"), col("rvec"), col("delta"),
        norm2Sq(col("rvec")).as("nr2"),
        cosL2Stat(col("vec"), col("rvec")).as("bb"))
    else
      vectors.select(col("id"), col("rvec"), col("delta"),
        norm2Sq(col("rvec")).as("nr2"))

  /** Cheap-pass relation from a disaggregated at-rest table that already
    * stores `bb` (sources.Disaggregated.write): never references `vec`,
    * so the parquet scan reads only the reduced column chunks. */
  def cheapSideStored(stored: DataFrame, p: Params): DataFrame = {
    val base = Seq(col("id"), col("rvec"), col("delta"),
      norm2Sq(col("rvec")).as("nr2"))
    val cols = if (p.mode == "cos_l2") base :+ col("bb") else base
    stored.select(cols: _*)
  }

  /**
   * Candidate rows after early rejection, rescored at full precision.
   * Returns (qid, id, s_full, rn) — rn<=k are the seeds.
   *
   * CACHE LIFECYCLE: construction runs the seed pass and the seed rescore
   * eagerly (their Q*k results come back to the driver and re-enter the
   * plan as a local relation) and eagerly persists the survivor set —
   * (qid, id) pairs, kept distributed — registered with [[Dedup]]'s
   * release tracker: Spark's CacheManager holds it strongly, so it is
   * NOT garbage-collected. Under an enclosing [[Dedup.scopedRelease]]
   * (Bench/Verify do this per query) the caller frees it via the
   * returned release callback and gets the lazy fetch-and-rank plan.
   * WITHOUT a scope, the operator runs its pipeline eagerly, returns a
   * self-contained checkpointed result, and releases the survivor set
   * before returning — a bare `Refine.topk(...).count()` leaves no cached
   * blocks behind. Applies equally to [[fetchedSplit]], [[topk]], and
   * [[topkSplit]].
   */
  def fetched(vectors: DataFrame, queries: DataFrame, p: Params): DataFrame =
    fetchedSplit(cheapSide(vectors, p), vectors, queries, p)

  /**
   * PRECISION ON DEMAND AS A RELATION — the reference's OWN tunable
   * (the Hoeffding failure probability δ, `ANNCode.py:354`) bound PER
   * QUERY ROW: `deltas` is a (qid, δ) table and each query refines with
   * ITS OWN recall/bandwidth knob (a recall-critical tenant runs
   * δ=1e-6, a throughput one δ=0.7), all queries in ONE plan — the same
   * cheap pass, seed selection, and rescore, with the cushion reading a
   * per-qid constant column instead of the param literal. The per-qid
   * hoeffConst values are computed driver-side with the exact
   * [[Params.hoeffConst]] formula, so the oracle embeds the identical
   * double literals per qid.
   */
  def topkPerQidDelta(vectors: DataFrame, queries: DataFrame, p: Params,
                      deltas: Seq[(Long, Double)]): DataFrame = {
    require(p.mode == "cos_hoeff",
      "per-qid delta rides the cos_hoeff cushion")
    require(deltas.nonEmpty, "topkPerQidDelta: empty delta relation")
    val spark = vectors.sparkSession
    import spark.implicits._
    val hcRel = deltas.map { case (q, dl) =>
      (q, math.sqrt(2.0 * math.log(1.0 / dl))) }
    val q2 = queries.select(col("qid"), col("qvec"))
      .join(broadcast(hcRel.toDF("qid", "hc")), Seq("qid"))
    TopK.window(
      fetchedSplit(cheapSide(vectors, p), vectors, q2, p, perQidHc = true)
        .withColumnRenamed("s_full", "score"),
      p.k, ascending = !p.isCos)
  }

  /**
   * PRECISION ON DEMAND AS A RELATION, COMPLETED — the paper's TITLE
   * knob, the per-vector mantissa budget `m_keep`
   * (`ANNCode.py:202-216`, swept at `ANNCode.py:742`), bound PER QUERY
   * ROW: `mkeeps` is a (qid, m_keep) table and each query's cheap pass
   * reads ITS OWN precision tier — a 6-bit bandwidth-tier tenant and a
   * 10-bit recall tenant served off one plan. Returns the per-qid
   * accounting ledger (qid, m_keep, fetched, bytes_total, recall,
   * save, fpr), the reference's triple per REQUEST rather than per
   * mode.
   *
   * Plan shape: the per-tier reduced columns (rvec_m, delta_m) are
   * derived once per row — at rest they are separate parquet columns
   * of the disaggregated layout, so the cheap side is the
   * union-of-tiers pruned scan, the column-pruning analogue of the
   * filtered-multi rung's union-of-langs partition pruning. Each tier
   * runs one [[fetchedSplit]] — its block passes over that tier's
   * columns, for that tier's qids — and the ledger counts the union of
   * the tiers' fetch sets. Zero-miss mode only (cos_l1: the cushion is
   * a true error bound at ANY tier), so per-qid recall is provably 1.0
   * at every tier — what makes the per-tier `bytes` column a pure
   * bandwidth trade, not a recall trade.
   *
   * Accounting per qid (nq = 1 forms of [[metrics]]'s definitions):
   * bytes_total = b_red(tier)·N + b_full·fetched;
   * save = 1 − bytes_total/(b_full·N); fpr = (fetched − k)/N.
   */
  def perQidMkeepMetrics(vectors: DataFrame, queries: DataFrame,
                         p: Params, d: Int,
                         mkeeps: Seq[(Long, Int)],
                         groundTruth: Option[DataFrame] = None): DataFrame = {
    val ms = mkeeps.map(_._2).distinct.sorted
    // per-tier cheap columns, derived once per row from the
    // full-precision vector — the in-memory twin of the tiered at-rest
    // layout's stored columns (sources.Disaggregated.writeTiers)
    val cheap = vectors.select(
      Seq(col("id")) ++ ms.flatMap(m => Seq(
        VectorOps.reduceVec(col("vec"), p.keepE, m).as(s"rvec_$m"),
        VectorOps.deltaVec(col("vec"), m).as(s"delta_$m"))): _*)
    perQidMkeepMetricsSplit(cheap, vectors.select(col("id"), col("vec")),
      queries, p, d, mkeeps, groundTruth)
  }

  /** [[perQidMkeepMetrics]] with the per-tier cheap side and the
    * full-precision fetch side as SEPARATE relations — the tiered
    * disaggregated-storage entry point, where the tiers are separate
    * column subsets of one parquet table: selecting only the USED
    * tiers' (rvec_m, delta_m) chunks is what makes precision-on-demand
    * a physical bandwidth knob (a batch using tiers {4, 8} reads
    * neither `vec` nor an unused 6-bit tier's chunks — PlanSpec
    * asserts). `cheap` must carry (id, rvec_m, delta_m) for every tier
    * in `mkeeps`. */
  def perQidMkeepMetricsSplit(cheap: DataFrame, full: DataFrame,
                              queries: DataFrame, p: Params, d: Int,
                              mkeeps: Seq[(Long, Int)],
                              groundTruth: Option[DataFrame] = None): DataFrame = {
    require(p.mode == "cos_l1",
      "per-qid m_keep rides the zero-miss cos_l1 cushion")
    require(mkeeps.nonEmpty, "perQidMkeepMetrics: empty tier relation")
    require(mkeeps.map(_._1).distinct.length == mkeeps.length,
      "perQidMkeepMetrics: a qid is bound to more than one tier")
    val spark = cheap.sparkSession
    import spark.implicits._
    val bFull = 16.0 * d / 8.0
    // the tier relation with each tier's modeled reduced bytes/vec
    // (sign + kept exponent + kept mantissa bits, Params.bitsRed) —
    // bounded, broadcast
    val mkRel = broadcast(mkeeps.map { case (qid, m) =>
      (qid, m, (1 + p.keepE + m) * d / 8.0) }.toDF("qid", "m", "b_red"))
    val (ledger, release) = Dedup.scopedRelease {
      val fetch = mkeeps.groupBy(_._2).toSeq.sortBy(_._1).map { case (m, tier) =>
        fetchedSplit(
          cheap.select(col("id"), col(s"rvec_$m").as("rvec"),
            col(s"delta_$m").as("delta"), norm2Sq(col(s"rvec_$m")).as("nr2")),
          full, queries.filter(col("qid").isInCollection(tier.map(_._1))), p)
      }.reduce(_ unionByName _)
      val fin = TopK.window(
        fetch.withColumnRenamed("s_full", "score"), p.k)
      val gt = groundTruth.getOrElse(exactTopK(full, queries, p))
      val nV = full.count()
      val fetched = fetch.groupBy(col("qid"))
        .agg(count(lit(1)).as("fetched"))
      val hits = fin.join(gt.select(col("qid"), col("id")),
          Seq("qid", "id"))
        .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
      val bytesTotal = col("b_red") * lit(nV.toDouble) +
        lit(bFull) * col("fetched").cast("double")
      mkRel.join(fetched, Seq("qid")).join(hits, Seq("qid"))
        .select(col("qid"), col("m").as("m_keep"), col("fetched"),
          bytesTotal.as("bytes_total"),
          (col("hits").cast("double") / lit(p.k.toDouble)).as("recall"),
          (lit(1.0) - bytesTotal / (lit(bFull) * lit(nV.toDouble)))
            .as("save"),
          ((col("fetched") - lit(p.k.toLong)).cast("double") /
            lit(nV.toDouble)).as("fpr"))
        // the ledger is |mkeeps| rows — pin it so the caller's actions
        // don't re-run the pipeline after the survivor sets are released
        .localCheckpoint(true)
    }
    release()
    ledger
  }

  /** [[fetched]] with the cheap pass and the full-precision fetch side as
    * separate relations — the disaggregated-storage entry point, where
    * the two sides are different column subsets of one parquet table.
    * `cheap` carries (id, rvec, delta, nr2[, bb]) ([[cheapSide]],
    * [[cheapSideStored]]); `full` (id, vec); `queries` (qid, qvec[, hc]).
    *
    * Plan shape (the 100 TB contract): no (row, query) pair relation
    * exists anywhere. The cheap relation is read by two per-partition
    * block passes ([[RefineKernel.SeedPass]], [[RefineKernel.SurvivorPass]]
    * — `RefineSeedPass` / `RefineSurvivorPass` in EXPLAIN); the driver
    * holds at most the seed pass's P*Q*k candidates and the Q*k rescored
    * seeds. The survivors stay distributed: they are persisted, counted,
    * and joined to the full-precision table as the BUILD side — broadcast
    * when their counted size fits `spark.sql.autoBroadcastJoinThreshold`,
    * a shuffled hash join otherwise — with the full table streamed, never
    * broadcast (a 100 TB table can't be). At rest the seed rescore reads
    * the id-sorted full side through an `id IN (seeds)` filter. */
  def fetchedSplit(cheap: DataFrame, full: DataFrame, queries: DataFrame,
                   p: Params, perQidHc: Boolean = false): DataFrame =
    if (Dedup.scopeActive) fetchedSplitImpl(cheap, full, queries, p, perQidHc)
    else {
      // BARE library caller (no enclosing Dedup.scopedRelease): the
      // caller has no reason to know the release contract, so return a
      // SELF-CONTAINED result instead of leaking the persisted survivor
      // set into the session's CacheManager. The pipeline runs under an
      // internal scope, the small result (Q*k seeds + survivors) is
      // pinned eagerly via localCheckpoint — acceptable lineage
      // truncation: the pin materializes immediately and holds only the
      // final rows — and the survivor set is released before returning.
      // Managed callers (Bench/Verify, anything under scopedRelease)
      // keep the lazy fetch-and-rank plan above.
      val (df, release) = Dedup.scopedRelease(
        fetchedSplitImpl(cheap, full, queries, p, perQidHc))
      try df.localCheckpoint(true)
      finally release()
    }

  private def fetchedSplitImpl(cheap: DataFrame, full: DataFrame,
                               queries: DataFrame, p: Params,
                               perQidHc: Boolean): DataFrame = {
    import RefineKernel.{Cand, RescorePass, SeedPass, SurvivorPass}
    import org.apache.spark.sql.graft.KernelPlan
    val spark = cheap.sparkSession
    import spark.implicits._
    val qs = RefineKernel.passQueries(queries, p, perQidHc)
    val vSel = full.select(col("id"), col("vec"))

    // 1. seeds: each partition's k best per query, merged on the driver
    val seedIds = RefineKernel.mergeSeeds(
      KernelPlan.blockPass(cheap, SeedPass(p, qs)).as[Cand].collect().toSeq,
      p.k, p.isCos)

    // 2. tau0: the seeds' full-precision scores, read through id IN (seeds)
    val rescore = RescorePass(p, qs)
    val seeds = rescoreSeeds(vSel, seedIds, rescore)
    val byQid = seeds.groupBy(_._1)
    val live = qs.filter(q => byQid.contains(q.qid))

    // 3. survivors: the non-seed rows whose cushion can still reach tau0,
    // persisted (kept distributed) and counted to size the fetch join
    val survivors = Dedup.persistScoped(KernelPlan.blockPass(cheap,
      SurvivorPass(p, live,
        live.map(q => RefineKernel.tau0(p.isCos, byQid(q.qid).map(_._3))),
        live.map(q => byQid(q.qid).map(_._2).sorted.toArray))))
    val nSurvivors = survivors.queryExecution.toRdd.count()

    // 4. fetch: survivors as the build side, the full table streamed
    val build =
      if (KernelPlan.fitsBroadcast(nSurvivors)) broadcast(survivors)
      else survivors.hint("shuffle_hash")
    val fetchedSurvivors = KernelPlan.blockPass(
        vSel.join(build, Seq("id")), rescore, "s_full")
      .withColumn("rn", lit(p.k + 1))   // any value > k: "not a seed"
    seeds.toDF("qid", "id", "s_full", "rn").unionByName(fetchedSurvivors)
  }

  /** The seeds (qid, id, rn) rescored at full precision, their vectors
    * read off `full` (id, vec) through an `id IN (seeds)` filter — one
    * bounded collect: (qid, id, s_full, rn). */
  private[graft] def rescoreSeeds(full: DataFrame,
                                  seedIds: Seq[(Long, Long, Int)],
                                  rescore: RefineKernel.RescorePass)
      : Seq[(Long, Long, Double, Int)] = {
    val spark = full.sparkSession
    import spark.implicits._
    val seedVecs: Map[Long, Array[Float]] =
      if (seedIds.isEmpty) Map.empty
      else full.filter(col("id").isInCollection(seedIds.map(_._2).distinct))
        .as[(Long, Array[Float])].collect().toMap
    seedIds.flatMap { case (qid, id, rn) =>
      seedVecs.get(id).map(v => (qid, id, rescore.score(qid, v), rn)) }
  }

  /** Final refined top-K: (qid, rank, id, score). Equals exact top-K for
    * the zero-miss modes (cos_l1, cos_l2, l2_sym, l2_tz). See
    * [[fetched]] for the cache-release requirement on callers. */
  def topk(vectors: DataFrame, queries: DataFrame, p: Params): DataFrame =
    TopK.window(
      fetched(vectors, queries, p).withColumnRenamed("s_full", "score"),
      p.k, ascending = !p.isCos)

  /** [[topk]] over split cheap/full relations (disaggregated storage). */
  def topkSplit(cheap: DataFrame, full: DataFrame, queries: DataFrame,
                p: Params): DataFrame =
    TopK.window(
      fetchedSplit(cheap, full, queries, p).withColumnRenamed("s_full", "score"),
      p.k, ascending = !p.isCos)

  /** Exact (brute-force) top-K at full precision — the self-oracle
    * (`ANNCode.py:264-281`). */
  def exactTopK(vectors: DataFrame, queries: DataFrame, p: Params): DataFrame = {
    val q = broadcast(
      queries.select(col("qid"), col("qvec"), norm2Sq(col("qvec")).as("nq2")))
    // per-vector norm hoisted out of the cross join (computed once per
    // row, not once per (row, query) pair)
    val scored = vectors
      .select(col("id"), col("vec"), norm2Sq(col("vec")).as("nx2"))
      .crossJoin(q)
      .withColumn("score",
        if (p.isCos)
          dot(col("vec"), col("qvec")) / (fnorm(col("nx2")) * fnorm(col("nq2")))
        else l2DistSq(col("qvec"), col("vec")))
    TopK.window(scored, p.k, ascending = !p.isCos)
  }

  /**
   * Accounting (`ANNCode.py:316-318, 364-369`): one row
   * (mode, m_keep, delta, recall, save, fpr).
   *  - bytes: full = 16 D / 8 per vec; reduced = bitsRed D / 8
   *  - save  = 1 - (b_red N Q + b_full fetched) / (b_full N Q)
   *  - fpr   = (fetched - K Q) / (N Q)   [final topk is always a subset
   *    of fetched, so unnecessary = fetched - K per query]
   *  - recall vs exact top-K, summed as integer hits / (K Q)
   */
  /** `redBytesOverride`: measured compressed bytes/vec (from
    * [[BitplaneCompress.measure]]) replacing the naive bit-count model —
    * the reference's `red_bytes_override` (ANNCode.py:317-318, 831-833). */
  def metrics(vectors: DataFrame, queries: DataFrame, p: Params, d: Int,
              groundTruth: Option[DataFrame] = None,
              redBytesOverride: Option[Double] = None): DataFrame =
    metricsModes(vectors, queries, Seq(p), d,
      groundTruth.map(g => Map(p.isCos -> g)).getOrElse(Map.empty),
      redBytesOverride)

  /**
   * [[metrics]] for several param sets over the same vectors/queries — a
   * mode sweep over both metric families, or a Hoeffding delta grid — in
   * `ps` order, one row per param. Each param runs [[fetchedSplit]] (the
   * block passes that serve queries) and the param-tagged fetch sets are
   * counted by ONE aggregate: `fetched` is a param's row count, and
   * `hits` counts its rows that rank within the top k of their
   * (param, qid) — by s_full in the family's order, ties to the smaller
   * id, as [[topk]] ranks — and are in the family's ground truth.
   * `groundTruths` maps a family (isCos) to its exact top-K; a family
   * without one gets [[exactTopK]]. The survivor sets live under an
   * internal [[Dedup.scopedRelease]] that is released before the
   * driver-built rows are returned.
   */
  def metricsModes(vectors: DataFrame, queries: DataFrame, ps: Seq[Params],
                   d: Int, groundTruths: Map[Boolean, DataFrame] = Map.empty,
                   redBytesOverride: Option[Double] = None): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val k = ps.head.k
    require(ps.forall(_.k == k), "metricsModes params must share k")
    val gts = ps.map(_.isCos).distinct.map { f =>
      groundTruths.getOrElse(f, exactTopK(vectors, queries, ps.find(_.isCos == f).get))
        .select(lit(f).as("fam"), col("qid"), col("id"), lit(true).as("hit"))
    }.reduce(_ unionByName _)
    val nQ = queries.count()
    val nV = vectors.count()

    val (counts, release) = Dedup.scopedRelease {
      val fetched = ps.zipWithIndex.map { case (p, i) =>
        fetchedSplit(cheapSide(vectors, p), vectors, queries, p)
          .select(lit(i).as("mi"), lit(p.isCos).as("fam"), col("qid"),
            col("id"), col("s_full"))
      }.reduce(_ unionByName _)
      // a (mi, qid) partition holds one family: the other family's key
      // is null throughout it, so cos ranks by s_full desc, l2 asc
      val w = Window.partitionBy(col("mi"), col("qid")).orderBy(
        when(col("fam"), col("s_full")).desc,
        when(!col("fam"), col("s_full")).asc, col("id").asc)
      fetched.withColumn("rn", row_number().over(w))
        .join(broadcast(gts), Seq("fam", "qid", "id"), "left")
        .groupBy(col("mi"))
        .agg(count(lit(1)),
          sum(when(col("rn") <= k && col("hit"), 1L).otherwise(0L)))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    release()

    ps.zipWithIndex.map { case (p, i) =>
      val (nFetched, hits) = counts.getOrElse(i, (0L, 0L))
      val bFull = 16.0 * d / 8.0
      val bRed  = redBytesOverride.getOrElse(p.bitsRed * d / 8.0)
      val total = bRed * nV * nQ + bFull * nFetched
      val save  = 1.0 - total / (bFull * nV * nQ)
      val fpr   = (nFetched - k.toLong * nQ).toDouble / (nV.toDouble * nQ)
      val recall = hits.toDouble / (k.toLong * nQ)
      (p.mode, p.keepM, p.delta, recall, save, fpr)
    }.toDF("mode", "m_keep", "delta", "recall", "save", "fpr")
  }
}
