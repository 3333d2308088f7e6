package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VecExprs
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
 * bit-identical to the column-expression forms used by [[metricsModes]].
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

  /** Cushion expression for one param set; expects the candidate-pair
    * columns (qvec, nq2, rvec, delta[, bb], s_hat) in scope. Fused codegen
    * folds (VecExprs) — numerically identical to the HOF forms (same fold
    * order / per-element trees). */
  private[graft] def cushionExpr(p: Params,
                          hcOverride: Option[Column] = None,
                          sHat: Column = col("s_hat")): Column = p.mode match {
    case "cos_hoeff" =>
      hcOverride.getOrElse(lit(p.hoeffConst)) *
        sqrt(VecExprs.hoeffSum(col("qvec"), col("delta"))) / fnorm(col("nq2"))
    case "cos_l1" =>
      lit(p.alpha) * VecExprs.absDot(col("qvec"), col("delta")) / fnorm(col("nq2"))
    case "cos_l2" =>
      lit(p.alpha) * col("bb")
    case "l2_sym" =>
      VecExprs.lbSymE(col("qvec"), col("rvec"), col("delta"))
    case "l2_tz" =>
      VecExprs.lbTzE(col("qvec"), col("rvec"), col("delta"))
    case "l2_hoeff" =>
      sHat - lit(2.0 * p.hoeffConst) *
        sqrt(VecExprs.hoeffDiffSum(col("qvec"), col("rvec"), col("delta")))
  }

  /**
   * The reduced pass of the accounting fan-out ([[metricsModes]]) over
   * BOTH metric families at once: per-(qid,id) rows (qid, id,
   * [s_hat_c], [s_hat_l], cush_0..cush_{n-1}) off one broadcast cross
   * join — the cos and l2 reduced scores ride the same pass instead of
   * one full N*Q pass per family (guide §2.3: the pass is the dominant
   * scan; extra columns are near-free next to a second scan). The column
   * trees are the ones [[RefineKernel.Scores]] evaluates in the block
   * passes. vpre: (id, rvec, delta, nr2[, bb]); queries: (qid, qvec).
   */
  private def candidatesMixed(vpre: DataFrame, queries: DataFrame,
                              ps: Seq[Params]): DataFrame = {
    val hasCos = ps.exists(_.isCos)
    val hasL2 = ps.exists(!_.isCos)
    val q = broadcast(queries.select(col("qid"), col("qvec"),
      norm2Sq(col("qvec")).as("nq2")))
    val pairs = vpre.crossJoin(q)
    val sHatC = dot(col("rvec"), col("qvec")) /
      (fnorm(col("nr2")) * fnorm(col("nq2")))
    val sHatL = l2DistSq(col("qvec"), col("rvec"))
    val sCols = (if (hasCos) Seq(sHatC.as("s_hat_c")) else Nil) ++
      (if (hasL2) Seq(sHatL.as("s_hat_l")) else Nil)
    val cushions = ps.zipWithIndex.map { case (p, i) =>
      cushionExpr(p, None, sHat = sHatL).as(s"cush_$i") }
    pairs.select(Seq(col("qid"), col("id")) ++ sCols ++ cushions: _*)
  }

  /**
   * Phase 2 seed selection: the top-K candidate ids per query by reduced
   * score — (qid, id, s_hat, rn<=k). The rank filter makes Catalyst plan
   * a map-side WindowGroupLimit (only ~k rows per (partition, qid) cross
   * the exchange), so the N*Q candidate relation is never fully sorted —
   * the argpartition analogue (`ANNCode.py:339`), and the reason this
   * shape survives a 100x corpus where a full per-query ranking dies.
   */
  private[graft] def seedSelect(cand: DataFrame, k: Int, isCos: Boolean): DataFrame = {
    val ord = if (isCos) Seq(col("s_hat").desc, col("id").asc)
              else Seq(col("s_hat").asc, col("id").asc)
    val w = Window.partitionBy(col("qid")).orderBy(ord: _*)
    cand.select(col("qid"), col("id"), col("s_hat"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Full-precision score for rescoring (cos: unit-space ratio; l2: distance). */
  private[graft] def fullScore(p: Params): Column =
    if (p.isCos)
      dot(col("vec"), col("qvec")) / (fnorm(norm2Sq(col("vec"))) * fnorm(col("nq2")))
    else l2DistSq(col("qvec"), col("vec"))

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
   * of the disaggregated layout, so this SELECT is the union-of-tiers
   * pruned scan, the column-pruning analogue of the filtered-multi
   * rung's union-of-langs partition pruning. ONE candidate pass serves
   * every tier: each qid's s_hat and Δ-cushion pick their tier's
   * columns via a CASE over the broadcast relation; seeds (a
   * group-limited window), tau0, survivor rejection, and the
   * full-precision rescore follow [[fetchedSplit]]'s static-tau0
   * semantics as relational joins. Zero-miss mode only (cos_l1:
   * the cushion is a true error bound at ANY tier), so per-qid recall
   * is provably 1.0 at every tier — what makes the per-tier `bytes`
   * column a pure bandwidth trade, not a recall trade.
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
    import org.apache.spark.storage.StorageLevel
    require(p.mode == "cos_l1",
      "per-qid m_keep rides the zero-miss cos_l1 cushion")
    require(mkeeps.nonEmpty, "perQidMkeepMetrics: empty tier relation")
    val spark = cheap.sparkSession
    import spark.implicits._
    val ms = mkeeps.map(_._2).distinct.sorted
    val bFull = 16.0 * d / 8.0
    // the tier relation with each tier's modeled reduced bytes/vec
    // (sign + kept exponent + kept mantissa bits, Params.bitsRed) —
    // bounded, broadcast
    val mkRel = broadcast(mkeeps.map { case (qid, m) =>
      (qid, m, (1 + p.keepE + m) * d / 8.0) }.toDF("qid", "m", "b_red"))
    val vpre2 = cheap.select(
      Seq(col("id")) ++ ms.flatMap(m =>
        Seq(col(s"rvec_$m"), col(s"delta_$m"),
          norm2Sq(col(s"rvec_$m")).as(s"nr2_$m"))): _*)
    val qSel = broadcast(queries.select(col("qid"), col("qvec"),
      norm2Sq(col("qvec")).as("nq2")))
    val q = broadcast(qSel.join(mkRel.select(col("qid"), col("m")),
      Seq("qid")))
    def byTier(f: Int => Column): Column =
      ms.foldRight(lit(null).cast("double")) { (m, rest) =>
        when(col("m") === m, f(m)).otherwise(rest) }
    // same expression trees as candidatesMixed/cushionExpr, with the
    // tier's columns substituted — the oracle mirrors them per tier
    val sHat = byTier(m => dot(col(s"rvec_$m"), col("qvec")) /
      (fnorm(col(s"nr2_$m")) * fnorm(col("nq2"))))
    val cush = byTier(m => lit(p.alpha) *
      VecExprs.absDot(col("qvec"), col(s"delta_$m")) / fnorm(col("nq2")))
    val cand = vpre2.crossJoin(q)
      .select(col("qid"), col("id"), sHat.as("s_hat"), cush.as("cush"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val vSel = full.select(col("id"), col("vec"))
    // eager Q*k barrier: the rescored seeds feed multiple branches —
    // without materialization the concurrent consumers re-run the whole
    // candidate pass per branch. One barrier suffices (r19): the seed-id
    // window runs once inside the probe's broadcast build; tau0 and the
    // exclusion read the persisted seeds (same (qid,id) set — cheap and
    // full are column subsets of one table).
    def eager(df: DataFrame): DataFrame = {
      val mat = df.persist(StorageLevel.MEMORY_AND_DISK)
      mat.count(); mat
    }
    val seeds = eager(
      vSel.join(broadcast(seedSelect(cand, p.k, isCos = true)), Seq("id"))
        .join(qSel, Seq("qid"))
        .withColumn("s_full", fullScore(p))
        .select(col("qid"), col("id"), col("s_full"), col("rn")))
    val tau0 = broadcast(
      seeds.groupBy(col("qid")).agg(min(col("s_full")).as("tau0")))
    val survivorIds = cand
      .join(broadcast(seeds.select(col("qid"), col("id"))),
        Seq("qid", "id"), "left_anti")
      .join(tau0, Seq("qid"))
      .filter(col("s_hat") + col("cush") >= col("tau0"))
      .select(col("qid"), col("id"))
    // no broadcast hint on the survivor fetch (the fetchedSplit
    // rationale): a coarse tier's cushion can swell survivors toward
    // N·Q — AQE sizes the join at runtime
    val survivors = vSel.join(survivorIds, Seq("id"))
      .join(qSel, Seq("qid"))
      .withColumn("s_full", fullScore(p))
    val fetch = seeds.unionByName(
        survivors.select(col("qid"), col("id"), col("s_full"),
          lit(p.k + 1).as("rn")))
      .persist(StorageLevel.MEMORY_AND_DISK)

    try {
      fetch.count()
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
        // don't re-run the pipeline after the persists are released
        .localCheckpoint(true)
    } finally {
      fetch.unpersist(blocking = false)
      seeds.unpersist(blocking = false)
      cand.unpersist(blocking = false)
    }
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
      KernelPlan.blockPass(cheap, SeedPass(p, qs)).as[Cand].collect().toSeq, p)

    // 2. tau0: the seeds' full-precision scores, read through id IN (seeds)
    val rescore = RescorePass(p, qs)
    val seedVecs: Map[Long, Array[Float]] =
      if (seedIds.isEmpty) Map.empty
      else vSel.filter(col("id").isInCollection(seedIds.map(_._2).distinct))
        .as[(Long, Array[Float])].collect().toMap
    val seeds = seedIds.flatMap { case (qid, id, rn) =>
      seedVecs.get(id).map(v => (qid, id, rescore.score(qid, v), rn)) }
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
    metricsFamily(vectors, queries, Seq(p), d, groundTruth, redBytesOverride)

  /**
   * [[metrics]] for several param sets of ONE metric family over the same
   * vectors/queries (a mode sweep, or a Hoeffding delta grid). The reduced
   * pass, the per-query window rank, the seed rescoring, and tau0 are all
   * mode-invariant within a family, so they are computed ONCE and shared;
   * only the per-param cushion filter, survivor fetch, and accounting
   * differ. Row values are identical to per-param [[metrics]] calls (same
   * expression trees); output rows follow `ps` order semantics (one row
   * per param).
   */
  def metricsFamily(vectors: DataFrame, queries: DataFrame, ps: Seq[Params],
                    d: Int, groundTruth: Option[DataFrame] = None,
                    redBytesOverride: Option[Double] = None): DataFrame = {
    val isCos = ps.head.isCos
    require(ps.forall(p => p.isCos == isCos),
      "metricsFamily params must share a metric family")
    metricsModes(vectors, queries, ps, d,
      groundTruth.map(g => Map(isCos -> g)).getOrElse(Map.empty),
      redBytesOverride)
  }

  /**
   * [[metricsFamily]] generalized over a MIXED param set (both metric
   * families at once) with the whole accounting fan-out fused into a
   * fixed number of Spark actions — the r18-verdict driver-bound fix:
   * at bench SF the data is small and per-query cost is dominated by
   * job count (planning + codegen + scheduling), so the former
   * per-mode `f.count()` + `hits.count()` pairs (12 jobs for the
   * six-mode sweep) collapse into ONE fetched aggregate and ONE
   * ranked-hits aggregate, and the two families share a single reduced
   * pass ([[candidatesMixed]]), a single seed probe of the full table,
   * and a single survivor rescore stream. Every count and score is the
   * identical expression tree / identical row set as the per-family
   * form, so the output rows are value-identical (oracle-proven).
   *
   * Actions: seed probe (1), survivor superset (1), nQ + nV (2, tiny
   * cached fixtures), fetched sums (1), seed counts (1), ranked hits
   * (1) — 7 total, independent of |ps|, vs 8 + 2|ps| per family before.
   */
  def metricsModes(vectors: DataFrame, queries: DataFrame, ps: Seq[Params],
                   d: Int, groundTruths: Map[Boolean, DataFrame] = Map.empty,
                   redBytesOverride: Option[Double] = None): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = vectors.sparkSession
    val k = ps.head.k
    require(ps.forall(_.k == k), "metricsModes params must share k")
    val fams = Seq(true, false).filter(f => ps.exists(_.isCos == f))

    // cos_l2's cheap side carries the extra query-free `bb` stat; the
    // extra column is inert for the other modes' expressions
    val vpre = cheapSide(vectors, ps.find(_.mode == "cos_l2").getOrElse(ps.head))
    // the candidate pass is a pure map-side projection off the (cached)
    // fixture: the N*Q relation is never fully ranked, shuffled, or
    // persisted (at 100 TB x Q it is not storable). Its two consumers
    // (the seed windows, the survivor filter) each stream it map-side;
    // recomputing the D-bounded folds twice is cheaper than
    // materializing N*Q rows once (measured: see OPTIMIZATION_r19.md).
    val cand = candidatesMixed(vpre, queries, ps)

    val vSel = vectors.select(col("id"), col("vec"))
    val qSel = broadcast(queries.select(col("qid"), col("qvec"),
      norm2Sq(col("qvec")).as("nq2")))

    def sHatOf(isCos: Boolean): Column =
      if (isCos) col("s_hat_c") else col("s_hat_l")
    // per-family seed ids off the shared candidate pass (two map-side
    // group-limited windows over one pass instead of one window over
    // each family's own full reduced pass)
    def seedIdsOf(isCos: Boolean): DataFrame =
      seedSelect(cand.select(col("qid"), col("id"),
        sHatOf(isCos).as("s_hat")), k, isCos)
    // ONE full-table probe rescores both families' seeds: a seed row
    // carries its family tag and gets its family's exact full-precision
    // score (same expression trees as the per-family fullScore forms)
    val seedIdsTagged = fams.map(f => seedIdsOf(f)
        .select(col("qid"), col("id"), lit(f).as("fam")))
      .reduce(_ unionByName _)
    val sFullC = dot(col("vec"), col("qvec")) /
      (fnorm(norm2Sq(col("vec"))) * fnorm(col("nq2")))
    val sFullL = l2DistSq(col("qvec"), col("vec"))
    val seeds = vSel.join(broadcast(seedIdsTagged), Seq("id"))
      .join(qSel, Seq("qid"))
      .withColumn("s_full", when(col("fam"), sFullC).otherwise(sFullL))
      .select(col("qid"), col("id"), col("fam"), col("s_full"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def tau0Of(isCos: Boolean): DataFrame = broadcast(
      seeds.filter(col("fam") === isCos).groupBy(col("qid")).agg(
        (if (isCos) min(col("s_full")) else max(col("s_full")))
          .as(s"tau0_$isCos")))

    // survivor superset for ALL modes of BOTH families in one candidate
    // scan: each param contributes a boolean column; a row rides along
    // if any param keeps it. Seed exclusion is a per-family broadcast
    // membership flag (the left_anti of the per-family form, expressed
    // so both families share the scan), read off the PERSISTED seeds —
    // same (qid,id) set as the seed-id window, without recomputing the
    // window inside this branch's broadcast build.
    val withSeedFlags = fams.foldLeft(cand) { (df, f) =>
      df.join(broadcast(seeds.filter(col("fam") === f)
        .select(col("qid"), col("id"), lit(true).as(s"is_seed_$f"))),
        Seq("qid", "id"), "left")
    }
    val withTau = fams.foldLeft(withSeedFlags) { (df, f) =>
      df.join(tau0Of(f), Seq("qid"))
    }
    val flags = ps.zipWithIndex.map { case (p, i) =>
      val pass =
        if (p.isCos) col("s_hat_c") + col(s"cush_$i") >= col("tau0_true")
        else col(s"cush_$i") <= col("tau0_false")
      (not(coalesce(col(s"is_seed_${p.isCos}"), lit(false))) && pass)
        .as(s"f_$i")
    }
    val survivorIds = withTau
      .select(col("qid") +: col("id") +: flags: _*)
      .filter(ps.indices.map(i => col(s"f_$i")).reduce(_ || _))
    // no broadcast hint: a lax Hoeffding delta in the param set can make
    // the superset approach N*Q rows — AQE picks broadcast only when the
    // runtime size allows it
    val sFullCols = fams.map(f =>
      (if (f) sFullC else sFullL).as(s"s_full_$f"))
    val survivorsAll = vSel.join(survivorIds, Seq("id"))
      .join(qSel, Seq("qid"))
      .select(Seq(col("qid"), col("id")) ++ sFullCols ++
        ps.indices.map(i => col(s"f_$i")): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // ground truths per needed family: provided (session-shared) or the
    // per-family exact pass, persisted only when >1 param reuses it
    val gtOwned = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val gts = fams.map { f =>
      f -> groundTruths.getOrElse(f, {
        val famPs = ps.filter(_.isCos == f)
        val g = exactTopK(vectors, queries, famPs.head)
        if (famPs.length > 1) {
          val c = g.persist(StorageLevel.MEMORY_AND_DISK); c.count()
          gtOwned += c; c
        } else g
      })
    }.toMap

    try {
      // materialize the shared persisted relations BEFORE the accounting
      // aggregates: seeds first (its probe job runs the candidate pass
      // for the seed windows), then the survivor superset
      seeds.count()
      survivorsAll.count()

      val nQ = queries.count()
      val nV = vectors.count()

      // fetched_i = |seeds of family_i| + |survivors flagged i| — the
      // exact row count of the former per-mode union — via ONE seed
      // count job and ONE flag-sum aggregate over the superset
      val seedCounts = seeds.groupBy(col("fam")).count().collect()
        .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
      val survRow = survivorsAll.agg(
        count(lit(1)).as("n_all"),
        ps.indices.map(i =>
          sum(col(s"f_$i").cast("long")).as(s"n_$i")): _*).collect()(0)
      val nSurv = ps.indices.map(i =>
        if (survRow.isNullAt(i + 1)) 0L else survRow.getLong(i + 1))

      // hits_i via ONE ranked aggregate: per-mode fetch sets are tagged
      // (mi), ranked within (mi, qid) by the family's order — identical
      // membership and tie-break to the former per-mode TopK.window —
      // joined once against the per-family ground truths
      val perMode = ps.zipWithIndex.map { case (p, i) =>
        seeds.filter(col("fam") === p.isCos)
          .select(lit(i).as("mi"), col("qid"), col("id"), col("s_full"))
          .unionByName(survivorsAll.filter(col(s"f_$i"))
            .select(lit(i).as("mi"), col("qid"), col("id"),
              col(s"s_full_${p.isCos}").as("s_full")))
      }
      val u = perMode.reduce(_ unionByName _)
      def ranked(isCos: Boolean): Option[DataFrame] = {
        val mis = ps.zipWithIndex.filter(_._1.isCos == isCos).map(_._2)
        if (mis.isEmpty) None else {
          val ord = if (isCos) Seq(col("s_full").desc, col("id").asc)
                    else Seq(col("s_full").asc, col("id").asc)
          val w = Window.partitionBy(col("mi"), col("qid")).orderBy(ord: _*)
          Some(u.filter(col("mi").isin(mis: _*))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= k)
            .join(gts(isCos).select(col("qid"), col("id")), Seq("qid", "id")))
        }
      }
      val hitCounts = fams.flatMap(ranked).reduce(_ unionByName _)
        .groupBy(col("mi")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap

      val rows = ps.zipWithIndex.map { case (p, i) =>
        val nFetched = seedCounts.getOrElse(p.isCos, 0L) + nSurv(i)
        val hits = hitCounts.getOrElse(i, 0L)
        val bFull = 16.0 * d / 8.0
        val bRed  = redBytesOverride.getOrElse(p.bitsRed * d / 8.0)
        val total = bRed * nV * nQ + bFull * nFetched
        val save  = 1.0 - total / (bFull * nV * nQ)
        val fpr   = (nFetched - k.toLong * nQ).toDouble / (nV.toDouble * nQ)
        val recall = hits.toDouble / (k.toLong * nQ)
        (p.mode, p.keepM, p.delta, recall, save, fpr)
      }

      import spark.implicits._
      rows.toDF("mode", "m_keep", "delta", "recall", "save", "fpr")
    } finally {
      seeds.unpersist(blocking = false)
      survivorsAll.unpersist(blocking = false)
      gtOwned.foreach(_.unpersist(blocking = false))
    }
  }
}
