package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorOps._
import graft.operators.{TopK, Refine, RefineKernel, Dedup, TextOps, Ann}
import graft.oracle.{OracleGen, RefineOracle, DocOracle, EmbOracle, MiscOracle, IvfOracle, SearchOracle, PqOracle, LadderOracle}
import graft.streaming.StreamOps.ServePhase
import graft.operators.Search.TierSnapshot

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  // fixture parameters shared by Spark queries and oracle SQL
  final val D  = 8    // vector dims for lineitem-derived fixtures
  final val NQ = 10   // query rows
  final val K  = 10   // top-k
  final val KeepM = 6 // kept mantissa bits (reference CLI default)

  /** lcm(1..K): every reciprocal rank 1/r (r <= K) becomes the exact
    * integer MrrScale div r, so reciprocal-rank sums are plain integer
    * aggregation — order-invariant, hash-identical across engines — and
    * the floating division happens exactly once on the final row. */
  final val MrrScale: Long = {
    @annotation.tailrec
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    (1L to K.toLong).foldLeft(1L)((l, r) => l / gcd(l, r) * r)
  }
  final val ReduceMaxId = 500L

  def refineParams(mode: String): Refine.Params =
    Refine.Params(mode, k = K, keepM = KeepM, keepE = 5, delta = 0.7, alpha = 1.0)

  /** Int8 scalar-quantization rung: dequantization scale 2^4 (fixture
    * |v| < 4 -> codes |k| <= 64). See Fixture.int8Vectors. */
  final val Int8ScaleLog2 = 4

  /** Two-phase refine over the int8-quantized cheap copy: the cos_l1
    * cushion algebra runs unchanged with rvec = dequantized codes and
    * delta = the constant half-step bound — quantization is just another
    * rung of the precision-on-demand ladder. RefineSpec asserts the
    * zero-miss property empirically (refined == brute-force top-K). */
  def qRefineInt8(spark: SparkSession, dir: String): DataFrame = {
    val v8 = Fixture.int8Vectors(
      Fixture.fp16VectorsCached(spark, dir, D, KeepM), Int8ScaleLog2)
    val q = Fixture.queries(v8, NQ).select(col("qid"), col("qvec"))
    Refine.topk(v8, q, refineParams("cos_l1"))
  }

  /** Int8 rung bytes/vec: 8-bit codes, D components. */
  final val Int8RedBytes: Double = D * 1.0

  /** The int8 rung AT REST: codes live as a real ARRAY<TINYINT> parquet
    * column (1 byte/component on disk), the cheap pass scans only
    * (id, code) — PlanSpec asserts the pruning — and the result is
    * hash-equal to the in-memory [[qRefineInt8]], sharing its oracle. */
  def qRefineInt8AtRest(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.Disaggregated
      .ensureInt8Fixture(spark, dir, D, Int8ScaleLog2)
    val q = Fixture.queries(spark.read.parquet(path), NQ)
      .select(col("qid"), col("qvec"))
    graft.sources.Disaggregated.refineInt8TopK(spark, path, q,
      refineParams("cos_l1"), Int8ScaleLog2)
  }

  /** Bandwidth accounting for the int8 rung: the naive fp16-bit model is
    * replaced by the rung's own 1-byte-per-component cost (the same
    * red_bytes_override composition the measured-compression query uses).
    * Ground truth is the session GT cache — the exact pass scores full
    * `vec`, which quantization does not touch. */
  def qRefineMetricsInt8(spark: SparkSession, dir: String): DataFrame = {
    val v8 = Fixture.int8Vectors(
      Fixture.fp16VectorsCached(spark, dir, D, KeepM), Int8ScaleLog2)
    val q = Fixture.queries(v8, NQ).select(col("qid"), col("qvec"))
    Refine.metrics(v8, q, refineParams("cos_l1"), D,
      groundTruth = Some(exactGroundTruths(spark, dir)(true)),
      redBytesOverride = Some(Int8RedBytes))
  }

  /** Refined top-K for one of the six modes (static-tau0 semantics). */
  def qRefine(spark: SparkSession, dir: String, mode: String): DataFrame = {
    val v = Fixture.fp16VectorsCached(spark, dir, D, KeepM)
    val q = Fixture.queries(v, NQ).select(col("qid"), col("qvec"))
    Refine.topk(v, q, refineParams(mode))
  }

  /** Exact-semantics sequential kernel (running tau, mapPartitions).
    * For zero-miss modes the result equals the relational refine top-K,
    * so it shares the same value-matched oracle. */
  def qRefineKernel(spark: SparkSession, dir: String, mode: String): DataFrame = {
    val v = Fixture.fp16VectorsCached(spark, dir, D, KeepM)
    val q = Fixture.queries(v, NQ).select(col("qid"), col("qvec"))
    RefineKernel.topk(v, q, refineParams(mode))
  }

  /**
   * Refined top-K over the materialized disaggregated layout (paper §3.3,
   * reference ANNCode.py:307-370): the fixture is written once per sf-dir
   * as separate parquet columns; the cheap pass physically reads only the
   * (id, rvec, delta) column chunks and the rescore fetch only (id, vec).
   * Hash-equal to the in-memory q_refine_<mode> twin.
   */
  def qRefineDisagg(spark: SparkSession, dir: String, mode: String): DataFrame = {
    val path = graft.sources.Disaggregated.ensureFixture(spark, dir, D, KeepM)
    val stored = spark.read.parquet(path)
    val q = Fixture.queries(stored.select(col("id"), col("vec")), NQ)
      .select(col("qid"), col("qvec"))
    graft.sources.Disaggregated.refineTopK(spark, path, q, refineParams(mode))
  }

  /** Realistic vector width for the graded surface (reference demo
    * default, ANNCode.py:817; evaluation D=128-3072, README.md:40-42).
    * Everything else on the oracle surface runs at D=8 — these queries
    * prove the per-dimension machinery (fixture CASE-tree synthesis,
    * codegen folds, cushion arithmetic) at the width the reference
    * actually evaluates. The fp16-exact fixture stays bit-reproducible
    * at D=128: each pairwise product carries <= 24 significant bits and
    * the 128-term sums span < 53 bits, so scores still hash-match the
    * DuckDB oracle exactly. */
  final val D128 = 128

  /** The D=128 queries run on the deterministic `id % D128KeyMod == 0`
    * slice: realistic WIDTH is what these queries prove (the per-
    * dimension machinery — synthesis trees, codegen folds, cushion
    * arithmetic), and a 16x-wider fixture would otherwise dominate the
    * bench wall with redundant volume already covered by the D=8 suite.
    * The slice is still ~18x the reference's own demo corpus (N=2000,
    * ANNCode.py:816-819) at sf0.1. The oracle restricts its key CTE
    * identically. */
  final val D128KeyMod = 16

  private def fix128(s: SparkSession, dir: String): DataFrame =
    Fixture.fp16VectorsModCached(s, dir, D128, KeepM, D128KeyMod)

  /** MS MARCO-class width on the ORACLE surface: the reference's largest
    * evaluated embedding width is D=3072 and its mid tier D=1024
    * (README.md:40-42, paper Table 3); tests prove both widths
    * (GaussianSpec), but until round 8 the driver's hash-matched gate
    * topped out at D=128. This query runs the relational refine at
    * D=1024 on a tiny deterministic slice — width is what it proves, so
    * N stays small (~300 rows at sf0.01, ~3k at sf0.1) and the fixture
    * synthesis (3x1024 CASE trees) is parquet-materialized once like the
    * D=128 fixtures. The fp16-exact domain stays bit-reproducible at
    * this width: pairwise products carry <= 24 significant bits with
    * magnitude <= 16, so 1024-term sums span < 40 bits — exact in
    * DOUBLE, hash-matched against DuckDB. */
  final val D1024 = 1024
  final val D1024KeyMod = 128

  private def fix1024(s: SparkSession, dir: String): DataFrame =
    Fixture.fp16VectorsModCached(s, dir, D1024, KeepM, D1024KeyMod)

  /** Relational refine at D=1024 — cos_l2 (same worst codegen path as
    * [[qRefineD128]]: the bb stat dots vec against rvec on top of the
    * synthesis trees). */
  def qRefineD1024(s: SparkSession, dir: String): DataFrame = {
    val v = fix1024(s, dir)
    val q = Fixture.queries(v, NQ).select(col("qid"), col("qvec"))
    Refine.topk(v, q, refineParams("cos_l2"))
  }

  /** The reference's LARGEST evaluated width (D=3072, README.md:40-42,
    * paper Table 3) on the hash-matched oracle surface. Same discipline
    * as [[qRefineD1024]]: width is what this row proves, so the key mod
    * keeps N tiny (~75 rows at sf0.01, ~750 at sf0.1). Exactness holds a
    * fortiori: 3072-term sums of <= 24-significant-bit products span
    * well under DOUBLE's 53 bits, and GaussianSpec proves zero-miss
    * refine + compiled (non-Janino-fallback) codegen at this width. */
  final val D3072 = 3072
  final val D3072KeyMod = 512

  private def fix3072(s: SparkSession, dir: String): DataFrame =
    Fixture.fp16VectorsModCached(s, dir, D3072, KeepM, D3072KeyMod)

  /** The ZERO-MISS width rung at the reference's MS MARCO-class width
    * (D=1024, prefix 768): proves the Cauchy-Schwarz tail-cushion
    * algebra holds where the slice/fold trees get wide — 768- and
    * 256-term dot folds on the cheap side, 1024-term rescores. Same
    * tiny-N slicing as [[qRefineD1024]], and the same oracle: zero-miss
    * refine at any axis equals the exact top-k of the slice, so the
    * cos_l2 refine oracle (itself zero-miss) serves both queries. */
  def qRefinePrefixD1024(s: SparkSession, dir: String): DataFrame = {
    val e = fix1024(s, dir).select(col("id").as("vec_id"),
      col("vec").as("embedding"), lit(0).as("label"))
    graft.operators.Ann.prefixRefineTopK(e, NQ, K, D1024, 3 * D1024 / 4)
  }

  /** Relational refine at D=3072 — cos_l2, the worst codegen path. */
  def qRefineD3072(s: SparkSession, dir: String): DataFrame = {
    val v = fix3072(s, dir)
    val q = Fixture.queries(v, NQ).select(col("qid"), col("qvec"))
    Refine.topk(v, q, refineParams("cos_l2"))
  }

  /** Binary quantization at REALISTIC width (D=128, two 64-bit sign
    * words): the reference's evaluated widths all exceed one word, so
    * [[graft.operators.Bq.topkWide]] sums per-word popcounts — still
    * exact integer Hamming, still 1 bit/dim at rest. Runs on the same
    * D=128 fixture slice as [[qRefineD128]]. */
  def qAnnBqWide(s: SparkSession, dir: String): DataFrame = {
    val v = fix128(s, dir)
    val q = Fixture.queries(v, NQ).select(col("qid"), col("qvec"))
    graft.operators.Bq.topkWide(v.select(col("id"), col("vec")), q, K,
      BqRerank, D128)
  }

  /** The precision-on-demand cascade at REALISTIC width (D=128): two
    * sign words in tier 1, int8 mid-rank at the fixture-domain scale
    * (Int8ScaleLog2 — the established safe |v|*2^s <= 127 pairing),
    * exact rescore. Same fixture slice as [[qAnnBqWide]]. */
  def qAnnCascadeWide(s: SparkSession, dir: String): DataFrame = {
    val v = fix128(s, dir)
    val q = Fixture.queries(v, NQ).select(col("qid"), col("qvec"))
    graft.operators.Cascade.topkWide(v.select(col("id"), col("vec")), q,
      K, D128, Int8ScaleLog2, CascadeR1, CascadeR2)
  }

  /** The cascade at the reference's MS MARCO-class width (D=1024,
    * SIXTEEN sign words in tier 1): proves the multi-word Hamming and
    * the dequant-mid arithmetic hold where the fold trees get wide —
    * tiny-N slicing like [[qRefineD1024]]. */
  def qAnnCascadeD1024(s: SparkSession, dir: String): DataFrame = {
    val v = fix1024(s, dir)
    val q = Fixture.queries(v, NQ).select(col("qid"), col("qvec"))
    graft.operators.Cascade.topkWide(v.select(col("id"), col("vec")), q,
      K, D1024, Int8ScaleLog2, CascadeR1, CascadeR2)
  }

  /** Residual IVF-PQ at the reference's MS MARCO-class width (D=1024;
    * mSub=8 -> 128-dim subspaces, 16-code books): proves the exact-
    * dyadic reconstruction-norm discipline where the fold/lookup trees
    * get wide — the same shape as the r4 codegen cliff. Tiny-N slicing
    * like [[qRefineD1024]]; the label column the query selector expects
    * is a constant (the fixture has none). */
  def qAnnPqResD1024(s: SparkSession, dir: String): DataFrame = {
    val v = fix1024(s, dir).select(col("id").as("vec_id"),
      col("vec").as("embedding"), lit(0).as("label"))
    graft.operators.Pq.topkResidual(v, NQ, K, IvfCells, D1024, IvfProbe,
      PqM, PqCodes, PqRerank)
  }

  /** The COMPOSED COSINE STRING (spherical coarse x residual PQ) at the
    * reference's MS MARCO-class width — the reference's cosine datasets
    * are 1024-3072 wide (README.md:40-42), and the composed serve is
    * the engine's widest whole-stage tree, so width is where it would
    * break first: spherical training, float-rounded units, residual
    * encode, ADC cosine estimate and exact rescore all at D=1024 with
    * 128-dim PQ subspaces. Same tiny-N slicing as [[qAnnPqResD1024]];
    * TrainFoldSpec asserts the serve still compiles whole-stage here. */
  def qAnnSphericalPqD1024(s: SparkSession, dir: String): DataFrame = {
    val v = fix1024(s, dir).select(col("id").as("vec_id"),
      col("vec").as("embedding"), lit(0).as("label"))
    graft.operators.Pq.topkSphericalResidual(v, NQ, K, IvfCells, D1024,
      IvfProbe, PqM, PqCodes, PqRerank)
  }

  /** ... AND AT REST at the reference's FineWeb width: the composed
    * cosine string's cell-partitioned layout built from the wide
    * fixture slice — probe cells a static partition filter, the cheap
    * pass reading the code columns only (PlanSpec asserts pruning and
    * whole-stage compilation at width). The paper's bandwidth story
    * (§3.3) is column pruning ON DISK; at the production widths the
    * at-rest layout is where it pays — hash-equal to the in-memory
    * rung (deterministic training), same wide oracle. */
  def qAnnSphericalPqD1024AtRest(s: SparkSession, dir: String): DataFrame = {
    val v = fix1024(s, dir).select(col("id").as("vec_id"),
      col("vec").as("embedding"), lit(0).as("label"))
    val path = graft.operators.Pq.ensureSphericalResidualCodesFixtureOver(
      s, dir, "_w1024", v, IvfCells, D1024, PqM, PqCodes)
    graft.operators.Pq.topkSphericalResidualOffCodes(s, path, v, NQ, K,
      IvfCells, D1024, IvfProbe, PqM, PqCodes, PqRerank)
  }

  /** ... and at the reference's LARGEST evaluated width (D=3072 —
    * text-embedding-3-large class, README.md:40-42): 384-dim PQ
    * subspaces over the spherical residuals. Tiny-N slicing like
    * [[qRefineD3072]]. */
  def qAnnSphericalPqD3072(s: SparkSession, dir: String): DataFrame = {
    val v = fix3072(s, dir).select(col("id").as("vec_id"),
      col("vec").as("embedding"), lit(0).as("label"))
    graft.operators.Pq.topkSphericalResidual(v, NQ, K, IvfCells, D3072,
      IvfProbe, PqM, PqCodes, PqRerank)
  }

  /** [[qAnnSphericalPqD1024AtRest]]'s twin at the LARGEST width: the
    * cell-partitioned at-rest layout where the un-read `vec` column is
    * 3072 floats — the widest physical form of the §3.3 pruning win. */
  def qAnnSphericalPqD3072AtRest(s: SparkSession, dir: String): DataFrame = {
    val v = fix3072(s, dir).select(col("id").as("vec_id"),
      col("vec").as("embedding"), lit(0).as("label"))
    val path = graft.operators.Pq.ensureSphericalResidualCodesFixtureOver(
      s, dir, "_w3072", v, IvfCells, D3072, PqM, PqCodes)
    graft.operators.Pq.topkSphericalResidualOffCodes(s, path, v, NQ, K,
      IvfCells, D3072, IvfProbe, PqM, PqCodes, PqRerank)
  }

  /** Relational refine at D=128 — cos_l2 is the worst codegen path (its
    * bb stat dots vec against rvec on top of the synthesis trees; the
    * round-4 Janino 64KB blow-up was exactly this shape at width). */
  def qRefineD128(s: SparkSession, dir: String): DataFrame = {
    val v = fix128(s, dir)
    val q = Fixture.queries(v, NQ).select(col("qid"), col("qvec"))
    Refine.topk(v, q, refineParams("cos_l2"))
  }

  /** Sequential running-tau kernel at D=128 (zero-miss mode shares the
    * static-tau oracle). */
  def qRefineKernelD128(s: SparkSession, dir: String): DataFrame = {
    val v = fix128(s, dir)
    val q = Fixture.queries(v, NQ).select(col("qid"), col("qvec"))
    RefineKernel.topk(v, q, refineParams("l2_tz"))
  }

  /** Bandwidth accounting at D=128, Hoeffding mode — recall/save/fpr are
    * data-dependent but deterministic, and the oracle reproduces the
    * identical arithmetic, so the row is hash-matched (not a corridor). */
  def qRefineMetricsD128(s: SparkSession, dir: String): DataFrame = {
    val v = fix128(s, dir)
    val q = Fixture.queries(v, NQ).select(col("qid"), col("qvec"))
    Refine.metrics(v, q, refineParams("cos_hoeff"), D128)
  }

  /** Recall floor for the running-tau Hoeffding kernel invariant query —
    * intentionally below the measured fixture recall so the boolean locks
    * "the kernel is not broken", not a point estimate. */
  final val KernelHoeffFloor = 0.9

  /**
   * The running-tau kernel for the HOEFFDING modes on the graded surface
   * (the reference's headline operating mode, ANNCode.py:307-370). The
   * running tau has no static-tau relational twin, so there is no
   * value-level DuckDB oracle; instead the query emits PROVABLE
   * invariants as booleans the oracle states as constants:
   *
   *  - subset_ok: on a single partition the kernel's fetch set is a
   *    subset of the relational static-tau0 fetch set (the first K
   *    walked candidates ARE the relational seeds, so tau starts at tau0
   *    and only tightens — every static reject is a running reject);
   *  - tighter_ok: hence it fetches no more rows (the bandwidth saving
   *    the running tau exists to buy);
   *  - min_fetch_ok: it still fetches at least the K seeds per query;
   *  - recall_floor_ok: kernel top-K recall vs the exact scan stays
   *    above [[KernelHoeffFloor]] (deterministic on the fixture);
   *  - part_recall_ge_rel_ok: the DEPLOYMENT shape — the kernel on the
   *    default-partitioned table, per-partition seed fills and all —
   *    recalls at least as well as the static-tau relational refine:
   *    each partition's running tau starts at its local seed fill and
   *    only tightens, so every partition surfaces at least the local
   *    evidence the static filter keeps, and the global merge can only
   *    rank more true hits, not fewer. Measured vs the exact scan on the
   *    same slice (deterministic on the fixture).
   */
  def qKernelHoeffInvariants(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v0 = Fixture.fp16VectorsCached(s, dir, D, KeepM)
    // single partition = the reference's sequential semantics; ONLY the
    // kernel needs it (the subset invariant is defined against its
    // sequential walk; a partitioned kernel re-pays the K seed fills per
    // partition). The RELATIONAL fetch set is partitioning-invariant —
    // static tau0 over exact fixture arithmetic — so it runs on the
    // parallel table: running it on the coalesced copy was a 60s
    // single-thread stall at sf0.1 for identical results.
    // deterministic 1/3 subset: the invariants are per-dataset statements
    // equally binding on any real slice, and the sequential walk's cost
    // (single-task row decode + per-query sorts) is linear in N
    val vSub = v0.filter(col("id") % 3 === 0)
    val v1 = vSub.coalesce(1)
    val q = Fixture.queries(v0, NQ).select(col("qid"), col("qvec"))
    val ps = Seq("cos_hoeff", "l2_hoeff").map(refineParams)
    // ONE sequential walk job for BOTH modes (r6 verdict #8): the
    // coalesced block is decoded once and each mode's walk runs against
    // the shared rows, instead of each mode paying its own full
    // single-task job. The fetch sets come out with full scores, so the
    // kernel's top-K is derived without a second walk.
    // fill the shared fixture cache with PARALLEL tasks before the
    // single-task coalesced walk below — without this, a session whose
    // first fixture action is this query (e.g. a BENCH_ONLY run that
    // skips Bench's warm-up) pays the whole cache fill inside the one
    // sequential kernel task
    v0.count()
    val kerBoth = RefineKernel.fetchedAllMulti(v1, q, ps).persist()
    // both families' exact ground truths from ONE fused N*Q scoring pass
    // over the slice (the exactGroundTruths trick — each mode's exact
    // top-K is consumed by three joins below, and a separate brute scan
    // per mode was the heaviest remaining piece of this query)
    val qb = broadcast(q.withColumn("nq2", norm2Sq(col("qvec"))))
    val scoredSub = vSub
      .select(col("id"), col("vec"), norm2Sq(col("vec")).as("nx2"))
      .crossJoin(qb)
      .withColumn("score_cos",
        dot(col("vec"), col("qvec")) / (fnorm(col("nx2")) * fnorm(col("nq2"))))
      .withColumn("score_l2", l2DistSq(col("qvec"), col("vec")))
      .select(col("qid"), col("id"), col("score_cos"), col("score_l2"))
      .persist()
    val exactByFam = Map(
      true -> TopK.window(
          scoredSub.withColumnRenamed("score_cos", "score"), K)
        .select(col("qid"), col("id")).persist(),
      false -> TopK.window(
          scoredSub.withColumnRenamed("score_l2", "score"), K, ascending = true)
        .select(col("qid"), col("id")).persist())
    import scala.collection.parallel.CollectionConverters._
    val callerPool = graft.Sched.currentPool(s)
    // materialize the walk and the exact pass CONCURRENTLY before the
    // fan-out: the walk is one sequential task that leaves the other
    // local[*] slots idle — exactly the capacity the parallel exact
    // scoring pass wants
    Seq[() => Unit](
      () => { kerBoth.count(): Unit },
      () => {
        exactByFam.values.foreach(_.count())
        scoredSub.unpersist(blocking = false)
      }).par.foreach(f => graft.Sched.inPool(s, callerPool)(f()))
    // the remaining per-mode work is all parallel relational jobs —
    // overlap the two modes (pool propagated per Sched's contract)
    val rows = ps.par.map { p => graft.Sched.inPool(s, callerPool) {
      val rel = Refine.fetched(vSub, q, p).persist()
      val kerAll = kerBoth.filter(col("mode") === p.mode).drop("mode")
      // ONE aggregate for the three set-relation counts
      // ([[fetchSetStats]]), and ONE tagged-union ranked join for the
      // three recall counts (kernel top-K, partitioned-kernel top-K,
      // relational top-K vs the shared exact set) — identical membership
      // and tie-break per tag, 2 actions instead of 6 per mode
      val (nKer, extras, nRel) = fetchSetStats(kerAll, rel)
      val exact = exactByFam(p.isCos)
      val tagged = Seq(
        TopK.window(kerAll, p.k, ascending = !p.isCos)
          .select(col("qid"), col("id"), lit("ker").as("tag")),
        RefineKernel.topk(vSub, q, p)
          .select(col("qid"), col("id"), lit("part").as("tag")),
        TopK.window(rel.withColumnRenamed("s_full", "score"), p.k,
            ascending = !p.isCos)
          .select(col("qid"), col("id"), lit("rel").as("tag")))
        .reduce(_ unionByName _)
      val hitsByTag = tagged.join(exact, Seq("qid", "id"))
        .groupBy(col("tag")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val hits = hitsByTag.getOrElse("ker", 0L)
      val partHits = hitsByTag.getOrElse("part", 0L)
      val relHits = hitsByTag.getOrElse("rel", 0L)
      rel.unpersist(blocking = false)
      (p.mode, extras == 0L, nKer <= nRel, nKer >= K.toLong * NQ,
        hits.toDouble / (K * NQ) >= KernelHoeffFloor, partHits >= relHits)
    }}.toList
    kerBoth.unpersist(blocking = false)
    exactByFam.values.foreach(_.unpersist(blocking = false))
    rows.toDF("mode", "subset_ok", "tighter_ok", "min_fetch_ok",
      "recall_floor_ok", "part_recall_ge_rel_ok")
  }

  /** (nKer, extras, nRel) of a kernel fetch set `kerAll` against the
    * relational one `rel`, both (qid, id, ...): its size, its rows `rel`
    * lacks, and `rel`'s size, from ONE left-join aggregate of the two
    * small persisted sets (the suite is driver-bound, so per-invariant
    * count jobs are the cost, not the rows). An empty kernel set has no
    * row to carry `rel`'s count and sums nothing: all three read 0, so
    * the invariants that need fetched rows report false. */
  private[graft] def fetchSetStats(kerAll: DataFrame,
                                   rel: DataFrame): (Long, Long, Long) = {
    val r = kerAll.select(col("qid"), col("id"))
      .join(rel.select(col("qid"), col("id"))
          .withColumn("in_rel", lit(true)),
        Seq("qid", "id"), "left")
      .crossJoin(rel.agg(count(lit(1)).as("n_rel")))
      .agg(count(lit(1)).as("n_ker"),
        coalesce(sum(when(col("in_rel").isNull, 1L).otherwise(0L)),
          lit(0L)).as("extras"),
        coalesce(first(col("n_rel")), lit(0L)).as("n_rel"))
      .collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  // session-scoped exact ground-truth cache: the brute-force N*Q scored
  // pass is the single heaviest part of every accounting query, and its
  // RESULT is only NQ*K rows per family — pay the pass once per
  // (session, sf-dir) and share it across q_refine_metrics,
  // q_refine_metrics_compressed, and anything else that needs exact
  // top-K. (Entries are ~hundreds of rows; they live for the session.)
  private val gtCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String),
    Map[Boolean, (Array[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType)]]()

  /** Both metric families' exact top-K ground truths from ONE fused
    * full-precision scoring pass (the expression trees are exactly
    * Refine.exactTopK's, so the gt ids — all the hits join consumes —
    * are unchanged). Stored as COLLECTED rows (NQ*K per family — a
    * bounded model, the [[tuneGridCached]] discipline), not as cached
    * DataFrames: a cached plan silently degrades to a full N*Q recompute
    * per consumer after any catalog.clearCache() (the bench's quiet
    * rider clears the block store before each pinned walk, which made
    * every pinned metrics row re-pay the whole exact pass), while a
    * driver-held 200-row relation survives and broadcasts for free. */
  private def exactGroundTruths(spark: SparkSession,
                                dir: String): Map[Boolean, DataFrame] = {
    val rows = gtCache.computeIfAbsent((spark, dir), _ => {
      val v = Fixture.fp16VectorsCached(spark, dir, D, KeepM)
      val q = Fixture.queries(v, NQ).select(col("qid"), col("qvec"))
      val qb = broadcast(q.withColumn("nq2", norm2Sq(col("qvec"))))
      val scored = v.select(col("id"), col("vec"), norm2Sq(col("vec")).as("nx2"))
        .crossJoin(qb)
        .withColumn("score_cos",
          dot(col("vec"), col("qvec")) / (fnorm(col("nx2")) * fnorm(col("nq2"))))
        .withColumn("score_l2", l2DistSq(col("qvec"), col("vec")))
        .select(col("qid"), col("id"), col("score_cos"), col("score_l2"))
        .persist()
      val gt = Map(
        true  -> TopK.window(
          scored.withColumnRenamed("score_cos", "score"), K),
        false -> TopK.window(
          scored.withColumnRenamed("score_l2", "score"), K, ascending = true))
        .map { case (k, df) => k -> (df.collect(), df.schema) }
      scored.unpersist(blocking = false)
      gt
    })
    rows.map { case (k, (rs, schema)) =>
      k -> spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
    }
  }

  /** The 2-D sweep rows + schema, computed ONCE per (session, dir) and
    * shared by q_tune_grid / q_tune_grid_pick / q_tune_pareto — the
    * cross-query twin of the per-query shared-scan discipline (three
    * queries re-running the identical sweep were pure mutual contention
    * in the concurrent bench). |grid| rows; sorted by (nprobe, rerank)
    * — the choice tie-break order. */
  private val tuneGridCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String),
    (Array[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType)]()

  private def tuneGridCached(s: SparkSession, dir: String)
      : (Array[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType) =
    tuneGridCache.computeIfAbsent((s, dir), _ => {
      val df = graft.operators.Ivf.tuneGridSq8(emb(s, dir), NQ, K, IvfCells,
        EmbD, TuneGridNprobes, TuneGridReranks, EmbSq8ScaleLog2)
      (df.collect().sortBy(r => (r.getInt(0), r.getInt(1))), df.schema)
    })

  private def tuneGridDf(s: SparkSession, dir: String): DataFrame = {
    val (rows, schema) = tuneGridCached(s, dir)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Accounting metrics (recall/save/fpr) for all six modes. The fixture
    * and per-family ground truth are computed once and reused; each mode
    * runs the block-pass refine that serves queries, and one aggregate
    * counts every mode's fetched and hit rows ([[Refine.metricsModes]]).
    * Rows come in mode order: cos modes then l2 modes, each in
    * declaration order. */
  def qRefineMetrics(spark: SparkSession, dir: String): DataFrame = {
    val v = Fixture.fp16VectorsCached(spark, dir, D, KeepM)
    val q = Fixture.queries(v, NQ).select(col("qid"), col("qvec"))
    val gt = exactGroundTruths(spark, dir)
    Refine.metricsModes(v, q, (Refine.CosModes ++ Refine.L2Modes).map(refineParams),
      D, groundTruths = gt)
  }

  /** Mode for the measured-compression metrics composition. */
  final val CompressedMetricsMode = "cos_l1"
  /** (n_vecs, compressed_bytes) per sf dir — measured by
    * [[qRefineMetricsCompressed]] or computed on demand by
    * [[measuredCompForOracle]]. Recorded so [[oracleSql]] can embed the
    * same constants: zlib has no DuckDB twin, so the oracle reproduces
    * the accounting arithmetic around the measured value rather than the
    * measurement itself. Keyed by dir like [[measuredBm25]], and computed
    * eagerly at oracle-build time when the query didn't run in this JVM —
    * so the oracle is present under ANY Verify filter selection, not just
    * the run-everything path. */
  private val measuredComp =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  /** Measure (or reuse) the compression totals for `dir`. */
  private def measuredCompFor(spark: SparkSession, dir: String): (Long, Long) =
    measuredComp.computeIfAbsent(dir, _ => {
      val v = Fixture.fp16VectorsCached(spark, dir, D, KeepM)
      graft.operators.BitplaneCompress.measureTotals(
        v.select(col("id"), col("vec")), D, keepE = 5, keepM = KeepM)
    })

  /** Compression totals for the oracle: prefer the value captured when
    * the query ran; otherwise measure NOW against the active session —
    * the [[bm25StatsForOracle]] discipline. None only from a JVM with no
    * Spark session at all (never Verify or any standalone dump path). */
  private def measuredCompForOracle(): Option[(Long, Long)] =
    Option(lastSfDir.get()).flatMap { dir =>
      Option(measuredComp.get(dir)).orElse {
        SparkSession.getActiveSession
          .orElse(SparkSession.getDefaultSession)
          .map(s => measuredCompFor(s, dir))
      }
    }

  /** BM25 corpus stats measured when q_bm25/q_hybrid_rrf last planned,
    * KEYED BY SF DIR — a JVM that touches two sf dirs (tests do) must
    * not serve one dir's idf constants for the other's oracle. The
    * oracle embeds the driver-side idf doubles (ln is the one
    * transcendental DuckDB and the JVM disagree on in the last ulp)
    * guarded by the oracle's own df recomputation — see SearchOracle. */
  private val measuredBm25 = new java.util.concurrent.ConcurrentHashMap[
    String, graft.operators.Search.Bm25Stats]()

  /** sf-dir of the most recent query invocation — lets the oracle builder
    * compute corpus stats on its own when a dump path never ran q_bm25. */
  private val lastSfDir =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** BM25 stats for the oracle: prefer the stats captured when
    * q_bm25/q_hybrid_rrf ran in this JVM; otherwise compute them NOW (one
    * tiny single-row aggregate) against the active session. The ln-form
    * SQL fallback — which disagrees with JVM Math.log in the last ulp on
    * ~0.1% of df values — is reached only from a JVM with no Spark
    * session at all, i.e. never from Verify or any standalone dump path. */
  private def bm25StatsForOracle(): Option[graft.operators.Search.Bm25Stats] =
    Option(lastSfDir.get()).flatMap { dir =>
      Option(measuredBm25.get(dir)).orElse {
        val computed = SparkSession.getActiveSession
          .orElse(SparkSession.getDefaultSession)
          .map(s => graft.operators.Search.bm25Stats(docs(s, dir), Bm25Terms))
        computed.foreach(st => measuredBm25.put(dir, st))
        computed
      }
    }

  /** [[bm25StatsForOracle]]'s twin over the MULTI-QUERY UNION term set
    * (q_bm25_multi binds different terms per query; its oracle needs idf
    * constants for every term any query uses). Same discipline: computed
    * once per sf dir, cached, ln-form fallback only without a session. */
  private val measuredBm25Multi = new java.util.concurrent.ConcurrentHashMap[
    String, graft.operators.Search.Bm25Stats]()

  private def bm25MultiStatsForOracle(): Option[graft.operators.Search.Bm25Stats] =
    Option(lastSfDir.get()).flatMap { dir =>
      Option(measuredBm25Multi.get(dir)).orElse {
        val computed = SparkSession.getActiveSession
          .orElse(SparkSession.getDefaultSession)
          .map(s => graft.operators.Search.bm25Stats(docs(s, dir),
            Bm25MultiUnionTerms))
        computed.foreach(st => measuredBm25Multi.put(dir, st))
        computed
      }
    }

  /** [[bm25MultiStatsForOracle]] over the AS-OF SNAPSHOT view (commits
    * ≤ ServeAsOfSnapshot applied: updated docs carry the upsert token)
    * for the as-of serve's union terms — which INCLUDE the token, so
    * its df/idf must come from the snapshot corpus the engine serves
    * (the engine's df is off the snapshot postings; a base-corpus
    * literal would force the cross-engine ln fallback). (n, sumdl)
    * from this object are unused by the SQL — the oracle's stale-stats
    * CTE recomputes them from the original text, the merge-on-read
    * contract. */
  private val measuredBm25AsOf = new java.util.concurrent.ConcurrentHashMap[
    String, graft.operators.Search.Bm25Stats]()

  private def bm25AsOfStatsForOracle(): Option[graft.operators.Search.Bm25Stats] =
    Option(lastSfDir.get()).flatMap { dir =>
      Option(measuredBm25AsOf.get(dir)).orElse {
        val computed = SparkSession.getActiveSession
          .orElse(SparkSession.getDefaultSession)
          .map { s =>
            // commit 1 applies ids ≡ 0 (mod 2·mod); commit 2 completes
            // the set to ids ≡ 0 (mod mod) — the versioned-log shape
            val prefixMod =
              if (ServeAsOfSnapshot >= 2) Bm25UpsertMod
              else 2 * Bm25UpsertMod
            val snap = docs(s, dir).withColumn("text",
              when(col("doc_id") % prefixMod === 0,
                concat(col("text"), lit(" " + PostingsUpsertToken)))
                .otherwise(col("text")))
            graft.operators.Search.bm25Stats(snap, AsOfServeUnionTerms)
          }
        computed.foreach(st => measuredBm25AsOf.put(dir, st))
        computed
      }
    }

  /** The oracle of a mutating request stream
    * ([[streamServeMutating]]): the UNION ALL of each plan phase's
    * snapshot serve, recomputed from scratch and filtered to that
    * phase's qids. */
  private def streamPlanOracleSql(plan: Seq[ServePhase],
                                  indexed: Boolean): String =
    plan.map { p =>
      val sql = tieredOracleSql(indexed, ledger = false,
        (p.negMod, p.delMod))
      s"SELECT * FROM ($sql) WHERE qid IN " +
        s"(${p.qids.toSeq.sorted.mkString(", ")})"
    }.mkString("\nUNION ALL\n")

  /** The (negMod, delMod) corpus view of a tiered snapshot, in the
    * oracle's vocabulary: ids ≡ 0 mod negMod upserted, ids ≡ 0 mod delMod
    * deleted, 0 = verb not applied. A versioned log's commit 1 applies
    * ids ≡ 0 mod 2·mod and commit 2 the rest of mod `mod`. */
  private def snapshotMods(snap: TierSnapshot): (Int, Int) = {
    import TierSnapshot._
    def prefix(mod: Int, asOf: Int): Int =
      if (asOf <= 0) 0 else if (asOf == 1) 2 * mod else mod
    snap match {
      case Pristine => (0, 0)
      case Upserted(mod) => (mod, 0)
      case Deleted(mod) => (0, mod)
      case UpsertLog(mod, asOf, _) => (prefix(mod, asOf), 0)
      case DeleteLog(mod, asOf) => (0, prefix(mod, asOf))
      case MixedLog(umod, dmod, asOf) =>
        (if (asOf >= 1) umod else 0, if (asOf >= 2) dmod else 0)
      case At(path) => throw new IllegalArgumentException(
        s"no corpus view for the maintained copy at $path")
    }
  }

  /** The oracle of a request serve (or its ledger) of [[RequestServes]]:
    * the serve chain over the current corpus, or as-of over the
    * snapshot-ServeAsOfSnapshot view (commit 1: ids ≡ 0 mod
    * 2·Bm25UpsertMod re-indexed with the token and their vectors
    * flipped), recomputed from the raw tables. */
  private def requestOracleSql(indexed: Boolean, asOf: Boolean,
                               ledger: Boolean): String = {
    val (qs, st, mod, token, kind) =
      if (asOf) (AsOfServeQueries, bm25AsOfStatsForOracle(),
        2 * Bm25UpsertMod, PostingsUpsertToken, "abm25")
      else (Bm25MultiQueries, bm25MultiStatsForOracle(), 0, "", "bm25")
    val rel = qrelPathForOracle()
    (indexed, ledger) match {
      case (false, false) => SearchOracle.serveRequestsSql(EmbD, qs,
        FilterMultiRel, FusionMultiRel, PageKMultiRel, Bm25K1, Bm25B,
        RrfPoolN, st, rel, mod, token, mod, kind)
      case (false, true) => SearchOracle.serveRequestsMetricsSql(EmbD, qs,
        FilterMultiRel, FusionMultiRel, PageKMultiRel, Bm25K1, Bm25B,
        RrfPoolN, st, rel, mod, token, mod, kind)
      case (true, false) => SearchOracle.serveRequestsIndexedSql(EmbD, qs,
        FilterMultiRel, FusionMultiRel, PageKMultiRel, Bm25K1, Bm25B,
        RrfPoolN, IvfCells, IvfProbe, st, rel, mod, token, mod, kind)
      case (true, true) =>
        require(!asOf, "no oracle for the indexed as-of ledger")
        SearchOracle.serveRequestsIndexedMetricsSql(EmbD, qs,
          FilterMultiRel, FusionMultiRel, PageKMultiRel, Bm25K1, Bm25B,
          RrfPoolN, IvfCells, IvfProbe, st, rel)
    }
  }

  /** The oracle of a tiered serve (or its ledger) over the (negMod,
    * delMod) corpus view, recomputed from the raw floats. */
  private def tieredOracleSql(indexed: Boolean, ledger: Boolean,
                              mods: (Int, Int)): String = {
    val (negMod, delMod) = mods
    val alpha = refineParams("cos_l1").alpha
    val st = bm25MultiStatsForOracle()
    val rel = qrelPathForOracle()
    val codeBytes = graft.sources.Disaggregated.serveTierCodeBytes _
    (indexed, ledger) match {
      case (false, false) => SearchOracle.serveRequestsTieredSql(EmbD,
        Bm25MultiQueries, FilterMultiRel, FusionMultiRel, PageKMultiRel,
        ServeTierRel, alpha, Bm25K1, Bm25B, RrfPoolN, st, rel, negMod,
        delMod)
      case (false, true) => SearchOracle.serveRequestsTieredMetricsSql(
        EmbD, Bm25MultiQueries, FilterMultiRel, FusionMultiRel,
        PageKMultiRel, ServeTierRel, codeBytes, alpha, Bm25K1, Bm25B,
        RrfPoolN, st, rel, negMod, delMod)
      case (true, false) => SearchOracle.serveRequestsTieredIndexedSql(
        EmbD, Bm25MultiQueries, FilterMultiRel, FusionMultiRel,
        PageKMultiRel, ServeTierRel, alpha, Bm25K1, Bm25B, RrfPoolN,
        IvfCells, IvfProbe, st, rel, negMod, delMod)
      case (true, true) =>
        SearchOracle.serveRequestsTieredIndexedMetricsSql(EmbD,
          Bm25MultiQueries, FilterMultiRel, FusionMultiRel, PageKMultiRel,
          ServeTierRel, codeBytes, alpha, Bm25K1, Bm25B, RrfPoolN,
          IvfCells, IvfProbe, st, rel, negMod, delMod)
    }
  }

  /** The stored query-relation table's path for the ORACLE generators:
    * the oracle SQL reads the SAME parquet the engine bound from
    * (published right here if a dump path never ran a multi query).
    * None — falling back to the inline VALUES of the identical rows —
    * only from a JVM with no Spark session at all. */
  private def qrelPathForOracle(): Option[String] =
    Option(lastSfDir.get()).flatMap { dir =>
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .map(s => ensureQueryRelations(s, dir))
    }

  /**
   * Bandwidth accounting with MEASURED compression composed in (reference
   * ANNCode.py:831-833 feeding :317-318, paper §4.3 combined saving): the
   * zlib'd bit-plane bytes/vec from [[graft.operators.BitplaneCompress]]
   * replace the naive bit-count model for the reduced pass, so `save`
   * reports the end-to-end reduction the paper's headline claims.
   */
  def qRefineMetricsCompressed(spark: SparkSession, dir: String): DataFrame = {
    val v = Fixture.fp16VectorsCached(spark, dir, D, KeepM)
    val q = Fixture.queries(v, NQ).select(col("qid"), col("qvec"))
    val (n, comp) = measuredCompFor(spark, dir)
    val p = refineParams(CompressedMetricsMode)
    Refine.metrics(v, q, p, D,
      groundTruth = Some(exactGroundTruths(spark, dir)(p.isCos)),
      redBytesOverride = Some(comp.toDouble / n))
  }

  /** PRECISION ON DEMAND AS A RELATION: each refine query runs with ITS
    * OWN Hoeffding δ (bound by query rank from the stored relation) in
    * one plan — the reference's headline tunable per tenant. */
  def qRefineMultiDelta(spark: SparkSession, dir: String): DataFrame = {
    val v = Fixture.fp16VectorsCached(spark, dir, D, KeepM)
    val q = Fixture.queries(v, NQ).select(col("qid"), col("qvec"))
    // rank->qid binding: the i-th smallest qid gets deltasByRank(i) —
    // a bounded NQ-row collect (a model)
    val qids = q.select(col("qid")).collect().map(_.getLong(0)).sorted
    val deltas = qids.toSeq.zip(deltaMultiByRankOf(spark, dir))
    Refine.topkPerQidDelta(v, q, refineParams("cos_hoeff"), deltas)
  }

  /** PRECISION ON DEMAND AS A RELATION, COMPLETED: each query refines
    * with ITS OWN mantissa budget (the paper's title knob, bound by
    * query rank from the stored relation) in one plan, and the output
    * is the per-qid byte ledger — a 4-bit bandwidth tenant and an
    * 8-bit recall tenant served off the same scan, with per-qid bytes
    * proving the tiers differ and zero-miss (cos_l1) recall 1.0 at
    * every tier. */
  def qRefineMultiMkeep(spark: SparkSession, dir: String): DataFrame = {
    val v = Fixture.fp16VectorsCached(spark, dir, D, KeepM)
    val q = Fixture.queries(v, NQ).select(col("qid"), col("qvec"))
    // rank->qid binding as in qRefineMultiDelta: the i-th smallest qid
    // gets mkeepsByRank(i) — a bounded NQ-row collect (a model)
    val qids = q.select(col("qid")).collect().map(_.getLong(0)).sorted
    val tiers = qids.toSeq.zip(mkeepMultiByRankOf(spark, dir))
    Refine.perQidMkeepMetrics(v, q, refineParams("cos_l1"), D, tiers,
      groundTruth = Some(exactGroundTruths(spark, dir)(true)))
  }

  /** [[qRefineMultiMkeep]] AT REST: the per-qid tiers served off the
    * TIERED disaggregated layout — each mantissa budget its own stored
    * (rvec_m, delta_m) parquet columns, the tier choice ordinary column
    * pruning. The layout stores an extra (unused) tier; PlanSpec
    * asserts the cheap scan reads only the USED tiers' chunks and never
    * `vec`. Hash-equal to the in-memory rung (stored values are the
    * same derivations), same oracle. */
  def qRefineMultiMkeepAtRest(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.Disaggregated.ensureTieredFixture(spark, dir,
      D, MkeepLayoutTiers, KeepM)
    val stored = spark.read.parquet(path)
    val v = Fixture.fp16VectorsCached(spark, dir, D, KeepM)
    val q = Fixture.queries(v, NQ).select(col("qid"), col("qvec"))
    val qids = q.select(col("qid")).collect().map(_.getLong(0)).sorted
    val tiers = qids.toSeq.zip(mkeepMultiByRankOf(spark, dir))
    val usedCols = Seq(col("id")) ++ tiers.map(_._2).distinct.sorted
      .flatMap(m => Seq(col(s"rvec_$m"), col(s"delta_$m")))
    Refine.perQidMkeepMetricsSplit(stored.select(usedCols: _*),
      stored.select(col("id"), col("vec")), q, refineParams("cos_l1"),
      D, tiers, groundTruth = Some(exactGroundTruths(spark, dir)(true)))
  }

  /** Precision-reduction projection (P2-P4): flat (id, j, v, rv, dv). */
  def qReducePrecision(spark: SparkSession, dir: String): DataFrame = {
    val v = Fixture.fp16VectorsCached(spark, dir, D, KeepM)
    v.filter(col("id") <= ReduceMaxId)
      .select(col("id"), col("rvec"), col("delta"),
        posexplode(col("vec")).as(Seq("j", "v0")))
      .select(col("id"), col("j"),
        col("v0").cast("double").as("v"),
        element_at(col("rvec"), col("j") + 1).cast("double").as("rv"),
        element_at(col("delta"), col("j") + 1).cast("double").as("dv"))
  }

  /** Flagship: exact cosine top-K on sf0.001 (SURVEY §7 minimum slice). */
  def entry(spark: SparkSession): DataFrame =
    qTopkCos(spark, "/root/testdata/sf0.001")

  private def fnorm(c: org.apache.spark.sql.Column) =
    graft.functions.VectorOps.fnorm(c)

  /** Exact cosine top-K: broadcast cross join + ratio score + window. */
  def qTopkCos(spark: SparkSession, dir: String): DataFrame = {
    val v = Fixture.vectorsCached(spark, dir, D)
    val q = broadcast(Fixture.queries(v, NQ)
      .withColumn("nq2", norm2Sq(col("qvec"))))
    val scored = v
      .withColumn("nx2", norm2Sq(col("vec")))  // hoisted out of the join
      .crossJoin(q)
      .withColumn("score",
        dot(col("vec"), col("qvec")) / (fnorm(col("nx2")) * fnorm(col("nq2"))))
    TopK.window(scored, K)
  }

  /** Cosine top-K body over an external-source (id, vec) relation —
    * shares q_topk_cos's fixture queries, constants, and oracle. */
  private def topkCosOver(spark: SparkSession, dir: String, v: DataFrame): DataFrame = {
    val q = broadcast(Fixture.queries(Fixture.vectorsCached(spark, dir, D), NQ)
      .withColumn("nq2", norm2Sq(col("qvec"))))
    val scored = v
      .withColumn("nx2", norm2Sq(col("vec")))
      .crossJoin(q)
      .withColumn("score",
        dot(col("vec"), col("qvec")) / (fnorm(col("nx2")) * fnorm(col("nq2"))))
    TopK.window(scored, K)
  }

  /** Record-index -> fixture-id mapping for index-addressed sources
    * (.fvecs / header-binary carry no row key): the fixture files are
    * written sorted by id, so record i is the i-th smallest id. The
    * idx->id map is the session-cached [[Fixture.idxToIdCached]] (one
    * skinny sort per session, shared by all three source queries) and is
    * BROADCAST into the join, so the wide vec side never shuffles — the
    * map is two BIGINTs per record, and at genuinely large N a real
    * export would carry ids in a sidecar column instead of remapping. */
  private def withFixtureIds(spark: SparkSession, dir: String,
                             raw: DataFrame): DataFrame =
    raw.withColumnRenamed("id", "idx")
      .join(broadcast(Fixture.idxToIdCached(spark, dir)), "idx")
      .select(col("id"), col("vec"))

  /** Exact cosine top-K fed from the `.vec` TEXT source (S1): the
    * fixture is materialized as a FastText-style file once per sf-dir
    * and read back through VecFiles.readVec — same ids/values as the
    * in-memory fixture, so it shares q_topk_cos's oracle. Puts the
    * file-format source layer on the driver-checked surface. */
  def qTopkCosVecSource(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.VecFiles.ensureVecFixture(spark, dir, D)
    topkCosOver(spark, dir,
      graft.sources.VecFiles.readVec(spark, path, tokenAsId = true))
  }

  /** Same query routed through the S4 FORMAT DISPATCHER (extension-based
    * readMatrix, reference load_matrix ANNCode.py:140-158) over the
    * single-file `.vec` fixture — also the only graded exercise of
    * readVec's positional-id parse (tokenAsId = false), remapped to
    * fixture ids like the binary sources. */
  def qTopkCosDispatch(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.VecFiles.ensureVecFixture(spark, dir, D)
    topkCosOver(spark, dir, withFixtureIds(spark, dir,
      graft.sources.VecFiles.readMatrix(spark, path)))
  }

  /** Same query fed from the FAISS `.fvecs` binary source (S3) — a real
    * user's first contact with the engine is loading SIFT/GIST fvecs.
    * The fixture is a SHARDED export (part files + manifest), so both the
    * distributed writer and the manifest reader sit on the graded
    * surface. */
  def qTopkCosFvecsSource(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.VecFiles.ensureFvecsFixture(spark, dir, D)
    topkCosOver(spark, dir, withFixtureIds(spark, dir,
      graft.sources.VecFiles.readFvecsSharded(spark, path)))
  }

  /** Same query fed from the ASCII-header binary source (S2), through the
    * sharded export layout. */
  def qTopkCosBinSource(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.VecFiles.ensureHeaderBinFixture(spark, dir, D)
    topkCosOver(spark, dir, withFixtureIds(spark, dir,
      graft.sources.VecFiles.readHeaderBinSharded(spark, path)))
  }

  /** Exact Euclidean top-K (ascending squared distance). */
  def qTopkL2(spark: SparkSession, dir: String): DataFrame = {
    val v = Fixture.vectorsCached(spark, dir, D)
    val q = broadcast(Fixture.queries(v, NQ))
    val scored = v.crossJoin(q)
      .withColumn("score", l2DistSq(col("qvec"), col("vec")))
    TopK.window(scored, K, ascending = true)
  }

  // ---- dedup / text-analysis params (shared with oracles) ----------------
  // delta grid-search tuning (small grid: each point runs a full
  // metrics pipeline)
  final val TuneMode = "cos_hoeff"
  final val TuneGrid = Seq(1e-6, 1e-2, 1e-1, 7e-1)
  final val TuneFloor = 0.95

  final val Shingle = 3
  final val NumHashes = 16
  final val Bands = 4
  final val RowsPerBand = 4
  final val SimhashBits = 16
  final val MaxHamming = 4
  final val JaccardN = 2   // bigrams: trigram overlap is too sparse in the corpus
  final val MinJaccard = 0.05
  final val MaxGramDf = 200  // stop-shingle document-frequency cap
  final val DecontamN = 3    // trigram collision = contamination flag
  final val DecontamEvalMod = 97 // doc_id % mod == 0 -> held-out eval split
  final val ChunkTokens = 32 // context-window chunk length (tokens)
  final val ChunkOverlap = 8 // tokens shared between consecutive chunks
  final val PackBudget = 2048L // sequence-packing token budget per bin
  final val EmbD = 64
  final val MinCos = 0.25
  // embedding-QA norm-outlier threshold, in population sd units
  final val EmbZTau = 2.0
  final val IvfCells = 8
  final val IvfProbe = 2
  // SRP-LSH: 6 hyperplanes -> 64 buckets; a multi-probe query reads 7
  // of them (~11% of the corpus expected) — the hash-bucket alternative
  // to the IVF coarse quantizer as the candidate-generation scale path
  final val LshPlanes = 6
  // recall/nprobe tuning grid (q_tune_nprobe); max = IvfCells makes the
  // last row provably recall = 1.0
  final val TuneNprobes = Seq(1, 2, 4, 8)
  // operating-point floor for q_tune_nprobe_pick (at sf0.01 the sq8
  // sweep's recalls straddle it: 0.33/0.49/0.78/1.0 -> picks nprobe=4)
  final val TuneNprobeFloor = 0.7
  // rerank-depth grid for q_tune_rerank (the second tuning axis, swept
  // at nprobe=IvfProbe; all >= K)
  final val TuneReranks = Seq(10, 20, 30, 60)
  // the 2-D grid for q_tune_grid (both knobs together — their bytes
  // trade against each other, so the frontier is not on either 1-D
  // slice); kept 2x3 to bound the oracle arm count
  final val TuneGridNprobes = Seq(2, 4)
  final val TuneGridReranks = Seq(10, 30, 60)
  // k-NN graph degree (q_knn_graph / q_knn_descent): every vector gets
  // its KnnJ probed-cell nearest neighbors as edges
  final val KnnJ = 5
  // graph beam search (q_ann_graph_search): beam width and synchronized
  // round count — each query reads <= rounds*beam*(KnnJ+1) vectors
  final val GraphBeam = 10
  final val GraphRounds = 4
  // HNSW-style layered graph (q_ann_graph_layered): upper layer l keeps
  // every LayeredStride^l-th id with degree LayeredJ; descent runs
  // LayeredUpperRounds width-LayeredUpperBeam rounds per layer, then
  // LayeredRounds base rounds. Chosen on the fixture's measured
  // reads/recall frontier: recall 0.54 at 1682 vector reads vs the flat
  // beam's 0.54 at 2919 (rounds=8) — equal recall, 42% fewer reads
  // (OperatorsSpec asserts the dominance)
  final val LayeredStride = 4
  final val LayeredLayers = 2
  final val LayeredJ = 10
  final val LayeredUpperBeam = 4
  final val LayeredUpperRounds = 2
  final val LayeredRounds = 2
  // semantic-cluster edge threshold (q_semantic_clusters): knn edges at
  // cosine >= tau feed connected components (sf0.01 edge scores span
  // 0.17-0.48; 0.35 keeps a few hundred edges -> nontrivial clusters)
  final val SemClusterTau = 0.35
  // IVF-SQ8: embeddings are unit vectors (|v| < 1), so scale 2^7 keeps
  // codes |k| <= 127 = int8; rerank depth 3K before the exact rescore
  final val EmbSq8ScaleLog2 = 7
  final val Sq8Rerank = 30
  // IVF-SQ4 (q_ann_ivf_sq4 / _at_rest): 16-level 4-bit codes, two per
  // stored byte — the sub-byte rung between BQ and SQ8; scale 2^3 maps
  // |v| < 1 into the clamp range, rerank as deep as BQ (coarse codes
  // need a wide exact net)
  final val EmbSq4ScaleLog2 = 3
  final val Sq4Rerank = 60
  // Matryoshka prefix rung (q_ann_prefix / _at_rest): cheap rank over
  // the first PrefixD of EmbD components — 4*PrefixD of 4*EmbD bytes per
  // row on the cheap pass — then exact full-width rescore of
  // PrefixRerank survivors (as deep as SQ4's net: a 16-dim prefix is a
  // coarse ranker on these near-isotropic synthetic vectors)
  final val PrefixD = 16
  final val PrefixRerank = 60
  // zero-miss prefix refinement (q_refine_prefix / _at_rest): the
  // Cauchy-Schwarz tail cushion prunes in proportion to the prefix's
  // ENERGY share, and this isotropic fixture spreads energy uniformly
  // (the worst case), so the zero-miss rung runs at 3d/4 — real MRL
  // embeddings front-load energy and prune deeply at small prefixes
  final val PrefixRefineD = 48
  // query-adaptive probe depth (q_ann_adaptive): probe cells within
  // ratio x the nearest centroid distance, capped; 1.5 is dyadic so the
  // oracle's decimal literal parses to the identical double
  final val AdaptiveRatio = 1.5
  final val AdaptiveRatioLit = "1.5"
  final val AdaptiveNpMax = 4
  // recall@R curve depths (q_ann_recall_curve); max = K reuses the
  // standard ground-truth depth
  final val RecallRs = Seq(1, 5, 10)
  // score-histogram bucket scale (q_score_hist): floor(score*16) over
  // cosine in [-1,1] -> at most 33 buckets
  final val HistBinScale = 16
  // q_range_tau_pick result-volume budget (pairs) — sized so the sf0.01
  // histogram straddles it (the cumulative crosses mid-histogram)
  final val RangeBudget = 200L
  // grouped (faceted) retrieval depth (q_ann_grouped): best k per
  // (query, lang) facet
  final val GroupedK = 3
  // IVF-PQ: 8 subspaces x 16 codes = 32-bit code words (64x cheap-pass
  // bandwidth cut vs the float vector); rerank as for SQ8
  final val PqM = 8
  final val PqCodes = 16
  final val PqRerank = 30
  // SAMPLED codebook training (q_ann_ivf_pq_trained_sampled): ~8
  // training vectors per code — the FAISS 256-per-centroid rule scaled
  // to the fixture corpus — so the sample stride grows with N and the
  // training pass stays BOUNDED at any scale (train on the sample,
  // encode everything). The stride derives from the corpus count (a
  // 1-row model), cached per dir so the oracle generator embeds the
  // identical literal (the measuredComp discipline).
  final val PqTrainPerCode = 8
  private val pqSampleEveryCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private def pqTrainSampleEvery(s: SparkSession, dir: String): Int =
    pqSampleEveryCache.computeIfAbsent(dir, _ => {
      val n = emb(s, dir).count()
      Int.box(math.max(1L, n / (PqTrainPerCode.toLong * PqCodes)).toInt)
    })
  private def pqTrainSampleEveryForOracle(): Option[Int] =
    Option(lastSfDir.get()).flatMap { dir =>
      Option(pqSampleEveryCache.get(dir)).map(_.intValue).orElse {
        SparkSession.getActiveSession
          .orElse(SparkSession.getDefaultSession)
          .map(s => pqTrainSampleEvery(s, dir))
      }
    }
  // fail LOUDLY when the stride is unavailable: defaulting to 1 would
  // silently train the oracle on the full corpus while the engine
  // samples — a guaranteed verify mismatch masquerading as an engine
  // bug (the measuredComp discipline)
  private def pqTrainSampleEveryForOracleStrict(qname: String): Int =
    pqTrainSampleEveryForOracle().getOrElse(sys.error(
      s"$qname oracle: train-sample stride unavailable (no sfDir seen " +
        "and no SparkSession) — refusing to default to full-corpus " +
        "training"))
  // SAMPLED coarse-quantizer training (q_kmeans_converge_sampled): ~16
  // training vectors per cell, the same grows-with-N stride discipline
  // as the PQ codebook sample — the Lloyd convergence ledger over a
  // BOUNDED train set, the 100 TB coarse-quantizer path. The per-cell
  // constant is sized so the stride exceeds 1 at the driver's verify
  // scale (n=500 → stride 3) — a vacuous sample would silently grade
  // the full-corpus trainer
  final val KmTrainPerCell = 16
  private val kmSampleEveryCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private def kmTrainSampleEvery(s: SparkSession, dir: String): Int =
    kmSampleEveryCache.computeIfAbsent(dir, _ => {
      val n = emb(s, dir).count()
      Int.box(math.max(1L, n / (KmTrainPerCell.toLong * IvfCells)).toInt)
    })
  private def kmTrainSampleEveryForOracleStrict(qname: String): Int =
    Option(lastSfDir.get()).flatMap { dir =>
      Option(kmSampleEveryCache.get(dir)).map(_.intValue).orElse {
        SparkSession.getActiveSession
          .orElse(SparkSession.getDefaultSession)
          .map(s => kmTrainSampleEvery(s, dir))
      }
    }.getOrElse(sys.error(
      s"$qname oracle: km-train sample stride unavailable (no sfDir " +
        "seen and no SparkSession) — refusing to default to " +
        "full-corpus training"))
  // sharded index build (q_ann_ivf_pq_sharded): 3 slices by id mod
  final val PqShards = 3
  // binary quantization: one 64-bit sign word per vector, Hamming cheap
  // rank; deeper rerank than SQ8/PQ (1-bit codes are the coarsest rung)
  final val BqRerank = 60
  // precision-on-demand cascade (Cascade.topk): 1-bit Hamming cut to
  // CascadeR1, int8 mid-rank over those survivors cut to CascadeR2,
  // exact rescore to K — each tier ~4x the bytes/vector of the previous
  // over a geometrically shrinking candidate set
  final val CascadeR1 = 60
  final val CascadeR2 = 30
  // merge-on-read deletes (q_ann_pq_delete): ids ≡ 0 (mod 17) tombstoned
  // out of the at-rest PQ layout — ~6% of the corpus, including query
  // id 0's own self-hit (the hardest case: the top-1 must change)
  final val DeleteMod = 17
  // merge-on-read upserts (q_ann_pq_upsert): ids ≡ 0 (mod 13) updated to
  // v' = -v — cells, codes, and rescore values all change; norms do not
  // (which keeps the oracle's shared norm relation valid)
  final val UpsertMod = 13
  // search surface beyond plain top-k (Search.scala)
  final val FilterLangs = Seq("fr", "de") // metadata predicate for filtered ANN
  // per-query metadata filters (q_ann_filtered_multi): each qid searches
  // only ITS OWN langs — overlapping and disjoint sets in one relation
  final val FilterMultiRel: Seq[(Long, String)] = Seq(
    0L -> "fr", 0L -> "de", 1L -> "en", 2L -> "zh", 2L -> "es", 3L -> "en")
  // per-query facet sets (q_ann_grouped_multi): best GroupedK per
  // (qid, lang) where each qid carries its OWN facet set — 4 qids x
  // 2 facets each, overlapping and disjoint across qids, in one plan
  final val GroupedMultiRel: Seq[(Long, String)] = Seq(
    0L -> "fr", 0L -> "de", 1L -> "en", 1L -> "zh",
    2L -> "es", 2L -> "fr", 3L -> "en", 3L -> "de")
  // per-query radii (q_ann_range_multi): each qid cuts at its own tau
  final val RangeMultiRel: Seq[(Long, Double)] = Seq(
    0L -> 0.25, 1L -> 0.3, 2L -> 0.35, 3L -> 0.2)
  // per-query fusion weights (q_hybrid_linear_multi_w): each qid's own
  // text/vector trade-off — a recall-oriented tenant leans lexical
  // (0.7), a semantic one leans vector (0.3)
  final val FusionMultiRel: Seq[(Long, Double)] = Seq(
    0L -> 0.7, 1L -> 0.5, 2L -> 0.3, 3L -> 0.6)
  // per-query page size (q_ann_topk_multi_k): each qid returns its own
  // top-k — the size knob every serving API binds per request
  final val PageKMultiRel: Seq[(Long, Int)] = Seq(
    0L -> 3, 1L -> 10, 2L -> 5, 3L -> 7)
  // per-query probe depth (q_ann_ivf_multi_probe): each qid probes its
  // own cell count — np=IvfCells is a provable full probe for that qid
  final val NprobeMultiRel: Seq[(Long, Int)] = Seq(
    0L -> 1, 1L -> 2, 2L -> 4, 3L -> 8)
  // per-query rerank depth (q_ann_ivf_pq_multi_rerank): each qid
  // exact-rescores its own candidate depth off the shared ADC pass —
  // the quantized path's latency/recall knob per request
  final val RerankMultiRel: Seq[(Long, Int)] = Seq(
    0L -> 10, 1L -> 20, 2L -> 40, 3L -> 60)
  // per-query Hoeffding δ (q_refine_multi_delta): the reference's OWN
  // tunable as a relation — each of the NQ refine queries runs its own
  // recall/bandwidth knob (the TuneGrid values cycled by QUERY RANK —
  // refine qids are fixture keys, so the binding is rank-based on both
  // sides: δ=1e-6 is near-zero-miss, δ=0.7 prunes hardest)
  final val DeltaMultiByRank: Seq[Double] =
    (0 until NQ).map(i => TuneGrid(i % TuneGrid.size))
  // per-query mantissa budget (q_refine_multi_mkeep): the paper's TITLE
  // knob as a relation — each query rank carries its own m_keep tier
  // (ANNCode.py:202-216, swept at :742): even ranks the 4-bit bandwidth
  // tier, odd ranks the 8-bit recall tier (5 qids each at NQ=10)
  final val MkeepTiers = Seq(4, 8)
  final val MkeepMultiByRank: Seq[Int] =
    (0 until NQ).map(i => MkeepTiers(i % MkeepTiers.size))
  // the tiered at-rest layout stores one EXTRA tier (the default 6-bit
  // budget) beyond the two the relation binds — proving the pruning is
  // per-USED-tier: the stored-but-unused tier's chunks are never read
  final val MkeepLayoutTiers = Seq(4, KeepM, 8)
  // per-REQUEST precision tier on the serve capstone
  // (q_serve_requests_tiered): each of the 4 serve requests binds its
  // own quantization tier (scaleLog2) from the stored relation — 2^4 is
  // the 1-byte bandwidth tier, 2^11 the 2-byte recall tier; the layout
  // stores an extra 2^8 tier the relation never binds (the mkeep
  // discipline: stored-but-unused chunks provably unread)
  final val ServeTierScales = Seq(4, 11)
  final val ServeTierLayoutScales = Seq(4, 8, 11)
  final val ServeTierRel: Seq[(Long, Int)] = Seq(
    0L -> 4, 1L -> 11, 2L -> 4, 3L -> 11)
  // online serve over a MUTATING index, as phase plans: phase k's
  // requests are served off the snapshot with ids ≡ 0 mod negMod
  // upserted and ids ≡ 0 mod delMod deleted (0 = not applied), and the
  // commit between two phases is derived from their two views
  // (StreamOps.serveRequestsTieredMutatingOverStream). The engine and
  // the oracle (streamPlanOracleSql) read the same plan.
  // q_stream_serve_requests_tiered(_indexed)_mutating: requests 0-1
  // arrive before one update commit (ids ≡ 0 mod 2·UpsertMod), 2-3
  // after it (each side spans both tiers, so the snapshot choice and the
  // tier knob are both visible per side)
  final val StreamMutatingPlan: Seq[ServePhase] = Seq(
    ServePhase(Set(0L, 1L), 0, 0), ServePhase(Set(2L, 3L), 2 * UpsertMod, 0))
  // ..._multi: C = 3 update commits interleaved with 4 request phases
  // (one request per phase) — commit k updates the nested incremental
  // prefix ids ≡ 0 mod 2^(3-k)·UpsertMod, so phase k's snapshot is the
  // single modulus 2^(3-k)·UpsertMod (SQL-expressible per phase)
  final val StreamMultiPlan: Seq[ServePhase] = Seq(
    ServePhase(Set(0L), 0, 0), ServePhase(Set(1L), 4 * UpsertMod, 0),
    ServePhase(Set(2L), 2 * UpsertMod, 0), ServePhase(Set(3L), UpsertMod, 0))
  // ..._mixed: an UPSERT commit (ids ≡ 0 mod UpsertMod) between phases
  // 0 and 1, then a DELETE commit (ids ≡ 0 mod DeleteMod) between phases
  // 1 and 2 — phase 2 spans both precision tiers so the composed
  // upserted+deleted snapshot is visible at both bandwidth points
  final val StreamMixedPlan: Seq[ServePhase] = Seq(
    ServePhase(Set(0L), 0, 0), ServePhase(Set(1L), UpsertMod, 0),
    ServePhase(Set(2L, 3L), UpsertMod, DeleteMod))
  // time travel on the tiered serve layout (q_serve_requests_tiered_asof):
  // the layout's versioned update log holds two commits (1: ids ≡ 0 mod
  // 2·UpsertMod, 2: the rest of mod UpsertMod); the declared snapshot
  // serves between them — the interesting point, where the prefix is a
  // strict subset of the full update set
  final val TieredAsOfSnapshot = 1
  final val RangeTau = 0.3    // radius-search cosine threshold (~50 rows)
  final val Bm25Terms = Seq("filter", "merge", "stream", "customer")
  final val Bm25K1 = 1.2
  final val Bm25B = 0.75
  final val Bm25TopN = 20
  // per-query-term-set BM25 (q_bm25_multi): terms bound per query ROW —
  // four queries with distinct term sets and lengths 1..4 in ONE plan
  // (q3's "dup" is the rare high-idf term: df ~26 vs ~900 for the rest)
  final val Bm25MultiQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("filter", "merge", "stream"),
    1L -> Seq("customer", "order"),
    2L -> Seq("vector", "hash", "join", "scan"),
    3L -> Seq("dup"))
  final val Bm25MultiUnionTerms: Seq[String] =
    Bm25MultiQueries.flatMap(_._2).distinct
  final val Bm25MultiTopN = 10

  // ---- the multi-query relations as a STORED fixture table --------------
  // A real serving system binds its per-request term sets / filters /
  // radii / facets from a queries TABLE, not compile-time constants. One
  // long-form parquet (kind, qid, pos, term, lang, tau) is published per
  // sf dir (immutable content-keyed dir — the layout-cache discipline);
  // every multi-query rung COLLECTS its bounded relation from it (a
  // model: tens of rows, then broadcast as before) and the oracle SQL
  // reads the very same parquet via read_parquet. The compile-time
  // constants above remain only as the fixture WRITER's input.

  private def queryRelRows: Seq[(String, Long, Option[Int], Option[String],
      Option[String], Option[Double])] =
    Bm25MultiQueries.flatMap { case (qid, ts) =>
      ts.zipWithIndex.map { case (t, p) =>
        ("bm25", qid, Some(p), Some(t), None: Option[String],
          None: Option[Double]) }
    } ++
      FilterMultiRel.map { case (qid, l) =>
        ("filter", qid, None, None, Some(l), None) } ++
      GroupedMultiRel.map { case (qid, l) =>
        ("facet", qid, None, None, Some(l), None) } ++
      RangeMultiRel.map { case (qid, tau) =>
        ("radius", qid, None, None, None, Some(tau)) } ++
      FusionMultiRel.map { case (qid, alpha) =>
        ("fusion", qid, None, None, None, Some(alpha)) } ++
      MmrLambdaMultiRel.map { case (qid, lam) =>
        ("mmrl", qid, None, None, None, Some(lam)) } ++
      // delta rows are RANK-keyed (refine qids are fixture keys): qid
      // carries the query rank, tau the per-rank δ
      DeltaMultiByRank.zipWithIndex.map { case (dl, i) =>
        ("delta", i.toLong, None, None, None, Some(dl)) } ++
      // mkeep rows are RANK-keyed like delta: qid carries the query
      // rank, pos the per-rank mantissa budget
      MkeepMultiByRank.zipWithIndex.map { case (m, i) =>
        ("mkeep", i.toLong, Some(m), None, None, None) } ++
      PageKMultiRel.map { case (qid, k) =>
        ("pagek", qid, Some(k), None, None, None) } ++
      NprobeMultiRel.map { case (qid, np) =>
        ("nprobe", qid, Some(np), None, None, None) } ++
      RerankMultiRel.map { case (qid, rr) =>
        ("rerank", qid, Some(rr), None, None, None) } ++
      // serve-tier rows are QID-keyed (serve request qids are 0..nq-1):
      // pos carries the request's quantization scaleLog2
      ServeTierRel.map { case (qid, s) =>
        ("stier", qid, Some(s), None, None, None) } ++
      // the AS-OF serve's request terms (qid 0 includes the upsert
      // token — snapshot-sensitive lexical candidacy)
      AsOfServeQueries.flatMap { case (qid, ts) =>
        ts.zipWithIndex.map { case (t, p) =>
          ("abm25", qid, Some(p), Some(t), None: Option[String],
            None: Option[Double]) }
      }

  /** The stored relation's path for `sfDir` — content-keyed (the dir
    * name embeds a hash of the rows), so editing any constant above
    * publishes a FRESH table instead of silently serving a stale one.
    * Computable without a session (the oracle generator needs it). */
  def queryRelPathFor(sfDir: String): String = {
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    // a REAL digest for the content key (not String.hashCode): a 32-bit
    // key that collided after a constant edit would silently serve a
    // stale relation table to both engine and oracle — masking, not
    // catching, divergence. 16 hex chars of SHA-256 make that
    // practically impossible.
    val contentKey = java.security.MessageDigest.getInstance("SHA-256")
      .digest(queryRelRows.mkString(";").getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_qrel_${safe}_$contentKey").toString
  }

  /** Publish the stored query-relation table (idempotent, atomic).
    * Publishing also SWEEPS sibling `graft_qrel_<safe>_*` dirs under
    * older content keys: the content-keyed naming means a constant
    * edit (or the hashCode→SHA-256 key change) orphans the previous
    * dir, and nothing else ever reads it — without the sweep,
    * long-lived machines accumulate dead relation tables. */
  def ensureQueryRelations(spark: SparkSession, sfDir: String): String = {
    import java.nio.file.{Files, Paths}
    val path = Paths.get(queryRelPathFor(sfDir))
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "qrel-")
      import spark.implicits._
      queryRelRows.toDF("kind", "qid", "pos", "term", "lang", "tau")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"query relation publish failed: $path")
      val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
      // Match the EXACT layout — prefix + 16 lowercase hex chars and
      // nothing after (the content key is exactly 16 hex chars). A
      // bare startsWith would let one fixture's sanitized name that is
      // a prefix of another's (…_sf1 vs …_sf1_wide) delete the other
      // fixture's LIVE relation table.
      val stalePat = (java.util.regex.Pattern.quote(
        s"graft_qrel_${safe}_") + "[0-9a-f]{16}").r
      val stale = Files.list(path.getParent)
      try stale.forEach { p =>
        val n = p.getFileName.toString
        if (stalePat.pattern.matcher(n).matches() &&
            n != path.getFileName.toString && Files.isDirectory(p))
          graft.sources.VecFiles.deleteRecursively(p)
      } finally stale.close()
    }
    path.toString
  }

  /** The four relations bound BACK from the stored table — a bounded
    * collect (a model), cached per (session, dir), deterministically
    * ordered (qid, then pos/lang) so plan literal order is stable. */
  private final case class QueryRels(
      bm25: Seq[(Long, Seq[String])], filters: Seq[(Long, String)],
      facets: Seq[(Long, String)], radii: Seq[(Long, Double)],
      fusion: Seq[(Long, Double)], deltasByRank: Seq[Double],
      mkeepsByRank: Seq[Int], mmrLambdas: Seq[(Long, Double)],
      pageKs: Seq[(Long, Int)], nprobes: Seq[(Long, Int)],
      reranks: Seq[(Long, Int)], serveTiers: Seq[(Long, Int)],
      asOfBm25: Seq[(Long, Seq[String])])

  // keyed by the stored table's CONTENT-KEYED PATH, not the session
  // object: a map keyed by SparkSession would retain stopped sessions
  // forever (a slow leak in long-lived drivers that cycle sessions),
  // and the session adds nothing to the key — the collected rows are
  // fully determined by the parquet content, whose dir name already
  // embeds a digest of the rows. The values are plain Scala tuples
  // (tens of rows), never session-bound plans.
  private val qrelCache = new java.util.concurrent.ConcurrentHashMap[
    String, QueryRels]()

  private def queryRels(s: SparkSession, dir: String): QueryRels =
    qrelCache.computeIfAbsent(queryRelPathFor(dir), _ => {
      val rows = s.read.parquet(ensureQueryRelations(s, dir)).collect()
      def strRel(kind: String): Seq[(Long, String)] = rows.toSeq
        .filter(_.getAs[String]("kind") == kind)
        .map(r => (r.getAs[Long]("qid"), r.getAs[String]("lang")))
        .sorted
      def termRel(kind: String): Seq[(Long, Seq[String])] = rows.toSeq
        .filter(_.getAs[String]("kind") == kind)
        .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("pos"),
          r.getAs[String]("term")))
        .sorted.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (qid, ts) => qid -> ts.sortBy(_._2).map(_._3) }
      val bm25 = termRel("bm25")
      def numRel(kind: String): Seq[(Long, Double)] = rows.toSeq
        .filter(_.getAs[String]("kind") == kind)
        .map(r => (r.getAs[Long]("qid"), r.getAs[Double]("tau")))
        .sortBy(_._1)
      def intRel(kind: String): Seq[(Long, Int)] = rows.toSeq
        .filter(_.getAs[String]("kind") == kind)
        .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("pos")))
        .sortBy(_._1)
      QueryRels(bm25, strRel("filter"), strRel("facet"), numRel("radius"),
        numRel("fusion"), numRel("delta").map(_._2),
        intRel("mkeep").map(_._2), numRel("mmrl"), intRel("pagek"),
        intRel("nprobe"), intRel("rerank"), intRel("stier"),
        termRel("abm25"))
    })

  private def bm25MultiQueriesOf(s: SparkSession, dir: String) =
    queryRels(s, dir).bm25
  private def filterMultiRelOf(s: SparkSession, dir: String) =
    queryRels(s, dir).filters
  private def groupedMultiRelOf(s: SparkSession, dir: String) =
    queryRels(s, dir).facets
  private def rangeMultiRelOf(s: SparkSession, dir: String) =
    queryRels(s, dir).radii
  private def fusionMultiRelOf(s: SparkSession, dir: String) =
    queryRels(s, dir).fusion
  private def deltaMultiByRankOf(s: SparkSession, dir: String) =
    queryRels(s, dir).deltasByRank
  private def mkeepMultiByRankOf(s: SparkSession, dir: String) =
    queryRels(s, dir).mkeepsByRank
  private def mmrLambdaMultiRelOf(s: SparkSession, dir: String) =
    queryRels(s, dir).mmrLambdas
  private def pageKMultiRelOf(s: SparkSession, dir: String) =
    queryRels(s, dir).pageKs
  private def nprobeMultiRelOf(s: SparkSession, dir: String) =
    queryRels(s, dir).nprobes
  private def rerankMultiRelOf(s: SparkSession, dir: String) =
    queryRels(s, dir).reranks
  private def serveTierRelOf(s: SparkSession, dir: String) =
    queryRels(s, dir).serveTiers
  private def asOfServeQueriesOf(s: SparkSession, dir: String) =
    queryRels(s, dir).asOfBm25
  // posting-list inverted index: term hash buckets (the lexical twin of
  // IVF cell partitioning — a query's terms prune to <= |terms| buckets)
  final val PostBuckets = 16
  // MaxScore seed depth: 2x the page so tau comes from a real pool
  final val Bm25SeedB = 40
  // lexical merge-on-read deletes: doc ids ≡ 0 (mod 7) tombstoned
  final val Bm25DeleteMod = 7
  // lexical merge-on-read UPSERT: doc ids ≡ 0 (mod Bm25UpsertMod) get
  // this revision token appended (absent from corpus and query
  // vocabularies, so only dl — and hence the updated docs' own scores —
  // changes). mod 3 keeps the update OBSERVABLE: the served page always
  // contains updated docs, whose scores provably shift (spec-asserted)
  final val Bm25UpsertMod = 3
  final val PostingsUpsertToken = "upsertrev1"
  // TIME-TRAVEL SERVING (q_serve_requests_asof): the as-of serve's own
  // request-term relation — qid 0 searches the UPSERT TOKEN itself, so
  // the snapshot choice changes lexical candidacy (the token matches 0
  // docs at asOf 0, the applied commits' docs after); qids 1..3 keep
  // the standard serve terms. Served at snapshot 1 of the document-
  // update log (ids ≡ 0 mod 2·Bm25UpsertMod: text re-indexed with the
  // token AND vector flipped — one update log drives both sides).
  // Declared AFTER PostingsUpsertToken: object vals initialize in
  // declaration order, and a forward reference here would bake a null
  // term into the relation.
  final val AsOfServeQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("filter", "merge", PostingsUpsertToken),
    1L -> Seq("customer", "order"),
    2L -> Seq("vector", "hash", "join", "scan"),
    3L -> Seq("dup"))
  final val AsOfServeUnionTerms: Seq[String] =
    AsOfServeQueries.flatMap(_._2).distinct
  final val ServeAsOfSnapshot = 1
  // φ-heavy hitters: word 3-grams with count >= total/5000 (boilerplate
  // phrases); CMS width 32768 >> relDiv keeps collision noise below the
  // threshold at any corpus size
  final val HhN = 3
  final val HhRelDiv = 5000L
  // q_tune_lsh_pick operating-point floor (sf0.01 sweep recalls run
  // 0.13..0.26 over depths 0..6, so 0.2 straddles -> picks depth 3)
  final val LshRecallFloor = 0.2
  final val RrfPoolN = 50     // per-retriever candidate list depth
  final val RrfKConst = 60    // the standard RRF dampening constant
  final val HybridK = 10
  final val HybridAlpha = 0.6 // text weight in the linear fusion
  final val MmrPoolN = 20     // bounded rerank pool per query
  final val MmrLambda = 0.7   // relevance/diversity trade-off
  final val MmrK = 10
  // per-query MMR λ (q_ann_mmr_multi): each qid re-ranks with its own
  // relevance/diversity trade-off — qid 2 carries the fixed rung's
  // MmrLambda so the mixed run provably reproduces it slice-for-slice
  final val MmrLambdaMultiRel: Seq[(Long, Double)] = Seq(
    0L -> 0.3, 1L -> 0.5, 2L -> MmrLambda, 3L -> 0.9)
  final val MaxSimGroup = 5   // vectors per multi-vector passage
  final val SessionGapSec = 1800
  final val PricingCutoff = "1998-09-02"
  final val TopNCustomers = 3
  final val SubsampleN = 100
  final val VocabN = 50
  final val StrataN = 20
  final val BpeTopN = 30
  final val BpeRounds = 4
  // exact-substring dedup window: 5 tokens marks 71/500 sf0.01 docs —
  // boilerplate spans without flagging every common trigram
  final val SubstrW = 5
  final val KmeansIters = 2
  // batched farthest-first seeding (q_kmeans_seed): 7 seeds = min-id
  // start + 2 rounds of 3 far picks — ceil((k-1)/L) corpus scans
  final val SeedN = 7
  final val SeedPerRound = 3
  // occupancy split (q_ivf_split_stats): cells above 3/20 = 15% of the
  // corpus (fair share at 8 cells is 12.5%) split around min-id /
  // farthest-member pivots — exact integer threshold, no float contract
  final val SplitFracNum = 3
  final val SplitFracDen = 20
  final val TempTotal = 200

  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)

  /** End-to-end multimodal pipeline: opaque blob -> batched featurizer ->
    * dense feature vectors -> exact cosine top-K — ingest, featurize, and
    * search composed in ONE lazy plan (the media analogue of
    * embed-then-search; counts are small integers, so scores are exact
    * ratio trees the oracle reproduces). */
  def qMultimodalAnn(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val v = Multimodal.featureVectors(
      Multimodal.features(Multimodal.withBlob(docs(s, dir))))
    val q = broadcast(v.orderBy("doc_id").limit(NQ)
      .select(col("doc_id").as("qid"), col("fvec").as("qvec"))
      .withColumn("nq2", norm2Sq(col("qvec"))))
    val scored = v.select(col("doc_id").as("id"), col("fvec").as("vec"))
      .withColumn("nx2", norm2Sq(col("vec")))
      .crossJoin(q)
      .withColumn("score",
        dot(col("vec"), col("qvec")) / (fnorm(col("nx2")) * fnorm(col("nq2"))))
    TopK.window(scored, K)
  }
  private def emb(s: SparkSession, dir: String)  = Tables.embeddings(s, dir)

  /** The k-NN graph AT REST: one build per (sf, params) — every
    * graph-family query (build/descent/beam-search/clusters/delete)
    * reads this layout instead of rebuilding the same graph. */
  private def knnGraphAtRest(s: SparkSession, dir: String) =
    s.read.parquet(graft.operators.Ivf.ensureKnnGraph(
      s, dir, KnnJ, IvfCells, EmbD, IvfProbe))

  /** The edge list bucketed by TARGET at rest — the holder-probe
    * sidecar every graph maintenance verb prunes on (who holds an edge
    * to these ids = a literal-IN partition-pruned read of the ids'
    * buckets, never a full edge scan). */
  private def knnGraphByTargetAtRest(s: SparkSession, dir: String) =
    Some(s.read.parquet(graft.operators.Ivf.ensureKnnGraphByTarget(
      s, graft.operators.Ivf.ensureKnnGraph(
        s, dir, KnnJ, IvfCells, EmbD, IvfProbe),
      dir, KnnJ, IvfCells, EmbD, IvfProbe)))

  /** ts arrives as LongType nanos (see Tables.events); whole seconds via
    * integer `div`, day string via from_unixtime in the UTC session. */
  private def tsSec = expr("ts div 1000000000")

  def qEventsDaily(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"),
        from_unixtime(tsSec, "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 1000).cast("long")).as("value_milli"))

  /** The daily aggregate through the salted two-phase shape (hot-key
    * fan-out over 16 reducers, then exact recombine) — bit-identical to
    * [[qEventsDaily]] on the integer domain, same oracle. */
  def qSaltedDaily(s: SparkSession, dir: String): DataFrame =
    graft.operators.Salt.sumsAndCount(
      Tables.events(s, dir)
        .withColumn("day", from_unixtime(tsSec, "yyyy-MM-dd")),
      keys = Seq("event_type", "day"), spread = col("event_id"), nSalts = 16,
      countAs = "n",
      sums = Seq((floor(col("value") * 1000).cast("long"), "value_milli")))

  def qEventsJson(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))

  def qEventsSessions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), tsSec.as("sec"), col("event_id"))
      .withColumn("prev", lag(col("sec"), 1).over(w))
      .withColumn("is_new",
        when(col("prev").isNull || col("sec") - col("prev") > SessionGapSec, 1)
          .otherwise(0))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("is_new")).cast("long").as("n_sessions"))
  }

  /** As-of join: each error event matched to the same user's most recent
    * prior purchase (SURVEY notes as-of absent in the reference; expressed
    * with an ignore-nulls last_value over an event-time frame). */
  def qEventsAsof(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), tsSec.as("sec"))
      .filter(col("event_type").isin("error", "purchase"))
      .withColumn("p_id", when(col("event_type") === "purchase", col("event_id")))
      .withColumn("p_sec", when(col("event_type") === "purchase", col("sec")))
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("asof_purchase", last(col("p_id"), ignoreNulls = true).over(w))
      .withColumn("asof_sec", last(col("p_sec"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "error" && col("asof_purchase").isNotNull)
      .select(col("event_id"), col("user_id"), col("asof_purchase"),
        (col("sec") - col("asof_sec")).cast("long").as("lag_sec"))
  }

  final val RangeBeforeSec = 300L

  /** Interval join (binned equi-join form): for each error event, how
    * many clicks the same user made in the preceding 5 minutes —
    * errors with none kept at 0. */
  def qEventsRange(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), tsSec.as("sec"))
    val err = e.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("sec"))
    val clk = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("sec").as("c_sec"))
    val cnt = graft.operators.RangeJoin
      .interval(err, clk, Seq("user_id"), "sec", "c_sec",
        before = RangeBeforeSec, after = 0L, binWidth = RangeBeforeSec)
      .groupBy(col("event_id")).agg(count(lit(1)).as("n"))
    err.join(cnt, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("n"), lit(0L)).as("n_clicks"))
  }

  /** Framed analytic windows: running sum + 3-row moving count per user. */
  def qEventsRunning(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), tsSec.as("sec"),
        floor(col("value") * 1000).cast("long").as("vm"))
    val base = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    e.select(col("event_id"), col("user_id"),
      sum(col("vm")).over(base.rowsBetween(Window.unboundedPreceding, 0))
        .as("running_vm"),
      count(lit(1)).over(base.rowsBetween(-2, 0)).as("window3_n"))
  }

  private def cents(c: org.apache.spark.sql.Column) = round(c * 100).cast("long")

  /** TPC-H Q1-style pricing summary; money kept as exact integer cents
    * (l_discount/l_tax are percent-integral: round(x*100) in 0..100). */
  def qPricing(s: SparkSession, dir: String): DataFrame = {
    val ep  = cents(col("l_extendedprice"))
    val dpc = lit(100L) - cents(col("l_discount"))
    val tpc = lit(100L) + cents(col("l_tax"))
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= to_timestamp(lit(PricingCutoff)))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(ep).as("sum_base_cents"),
        sum(ep * dpc).as("revenue_c2"),
        sum(ep * dpc * tpc).as("charge_c3"),
        count(lit(1)).as("count_order"),
        (sum(col("l_quantity").cast("long")).cast("double") / count(lit(1)))
          .as("avg_qty"))
  }

  def qTopCustomers(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("total_cents"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("total_cents").desc, col("c_custkey").asc)
    t.withColumn("rank", row_number().over(w)).filter(col("rank") <= TopNCustomers)
      .select(col("c_mktsegment"), col("c_custkey"), col("total_cents"), col("rank"))
  }

  /** §2.7 set operators over token vocabularies of two sources — one lazy
    * union-of-aggregates plan (no driver-side actions at construction). */
  def qSetOps(s: SparkSession, dir: String): DataFrame = {
    def vocab(src: String) = docs(s, dir).filter(col("source") === src)
      .select(explode(split(col("text"), " ")).as("tok")).distinct()
    val (a, b) = (vocab("src0"), vocab("src1"))
    def counted(op: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n")).select(lit(op).as("op"), col("n"))
    counted("intersect", a.intersect(b))
      .unionAll(counted("except_a", a.except(b)))
      .unionAll(counted("union", a.union(b).distinct()))
  }

  /** Grouping-set rollup over lineitem (subtotal + grand-total rows). */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))

  // sweep grid shared between the Spark run and the oracle enumeration
  // (reference sweep_and_plot sweeps delta for Hoeffding modes inside the
  // sweep, ANNCode.py:754-756; deltas head first so deterministic modes
  // keep their historical inert delta of 0.7)
  final val SweepModes  = Seq("cos_l1", "l2_tz", "cos_hoeff")
  final val SweepKeepMs = Seq(4, 8)
  final val SweepDeltas = Seq(0.7, 0.3)
  def sweepConfigs: Seq[Refine.Params] = for {
    m  <- SweepModes
    km <- SweepKeepMs
    dl <- if (m.endsWith("hoeff")) SweepDeltas else Seq(SweepDeltas.head)
  } yield Refine.Params(m, k = K, keepM = km, delta = dl)

  /** Parameter sweep (reference sweep_and_plot): 3 modes x 2 keepMs, with
    * a Hoeffding delta grid on cos_hoeff. */
  def qSweep(s: SparkSession, dir: String): DataFrame = {
    val q = Fixture.queries(Fixture.fp16VectorsCached(s, dir, D, KeepM), NQ)
      .select(col("qid"), col("qvec"))
    graft.operators.Sweep.run(
      km => Fixture.fp16VectorsCached(s, dir, D, km), q, D,
      graft.operators.Sweep.Grid(
        modes = SweepModes, keepMs = SweepKeepMs, deltas = SweepDeltas, k = K))
  }

  /** Exact group-wise quantiles over the integral value_milli domain:
    * dyadic fractions (0.25/0.5/0.75) + integer data => the linear
    * interpolation is exact in DOUBLE, so Spark's percentile and
    * DuckDB's quantile_cont agree bit-for-bit. */
  def qEventsQuantiles(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), floor(col("value") * 1000).cast("long").as("vm"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("percentile(vm, array(0.25D, 0.5D, 0.75D))").as("qs"))
      .select(col("event_type"), col("n"),
        element_at(col("qs"), 1).as("q25"),
        element_at(col("qs"), 2).as("q50"),
        element_at(col("qs"), 3).as("q75"))

  /** Sketch accuracy for [[qSketches]]: HLL relative-standard-deviation
    * and the approx_percentile accuracy parameter (rank error <= n/acc). */
  final val HllRsd = 0.02
  final val SketchAcc = 10000

  /**
   * Sketch operators graded via provable invariants: at 100 TB exact
   * distinct counts and exact quantiles are a full shuffle of the key
   * set, so the estimating sketches (HyperLogLog++ cardinality,
   * Greenwald-Khanna quantile summaries) are what actually runs — both
   * merge commutatively from partial per-partition states, no row set
   * ever centralized. Hash-matched columns: the EXACT distinct count and
   * row count (the sketches' yardsticks). Invariant columns: the HLL
   * estimate within 5x its configured rsd, and for each quantile the
   * returned element's feasible rank interval [n_lt+1, n_le] overlapping
   * the GK guarantee window p*n ± (n/acc + 1) — the algorithm's actual
   * contract, robust to duplicate values, rather than a data-dependent
   * value tolerance.
   */
  def qSketches(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"),
      floor(col("value") * 1000).cast("long").as("vm"))
    val a = e.agg(
        count_distinct(col("user_id")).as("n_users"),
        approx_count_distinct(col("user_id"), HllRsd).as("hll"),
        expr(s"approx_percentile(vm, array(0.5D, 0.95D), $SketchAcc)").as("ap"),
        count(lit(1)).as("n"))
      .select(col("n_users"), col("hll"), col("n"),
        element_at(col("ap"), 1).as("p50a"), element_at(col("ap"), 2).as("p95a"))
    def rankOk(p: Double, lt: org.apache.spark.sql.Column,
               le: org.apache.spark.sql.Column,
               n: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val slack = n.cast("double") / SketchAcc + lit(1.0)
      (lt.cast("double") + lit(1.0) <= n.cast("double") * p + slack) &&
        (le.cast("double") >= n.cast("double") * p - slack)
    }
    e.crossJoin(broadcast(a))
      .agg(first(col("n_users")).as("n_users"), first(col("hll")).as("hll"),
        first(col("n")).as("n_events"),
        sum(when(col("vm") < col("p50a"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("vm") <= col("p50a"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("vm") < col("p95a"), 1L).otherwise(0L)).as("lt95"),
        sum(when(col("vm") <= col("p95a"), 1L).otherwise(0L)).as("le95"))
      .select(col("n_users"), col("n_events"),
        (abs(col("hll") - col("n_users")).cast("double") <=
          col("n_users").cast("double") * (5 * HllRsd)).as("hll_ok"),
        rankOk(0.5, col("lt50"), col("le50"), col("n_events")).as("p50_ok"),
        rankOk(0.95, col("lt95"), col("le95"), col("n_events")).as("p95_ok"))
  }

  /** Star join: fact lineitem against broadcast part/supplier/nation
    * dims (the canonical no-shuffle dimensional join at scale), revenue
    * kept in exact integer cents. */
  def qBrandRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.load(s, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.load(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.load(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("p_brand"), col("n_name"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
          .as("revenue_c2"))

  def qRegionStats(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "region")
      .join(Tables.load(s, dir, "nation"), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.customer(s, dir), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("r_name"))
      .agg(countDistinct(col("n_nationkey")).as("n_nations"),
        count(col("c_custkey")).as("n_customers"),
        sum(cents(col("c_acctbal"))).as("acctbal_cents"))

  final val QualityFloor = 0.45

  /** End-to-end corpus cleaning — the training-data pipeline shape the
    * engine exists for, composed from the graded components: quality
    * gate -> exact dedup (min-id keeper per content digest) -> near-dup
    * cluster resolution (simhash banding + connected components,
    * component-min keeper; isolated docs keep themselves) -> per-lang
    * funnel counts. Every stage is a hash join/aggregation on a derived
    * key, so the composition inherits the components' 100 TB shape. */
  def qCorpusClean(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pass = TextOps.quality(d)
      .filter(col("quality") >= QualityFloor).select(col("doc_id"))
    // kept/exact each feed several downstream scans (pair generation,
    // component keeper join, funnel counts) — materialize once
    val kept = Dedup.persistScoped(d.join(pass, "doc_id"))
    val exactKeep = kept.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val exact = Dedup.persistScoped(kept.join(exactKeep, "doc_id"))
    val labels = Dedup.connectedComponents(
      Dedup.simhashPairs(exact, SimhashBits, MaxHamming))
    val fin = exact.join(labels, Seq("doc_id"), "left")
      .filter(col("comp").isNull || col("comp") === col("doc_id"))
    def cnt(df: DataFrame, name: String) =
      df.groupBy(col("lang")).agg(count(lit(1)).as(name))
    cnt(d, "n_raw")
      .join(cnt(kept, "nq"), Seq("lang"), "left")
      .join(cnt(exact, "ne"), Seq("lang"), "left")
      .join(cnt(fin, "nf"), Seq("lang"), "left")
      .select(col("lang"), col("n_raw"),
        coalesce(col("nq"), lit(0L)).as("n_quality"),
        coalesce(col("ne"), lit(0L)).as("n_exact"),
        coalesce(col("nf"), lit(0L)).as("n_final"))
  }

  private type QFn = (SparkSession, String) => DataFrame
  private def q(f: QFn): QFn =
    (s, dir) => { lastSfDir.set(dir); f(s, dir) }

  private def layoutKind(indexed: Boolean): Option[(Int, Int, Int)] =
    if (indexed) Some((IvfCells, EmbD, IvfProbe)) else None

  // one mutating request stream per (plan, layout kind); the oracle twin
  // is streamPlanOracleSql
  private def streamServeMutating(plan: Seq[ServePhase],
                                  indexed: Boolean): QFn = q((s, dir) =>
    graft.streaming.StreamOps.serveRequestsTieredMutatingOverStream(
      s, dir, emb(s, dir), docs(s, dir), bm25MultiQueriesOf(s, dir),
      filterMultiRelOf(s, dir), fusionMultiRelOf(s, dir),
      pageKMultiRelOf(s, dir), serveTierRelOf(s, dir),
      ServeTierLayoutScales, Bm25K1, Bm25B, RrfPoolN, PostBuckets,
      refineParams("cos_l1").alpha, layoutKind(indexed), plan))

  // The batch request serves, the full request object (per-qid terms +
  // langs + α + k bound from the stored relation, lexical post-filter,
  // vector pre-filter, per-qid min-max, α_q fusion, per-qid page cut):
  // name -> (indexed layout, as-of, ledger). The engine serves the spec
  // (Search.serveRequestsAt, or its byte ledger serveRequestsLedger,
  // the per-request accounting triple with the qid = -1 total); the
  // oracle is requestOracleSql.
  //  - indexed: the vector side off the at-rest IVF index, so both
  //    request sides read partition-pruned layouts (term buckets on the
  //    postings, probe cells + pushed lang predicate on the vector
  //    scan); its ledger counts metadata bytes only for the qid's probed
  //    cells and embeddings only for their lang matches.
  //  - as-of: TIME-TRAVEL serving at snapshot ServeAsOfSnapshot of the
  //    document-update log, both sides versioned in one plan (snapshot
  //    postings for the lexical pool, flipped-prefix vectors for the
  //    vector pool, the index merge-on-read); qid 0's terms include the
  //    update token, so the snapshot choice is visible in candidacy
  //    itself, and in its ledger's t_cands/bytes_text.
  private val RequestServes: Seq[(String, (Boolean, Boolean, Boolean))] =
    Seq(
      "q_serve_requests" -> (false, false, false),
      "q_serve_requests_metrics" -> (false, false, true),
      "q_serve_requests_asof" -> (false, true, false),
      "q_serve_requests_asof_metrics" -> (false, true, true),
      "q_serve_requests_indexed" -> (true, false, false),
      "q_serve_requests_indexed_asof" -> (true, true, false),
      "q_serve_requests_indexed_metrics" -> (true, false, true))

  private def requestServe(indexed: Boolean, asOf: Boolean,
                           ledger: Boolean): QFn = q { (s, dir) =>
    import graft.operators.Search
    val req = Search.Requests(
      if (asOf) asOfServeQueriesOf(s, dir) else bm25MultiQueriesOf(s, dir),
      filterMultiRelOf(s, dir), fusionMultiRelOf(s, dir),
      pageKMultiRelOf(s, dir), Bm25K1, Bm25B, RrfPoolN, PostBuckets)
    val snap = Option.when(asOf)(Search.UpdateLog(Bm25UpsertMod,
      PostingsUpsertToken, ServeAsOfSnapshot))
    if (ledger) Search.serveRequestsLedger(s, dir, emb(s, dir), docs(s, dir),
      req, layoutKind(indexed), snap, EmbD)
    else Search.serveRequestsAt(s, dir, emb(s, dir), docs(s, dir), req,
      layoutKind(indexed), snap)
  }

  // The batch tiered serves at PER-REQUEST PRECISION, the title knob
  // composed into serving: name -> (indexed layout, snapshot, ledger).
  // The engine serves the spec (Search.serveRequestsTiered, or its byte
  // ledger serveRequestsTieredMetrics; TierSnapshot states each case's
  // semantics); the oracle recomputes the snapshot's (negMod, delMod)
  // corpus view from scratch (snapshotMods, tieredOracleSql). The logs
  // serve snapshot TieredAsOfSnapshot, between their two commits; the
  // mixed log serves snapshot 2, upserted then deleted.
  private val TieredServes: Seq[(String, (Boolean, TierSnapshot, Boolean))] = {
    import TierSnapshot._
    val (u, dm, v) = (UpsertMod, DeleteMod, TieredAsOfSnapshot)
    val logCompacted = UpsertLog(u, v, compacted = true)
    Seq(
      "q_serve_requests_tiered" -> (false, Pristine, false),
      "q_serve_requests_tiered_metrics" -> (false, Pristine, true),
      "q_serve_requests_tiered_upsert" -> (false, Upserted(u), false),
      "q_serve_requests_tiered_upsert_metrics" -> (false, Upserted(u), true),
      "q_serve_requests_tiered_asof" -> (false, UpsertLog(u, v), false),
      "q_serve_requests_tiered_asof_metrics" ->
        (false, UpsertLog(u, v), true),
      "q_serve_requests_tiered_asof_compact" -> (false, logCompacted, false),
      "q_serve_requests_tiered_mixed_asof" ->
        (false, MixedLog(u, dm, 2), false),
      "q_serve_requests_tiered_delete" -> (false, Deleted(dm), false),
      "q_serve_requests_tiered_delete_metrics" -> (false, Deleted(dm), true),
      "q_serve_requests_tiered_delete_asof" ->
        (false, DeleteLog(dm, v), false),
      "q_serve_requests_tiered_delete_asof_metrics" ->
        (false, DeleteLog(dm, v), true),
      "q_serve_requests_tiered_indexed" -> (true, Pristine, false),
      "q_serve_requests_tiered_indexed_metrics" -> (true, Pristine, true),
      "q_serve_requests_tiered_indexed_upsert" -> (true, Upserted(u), false),
      "q_serve_requests_tiered_indexed_upsert_metrics" ->
        (true, Upserted(u), true),
      "q_serve_requests_tiered_indexed_asof" ->
        (true, UpsertLog(u, v), false),
      "q_serve_requests_tiered_indexed_asof_compact" ->
        (true, logCompacted, false),
      "q_serve_requests_tiered_indexed_delete" -> (true, Deleted(dm), false),
      "q_serve_requests_tiered_indexed_delete_metrics" ->
        (true, Deleted(dm), true),
      "q_serve_requests_tiered_indexed_delete_asof" ->
        (true, DeleteLog(dm, v), false))
  }

  private def tieredServe(indexed: Boolean, snap: TierSnapshot,
                          ledger: Boolean): QFn = q { (s, dir) =>
    val req = graft.operators.Search.TieredRequests(
      bm25MultiQueriesOf(s, dir), filterMultiRelOf(s, dir),
      fusionMultiRelOf(s, dir), pageKMultiRelOf(s, dir),
      serveTierRelOf(s, dir), ServeTierLayoutScales, Bm25K1, Bm25B,
      RrfPoolN, PostBuckets, refineParams("cos_l1").alpha)
    if (ledger) graft.operators.Search.serveRequestsTieredMetrics(s, dir,
      emb(s, dir), docs(s, dir), req, layoutKind(indexed), snap, EmbD)
    else graft.operators.Search.serveRequestsTiered(s, dir, emb(s, dir),
      docs(s, dir), req, layoutKind(indexed), snap)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map[String, QFn](
    "q_topk_cos" -> q((s, dir) => qTopkCos(s, dir)),
    "q_topk_l2"  -> q((s, dir) => qTopkL2(s, dir)),
    "q_topk_cos_vecsrc" -> q((s, dir) => qTopkCosVecSource(s, dir)),
    "q_topk_cos_dispatch" -> q((s, dir) => qTopkCosDispatch(s, dir)),
    "q_topk_cos_fvecs"  -> q((s, dir) => qTopkCosFvecsSource(s, dir)),
    "q_topk_cos_binsrc" -> q((s, dir) => qTopkCosBinSource(s, dir)),
    "q_reduce_precision" -> q((s, dir) => qReducePrecision(s, dir)),
    "q_refine_metrics"   -> q((s, dir) => qRefineMetrics(s, dir)),
    "q_refine_metrics_compressed" -> q((s, dir) => qRefineMetricsCompressed(s, dir)),
    // dedup suite
    "q_dedup_exact"   -> q((s, dir) => Dedup.exact(docs(s, dir))),
    "q_minhash_lsh"   -> q((s, dir) => Dedup.lshPairs(
      Dedup.minhashSignatures(Dedup.wordNgrams(docs(s, dir), Shingle), NumHashes),
      Bands, RowsPerBand)),
    "q_simhash"       -> q((s, dir) =>
      Dedup.simhashPairs(docs(s, dir), SimhashBits, MaxHamming)),
    // cluster resolution over the near-dup graph: canonical keeper per
    // connected component (min-label propagation to the exact fixpoint)
    "q_dedup_groups"  -> q((s, dir) => Dedup.connectedComponents(
      Dedup.simhashPairs(docs(s, dir), SimhashBits, MaxHamming))),
    "q_corpus_clean"  -> q((s, dir) => qCorpusClean(s, dir)),
    "q_ngram_jaccard" -> q((s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), JaccardN, MinJaccard, MaxGramDf)),
    "q_decontaminate" -> q((s, dir) => {
      val d = docs(s, dir)
      Dedup.decontaminate(
        d.filter(col("doc_id") % DecontamEvalMod =!= 0),
        d.filter(col("doc_id") % DecontamEvalMod === 0), DecontamN)
    }),
    "q_chunk_docs" -> q((s, dir) =>
      TextOps.chunkDocs(docs(s, dir), ChunkTokens, ChunkOverlap)),
    "q_pack_sequences" -> q((s, dir) =>
      TextOps.packSequences(docs(s, dir), PackBudget)),
    // text analysis
    "q_token_stats" -> q((s, dir) => TextOps.tokenStats(docs(s, dir))),
    // vocabulary seed: global top-N tokens, total-order (count desc, tok)
    // tie-break so the selected set is deterministic
    "q_vocab" -> q((s, dir) => docs(s, dir)
      .select(explode(Dedup.tokens(col("text"))).as("tok"), col("doc_id"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("tok"))
      .limit(VocabN)),
    // BPE vocabulary induction, merge round 1: frequency-weighted
    // adjacent-pair counts over the word-frequency table (corpus read
    // once; pair counting runs over the bounded vocabulary)
    "q_bpe_merge" -> q((s, dir) =>
      TextOps.bpePairCounts(docs(s, dir), BpeTopN)),
    // ... and the full iterative BPE TRAINING LOOP: per round, count
    // pairs over the symbolized vocabulary, pick the top merge (1-row
    // collect — the model), apply it, repeat — the trained merge table
    "q_bpe_train" -> q((s, dir) =>
      TextOps.bpeTrain(docs(s, dir), BpeRounds)),
    // ... and ENCODING with the trained tokenizer (the apply half of
    // the lifecycle): merges applied over the distinct-word vocabulary,
    // per-doc token counts via a broadcast word->count join
    "q_bpe_encode" -> q((s, dir) =>
      TextOps.bpeEncode(docs(s, dir), BpeRounds)),
    // exact-substring (span-level) dedup, Lee-et-al-style: w-token
    // windows occurring >= 2 times corpus-wide, per-doc merged-interval
    // duplicated-token coverage
    "q_substring_dedup" -> q((s, dir) =>
      Dedup.substringDedup(docs(s, dir), SubstrW)),
    // ... and the span-removal CLEAN itself: every duplicated window
    // deleted everywhere but its canonical min-(doc_id,pos) occurrence —
    // the cleaned corpus text is the hash-checked artifact
    "q_substring_clean" -> q((s, dir) =>
      Dedup.substringClean(docs(s, dir), SubstrW)),
    // temperature-flattened multilingual sampling (α = 0.5): per-lang
    // √n budgets, exact-count md5-keyed selection per language
    "q_temp_sample" -> q((s, dir) =>
      TextOps.temperatureSample(docs(s, dir), TempTotal)),
    // stratified sample: exact-count md5-keyed selection per lang stratum
    "q_stratified_sample" -> q((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(md5(concat(col("doc_id").cast("string"), lit(":42"))), col("doc_id"))
      docs(s, dir).select(col("doc_id"), col("lang"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= StrataN)
        .select(col("doc_id"), col("lang"))
    }),
    "q_lang_id"     -> q((s, dir) => TextOps.langId(docs(s, dir))),
    "q_quality"     -> q((s, dir) => TextOps.quality(docs(s, dir))),
    "q_fingerprint" -> q((s, dir) => TextOps.fingerprint(docs(s, dir))),
    // PII scrub: the synthetic corpus carries no addresses or digits, so
    // the query INJECTS deterministic PII derived from doc_id (the usual
    // fixture-synthesis rule — the oracle states the same injection in
    // closed form) and grades the scrubber on counts AND the full
    // cleaned text
    "q_pii_scrub"   -> q((s, dir) => TextOps.scrubPii(
      docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com ref "),
          (col("doc_id") * 7919L + 123456789L).cast("string")).as("text")))),
    // P7 seeded subsample (reference ANNCode.py:68-71) + sample-then-stat:
    // exact-count md5-keyed selection, invariant under partitioning
    "q_subsample"   -> q((s, dir) => graft.sources.VecFiles.subsample(
        docs(s, dir).select(col("doc_id").as("id"), col("lang")), SubsampleN)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))),
    "q_token_bpe"   -> q((s, dir) => TextOps.bpeUnits(docs(s, dir))),
    "q_repetition"  -> q((s, dir) => TextOps.repetition(docs(s, dir), JaccardN)),
    // similarity search over embeddings
    "q_ann_brute"   -> q((s, dir) => Ann.bruteTopK(emb(s, dir), NQ, K)),
    // Matryoshka prefix rung: cheap rank over the first PrefixD of EmbD
    // components (the dimension-axis bandwidth knob), exact full-width
    // rescore of the bounded survivor set; at rest the prefix is its own
    // column chunk so the byte saving is physical column pruning
    "q_ann_prefix"  -> q((s, dir) =>
      Ann.prefixTopK(emb(s, dir), NQ, K, PrefixD, PrefixRerank)),
    "q_ann_prefix_at_rest" -> q((s, dir) =>
      Ann.prefixTopKAtRest(s, dir, emb(s, dir), NQ, K, EmbD, PrefixD,
        PrefixRerank)),
    // index TRAINING: one Lloyd iteration of the coarse quantizer —
    // nearest-centroid assignment, then the retrained centroid
    // components as per-(cell, dim) means (order-deterministic fold)
    "q_kmeans_step" -> q((s, dir) => graft.operators.Ivf.kmeansStep(
      emb(s, dir), IvfCells, EmbD)),
    // SPHERICAL k-means (Dhillon-Modha): angular assignment, ordered
    // means, sphere projection — the cosine-metric trainer; output
    // carries both the raw Lloyd mean and the unit centroid
    "q_kmeans_spherical" -> q((s, dir) => graft.operators.Ivf
      .kmeansSphericalStep(emb(s, dir), IvfCells, EmbD)),
    // ... and IVF SERVED with the spherically-trained unit centroids:
    // assignment/probing by plain dot (== cosine against unit vectors),
    // exact cosine rescore — the cosine twin of q_ann_ivf_lloyd
    "q_ann_ivf_spherical" -> q((s, dir) => graft.operators.Ivf
      .topkSpherical(emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe)),
    // ... COMPOSED with the residual-PQ core: the cosine production
    // string — spherically-trained float unit centroids as the coarse
    // quantizer, residual r = x - u_cell PQ-encoded, ADC cosine
    // estimate cheap pass, exact rescore (the cosine twin of the L2
    // "OPQ,IVF,PQ" composition)
    "q_ann_ivf_spherical_pq" -> q((s, dir) => graft.operators.Pq
      .topkSphericalResidual(emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe,
        PqM, PqCodes, PqRerank)),
    // ... and its SAMPLED-TRAIN rung — the 100 TB training path on the
    // engine's largest remaining full-corpus pass: the spherical Lloyd
    // step runs over the counter-keyed sample only (the trained_sampled
    // stride, derived once from the corpus count), then encode, probes,
    // and serve cover everything with the sample-trained units
    "q_ann_spherical_pq_sampled" -> q((s, dir) => graft.operators.Pq
      .topkSphericalResidual(emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe,
        PqM, PqCodes, PqRerank, pqTrainSampleEvery(s, dir))),
    // ... and the composed cosine string AT REST: codes + original
    // vectors partitioned by trained cell, probe cells a static
    // partition filter, cheap scan reading code columns only (PlanSpec)
    // — hash-equal to the in-memory rung, same oracle
    "q_ann_ivf_spherical_pq_at_rest" -> q((s, dir) => graft.operators.Pq
      .topkSphericalResidualAtRest(s, dir, emb(s, dir), NQ, K, IvfCells,
        EmbD, IvfProbe, PqM, PqCodes, PqRerank)),
    // ... and its merge-on-read DELETE path: tombstones anti-joined out
    // of cheap candidates AND the rescore fetch; trained model and
    // assignment stay STALE (training predates the delete commit) —
    // lifecycle parity for the new layout on day one
    // ... the composed cosine string at the reference's MS MARCO-class
    // width (D=1024): spherical training, residual encode, ADC estimate
    // and rescore all at 1024 dims on the tiny deterministic slice —
    // width is what this row proves (the composed serve is the engine's
    // widest codegen tree; TrainFoldSpec asserts it still compiles
    // whole-stage at this width)
    "q_ann_ivf_spherical_pq_d1024" -> q((s, dir) =>
      qAnnSphericalPqD1024(s, dir)),
    // ... and the WIDE layout AT REST — the paper's §3.3 bandwidth
    // story is column pruning ON DISK, and at the production widths
    // the cell-partitioned at-rest layout is where it pays: probe
    // cells prune statically, the cheap scan reads (id, cell, code)
    // only at D=1024 (PlanSpec asserts pruning + compiled codegen)
    "q_ann_ivf_spherical_pq_d1024_at_rest" -> q((s, dir) =>
      qAnnSphericalPqD1024AtRest(s, dir)),
    // ... and at the reference's LARGEST width (D=3072): the composed
    // cosine string trains/encodes/serves where the fold trees are at
    // their absolute widest — tiny-N slice, same relational wide oracle
    "q_ann_ivf_spherical_pq_d3072" -> q((s, dir) =>
      qAnnSphericalPqD3072(s, dir)),
    // ... and its at-rest twin: the un-read vec column is 3072 floats —
    // the widest physical form of the on-disk pruning win
    "q_ann_ivf_spherical_pq_d3072_at_rest" -> q((s, dir) =>
      qAnnSphericalPqD3072AtRest(s, dir)),
    "q_ann_ivf_spherical_pq_delete" -> q((s, dir) => graft.operators.Pq
      .topkSphericalResidualAtRestWithDeletes(s, dir, emb(s, dir), NQ, K,
        IvfCells, EmbD, IvfProbe, PqM, PqCodes, PqRerank, DeleteMod)),
    // ... and STREAM-MAINTAINED: the model trains once from the base
    // corpus, every microbatch encodes arrivals with the identical
    // literal-folded projection — drained layout row-identical to the
    // batch build, hash-equal queries (shared oracle)
    "q_stream_ann_spherical_pq" -> q((s, dir) => graft.operators.Pq
      .topkSphericalResidualOffCodes(s, graft.streaming.StreamOps
        .ensureStreamSphericalCodes(s, dir, IvfCells, EmbD, PqM, PqCodes),
        emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe, PqM, PqCodes,
        PqRerank)),
    // ... and merge-on-read UPSERT — the last CRUD verb on the composed
    // layout: updated rows re-encoded against the STALE model land in
    // their NEW cells with NEW codes and rescore to NEW values; base
    // files never rewritten
    "q_ann_spherical_pq_upsert" -> q((s, dir) => graft.operators.Pq
      .topkSphericalResidualAtRestUpserted(s, dir, emb(s, dir), NQ, K,
        IvfCells, EmbD, IvfProbe, PqM, PqCodes, PqRerank, UpsertMod)),
    // ... and upsert TIME TRAVEL on the composed layout: revision-
    // stamped re-encoded delta segments served as-of commit 1
    "q_ann_spherical_pq_upsert_asof" -> q((s, dir) => graft.operators.Pq
      .topkSphericalResidualAtRestUpsertedAsOf(s, dir, emb(s, dir), NQ,
        K, IvfCells, EmbD, IvfProbe, PqM, PqCodes, PqRerank, UpsertMod,
        asOf = 1)),
    // ... and the stream layout COMPACTED (the generic cell-layout
    // OPTIMIZE applies unchanged): row-identical, hash-equal queries
    "q_ann_spherical_pq_compact" -> q((s, dir) => graft.operators.Pq
      .topkSphericalResidualOffCodes(s, graft.operators.Pq
        .compactCodesLayout(s, graft.streaming.StreamOps
          .ensureStreamSphericalCodes(s, dir, IvfCells, EmbD, PqM,
            PqCodes)),
        emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe, PqM, PqCodes,
        PqRerank)),
    // ... and TIME TRAVEL on the spherical layout — the append-only
    // versioned delete log served AS-OF commit 1 (only ids ≡ 0 mod
    // 2·DeleteMod gone; commit 2's ≡ DeleteMod rows still live): the
    // last CRUD verb the composed cosine index was missing. Snapshot
    // choice filters the bounded sidecar before the anti-join; base
    // files and the trained model shared by every snapshot
    "q_ann_spherical_pq_delete_asof" -> q((s, dir) => graft.operators.Pq
      .topkSphericalResidualAtRestWithDeletesAsOf(s, dir, emb(s, dir),
        NQ, K, IvfCells, EmbD, IvfProbe, PqM, PqCodes, PqRerank,
        DeleteMod, asOf = 1)),
    // ... and the INIT the Lloyd rounds start from: batched
    // farthest-first seeding (deterministic k-means++/k-means|| — L far
    // picks per corpus scan, min-id start, ties to the smaller id)
    "q_kmeans_seed" -> q((s, dir) => graft.operators.Ivf.kmeansSeed(
      emb(s, dir), SeedN, SeedPerRound, EmbD)),
    // ... and SERVE with the seeds as the coarse quantizer — seeding
    // that actually indexes (assignment + probe ranking against the
    // picked vectors, exact cosine over probed cells)
    "q_ann_ivf_seeded" -> q((s, dir) => graft.operators.Ivf.topkSeeded(
      emb(s, dir), NQ, K, SeedN, SeedPerRound, EmbD, IvfProbe)),
    // index MAINTENANCE for cell skew: occupancy-rebalancing split —
    // hot cells (> 15% of the corpus) split around deterministic
    // min-id / farthest-member pivots; the report is the post-split
    // (cell, sub, occ) occupancy table
    "q_ivf_split_stats" -> q((s, dir) => graft.operators.Ivf.splitStats(
      emb(s, dir), IvfCells, EmbD, SplitFracNum, SplitFracDen)),
    // ... and SERVE over the rebalanced cells: probe ranking against
    // per-(cell, sub) representatives, exact cosine within — at equal
    // nprobe the probed corpus fraction shrinks by what the split
    // moved out of the hot cells
    "q_ann_ivf_split" -> q((s, dir) => graft.operators.Ivf.topkSplit(
      emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe, SplitFracNum,
      SplitFracDen)),
    // ... and the rebalance AT REST: only the hot cells' partitions are
    // re-written (a (cell, sub)-partitioned sidecar beside the
    // immutable base index — merge-on-read for maintenance); probed
    // unsplit cells read the base, probed halves read the sidecar
    "q_ann_ivf_split_at_rest" -> q((s, dir) =>
      graft.operators.Ivf.topkSplitAtRest(
        s, dir, emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe,
        SplitFracNum, SplitFracDen)),
    // ... and SERVE with the retrained centroids: the Lloyd means baked
    // into a full IVF query path (bounded model collect, cell-pruned
    // exact cosine) — training that actually serves
    "q_ann_ivf_lloyd" -> q((s, dir) => graft.operators.Ivf.topkLloyd(
      emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe)),
    // ... and the CONVERGENCE LEDGER: the Lloyd loop run for 2
    // iterations, per-iteration (sse, occupied cells) — monotone
    // non-increasing by Lloyd's two half-steps
    "q_kmeans_converge" -> q((s, dir) => graft.operators.Ivf.kmeansConverge(
      emb(s, dir), IvfCells, EmbD, KmeansIters)),
    // ... and the SAMPLED trainer — the coarse quantizer's 100 TB
    // training path as a declared rung: the whole Lloyd loop
    // (assignment, SSE ledger, retrain) over the counter-keyed sample
    // (ids ≡ 0 mod stride, stride ∝ N so the train set stays bounded);
    // the ledger is the trainer's own objective on its own train set
    "q_kmeans_converge_sampled" -> q((s, dir) =>
      graft.operators.Ivf.kmeansConverge(
        emb(s, dir).filter(org.apache.spark.sql.functions.col("vec_id")
          % kmTrainSampleEvery(s, dir) === 0),
        IvfCells, EmbD, KmeansIters)),
    // PQ codebook training (the FAISS ProductQuantizer::train step):
    // one Lloyd iteration of the per-subspace codebooks off the dyadic
    // init — (m, code, j, n, mean) with the order-deterministic fold
    "q_pq_train" -> q((s, dir) => graft.operators.Pq.trainStep(
      emb(s, dir), PqM, PqCodes, EmbD)),
    // ... and the IVF-PQ rung served with the RETRAINED codebooks:
    // trained encode + trained ADC table (bounded model collect),
    // rerank cut, exact rescore
    "q_ann_ivf_pq_trained" -> q((s, dir) => graft.operators.Pq.topkTrained(
      emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe, PqM, PqCodes,
      PqRerank)),
    // ... and SAMPLED training — the 100 TB training path as a rung:
    // the Lloyd pass runs over the deterministic counter-keyed sample
    // (~PqTrainPerCode vectors per code, stride from the corpus count),
    // then everything is encoded and served with the sample-trained
    // codebooks — training cost one bounded-sample pass, never a
    // corpus pass; recall floor spec-asserted against the exact scan
    "q_ann_ivf_pq_trained_sampled" -> q((s, dir) =>
      graft.operators.Pq.topkTrained(emb(s, dir), NQ, K, IvfCells, EmbD,
        IvfProbe, PqM, PqCodes, PqRerank, pqTrainSampleEvery(s, dir))),
    // quantization-error ANALYZE: per-subspace init vs retrained SSE —
    // Lloyd monotonicity makes trained <= init in every subspace
    "q_pq_distortion" -> q((s, dir) => graft.operators.Pq.distortion(
      emb(s, dir), PqM, PqCodes, EmbD)),
    // IVF x PREFIX: the production two-stage configuration — the coarse
    // quantizer prunes cells, the width axis prunes bytes within them;
    // scan cost ~ (nprobe/nCells) * (dPrefix/d) of the brute pass
    "q_ann_ivf_prefix" -> q((s, dir) => graft.operators.Ivf.topkPrefix(
      emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe, PrefixD, PrefixRerank)),
    // ZERO-MISS width-axis refinement: prefix-partial score + a
    // Cauchy-Schwarz tail cushion, seeds/tau0/early-rejection/exact
    // rescore — the reference's refine discipline on the dimension axis,
    // provably equal to the exact scan (the oracle IS the brute oracle)
    "q_refine_prefix" -> q((s, dir) =>
      Ann.prefixRefineTopK(emb(s, dir), NQ, K, EmbD, PrefixRefineD)),
    "q_refine_prefix_at_rest" -> q((s, dir) =>
      Ann.prefixRefineTopKAtRest(s, dir, emb(s, dir), NQ, K, EmbD,
        PrefixRefineD)),
    // the zero-miss width rung over the STREAM-MAINTAINED prefix layout
    // (arrivals drained shard-per-trigger, batch writer's projection
    // applied per microbatch) — content equals the batch layout, and
    // zero-miss equals the exact scan regardless: brute oracle
    "q_stream_ann_prefix" -> q((s, dir) => graft.streaming.StreamOps
      .prefixRefineOverStream(s, dir, emb(s, dir), NQ, K, EmbD,
        PrefixRefineD)),
    // ... and its bandwidth ledger: fetched count, measured recall
    // (provably 1.0), save vs the 4dNQ exact baseline, survivor fpr
    "q_refine_prefix_metrics" -> q((s, dir) =>
      Ann.prefixRefineMetrics(emb(s, dir), NQ, K, EmbD, PrefixRefineD)),
    // the RUNG LADDER — the reference's headline figure as one table:
    // recall@k vs cheap-pass bytes/vec for every precision rung (PQ 4 B,
    // BQ 8 B, SQ4 d/2, SQ8 d, prefix 4*PrefixD, exact 4*d); every arm is
    // a bounded top-k result, so the comparison costs no more than the
    // rungs themselves
    "q_rung_ladder" -> q((s, dir) => {
      val e = emb(s, dir)
      val gt = Ann.bruteTopK(e, NQ, K)
      graft.operators.Ladder.recallTable(s, Seq(
        ("pq_4b_code", 4, graft.operators.Pq.topk(
          e, NQ, K, IvfCells, EmbD, IvfProbe, PqM, PqCodes, PqRerank)),
        ("bq_1bit", 8, graft.operators.Bq.topk(e, NQ, K, BqRerank, EmbD)),
        ("sq4_nibble", EmbD / 2, graft.operators.Ivf.topkSq4(
          e, NQ, K, IvfCells, EmbD, IvfProbe, EmbSq4ScaleLog2, Sq4Rerank)),
        ("sq8_int8", EmbD, graft.operators.Ivf.topkSq8(
          e, NQ, K, IvfCells, EmbD, IvfProbe, EmbSq8ScaleLog2, Sq8Rerank)),
        (s"prefix${PrefixD}_fp32", 4 * PrefixD,
          Ann.prefixTopK(e, NQ, K, PrefixD, PrefixRerank)),
        // the zero-miss width rung: recall is 1.0 BY PROOF (its oracle
        // arm is literally the brute arm), at 4*PrefixRefineD + 16
        // cheap-pass bytes — the "free lunch" point of the ladder
        (s"prefix${PrefixRefineD}_zeromiss", 4 * PrefixRefineD + 16,
          Ann.prefixRefineTopK(e, NQ, K, EmbD, PrefixRefineD)),
        ("exact_fp32", 4 * EmbD, gt)), gt, NQ * K)
    }),
    "q_ann_ivf"     -> q((s, dir) => Ann.ivfTopK(emb(s, dir), NQ, K)),
    "q_ann_ivf_index" -> q((s, dir) =>
      graft.operators.Ivf.topk(emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe)),
    // the same index AT REST: cell-partitioned parquet, probe cells pushed
    // into the scan as a partition filter (PlanSpec asserts the pruning)
    "q_ann_ivf_at_rest" -> q((s, dir) => graft.operators.Ivf.topkIndexed(
      s, dir, emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe)),
    // ... with the PROBE DEPTH as a relation: each qid probes its own
    // cell count from the stored relation (per-tenant latency/recall
    // knob); one ranked probe pass to the largest depth, union-of-cells
    // partition filter
    "q_ann_ivf_multi_probe" -> q((s, dir) => graft.operators.Ivf
      .topkIndexedMultiProbe(s, dir, emb(s, dir),
        nprobeMultiRelOf(s, dir), K, IvfCells, EmbD)),
    // ... and per-qid RERANK depth on the quantized at-rest path: each
    // qid exact-rescores its own prefix of the shared ADC ranking (the
    // rn <= max literal keeps the map-side WindowGroupLimit) — the
    // latency/recall knob of the PQ serving string as a relation
    "q_ann_ivf_pq_multi_rerank" -> q((s, dir) => graft.operators.Pq
      .topkAtRestMultiRerank(s, dir, emb(s, dir), K, IvfCells, EmbD,
        IvfProbe, PqM, PqCodes, rerankMultiRelOf(s, dir))),
    // IVF-SQ8: cell pruning + int8 quantized cheap rank + rerank-deep
    // exact rescore — the canonical vector-DB bandwidth configuration
    "q_ann_ivf_sq8" -> q((s, dir) => graft.operators.Ivf.topkSq8(
      emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe, EmbSq8ScaleLog2, Sq8Rerank)),
    // IVF-SQ4: the 4-bit rung between BQ and SQ8 — 16-level clamped
    // codes, cheap rank at half SQ8's bytes, deeper rerank; at rest two
    // codes pack per byte so the cheap scan reads d/2 bytes/row
    "q_ann_ivf_sq4" -> q((s, dir) => graft.operators.Ivf.topkSq4(
      emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe, EmbSq4ScaleLog2, Sq4Rerank)),
    // ... and the packed at-rest twin (identical rows; the cheap scan
    // reads only the packed nibble column with cell partition pruning)
    "q_ann_sq4_at_rest" -> q((s, dir) => graft.operators.Ivf.topkSq4AtRest(
      s, dir, emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe, EmbSq4ScaleLog2,
      Sq4Rerank)),
    // IVF-PQ: product-quantized ADC cheap rank (query-side lookup table,
    // candidate-side code picks) + rerank-deep exact rescore
    "q_ann_ivf_pq" -> q((s, dir) => graft.operators.Pq.topk(
      emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe, PqM, PqCodes, PqRerank)),
    // the same PQ pipeline AT REST: packed 32-bit code words in a
    // cell-partitioned parquet layout — the cheap pass is partition-pruned
    // to the probe cells and reads ONLY the code column (PlanSpec asserts
    // both); hash-equal to q_ann_ivf_pq
    "q_ann_ivf_pq_at_rest" -> q((s, dir) => graft.operators.Pq.topkAtRest(
      s, dir, emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe, PqM, PqCodes,
      PqRerank)),
    // CONTINUOUS TOP-K: the ANN result as an incrementally-maintained
    // materialized view (flatMapGroupsWithState k-heaps, one per query);
    // top-k of a set is arrival-order-invariant, so the drained view
    // provably equals the batch brute scan and shares its oracle
    "q_stream_topk_view" -> q((s, dir) => graft.streaming.StreamOps
      .streamTopKViewOnce(s, dir, emb(s, dir), NQ, K)),
    // STREAMING QUERY SERVING: the queries arrive as the stream, the
    // index is the static at-rest layout; each microbatch serves its
    // arriving queries through the full PQ pipeline — drained union
    // row-identical to the batch run (per-query top-k is independent),
    // so it shares q_ann_ivf_pq_at_rest's oracle
    "q_stream_ann_serve" -> q((s, dir) => graft.streaming.StreamOps
      .annServeOverStream(s, dir, emb(s, dir), NQ, K, IvfCells, EmbD,
        IvfProbe, PqM, PqCodes, PqRerank)),
    // DISTRIBUTED INDEX BUILD: each shard encodes its own slice into its
    // own cell-partitioned layout, shards merge at rest as pure file
    // moves (no row decoded), queries serve off the merged layout —
    // hash-equal to the whole-corpus build q_ann_ivf_pq
    "q_ann_ivf_pq_sharded" -> q((s, dir) => graft.operators.Pq.topkOffCodes(
      s, graft.operators.Pq.ensureMergedShardsFixture(s, dir, IvfCells, EmbD,
        PqM, PqCodes, PqShards),
      emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe, PqM, PqCodes, PqRerank)),
    // the full index lifecycle COMPOSED: train codebooks, persist the
    // TRAINED codes cell-partitioned, serve off the layout — hash-equal
    // to the in-memory trained rung q_ann_ivf_pq_trained (training is
    // deterministic, so layout and re-derived ADC model agree)
    "q_ann_ivf_pq_trained_at_rest" -> q((s, dir) =>
      graft.operators.Pq.topkTrainedAtRest(
        s, dir, emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe, PqM, PqCodes,
        PqRerank)),
    // the scalar-quantizer lifecycle composed the same way: trained
    // per-dimension ranges encode the corpus once, the d-byte codes
    // persist cell-partitioned, serve re-derives the (deterministic)
    // ranges and dequantizes off the layout — hash-equal to the
    // in-memory trained rung q_ann_ivf_sq8t
    "q_ann_ivf_sq8t_at_rest" -> q((s, dir) =>
      graft.operators.Ivf.topkSq8TrainedAtRest(
        s, dir, emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe, Sq8Rerank)),
    // merge-on-read DELETES over the at-rest PQ layout: the delete set
    // is a tiny (id) tombstone sidecar anti-joined by both passes (the
    // relational form of a deletion vector); compaction later applies it
    // physically with hash-equal results (PqSpec asserts)
    // TIME TRAVEL over the delete log: serve the snapshot as of commit 1
    // (only ids ≡ 0 mod 2·DeleteMod deleted yet); the base layout is
    // immutable so every historical snapshot is a sidecar filter away
    "q_ann_pq_delete_asof" -> q((s, dir) => graft.operators.Pq
      .topkAtRestWithDeletesAsOf(s, dir, emb(s, dir), NQ, K, IvfCells,
        EmbD, IvfProbe, PqM, PqCodes, PqRerank, DeleteMod, asOf = 1)),
    // ... and the same snapshot off the STREAM-MAINTAINED versioned log
    // (commit versions travel IN the rows, so the drained log is
    // arrival-order-invariant) — shares q_ann_pq_delete_asof's oracle
    "q_stream_ann_delete_asof" -> q((s, dir) => graft.streaming.StreamOps
      .pqDeletesAsOfOverStream(s, dir, emb(s, dir), NQ, K, IvfCells,
        EmbD, IvfProbe, PqM, PqCodes, PqRerank, DeleteMod, asOf = 1)),
    "q_ann_pq_delete" -> q((s, dir) => graft.operators.Pq
      .topkAtRestWithDeletes(s, dir, emb(s, dir), NQ, K, IvfCells, EmbD,
        IvfProbe, PqM, PqCodes, PqRerank, DeleteMod)),
    // merge-on-read UPSERT — the last letter of CRUD on the quantized
    // index: updated ids re-encoded (new cells, new codes, new rescore
    // values) in their own cell-partitioned delta layer; the base is
    // anti-joined on the delta's id set and never rewritten
    "q_ann_pq_upsert" -> q((s, dir) => graft.operators.Pq
      .topkAtRestUpserted(s, dir, emb(s, dir), NQ, K, IvfCells, EmbD,
        IvfProbe, PqM, PqCodes, PqRerank, UpsertMod)),
    // ... and upsert COMPACTION on the quantized family — the OPTIMIZE
    // folding the re-encoded delta into the base, one id-sorted file
    // per cell; plain serve, no anti-join or delta union at query
    // time, hash-equal to the merge-on-read upsert (same oracle)
    "q_ann_pq_upsert_compact" -> q((s, dir) => graft.operators.Pq
      .topkOffCodes(s, graft.operators.Pq.compactCodesUpsertMerge(
          s, dir, IvfCells, EmbD, PqM, PqCodes, UpsertMod),
        emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe, PqM, PqCodes,
        PqRerank)),
    // ... and TIME TRAVEL on the UPDATE log — the half of the snapshot
    // story deletes already had: revision-stamped re-encoded delta
    // segments beside the byte-immutable base, served as-of commit 1
    // (only ids ≡ 0 mod 2·UpsertMod updated); every snapshot
    // hash-equal to re-encoding the corpus at that snapshot's values
    "q_ann_pq_upsert_asof" -> q((s, dir) => graft.operators.Pq
      .topkAtRestUpsertedAsOf(s, dir, emb(s, dir), NQ, K, IvfCells,
        EmbD, IvfProbe, PqM, PqCodes, PqRerank, UpsertMod, asOf = 1)),
    // metadata-filtered search at the quantized rung, off the at-rest
    // codes: ONE cheap scan carries cell partition pruning AND the
    // pushed lang predicate AND reads only the code word (PlanSpec
    // asserts all three)
    "q_ann_ivf_pq_filtered" -> q((s, dir) => graft.operators.Pq
      .topkAtRestFiltered(s, dir, emb(s, dir), NQ, K, IvfCells, EmbD,
        IvfProbe, PqM, PqCodes, PqRerank, FilterLangs)),
    // OPQ-style pre-transform: coarse cells, PQ codes, and the ADC rank
    // all run on t = P·v (a deterministic SIGNED PERMUTATION — exactly
    // orthogonal, so the exact rescore stays on the original vectors);
    // the production pre-transform stage with an oracle-exact transform
    "q_ann_ivf_pq_opq" -> q((s, dir) => graft.operators.Pq.topkPermuted(
      emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe, PqM, PqCodes, PqRerank)),
    // ... and the TRAINED OPQ-lite transform: dimensions ranked by
    // corpus variance (ordered folds — oracle re-derives the identical
    // ranking) and snake-drafted to subspaces to equalize per-subspace
    // variance (Norouzi-Fleet eigenvalue-allocation shape), then the
    // same coarse/encode/ADC/rescore pipeline in transformed space
    "q_ann_ivf_pq_opq_trained" -> q((s, dir) =>
      graft.operators.Pq.topkOpqTrained(
        emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe, PqM, PqCodes,
        PqRerank)),
    // ... and the rotation train SAMPLED: the per-dim variance folds
    // over the counter-keyed sample only (a ranking of d keys, which a
    // bounded sample estimates), everything encoded and served under
    // the sample-trained permutation
    "q_ann_ivf_pq_opq_sampled" -> q((s, dir) =>
      graft.operators.Pq.topkOpqTrained(
        emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe, PqM, PqCodes,
        PqRerank, pqTrainSampleEvery(s, dir))),
    // ... and the trained transform PERSISTED: permuted-space codes at
    // rest (cell-partitioned, code-only cheap scan), original vectors
    // for the rescore — the last trained stage to get its at-rest twin
    "q_ann_ivf_pq_opq_at_rest" -> q((s, dir) =>
      graft.operators.Pq.topkOpqAtRest(
        s, dir, emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe, PqM,
        PqCodes, PqRerank)),
    // residual IVF-PQ: codes quantize x - c_cell (the production form —
    // the codebook only covers the within-cell spread); ADC score adds
    // the per-cell query dot to the table picks
    "q_ann_ivf_pq_res" -> q((s, dir) => graft.operators.Pq.topkResidual(
      emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe, PqM, PqCodes, PqRerank)),
    // the composed FAISS production index string "OPQ,IVF,PQ": the OPQ
    // pre-transform feeding the residual coarse/encode/ADC pipeline,
    // exact rescore on the original vectors
    "q_ann_ivf_opq_res" -> q((s, dir) => graft.operators.Pq.topkResidualOpq(
      emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe, PqM, PqCodes, PqRerank)),
    // ... and the composed string AT REST: codes encoded in permuted
    // space, original vectors stored for the rescore fetch — hash-equal
    // to the in-memory composed rung, same oracle
    "q_ann_ivf_opq_res_at_rest" -> q((s, dir) =>
      graft.operators.Pq.topkResidualOpqAtRest(s, dir, emb(s, dir), NQ, K,
        IvfCells, EmbD, IvfProbe, PqM, PqCodes, PqRerank)),
    // ... and with the TRAINED permutation: the complete trained
    // production string (variance-balancing OPQ -> IVF residual -> PQ),
    // every stage data-adaptive except the dyadic codebooks
    "q_ann_ivf_opq_res_trained" -> q((s, dir) =>
      graft.operators.Pq.topkResidualOpqTrained(emb(s, dir), NQ, K,
        IvfCells, EmbD, IvfProbe, PqM, PqCodes, PqRerank)),
    // ... and the trained composition PERSISTED: train the permutation,
    // encode in trained-permuted space, serve off the cell-partitioned
    // layout — hash-equal to the in-memory trained composition
    "q_ann_ivf_opq_res_trained_at_rest" -> q((s, dir) =>
      graft.operators.Pq.topkResidualOpqTrainedAtRest(s, dir, emb(s, dir),
        NQ, K, IvfCells, EmbD, IvfProbe, PqM, PqCodes, PqRerank)),
    // streaming quantized-index maintenance: embeddings drained through
    // a file stream, each microbatch PQ-encoded and appended to the
    // cell-partitioned codes layout; the PQ rung queries the streamed
    // layout with no rebuild — hash-equal to q_ann_ivf_pq
    "q_stream_ann_pq" -> q((s, dir) => graft.streaming.StreamOps
      .pqOverStream(s, dir, emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe,
        PqM, PqCodes, PqRerank)),
    // streaming DELETE maintenance: delete commits drained through a
    // file stream, each microbatch appending ids to the tombstone
    // sidecar (the layout itself untouched); the delete-aware query
    // reflects them with no rebuild — hash-equal to q_ann_pq_delete
    "q_stream_ann_delete" -> q((s, dir) => graft.streaming.StreamOps
      .pqDeletesOverStream(s, dir, emb(s, dir), NQ, K, IvfCells, EmbD,
        IvfProbe, PqM, PqCodes, PqRerank, DeleteMod)),
    // residual codes AT REST: the layout production IVF-PQ deploys —
    // cell-partitioned packed residual codes, both passes partition-
    // pruned, cheap scan 4 bytes/row (PlanSpec); hash-equal to
    // q_ann_ivf_pq_res
    "q_ann_ivf_pq_res_at_rest" -> q((s, dir) =>
      graft.operators.Pq.topkResidualAtRest(s, dir, emb(s, dir), NQ, K,
        IvfCells, EmbD, IvfProbe, PqM, PqCodes, PqRerank)),
    // binary quantization: 64-bit sign codes, Hamming cheap rank + exact
    // rescore — the most aggressive rung of the precision ladder
    "q_ann_bq" -> q((s, dir) => graft.operators.Bq.topk(
      emb(s, dir), NQ, K, BqRerank, EmbD)),
    // the same BQ pipeline AT REST: the 64-bit sign word as a stored
    // BIGINT column, Hamming cheap pass over 8 bytes/row with the float
    // vector untouched (PlanSpec asserts); hash-equal to q_ann_bq
    "q_ann_bq_at_rest" -> q((s, dir) => graft.operators.Bq.topkAtRest(
      s, dir, emb(s, dir), NQ, K, BqRerank, EmbD)),
    // the PRECISION-ON-DEMAND CASCADE: all three quantization rungs as
    // one pipeline — corpus-wide 1-bit Hamming scan, int8 mid-rank over
    // the survivors, exact rescore of the finalists (the reference's
    // progressive-refinement thesis across the standard code ladder)
    "q_ann_cascade" -> q((s, dir) => graft.operators.Cascade.topk(
      emb(s, dir), NQ, K, EmbD, EmbSq8ScaleLog2, CascadeR1, CascadeR2)),
    // ... and the same cascade off ONE disaggregated at-rest ladder
    // (id | sign word | int8 codes | floats as separate column chunks):
    // tier 1 scans 8 bytes/row, tiers 2-3 point-fetch only their own
    // column for bounded survivor sets (PlanSpec asserts per-tier
    // pruning); hash-equal to q_ann_cascade
    "q_ann_cascade_at_rest" -> q((s, dir) => graft.operators.Cascade
      .topkAtRest(s, dir, emb(s, dir), NQ, K, EmbD, EmbSq8ScaleLog2,
        CascadeR1, CascadeR2)),
    // the cascade at realistic width (D=128): multi-word tier 1, int8
    // mid-rank, exact rescore — the full ladder where one sign word no
    // longer suffices
    "q_ann_cascade_wide" -> q((s, dir) => qAnnCascadeWide(s, dir)),
    // multi-word BQ at realistic width (D=128): two sign words, Hamming
    // = sum of per-word popcounts — lifts the single-word d<=64 limit
    "q_ann_bq_wide" -> q((s, dir) => qAnnBqWide(s, dir)),
    // ... and the same rung AT REST: two BIGINT word columns, 16-byte
    // cheap scan (PlanSpec asserts); hash-equal to q_ann_bq_wide
    "q_ann_bq_wide_at_rest" -> q((s, dir) => graft.operators.Bq
      .topkWideAtRest(s, dir, NQ, K, BqRerank, D128, KeepM, D128KeyMod)),
    // residual IVF-PQ at the reference's D=1024 width (tiny-N slice)
    "q_ann_ivf_pq_res_d1024" -> q((s, dir) => qAnnPqResD1024(s, dir)),
    // the cascade at D=1024: sixteen sign words, dequant mid, exact
    // rescore — the ladder at the reference's MS MARCO-class width
    "q_ann_cascade_d1024" -> q((s, dir) => qAnnCascadeD1024(s, dir)),
    // multi-probe SRP-LSH bucketed retrieval: P-bit sign-hash buckets,
    // query probes its own bucket + the P Hamming-1 flips, bucket
    // equi-join candidates, exact cosine rescore — the training-free
    // hash alternative to the IVF coarse quantizer
    "q_ann_lsh" -> q((s, dir) => graft.operators.Lsh.topk(
      emb(s, dir), NQ, K, EmbD, LshPlanes)),
    // ... and the same pipeline AT REST: bucket-partitioned layout,
    // probe buckets pushed as a static partition filter (PlanSpec
    // asserts); hash-equal to q_ann_lsh
    "q_ann_lsh_at_rest" -> q((s, dir) => graft.operators.Lsh.topkAtRest(
      s, dir, emb(s, dir), NQ, K, EmbD, LshPlanes)),
    // the LSH layout STREAM-MAINTAINED: arrivals bucketed map-side per
    // microbatch, appended to the bucket-partitioned layout — LSH has no
    // training pass, so this IS its whole maintenance lifecycle;
    // hash-equal to q_ann_lsh once drained
    "q_stream_ann_lsh" -> q((s, dir) => graft.streaming.StreamOps
      .lshOverStream(s, dir, emb(s, dir), NQ, K, EmbD, LshPlanes)),
    // LSH merge-on-read DELETES: tombstone sidecar anti-joined out of
    // the candidates, bucket files byte-immutable — lifecycle parity
    // with the PQ codes and postings layouts
    "q_ann_lsh_delete" -> q((s, dir) => graft.operators.Lsh
      .topkAtRestWithDeletes(s, dir, emb(s, dir), NQ, K, EmbD, LshPlanes,
        DeleteMod)),
    // ... and OPTIMIZE compaction of the stream-maintained layout:
    // microbatch part files rewritten to one id-sorted file per bucket,
    // rows identical — hash-equal to q_ann_lsh
    "q_ann_lsh_compact" -> q((s, dir) => graft.operators.Lsh.topkOffLayout(
      s, graft.operators.Lsh.compactLayout(s, graft.streaming.StreamOps
        .ensureStreamLshLayout(s, dir, EmbD, LshPlanes)),
      emb(s, dir), NQ, K, EmbD, LshPlanes)),
    // ... and compaction with the DELETE SET FOLDED IN: the OPTIMIZE
    // that physically removes tombstoned rows — served with no sidecar
    // at all, hash-equal to the merge-on-read q_ann_lsh_delete
    "q_ann_lsh_compact_del" -> q((s, dir) => {
      val root = graft.operators.Lsh.ensureLayout(s, dir, EmbD, LshPlanes)
      val tombs = s.read.parquet(
        graft.operators.Lsh.ensureTombstones(s, root, DeleteMod))
      graft.operators.Lsh.topkOffLayout(s,
        graft.operators.Lsh.compactLayoutWithDeletes(s, root, tombs),
        emb(s, dir), NQ, K, EmbD, LshPlanes)
    }),
    // ... and TIME TRAVEL on the LSH layout: the append-only versioned
    // delete log served as-of commit 1 (only ids ≡ 0 mod 2·DeleteMod
    // gone) — the verb completing the LSH lifecycle matrix, same
    // commit-history sidecar as the PQ and spherical families
    "q_ann_lsh_delete_asof" -> q((s, dir) => graft.operators.Lsh
      .topkAtRestWithDeletesAsOf(s, dir, emb(s, dir), NQ, K, EmbD,
        LshPlanes, DeleteMod, asOf = 1)),
    // ... and merge-on-read UPSERT — the last family missing the verb:
    // updated rows (v' = −v) RE-HASHED through the sign planes into
    // complementary buckets, published as a bucket-partitioned delta;
    // base files never rewritten, queries stay the external raw relation
    "q_ann_lsh_upsert" -> q((s, dir) => graft.operators.Lsh
      .topkAtRestUpserted(s, dir, emb(s, dir), NQ, K, EmbD, LshPlanes,
        UpsertMod)),
    // ... and upsert COMPACTION — the OPTIMIZE folding the re-hashed
    // delta into the base, one id-sorted file per bucket; served with
    // no excision predicate at all, hash-equal to the merge-on-read
    // upsert (same oracle)
    "q_ann_lsh_upsert_compact" -> q((s, dir) => graft.operators.Lsh
      .topkOffLayout(s, graft.operators.Lsh.compactLayoutUpsertMerge(
          s, dir, EmbD, LshPlanes, UpsertMod),
        emb(s, dir), NQ, K, EmbD, LshPlanes)),
    // ... and upsert TIME TRAVEL on the LSH layout: the versioned
    // update log served as-of commit 1 (only ids ≡ 0 mod 2·UpsertMod
    // re-hashed in that snapshot)
    "q_ann_lsh_upsert_asof" -> q((s, dir) => graft.operators.Lsh
      .topkAtRestUpsertedAsOf(s, dir, emb(s, dir), NQ, K, EmbD,
        LshPlanes, UpsertMod, asOf = 1)),
    // cursor pagination (search_after): page 2 resumed from page 1's
    // per-query (score, id) cursor — one corpus pass and a k-deep heap
    // per page, never a page*k-deep window
    "q_ann_page2" -> q((s, dir) => graft.operators.Search.searchAfter(
      emb(s, dir), NQ, K, 2)),
    // ... and page 3 served OFF THE STORED PAGE-2 CURSOR (the persisted
    // page token of a real search service): one corpus pass in the
    // plan, pages 1-2 never recomputed — provably the rank slice
    // (2k, 3k] of the global ranking
    "q_ann_page3" -> q((s, dir) => graft.operators.Search.searchAfterFrom(
      emb(s, dir), NQ, K, s.read.parquet(graft.operators.Search
        .ensurePageCursor(s, dir, emb(s, dir), NQ, K, 2)))),
    // LSH probe-depth tuning: recall@k vs candidate volume for every
    // depth 0..P off ONE persisted full-depth scored scan — the LSH
    // analogue of the recall/nprobe grid
    "q_tune_lsh" -> q((s, dir) => graft.operators.Lsh.probeSweep(
      emb(s, dir), NQ, K, EmbD, LshPlanes)),
    // ... and the pick: shallowest depth meeting the recall floor
    // (cands is monotone, so shallowest-meeting = cheapest-meeting)
    "q_tune_lsh_pick" -> q((s, dir) => graft.operators.Lsh.probeSweepPick(
      emb(s, dir), NQ, K, EmbD, LshPlanes, LshRecallFloor)),
    "q_emb_neardup" -> q((s, dir) => Ann.nearDupPairs(emb(s, dir), MinCos)),
    // EMBEDDING QA: flag vectors whose norm sits > zTau population sd
    // from the mean (the broken-embedding detector run before indexing);
    // stats = ONE global ordered fold, flags = one map-side scan
    "q_emb_outliers" -> q((s, dir) => Ann.normOutliers(
      emb(s, dir), EmbZTau)),
    // the K-NN GRAPH build (the construction seed of NSW/HNSW and
    // NN-descent): every vector is its own query over its probed cells;
    // the N x N product never materializes — candidate generation is the
    // same bounded cell equi-join as the query path, shuffle-joined (not
    // broadcast: the node side IS the corpus)
    "q_knn_graph" -> q((s, dir) => knnGraphAtRest(s, dir)),
    // ... and one NN-descent refinement round: current edges UNION
    // two-hop edges (a neighbor of a neighbor is likely a neighbor),
    // exactly rescored and re-cut — a j^2*N self-join, never all-pairs
    "q_knn_descent" -> q((s, dir) =>
      graft.operators.Ivf.knnDescend(emb(s, dir), knnGraphAtRest(s, dir),
        KnnJ)),
    // ... and the graph-ANN QUERY path: beam search over that graph —
    // fixed synchronized rounds from a per-query coarse-quantizer entry
    // node; each query reads rounds*beam*degree vectors, never the corpus
    "q_ann_graph_search" -> q((s, dir) =>
      graft.operators.Ivf.graphSearch(emb(s, dir), knnGraphAtRest(s, dir),
        NQ, K, GraphBeam, GraphRounds, IvfCells, EmbD)),
    // HNSW-style LAYERED search: sparse upper layers (every stride^l-th
    // id, degree LayeredJ, at rest beside the base graph) descended
    // greedily to seed the base beam — same recall as the flat beam at
    // 42% fewer vector reads on the fixture (spec-asserted frontier)
    "q_ann_graph_layered" -> q((s, dir) =>
      graft.operators.Ivf.graphSearchLayered(emb(s, dir),
        knnGraphAtRest(s, dir),
        s.read.parquet(graft.operators.Ivf.ensureLayeredUpper(s, dir,
          LayeredJ, IvfCells, EmbD, IvfProbe, LayeredStride, LayeredLayers)),
        NQ, K, GraphBeam, LayeredRounds, LayeredUpperRounds,
        LayeredUpperBeam, LayeredStride, LayeredLayers)),
    // DELETE maintenance on the graph: affected survivors (those holding
    // an edge to a deleted id) re-ranked over the live corpus from their
    // probed cells — edge lists alone cannot backfill the j-th slot;
    // unaffected nodes keep their edges verbatim. Identical to a rebuild
    // over the live corpus at |affected| x occupancy cost
    "q_knn_graph_delete" -> q((s, dir) => {
      val e = emb(s, dir)
      val tombs = e.select(col("vec_id").as("id"))
        .filter(col("id") % DeleteMod === 0)
      graft.operators.Ivf.knnGraphDelete(e, knnGraphAtRest(s, dir), tombs,
        KnnJ, IvfCells, EmbD, IvfProbe, knnGraphByTargetAtRest(s, dir))
    }),
    // ... and TIME TRAVEL on the graph — the last index family to gain
    // the as-of verb: the generic versioned delete log served as-of
    // commit 1 (only nodes ≡ 0 mod 2·DeleteMod gone), with the repair
    // re-ranking affected survivors over the AS-OF live corpus — each
    // snapshot identical to a rebuild over that snapshot's live set
    "q_knn_graph_delete_asof" -> q((s, dir) => graft.operators.Ivf
      .knnGraphDeleteAsOf(s, graft.operators.Ivf.ensureKnnGraph(s, dir,
          KnnJ, IvfCells, EmbD, IvfProbe),
        emb(s, dir), KnnJ, IvfCells, EmbD, IvfProbe, DeleteMod,
        asOf = 1, knnGraphByTargetAtRest(s, dir))),
    // ... and UPSERT — the verb completing the graph family's CRUD:
    // updated vectors (v' = −v) move cells AND can enter other nodes'
    // top-j, so the exact affected set is edge-holders ∪ new-cell
    // gainers ∪ the updated nodes — re-ranked over the updated view,
    // provably equal to the rebuild at |affected| x occupancy cost.
    // The gainer pass reads the cell-partitioned prober-pairs SIDECAR
    // persisted at graph-build time, pruned to the new cells — never
    // a per-commit probe re-assign over the corpus
    "q_knn_graph_upsert" -> q((s, dir) => graft.operators.Ivf
      .knnGraphUpsert(emb(s, dir), knnGraphAtRest(s, dir),
        s.read.parquet(graft.operators.Ivf.ensureKnnGraphProbes(s, dir,
          IvfCells, EmbD, IvfProbe)),
        UpsertMod, KnnJ, IvfCells, EmbD, IvfProbe,
        knnGraphByTargetAtRest(s, dir))),
    // ... and the UPDATE STREAM maintaining the graph: commits drain
    // one shard per trigger, each microbatch repairing exactly its own
    // affected set off the INCREMENTALLY-MAINTAINED prober sidecar
    // (commit 2's gainers see commit 1's updated probes — the sidecar
    // commit verb is load-bearing, not hygiene); drained latest-wins
    // state hash-equal to the one-shot batch upsert, same oracle
    "q_stream_knn_graph_upsert" -> q((s, dir) => graft.streaming.StreamOps
      .knnGraphUpsertOverStream(s, dir, UpsertMod, KnnJ, IvfCells, EmbD,
        IvfProbe)),
    // ... and the edge-log COMPACTION — the OPTIMIZE verb completing
    // the graph family's lifecycle (the q_bm25_upsert_compact
    // discipline applied to edges): the drained stream's versioned log
    // folded ONCE into a fresh target-bucketed base, superseded rows
    // dropped, published atomically; the post-compact serve is a plain
    // base read — no latest-wins fold left in the plan
    "q_knn_graph_upsert_compact" -> q((s, dir) => graft.streaming.StreamOps
      .knnGraphUpsertCompacted(s, dir, UpsertMod, KnnJ, IvfCells, EmbD,
        IvfProbe)),
    // ... and upsert TIME TRAVEL on the graph: the versioned update
    // log applied as-of commit 1 BEFORE the affected-set repair — the
    // snapshot provably equals the rebuild over the commit-1 view
    "q_knn_graph_upsert_asof" -> q((s, dir) => graft.operators.Ivf
      .knnGraphUpsertAsOf(s, graft.operators.Ivf.ensureKnnGraph(s, dir,
          KnnJ, IvfCells, EmbD, IvfProbe),
        emb(s, dir),
        s.read.parquet(graft.operators.Ivf.ensureKnnGraphProbes(s, dir,
          IvfCells, EmbD, IvfProbe)),
        UpsertMod, KnnJ, IvfCells, EmbD, IvfProbe, asOf = 1,
        knnGraphByTargetAtRest(s, dir))),
    // ... and the SNAPSHOT COMPACTED — the batch as-of log's OPTIMIZE:
    // the commit-1 repair materialized once into a target-bucketed
    // published base (node count conserved), the post-compact serve a
    // plain base read with no repair joins left in the plan — hash-equal
    // to the per-read repair, same oracle
    "q_knn_graph_upsert_asof_compact" -> q((s, dir) => graft.operators
      .Ivf.knnGraphUpsertAsOfCompacted(s,
        graft.operators.Ivf.ensureKnnGraph(s, dir, KnnJ, IvfCells, EmbD,
          IvfProbe),
        emb(s, dir),
        s.read.parquet(graft.operators.Ivf.ensureKnnGraphProbes(s, dir,
          IvfCells, EmbD, IvfProbe)),
        UpsertMod, KnnJ, IvfCells, EmbD, IvfProbe, asOf = 1,
        knnGraphByTargetAtRest(s, dir))),
    // streaming GRAPH-index maintenance — the hard case: an arrival can
    // displace edges of existing nodes, so each microbatch recomputes
    // its arrivals PLUS the affected nodes (probed cells intersecting
    // the arrivals' cells) and appends versioned edges, latest batch
    // winning per node; drained graph hash-equal to the batch build
    "q_stream_knn_graph" -> q((s, dir) => graft.streaming.StreamOps
      .knnGraphOverStream(s, dir, KnnJ, IvfCells, EmbD, IvfProbe)),
    // ... and the LAYERED search served off STREAM-MAINTAINED upper
    // layers: per-microbatch per-layer affected-node repair (the
    // ensureStreamKnnGraph discipline applied to each sparse level),
    // latest version wins — drained, the layers equal the batch build,
    // so the full HNSW-style query is hash-equal to its batch twin
    "q_stream_ann_layered" -> q((s, dir) =>
      graft.operators.Ivf.graphSearchLayered(emb(s, dir),
        knnGraphAtRest(s, dir),
        graft.streaming.StreamOps.layeredUpperOverStream(s, dir,
          LayeredJ, IvfCells, EmbD, IvfProbe, LayeredStride,
          LayeredLayers),
        NQ, K, GraphBeam, LayeredRounds, LayeredUpperRounds,
        LayeredUpperBeam, LayeredStride, LayeredLayers)),
    // STREAMING MODEL REFRESH (train -> serve -> MAINTAIN): every
    // microbatch retrains the coarse quantizer on the accumulated
    // corpus and appends the model under the batch version; the served
    // latest-wins model equals the batch-trained twin once drained
    "q_stream_ivf_retrain" -> q((s, dir) => graft.streaming.StreamOps
      .lloydModelOverStream(s, dir, IvfCells, EmbD)),
    // SEMANTIC CLUSTERS: the knn edge set thresholded at cosine >= tau,
    // resolved by the same pointer-jumped connected components the text
    // dedup uses — embedding-space cluster assignment as a composition
    // of two graded operators (bounded edges in, O(log n) CC rounds)
    "q_semantic_clusters" -> q((s, dir) => {
      val g = knnGraphAtRest(s, dir)
      graft.operators.Dedup.connectedComponents(
        g.filter(col("score") >= SemClusterTau)
          .select(least(col("qid"), col("id")).as("doc_a"),
            greatest(col("qid"), col("id")).as("doc_b"))
          .distinct())
    }),
    // SemDeDup (Abbas et al. 2023): within each semantic-duplicate
    // cluster keep the member with the LOWEST cosine to the cluster
    // centroid (the diversity-preserving rule), drop the rest — the
    // embedding-space dedup DECISION stage on top of q_semantic_clusters
    "q_sem_dedup" -> q((s, dir) => {
      val g = knnGraphAtRest(s, dir)
      val clusters = graft.operators.Dedup.connectedComponents(
        g.filter(col("score") >= SemClusterTau)
          .select(least(col("qid"), col("id")).as("doc_a"),
            greatest(col("qid"), col("id")).as("doc_b"))
          .distinct())
      graft.operators.Dedup.semDedup(emb(s, dir), clusters)
    }),
    // ... and the CLEANED CORPUS that decision produces: unclustered
    // vectors survive untouched, clustered ones only as their keeper
    "q_sem_dedup_clean" -> q((s, dir) => {
      val g = knnGraphAtRest(s, dir)
      val clusters = graft.operators.Dedup.connectedComponents(
        g.filter(col("score") >= SemClusterTau)
          .select(least(col("qid"), col("id")).as("doc_a"),
            greatest(col("qid"), col("id")).as("doc_b"))
          .distinct())
      graft.operators.Dedup.semDedupClean(emb(s, dir), clusters)
    }),
    // metadata-filtered search: predicate applied BEFORE any distance
    // arithmetic (pre-filter strategy); the metadata join is an id
    // equi-join, bucketable to exchange-free at rest
    "q_ann_filtered" -> q((s, dir) => graft.operators.Search.filteredTopK(
      emb(s, dir), docs(s, dir), NQ, K, FilterLangs)),
    // ... with the predicate as a RELATION: each qid searches only its
    // own langs (the multi-tenant serving shape) — one broadcast
    // (qid, lang) equi-join, all queries in one plan
    "q_ann_filtered_multi" -> q((s, dir) => graft.operators.Search
      .filteredTopKMulti(emb(s, dir), docs(s, dir),
        filterMultiRelOf(s, dir), K)),
    // GROUPED (faceted) retrieval: best k per (query, lang) in ONE
    // scored pass — the per-facet result surface; the window over
    // (qid, lang) still gets the map-side WindowGroupLimit cut
    "q_ann_grouped" -> q((s, dir) => graft.operators.Search.groupedTopK(
      emb(s, dir), docs(s, dir), NQ, GroupedK)),
    // ... the grouped member of the multi-query relation matrix: each
    // qid carries its OWN facet set (stored relation), best GroupedK per
    // (qid, lang) off ONE scored scan — 4 qids x 2 facets in one plan
    "q_ann_grouped_multi" -> q((s, dir) => graft.operators.Search
      .groupedTopKMulti(emb(s, dir), docs(s, dir),
        groupedMultiRelOf(s, dir), GroupedK)),
    // ... and AT REST: the per-qid facet sets against the IVF layout —
    // union-of-langs pushed into the one probe-pruned scan, per-qid
    // membership map-side, best GroupedK per (qid, lang)
    "q_ann_grouped_multi_at_rest" -> q((s, dir) => graft.operators.Search
      .groupedTopKIndexedMulti(s, dir, emb(s, dir),
        groupedMultiRelOf(s, dir), GroupedK, IvfCells, EmbD, IvfProbe)),
    // SQ8 with PER-DIMENSION TRAINED ranges (the FAISS-style trained
    // scalar quantizer): one map-side min/max training aggregate over
    // the corpus, broadcast into the cheap pass — the one-pass-train /
    // map-side-apply split a 100 TB quantizer ships with
    "q_ann_ivf_sq8t" -> q((s, dir) => graft.operators.Ivf.topkSq8Trained(
      emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe, Sq8Rerank)),
    // the same predicate against the AT-REST index: metadata lives in
    // the layout, so one scan gets cell partition-pruning AND the lang
    // predicate pushed (PlanSpec asserts both on the same scan)
    "q_ann_filtered_at_rest" -> q((s, dir) =>
      graft.operators.Search.filteredTopKIndexed(s, dir, emb(s, dir),
        NQ, K, IvfCells, EmbD, IvfProbe, FilterLangs)),
    // ... with the predicate as a PER-QUERY relation against the same
    // layout: union-of-langs pushed into the one probe-pruned scan,
    // per-qid (qid, lang) membership refined map-side
    "q_ann_filtered_multi_at_rest" -> q((s, dir) =>
      graft.operators.Search.filteredTopKIndexedMulti(s,
        s.read.parquet(graft.operators.Ivf.ensureIndex(s, dir, IvfCells,
          EmbD)), emb(s, dir), filterMultiRelOf(s, dir), K, IvfCells, EmbD,
        IvfProbe)),
    // PER-QUERY PAGE SIZE: each qid returns its OWN top-k from the
    // stored relation — one scan ranked to the largest k, per-qid prefix
    "q_ann_topk_multi_k" -> q((s, dir) => graft.operators.Search
      .topKMulti(emb(s, dir), pageKMultiRelOf(s, dir))),
    // range (radius) search: every candidate with cosine >= tau
    "q_ann_range" -> q((s, dir) =>
      graft.operators.Search.rangeSearch(emb(s, dir), NQ, RangeTau)),
    // ... with the radius as a RELATION: each qid cuts at its own tau
    // (per-tenant recall/precision knobs in one plan)
    "q_ann_range_multi" -> q((s, dir) => graft.operators.Search
      .rangeSearchMulti(emb(s, dir), rangeMultiRelOf(s, dir))),
    // multi-query LINEAR fusion: per-qid min-max normalization of each
    // retriever's own list, per-qid convex fusion
    "q_hybrid_linear_multi" -> q((s, dir) => graft.operators.Search
      .hybridLinearMulti(s, dir, emb(s, dir), bm25MultiQueriesOf(s, dir),
        Bm25K1, Bm25B, RrfPoolN, HybridAlpha, HybridK, PostBuckets)),
    // MMR diversification: greedy relevance/diversity re-rank over a
    // bounded per-query pool (parallel across queries)
    "q_ann_mmr" -> q((s, dir) => graft.operators.Search.mmr(
      emb(s, dir), NQ, MmrPoolN, MmrK, MmrLambda)),
    // ... with λ as a RELATION: each qid re-ranks its own pool with its
    // own relevance/diversity trade-off from the stored queries table —
    // the per-request knob discipline reaching the re-ranking stage
    "q_ann_mmr_multi" -> q((s, dir) => graft.operators.Search.mmrMulti(
      emb(s, dir), mmrLambdaMultiRelOf(s, dir), MmrPoolN, MmrK)),
    // late-interaction multi-vector retrieval: sum-of-max-sims scoring
    // over passages of MaxSimGroup vectors
    "q_ann_maxsim" -> q((s, dir) => graft.operators.Search.maxSimTopK(
      emb(s, dir), NQ, K, MaxSimGroup)),
    // BM25 lexical retrieval: one tiny corpus-stats aggregate, then a
    // map-side scoring pass with idf constants baked in as literals
    "q_bm25" -> q((s, dir) => {
      val (ranked, st) = graft.operators.Search.bm25(
        docs(s, dir), Bm25Terms, Bm25K1, Bm25B, Bm25TopN)
      measuredBm25.put(dir, st)
      ranked
    }),
    // ... and OFF THE INVERTED INDEX at rest: term-bucket-partitioned
    // posting lists (pruned scan, stats sidecar, df from the postings) —
    // candidates are the query terms' posting-list union, the real
    // retrieval contract (docs matching no term are never scored)
    "q_bm25_at_rest" -> q((s, dir) => graft.operators.Search.bm25AtRest(
      s, dir, Bm25Terms, Bm25K1, Bm25B, Bm25TopN, PostBuckets)),
    // PER-QUERY-TERM-SET BM25: the query side is a RELATION (four
    // queries, distinct term sets, lengths 1..4) bound per row against
    // the shared postings layout in ONE plan — one union-pruned scan,
    // broadcast (qid, term, pos, idf) join, per-qid pivot + rank (the
    // lexical twin of how every ANN rung serves a query table)
    "q_bm25_multi" -> q((s, dir) => graft.operators.Search.bm25Multi(
      s, dir, bm25MultiQueriesOf(s, dir), Bm25K1, Bm25B, Bm25MultiTopN,
      PostBuckets)),
    // ... the same query relation served off the STREAM-MAINTAINED
    // postings (identical rows once drained -> shares the oracle)
    "q_bm25_multi_stream" -> q((s, dir) => graft.operators.Search
      .bm25MultiOffPostings(s, graft.streaming.StreamOps
        .ensureStreamPostingsLayout(s, dir, PostBuckets),
        bm25MultiQueriesOf(s, dir), Bm25K1, Bm25B, Bm25MultiTopN,
        PostBuckets)),
    // MULTI-QUERY MAXSCORE: the early-rejection discipline per query
    // row — per-qid bounds off a (term, doc_id)-only cheap scan,
    // RELATIONAL per-qid tau (no driver collect), zero-miss survivors,
    // exact rescore; provably row-equal to q_bm25_multi (shared oracle)
    "q_bm25_multi_maxscore" -> q((s, dir) => graft.operators.Search
      .bm25MultiMaxScore(s, dir, bm25MultiQueriesOf(s, dir), Bm25K1,
        Bm25B, Bm25MultiTopN, PostBuckets, Bm25SeedB)),
    // ... and its PER-QID BYTE LEDGER: the reference's (saving, fpr)
    // accounting triple carried onto the newest rung — one row per qid
    // (candidates, seeds, survivors, cheap/exact/full bytes, save) off
    // the same relational per-qid tau derivation, plus the qid = -1
    // aggregate row (sum of parts = whole, spec-asserted)
    "q_bm25_multi_maxscore_metrics" -> q((s, dir) => graft.operators
      .Search.bm25MultiMaxScoreMetrics(s, dir, bm25MultiQueriesOf(s, dir),
        Bm25K1, Bm25B, Bm25MultiTopN, PostBuckets, Bm25SeedB)),
    // ... and the MaxScore relation served off the STREAM-MAINTAINED
    // postings (identical rows once drained -> shares the multi oracle):
    // early rejection composed with incremental index maintenance
    "q_bm25_multi_maxscore_stream" -> q((s, dir) => graft.operators
      .Search.bm25MultiMaxScoreOffPostings(s, graft.streaming.StreamOps
        .ensureStreamPostingsLayout(s, dir, PostBuckets),
        bm25MultiQueriesOf(s, dir), Bm25K1, Bm25B, Bm25MultiTopN,
        PostBuckets, Bm25SeedB)),
    // ... and the relation family composed with the LIFECYCLE family:
    // merge-on-read deletes cut every query's candidates while the
    // corpus stats stay stale (the Lucene contract), still one
    // union-pruned scan
    "q_bm25_multi_delete" -> q((s, dir) => graft.operators.Search
      .bm25MultiWithDeletes(s, dir, bm25MultiQueriesOf(s, dir), Bm25K1,
        Bm25B, Bm25MultiTopN, PostBuckets, Bm25DeleteMod)),
    // MULTI-QUERY hybrid RRF: each qid's multi-BM25 list fused with its
    // OWN vector top-N list — both retrievers serving the query
    // relation, per-qid fusion in one plan
    "q_hybrid_rrf_multi" -> q((s, dir) => graft.operators.Search
      .hybridRrfMulti(s, dir, emb(s, dir), bm25MultiQueriesOf(s, dir),
        Bm25K1, Bm25B, RrfPoolN, RrfKConst, HybridK, PostBuckets)),
    // ... and PER-QID FUSION WEIGHTS: each qid fuses with its OWN α
    // from the stored relation — per-tenant trade-off knobs in one plan
    "q_hybrid_linear_multi_w" -> q((s, dir) => graft.operators.Search
      .hybridLinearMultiWeighted(s, dir, emb(s, dir),
        bm25MultiQueriesOf(s, dir), fusionMultiRelOf(s, dir), Bm25K1,
        Bm25B, RrfPoolN, HybridK, PostBuckets)),
    // ... and the TIERED capstone served ONLINE — the title knob per
    // streamed request: each microbatch runs the tiered serve for its
    // arriving requests with every bound relation (terms, langs, α, k,
    // tier) sliced per batch; per-request independence makes the
    // drained union row-identical to the batch tiered capstone (same
    // oracle)
    "q_stream_serve_requests_tiered" -> q((s, dir) =>
      graft.streaming.StreamOps.serveRequestsTieredOverStream(s, dir,
        emb(s, dir), docs(s, dir), bm25MultiQueriesOf(s, dir),
        filterMultiRelOf(s, dir), fusionMultiRelOf(s, dir),
        pageKMultiRelOf(s, dir), serveTierRelOf(s, dir),
        ServeTierLayoutScales, Bm25K1, Bm25B, RrfPoolN, PostBuckets,
        refineParams("cos_l1").alpha)),
    // ... and the ONLINE TIERED SERVE OVER A MUTATING INDEX — the two
    // streams composed, six ways: {partitioned, indexed} layout ×
    // {StreamMutatingPlan, StreamMultiPlan, StreamMixedPlan}. Each
    // microbatch serves its arriving requests off the then-current
    // state of the stream's own layout copy; each commit between two
    // phases lands exactly once, before its phase's first batch,
    // rewriting only its id buckets (partitioned) or moving its rows
    // across cell partitions (indexed). Drained rows equal the
    // per-phase batch serves (per-request independence).
    //  - _mutating: requests 0-1 off the pristine layout, one update
    //    commit, requests 2-3 off the committed state;
    //  - _multi: C = 3 update commits interleaved with 4 request phases,
    //    each commit the incremental prefix of a nested modulus;
    //  - _mixed: an upsert commit, then a DELETE commit (tombstoned rows
    //    physically dropped): phase 2 serves the upserted-then-deleted
    //    state (query vectors keep the upsert flips; deleted ids absent
    //    from every tier's cheap pass and the rescore)
    "q_stream_serve_requests_tiered_mutating" ->
      streamServeMutating(StreamMutatingPlan, indexed = false),
    "q_stream_serve_requests_tiered_multi" ->
      streamServeMutating(StreamMultiPlan, indexed = false),
    "q_stream_serve_requests_tiered_mixed" ->
      streamServeMutating(StreamMixedPlan, indexed = false),
    "q_stream_serve_requests_tiered_indexed_mutating" ->
      streamServeMutating(StreamMutatingPlan, indexed = true),
    "q_stream_serve_requests_tiered_indexed_multi" ->
      streamServeMutating(StreamMultiPlan, indexed = true),
    "q_stream_serve_requests_tiered_indexed_mixed" ->
      streamServeMutating(StreamMixedPlan, indexed = true),
    // ... and REQUESTS AS A STREAM — the online-serving shape: each
    // microbatch serves its arriving requests' full objects off the
    // static layouts; per-request independence (df per term, per-qid
    // min-max) makes the drained union row-identical to the batch
    // capstone, so it shares that oracle
    "q_stream_serve_requests" -> q((s, dir) => graft.streaming.StreamOps
      .serveRequestsOverStream(s, dir, emb(s, dir), docs(s, dir),
        bm25MultiQueriesOf(s, dir), filterMultiRelOf(s, dir),
        fusionMultiRelOf(s, dir), pageKMultiRelOf(s, dir), Bm25K1,
        Bm25B, RrfPoolN, PostBuckets)),
    // lexical index DELETES, merge-on-read: tombstoned docs anti-joined
    // out of the candidates, stats left STALE until compaction — the
    // Lucene delete contract (docs unretrievable immediately, df/sumdl
    // unchanged until segment merge)
    "q_bm25_delete" -> q((s, dir) => graft.operators.Search
      .bm25AtRestWithDeletes(s, dir, Bm25Terms, Bm25K1, Bm25B, Bm25TopN,
        PostBuckets, Bm25DeleteMod)),
    // ... and TIME TRAVEL on the lexical index: the versioned delete log
    // served as-of commit 1 — completes the as-of verb across all four
    // index families (PQ, spherical, LSH, postings); stats stay stale
    // for every snapshot, the Lucene contract
    "q_bm25_delete_asof" -> q((s, dir) => graft.operators.Search
      .bm25AtRestWithDeletesAsOf(s, dir, Bm25Terms, Bm25K1, Bm25B,
        Bm25TopN, PostBuckets, Bm25DeleteMod, asOf = 1)),
    // ... and merge-on-read UPSERT — updated docs re-indexed into a
    // tb-partitioned delta (update = delete + add): their base postings
    // excised at serve time, df from the new segment, (n, sumdl) STALE
    // until segment merge; base files never rewritten
    "q_bm25_upsert" -> q((s, dir) => graft.operators.Search
      .bm25AtRestUpserted(s, dir, Bm25Terms, Bm25K1, Bm25B, Bm25TopN,
        PostBuckets, Bm25UpsertMod, PostingsUpsertToken)),
    // ... and SEGMENT MERGE — the OPTIMIZE that ends the documented
    // staleness: delta folded into the base (one id-sorted file per
    // term bucket), (n, sumdl) recomputed from the merged postings,
    // served with no delta union or excision predicate at all —
    // row-identical to a fresh build over the updated corpus
    "q_bm25_upsert_compact" -> q((s, dir) => graft.operators.Search
      .bm25AtRestUpsertMerged(s, dir, Bm25Terms, Bm25K1, Bm25B, Bm25TopN,
        PostBuckets, Bm25UpsertMod, PostingsUpsertToken)),
    // ... and upsert TIME TRAVEL on the lexical index: the versioned
    // update log served as-of commit 1 — only doc ids ≡ 0 mod
    // 2·Bm25UpsertMod carry the revision in that snapshot; (n, sumdl)
    // the stale base sidecar for every snapshot (the Lucene contract)
    "q_bm25_upsert_asof" -> q((s, dir) => graft.operators.Search
      .bm25AtRestUpsertedAsOf(s, dir, Bm25Terms, Bm25K1, Bm25B,
        Bm25TopN, PostBuckets, Bm25UpsertMod, PostingsUpsertToken,
        asOf = 1)),
    // MAXSCORE BM25: the reference's refine discipline on the lexical
    // rung (Turtle-Flood/WAND family) — cheap (term, doc_id)-only bound
    // pass, exact-scored seeds -> tau, zero-miss bound>=tau rejection,
    // exact rescore of survivors; provably equal to q_bm25_at_rest
    "q_bm25_maxscore" -> q((s, dir) => graft.operators.Search
      .bm25MaxScore(s, dir, Bm25Terms, Bm25K1, Bm25B, Bm25TopN,
        PostBuckets, Bm25SeedB)),
    // ... and its BYTE LEDGER: per-column posting bytes for the bound
    // pass vs the exact fetches vs the full-read baseline — the lexical
    // twin of the refine family's bandwidth accounting
    "q_bm25_maxscore_metrics" -> q((s, dir) => graft.operators.Search
      .bm25MaxScoreMetrics(s, dir, Bm25Terms, Bm25K1, Bm25B, Bm25TopN,
        PostBuckets, Bm25SeedB)),
    // the posting lists STREAM-MAINTAINED: docs drain shard-by-shard,
    // each microbatch appends its own postings (no cross-batch state to
    // merge), stats re-aggregated at publish — hash-equal to
    // q_bm25_at_rest once drained, so it shares that oracle
    "q_stream_bm25" -> q((s, dir) => graft.streaming.StreamOps
      .bm25OverStream(s, dir, Bm25Terms, Bm25K1, Bm25B, Bm25TopN,
        PostBuckets)),
    // φ-heavy hitters (frequent 3-grams): count-min sketch proposes a
    // provable candidate superset off a bounded counter grid, an exact
    // pass verifies — output exactly the GROUP BY/HAVING relation
    "q_heavy_hitters" -> q((s, dir) => TextOps.heavyHitters(
      docs(s, dir), HhN, HhRelDiv)),
    // hybrid retrieval: reciprocal rank fusion of the BM25 top-N list
    // and the brute cosine top-N list (query = vector of doc 0)
    "q_hybrid_rrf" -> q((s, dir) => {
      val (text, st) = graft.operators.Search.bm25(
        docs(s, dir), Bm25Terms, Bm25K1, Bm25B, RrfPoolN)
      measuredBm25.put(dir, st)
      graft.operators.Search.hybridRrf(text, emb(s, dir),
        RrfPoolN, RrfKConst, HybridK)
    }),
    // the OTHER standard fusion: relative-score (linear) — per-list
    // min-max normalization, fused = α·text + (1-α)·vec; preserves
    // score magnitudes where RRF keeps only ranks
    "q_hybrid_linear" -> q((s, dir) => {
      val (text, st) = graft.operators.Search.bm25(
        docs(s, dir), Bm25Terms, Bm25K1, Bm25B, RrfPoolN)
      measuredBm25.put(dir, st)
      graft.operators.Search.hybridLinear(text, emb(s, dir),
        RrfPoolN, HybridAlpha, HybridK)
    }),
    // ANN quality evaluation: recall of the IVF index against the brute
    // scan — the standard index-tuning workflow (one row: hits, recall)
    "q_ann_recall" -> q((s, dir) => {
      val b = Ann.bruteTopK(emb(s, dir), NQ, K).select(col("qid"), col("id"))
      val v = graft.operators.Ivf
        .topk(emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe)
        .select(col("qid"), col("id"))
      b.join(v, Seq("qid", "id"))
        .agg(count(lit(1)).as("hits"))
        .select(col("hits"),
          (col("hits").cast("double") / lit(K * NQ)).as("recall"))
    }),
    // recall-vs-nprobe tuning sweep: every grid point derived from one
    // shared scored candidate scan (the nprobe analog of q_tune_delta),
    // now carrying the (recall, save) pair of the reference's sweep CSV
    "q_tune_nprobe" -> q((s, dir) => graft.operators.Ivf.tuneNprobe(
      emb(s, dir), NQ, K, IvfCells, EmbD, TuneNprobes)),
    // the same sweep over the two-phase IVF-SQ8 rung: per grid point the
    // cheap pass pays 1 byte/dim, the rescore 4 bytes/dim for <= rerank*Q
    // survivors — the end-to-end operating-point chooser (recall AND
    // bytes_cheap + bytes_rescore + save per nprobe)
    "q_tune_nprobe_sq8" -> q((s, dir) => graft.operators.Ivf.tuneNprobeSq8(
      emb(s, dir), NQ, K, IvfCells, EmbD, TuneNprobes, EmbSq8ScaleLog2,
      Sq8Rerank)),
    // ... and the workflow's END: the chosen operating point — highest
    // save clearing the recall floor (Tune.tuneDelta's discipline on the
    // index-side sweep)
    "q_tune_nprobe_pick" -> q((s, dir) => graft.operators.Ivf.chooseNprobeSq8(
      emb(s, dir), NQ, K, IvfCells, EmbD, TuneNprobes, EmbSq8ScaleLog2,
      Sq8Rerank, TuneNprobeFloor)),
    // the SECOND tuning axis: rerank-depth sweep at fixed nprobe — the
    // cheap pass is shared verbatim across grid points (one persisted
    // scan); only the rescore-fetch depth (and its bytes) varies
    "q_tune_rerank" -> q((s, dir) => graft.operators.Ivf.tuneRerankSq8(
      emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe, EmbSq8ScaleLog2,
      TuneReranks)),
    // ... and BOTH knobs together: the 2-D (nprobe x rerank) grid — the
    // full analog of the reference's 2-D m_keep x delta sweep — still
    // from one persisted scored scan + one ground-truth pass
    "q_tune_grid" -> q((s, dir) => tuneGridDf(s, dir)),
    // the 2-D workflow's END: the chosen (nprobe, rerank) operating
    // point — highest save clearing the recall floor, off the grid above
    "q_tune_grid_pick" -> q((s, dir) => graft.operators.Ivf
      .chooseGridFromRows(s, tuneGridCached(s, dir)._1.toList,
        TuneNprobeFloor)),
    // ... and the grid's PARETO FRONTIER on (recall, save): the menu of
    // efficient operating points — every dominated row is strictly
    // wasted bandwidth at its recall; dominance — like the choice — is
    // driver-side over the session-shared |grid| sweep rows
    "q_tune_pareto" -> q((s, dir) => graft.operators.Ivf
      .paretoFromRows(s, tuneGridCached(s, dir)._1.toList)),
    // index introspection (the ANALYZE surface): per-cell occupancy, id
    // range, and corpus fraction — one map-side assignment pass folding
    // into nCells rows; what an operator reads before tuning nprobe or
    // re-training skewed centroids
    "q_ivf_stats" -> q((s, dir) => graft.operators.Ivf.indexStats(
      emb(s, dir), IvfCells, EmbD)),
    // QUERY-ADAPTIVE probe depth: each query probes the cells within a
    // fixed ratio of its nearest centroid distance (capped) — easy
    // queries pay one cell, boundary queries widen automatically; the
    // per-query probe count rides the result as its observable behavior
    "q_ann_adaptive" -> q((s, dir) => graft.operators.Ivf.topkAdaptive(
      emb(s, dir), NQ, K, IvfCells, EmbD, AdaptiveRatio, AdaptiveNpMax)),
    // recall@R curve for the probe rung: one ranked pass per side at
    // max(R), each curve point a rank cut + a hit count — the standard
    // ANN benchmark artifact (recall@1 vs recall@k disagreements are
    // what distinguish a bad candidate pool from a bad final ordering)
    "q_ann_recall_curve" -> q((s, dir) => graft.operators.Ivf.recallAtR(
      emb(s, dir), NQ, IvfCells, EmbD, IvfProbe, RecallRs)),
    // score-distribution histogram over the query-corpus cosines: the
    // calibration artifact behind every threshold (cascade cuts, dedup
    // tau, range radius) — a full-corpus statistic that reduces map-side
    // to <= 2*binScale+1 groups, the cheapest 100 TB-scale scan there is
    "q_score_hist" -> q((s, dir) => graft.operators.Ann.scoreHistogram(
      emb(s, dir), NQ, HistBinScale)),
    // ... and the decision it feeds: the widest radius whose estimated
    // result volume fits the budget (lowest bucket with cum <= budget)
    "q_range_tau_pick" -> q((s, dir) => graft.operators.Ann.rangeTauPick(
      emb(s, dir), NQ, HistBinScale, RangeBudget)),
    // the reference's (preds, saving) contract applied to the cascade:
    // end-to-end recall + the per-tier byte ledger (8/1/4d bytes over
    // geometrically shrinking sets) + save vs the brute 4d*N*Q baseline
    "q_cascade_metrics" -> q((s, dir) => graft.operators.Cascade.metrics(
      emb(s, dir), NQ, K, EmbD, EmbSq8ScaleLog2, CascadeR1, CascadeR2)),
    // retrieval-eval metric: mean reciprocal rank of the IVF-probed list
    // against the exact nearest neighbor (brute top-1) — the other
    // standard index-tuning number next to recall. Each query's 1/rank
    // is the exact integer MrrScale div rank (MrrScale = lcm(1..K)), so
    // the sum never touches floats until the single final division.
    "q_ann_mrr" -> q((s, dir) => {
      val truth = Ann.bruteTopK(emb(s, dir), NQ, 1).select(col("qid"), col("id"))
      val got = graft.operators.Ivf
        .topk(emb(s, dir), NQ, K, IvfCells, EmbD, IvfProbe)
        .select(col("qid"), col("id"), col("rank"))
      truth.join(got, Seq("qid", "id"))
        .agg(count(lit(1)).as("found"),
          coalesce(sum(expr(s"$MrrScale div rank")), lit(0L)).as("mrr_scaled"))
        .select(col("found"), col("mrr_scaled"),
          (col("mrr_scaled").cast("double") / lit(MrrScale.toDouble * NQ))
            .as("mrr"))
    }),
    // events
    "q_events_daily"    -> q((s, dir) => qEventsDaily(s, dir)),
    "q_salted_daily"    -> q((s, dir) => qSaltedDaily(s, dir)),
    "q_events_json"     -> q((s, dir) => qEventsJson(s, dir)),
    "q_events_sessions" -> q((s, dir) => qEventsSessions(s, dir)),
    "q_events_asof"     -> q((s, dir) => qEventsAsof(s, dir)),
    "q_events_range"    -> q((s, dir) => qEventsRange(s, dir)),
    "q_events_running"  -> q((s, dir) => qEventsRunning(s, dir)),
    // relational classics
    "q_pricing"       -> q((s, dir) => qPricing(s, dir)),
    "q_top_customers" -> q((s, dir) => qTopCustomers(s, dir)),
    "q_region_stats"  -> q((s, dir) => qRegionStats(s, dir)),
    "q_events_quantiles" -> q((s, dir) => qEventsQuantiles(s, dir)),
    // sketch ops (HLL cardinality + GK quantiles) graded via provable
    // rank/error invariants beside the hash-matched exact yardsticks
    "q_sketches" -> q((s, dir) => qSketches(s, dir)),
    "q_brand_revenue"    -> q((s, dir) => qBrandRevenue(s, dir)),
    "q_set_ops"       -> q((s, dir) => qSetOps(s, dir)),
    "q_rollup"        -> q((s, dir) => qRollup(s, dir)),
    "q_sweep"         -> q((s, dir) => qSweep(s, dir)),
  ) ++ Refine.Modes.map(m =>
    s"q_refine_$m" -> q((s, dir) => qRefine(s, dir, m))
  ).toMap ++ Map[String, QFn](
    "q_refine_kernel_cos_l1" -> q((s, dir) => qRefineKernel(s, dir, "cos_l1")),
    "q_refine_kernel_l2_tz"  -> q((s, dir) => qRefineKernel(s, dir, "l2_tz")),
    // realistic vector width (reference demo D=128): relational, kernel,
    // and accounting paths, all on the hash-matched oracle
    "q_refine_d128"         -> q((s, dir) => qRefineD128(s, dir)),
    "q_refine_kernel_d128"  -> q((s, dir) => qRefineKernelD128(s, dir)),
    "q_refine_metrics_d128" -> q((s, dir) => qRefineMetricsD128(s, dir)),
    // MS MARCO-class width (reference mid tier D=1024) on a tiny slice
    "q_refine_d1024"        -> q((s, dir) => qRefineD1024(s, dir)),
    "q_refine_prefix_d1024" -> q((s, dir) => qRefinePrefixD1024(s, dir)),
    "q_refine_d3072"        -> q((s, dir) => qRefineD3072(s, dir)),
    // int8 scalar quantization as a precision-ladder rung (cos_l1 cushion
    // over dequantized codes + constant half-step bound)
    "q_refine_int8"         -> q((s, dir) => qRefineInt8(s, dir)),
    "q_refine_metrics_int8" -> q((s, dir) => qRefineMetricsInt8(s, dir)),
    "q_refine_int8_at_rest" -> q((s, dir) => qRefineInt8AtRest(s, dir)),
    // running-tau Hoeffding kernel: provable invariants as constants
    "q_kernel_hoeff" -> q((s, dir) => qKernelHoeffInvariants(s, dir)),
    // at-rest disaggregated layout: cheap pass scans only reduced columns
    "q_refine_disagg" -> q((s, dir) => qRefineDisagg(s, dir, "cos_l1")),
    // PRECISION ON DEMAND AS A RELATION: each query refines with its
    // OWN Hoeffding δ from the stored relation (rank-bound) — the
    // reference's headline tunable per tenant, one plan
    "q_refine_multi_delta" -> q((s, dir) => qRefineMultiDelta(s, dir)),
    // ... and the paper's TITLE knob per query: m_keep as a relation —
    // per-qid mantissa tiers off one scan, per-qid byte ledger out
    "q_refine_multi_mkeep" -> q((s, dir) => qRefineMultiMkeep(s, dir)),
    // ... AT REST off the TIERED disaggregated layout (one stored
    // (rvec_m, delta_m) column pair per mantissa budget): the tier
    // choice is physical column pruning — the cheap scan reads only
    // the USED tiers' chunks, never vec or the stored-but-unused tier
    "q_refine_multi_mkeep_at_rest" -> q((s, dir) =>
      qRefineMultiMkeepAtRest(s, dir)),
    // Hoeffding delta grid-search (reference ANNCode.py:755-776)
    "q_tune_delta" -> q((s, dir) => {
      val v = Fixture.fp16VectorsCached(s, dir, D, KeepM)
      val qq = Fixture.queries(v, NQ).select(col("qid"), col("qvec"))
      graft.operators.Tune.tuneDelta(v, qq, TuneMode, K, KeepM, D,
        TuneFloor, TuneGrid)
    }),
    // custom Catalyst physical operator path (same zero-miss semantics)
    "q_refine_plan_l2_sym" -> q((s, dir) => {
      val v = Fixture.fp16VectorsCached(s, dir, D, KeepM)
      val qq = Fixture.queries(v, NQ).select(col("qid"), col("qvec"))
      org.apache.spark.sql.graft.KernelPlan.refineTopK(v, qq, refineParams("l2_sym"))
    }),
    // §2.9 Structured Streaming on the correctness surface: the events
    // table drained through a file-source stream + windowed aggregate
    // (AvailableNow); equals the batch daily agg, same oracle
    "q_stream_daily" -> q((s, dir) =>
      graft.streaming.StreamOps.dailyCountsOnce(s, dir)),
    // arbitrary stateful streaming (flatMapGroupsWithState): per-user
    // sessionization drained through a real stream; equals the batch
    // window-lag sessionization, same oracle
    "q_stream_sessions" -> q((s, dir) =>
      graft.streaming.StreamOps.sessionsOnce(s, dir, SessionGapSec)),
    // streaming INDEX MAINTENANCE: ids drained through a file stream into
    // an incrementally-appended reduced-copy layout, refined in place —
    // equals the batch refine, same oracle
    "q_stream_refine" -> q((s, dir) => graft.streaming.StreamOps
      .refineOverStream(s, dir, D, KeepM, refineParams("cos_l1"))),
    // streaming INGESTION DEDUP: documents drained one file per trigger
    // through a running digest aggregate (the dedup state), update-mode
    // upsert log; equals the batch exact dedup, same oracle
    "q_stream_dedup" -> q((s, dir) =>
      graft.streaming.StreamOps.streamDedupOnce(s, dir)),
    // ... and the SPAN-level ingestion twin: per-gram occurrence counts
    // merged across microbatches are the substring-dedup state; coverage
    // served off the drained state equals the batch op, same oracle
    "q_stream_substring_dedup" -> q((s, dir) =>
      graft.streaming.StreamOps.streamSubstringDedupOnce(s, dir, SubstrW)),
    // ... and the stream-maintained CLEAN: (canonical occurrence, count)
    // per digest — both order-insensitive, merging in any arrival order;
    // the clean off the drained state equals the batch op, same oracle
    "q_stream_substring_clean" -> q((s, dir) =>
      graft.streaming.StreamOps.streamSubstringCleanOnce(s, dir, SubstrW)),
    // bucketed (pre-partitioned) layout: equi-join with no exchange on
    // either side (PlanSpec asserts the plan shape)
    "q_bucketed_join" -> q((s, dir) =>
      graft.sources.Bucketed.segmentRevenue(s, dir)),
    // multimodal plumbing (binary column + batched featurizer)
    "q_multimodal_hist" -> q((s, dir) =>
      graft.operators.Multimodal.features(
        graft.operators.Multimodal.withBlob(docs(s, dir)))),
    // frame sampling over the opaque blob (video/audio sampling shape)
    "q_multimodal_frames" -> q((s, dir) =>
      graft.operators.Multimodal.frameSample(
        graft.operators.Multimodal.withBlob(docs(s, dir)))),
    // blob -> featurize -> cosine search, one lazy plan
    "q_multimodal_ann" -> q((s, dir) => qMultimodalAnn(s, dir)),
    // REAL image decode: render deterministic grayscale PNGs per doc,
    // decode them back through the JDK's actual PNG codec, histogram the
    // decoded pixels; lossless round-trip => the oracle states the
    // synthesis arithmetic in closed form without ever seeing a PNG
    "q_multimodal_decode" -> q((s, dir) =>
      graft.operators.Multimodal.decodeImageFeatures(
        graft.operators.Multimodal.renderImageBlobs(docs(s, dir)))),
    // REAL audio decode: deterministic 16-bit PCM in genuine WAV
    // containers, parsed back through the JDK audio system; windowed
    // energies are exact BIGINT sums both engines reproduce
    "q_multimodal_audio" -> q((s, dir) =>
      graft.operators.Multimodal.decodeAudioFeatures(
        graft.operators.Multimodal.renderAudioBlobs(docs(s, dir)))),
    // REAL video-frame decode: demux a length-prefixed container of PNG
    // frames and decode each through the JDK codec; per-frame pixel sums
    // are exact BIGINT aggregates of the lossless round-trip
    "q_multimodal_video" -> q((s, dir) =>
      graft.operators.Multimodal.decodeVideoFeatures(
        graft.operators.Multimodal.renderVideoBlobs(docs(s, dir)))),
    // inter-frame (temporal-predictive) video decode: PNG key frame +
    // Deflate-coded mod-256 residuals against the previous RECONSTRUCTED
    // frame — the JDK-only analog of a real P-frame codec, with the
    // sequential frame-dependency chain real temporal codecs impose
    "q_multimodal_video_inter" -> q((s, dir) =>
      graft.operators.Multimodal.decodeVideoFeaturesInter(
        graft.operators.Multimodal.renderVideoBlobsInter(docs(s, dir)))),
    // compression model, split (VERDICT r5 #5): the packed (pre-Deflater)
    // bit-plane layout is hash-matched via per-plane popcounts ...
    "q_compress_packed" -> q((s, dir) =>
      graft.operators.BitplaneCompress.planePopcounts(
        Fixture.fp16VectorsCached(s, dir, D, KeepM).select(col("id"), col("vec")),
        D, keepE = 5, keepM = KeepM)),
    // ... and the zlib totals ride into the oracle as MEASURED constants
    // (the measuredComp discipline), so the ratio row hash-checks too
    "q_compress_ratio" -> q((s, dir) =>
      graft.operators.BitplaneCompress.measure(
        Fixture.fp16VectorsCached(s, dir, D, KeepM).select(col("id"), col("vec")),
        D, keepE = 5, keepM = KeepM)),
  ) ++ RequestServes.map { case (name, (indexed, asOf, ledger)) =>
    name -> requestServe(indexed, asOf, ledger) } ++
    TieredServes.map { case (name, (indexed, snap, ledger)) =>
      name -> tieredServe(indexed, snap, ledger) }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    *
    * q_refine_metrics_compressed embeds MEASURED constants: zlib has no
    * DuckDB twin, so its oracle embeds the (n_vecs, compressed_bytes)
    * captured when the query ran — or measured eagerly right here when it
    * didn't (any Verify filter selection still gets the oracle). The key
    * is omitted — driver records a rows-only check — only from a JVM with
    * no Spark session at all. */
  def oracleSql: Map[String, String] = (measuredCompForOracle() match {
    case Some((n, comp)) =>
      // same arithmetic trees as the Spark side, around the measured
      // (n_vecs, comp_bytes) constants — the zlib measurement itself is
      // the only non-mirrorable step, so it rides in as literals
      val naive = (1 + 5 + KeepM) * D / 8.0
      Map(
        "q_refine_metrics_compressed" -> RefineOracle.metricsSqlWithRedBytes(
          D, NQ, refineParams(CompressedMetricsMode),
          s"(CAST($comp AS DOUBLE) / $n)"),
        "q_compress_ratio" ->
          s"""SELECT 5 AS keep_e, $KeepM AS keep_m,
             |  CAST($n AS BIGINT) AS n_vecs,
             |  ${OracleGen.dlit(naive)} AS naive_bytes_per_vec,
             |  CAST($comp AS DOUBLE) / CAST($n AS DOUBLE) AS comp_bytes_per_vec,
             |  (${OracleGen.dlit(naive)} * CAST($n AS DOUBLE)) / CAST($comp AS DOUBLE) AS ratio""".stripMargin)
    case None => Map.empty[String, String]
  }) ++ Map(
    "q_topk_cos" -> OracleGen.topkSql(D, NQ, K, "cos"),
    "q_topk_l2"  -> OracleGen.topkSql(D, NQ, K, "l2"),
    "q_topk_cos_vecsrc" -> OracleGen.topkSql(D, NQ, K, "cos"),
    "q_topk_cos_dispatch" -> OracleGen.topkSql(D, NQ, K, "cos"),
    "q_topk_cos_fvecs"  -> OracleGen.topkSql(D, NQ, K, "cos"),
    "q_topk_cos_binsrc" -> OracleGen.topkSql(D, NQ, K, "cos"),
    "q_reduce_precision" -> RefineOracle.reduceSql(D, KeepM, ReduceMaxId),
    "q_refine_metrics"   ->
      RefineOracle.allMetricsSql(D, NQ, Refine.Modes.map(refineParams)),
    "q_dedup_exact"   -> DocOracle.dedupExactSql,
    "q_minhash_lsh"   -> DocOracle.minhashLshSql(Shingle, NumHashes, Bands, RowsPerBand),
    "q_simhash"       -> DocOracle.simhashPairsSql(SimhashBits, MaxHamming),
    "q_dedup_groups"  -> DocOracle.dedupGroupsSql(SimhashBits, MaxHamming),
    "q_corpus_clean"  -> DocOracle.corpusCleanSql(TextOps.Stopwords, QualityFloor,
      SimhashBits, MaxHamming),
    "q_ngram_jaccard" -> DocOracle.ngramJaccardSql(JaccardN, MinJaccard, MaxGramDf),
    "q_decontaminate" -> DocOracle.decontaminateSql(DecontamN, DecontamEvalMod),
    "q_chunk_docs" -> DocOracle.chunkDocsSql(ChunkTokens, ChunkOverlap),
    "q_pack_sequences" -> DocOracle.packSequencesSql(PackBudget),
    "q_token_stats"   -> DocOracle.tokenStatsSql,
    "q_vocab"              -> DocOracle.vocabSql(VocabN),
    "q_stratified_sample"  -> DocOracle.stratifiedSampleSql(StrataN),
    "q_bpe_merge"          -> DocOracle.bpeMergeSql(BpeTopN),
    "q_bpe_train"          -> DocOracle.bpeTrainSql(BpeRounds),
    "q_bpe_encode"         -> DocOracle.bpeEncodeSql(BpeRounds),
    "q_substring_dedup"    -> DocOracle.substringDedupSql(SubstrW),
    "q_substring_clean"    -> DocOracle.substringCleanSql(SubstrW),
    "q_stream_substring_dedup" -> DocOracle.substringDedupSql(SubstrW),
    "q_stream_substring_clean" -> DocOracle.substringCleanSql(SubstrW),
    "q_temp_sample"        -> DocOracle.temperatureSampleSql(TempTotal),
    "q_lang_id"       -> DocOracle.langIdSql(TextOps.LangMarkers),
    "q_quality"       -> DocOracle.qualitySql(TextOps.Stopwords),
    "q_fingerprint"   -> DocOracle.fingerprintSql(Shingle),
    // same injection, same RE2-safe patterns (Java regex and RE2 agree
    // on character-class regexes), email pass before number pass
    "q_pii_scrub" ->
      s"""WITH inj AS (SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@example.com ref '
         |      || CAST(doc_id * 7919 + 123456789 AS VARCHAR) AS text
         |  FROM documents),
         |ne AS (SELECT doc_id, text,
         |    regexp_replace(text, '${TextOps.EmailRe}', '<EMAIL>', 'g') AS no_email
         |  FROM inj)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextOps.EmailRe}')) AS INTEGER)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(no_email, '${TextOps.LongNumRe}')) AS INTEGER)
         |    AS n_longnums,
         |  regexp_replace(no_email, '${TextOps.LongNumRe}', '<NUM>', 'g')
         |    AS clean_text
         |FROM ne""".stripMargin,
    "q_subsample"     -> DocOracle.subsampleSql(SubsampleN),
    "q_token_bpe"     -> DocOracle.bpeUnitsSql,
    "q_repetition"    -> DocOracle.repetitionSql(JaccardN),
    "q_ann_brute"     -> EmbOracle.bruteSql(EmbD, NQ, K),
    // top-k of a set is arrival-order-invariant: the drained continuous
    // view IS the brute result
    "q_stream_topk_view" -> EmbOracle.bruteSql(EmbD, NQ, K),
    "q_ann_prefix"    -> EmbOracle.prefixSql(EmbD, PrefixD, NQ, K, PrefixRerank),
    // identical rows off the at-rest layout (the stored prefix column
    // holds the same floats the map-side slice derives) — same oracle
    "q_ann_prefix_at_rest" -> EmbOracle.prefixSql(EmbD, PrefixD, NQ, K, PrefixRerank),
    "q_ann_ivf_prefix" -> IvfOracle.prefixIvfSql(EmbD, NQ, K, IvfCells,
      IvfProbe, PrefixD, PrefixRerank),
    "q_kmeans_step" -> IvfOracle.kmeansStepSql(EmbD, IvfCells),
    "q_kmeans_spherical" -> IvfOracle.kmeansSphericalStepSql(EmbD, IvfCells),
    "q_ann_ivf_spherical" -> IvfOracle.sphericalTopkSql(EmbD, NQ, K,
      IvfCells, IvfProbe),
    // the composed cosine string; the at-rest twin shares the oracle
    // (identical semantics, only the physical serve path differs)
    "q_ann_ivf_spherical_pq" -> PqOracle.sphericalResidualSql(EmbD, NQ, K,
      IvfCells, IvfProbe, PqM, PqCodes, PqRerank),
    "q_ann_ivf_spherical_pq_at_rest" -> PqOracle.sphericalResidualSql(EmbD,
      NQ, K, IvfCells, IvfProbe, PqM, PqCodes, PqRerank),
    "q_ann_ivf_spherical_pq_delete" -> PqOracle.sphericalResidualSql(EmbD,
      NQ, K, IvfCells, IvfProbe, PqM, PqCodes, PqRerank,
      excludeMod = DeleteMod),
    "q_stream_ann_spherical_pq" -> PqOracle.sphericalResidualSql(EmbD,
      NQ, K, IvfCells, IvfProbe, PqM, PqCodes, PqRerank),
    "q_ann_spherical_pq_compact" -> PqOracle.sphericalResidualSql(EmbD,
      NQ, K, IvfCells, IvfProbe, PqM, PqCodes, PqRerank),
    // candidate-side vectors updated to -v for vec_id ≡ 0 mod UpsertMod
    // against the STALE trained model; query side untouched
    "q_ann_spherical_pq_upsert" -> PqOracle.sphericalResidualSql(EmbD,
      NQ, K, IvfCells, IvfProbe, PqM, PqCodes, PqRerank,
      updatedNegMod = UpsertMod),
    // upsert as-of commit 1: the commit-1 update set, stale model
    "q_ann_spherical_pq_upsert_asof" -> PqOracle.sphericalResidualSql(
      EmbD, NQ, K, IvfCells, IvfProbe, PqM, PqCodes, PqRerank,
      updatedNegMod = 2 * UpsertMod),
    // the PQ merged layout serves the merge-on-read view's rows
    "q_ann_pq_upsert_compact" -> PqOracle.topkSql(EmbD, NQ, K, IvfCells,
      IvfProbe, PqM, PqCodes, PqRerank, updatedNegMod = UpsertMod),
    // time travel as-of commit 1: only ids ≡ 0 (mod 2·DeleteMod) are
    // deleted in that snapshot (commit 2's ≡ DeleteMod rows still live)
    "q_ann_spherical_pq_delete_asof" -> PqOracle.sphericalResidualSql(EmbD,
      NQ, K, IvfCells, IvfProbe, PqM, PqCodes, PqRerank,
      excludeMod = 2 * DeleteMod),
    // the composed cosine string at D=1024 over the synthesized slice
    // domain — the fully-relational wide form (trained spherical units
    // re-derived from the (key, j, v) relation)
    "q_ann_ivf_spherical_pq_d1024" -> PqOracle.sphericalResidualWideSql(
      D1024, NQ, K, IvfCells, IvfProbe, PqM, PqCodes, PqRerank,
      D1024KeyMod),
    // identical semantics off the wide cell-partitioned layout — the
    // at-rest twin shares the wide oracle (deterministic training)
    "q_ann_ivf_spherical_pq_d1024_at_rest" ->
      PqOracle.sphericalResidualWideSql(D1024, NQ, K, IvfCells, IvfProbe,
        PqM, PqCodes, PqRerank, D1024KeyMod),
    "q_ann_ivf_spherical_pq_d3072" -> PqOracle.sphericalResidualWideSql(
      D3072, NQ, K, IvfCells, IvfProbe, PqM, PqCodes, PqRerank,
      D3072KeyMod),
    "q_ann_ivf_spherical_pq_d3072_at_rest" ->
      PqOracle.sphericalResidualWideSql(D3072, NQ, K, IvfCells, IvfProbe,
        PqM, PqCodes, PqRerank, D3072KeyMod),
    "q_kmeans_seed" -> IvfOracle.kmeansSeedSql(EmbD, SeedN, SeedPerRound),
    "q_ann_ivf_seeded" -> IvfOracle.seededTopkSql(EmbD, NQ, K, SeedN,
      SeedPerRound, IvfProbe),
    "q_ivf_split_stats" -> IvfOracle.splitStatsSql(EmbD, IvfCells,
      SplitFracNum, SplitFracDen),
    "q_ann_ivf_split" -> IvfOracle.splitTopkSql(EmbD, NQ, K, IvfCells,
      IvfProbe, SplitFracNum, SplitFracDen),
    // identical semantics off the base index + hot-cell sidecar — same
    // oracle as the in-memory rebalanced serve
    "q_ann_ivf_split_at_rest" -> IvfOracle.splitTopkSql(EmbD, NQ, K,
      IvfCells, IvfProbe, SplitFracNum, SplitFracDen),
    "q_ann_ivf_lloyd" -> IvfOracle.lloydTopkSql(EmbD, NQ, K, IvfCells,
      IvfProbe),
    "q_kmeans_converge" -> IvfOracle.kmeansConvergeSql(EmbD, IvfCells,
      KmeansIters),
    // the sampled trainer's ledger: the identical Lloyd CTEs over the
    // counter-keyed sample, stride embedded as the same literal
    "q_kmeans_converge_sampled" -> IvfOracle.kmeansConvergeSql(EmbD,
      IvfCells, KmeansIters,
      sampleEvery = kmTrainSampleEveryForOracleStrict(
        "q_kmeans_converge_sampled")),
    "q_pq_train" -> PqOracle.trainStepSql(EmbD, PqM, PqCodes),
    "q_pq_distortion" -> PqOracle.distortionSql(EmbD, PqM, PqCodes),
    // sampled training: the identical trained chain with the Lloyd
    // pass restricted to the counter-keyed sample (the engine's
    // stride literal, derived once from the corpus count)
    "q_ann_ivf_pq_trained_sampled" -> PqOracle.trainedTopkSql(EmbD, NQ,
      K, IvfCells, IvfProbe, PqM, PqCodes, PqRerank,
      sampleEvery = pqTrainSampleEveryForOracleStrict(
        "q_ann_ivf_pq_trained_sampled")),
    // the sampled-train twins of the spherical and OPQ rungs: the same
    // trained chains with the training CTE cut to the counter-keyed
    // sample (the engine's stride literal, derived once per dir)
    "q_ann_spherical_pq_sampled" -> PqOracle.sphericalResidualSql(EmbD,
      NQ, K, IvfCells, IvfProbe, PqM, PqCodes, PqRerank,
      sampleEvery = pqTrainSampleEveryForOracleStrict(
        "q_ann_spherical_pq_sampled")),
    "q_ann_ivf_pq_opq_sampled" -> PqOracle.opqTrainedTopkSql(EmbD, NQ,
      K, IvfCells, IvfProbe, PqM, PqCodes, PqRerank,
      sampleEvery = pqTrainSampleEveryForOracleStrict(
        "q_ann_ivf_pq_opq_sampled")),
    "q_ann_ivf_pq_trained" -> PqOracle.trainedTopkSql(EmbD, NQ, K,
      IvfCells, IvfProbe, PqM, PqCodes, PqRerank),
    // identical semantics to q_ann_ivf_pq_trained; only the physical
    // path (persisted trained codes + partition pruning) differs
    "q_ann_ivf_pq_trained_at_rest" -> PqOracle.trainedTopkSql(EmbD, NQ, K,
      IvfCells, IvfProbe, PqM, PqCodes, PqRerank),
    // zero-miss by construction: the width-axis refinement provably
    // reproduces the exact scan, so its oracle IS the brute oracle
    "q_refine_prefix" -> EmbOracle.bruteSql(EmbD, NQ, K),
    "q_refine_prefix_at_rest" -> EmbOracle.bruteSql(EmbD, NQ, K),
    "q_stream_ann_prefix" -> EmbOracle.bruteSql(EmbD, NQ, K),
    "q_refine_prefix_metrics" ->
      EmbOracle.prefixRefineMetricsSql(EmbD, PrefixRefineD, NQ, K),
    "q_rung_ladder" -> LadderOracle.rungLadderSql(EmbD, NQ, K, IvfCells,
      IvfProbe, PqM, PqCodes, PqRerank, BqRerank, EmbSq4ScaleLog2, Sq4Rerank,
      EmbSq8ScaleLog2, Sq8Rerank, PrefixD, PrefixRerank, PrefixRefineD),
    "q_ann_ivf"       -> EmbOracle.ivfSql(EmbD, NQ, K),
    "q_ann_ivf_index" -> IvfOracle.topkSql(EmbD, NQ, K, IvfCells, IvfProbe),
    // identical semantics to q_ann_ivf_index; only the physical path
    // (partition-pruned scan of the at-rest index) differs
    "q_ann_ivf_at_rest" -> IvfOracle.topkSql(EmbD, NQ, K, IvfCells, IvfProbe),
    // per-qid probe depth from the stored relation
    "q_ann_ivf_multi_probe" -> IvfOracle.topkSql(EmbD,
      (NprobeMultiRel.map(_._1).max + 1).toInt, K, IvfCells, IvfProbe,
      relPath = qrelPathForOracle(), nprobeRel = NprobeMultiRel),
    // per-qid rerank depth from the stored relation (kind 'rerank')
    "q_ann_ivf_pq_multi_rerank" -> PqOracle.topkSql(EmbD,
      (RerankMultiRel.map(_._1).max + 1).toInt, K, IvfCells, IvfProbe,
      PqM, PqCodes, rerank = RerankMultiRel.map(_._2).max,
      rerankRel = RerankMultiRel, relPath = qrelPathForOracle()),
    "q_ann_ivf_sq8" -> IvfOracle.sq8Sql(EmbD, NQ, K, IvfCells, IvfProbe,
      EmbSq8ScaleLog2, Sq8Rerank),
    "q_ann_ivf_sq4" -> IvfOracle.sq4Sql(EmbD, NQ, K, IvfCells, IvfProbe,
      EmbSq4ScaleLog2, Sq4Rerank),
    "q_ann_ivf_sq8t" -> IvfOracle.sq8TrainedSql(EmbD, NQ, K, IvfCells,
      IvfProbe, Sq8Rerank),
    // identical semantics off the persisted trained codes (the byte
    // round-trips the floor'd level exactly) — same oracle
    "q_ann_ivf_sq8t_at_rest" -> IvfOracle.sq8TrainedSql(EmbD, NQ, K,
      IvfCells, IvfProbe, Sq8Rerank),
    "q_ann_grouped" -> SearchOracle.groupedSql(EmbD, NQ, GroupedK),
    // identical semantics off the packed at-rest layout (nibble
    // round-trip is the identity) — same oracle
    "q_ann_sq4_at_rest" -> IvfOracle.sq4Sql(EmbD, NQ, K, IvfCells, IvfProbe,
      EmbSq4ScaleLog2, Sq4Rerank),
    "q_ann_ivf_pq" -> PqOracle.topkSql(EmbD, NQ, K, IvfCells, IvfProbe,
      PqM, PqCodes, PqRerank),
    // the shard-merged layout holds exactly the whole-corpus build's
    // rows (encode is per-vector deterministic) — same oracle
    "q_ann_ivf_pq_sharded" -> PqOracle.topkSql(EmbD, NQ, K, IvfCells,
      IvfProbe, PqM, PqCodes, PqRerank),
    "q_ann_ivf_pq_res" -> PqOracle.topkResidualSql(EmbD, NQ, K, IvfCells,
      IvfProbe, PqM, PqCodes, PqRerank),
    "q_ann_ivf_opq_res" -> PqOracle.topkResidualOpqSql(EmbD, NQ, K, IvfCells,
      IvfProbe, PqM, PqCodes, PqRerank),
    // identical semantics off the composed at-rest layout — same oracle
    "q_ann_ivf_opq_res_at_rest" -> PqOracle.topkResidualOpqSql(EmbD, NQ, K,
      IvfCells, IvfProbe, PqM, PqCodes, PqRerank),
    "q_ann_ivf_opq_res_trained" -> PqOracle.opqTrainedResidualSql(EmbD, NQ,
      K, IvfCells, IvfProbe, PqM, PqCodes, PqRerank),
    // identical semantics off the trained composed layout — same oracle
    "q_ann_ivf_opq_res_trained_at_rest" -> PqOracle.opqTrainedResidualSql(
      EmbD, NQ, K, IvfCells, IvfProbe, PqM, PqCodes, PqRerank),
    // identical semantics to q_ann_ivf_pq; only the physical path (code
    // column + partition pruning off the at-rest layout) differs
    "q_ann_ivf_pq_at_rest" -> PqOracle.topkSql(EmbD, NQ, K, IvfCells,
      IvfProbe, PqM, PqCodes, PqRerank),
    // the drained query-stream serve is row-identical to the batch run
    "q_stream_ann_serve" -> PqOracle.topkSql(EmbD, NQ, K, IvfCells,
      IvfProbe, PqM, PqCodes, PqRerank),
    // identical semantics to q_ann_ivf_pq_res off the at-rest layout
    "q_ann_ivf_pq_res_at_rest" -> PqOracle.topkResidualSql(EmbD, NQ, K,
      IvfCells, IvfProbe, PqM, PqCodes, PqRerank),
    // the PQ pipeline minus the tombstoned ids (vec_id ≡ 0 mod DeleteMod)
    "q_ann_pq_delete" -> PqOracle.topkSql(EmbD, NQ, K, IvfCells,
      IvfProbe, PqM, PqCodes, PqRerank, excludeMod = DeleteMod),
    // the as-of-commit-1 snapshot deletes exactly ids ≡ 0 mod 2·DeleteMod
    "q_ann_pq_delete_asof" -> PqOracle.topkSql(EmbD, NQ, K, IvfCells,
      IvfProbe, PqM, PqCodes, PqRerank, excludeMod = 2 * DeleteMod),
    // the drained stream log holds identical (id, commit_v) rows
    "q_stream_ann_delete_asof" -> PqOracle.topkSql(EmbD, NQ, K, IvfCells,
      IvfProbe, PqM, PqCodes, PqRerank, excludeMod = 2 * DeleteMod),
    // the stream-maintained sidecar holds the same delete set once
    // drained -> q_ann_pq_delete's oracle
    "q_stream_ann_delete" -> PqOracle.topkSql(EmbD, NQ, K, IvfCells,
      IvfProbe, PqM, PqCodes, PqRerank, excludeMod = DeleteMod),
    // the PQ pipeline with candidates restricted to the lang predicate
    "q_ann_ivf_pq_filtered" -> PqOracle.topkSql(EmbD, NQ, K, IvfCells,
      IvfProbe, PqM, PqCodes, PqRerank, langs = FilterLangs),
    // the PQ pipeline with candidate-side vectors updated to -v for
    // vec_id ≡ 0 mod UpsertMod (query side untouched)
    "q_ann_pq_upsert" -> PqOracle.topkSql(EmbD, NQ, K, IvfCells,
      IvfProbe, PqM, PqCodes, PqRerank, updatedNegMod = UpsertMod),
    // as-of commit 1 = the index re-encoded over the view where only
    // ids ≡ 0 (mod 2·UpsertMod) carry the update — the snapshot oracle
    // IS the plain upsert oracle at the commit-1 update set
    "q_ann_pq_upsert_asof" -> PqOracle.topkSql(EmbD, NQ, K, IvfCells,
      IvfProbe, PqM, PqCodes, PqRerank, updatedNegMod = 2 * UpsertMod),
    // the PQ pipeline in signed-permutation-transformed space
    "q_ann_ivf_pq_opq" -> PqOracle.topkPermutedSql(EmbD, NQ, K, IvfCells,
      IvfProbe, PqM, PqCodes, PqRerank),
    // the PQ pipeline under the data-adaptive variance-balancing
    // permutation, re-derived inside the oracle from the same folds
    "q_ann_ivf_pq_opq_trained" -> PqOracle.opqTrainedTopkSql(EmbD, NQ, K,
      IvfCells, IvfProbe, PqM, PqCodes, PqRerank),
    // identical semantics off the persisted permuted-space codes
    // (deterministic transform re-derived at serve) — same oracle
    "q_ann_ivf_pq_opq_at_rest" -> PqOracle.opqTrainedTopkSql(EmbD, NQ, K,
      IvfCells, IvfProbe, PqM, PqCodes, PqRerank),
    // the stream-maintained codes layout holds the same rows as the
    // batch-built one once drained -> q_ann_ivf_pq's oracle
    "q_stream_ann_pq" -> PqOracle.topkSql(EmbD, NQ, K, IvfCells,
      IvfProbe, PqM, PqCodes, PqRerank),
    "q_ann_bq" -> PqOracle.bqSql(EmbD, NQ, K, BqRerank),
    // identical semantics to q_ann_bq off the stored sign-word column
    "q_ann_bq_at_rest" -> PqOracle.bqSql(EmbD, NQ, K, BqRerank),
    // multi-probe SRP-LSH: sign-hash buckets + Hamming-1 probe set +
    // exact rescore; one oracle serves the in-memory and at-rest twins
    // (the stored bucket column holds the identical keys)
    "q_ann_lsh" -> EmbOracle.lshSql(EmbD, LshPlanes, NQ, K),
    "q_ann_lsh_at_rest" -> EmbOracle.lshSql(EmbD, LshPlanes, NQ, K),
    // the drained stream-maintained layout holds the same rows ->
    // q_ann_lsh's oracle
    "q_stream_ann_lsh" -> EmbOracle.lshSql(EmbD, LshPlanes, NQ, K),
    // deletes cut candidates only (probe buckets unaffected); compaction
    // must be invisible, so it shares q_ann_lsh's oracle
    "q_ann_lsh_delete" -> EmbOracle.lshSql(EmbD, LshPlanes, NQ, K,
      excludeMod = DeleteMod),
    "q_ann_lsh_compact" -> EmbOracle.lshSql(EmbD, LshPlanes, NQ, K),
    // upsert: candidate side negated through hash and rescore, query
    // side and probe buckets raw (queries are the external relation)
    "q_ann_lsh_upsert" -> EmbOracle.lshSql(EmbD, LshPlanes, NQ, K,
      updatedNegMod = UpsertMod),
    // as-of commit 1 = the update applied only at ids ≡ 0 mod 2·mod
    "q_ann_lsh_upsert_asof" -> EmbOracle.lshSql(EmbD, LshPlanes, NQ, K,
      updatedNegMod = 2 * UpsertMod),
    // the merged layout holds the merge-on-read view's rows -> the
    // compacted serve shares the upsert oracle
    "q_ann_lsh_upsert_compact" -> EmbOracle.lshSql(EmbD, LshPlanes, NQ,
      K, updatedNegMod = UpsertMod),
    // as-of commit 1: only ids ≡ 0 (mod 2·DeleteMod) deleted in that
    // snapshot — commit 2's ≡ DeleteMod rows still served
    "q_ann_lsh_delete_asof" -> EmbOracle.lshSql(EmbD, LshPlanes, NQ, K,
      excludeMod = 2 * DeleteMod),
    // delete-folding compaction serves the same rows as merge-on-read
    "q_ann_lsh_compact_del" -> EmbOracle.lshSql(EmbD, LshPlanes, NQ, K,
      excludeMod = DeleteMod),
    // cursor-resume provably equals the global rank slice (k, 2k]
    "q_ann_page2" -> EmbOracle.pageSql(EmbD, NQ, K, 2),
    // the cursor-resumed page equals the same global rank slice
    "q_ann_page3" -> EmbOracle.pageSql(EmbD, NQ, K, 3),
    // every depth is a reqd-cut + rank over one shared candidate CTE
    "q_tune_lsh" -> EmbOracle.lshTuneSql(EmbD, LshPlanes, NQ, K),
    "q_tune_lsh_pick" -> EmbOracle.lshTunePickSql(EmbD, LshPlanes, NQ, K,
      LshRecallFloor),
    // three-tier cascade: Hamming cut, int8 mid-rank, exact rescore
    "q_ann_cascade" -> PqOracle.cascadeSql(EmbD, NQ, K, EmbSq8ScaleLog2,
      CascadeR1, CascadeR2),
    // identical semantics off the disaggregated at-rest ladder
    "q_ann_cascade_at_rest" -> PqOracle.cascadeSql(EmbD, NQ, K,
      EmbSq8ScaleLog2, CascadeR1, CascadeR2),
    // the cascade at width over the synthesized D=128 fixture slice
    "q_ann_cascade_wide" -> PqOracle.cascadeWideSql(D128, NQ, K,
      Int8ScaleLog2, CascadeR1, CascadeR2, D128KeyMod),
    // ... and over the D=1024 slice (16 sign words)
    "q_ann_cascade_d1024" -> PqOracle.cascadeWideSql(D1024, NQ, K,
      Int8ScaleLog2, CascadeR1, CascadeR2, D1024KeyMod),
    // multi-word BQ over the synthesized D=128 fixture slice
    "q_ann_bq_wide" -> PqOracle.bqWideSql(D128, NQ, K, BqRerank, D128KeyMod),
    // identical semantics off the at-rest word columns
    "q_ann_bq_wide_at_rest" ->
      PqOracle.bqWideSql(D128, NQ, K, BqRerank, D128KeyMod),
    // residual IVF-PQ at width: the fully-relational long form (hash
    // formulas as component relations instead of ~20k wide literals)
    "q_ann_ivf_pq_res_d1024" -> PqOracle.topkResidualWideSql(D1024, NQ, K,
      IvfCells, IvfProbe, PqM, PqCodes, PqRerank, D1024KeyMod),
    "q_emb_neardup"   -> EmbOracle.nearDupSql(EmbD, MinCos),
    "q_emb_outliers"  -> EmbOracle.normOutliersSql(EmbD, EmbZTau),
    "q_knn_graph" -> IvfOracle.knnGraphSql(EmbD, KnnJ, IvfCells, IvfProbe),
    // the drained stream-maintained graph holds the same edges as the
    // batch build -> q_knn_graph's oracle
    "q_stream_knn_graph" -> IvfOracle.knnGraphSql(EmbD, KnnJ, IvfCells,
      IvfProbe),
    // delete maintenance == the graph rebuilt over the live corpus
    "q_knn_graph_delete" -> IvfOracle.knnGraphSql(EmbD, KnnJ, IvfCells,
      IvfProbe, excludeMod = DeleteMod),
    // as-of commit 1: only nodes ≡ 0 (mod 2·DeleteMod) deleted — the
    // snapshot equals the graph REBUILT over that snapshot's live set
    "q_knn_graph_delete_asof" -> IvfOracle.knnGraphSql(EmbD, KnnJ,
      IvfCells, IvfProbe, excludeMod = 2 * DeleteMod),
    // upsert == the graph rebuilt over the updated (negated) view
    "q_knn_graph_upsert" -> IvfOracle.knnGraphSql(EmbD, KnnJ, IvfCells,
      IvfProbe, updatedNegMod = UpsertMod),
    // the drained update stream equals the batch upsert -> same oracle
    "q_stream_knn_graph_upsert" -> IvfOracle.knnGraphSql(EmbD, KnnJ,
      IvfCells, IvfProbe, updatedNegMod = UpsertMod),
    // compaction folds the log, it never changes the graph: the
    // compacted base holds exactly the drained latest-wins state ->
    // the batch-upsert oracle again
    "q_knn_graph_upsert_compact" -> IvfOracle.knnGraphSql(EmbD, KnnJ,
      IvfCells, IvfProbe, updatedNegMod = UpsertMod),
    // upsert as-of commit 1 = the rebuild over the commit-1 view
    "q_knn_graph_upsert_asof" -> IvfOracle.knnGraphSql(EmbD, KnnJ,
      IvfCells, IvfProbe, updatedNegMod = 2 * UpsertMod),
    // snapshot compaction folds the log, it never changes the snapshot
    "q_knn_graph_upsert_asof_compact" -> IvfOracle.knnGraphSql(EmbD,
      KnnJ, IvfCells, IvfProbe, updatedNegMod = 2 * UpsertMod),
    "q_knn_descent" -> IvfOracle.knnDescentSql(EmbD, KnnJ, IvfCells,
      IvfProbe),
    "q_ann_graph_search" -> IvfOracle.graphSearchSql(EmbD, KnnJ, IvfCells,
      IvfProbe, NQ, K, GraphBeam, GraphRounds),
    "q_ann_graph_layered" -> IvfOracle.layeredGraphSearchSql(EmbD, KnnJ,
      LayeredJ, IvfCells, IvfProbe, NQ, K, GraphBeam, LayeredRounds,
      LayeredUpperRounds, LayeredUpperBeam, LayeredStride, LayeredLayers),
    // identical semantics off the stream-maintained upper layers
    // (drained state equals the batch build) — same oracle
    "q_stream_ann_layered" -> IvfOracle.layeredGraphSearchSql(EmbD, KnnJ,
      LayeredJ, IvfCells, IvfProbe, NQ, K, GraphBeam, LayeredRounds,
      LayeredUpperRounds, LayeredUpperBeam, LayeredStride, LayeredLayers),
    "q_semantic_clusters" -> IvfOracle.semanticClustersSql(EmbD, KnnJ,
      IvfCells, IvfProbe, SemClusterTau),
    // the SemDeDup keeper: ordered centroid + lowest-cosine member
    "q_sem_dedup" -> IvfOracle.semDedupSql(EmbD, KnnJ,
      IvfCells, IvfProbe, SemClusterTau),
    "q_sem_dedup_clean" -> IvfOracle.semDedupCleanSql(EmbD, KnnJ,
      IvfCells, IvfProbe, SemClusterTau),
    // the drained stream-refreshed model is the batch Lloyd step's
    "q_stream_ivf_retrain" -> IvfOracle.kmeansStepSql(EmbD, IvfCells),
    "q_ann_filtered"  -> SearchOracle.filteredSql(EmbD, NQ, K, FilterLangs),
    "q_ann_filtered_multi" -> SearchOracle.filteredMultiSql(EmbD,
      FilterMultiRel, K, qrelPathForOracle()),
    // the grouped member of the multi-query matrix: per-(qid, lang)
    // ranks over each qid's OWN facet set, read from the stored relation
    "q_ann_grouped_multi" -> SearchOracle.groupedMultiSql(EmbD,
      GroupedMultiRel, GroupedK, qrelPathForOracle()),
    // filtered + probe-pruned: the at-rest twin restricts candidates to
    // the probed cells, so its oracle is the IVF probe pipeline with the
    // metadata predicate folded into candidate generation
    "q_ann_filtered_at_rest" ->
      IvfOracle.topkSql(EmbD, NQ, K, IvfCells, IvfProbe, FilterLangs),
    // per-qid filters against the at-rest index: the IVF probe pipeline
    // with the (qid, lang) membership from the stored relation
    "q_ann_filtered_multi_at_rest" -> IvfOracle.topkSql(EmbD,
      (FilterMultiRel.map(_._1).max + 1).toInt, K, IvfCells, IvfProbe,
      filterRel = FilterMultiRel, relPath = qrelPathForOracle()),
    // per-qid facet sets against the at-rest index: same probe pipeline,
    // ranks per (qid, lang) facet
    "q_ann_grouped_multi_at_rest" -> IvfOracle.topkSql(EmbD,
      (GroupedMultiRel.map(_._1).max + 1).toInt, GroupedK, IvfCells,
      IvfProbe, filterRel = GroupedMultiRel,
      relPath = qrelPathForOracle(), relKind = "facet",
      groupByLang = true),
    "q_ann_range"     -> SearchOracle.rangeSql(EmbD, NQ, RangeTau),
    // per-qid page size from the stored relation
    "q_ann_topk_multi_k" -> SearchOracle.topKMultiSql(EmbD, PageKMultiRel,
      qrelPathForOracle()),
    "q_ann_range_multi" -> SearchOracle.rangeMultiSql(EmbD, RangeMultiRel,
      qrelPathForOracle()),
    "q_hybrid_linear_multi" -> SearchOracle.hybridLinearMultiSql(EmbD,
      Bm25MultiQueries, Bm25K1, Bm25B, RrfPoolN, HybridAlpha, HybridK,
      bm25MultiStatsForOracle(), qrelPathForOracle()),
    "q_ann_mmr"       -> SearchOracle.mmrSql(EmbD, NQ, MmrPoolN, MmrK, MmrLambda),
    // λ per qid from the stored relation (kind 'mmrl'), same greedy
    "q_ann_mmr_multi" -> SearchOracle.mmrMultiSql(EmbD, MmrLambdaMultiRel,
      MmrPoolN, MmrK, qrelPathForOracle()),
    "q_ann_maxsim"    -> SearchOracle.maxSimSql(EmbD, NQ, K, MaxSimGroup),
    // idf constants come from measured corpus stats — captured when the
    // query ran, or computed eagerly right here (bm25StatsForOracle) so a
    // dump path that never ran q_bm25 cannot hit the ulp-flaky ln fallback
    "q_bm25" -> SearchOracle.bm25Sql(Bm25Terms, Bm25K1, Bm25B, Bm25TopN,
      bm25StatsForOracle()),
    // same scoring tree restricted to the posting-list candidate union
    "q_bm25_at_rest" -> SearchOracle.bm25AtRestSql(Bm25Terms, Bm25K1,
      Bm25B, Bm25TopN, bm25StatsForOracle()),
    // per-query term sets: the (qid, term, pos) VALUES relation joined
    // to the recomputed logical postings, idf guarded per union term
    "q_bm25_multi" -> SearchOracle.bm25MultiSql(Bm25MultiQueries,
      Bm25K1, Bm25B, Bm25MultiTopN, bm25MultiStatsForOracle(),
      qrelPathForOracle()),
    // the stream-maintained layout holds identical posting rows once
    // drained, so the multi-query oracle serves it unchanged
    "q_bm25_multi_stream" -> SearchOracle.bm25MultiSql(Bm25MultiQueries,
      Bm25K1, Bm25B, Bm25MultiTopN, bm25MultiStatsForOracle(),
      qrelPathForOracle()),
    // MaxScore's zero-miss rejection is provably invisible to the
    // answer, so the multi-query oracle serves it unchanged
    "q_bm25_multi_maxscore" -> SearchOracle.bm25MultiSql(Bm25MultiQueries,
      Bm25K1, Bm25B, Bm25MultiTopN, bm25MultiStatsForOracle(),
      qrelPathForOracle()),
    // the per-qid ledger: the whole bound/seed/tau/survivor pipeline
    // re-derived relationally per qid, byte sums per column, the
    // aggregate row as the per-qid sums
    "q_bm25_multi_maxscore_metrics" -> SearchOracle
      .bm25MultiMaxScoreMetricsSql(Bm25MultiQueries, Bm25K1, Bm25B,
        Bm25MultiTopN, Bm25SeedB, bm25MultiStatsForOracle(),
        qrelPathForOracle()),
    "q_hybrid_rrf_multi" -> SearchOracle.hybridRrfMultiSql(EmbD,
      Bm25MultiQueries, Bm25K1, Bm25B, RrfPoolN, RrfKConst, HybridK,
      bm25MultiStatsForOracle(), qrelPathForOracle()),
    // stream-maintained postings hold identical rows; MaxScore's
    // zero-miss rejection is invisible to the answer — shared oracle
    "q_bm25_multi_maxscore_stream" -> SearchOracle.bm25MultiSql(
      Bm25MultiQueries, Bm25K1, Bm25B, Bm25MultiTopN,
      bm25MultiStatsForOracle(), qrelPathForOracle()),
    // candidates minus the tombstoned docs per query, stats stale
    "q_bm25_multi_delete" -> SearchOracle.bm25MultiSql(Bm25MultiQueries,
      Bm25K1, Bm25B, Bm25MultiTopN, bm25MultiStatsForOracle(),
      qrelPathForOracle(), excludeMod = Bm25DeleteMod),
    // per-qid fusion weights from the stored relation
    "q_hybrid_linear_multi_w" -> SearchOracle.hybridLinearMultiWeightedSql(
      EmbD, Bm25MultiQueries, FusionMultiRel, Bm25K1, Bm25B, RrfPoolN,
      HybridK, bm25MultiStatsForOracle(), qrelPathForOracle()),
    // drained request-stream serve is row-identical to the batch
    // capstone (per-request independence) — same oracle
    "q_stream_serve_requests" ->
      requestOracleSql(indexed = false, asOf = false, ledger = false),
    // the drained tiered request stream equals the batch tiered
    // capstone -> same oracle
    "q_stream_serve_requests_tiered" ->
      tieredOracleSql(indexed = false, ledger = false, (0, 0)),
    // the six mutating-index streams: per-request independence makes
    // each drained union the UNION ALL of its plan's per-phase snapshot
    // capstones (upsert view negMod, delete view delMod, composed in
    // one snapshot; indexed: assignment, probes, codes and rescore all
    // re-derived per snapshot), each filtered to its phase's qids
    "q_stream_serve_requests_tiered_mutating" ->
      streamPlanOracleSql(StreamMutatingPlan, indexed = false),
    "q_stream_serve_requests_tiered_multi" ->
      streamPlanOracleSql(StreamMultiPlan, indexed = false),
    "q_stream_serve_requests_tiered_mixed" ->
      streamPlanOracleSql(StreamMixedPlan, indexed = false),
    "q_stream_serve_requests_tiered_indexed_mutating" ->
      streamPlanOracleSql(StreamMutatingPlan, indexed = true),
    "q_stream_serve_requests_tiered_indexed_multi" ->
      streamPlanOracleSql(StreamMultiPlan, indexed = true),
    "q_stream_serve_requests_tiered_indexed_mixed" ->
      streamPlanOracleSql(StreamMixedPlan, indexed = true),
    // drained stream-maintained postings hold the batch layout's rows
    "q_stream_bm25" -> SearchOracle.bm25AtRestSql(Bm25Terms, Bm25K1,
      Bm25B, Bm25TopN, bm25StatsForOracle()),
    // candidates minus the tombstoned docs, stats stale on purpose
    "q_bm25_delete" -> SearchOracle.bm25AtRestSql(Bm25Terms, Bm25K1,
      Bm25B, Bm25TopN, bm25StatsForOracle(), excludeMod = Bm25DeleteMod),
    // upsert: updated docs' text revised for tokenization/dl/candidacy,
    // stats stale (the pre-update split)
    "q_bm25_upsert" -> SearchOracle.bm25AtRestSql(Bm25Terms, Bm25K1,
      Bm25B, Bm25TopN, bm25StatsForOracle(), updatedTokenMod = Bm25UpsertMod,
      updatedToken = PostingsUpsertToken),
    // post-merge: stats recomputed from the updated split (freshStats) —
    // the idf literals still hold (the appended token is not a query
    // term, so every query term's df is unchanged; only dl/sumdl move)
    "q_bm25_upsert_compact" -> SearchOracle.bm25AtRestSql(Bm25Terms,
      Bm25K1, Bm25B, Bm25TopN, bm25StatsForOracle(),
      updatedTokenMod = Bm25UpsertMod, updatedToken = PostingsUpsertToken,
      freshStats = true),
    // upsert as-of commit 1: only ids ≡ 0 mod 2·mod carry the
    // revision; stats the stale pre-update split
    "q_bm25_upsert_asof" -> SearchOracle.bm25AtRestSql(Bm25Terms,
      Bm25K1, Bm25B, Bm25TopN, bm25StatsForOracle(),
      updatedTokenMod = 2 * Bm25UpsertMod,
      updatedToken = PostingsUpsertToken),
    // as-of commit 1: only doc_ids ≡ 0 (mod 2·Bm25DeleteMod) deleted
    "q_bm25_delete_asof" -> SearchOracle.bm25AtRestSql(Bm25Terms, Bm25K1,
      Bm25B, Bm25TopN, bm25StatsForOracle(),
      excludeMod = 2 * Bm25DeleteMod),
    // zero-miss by construction (bound >= score), so MaxScore's oracle
    // IS the posting-semantics bm25 oracle
    "q_bm25_maxscore" -> SearchOracle.bm25AtRestSql(Bm25Terms, Bm25K1,
      Bm25B, Bm25TopN, bm25StatsForOracle()),
    // the ledger's oracle re-derives the bound/seed/tau/survivor
    // pipeline relationally and sums the same per-column bytes
    "q_bm25_maxscore_metrics" -> SearchOracle.bm25MaxScoreMetricsSql(
      Bm25Terms, Bm25K1, Bm25B, Bm25TopN, Bm25SeedB,
      bm25StatsForOracle()),
    // the CMS propose/exact verify pipeline provably equals the plain
    // threshold relation (overestimate-only -> no false negatives)
    "q_heavy_hitters" -> DocOracle.heavyHittersSql(HhN, HhRelDiv),
    "q_hybrid_rrf" -> SearchOracle.hybridSql(EmbD, Bm25Terms, Bm25K1, Bm25B,
      RrfPoolN, RrfKConst, HybridK, bm25StatsForOracle()),
    "q_hybrid_linear" -> SearchOracle.hybridLinearSql(EmbD, Bm25Terms,
      Bm25K1, Bm25B, RrfPoolN, HybridAlpha, HybridK, bm25StatsForOracle()),
    "q_ann_recall" ->
      s"""SELECT CAST(hits AS BIGINT) AS hits,
         |  CAST(hits AS DOUBLE) / ${K * NQ} AS recall
         |FROM (SELECT COUNT(*) AS hits
         |  FROM (${EmbOracle.bruteSql(EmbD, NQ, K)}) b
         |  JOIN (${IvfOracle.topkSql(EmbD, NQ, K, IvfCells, IvfProbe)}) v
         |    ON b.qid = v.qid AND b.id = v.id)""".stripMargin,
    // each grid point is the q_ann_recall composition at its own nprobe,
    // plus the byte accounting: this rung reads the full float vector of
    // every probed candidate (4d bytes), measured against the brute
    // baseline 4d*N*Q; shared MATERIALIZED scan + GT CTEs across arms
    "q_tune_nprobe" -> IvfOracle.tuneNprobeSql(EmbD, NQ, K, IvfCells,
      TuneNprobes),
    "q_tune_nprobe_sq8" -> IvfOracle.tuneSq8Sql(EmbD, NQ, K, IvfCells,
      TuneNprobes, EmbSq8ScaleLog2, Sq8Rerank),
    "q_tune_nprobe_pick" -> IvfOracle.chooseSq8Sql(EmbD, NQ, K, IvfCells,
      TuneNprobes, EmbSq8ScaleLog2, Sq8Rerank, TuneNprobeFloor),
    "q_tune_rerank" -> IvfOracle.tuneRerankSql(EmbD, NQ, K, IvfCells,
      IvfProbe, EmbSq8ScaleLog2, TuneReranks),
    "q_tune_grid" -> IvfOracle.tuneGridSql(EmbD, NQ, K, IvfCells,
      TuneGridNprobes, TuneGridReranks, EmbSq8ScaleLog2),
    "q_tune_grid_pick" -> IvfOracle.chooseGridSql(EmbD, NQ, K, IvfCells,
      TuneGridNprobes, TuneGridReranks, EmbSq8ScaleLog2, TuneNprobeFloor),
    "q_tune_pareto" -> IvfOracle.paretoGridSql(EmbD, NQ, K, IvfCells,
      TuneGridNprobes, TuneGridReranks, EmbSq8ScaleLog2),
    "q_ivf_stats" -> IvfOracle.indexStatsSql(EmbD, IvfCells),
    "q_ann_adaptive" -> IvfOracle.adaptiveTopkSql(EmbD, NQ, K, IvfCells,
      AdaptiveRatioLit, AdaptiveNpMax),
    "q_ann_recall_curve" -> IvfOracle.recallAtRSql(EmbD, NQ, IvfCells,
      IvfProbe, RecallRs),
    "q_score_hist" -> EmbOracle.scoreHistogramSql(EmbD, NQ, HistBinScale),
    "q_range_tau_pick" -> EmbOracle.rangeTauPickSql(EmbD, NQ,
      HistBinScale, RangeBudget),
    "q_cascade_metrics" -> PqOracle.cascadeMetricsSql(EmbD, NQ, K,
      EmbSq8ScaleLog2, CascadeR1, CascadeR2),
    // reciprocal ranks as exact integers (MrrScale = lcm(1..K)); DuckDB
    // `//` is integer division like Spark's `div`
    "q_ann_mrr" ->
      s"""SELECT CAST(found AS BIGINT) AS found,
         |  CAST(mrr_scaled AS BIGINT) AS mrr_scaled,
         |  CAST(mrr_scaled AS DOUBLE) / ${MrrScale.toDouble * NQ} AS mrr
         |FROM (SELECT COUNT(*) AS found,
         |    COALESCE(SUM($MrrScale // v.rank), 0) AS mrr_scaled
         |  FROM (${EmbOracle.bruteSql(EmbD, NQ, 1)}) b
         |  JOIN (${IvfOracle.topkSql(EmbD, NQ, K, IvfCells, IvfProbe)}) v
         |    ON b.qid = v.qid AND b.id = v.id)""".stripMargin,
    "q_events_daily"    -> MiscOracle.eventsDailySql,
    "q_salted_daily"    -> MiscOracle.eventsDailySql,
    "q_stream_daily"    -> MiscOracle.eventsDailySql,
    "q_events_json"     -> MiscOracle.eventsJsonSql,
    "q_events_sessions" -> MiscOracle.eventsSessionsSql(SessionGapSec),
    "q_stream_sessions" -> MiscOracle.eventsSessionsSql(SessionGapSec),
    "q_stream_refine"   -> RefineOracle.topkSql(D, NQ, refineParams("cos_l1")),
    "q_stream_dedup"    -> DocOracle.dedupExactSql,
    "q_bucketed_join" ->
      """SELECT c_mktsegment,
        |  COUNT(*) AS n_orders,
        |  COUNT(DISTINCT c_custkey) AS n_customers,
        |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    "q_events_asof"     -> MiscOracle.asofSql,
    "q_events_range"    -> MiscOracle.rangeCountSql(RangeBeforeSec),
    "q_events_running"  -> MiscOracle.runningSql,
    "q_pricing"       -> MiscOracle.pricingSql(PricingCutoff),
    "q_top_customers" -> MiscOracle.topCustomersSql(TopNCustomers),
    "q_region_stats"  -> MiscOracle.regionStatsSql,
    "q_events_quantiles" -> MiscOracle.eventsQuantilesSql,
    // sketch invariants: exact yardsticks reproduced by DuckDB; the
    // estimator checks are provable contracts, stated as constants
    "q_sketches" ->
      """SELECT COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events,
        |  TRUE AS hll_ok, TRUE AS p50_ok, TRUE AS p95_ok
        |FROM events""".stripMargin,
    "q_brand_revenue"    -> MiscOracle.brandRevenueSql,
    "q_set_ops"       -> MiscOracle.setOpsSql("src0", "src1"),
    "q_rollup"        -> MiscOracle.rollupSql,
    "q_sweep"         -> RefineOracle.allMetricsSql(D, NQ, sweepConfigs),
    "q_compress_packed" -> RefineOracle.packedPopcountSql(D, keepE = 5, keepM = KeepM),
  ) ++ Refine.Modes.map(m =>
    s"q_refine_$m" -> RefineOracle.topkSql(D, NQ, refineParams(m))
  ).toMap ++ Map(
    "q_refine_kernel_cos_l1" -> RefineOracle.topkSql(D, NQ, refineParams("cos_l1")),
    "q_refine_kernel_l2_tz"  -> RefineOracle.topkSql(D, NQ, refineParams("l2_tz")),
    // D=128: the oracle generators are dimension-generic (dims table +
    // SUM over j), so realistic width rides the same SQL
    "q_refine_d128"         -> RefineOracle.topkSql(D128, NQ, refineParams("cos_l2"), D128KeyMod),
    "q_refine_d1024"        -> RefineOracle.topkSql(D1024, NQ, refineParams("cos_l2"), D1024KeyMod),
    // zero-miss at any axis = the exact top-k of the slice: the cos_l2
    // refine oracle (itself zero-miss) serves the width rung unchanged
    "q_refine_prefix_d1024" -> RefineOracle.topkSql(D1024, NQ, refineParams("cos_l2"), D1024KeyMod),
    "q_refine_d3072"        -> RefineOracle.topkSql(D3072, NQ, refineParams("cos_l2"), D3072KeyMod),
    "q_refine_int8" -> {
      val (rv, dv) = RefineOracle.quantRvDv(Int8ScaleLog2)
      RefineOracle.topkSqlRvDv(D, NQ, refineParams("cos_l1"), 1, rv, dv)
    },
    "q_refine_metrics_int8" -> {
      val (rv, dv) = RefineOracle.quantRvDv(Int8ScaleLog2)
      RefineOracle.metricsSqlRvDv(D, NQ, refineParams("cos_l1"),
        Int8RedBytes.toString, 1, rv, dv)
    },
    // at-rest twin: same dequantized values k/2^s -> same oracle
    "q_refine_int8_at_rest" -> {
      val (rv, dv) = RefineOracle.quantRvDv(Int8ScaleLog2)
      RefineOracle.topkSqlRvDv(D, NQ, refineParams("cos_l1"), 1, rv, dv)
    },
    "q_refine_kernel_d128"  -> RefineOracle.topkSql(D128, NQ, refineParams("l2_tz"), D128KeyMod),
    "q_refine_metrics_d128" -> RefineOracle.metricsSql(D128, NQ, refineParams("cos_hoeff"), D128KeyMod),
    // provable invariants stated as constants (see qKernelHoeffInvariants)
    "q_kernel_hoeff" ->
      """SELECT 'cos_hoeff' AS mode, TRUE AS subset_ok, TRUE AS tighter_ok,
        |  TRUE AS min_fetch_ok, TRUE AS recall_floor_ok,
        |  TRUE AS part_recall_ge_rel_ok
        |UNION ALL
        |SELECT 'l2_hoeff', TRUE, TRUE, TRUE, TRUE, TRUE""".stripMargin,
    "q_refine_disagg"        -> RefineOracle.topkSql(D, NQ, refineParams("cos_l1")),
    // per-qid δ: the i-th smallest qid's cushion uses the i-th per-rank
    // hoeffConst literal (computed with the engine's exact formula)
    "q_refine_multi_delta"   -> RefineOracle.topkPerQidDeltaSql(D, NQ,
      refineParams("cos_hoeff"),
      DeltaMultiByRank.map(dl => math.sqrt(2.0 * math.log(1.0 / dl)))),
    // per-qid m_keep: one pipeline per tier restricted to that tier's
    // query ranks, per-qid ledger rows unioned across tiers
    "q_refine_multi_mkeep"   -> RefineOracle.perQidMkeepMetricsSql(D, NQ,
      K, refineParams("cos_l1").alpha, MkeepMultiByRank),
    // identical values off the tiered at-rest layout (stored columns
    // are the same derivations) — same oracle
    "q_refine_multi_mkeep_at_rest" -> RefineOracle.perQidMkeepMetricsSql(
      D, NQ, K, refineParams("cos_l1").alpha, MkeepMultiByRank),
    "q_tune_delta"           -> RefineOracle.tuneSql(D, NQ, TuneMode, K, KeepM,
      TuneGrid, TuneFloor),
    "q_refine_plan_l2_sym"   -> RefineOracle.topkSql(D, NQ, refineParams("l2_sym")),
    // histogram-feature cosine search: counts are exact small integers,
    // so dot/norm sums are order-independent and the score is the same
    // fixed ratio tree both engines evaluate
    "q_multimodal_ann" -> {
      val bins = graft.operators.Multimodal.Bins
      s"""WITH pos AS (SELECT doc_id, text, unnest(generate_series(1, len(text))) AS p
         |  FROM documents),
         |b AS (SELECT doc_id, ascii(substr(text, p, 1)) % $bins AS bucket FROM pos),
         |h AS (SELECT doc_id, bucket, CAST(COUNT(*) AS DOUBLE) AS cnt
         |  FROM b GROUP BY 1, 2),
         |n AS (SELECT doc_id, SUM(cnt*cnt) AS n2 FROM h GROUP BY 1),
         |qd AS (SELECT doc_id AS qid FROM n ORDER BY doc_id LIMIT $NQ),
         |pair AS (SELECT k.qid, xh.doc_id AS id, SUM(qh.cnt * xh.cnt) AS dp
         |  FROM qd k JOIN h qh ON qh.doc_id = k.qid
         |  JOIN h xh ON xh.bucket = qh.bucket
         |  GROUP BY 1, 2),
         |scored AS (SELECT k.qid, nx.doc_id AS id,
         |    COALESCE(p.dp, 0.0) /
         |      (GREATEST(sqrt(nq.n2), 1e-12) * GREATEST(sqrt(nx.n2), 1e-12)) AS score
         |  FROM qd k JOIN n nq ON nq.doc_id = k.qid
         |  CROSS JOIN n nx
         |  LEFT JOIN pair p ON p.qid = k.qid AND p.id = nx.doc_id),
         |fin AS (SELECT qid, id, score,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
         |  FROM scored)
         |SELECT qid, CAST(rnk AS INTEGER) AS rank, id, score
         |FROM fin WHERE rnk <= $K""".stripMargin
    },
    // ASCII corpus: byte slices == substrings, so SQL reproduces the
    // per-frame fingerprints
    "q_multimodal_frames" -> {
      import graft.operators.Multimodal.{FrameLen, FrameStride, MaxFrames}
      s"""WITH ks AS (SELECT unnest(generate_series(0, ${MaxFrames - 1})) AS k),
         |f AS (SELECT doc_id, k, substr(text, k*$FrameStride + 1, $FrameLen) AS fr
         |  FROM documents CROSS JOIN ks WHERE k*$FrameStride < len(text))
         |SELECT doc_id, CAST(k AS INTEGER) AS frame_idx,
         |  CAST(len(fr) AS INTEGER) AS frame_len,
         |  CAST('0x' || substr(md5(fr), 1, 15) AS BIGINT) AS frame_hash
         |FROM f""".stripMargin
    },
    // ASCII corpus: byte == char code, so SQL reproduces the byte histogram
    "q_multimodal_hist" ->
      s"""WITH pos AS (SELECT doc_id, text, unnest(generate_series(1, len(text))) AS p
         |  FROM documents),
         |b AS (SELECT doc_id, ascii(substr(text, p, 1)) % ${graft.operators.Multimodal.Bins} AS bucket
         |  FROM pos)
         |SELECT doc_id, CAST(bucket AS INTEGER) AS bucket, COUNT(*) AS cnt
         |FROM b GROUP BY 1, 2""".stripMargin,
    // PNG decode is lossless, so the decoded-pixel histogram equals the
    // closed-form pixel synthesis (Multimodal.pixel) — pure BIGINT
    // arithmetic both engines evaluate term-for-term
    "q_multimodal_decode" -> {
      import graft.operators.Multimodal.{ImgW, ImgH, PixBins}
      s"""WITH xs AS (SELECT unnest(generate_series(0, ${ImgW - 1})) AS x),
         |ys AS (SELECT unnest(generate_series(0, ${ImgH - 1})) AS y),
         |px AS (SELECT d.doc_id,
         |    ((d.doc_id * 2654435761 + xs.x * 40503 + ys.y * 69621)
         |      % 2147483647) % 256 AS p
         |  FROM documents d CROSS JOIN xs CROSS JOIN ys)
         |SELECT doc_id, CAST(p // ${256 / PixBins} AS BIGINT) AS bucket,
         |  COUNT(*) AS cnt
         |FROM px GROUP BY 1, 2""".stripMargin
    },
    // WAV/PCM decode is lossless, so per-window energies equal the
    // closed-form sample synthesis (Multimodal.sample16); sums of squares
    // stay < 2^36, exact in BIGINT on both engines
    "q_multimodal_audio" -> {
      import graft.operators.Multimodal.{AudioSamples, AudioWin}
      s"""WITH idx AS (SELECT unnest(generate_series(0, ${AudioSamples - 1})) AS i),
         |smp AS (SELECT d.doc_id, idx.i,
         |    ((d.doc_id * 2654435761 + idx.i * 48271) % 2147483647) % 65536
         |      - 32768 AS s
         |  FROM documents d CROSS JOIN idx)
         |SELECT doc_id, CAST(i // $AudioWin AS BIGINT) AS win,
         |  CAST(SUM(s * s) AS BIGINT) AS energy, COUNT(*) AS n
         |FROM smp GROUP BY 1, 2""".stripMargin
    },
    // PNG frames are lossless, so per-frame pixel sums equal the
    // closed-form synthesis (Multimodal.framePixel)
    "q_multimodal_video" -> {
      import graft.operators.Multimodal.{VideoFrames, FrameW, FrameH}
      s"""WITH fs AS (SELECT unnest(generate_series(0, ${VideoFrames - 1})) AS f),
         |xs AS (SELECT unnest(generate_series(0, ${FrameW - 1})) AS x),
         |ys AS (SELECT unnest(generate_series(0, ${FrameH - 1})) AS y),
         |px AS (SELECT d.doc_id, fs.f,
         |    ((d.doc_id * 2654435761 + fs.f * 1013904223 + xs.x * 40503
         |      + ys.y * 69621) % 2147483647) % 256 AS p
         |  FROM documents d CROSS JOIN fs CROSS JOIN xs CROSS JOIN ys)
         |SELECT doc_id, CAST(f AS BIGINT) AS frame,
         |  CAST(SUM(p) AS BIGINT) AS psum, COUNT(*) AS n
         |FROM px GROUP BY 1, 2""".stripMargin
    },
    // the temporal codec is lossless, so per-frame pixel sums equal the
    // closed-form synthesis (Multimodal.interPixel: static base frame,
    // one inverted column sweeping with f)
    "q_multimodal_video_inter" -> {
      import graft.operators.Multimodal.{VideoFrames, FrameW, FrameH}
      s"""WITH fs AS (SELECT unnest(generate_series(0, ${VideoFrames - 1})) AS f),
         |xs AS (SELECT unnest(generate_series(0, ${FrameW - 1})) AS x),
         |ys AS (SELECT unnest(generate_series(0, ${FrameH - 1})) AS y),
         |base AS (SELECT d.doc_id, fs.f, xs.x,
         |    ((d.doc_id * 2654435761 + xs.x * 40503 + ys.y * 69621)
         |      % 2147483647) % 256 AS b
         |  FROM documents d CROSS JOIN fs CROSS JOIN xs CROSS JOIN ys),
         |px AS (SELECT doc_id, f,
         |    CASE WHEN x = f % $FrameW THEN (b + 128) % 256 ELSE b END AS p
         |  FROM base)
         |SELECT doc_id, CAST(f AS BIGINT) AS frame,
         |  CAST(SUM(p) AS BIGINT) AS psum, COUNT(*) AS n
         |FROM px GROUP BY 1, 2""".stripMargin
    },
  ) ++ RequestServes.map { case (name, (indexed, asOf, ledger)) =>
    name -> requestOracleSql(indexed, asOf, ledger) } ++
    TieredServes.map { case (name, (indexed, snap, ledger)) =>
      name -> tieredOracleSql(indexed, ledger, snapshotMods(snap)) }
}
