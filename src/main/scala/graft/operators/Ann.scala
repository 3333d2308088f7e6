package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps._

/**
 * Similarity search over an embedding column (`embeddings`:
 * vec_id BIGINT, embedding ARRAY<FLOAT>, label INT).
 *
 * - [[bruteTopK]]: exact cosine top-k — broadcast the (small) query side
 *   into a cross join; the database side streams. The score folds in
 *   array order with a DOUBLE accumulator (bit-reproducible; the oracle
 *   emits the same left-associated 64-term sum).
 * - [[ivfTopK]]: partition-pruned variant — candidates restricted to the
 *   query's coarse cell (`label` stands in for a k-means cell id; at
 *   100 TB the table is partitioned/bucketed by cell so each query scans
 *   only its cell's partitions).
 * - [[nearDupPairs]]: embedding-cosine near-duplicate detection, blocked
 *   by cell — an equi-join on the blocking key, never all-pairs.
 */
object Ann {

  private def fn(c: Column): Column = graft.functions.VectorOps.fnorm(c)

  /** Queries = the `nq` smallest vec_ids (with labels + hoisted norm). */
  def queriesOf(emb: DataFrame, nq: Int): DataFrame =
    emb.orderBy(col("vec_id")).limit(nq)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlabel"), norm2Sq(col("embedding")).as("qn2"))

  /** Candidate side with the norm hoisted out of the join. */
  private def candSide(emb: DataFrame): DataFrame =
    emb.select(col("vec_id").as("id"), col("embedding"), col("label"),
      norm2Sq(col("embedding")).as("n2"))

  private def score: Column =
    dot(col("embedding"), col("qvec")) / (fn(col("n2")) * fn(col("qn2")))

  def bruteTopK(emb: DataFrame, nq: Int, k: Int): DataFrame = {
    val q = broadcast(queriesOf(emb, nq))
    val scored = candSide(emb).crossJoin(q).withColumn("score", score)
    TopK.window(scored, k)
  }

  /**
   * SCORE-DISTRIBUTION HISTOGRAM over the query-corpus cosine scores —
   * the calibration artifact for every threshold in the engine (cascade
   * tier cuts, near-dup tau, range-search radius): bucket =
   * floor(score * binScale), counted. One streaming pass over the
   * broadcast-cross-join scores folding map-side into at most
   * 2*binScale+1 groups — the reduction is a few hundred bytes per
   * partition regardless of corpus size, which is why this is the
   * cheapest possible full-corpus statistic at 100 TB. floor of the
   * same exact score doubles both engines compute, so the bucketing is
   * bit-deterministic. Output: (bucket, n).
   */
  def scoreHistogram(emb: DataFrame, nq: Int, binScale: Int): DataFrame = {
    require(binScale >= 1, s"binScale $binScale")
    val q = broadcast(queriesOf(emb, nq))
    candSide(emb).crossJoin(q).withColumn("score", score)
      .select(floor(col("score") * lit(binScale)).cast("int").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
  }

  /** IVF-style: only candidates in the query's cell are scored. */
  def ivfTopK(emb: DataFrame, nq: Int, k: Int): DataFrame = {
    val q = broadcast(queriesOf(emb, nq))
    val scored = candSide(emb).join(q, col("label") === col("qlabel"))
      .withColumn("score", score)
    TopK.window(scored, k)
  }

  /**
   * MATRYOSHKA (prefix-dimension) rung — precision on demand along the
   * DIMENSION axis rather than the bits-per-dimension axis the
   * SQ8/SQ4/PQ/BQ rungs walk: the cheap pass ranks every candidate by
   * cosine over only the FIRST `dPrefix` components (nested "matryoshka"
   * embeddings are trained so prefixes rank well under truncation; for
   * the reference's bandwidth thesis — ANNCode.py's reduced-precision
   * first pass — this is the complementary reduced-WIDTH first pass),
   * then rescores the bounded `rerank` survivor set at full width.
   * Bandwidth: the cheap scan touches dPrefix/d of the float bytes;
   * [[prefixTopKAtRest]] makes that saving physical by storing the
   * prefix as its own parquet column chunk. Approximation comes only
   * from the rerank cut — at rerank = corpus size the result equals
   * [[bruteTopK]] exactly (spec-asserted).
   */
  def prefixTopK(emb: DataFrame, nq: Int, k: Int, dPrefix: Int,
                 rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    require(dPrefix >= 1, s"dPrefix $dPrefix must be >= 1")
    val q = broadcast(queriesOf(emb, nq)
      .withColumn("qp", slice(col("qvec"), 1, dPrefix))
      .withColumn("qn2p", norm2Sq(col("qp")))
      .select(col("qid"), col("qvec"), col("qn2"), col("qp"), col("qn2p")))
    val cheap = emb
      .select(col("vec_id").as("id"),
        slice(col("embedding"), 1, dPrefix).as("vp"))
      .withColumn("n2p", norm2Sq(col("vp")))
      .crossJoin(q.select(col("qid"), col("qp"), col("qn2p")))
      .withColumn("score",
        dot(col("vp"), col("qp")) / (fn(col("n2p")) * fn(col("qn2p"))))
    val cand = TopK.window(cheap, rerank).select(col("qid"), col("id"))
    rescoreExact(emb, cand, q, k)
  }

  /** Exact full-width rescore of a bounded (qid, id) survivor set —
    * broadcast point-fetches against the corpus, the shared tail of
    * every two-phase rung. */
  private def rescoreExact(emb: DataFrame, cand: DataFrame, q: DataFrame,
                           k: Int): DataFrame = {
    val rescored = candSide(emb)
      .join(broadcast(cand), Seq("id"))
      .join(q.select(col("qid"), col("qvec"), col("qn2")), Seq("qid"))
      .withColumn("score", score)
    TopK.window(rescored, k)
  }

  /**
   * ZERO-MISS prefix refinement — the reference's early-rejection
   * discipline (ANNCode.py's reduced-precision pass + cushion + exact
   * rescore of survivors) applied to the WIDTH axis: the cheap pass
   * scores only the first `dPrefix` components against the FULL norms,
   * and Cauchy-Schwarz bounds the unread tail dot —
   * |dot(v_t, q_t)| <= ||v_t||*||q_t|| — so
   * s_full <= s_hat + cush with cush = ||v_t||*||q_t|| / (||v||*||q||).
   * Seeds = top-k by s_hat, exactly rescored; tau0 = their worst exact
   * score; candidates with s_hat + cush < tau0 are provably outside the
   * top-k and are rejected WITHOUT their tail bytes ever being read.
   * The result therefore equals the exact scan row-for-row — its oracle
   * IS the brute-force oracle — unlike [[prefixTopK]], whose fixed
   * rerank cut trades recall for a fixed fetch budget.
   *
   * The cushion's float rounding is absorbed by a dyadic safety margin
   * (*(1+2^-20) + 2^-20, both exactly representable): inflation can only
   * ADMIT extra survivors, never reject a true hit, so exactness is
   * preserved under floating arithmetic and the margin dwarfs the
   * <= d*2^-52 fold error by ~26 binary orders.
   *
   * Pruning power is the prefix's ENERGY share, not its dimension share:
   * on this isotropic Gaussian fixture a d/4 prefix carries 1/4 of the
   * energy and the bound stays loose (the worst case), so the graded
   * configuration runs at dPrefix = 3d/4; MRL-trained embeddings
   * front-load energy and turn the same bound into deep pruning at small
   * prefixes. Plan shape: map-side WindowGroupLimit seeds, eager Q*k
   * persists under the scope contract, broadcast tau0, map-side survive
   * filter, AQE-sized survivor fetch.
   */
  def prefixRefineTopK(emb: DataFrame, nq: Int, k: Int, d: Int,
                       dPrefix: Int): DataFrame = {
    val cheap = emb.select(col("vec_id").as("id"),
      slice(col("embedding"), 1, dPrefix).as("vp"),
      norm2Sq(slice(col("embedding"), dPrefix + 1, d - dPrefix)).as("n2t"),
      norm2Sq(col("embedding")).as("n2"))
    val full = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    prefixRefineSplit(cheap, full, queriesOf(emb, nq), k, d, dPrefix)
  }

  /** [[prefixRefineTopK]] with the cheap columns and the full-precision
    * fetch side as separate relations — the at-rest entry point. Follows
    * [[Refine.fetchedSplit]]'s scope contract: under an enclosing
    * [[Dedup.scopedRelease]] the plan stays lazy with scope-registered
    * eager seeds; bare callers get a self-contained checkpointed result
    * with every intermediate released. */
  def prefixRefineSplit(cheap: DataFrame, full: DataFrame, q0: DataFrame,
                        k: Int, d: Int, dPrefix: Int): DataFrame =
    if (Dedup.scopeActive) prefixRefineImpl(cheap, full, q0, k, d, dPrefix)
    else {
      val (df, release) = Dedup.scopedRelease(
        prefixRefineImpl(cheap, full, q0, k, d, dPrefix))
      try df.localCheckpoint(true)
      finally release()
    }

  private def prefixRefineImpl(cheap: DataFrame, full: DataFrame,
                               q0: DataFrame, k: Int, d: Int,
                               dPrefix: Int): DataFrame = {
    val (seeds, survivorIds, exact) =
      prefixRefineParts(cheap, full, q0, k, d, dPrefix)
    TopK.window(seeds.unionByName(exact(survivorIds)), k)
  }

  /** The shared spine of the zero-miss width refinement: (exactly
    * rescored seeds, surviving candidate ids, the exact-rescore fn) —
    * consumed by both the top-k tail and the accounting row. */
  private def prefixRefineParts(cheap: DataFrame, full: DataFrame,
                                q0: DataFrame, k: Int, d: Int, dPrefix: Int)
      : (DataFrame, DataFrame, DataFrame => DataFrame) = {
    require(dPrefix >= 1 && dPrefix < d, s"dPrefix $dPrefix not in [1, $d)")
    import org.apache.spark.sql.expressions.Window
    val margin = math.pow(2.0, -20) // dyadic: exact in double and in SQL
    val q = broadcast(q0
      .withColumn("qp", slice(col("qvec"), 1, dPrefix))
      .withColumn("qn2t", norm2Sq(slice(col("qvec"), dPrefix + 1, d - dPrefix)))
      .select(col("qid"), col("qvec"), col("qn2"), col("qp"), col("qn2t")))
    // candidate pass: prefix-partial score over FULL norms + tail cushion
    // — pure map-side (broadcast cross join), never ranked or shuffled
    val cand = cheap
      .crossJoin(q.select(col("qid"), col("qp"), col("qn2"), col("qn2t")))
      .withColumn("s_hat",
        dot(col("vp"), col("qp")) / (fn(col("n2")) * fn(col("qn2"))))
      .withColumn("cush",
        (sqrt(col("n2t")) * sqrt(col("qn2t")) * lit(1.0 + margin) +
          lit(margin)) / (fn(col("n2")) * fn(col("qn2"))))
      .select(col("qid"), col("id"), col("s_hat"), col("cush"))
    def eager(df: DataFrame): DataFrame = {
      val mat = Dedup.persistScoped(df); mat.count(); mat
    }
    // seeds: map-side WindowGroupLimit top-k by the cheap score
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("s_hat").desc, col("id").asc)
    val seedIds = eager(cand.select(col("qid"), col("id"), col("s_hat"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("id")))
    val qSel = broadcast(q.select(col("qid"), col("qvec"), col("qn2")))
    def exact(ids: DataFrame): DataFrame =
      full.join(ids, Seq("id")).join(qSel, Seq("qid"))
        .withColumn("score", dot(col("vec"), col("qvec")) /
          (fn(norm2Sq(col("vec"))) * fn(col("qn2"))))
        .select(col("qid"), col("id"), col("score"))
    val seeds = eager(exact(broadcast(seedIds)))
    val tau0 = broadcast(
      seeds.groupBy(col("qid")).agg(min(col("score")).as("tau0")))
    // early rejection: map-side filter against the broadcast tau0
    val survivorIds = cand
      .join(broadcast(seedIds), Seq("qid", "id"), "left_anti")
      .join(tau0, Seq("qid"))
      .filter(col("s_hat") + col("cush") >= col("tau0"))
      .select(col("qid"), col("id"))
    // survivor volume is data-dependent (energy share of the tail): no
    // broadcast hint — AQE sizes the fetch join at runtime
    (seeds, survivorIds, exact)
  }

  /** The MRL-style energy profile: every 8-dim block scaled by the next
    * power of two down (2^0, 2^-1, ..., 2^-7 at d=64). Power-of-two
    * float multiplies are EXACT (pure exponent shifts, no mantissa
    * rounding), so the oracle mirrors the corpus with exact decimal
    * weight literals and every downstream double is bit-identical. */
  def mrlWeights(d: Int): Seq[Float] = (0 until d).map(j => 1.0f / (1 << (j / 8)))

  /** `emb` with the [[mrlWeights]] energy decay applied to the embedding
    * (queries included — they are rows of the corpus). */
  def mrlCorpus(emb: DataFrame, d: Int): DataFrame = {
    val w = mrlWeights(d)
    emb.select(col("vec_id"),
      array((1 to d).map(j =>
        (element_at(col("embedding"), j) * lit(w(j - 1))).cast("float")): _*)
        .as("embedding"),
      col("label"))
  }

  /**
   * The zero-miss width rung's BANDWIDTH LEDGER — one row per corpus,
   * (corpus, mode, d_prefix, n_fetched, recall, save, fpr) in the
   * refine-metrics convention: bytes = (4*dPrefix + 16) per corpus
   * vector on the cheap pass (prefix floats + the two stored stats)
   * plus 4*d per fetched vector, save measured against the 4*d*N*Q
   * exact baseline, fpr = the survivor fraction. recall is MEASURED
   * against the exact scan (and provably 1.0 — a value below 1.0 here
   * means the cushion algebra broke, which the hash-compare catches).
   *
   * TWO corpora make the rung's thesis a data point: `iso` (the raw
   * isotropic fixture — energy spread uniformly, the Cauchy-Schwarz
   * tail bound at its loosest, save goes NEGATIVE) vs `mrl` (the
   * [[mrlCorpus]] energy decay real Matryoshka embeddings are trained
   * for — the tail carries ~0.02% of the energy, the same bound prunes
   * nearly everything, and the ledger turns positive). Pruning power is
   * the prefix's energy share, measured, not asserted.
   */
  def prefixRefineMetrics(emb: DataFrame, nq: Int, k: Int, d: Int,
                          dPrefix: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    def both() = Seq(prefixRefineLedger("iso", emb, nq, k, d, dPrefix),
      prefixRefineLedger("mrl", mrlCorpus(emb, d), nq, k, d, dPrefix))
    val rows =
      if (Dedup.scopeActive) both()
      else { val (r, rel) = Dedup.scopedRelease(both()); rel(); r }
    rows.toDF("corpus", "mode", "d_prefix", "n_fetched", "recall", "save",
      "fpr")
  }

  /** One ledger row of [[prefixRefineMetrics]] for a single corpus —
    * also the soak's scale probe (callers run it under a
    * [[Dedup.scopedRelease]] or accept tracked persists). */
  def prefixRefineLedger(corpus: String, e: DataFrame, nq: Int, k: Int,
                         d: Int, dPrefix: Int)
      : (String, String, Int, Long, Double, Double, Double) = {
      val cheap = e.select(col("vec_id").as("id"),
        slice(col("embedding"), 1, dPrefix).as("vp"),
        norm2Sq(slice(col("embedding"), dPrefix + 1, d - dPrefix)).as("n2t"),
        norm2Sq(col("embedding")).as("n2"))
      val full = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val (seeds, survivorIds0, exact) =
        prefixRefineParts(cheap, full, queriesOf(e, nq), k, d, dPrefix)
      val survivorIds = Dedup.persistScoped(survivorIds0)
      val nSurv = survivorIds.count()
      val nFetched = nq.toLong * k + nSurv
      val fin = TopK.window(seeds.unionByName(exact(survivorIds)), k)
      val hits = fin.join(bruteTopK(e, nq, k).select(col("qid"), col("id")),
        Seq("qid", "id")).count()
      val nV = e.count()
      val bRed = (4 * dPrefix + 16).toDouble
      val bFull = (4 * d).toDouble
      val total = bRed * nV * nq + bFull * nFetched
      val save = 1.0 - total / (bFull * nV * nq)
      val fpr = (nFetched - k.toLong * nq).toDouble / (nV.toDouble * nq)
      val recall = hits.toDouble / (k.toLong * nq)
      (corpus, "cos_prefix", dPrefix, nFetched, recall, save, fpr)
  }

  /** Bump when [[ensurePrefixLayout]]'s schema changes. */
  private val PrefixLayoutVersion = 2

  /**
   * The prefix rung AT REST: (id, vp FLOAT[dPrefix], n2t, n2, vec
   * FLOAT[d]) sorted by id within files. `vp` is a SEPARATE column
   * chunk, so the cheap pass's byte saving is physical parquet column
   * pruning (plan-asserted: the cheap scans' ReadSchema never carries
   * vec), and the survivor rescore's id-equi-join benefits from
   * row-group min/max skipping on the sorted id. `n2t` (tail norm^2)
   * and `n2` (full norm^2) are query-free per-vector stats — the
   * Disaggregated `bb` discipline — without which the zero-miss
   * [[prefixRefineTopKAtRest]] cheap pass would have to fetch `vec` to
   * compute its own cushion. Published once per (sfDir, dPrefix, source
   * version) under a content-addressed tmpdir with an atomic rename —
   * the write-once immutable-layout discipline every other index layout
   * here follows.
   */
  def ensurePrefixLayout(spark: org.apache.spark.sql.SparkSession,
                         sfDir: String, d: Int, dPrefix: Int): String = {
    require(dPrefix >= 1 && dPrefix < d, s"dPrefix $dPrefix not in [1, $d)")
    import java.nio.file.{Files, Paths}
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_prefix_v${PrefixLayoutVersion}_${safe}_p${dPrefix}" +
        s"_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "prefix-")
      graft.Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("id"),
          slice(col("embedding"), 1, dPrefix).as("vp"),
          norm2Sq(slice(col("embedding"), dPrefix + 1, d - dPrefix)).as("n2t"),
          norm2Sq(col("embedding")).as("n2"),
          col("embedding").as("vec"))
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite")
        .option("compression", "zstd").parquet(tmp.toString)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"prefix layout publish failed: $path")
    }
    path.toString
  }

  /** [[prefixTopK]] off the at-rest layout — identical rows: `vp` stores
    * the same floats the map-side slice derives, and the rescore reads
    * the full `vec` column of the SAME layout (self-contained: the
    * original table is never touched at query time). */
  def prefixTopKAtRest(spark: org.apache.spark.sql.SparkSession,
                       sfDir: String, emb: DataFrame, nq: Int, k: Int,
                       d: Int, dPrefix: Int, rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    val path = ensurePrefixLayout(spark, sfDir, d, dPrefix)
    val stored = spark.read.parquet(path)
    val q = broadcast(queriesOf(emb, nq)
      .withColumn("qp", slice(col("qvec"), 1, dPrefix))
      .withColumn("qn2p", norm2Sq(col("qp")))
      .select(col("qid"), col("qvec"), col("qn2"), col("qp"), col("qn2p")))
    val cheap = stored.select(col("id"), col("vp"))
      .withColumn("n2p", norm2Sq(col("vp")))
      .crossJoin(q.select(col("qid"), col("qp"), col("qn2p")))
      .withColumn("score",
        dot(col("vp"), col("qp")) / (fn(col("n2p")) * fn(col("qn2p"))))
    val cand = TopK.window(cheap, rerank).select(col("qid"), col("id"))
    val rescored = stored.select(col("id"), col("vec"),
        norm2Sq(col("vec")).as("n2"))
      .join(broadcast(cand), Seq("id"))
      .join(q.select(col("qid"), col("qvec"), col("qn2")), Seq("qid"))
      .withColumn("score",
        dot(col("vec"), col("qvec")) / (fn(col("n2")) * fn(col("qn2"))))
    TopK.window(rescored, k)
  }

  /** [[prefixRefineTopK]] off the at-rest layout: the cheap pass reads
    * (id, vp, n2t, n2) — the prefix column chunk plus two stored scalar
    * stats, never the full vector (plan-asserted) — and the seed/
    * survivor rescores read (id, vec) from the SAME layout. Rows are
    * identical to the in-memory form AND to the exact scan (zero-miss),
    * so all three share the brute-force oracle. */
  def prefixRefineTopKAtRest(spark: org.apache.spark.sql.SparkSession,
                             sfDir: String, emb: DataFrame, nq: Int, k: Int,
                             d: Int, dPrefix: Int): DataFrame = {
    val path = ensurePrefixLayout(spark, sfDir, d, dPrefix)
    val stored = spark.read.parquet(path)
    prefixRefineSplit(
      stored.select(col("id"), col("vp"), col("n2t"), col("n2")),
      stored.select(col("id"), col("vec")),
      queriesOf(emb, nq), k, d, dPrefix)
  }

  /**
   * Same-cell pairs with cosine >= threshold: (id_a, id_b, cos).
   *
   * Candidate generation blocks on (cell, angle-to-pivot band) — the
   * scale-correct analogue of norm banding for the cosine metric (cosine
   * is scale-invariant, so norms constrain nothing; the angle to a fixed
   * pivot direction does). By the spherical triangle inequality,
   * cos(a,b) >= t implies |theta_a - theta_b| <= acos(t), so joining each
   * row's band against all bands within reach = ceil(acos(t)/w) + 1 (the
   * +1 absorbs floor/float edges) has EXACT recall; the cosine test is a
   * post-filter. Band occupancy — not the O(N) cell block size — bounds
   * the join, and the expansion factor is the fixed 2*reach+1. Pruning
   * power scales with threshold tightness: at near-dup thresholds
   * (t >= 0.9, theta <= 26 deg) most of the sphere is out of reach; the
   * fixture's loose t=0.25 keeps every band reachable but exercises the
   * same bounded plan shape. The DuckDB oracle stays all-pairs-in-cell;
   * results are identical.
   */
  def nearDupPairs(emb: DataFrame, minCos: Double,
                   bandDeg: Double = 5.0): DataFrame = {
    val thetaMax = math.toDegrees(math.acos(minCos))
    val reach = math.ceil(thetaMax / bandDeg).toInt + 1
    val side = emb.select(col("label"), col("vec_id"), col("embedding"),
        norm2Sq(col("embedding")).as("n2"))
      .withColumn("band",
        floor(degrees(acos(least(lit(1.0), greatest(lit(-1.0),
          element_at(col("embedding"), 1).cast("double") / fn(col("n2"))))))
          / bandDeg).cast("int"))
    val a = side.select(col("label"), col("vec_id").as("id_a"),
        col("embedding").as("va"), col("n2").as("na2"),
        explode(sequence(col("band") - reach, col("band") + reach)).as("jband"))
    val b = side.select(col("label"), col("vec_id").as("id_b"),
      col("embedding").as("vb"), col("n2").as("nb2"), col("band").as("jband"))
    // one row per candidate pair (the b side carries a single band), so
    // no distinct is needed after the join
    a.join(b, Seq("label", "jband")).filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        dot(col("va"), col("vb")) / (fn(col("na2")) * fn(col("nb2"))))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /**
   * Radius-search TAU PICK off the score histogram — the ANALYZE →
   * decision pair for [[graft.operators.Search.rangeSearch]]: given a
   * result-volume `budget`, choose the LOWEST bucket boundary whose
   * above-or-equal cumulative pair count still fits the budget (the
   * widest radius the budget affords; histogram buckets make the
   * estimate conservative by at most one bucket of granularity).
   * Output: the histogram rows (bucket, n) with the running
   * above-cumulative `cum` and the `chosen` flag — all exact integers
   * off the already-bounded [[scoreHistogram]] relation; when even the
   * top bucket exceeds the budget, the top bucket is chosen (the
   * narrowest radius there is).
   */
  def rangeTauPick(emb: DataFrame, nq: Int, binScale: Int,
                   budget: Long): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val rows = scoreHistogram(emb, nq, binScale).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(-_._1)
    require(rows.nonEmpty, "rangeTauPick: empty histogram")
    var cum = 0L
    val withCum = rows.map { case (b, n) => cum += n; (b, n, cum) }
    val chosen = withCum.filter(_._3 <= budget)
      .map(_._1).lastOption.getOrElse(withCum.head._1)
    withCum.map { case (b, n, c) => (b, n, c, b == chosen) }
      .toSeq.toDF("bucket", "n", "cum", "chosen")
  }

  // ---- embedding QA: norm-outlier detection -----------------------------

  /**
   * EMBEDDING QA — the broken-embedding detector an embedding pipeline
   * runs before indexing (zero vectors from failed forward passes,
   * magnitude blow-ups from fp overflow, truncated rows): flag every
   * vector whose L2 norm sits more than `zTau` population standard
   * deviations from the mean norm. Output (vec_id, norm, z) for the
   * flagged vectors, z = (norm − mean)/sd.
   *
   * The population stats are ONE global ordered fold
   * ([[TrainFold.orderedSums]], empty group — O(1) state, bit-exact at
   * any parallelism) over (norm, norm²); mean/sd collapse to two
   * doubles collected driver-side (the model) and folded back into the
   * flag predicate as literals — one stats scan + one map-side flag
   * scan, the shape a 100 TB QA job wants.
   */
  def normOutliers(emb: DataFrame, zTau: Double): DataFrame = {
    val withNorm = emb.select(col("vec_id"),
      fn(norm2Sq(col("embedding"))).as("norm"))
    val srow = TrainFold.orderedSums(
      withNorm.select(col("vec_id"), col("norm")),
      Seq.empty, "vec_id", Seq("norm" -> "s"))
      .collect()(0)
    val n = srow.getAs[Long]("n")
    require(n > 0, "normOutliers: empty corpus")
    val mean = srow.getAs[Double]("s") / n.toDouble
    // TWO-PASS variance (E[(x − mean)²], a second ordered fold): the
    // one-pass E[x²] − mean² form cancels catastrophically on a
    // unit-normalized corpus (both terms ~1, the true variance ~1e-16)
    // and would collapse sd to the floor, flagging everything
    val ssd = TrainFold.orderedSums(
      withNorm.select(col("vec_id"),
        ((col("norm") - lit(mean)) * (col("norm") - lit(mean))).as("d2")),
      Seq.empty, "vec_id", Seq("d2" -> "ssd"))
      .collect()(0).getAs[Double]("ssd")
    // the engine-wide 1e-12 floor (see VectorOps.fnorm): an all-equal-
    // norm corpus has sd = 0 and must flag nothing, not divide by zero
    val sd = math.max(math.sqrt(math.max(ssd / n.toDouble, 0.0)), 1e-12)
    withNorm
      .withColumn("z", (col("norm") - lit(mean)) / lit(sd))
      .filter(abs(col("norm") - lit(mean)) > lit(zTau) * lit(sd))
      .select(col("vec_id"), col("norm"), col("z"))
  }
}
