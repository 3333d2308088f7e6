package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import graft.functions.{Fp16, VectorOps}
import graft.operators.{Dedup, Refine}
import graft.sources.Disaggregated

/**
 * The block-pass refine ([[Refine.fetchedSplit]]) and the accounting
 * fan-outs composed from it ([[Refine.metricsModes]],
 * [[Refine.perQidMkeepMetricsSplit]]) against the relational static-tau0
 * reference ([[RefineReference]]): bit-identical rows on every mode and on
 * degenerate inputs, a Spark-job budget per call, no cached blocks left
 * behind, and a fetch that never broadcasts the full-precision table.
 */
class RefineBlockPassSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val KeepM = 6

  private def gauss(rnd: scala.util.Random, d: Int): Array[Float] =
    Array.fill(d)(Fp16.roundTrip(rnd.nextGaussian().toFloat))

  /** (id, vec, rvec, delta) over `slices` partitions; a NaN component
    * stays NaN in the reduced copy. */
  private def vectors(vs: Seq[Array[Float]], slices: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val rows = vs.zipWithIndex.map { case (v, i) =>
      (i.toLong * 3 + 7, v,
        v.map(x => if (x.isNaN) x else Fp16.reduceValue(x, 5, KeepM)),
        v.map(x => if (x.isNaN) 0.01f else Fp16.deltaOf(x, KeepM)))
    }
    spark.sparkContext.parallelize(rows, slices).toDF("id", "vec", "rvec", "delta")
  }

  private def queries(qs: Seq[Array[Float]]): DataFrame = {
    val s = spark
    import s.implicits._
    qs.zipWithIndex.map { case (q, i) => (i.toLong + 100, q) }.toDF("qid", "qvec")
  }

  /** (qid, id, bits of s_full, rn), sorted. */
  private def rows(df: DataFrame): Seq[(Long, Long, Long, Int)] =
    df.select("qid", "id", "s_full", "rn").collect().map(r =>
      (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3)))
      .toSeq.sorted

  private def assertSameRows(label: String, v: DataFrame, q: DataFrame,
                             p: Refine.Params, perQidHc: Boolean = false): Unit = {
    val cheap = Refine.cheapSide(v, p)
    val (got, release) = Dedup.scopedRelease(
      Refine.fetchedSplit(cheap, v, q, p, perQidHc))
    try {
      val a = rows(got)
      val b = rows(RefineReference.fetchedSplit(cheap, v, q, p, perQidHc))
      assert(a == b, s"$label ${p.mode}: block passes diverged from the " +
        s"relational reference\n  got  ${a.take(12)}\n  want ${b.take(12)}")
    } finally release()
  }

  private val rnd = new scala.util.Random(20261017L)
  private def corpus(n: Int, d: Int) = Seq.fill(n)(gauss(rnd, d))

  test("block passes equal the relational reference on every mode at D=8 and D=128") {
    for ((d, n, slices) <- Seq((8, 300, 5), (128, 200, 3))) {
      val v = vectors(corpus(n, d), slices)
      val q = queries(corpus(4, d))
      Refine.Modes.foreach(m =>
        assertSameRows(s"gaussian D=$d", v, q, Refine.Params(m, k = 5, keepM = KeepM)))
    }
  }

  test("block passes equal the relational reference on degenerate inputs") {
    val d = 8
    val base = corpus(20, d)
    val tie = gauss(rnd, d)
    val nan = gauss(rnd, d); nan(3) = Float.NaN
    // zero-norm rows, five identical rows (s_hat ties broken by id), one
    // NaN component, spread over more partitions than rows: most
    // partitions are empty and none holds k rows
    val edge = vectors(base ++ Seq.fill(3)(new Array[Float](d)) ++
      Seq.fill(5)(tie.clone()) ++ Seq(nan), slices = 40)
    val q = queries(corpus(3, d) :+ new Array[Float](d) :+ tie.clone())
    // every row identical: seeds and survivors decided by id alone
    val allTie = vectors(Seq.fill(12)(tie.clone()), slices = 4)
    // k > N
    val tiny = vectors(corpus(4, d), slices = 3)
    for (m <- Refine.Modes) {
      val p = Refine.Params(m, k = 5, keepM = KeepM)
      assertSameRows("edge", edge, q, p)
      assertSameRows("all-tie", allTie, q, p)
      assertSameRows("k>N", tiny, q, p.copy(k = 10))
    }
  }

  test("per-qid Hoeffding constants equal the relational reference") {
    val s = spark
    import s.implicits._
    for (d <- Seq(8, 128)) {
      val v = vectors(corpus(150, d), 4)
      val hc = Seq(1e-6, 0.05, 0.7, 0.9).zipWithIndex.map { case (dl, i) =>
        (i.toLong + 100, math.sqrt(2.0 * math.log(1.0 / dl))) }.toDF("qid", "hc")
      val q = queries(corpus(4, d)).join(hc, Seq("qid"))
      assertSameRows(s"perQidHc D=$d", v, q,
        Refine.Params("cos_hoeff", k = 5, keepM = KeepM), perQidHc = true)
    }
  }

  test("survivors over the broadcast threshold fetch by shuffled hash join, same rows") {
    val v = vectors(corpus(200, 8), 4)
    val q = queries(corpus(3, 8))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      Seq("cos_hoeff", "l2_sym").foreach(m =>
        assertSameRows("no broadcast", v, q, Refine.Params(m, k = 5, keepM = KeepM)))
      val p = Refine.Params("cos_hoeff", k = 5, keepM = KeepM)
      val (df, release) = Dedup.scopedRelease(
        Refine.fetchedSplit(Refine.cheapSide(v, p), v, q, p))
      try {
        df.collect()
        assert(nodes(df.queryExecution.executedPlan).exists(
          _.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec]),
          s"expected a shuffled hash join:\n${df.queryExecution.executedPlan}")
      } finally release()
    } finally saved match {
      case Some(x) => spark.conf.set(key, x)
      case None => spark.conf.unset(key)
    }
  }

  test("a bare (scope-less) call returns the reference rows") {
    val v = vectors(corpus(120, 8), 3)
    val q = queries(corpus(3, 8))
    val p = Refine.Params("l2_tz", k = 4, keepM = KeepM)
    val cheap = Refine.cheapSide(v, p)
    assert(rows(Refine.fetchedSplit(cheap, v, q, p)) ==
      rows(RefineReference.fetchedSplit(cheap, v, q, p)))
  }

  // ---- at rest ----------------------------------------------------------

  private lazy val layout: String = {
    val path = java.nio.file.Files.createTempDirectory("refine-pass").toString + "/vecs"
    Disaggregated.write(Fixture.gaussianVectors(spark, 3000, 32, KeepM, 7L)
      .select(col("id"), col("vec")), path, KeepM)
    path
  }
  private def batch: DataFrame = queries(Seq.fill(8)(gauss(new scala.util.Random(3L), 32)))
  private val atRest = Refine.Params("cos_l1", k = 10, keepM = KeepM)

  /** Every node of an executed plan, through AQE stages, reused
    * exchanges and cached relations. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case i: InMemoryTableScanExec => i +: nodes(i.relation.cachedPlan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def readsVec(p: SparkPlan): Boolean = nodes(p).exists {
    case f: FileSourceScanExec => f.requiredSchema.fieldNames.contains("vec")
    case i: InMemoryTableScanExec => i.output.exists(_.name == "vec")
    case _ => false
  }

  test("at-rest refine never broadcasts the full-precision table") {
    val (df, release) = Dedup.scopedRelease(
      Disaggregated.refineTopK(spark, layout, batch, atRest))
    try {
      assert(df.collect().length == 8 * atRest.k)
      val plan = df.queryExecution.executedPlan
      val bad = nodes(plan).collect {
        case b: BroadcastExchangeExec if readsVec(b.child) => b }
      assert(bad.isEmpty, s"full-precision side broadcast:\n$plan")
      // and the cheap pass still reads no vec
      val scans = nodes(plan).collect {
        case f: FileSourceScanExec => f.requiredSchema.fieldNames.toSet }
      assert(scans.exists(_.contains("rvec")), s"no cheap scan in $scans")
      scans.foreach(s => assert(!(s.contains("vec") && s.contains("rvec")),
        s"unpruned scan reads $s"))
    } finally release()
  }

  private def jobsOf(f: => Unit): Int = SparkJobs.count(spark)(f)

  /** Spark jobs of one scoped `Disaggregated.refineTopK` call: the parquet
    * schema read, the seed pass, the seed rescore, the survivor count, and
    * the fetch-and-rank query's broadcast, shuffle and result stages (17
    * with the relational passes). */
  private val JobBudget = 7

  test(s"a scoped at-rest refine call runs at most $JobBudget Spark jobs") {
    def call(): Unit = {
      val (df, release) = Dedup.scopedRelease(
        Disaggregated.refineTopK(spark, layout, batch, atRest))
      try df.collect() finally release()
    }
    call()   // warm: the layout is written and the session planned once
    val jobs = jobsOf(call())
    assert(jobs <= JobBudget, s"refine call ran $jobs Spark jobs")
  }

  // ---- accounting fan-outs ----------------------------------------------

  private val AllModes = Refine.Modes.map(m => Refine.Params(m, k = 5, keepM = KeepM))

  /** Per-family exact top-K, collected: a ground truth as callers pass it. */
  private def groundTruths(v: DataFrame, q: DataFrame): Map[Boolean, DataFrame] =
    Seq(true, false).map { f =>
      val g = Refine.exactTopK(v, q, AllModes.find(_.isCos == f).get)
      f -> spark.createDataFrame(java.util.Arrays.asList(g.collect(): _*), g.schema)
    }.toMap

  /** Rows in order, doubles as bit patterns (NaN and -0.0 compare exactly). */
  private def exact(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case x: Double => java.lang.Double.doubleToLongBits(x)
      case x => x
    })

  private def assertSameMetrics(label: String, v: DataFrame, q: DataFrame,
                                ps: Seq[Refine.Params], d: Int,
                                gts: Map[Boolean, DataFrame] = Map.empty,
                                red: Option[Double] = None): Unit = {
    val got = exact(Refine.metricsModes(v, q, ps, d, gts, red))
    val want = exact(RefineReference.metricsModes(v, q, ps, d, gts, red))
    assert(got == want, s"$label: metricsModes diverged from the relational " +
      s"reference\n  got  $got\n  want $want")
  }

  test("metricsModes equals the relational reference on a six-mode sweep at D=8 and D=128") {
    for ((d, n, slices) <- Seq((8, 300, 5), (128, 200, 3))) {
      val v = vectors(corpus(n, d), slices)
      val q = queries(corpus(4, d))
      assertSameMetrics(s"six modes D=$d", v, q, AllModes, d, groundTruths(v, q))
    }
  }

  test("metricsModes equals the relational reference on a delta grid, a " +
      "measured reduced-byte cost and without ground truth") {
    val d = 8
    val v = vectors(corpus(250, d), 4)
    val q = queries(corpus(4, d))
    val gts = groundTruths(v, q)
    val hoeff = Refine.Params("cos_hoeff", k = 5, keepM = KeepM)
    assertSameMetrics("delta grid", v, q,
      graft.operators.Tune.DefaultGrid.map(dl => hoeff.copy(delta = dl)), d,
      gts.filter(_._1))
    assertSameMetrics("redBytesOverride", v, q, AllModes, d, gts, red = Some(1.37))
    assertSameMetrics("no ground truth", v, q, AllModes, d)
  }

  test("metricsModes equals the relational reference on degenerate inputs") {
    val d = 8
    val tie = gauss(rnd, d)
    val nan = gauss(rnd, d); nan(5) = Float.NaN
    val edge = vectors(corpus(20, d) ++ Seq.fill(3)(new Array[Float](d)) ++
      Seq.fill(5)(tie.clone()) ++ Seq(nan), slices = 12)
    val q = queries(corpus(3, d) :+ new Array[Float](d) :+ tie.clone())
    val allTie = vectors(Seq.fill(12)(tie.clone()), slices = 4)
    val tiny = vectors(corpus(4, d), slices = 3)
    assertSameMetrics("edge", edge, q, AllModes, d, groundTruths(edge, q))
    assertSameMetrics("all-tie", allTie, q, AllModes, d)
    assertSameMetrics("k>N", tiny, q, AllModes.map(_.copy(k = 10)), d)
  }

  private val Tiers = Seq(4, 6, 8)

  /** (id, rvec_m, delta_m) per tier, derived as [[Refine.perQidMkeepMetrics]] does. */
  private def tiered(v: DataFrame): DataFrame =
    v.select(col("id") +: Tiers.flatMap(m => Seq(
      VectorOps.reduceVec(col("vec"), 5, m).as(s"rvec_$m"),
      VectorOps.deltaVec(col("vec"), m).as(s"delta_$m"))): _*)

  private val mkeepParams = Refine.Params("cos_l1", k = 5, keepM = KeepM)

  private def assertSameLedger(label: String, v: DataFrame, q: DataFrame,
                               d: Int, mkeeps: Seq[(Long, Int)],
                               gt: Option[DataFrame]): Unit = {
    def sorted(df: DataFrame) = exact(df.orderBy("qid"))
    val cheap = tiered(v)
    val got = sorted(Refine.perQidMkeepMetricsSplit(cheap, v, q, mkeepParams,
      d, mkeeps, gt))
    val want = sorted(RefineReference.perQidMkeepMetricsSplit(cheap, v, q,
      mkeepParams, d, mkeeps, gt))
    assert(got.nonEmpty && got == want, s"$label: m_keep ledger diverged " +
      s"from the relational reference\n  got  $got\n  want $want")
  }

  test("perQidMkeepMetricsSplit equals the relational reference on uniform and mixed tiers") {
    for ((d, n, slices) <- Seq((8, 300, 5), (128, 200, 3))) {
      val v = vectors(corpus(n, d), slices)
      val q = queries(corpus(6, d))
      val qids = (0 until 6).map(_.toLong + 100)
      val gt = Some(groundTruths(v, q)(true))
      assertSameLedger(s"uniform D=$d", v, q, d, qids.map(_ -> 6), gt)
      assertSameLedger(s"mixed D=$d", v, q, d,
        qids.zipWithIndex.map { case (qid, i) => qid -> Tiers(i % 3) }, gt)
    }
    val v = vectors(corpus(120, 8), 4)
    val q = queries(corpus(3, 8))
    assertSameLedger("no ground truth", v, q, 8,
      Seq(100L -> 4, 101L -> 8, 102L -> 4), None)
    // a qid bound to two tiers is rejected, not counted twice
    intercept[IllegalArgumentException](Refine.perQidMkeepMetricsSplit(
      tiered(v), v, q, mkeepParams, 8, Seq(100L -> 4, 100L -> 8)))
  }

  /** Spark jobs of one scoped six-mode `metricsModes` call and one
    * three-tier `perQidMkeepMetricsSplit` call, ground truths supplied
    * (36 and 25 with the relational passes). Each mode or tier runs its
    * block-pass refine: the query collect, the seed pass, the seed
    * rescore and the survivor count. */
  private val MetricsJobBudget = 29
  private val MkeepJobBudget = 23

  test(s"scoped accounting calls run at most $MetricsJobBudget and " +
      s"$MkeepJobBudget Spark jobs") {
    val d = 8
    val v = vectors(corpus(300, d), 5)
    val q = queries(corpus(6, d))
    val gts = groundTruths(v, q)
    val mkeeps = (0 until 6).map(i => (i.toLong + 100) -> Tiers(i % 3))
    val cheap = tiered(v)
    def scoped(df: => DataFrame): Unit = {
      val (res, release) = Dedup.scopedRelease(df)
      try res.collect() finally release()
    }
    def metrics(): Unit = scoped(Refine.metricsModes(v, q, AllModes, d, gts))
    def mkeep(): Unit = scoped(Refine.perQidMkeepMetricsSplit(cheap, v, q,
      mkeepParams, d, mkeeps, Some(gts(true))))
    metrics(); mkeep()   // warm: plan and codegen once
    val (mj, kj) = (jobsOf(metrics()), jobsOf(mkeep()))
    info(s"metricsModes: $mj jobs, m_keep ledger: $kj jobs")
    assert(mj <= MetricsJobBudget, s"six-mode metricsModes ran $mj Spark jobs")
    assert(kj <= MkeepJobBudget, s"three-tier m_keep ledger ran $kj Spark jobs")
  }

  test("bare accounting calls leave no cached blocks and no tracked persists") {
    val d = 8
    val v = vectors(corpus(200, d), 4)
    val q = queries(corpus(3, d))
    val tracked0 = Dedup.trackedCount
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def leftover = spark.sparkContext.getPersistentRDDs.keySet -- before
    def settle(allowed: Int): Unit = {
      val deadline = System.currentTimeMillis + 15000
      while (System.currentTimeMillis < deadline && leftover.size > allowed)
        Thread.sleep(100)
    }
    assert(Refine.metricsModes(v, q, AllModes, d).count() == AllModes.length)
    settle(0)
    assert(leftover.isEmpty, s"metricsModes left ${leftover.size} persisted RDDs")
    val ledger = Refine.perQidMkeepMetricsSplit(tiered(v), v, q, mkeepParams,
      d, Seq(100L -> 4, 101L -> 6, 102L -> 8))
    assert(ledger.count() == 3)
    // the one allowed pin is the checkpointed ledger itself
    settle(1)
    assert(leftover.size <= 1, s"m_keep ledger left ${leftover.size} persisted RDDs")
    assert(Dedup.trackedCount == tracked0,
      "a bare accounting call registered persists in the global tracker")
  }
}
