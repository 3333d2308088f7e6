package graft

import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import graft.functions.Fp16
import graft.operators.{Dedup, Refine}
import graft.sources.Disaggregated

/**
 * The block-pass refine ([[Refine.fetchedSplit]]) against the relational
 * static-tau0 reference ([[RefineReference]]): bit-identical rows on every
 * mode and on degenerate inputs, a Spark-job budget per call, and a fetch
 * that never broadcasts the full-precision table.
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

  /** Spark jobs of one scoped `Disaggregated.refineTopK` call: the parquet
    * schema read, the seed pass, the seed rescore, the survivor count, and
    * the fetch-and-rank query's broadcast, shuffle and result stages (17
    * with the relational passes). */
  private val JobBudget = 7

  test(s"a scoped at-rest refine call runs at most $JobBudget Spark jobs") {
    val sc = spark.sparkContext
    def call(): Unit = {
      val (df, release) = Dedup.scopedRelease(
        Disaggregated.refineTopK(spark, layout, batch, atRest))
      try df.collect() finally release()
    }
    call()   // warm: the layout is written and the session planned once
    val tag = s"refine-job-budget-${System.nanoTime}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == tag)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "refine job budget")
      try call() finally sc.clearJobGroup()
      org.apache.spark.sql.graft.ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get > 0, "listener saw no jobs")
    assert(jobs.get <= JobBudget, s"refine call ran ${jobs.get} Spark jobs")
  }
}
