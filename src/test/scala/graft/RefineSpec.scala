package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{Refine, TopK}

class RefineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  private def fixture = {
    // cached (materialized) fixture: deriving cosL2Stat/cushions straight
    // over the raw synthesis CASE-WHEN trees fuses them into one hashAgg
    // codegen method that exceeds Janino's 64KB limit (silent interpreted
    // fallback) — the cache boundary keeps every derivation stage compiled
    val v = Fixture.fp16VectorsCached(spark, dir, SparkEntry.D, SparkEntry.KeepM)
    val q = Fixture.queries(v, 5).select(col("qid"), col("qvec"))
    (v, q)
  }

  test("refine pipeline persists drain under the scoped release") {
    val (v, q) = fixture
    v.count() // materialize the session fixture cache OUTSIDE the scope
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (df, release) = graft.operators.Dedup.scopedRelease(
      Refine.topk(v, q, Refine.Params("cos_l1", k = 5, keepM = SparkEntry.KeepM)))
    assert(df.count() > 0)
    // the persisted survivor set must be tracked (CacheManager holds it
    // strongly — only this release actually frees it)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
      "expected tracked persists during the refine query")
    release()
    val deadline = System.currentTimeMillis + 15000
    while (System.currentTimeMillis < deadline &&
      (spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty)
      Thread.sleep(100)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "refine intermediates leaked past the scoped release")
  }

  test("bare (scope-less) refine call is self-contained: no tracked caches") {
    val (v, q) = fixture
    v.count() // materialize the session fixture cache OUTSIDE the window
    val tracked0 = graft.operators.Dedup.trackedCount
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // a plain library caller: no scope, no release call, just an action
    val res = Refine.topk(v, q, Refine.Params("cos_l1", k = 5, keepM = SparkEntry.KeepM))
    assert(res.count() == 25)
    assert(graft.operators.Dedup.trackedCount == tracked0,
      "bare refine registered persists in the global tracker (leak until " +
        "releaseIntermediates, which a library caller never invokes)")
    // the operator released its own intermediates before returning; the
    // one allowed pin is the checkpointed result itself
    val leftover = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leftover.size <= 1,
      s"bare refine left ${leftover.size} persisted RDDs behind")
  }

  test("zero-miss modes return exactly the brute-force top-K") {
    val (v, q) = fixture
    for (mode <- Seq("cos_l1", "cos_l2", "l2_sym", "l2_tz")) {
      val p = Refine.Params(mode, k = 5, keepM = SparkEntry.KeepM)
      val refined = Refine.topk(v, q, p)
        .select("qid", "rank", "id").collect().map(_.toSeq).toSet
      val exact = Refine.exactTopK(v, q, p)
        .select("qid", "rank", "id").collect().map(_.toSeq).toSet
      assert(refined == exact, s"mode $mode diverged from exact top-K")
    }
  }

  test("int8 quantization rung is zero-miss against the brute-force top-K") {
    val (v, _) = fixture
    val v8 = Fixture.int8Vectors(v, SparkEntry.Int8ScaleLog2)
    val q = Fixture.queries(v8, 5).select(col("qid"), col("qvec"))
    val p = Refine.Params("cos_l1", k = 5, keepM = SparkEntry.KeepM)
    val refined = Refine.topk(v8, q, p)
      .select("qid", "rank", "id").collect().map(_.toSeq).toSet
    val exact = Refine.exactTopK(v8, q, p)
      .select("qid", "rank", "id").collect().map(_.toSeq).toSet
    assert(refined == exact, "int8 rung diverged from exact top-K")
    // the quantized copy is genuinely coarse (codes k/2^s), not a no-op:
    // some component must differ from full precision
    val changed = v8.selectExpr(
      "exists(zip_with(vec, rvec, (a, b) -> a <> b), x -> x) AS c")
      .filter(col("c")).count()
    assert(changed > 0, "quantization changed nothing — scale too fine")
  }

  test("metrics invariants: recall in [0,1], save < 1, fpr in [0,1]") {
    val (v, q) = fixture
    for (mode <- Refine.Modes) {
      val m = Refine.metrics(v, q, Refine.Params(mode, k = 5), SparkEntry.D)
        .collect()(0)
      val (recall, save, fpr) =
        (m.getDouble(3), m.getDouble(4), m.getDouble(5))
      assert(recall >= 0.0 && recall <= 1.0, s"$mode recall=$recall")
      assert(save < 1.0, s"$mode save=$save")
      assert(fpr >= 0.0 && fpr <= 1.0, s"$mode fpr=$fpr")
      if (mode != "cos_hoeff" && mode != "l2_hoeff")
        assert(recall == 1.0, s"zero-miss $mode recall=$recall")
    }
  }

  test("per-qid delta: each qid's slice equals the uniform run with its own δ") {
    // precision-on-demand as a relation: rank i gets δ_i; the proof of
    // per-qid BINDING is slice equality — the mixed-δ run's qid_i slice
    // must be bit-equal to a uniform-δ_i run's qid_i slice
    val (v, q) = fixture
    val qids = q.select(col("qid")).collect().map(_.getLong(0)).sorted
    val deltas = qids.toSeq.zipWithIndex.map { case (qid, i) =>
      qid -> SparkEntry.TuneGrid(i % SparkEntry.TuneGrid.size) }
    val p = SparkEntry.refineParams("cos_hoeff")
    val mixed = graft.operators.Refine.topkPerQidDelta(v, q, p, deltas)
      .collect()
    assert(mixed.length == qids.length * p.k)
    deltas.groupBy(_._2).foreach { case (dl, qs) =>
      val uniform = graft.operators.Refine.topk(v, q, p.copy(delta = dl))
        .collect().groupBy(_.getAs[Long]("qid"))
      qs.map(_._1).foreach { qid =>
        val slice = mixed.filter(_.getAs[Long]("qid") == qid)
          .map(_.toSeq).toSet
        assert(slice == uniform(qid).map(_.toSeq).toSet,
          s"qid $qid (δ=$dl) diverged from its uniform-δ run")
      }
    }
  }

  test("per-qid m_keep: zero-miss per tier, tier bytes differ, uniform " +
      "relation reproduces the fixed-m metrics rung") {
    val (v, q) = fixture
    val d = SparkEntry.D
    val k = SparkEntry.K
    val p = SparkEntry.refineParams("cos_l1").copy(k = k)
    val qids = q.select(col("qid")).collect().map(_.getLong(0)).sorted
    val tiers = qids.toSeq.zipWithIndex.map { case (qid, i) =>
      qid -> SparkEntry.MkeepTiers(i % SparkEntry.MkeepTiers.size) }
    val led = Refine.perQidMkeepMetrics(v, q, p, d, tiers).collect()
    // one ledger row per qid, tier bound by rank
    assert(led.length == qids.length)
    val byQid = led.map(r => r.getAs[Long]("qid") -> r).toMap
    tiers.foreach { case (qid, m) =>
      assert(byQid(qid).getAs[Int]("m_keep") == m,
        s"qid $qid bound tier ${byQid(qid).getAs[Int]("m_keep")} != $m")
    }
    // zero-miss preserved PER QID at every tier (cos_l1 is a true bound
    // at any mantissa budget)
    led.foreach(r => assert(r.getAs[Double]("recall") == 1.0,
      s"qid ${r.getAs[Long]("qid")} recall ${r.getAs[Double]("recall")}"))
    // the tiers actually differ in bandwidth: every row's CHEAP-pass
    // bytes (bytes_total minus the fetch term) sit at its tier's
    // b_red*N, so low-tier rows are strictly cheaper per vector
    val nV = v.count()
    val bFull = 16.0 * d / 8.0
    def cheapBytes(r: org.apache.spark.sql.Row): Double =
      r.getAs[Double]("bytes_total") -
        bFull * r.getAs[Long]("fetched").toDouble
    val grouped = led.groupBy(_.getAs[Int]("m_keep"))
      .map { case (m, rs) => m -> rs.map(cheapBytes).distinct }
    grouped.foreach { case (m, bs) =>
      assert(bs.length == 1 && math.abs(bs.head -
          (1 + p.keepE + m) * d / 8.0 * nV) < 1e-6,
        s"tier $m cheap bytes $bs != b_red*N") }
    assert(grouped(SparkEntry.MkeepTiers.head).head <
      grouped(SparkEntry.MkeepTiers.last).head,
      "low tier must be strictly cheaper per vector")
    // a UNIFORM tier relation reproduces the fixed-m metrics rung: the
    // mean of the per-qid saves equals metrics' aggregate save, and the
    // mean fpr its aggregate fpr (both are the same integer counts,
    // divided per qid vs once)
    val uni = Refine.perQidMkeepMetrics(v, q, p, d,
      qids.toSeq.map(_ -> SparkEntry.KeepM)).collect()
    val agg = Refine.metrics(v, q, p.copy(keepM = SparkEntry.KeepM), d)
      .collect()(0)
    def mean(xs: Seq[Double]) = xs.sum / xs.length
    assert(math.abs(mean(uni.map(_.getAs[Double]("save")).toSeq) -
      agg.getAs[Double]("save")) < 1e-9,
      "uniform per-qid saves did not average to the fixed-m rung's save")
    assert(math.abs(mean(uni.map(_.getAs[Double]("fpr")).toSeq) -
      agg.getAs[Double]("fpr")) < 1e-9,
      "uniform per-qid fprs did not average to the fixed-m rung's fpr")
    assert(uni.forall(_.getAs[Double]("recall") == 1.0))
  }

  test("TopK.aggregate matches TopK.window") {
    import spark.implicits._
    val rnd = new scala.util.Random(1)
    val scored = (0 until 5000)
      .map(i => (i % 7L, i.toLong, rnd.nextInt(100).toDouble))
      .toDF("qid", "id", "score")
    val a = TopK.aggregate(scored, 10).collect().map(_.toSeq).toSet
    val w = TopK.window(scored, 10).collect().map(_.toSeq).toSet
    assert(a == w)
    val aAsc = TopK.aggregate(scored, 10, ascending = true).collect().map(_.toSeq).toSet
    val wAsc = TopK.window(scored, 10, ascending = true).collect().map(_.toSeq).toSet
    assert(aAsc == wAsc)
  }
}
