package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VecExprs
import org.apache.spark.storage.StorageLevel
import graft.functions.VectorOps._
import graft.operators.{Ann, Ivf}
import graft.operators.Search.{TieredRequests, TieredView}

/**
 * The relational tiered fetch: every (lang-matching row, query) pair as a
 * row of a broadcast cross join (on the indexed layout, an equi-join on
 * each query's probed cells), the tier codes dequantized in the plan,
 * seeds from a `row_number() <= poolN` window, tau0 from a `min`
 * aggregate, survivors from an anti-join plus a tau0 join and filter, and
 * the full-precision fetch as a join. This is the semantics
 * `Search.tieredFetch`'s block passes must reproduce row for row; specs
 * compare the two.
 */
object TieredFetchReference {

  /** The fetch set (qid, id, s_full) of `req` over `view`. */
  def tieredFetch(spark: SparkSession, view: TieredView, req: TieredRequests,
                  indexed: Option[(Int, Int, Int)]): DataFrame = {
    import spark.implicits._
    val usedScales = req.usedScales
    val qSel = Ann.queriesOf(view.queries, req.nq)
      .select(col("qid"), col("qvec"), col("qn2").as("nq2"))
    // indexed: the union of all probed cells as a static partition filter
    val (scan, cellCol, probeSet) = indexed match {
      case None => (view.stored, Seq.empty[Column], None)
      case Some((nCells, d, nprobe)) =>
        val probeSet = Ivf.probeCells(qSel.select(col("qid"), col("qvec")),
            nCells, d, nprobe)
          .select(col("qid"), col("cell"))
        val unionCells = probeSet.select(col("cell")).distinct()
          .collect().map(_.getInt(0)).sorted
        (view.stored.filter(col("cell").isin(unionCells.map(Int.box): _*)),
          Seq(col("cell")), Some(probeSet))
    }
    // dequantized values and the constant half-step bound are map-side
    // derivations of the used tiers' codes
    val vpre = scan.select(Seq(col("id"), col("lang")) ++ cellCol ++
        usedScales.map { s =>
          val mul = math.pow(2.0, s)
          transform(col(s"code_$s"),
            c => (c.cast("double") / mul).cast("float")).as(s"rvec_$s")
        }: _*)
      .select(Seq(col("id"), col("lang")) ++ cellCol ++ usedScales.flatMap(
        s => Seq(col(s"rvec_$s"), norm2Sq(col(s"rvec_$s")).as(s"nr2_$s"))
      ): _*)
    val trRel = broadcast(req.tiers.toDF("qid", "tier"))
    val qf = broadcast(req.filters.toDF("qid", "qlang"))
    val q = broadcast(qSel.join(trRel, Seq("qid")).join(qf, Seq("qid")))
    def byTier(f: Int => Column): Column =
      usedScales.foldRight(lit(null).cast("double")) { (s, rest) =>
        when(col("tier") === s, f(s)).otherwise(rest) }
    val sHat = byTier(s => dot(col(s"rvec_$s"), col("qvec")) /
      (fnorm(col(s"nr2_$s")) * fnorm(col("nq2"))))
    val cush = byTier { s =>
      val half = (0.5 / math.pow(2.0, s)).toFloat
      lit(req.alpha) * VecExprs.absDot(col("qvec"),
        transform(col(s"rvec_$s"), _ => lit(half))) / fnorm(col("nq2"))
    }
    val langRows = vpre.filter(col("lang").isin(req.filters.map(_._2)
      .distinct: _*))
    val pairs = probeSet match {
      case None => langRows.crossJoin(q)
      case Some(p) => langRows.join(broadcast(p), Seq("cell"))
        .join(q, Seq("qid"))
    }
    val cand = pairs
      .filter(col("lang") === col("qlang"))
      .select(col("qid"), col("id"), sHat.as("s_hat"), cush.as("cush"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val vSel = scan.select(col("id"), col("vec"))
    def eager(df: DataFrame): DataFrame = {
      val mat = df.persist(StorageLevel.MEMORY_AND_DISK)
      mat.count(); mat
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("s_hat").desc, col("id").asc)
    val seedIds = eager(cand.select(col("qid"), col("id"), col("s_hat"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= req.poolN))
    val seeds = eager(vSel.join(broadcast(seedIds), Seq("id"))
      .join(qSel, Seq("qid"))
      .withColumn("s_full", dot(col("vec"), col("qvec")) /
        (fnorm(norm2Sq(col("vec"))) * fnorm(col("nq2"))))
      .select(col("qid"), col("id"), col("s_full")))
    try {
      val tau0 = broadcast(
        seeds.groupBy(col("qid")).agg(min(col("s_full")).as("tau0")))
      val survivorIds = cand
        .join(broadcast(seedIds.select(col("qid"), col("id"))),
          Seq("qid", "id"), "left_anti")
        .join(tau0, Seq("qid"))
        .filter(col("s_hat") + col("cush") >= col("tau0"))
        .select(col("qid"), col("id"))
      val survivors = vSel.join(survivorIds, Seq("id"))
        .join(qSel, Seq("qid"))
        .withColumn("s_full", dot(col("vec"), col("qvec")) /
          (fnorm(norm2Sq(col("vec"))) * fnorm(col("nq2"))))
        .select(col("qid"), col("id"), col("s_full"))
      seeds.unionByName(survivors).localCheckpoint(true)
    } finally {
      seeds.unpersist(blocking = false)
      seedIds.unpersist(blocking = false)
      cand.unpersist(blocking = false)
    }
  }
}
