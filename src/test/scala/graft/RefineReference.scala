package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorOps._
import graft.operators.Refine

/**
 * The relational static-tau0 refine: every (row, query) pair as a row of
 * a broadcast cross join, seeds from a `row_number() <= k` window, tau0
 * from a `min`/`max` aggregate, survivors from an anti-join plus a tau0
 * join and filter, and the full-precision fetch as a join. This is the
 * semantics [[Refine.fetchedSplit]]'s block passes must reproduce row for
 * row; specs compare the two.
 */
object RefineReference {

  /** (qid, id, s_full, rn) — rn <= k for the seeds, k + 1 for survivors. */
  def fetchedSplit(cheap: DataFrame, full: DataFrame, queries: DataFrame,
                   p: Refine.Params, perQidHc: Boolean = false): DataFrame = {
    val qCols = Seq(col("qid"), col("qvec"), norm2Sq(col("qvec")).as("nq2")) ++
      (if (perQidHc) Seq(col("hc")) else Nil)
    val sHat =
      if (p.isCos) dot(col("rvec"), col("qvec")) /
        (fnorm(col("nr2")) * fnorm(col("nq2")))
      else l2DistSq(col("qvec"), col("rvec"))
    val cand = cheap.crossJoin(broadcast(queries.select(qCols: _*)))
      .withColumn("s_hat", sHat)
      .select(col("qid"), col("id"), col("s_hat"),
        Refine.cushionExpr(p, if (perQidHc) Some(col("hc")) else None)
          .as("cush"))

    val vSel = full.select(col("id"), col("vec"))
    val qSel = broadcast(queries.select(col("qid"), col("qvec"),
      norm2Sq(col("qvec")).as("nq2")))
    val seeds = vSel
      .join(broadcast(Refine.seedSelect(cand, p.k, p.isCos)), Seq("id"))
      .join(qSel, Seq("qid"))
      .withColumn("s_full", Refine.fullScore(p))
      .select(col("qid"), col("id"), col("s_full"), col("rn"))
    val tau0 = broadcast(seeds.groupBy(col("qid")).agg(
      (if (p.isCos) min(col("s_full")) else max(col("s_full"))).as("tau0")))
    val survive =
      if (p.isCos) col("s_hat") + col("cush") >= col("tau0")
      else col("cush") <= col("tau0")
    val survivorIds = cand
      .join(broadcast(seeds.select(col("qid"), col("id"))),
        Seq("qid", "id"), "left_anti")
      .join(tau0, Seq("qid"))
      .filter(survive)
      .select(col("qid"), col("id"))
    val survivors = vSel.join(survivorIds, Seq("id"))
      .join(qSel, Seq("qid"))
      .withColumn("s_full", Refine.fullScore(p))
    seeds.unionByName(survivors.select(col("qid"), col("id"),
      col("s_full"), lit(p.k + 1).as("rn")))
  }
}
