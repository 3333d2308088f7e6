package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VecExprs
import org.apache.spark.storage.StorageLevel
import graft.functions.VectorOps._
import graft.operators.{Refine, TopK}
import graft.operators.Refine.Params

/**
 * The relational static-tau0 refine: every (row, query) pair as a row of
 * a broadcast cross join, seeds from a `row_number() <= k` window, tau0
 * from a `min`/`max` aggregate, survivors from an anti-join plus a tau0
 * join and filter, and the full-precision fetch as a join. This is the
 * semantics [[Refine.fetchedSplit]]'s block passes must reproduce row for
 * row, and [[metricsModes]] / [[perQidMkeepMetricsSplit]] are the
 * relational accounting fan-outs the composed [[Refine]] forms must
 * reproduce value for value; specs compare the two.
 */
object RefineReference {

  /** Cushion expression for one param set; expects the candidate-pair
    * columns (qvec, nq2, rvec, delta[, bb], s_hat) in scope. */
  def cushionExpr(p: Params, hcOverride: Option[Column] = None,
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

  /** The seeds: the top-k candidate ids per query by reduced score —
    * (qid, id, s_hat, rn <= k). */
  def seedSelect(cand: DataFrame, k: Int, isCos: Boolean): DataFrame = {
    val ord = if (isCos) Seq(col("s_hat").desc, col("id").asc)
              else Seq(col("s_hat").asc, col("id").asc)
    val w = Window.partitionBy(col("qid")).orderBy(ord: _*)
    cand.select(col("qid"), col("id"), col("s_hat"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Full-precision score for rescoring (cos: unit-space ratio; l2: distance). */
  def fullScore(p: Params): Column =
    if (p.isCos)
      dot(col("vec"), col("qvec")) / (fnorm(norm2Sq(col("vec"))) * fnorm(col("nq2")))
    else l2DistSq(col("qvec"), col("vec"))

  /** (qid, id, s_full, rn) — rn <= k for the seeds, k + 1 for survivors. */
  def fetchedSplit(cheap: DataFrame, full: DataFrame, queries: DataFrame,
                   p: Params, perQidHc: Boolean = false): DataFrame = {
    val qCols = Seq(col("qid"), col("qvec"), norm2Sq(col("qvec")).as("nq2")) ++
      (if (perQidHc) Seq(col("hc")) else Nil)
    val sHat =
      if (p.isCos) dot(col("rvec"), col("qvec")) /
        (fnorm(col("nr2")) * fnorm(col("nq2")))
      else l2DistSq(col("qvec"), col("rvec"))
    val cand = cheap.crossJoin(broadcast(queries.select(qCols: _*)))
      .withColumn("s_hat", sHat)
      .select(col("qid"), col("id"), col("s_hat"),
        cushionExpr(p, if (perQidHc) Some(col("hc")) else None).as("cush"))

    val vSel = full.select(col("id"), col("vec"))
    val qSel = broadcast(queries.select(col("qid"), col("qvec"),
      norm2Sq(col("qvec")).as("nq2")))
    val seeds = vSel
      .join(broadcast(seedSelect(cand, p.k, p.isCos)), Seq("id"))
      .join(qSel, Seq("qid"))
      .withColumn("s_full", fullScore(p))
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
      .withColumn("s_full", fullScore(p))
    seeds.unionByName(survivors.select(col("qid"), col("id"),
      col("s_full"), lit(p.k + 1).as("rn")))
  }

  /** Both metric families' reduced pass off one broadcast cross join:
    * (qid, id, [s_hat_c], [s_hat_l], cush_0..cush_{n-1}).
    * vpre: (id, rvec, delta, nr2[, bb]); queries: (qid, qvec). */
  def candidatesMixed(vpre: DataFrame, queries: DataFrame,
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

  /** The relational accounting fan-out over a mixed param set: one
    * candidate pass, one tagged seed probe, one survivor superset flagged
    * per param, and the fetched / hits counts from two aggregates. Rows
    * (mode, m_keep, delta, recall, save, fpr) in `ps` order. */
  def metricsModes(vectors: DataFrame, queries: DataFrame, ps: Seq[Params],
                   d: Int, groundTruths: Map[Boolean, DataFrame] = Map.empty,
                   redBytesOverride: Option[Double] = None): DataFrame = {
    val spark = vectors.sparkSession
    val k = ps.head.k
    require(ps.forall(_.k == k), "metricsModes params must share k")
    val fams = Seq(true, false).filter(f => ps.exists(_.isCos == f))

    val vpre = Refine.cheapSide(vectors,
      ps.find(_.mode == "cos_l2").getOrElse(ps.head))
    val cand = candidatesMixed(vpre, queries, ps)

    val vSel = vectors.select(col("id"), col("vec"))
    val qSel = broadcast(queries.select(col("qid"), col("qvec"),
      norm2Sq(col("qvec")).as("nq2")))

    def sHatOf(isCos: Boolean): Column =
      if (isCos) col("s_hat_c") else col("s_hat_l")
    def seedIdsOf(isCos: Boolean): DataFrame =
      seedSelect(cand.select(col("qid"), col("id"),
        sHatOf(isCos).as("s_hat")), k, isCos)
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
    val sFullCols = fams.map(f =>
      (if (f) sFullC else sFullL).as(s"s_full_$f"))
    val survivorsAll = vSel.join(survivorIds, Seq("id"))
      .join(qSel, Seq("qid"))
      .select(Seq(col("qid"), col("id")) ++ sFullCols ++
        ps.indices.map(i => col(s"f_$i")): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)

    val gts = fams.map { f =>
      f -> groundTruths.getOrElse(f,
        Refine.exactTopK(vectors, queries, ps.filter(_.isCos == f).head))
    }.toMap

    try {
      val nQ = queries.count()
      val nV = vectors.count()
      val seedCounts = seeds.groupBy(col("fam")).count().collect()
        .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
      val survRow = survivorsAll.agg(
        count(lit(1)).as("n_all"),
        ps.indices.map(i =>
          sum(col(s"f_$i").cast("long")).as(s"n_$i")): _*).collect()(0)
      val nSurv = ps.indices.map(i =>
        if (survRow.isNullAt(i + 1)) 0L else survRow.getLong(i + 1))

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
    }
  }

  /** The relational per-qid m_keep ledger: one candidate pass in which
    * each qid's s_hat and cos_l1 cushion read its tier's columns through a
    * CASE, then seeds, tau0, survivors and the fetch as joins. */
  def perQidMkeepMetricsSplit(cheap: DataFrame, full: DataFrame,
                              queries: DataFrame, p: Params, d: Int,
                              mkeeps: Seq[(Long, Int)],
                              groundTruth: Option[DataFrame] = None): DataFrame = {
    val spark = cheap.sparkSession
    import spark.implicits._
    val ms = mkeeps.map(_._2).distinct.sorted
    val bFull = 16.0 * d / 8.0
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
    val sHat = byTier(m => dot(col(s"rvec_$m"), col("qvec")) /
      (fnorm(col(s"nr2_$m")) * fnorm(col("nq2"))))
    val cush = byTier(m => lit(p.alpha) *
      VecExprs.absDot(col("qvec"), col(s"delta_$m")) / fnorm(col("nq2")))
    val cand = vpre2.crossJoin(q)
      .select(col("qid"), col("id"), sHat.as("s_hat"), cush.as("cush"))

    val vSel = full.select(col("id"), col("vec"))
    val seeds = vSel.join(broadcast(seedSelect(cand, p.k, isCos = true)), Seq("id"))
      .join(qSel, Seq("qid"))
      .withColumn("s_full", fullScore(p))
      .select(col("qid"), col("id"), col("s_full"), col("rn"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tau0 = broadcast(
      seeds.groupBy(col("qid")).agg(min(col("s_full")).as("tau0")))
    val survivorIds = cand
      .join(broadcast(seeds.select(col("qid"), col("id"))),
        Seq("qid", "id"), "left_anti")
      .join(tau0, Seq("qid"))
      .filter(col("s_hat") + col("cush") >= col("tau0"))
      .select(col("qid"), col("id"))
    val survivors = vSel.join(survivorIds, Seq("id"))
      .join(qSel, Seq("qid"))
      .withColumn("s_full", fullScore(p))
    val fetch = seeds.unionByName(
        survivors.select(col("qid"), col("id"), col("s_full"),
          lit(p.k + 1).as("rn")))
      .persist(StorageLevel.MEMORY_AND_DISK)

    try {
      val fin = TopK.window(fetch.withColumnRenamed("s_full", "score"), p.k)
      val gt = groundTruth.getOrElse(Refine.exactTopK(full, queries, p))
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
        .localCheckpoint(true)
    } finally {
      fetch.unpersist(blocking = false)
      seeds.unpersist(blocking = false)
    }
  }
}
