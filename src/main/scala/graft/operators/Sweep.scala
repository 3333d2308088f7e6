package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Parameter-sweep harness (reference `sweep_and_plot`,
 * `/root/reference/ANNCode.py:729-789`): run the accounting metrics for a
 * grid of (mode, keepM [, delta]) configurations and union the rows into
 * one `metrics` DataFrame — the artifact's CSV result table.
 * [[writeCsv]] is the K1 sink; [[Plot.writeSweepPngs]] is the K2 sink
 * (the reference's `{mode}_recall_vs_save.png` / `{mode}_fpr_vs_mbits.png`).
 */
object Sweep {

  final case class Grid(
      modes: Seq[String] = Refine.Modes,
      keepMs: Seq[Int] = Seq(4, 6, 8),
      deltas: Seq[Double] = Seq(0.7),   // Hoeffding modes only
      k: Int = 10)

  /** All-config metrics table: (mode, m_keep, delta, recall, save, fpr). */
  def run(vectors: Int => DataFrame, queries: DataFrame, d: Int,
          grid: Grid): DataFrame = {
    val configs = for {
      m <- grid.modes
      km <- grid.keepMs
      dl <- if (m.endsWith("hoeff")) grid.deltas else Seq(grid.deltas.head)
    } yield Refine.Params(m, k = grid.k, keepM = km, delta = dl)
    // ground truth is keepM-independent (the full-precision vec column is
    // the same for every reduction) — compute once per metric family
    // instead of once per grid cell
    val refVecs = vectors(grid.keepMs.head)
    val gt = configs.map(_.isCos).distinct.map { isCos =>
      val mode = if (isCos) "cos_l1" else "l2_sym"
      isCos -> Refine.exactTopK(refVecs, queries,
        Refine.Params(mode, k = grid.k)).cache()
    }.toMap
    gt.values.foreach(_.count())
    import scala.collection.parallel.CollectionConverters._
    val spark = queries.sparkSession
    val callerPool = graft.Sched.currentPool(spark)
    // one accounting call per (keepM, metric family) group: vectors is
    // keyed by keepM (the reduced copy and delta depend on it)
    val groups = configs.groupBy(p => (p.keepM, p.isCos)).toSeq
    try
      groups.par.map { case ((km, isCos), ps) => graft.Sched.inPool(spark, callerPool) {
        Refine.metricsModes(vectors(km), queries, ps, d, Map(isCos -> gt(isCos)))
      }}.toList.reduce(_ unionByName _)
    finally gt.values.foreach(_.unpersist(blocking = false))
  }

  /** K1 sink: the sweep CSV (`ANNCode.py:733-735, 779-780`). */
  def writeCsv(metrics: DataFrame, path: String): Unit =
    metrics.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(path)
}
