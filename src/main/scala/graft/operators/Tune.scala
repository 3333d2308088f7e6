package graft.operators

import org.apache.spark.sql.DataFrame

/**
 * Hoeffding-delta tuning (paper §4.1-4.2: "delta grid-searched per
 * dataset"; the default grid extends the published [1e-12, 1e-1] log
 * range up to 0.7 — the reference CLI default — to cover lax floors).
 * Returns the full grid's metrics plus a `chosen` flag on the row with
 * the highest bandwidth saving among those meeting the floor (falling
 * back to the highest-recall row if none do).
 */
object Tune {

  val DefaultGrid: Seq[Double] =
    Seq(1e-12, 1e-9, 1e-6, 1e-3, 1e-2, 5e-2, 1e-1, 3e-1, 7e-1)

  def tuneDelta(vectors: DataFrame, queries: DataFrame, mode: String,
                k: Int, keepM: Int, d: Int, recallFloor: Double,
                grid: Seq[Double] = DefaultGrid): DataFrame = {
    require(mode.endsWith("hoeff"), s"delta tuning only applies to Hoeffding modes, got $mode")
    val spark = vectors.sparkSession
    val p0 = Refine.Params(mode, k = k, keepM = keepM)
    // the family pipeline rescans the vectors; cache them for the run —
    // but only if the CALLER hasn't already persisted them (unpersisting
    // a caller-owned cache here would silently kill e.g. the session's
    // shared fixture cache for every later query)
    val callerCached =
      vectors.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val v = if (callerCached) vectors else vectors.cache()
    val gt = Refine.exactTopK(v, queries, p0).cache()
    gt.count()
    // one accounting call over the whole grid: one row per grid point,
    // in grid order, all counted against the one ground truth
    val rows =
      try
        Refine.metricsModes(v, queries, grid.map(dl => p0.copy(delta = dl)),
          d, Map(p0.isCos -> gt)).collect().toList
      finally {
        gt.unpersist(blocking = false)
        if (!callerCached) v.unpersist(blocking = false)
      }

    // pick by index: content equality would flag duplicate-metrics rows
    val indexed = rows.zipWithIndex
    val meeting = indexed.filter(_._1.getDouble(3) >= recallFloor)
    val chosenIdx =
      if (meeting.nonEmpty) meeting.maxBy(_._1.getDouble(4))._2  // max saving
      else indexed.maxBy(_._1.getDouble(3))._2                   // best recall
    import spark.implicits._
    indexed.map { case (r, i) =>
      (r.getString(0), r.getInt(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), i == chosenIdx)
    }.toDF("mode", "m_keep", "delta", "recall", "save", "fpr", "chosen")
  }
}
