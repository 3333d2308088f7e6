package perfbench

import java.nio.file.Paths
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.operators.{Dedup, Refine}
import graft.sources.Disaggregated

/**
 * The refine workload: one client calling `Disaggregated.refineTopK` in a
 * closed loop on seeded query batches over a seeded Gaussian corpus
 * written once by `Disaggregated.write`.
 */
object RefineWorkload {
  val N = 30000
  val D = 128
  /** Queries per call: with N = 30000 the N*Q candidate pass is about a
    * third of a call, the per-call fixed cost (17 Spark jobs) the rest. */
  val Q = 16
  val KeepM = 6
  /** A Hoeffding mode (recall is measured) and a zero-miss mode (ids must
    * equal the exact top-K) of one metric family: one exact pass checks
    * both. */
  val Modes = Seq("cos_hoeff", "cos_l1")

  private def hoeffding(p: Refine.Params) = p.mode.endsWith("_hoeff")
  /** Warm-up batches draw from their own qid range. */
  private val WarmupBatch0 = 1000000
  /** Warm-up calls per mode: calls keep getting faster over the first few
    * of a JVM; after three per mode they are close to steady. */
  private val Warmups = 3

  def queryRows(seed: Long, batch: Int): Seq[(Long, Array[Float])] =
    (0 until Q).map { j =>
      val qid = batch.toLong * Q + j
      qid -> Array.tabulate(D)(k => graft.functions.Fp16.roundTrip(
        Gen.gauss(seed ^ 0x51ed2701L, qid * D + k).toFloat))
    }

  /** Runs `body` under its own release scope, as the engine's managed
    * callers do, and frees its persisted intermediates afterwards. */
  private def scoped[T](body: => DataFrame)(action: DataFrame => T): T = {
    val (df, release) = Dedup.scopedRelease(body)
    try action(df) finally release()
  }

  def refine(spark: SparkSession, layout: String, qs: DataFrame,
             p: Refine.Params): Array[Row] =
    scoped(Disaggregated.refineTopK(spark, layout, qs, p))(_.collect())

  /** Compressed bytes per top-level column, summed over the footers of
    * every parquet file of the layout. */
  def footerBytes(spark: SparkSession, dir: String): Map[String, Long] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    Timing.files(Paths.get(dir)).keys.filter(_.endsWith(".parquet")).toSeq
      .flatMap { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(dir, f), conf))
        try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala
          .map(c => c.getPath.toArray.head -> c.getTotalSize))
        finally r.close()
      }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** ids per qid, in rank order. */
  private def byQid(rows: Array[Row]): Map[Long, Seq[Long]] =
    rows.toSeq.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("id")) }

  def run(ctx: Ctx): Raw = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val params = Modes.map(m => Refine.Params(m))
    val k = params.head.k
    def batch(b: Int): DataFrame =
      queryRows(ctx.seed, b).toDF("qid", "qvec")

    // The paper's passes, each timed on its own under a release scope the
    // way refineTopK runs them: a forced scan of the cheap side, the
    // fetch (seeds, tau0, cushion filter, full-precision fetch), the whole
    // split top-K (fetch plus rank), and the exact top-K it must beat.
    // Returns the rows fetched at full precision.
    def passes(dir: String, qs: DataFrame, p: Refine.Params,
               timed: Boolean): Long = {
      def sp[T](name: String)(body: => T): T =
        if (timed) tr.span(name)(body) else body
      val stored = spark.read.parquet(dir)
      val full = stored.select(col("id"), col("vec"))
      def cheap = Dedup.persistScoped(Refine.cheapSideStored(stored, p))
      sp("refine.cheap")(scoped(Refine.cheapSideStored(stored, p))(
        _.write.format("noop").mode("overwrite").save()))
      val fetched = sp("refine.fetched")(scoped(
        Refine.fetchedSplit(cheap, full, qs, p))(_.count()))
      sp("refine.topk")(scoped(
        Refine.topkSplit(cheap, full, qs, p))(_.collect()))
      sp("refine.exact")(Refine.exactTopK(full, qs, p).collect())
      fetched
    }

    val (builds, dir) = ctx.buildLayouts("layout") { (dir, part) =>
      val corpus = part("generate_s", "fixture.generate") {
        val df = graft.Fixture.gaussianVectors(spark, N, D, KeepM,
            ctx.seed).select(col("id"), col("vec"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        df
      }
      part("write_s", "sources.write")(
        Disaggregated.write(corpus, dir.toString, KeepM))
      corpus.unpersist(blocking = true)
    }
    val layout = dir.toString
    val warmupS = ctx.warmup((0 until Warmups * params.size).foreach { i =>
      val p = params(i % params.size)
      val qs = batch(WarmupBatch0 + i)
      refine(spark, layout, qs, p)
      // the traced run also times the passes: warm them too
      if (ctx.traced && i < params.size) passes(layout, qs, p, timed = false)
    })

    val stored = spark.read.parquet(layout)
    val full = stored.select(col("id"), col("vec"))
    val ops = mutable.ArrayBuffer.empty[Op]
    val results = mutable.ArrayBuffer.empty[(Int, Refine.Params, Array[Row])]
    val failures = mutable.ArrayBuffer.empty[String]
    val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
    val overhead = mutable.ArrayBuffer.empty[Seq[Double]]

    // closed loop: whole rotations over the modes until `seconds` of calls
    var elapsed = 0.0
    var b = 0
    while ((elapsed < ctx.seconds || b % params.size != 0) &&
        failures.isEmpty) {
      val p = params(b % params.size)
      val qs = batch(b)
      try {
        if (!ctx.traced) {
          val (rows, dt) = Timing.seconds(refine(spark, layout, qs, p))
          ops += Op("query", p.mode, dt, Q)
          results += ((b, p, rows))
          elapsed += dt
        } else {
          // an untraced call on the same batch right before the traced
          // one: their difference is the tracing overhead
          val (_, untraced) = Timing.seconds(refine(spark, layout, qs, p))
          val (dt, batchS) = Timing.seconds(tr.span("refine.batch") {
            val (rows, dt) = Timing.seconds(
              tr.span("refine.call")(refine(spark, layout, qs, p)))
            ops += Op("query", p.mode, dt, Q)
            results += ((b, p, rows))
            batches += Map("mode" -> p.mode, "k" -> k, "n" -> N,
              "q" -> Q, "fetched" -> passes(layout, qs, p, timed = true))
            dt
          })
          overhead += Seq(dt, untraced)
          elapsed += untraced + batchS
        }
      } catch {
        case e: Exception => failures += s"batch $b (${p.mode}): $e"
      }
      b += 1
    }

    // the engine's modeled saving, on the first batch
    val saveModeled = if (!ctx.traced || results.isEmpty) Map.empty else {
      val (b0, p, _) = results.head
      Map(p.mode -> tr.span("refine.metrics")(scoped(
        Refine.metrics(stored.select(col("id"), col("vec"), col("rvec"),
          col("delta")), batch(b0), p, D))(
        _.collect().head.getAs[Double]("save"))))
    }

    // correctness, outside the timed window: one exact pass over every
    // timed batch's queries
    val recall = mutable.ArrayBuffer.empty[Double]
    val exact = byQid(Refine.exactTopK(full, results.toSeq
      .flatMap { case (bi, _, _) => queryRows(ctx.seed, bi) }
      .toDF("qid", "qvec"), params.head).collect())
    results.foreach { case (bi, p, rows) =>
      val got = byQid(rows)
      val qids = (0 until Q).map(j => bi.toLong * Q + j)
      val bad = qids.filter { q =>
        val ids = got.getOrElse(q, Nil)
        ids.size != k || ids.distinct.size != k ||
          (!hoeffding(p) && ids.toSet != exact(q).toSet)
      }
      if (bad.nonEmpty)
        failures += s"batch $bi (${p.mode}): qids ${bad.mkString(",")} " +
          "do not hold exactly the exact top-K ids"
      if (hoeffding(p))
        recall ++= qids.map(q => got.getOrElse(q, Nil).toSet
          .intersect(exact(q).toSet).size.toDouble / k)
    }

    val cols = footerBytes(spark, layout)
    def perRow(names: String*) = names.map(cols.getOrElse(_, 0L)).sum
      .toDouble / N
    Raw(builds, warmupS, ops.toSeq, attempted = math.max(1, b),
      failures = failures.toSeq, recall = recall.toSeq,
      storedBytes = Timing.files(Paths.get(layout)).values.sum,
      rawBytes = N.toLong * D * 4,
      layer = Map(
        "cheap_bytes_per_row" -> perRow("id", "rvec", "delta"),
        "full_bytes_per_row" -> perRow("id", "vec"),
        "batches" -> batches.toSeq, "overhead_pairs" -> overhead.toSeq,
        "save_modeled" -> saveModeled))
  }
}
