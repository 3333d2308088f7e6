// Hosted in the spark.sql package tree for Dataset.ofRows and the
// internal-row utilities (private[sql]).
package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, LogicalPlan, NO_BROADCAST_HASH, ResolvedHint, UnaryNode}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, ShortType, StructField, StructType}

import graft.operators.{Refine, RefineKernel, TopK}
import graft.operators.RefineKernel.Scores

/**
 * Whole-operator integration of the refinement kernels into Catalyst:
 * custom logical nodes, one planner strategy, and physical operators
 * that process the child's InternalRows directly (no Dataset encoder
 * round-trip).
 *
 *  - `RefineKernelExec`: the sequential running-threshold walk (SURVEY
 *    §4.3 ladder step (c) — the mapPartitions form in
 *    [[graft.operators.RefineKernel]] is step (d)). It emits each
 *    partition's local top-K (qid, id, score); [[refineTopK]] wraps the
 *    global partial-merge on top.
 *  - `RefinePassExec`: the per-partition block passes of the static-tau0
 *    operator ([[graft.operators.Refine.fetchedSplit]]) — the seed pass,
 *    the survivor pass and the full-precision rescore of fetched rows —
 *    and the tiered serve's seed and survivor passes, which decode each
 *    used tier's stored codes (byte or short) to their float values in
 *    the pass, so the plan carries the codes, never a dequantized copy.
 *
 * EXPLAIN shows each as a first-class operator (`RefineKernel`,
 * `RefineSeedPass`, `RefineSurvivorPass`, `RefineRescorePass`,
 * `TieredSeedPass`, `TieredSurvivorPass`).
 */
object KernelPlan {

  final case class QueryData(qid: Long, qvec: Array[Float])

  /** Fresh output attributes for one plan instance. */
  def outputAttrsFor(): Seq[Attribute] = Seq(
    AttributeReference("qid", LongType, nullable = false)(),
    AttributeReference("id", LongType, nullable = false)(),
    AttributeReference("score", DoubleType, nullable = false)())

  /** Logical node: refinement kernel over the child vector relation.
    * `output` is a constructor parameter — were it a val, every tree
    * copy during analysis would mint fresh exprIds and orphan upstream
    * references. */
  case class RefineKernelNode(
      child: LogicalPlan,
      queries: Seq[QueryData],
      params: Refine.Params,
      output: Seq[Attribute]) extends UnaryNode {
    // the kernel consumes every child column; without this the column
    // pruner sees no references and projects the child down to nothing
    override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      child.outputSet
    // output attrs are created here, not passed through from the child
    override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
    override protected def withNewChildInternal(newChild: LogicalPlan): RefineKernelNode =
      copy(child = newChild)
  }

  /** Physical operator: per-partition running-tau walk over InternalRows. */
  case class RefineKernelExec(
      child: SparkPlan,
      outputAttrs: Seq[Attribute],
      queries: Seq[QueryData],
      params: Refine.Params) extends UnaryExecNode {
    override def output: Seq[Attribute] = outputAttrs
    override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(outputAttrs)
    override protected def withNewChildInternal(newChild: SparkPlan): RefineKernelExec =
      copy(child = newChild)

    override protected def doExecute(): RDD[InternalRow] = {
      val schema = child.schema
      val idIdx = schema.fieldIndex("id")
      val vecIdx = schema.fieldIndex("vec")
      val rvecIdx = schema.fieldIndex("rvec")
      val deltaIdx = schema.fieldIndex("delta")
      // ship the query matrix once per job via broadcast, not inside
      // every task closure (mirrors the Dataset kernel)
      val bq = sparkContext.broadcast(queries.toArray)
      val p = params
      val outSchema = StructType(Seq(
        StructField("qid", LongType, nullable = false),
        StructField("id", LongType, nullable = false),
        StructField("score", DoubleType, nullable = false)))

      child.execute().mapPartitionsInternal { it =>
        // materialize the partition block once (same block-kernel shape
        // as the reference's in-RAM walk, bounded by partition size)
        val rows = it.map { r =>
          graft.operators.RefineKernel.VecRow(
            r.getLong(idIdx),
            r.getArray(vecIdx).toFloatArray(),
            r.getArray(rvecIdx).toFloatArray(),
            r.getArray(deltaIdx).toFloatArray())
        }.toArray
        val proj = UnsafeProjection.create(outSchema)
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(3)
        if (rows.isEmpty) Iterator.empty
        else {
          // one kernel per partition: block decode + norm precompute
          // amortized across the whole query matrix
          val kern = new graft.operators.RefineKernel.PartitionKernel(rows, p)
          bq.value.iterator.flatMap { q =>
            kern.topKFor(q.qid, q.qvec).map { c =>
              row.update(0, c.qid); row.update(1, c.id); row.update(2, c.score)
              proj(row)
            }
          }
        }
      }
    }
  }

  /** Logical node of one [[RefineKernel.BlockPass]] over its child, whose
    * output holds the pass's `columns`. */
  case class RefinePassNode(
      child: LogicalPlan,
      pass: RefineKernel.BlockPass,
      output: Seq[Attribute]) extends UnaryNode {
    override def nodeName: String = pass.name
    override protected def stringArgs: Iterator[Any] = Iterator(pass.describe)
    override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      child.outputSet
    override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
    override protected def withNewChildInternal(newChild: LogicalPlan): RefinePassNode =
      copy(child = newChild)
  }

  /** Physical block pass: the child's rows stream through the pass,
    * decoded one at a time. */
  case class RefinePassExec(
      child: SparkPlan,
      pass: RefineKernel.BlockPass,
      output: Seq[Attribute]) extends UnaryExecNode {
    override def nodeName: String = pass.name
    override protected def stringArgs: Iterator[Any] = Iterator(pass.describe)
    override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
    override protected def withNewChildInternal(newChild: SparkPlan): RefinePassExec =
      copy(child = newChild)

    override protected def doExecute(): RDD[InternalRow] = {
      val names = child.output.map(_.name)
      def idx(c: String): Int = names.indexOf(c)
      val (idI, rvecI, deltaI, nr2I, bbI, qidI, vecI) = (idx("id"),
        idx("rvec"), idx("delta"), idx("nr2"), idx("bb"), idx("qid"), idx("vec"))
      val (langI, cellI) = (idx("lang"), idx("cell"))
      // a tier pass's code columns: (index, 2-byte codes?, 2^s)
      val tiers = pass match {
        case t: RefineKernel.TierPass => t.scales.map { s =>
          val i = idx(s"code_$s")
          val wide = child.output(i).dataType match {
            case ArrayType(ShortType, _) => true
            case _ => false
          }
          (i, wide, math.pow(2.0, s))
        }.toArray
        case _ => Array.empty[(Int, Boolean, Double)]
      }
      // the query matrix (and the survivor pass's tau0 + seed ids) ship
      // once per job, not inside every task closure
      val bp = sparkContext.broadcast(pass)
      val outSchema = StructType(output.map(a =>
        StructField(a.name, a.dataType, nullable = false)))
      child.execute().mapPartitionsInternal { it =>
        val proj = UnsafeProjection.create(outSchema)
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          outSchema.length)
        def emit(c: RefineKernel.Cand): InternalRow = {
          row.update(0, c.qid); row.update(1, c.id)
          if (row.numFields > 2) row.update(2, c.score)
          proj(row)
        }
        bp.value match {
          case t: RefineKernel.TierPass =>
            t.run(it.map { x =>
              val rvecs = tiers.map { case (i, wide, mul) =>
                dequantize(x.getArray(i), wide, mul) }
              val lang = x.getUTF8String(langI)
              new RefineKernel.TierRow(x.getLong(idI),
                if (lang == null) null else lang.toString,
                if (cellI >= 0) x.getInt(cellI) else -1, rvecs,
                rvecs.map(v => Scores.fnorm(Scores.dot(v, v))))
            }).map(emit)
          case r: RefineKernel.RescorePass =>
            it.map { x =>
              val qid = x.getLong(qidI)
              emit(RefineKernel.Cand(qid, x.getLong(idI),
                r.score(qid, x.getArray(vecI).toFloatArray())))
            }
          case c: RefineKernel.CheapPass =>
            c.run(it.map(x => new RefineKernel.CheapRow(x.getLong(idI),
              x.getArray(rvecI).toFloatArray(),
              if (deltaI >= 0) x.getArray(deltaI).toFloatArray() else null,
              if (nr2I >= 0) RefineKernel.Scores.fnorm(x.getDouble(nr2I)) else 0.0,
              if (bbI >= 0) x.getDouble(bbI) else 0.0))).map(emit)
        }
      }
    }
  }

  /** A tier's stored codes (byte, or short when `wide`) as their values
    * c / 2^s rounded to float, bit for bit the relational
    * `(c.cast(double) / 2^s).cast(float)`; `mul` is 2^s. */
  private def dequantize(codes: ArrayData, wide: Boolean,
                         mul: Double): Array[Float] = {
    val out = new Array[Float](codes.numElements())
    var j = 0
    while (j < out.length) {
      val c = if (wide) codes.getShort(j) else codes.getByte(j)
      out(j) = (c.toDouble / mul).toFloat
      j += 1
    }
    out
  }

  /** Planner strategy turning the logical nodes into their execs. */
  object KernelStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case n: RefineKernelNode =>
        RefineKernelExec(planLater(n.child), n.output, n.queries, n.params) :: Nil
      case n: RefinePassNode =>
        RefinePassExec(planLater(n.child), n.pass, n.output) :: Nil
      case _ => Nil
    }
  }

  /** Register [[KernelStrategy]] with the session once (operators may
    * build plans from several threads of one session). */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    KernelStrategy.synchronized {
      if (!spark.experimental.extraStrategies.contains(KernelStrategy))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ KernelStrategy
    }

  /** `pass` over the pass's columns of `input`, as a DataFrame of
    * (qid, id) or (qid, id, score) rows named `scoreName`. */
  def blockPass(input: DataFrame, pass: RefineKernel.BlockPass,
                scoreName: String = "score"): DataFrame = {
    val spark = input.sparkSession
    install(spark)
    val cols = pass.columns.map(c =>
      if (c == "id" || c == "qid") org.apache.spark.sql.functions.col(c).cast(LongType).as(c)
      else org.apache.spark.sql.functions.col(c))
    val out = Seq(
      AttributeReference("qid", LongType, nullable = false)(),
      AttributeReference("id", LongType, nullable = false)()) ++
      (if (pass.emitsScore)
        Seq(AttributeReference(scoreName, DoubleType, nullable = false)())
       else Nil)
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      RefinePassNode(input.select(cols: _*).queryExecution.analyzed, pass, out))
  }

  /** `df` barred from the build side of a broadcast hash join: a join may
    * still broadcast its other side, or shuffle both, as the planner and
    * AQE size them. Keeps a full-precision table from being broadcast
    * when its size estimate happens to fit the threshold. */
  def neverBroadcast(df: DataFrame): DataFrame =
    Dataset.ofRows(df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      ResolvedHint(df.queryExecution.analyzed, HintInfo(Some(NO_BROADCAST_HASH))))

  /** Whether `rows` (qid, id) rows fit Spark's broadcast threshold, sized
    * as Spark estimates a relation from its row count (8 + 8 per long). */
  def fitsBroadcast(rows: Long): Boolean = {
    val limit = SQLConf.get.autoBroadcastJoinThreshold
    limit > 0 && BigInt(rows) * 24 <= limit
  }

  /** Public API: plan the kernel as a first-class operator and merge the
    * per-partition partials into the global top-K. */
  def refineTopK(vectors: DataFrame, queriesDf: DataFrame,
                 p: Refine.Params): DataFrame = {
    val spark = vectors.sparkSession
    install(spark)
    // same driver-collect cap as the Dataset kernel (see
    // RefineKernel.MaxQueryRows): the query matrix is broadcast, so an
    // unbounded relation here would be a silent driver OOM
    val qs = graft.operators.RefineKernel.collectQueries(
        queriesDf.select("qid", "qvec"))
      .map(q => QueryData(q.qid, q.qvec)).toSeq
    val node = RefineKernelNode(
      vectors.select("id", "vec", "rvec", "delta").queryExecution.analyzed,
      qs, p, outputAttrsFor())
    val partials = Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], node)
    TopK.aggregate(partials, p.k, ascending = !p.isCos)
  }
}
