package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions.col

/**
 * Exact-semantics refinement kernel: the reference's sequential
 * tighten-as-you-go scan (`/root/reference/ANNCode.py:307-647`, candidate
 * ordering O2 at `:348-351`) as a `mapPartitions` block operator.
 *
 * Per partition and per query:
 *   1. reduced scores for all partition rows (cheap columns only);
 *   2. candidates walked in best-first reduced order;
 *   3. running threshold tau = worst of the local top-K full scores so
 *      far; a candidate whose cushion-adjusted reduced score cannot beat
 *      tau is rejected WITHOUT touching the full-precision vector;
 *   4. survivors are rescored at full precision and fed to the local heap.
 *
 * Only the per-partition local top-K survivors (~K + epsilon rows per
 * (partition, query)) leave the partition; [[TopK.aggregate]] merges them.
 * This is the shuffle-minimal 100 TB path: no N*Q row explosion, no
 * global window sort — the exchange carries O(partitions * Q * K) rows.
 *
 * Recall can only exceed the static-tau relational form (tau only
 * tightens), so the zero-miss guarantee carries over.
 *
 * [[PartitionKernel]] is constructed once per (partition, param-set) and
 * amortizes across the whole query matrix: the row block is decoded once,
 * query-independent quantities (row norms, the cos_l2 cushion — which
 * does not depend on the query at all) are precomputed once, and the
 * per-query score/order/heap buffers are allocated once and reused, so
 * the per-query cost is the two array passes and the index sort, with no
 * per-query allocation beyond the emitted ~K candidates.
 *
 * The static-tau0 operator ([[Refine.fetchedSplit]]) runs here too, as
 * block passes ([[SeedPass]], [[SurvivorPass]], [[RescorePass]]) planned
 * by `KernelPlan`; so does the tiered serve's fetch (`Search`), whose
 * passes ([[TierSeedPass]], [[TierSurvivorPass]]) read the layout's
 * stored tier codes and score each row only against the requests that
 * admit it (lang, and on the indexed layout the probed cell), each at its
 * own tier. Every form scores through [[Scores]].
 */
object RefineKernel {

  final case class VecRow(id: Long, vec: Array[Float], rvec: Array[Float],
                          delta: Array[Float])
  final case class QRow(qid: Long, qvec: Array[Float])
  final case class Cand(qid: Long, id: Long, score: Double)

  /** Hard cap on the query side: the kernels and the block passes
    * collect Q to the driver and broadcast it (the reference's Q is an
    * in-RAM matrix too, ~tens of rows), so an unbounded query relation
    * would be a silent driver OOM. 64k rows * (8B qid + D floats) stays
    * comfortably in driver memory; larger query sets go in batches. */
  final val MaxQueryRows: Int = 1 << 16

  private[graft] def requireCapped(rows: Int): Unit =
    require(rows <= MaxQueryRows,
      s"refine query side exceeds MaxQueryRows=$MaxQueryRows rows; " +
        "split the query relation into batches")

  /** Collect the query matrix with the cap enforced (limit cap+1 so the
    * overflow check never pulls an unbounded relation either). */
  def collectQueries(queries: DataFrame): Array[QRow] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qs = queries.select(col("qid"), col("qvec"))
      .limit(MaxQueryRows + 1).as[QRow].collect()
    requireCapped(qs.length)
    qs.sortBy(_.qid)
  }

  /**
   * Per-mode score and cushion arithmetic: the one Scala copy, shared by
   * the sequential walk ([[PartitionKernel]]) and the block passes
   * ([[SeedPass]], [[SurvivorPass]], [[TierSeedPass]],
   * [[TierSurvivorPass]]). Every fold accumulates in double,
   * in array order, with the per-element expression tree of the matching
   * codegen'd fold in `VecExprs`, and every ratio keeps the operation
   * order of [[Refine]]'s column expressions — so a score here is
   * bit-identical to the relational expression over the same inputs.
   */
  object Scores {
    /** sum a_i * b_i (`VecExprs.DotD`). */
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    /** sum (q_i - r_i)^2 (`VecExprs.L2Sq`). */
    def l2Sq(q: Array[Float], r: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < q.length) {
        val d = q(i).toDouble - r(i).toDouble; s += d * d; i += 1
      }
      s
    }
    /** The floored norm of a squared norm (`VectorOps.fnorm`). */
    def fnorm(x: Double): Double = math.max(math.sqrt(x), 1e-12)

    /** cos_l2's query-free stat from the two norms (`Refine.cosL2Stat`). */
    def cosL2Stat(vec: Array[Float], rvec: Array[Float],
                  vn: Double, rn: Double): Double =
      math.sqrt(math.max(0.0, 2.0 - 2.0 * dot(vec, rvec) / (vn * rn)))

    /** Reduced score: cos ratio (rn, qn the floored norms) or l2 distance. */
    def sHat(isCos: Boolean, q: Array[Float], rvec: Array[Float],
             rn: Double, qn: Double): Double =
      if (isCos) dot(rvec, q) / (rn * qn) else l2Sq(q, rvec)

    /** Full-precision score: the same forms over `vec`. */
    def full(isCos: Boolean, q: Array[Float], vec: Array[Float],
             vn: Double, qn: Double): Double =
      if (isCos) dot(vec, q) / (vn * qn) else l2Sq(q, vec)

    /** The mode's cushion (paper Table 2). `hc` is the cos_hoeff constant
      * (the param's, or a per-qid override), `bb` cos_l2's stored stat,
      * `sHat` the reduced score l2_hoeff offsets. */
    def cushion(p: Refine.Params, hc: Double, q: Array[Float],
                rvec: Array[Float], delta: Array[Float], bb: Double,
                sHat: Double, qn: Double): Double = p.mode match {
      case "cos_hoeff" =>
        var s = 0.0; var j = 0
        while (j < q.length) {
          val t = q(j).toDouble * delta(j).toDouble; s += t * t; j += 1
        }
        hc * math.sqrt(s) / qn
      case "cos_l1" =>
        var s = 0.0; var j = 0
        while (j < q.length) {
          s += math.abs(q(j).toDouble) * delta(j).toDouble; j += 1
        }
        p.alpha * s / qn
      case "cos_l2" =>
        p.alpha * bb
      case "l2_sym" =>
        var s = 0.0; var j = 0
        while (j < q.length) {
          val l = math.max(
            math.abs(q(j).toDouble - rvec(j).toDouble) - delta(j).toDouble, 0.0)
          s += l * l; j += 1
        }
        s
      case "l2_tz" =>
        // sign of the reduced value steers the branch; -0.0 counts negative
        var s = 0.0; var j = 0
        while (j < q.length) {
          val r = rvec(j).toDouble; val d = delta(j).toDouble
          val a = q(j).toDouble - r
          val sg = if (r < 0.0 ||
            (r == 0.0 && java.lang.Double.doubleToRawLongBits(r) != 0L)) -1.0
            else 1.0
          val b = a * sg
          if (b <= 0.0) s += a * a
          else if (b >= d) { val l = b - d; s += l * l }
          j += 1
        }
        s
      case "l2_hoeff" =>
        var s = 0.0; var j = 0
        while (j < q.length) {
          val t = (q(j).toDouble - rvec(j).toDouble) * delta(j).toDouble
          s += t * t; j += 1
        }
        sHat - 2.0 * p.hoeffConst * math.sqrt(s)
    }

    /** The tiered serve's cos_l1 cushion: with codes round(v·2^s), every
      * |v − rv| ≤ 2^-(s+1), so Δ is that constant and the cushion depends
      * on the query alone — alpha · Σ|q_j|·2^-(s+1) / qn, folded as
      * `VecExprs.AbsDot` folds (q, Δ). */
    def halfStepCushion(alpha: Double, q: Array[Float], s: Int,
                        qn: Double): Double = {
      val half = (0.5 / math.pow(2.0, s)).toFloat.toDouble
      var acc = 0.0; var j = 0
      while (j < q.length) { acc += math.abs(q(j).toDouble) * half; j += 1 }
      alpha * acc / qn
    }
  }

  /**
   * Per-partition kernel state shared across the query matrix. Not
   * thread-safe (one instance per task, as used by `mapPartitions`).
   */
  final class PartitionKernel(rows: Array[VecRow], p: Refine.Params) {
    private val n = rows.length
    private val k = p.k
    private val hoeffC = p.hoeffConst
    private val isCos = p.isCos

    // ---- query-independent precompute (once per partition) ----
    // cos full/reduced scores divide by the row norms every time; the
    // cos_l2 stat sqrt(max(0, 2-2*cos(vec,rvec))) is entirely query-free
    private val vnorm: Array[Double] = if (isCos) new Array[Double](n) else null
    private val rnorm: Array[Double] = if (isCos) new Array[Double](n) else null
    private val bb: Array[Double] =
      if (p.mode == "cos_l2") new Array[Double](n) else null
    locally {
      if (isCos) {
        var i = 0
        while (i < n) {
          val r = rows(i)
          vnorm(i) = Scores.fnorm(Scores.dot(r.vec, r.vec))
          rnorm(i) = Scores.fnorm(Scores.dot(r.rvec, r.rvec))
          if (bb != null)
            bb(i) = Scores.cosL2Stat(r.vec, r.rvec, vnorm(i), rnorm(i))
          i += 1
        }
      }
    }

    // ---- reusable per-query buffers (no per-query allocation) ----
    private val sHat = new Array[Double](n)
    private val order = new Array[Int](n)
    // local heap of (score, id); worst tracked linearly (k is small).
    // Total order is (score, id asc) — the same tie-break as
    // TopK.window/aggregate, so heavy score ties at the K boundary
    // resolve identically in every execution path.
    private val hs = new Array[Double](k)
    private val hi = new Array[Long](k)

    // a beats b under (score, id asc)? Double.compare gives a total
    // order (NaN greatest, -0.0 < 0.0) identical to the boxed-tuple
    // sortBy the old implementation used, so degenerate inputs
    // (zero-norm vectors -> NaN scores) order the same on every path.
    private def beats(sa: Double, ia: Long, sb: Double, ib: Long): Boolean = {
      val c = java.lang.Double.compare(sa, sb)
      if (c != 0) { if (isCos) c > 0 else c < 0 } else ia < ib
    }

    private def worstIdx: Int = {
      var w = 0; var j = 1
      while (j < k) {
        if (beats(hs(w), hi(w), hs(j), hi(j))) w = j
        j += 1
      }
      w
    }

    /** order(a) before order(b) in the best-first walk: desc sHat for
      * cos, asc for l2, ties by row id asc. */
    private def walksBefore(a: Int, b: Int): Boolean = {
      val c = java.lang.Double.compare(sHat(a), sHat(b))
      if (c != 0) { if (isCos) c > 0 else c < 0 }
      else rows(a).id < rows(b).id
    }

    /** In-place quicksort of `order` under [[walksBefore]] — primitive
      * indices, no boxing/tuple allocation (the former
      * `Array.range(0,n).sortBy` allocated a boxed tuple per row per
      * query). Median-of-three pivots, insertion sort below 24. */
    private def sortOrder(): Unit = {
      def swap(i: Int, j: Int): Unit = {
        val t = order(i); order(i) = order(j); order(j) = t
      }
      def insertion(lo: Int, hi0: Int): Unit = {
        var i = lo + 1
        while (i <= hi0) {
          val v = order(i); var j = i - 1
          while (j >= lo && walksBefore(v, order(j))) {
            order(j + 1) = order(j); j -= 1
          }
          order(j + 1) = v; i += 1
        }
      }
      def qsort(lo0: Int, hi0: Int): Unit = {
        var lo = lo0; var hi = hi0
        while (hi - lo > 24) {
          val mid = lo + (hi - lo) / 2
          if (walksBefore(order(mid), order(lo))) swap(lo, mid)
          if (walksBefore(order(hi), order(lo))) swap(lo, hi)
          if (walksBefore(order(hi), order(mid))) swap(mid, hi)
          val pivot = order(mid)
          var i = lo; var j = hi
          while (i <= j) {
            while (walksBefore(order(i), pivot)) i += 1
            while (walksBefore(pivot, order(j))) j -= 1
            if (i <= j) { swap(i, j); i += 1; j -= 1 }
          }
          // recurse into the smaller half, loop on the larger
          if (j - lo < hi - i) { qsort(lo, j); lo = i }
          else { qsort(i, hi); hi = j }
        }
        insertion(lo, hi)
      }
      if (n > 1) qsort(0, n - 1)
    }

    private def fullScore(i0: Int, qv: Array[Float], nq: Double): Double =
      Scores.full(isCos, qv, rows(i0).vec,
        if (isCos) vnorm(i0) else 0.0, nq)

    private def cushion(i0: Int, qv: Array[Float], nq: Double): Double = {
      val r = rows(i0)
      Scores.cushion(p, hoeffC, qv, r.rvec, r.delta,
        if (bb != null) bb(i0) else 0.0, sHat(i0), nq)
    }

    /** The running-tau walk for one query over this partition's block.
      * Results are materialized (the shared heap buffers are reused by
      * the next call). */
    def topKFor(qid: Long, qv: Array[Float]): Iterator[Cand] =
      walkFor(qid, qv, null)

    /** [[topKFor]]'s walk, additionally recording every FETCHED candidate
      * (full-precision access) into `fetchSink` when non-null — the
      * kernel-path bandwidth accounting surface. On a single-partition
      * input the fetch set is provably a subset of the relational
      * static-tau0 fetch set ([[Refine.fetched]]): the first K walked
      * candidates ARE the relational seeds (same reduced order, same
      * tie-break), so after the seed fill tau == tau0 exactly and only
      * tightens; any candidate the static filter rejects, the running
      * filter rejects too. */
    def fetchedFor(qid: Long, qv: Array[Float]): Iterator[Cand] = {
      val sink = new scala.collection.mutable.ArrayBuffer[Cand]()
      walkFor(qid, qv, sink)
      sink.iterator
    }

    private def walkFor(qid: Long, qv: Array[Float],
                        fetchSink: scala.collection.mutable.ArrayBuffer[Cand])
        : Iterator[Cand] = {
      if (n == 0) return Iterator.empty
      val nq = Scores.fnorm(Scores.dot(qv, qv))

      // reduced pass: s_hat over the cheap columns only
      var i = 0
      while (i < n) {
        sHat(i) = Scores.sHat(isCos, qv, rows(i).rvec,
          if (isCos) rnorm(i) else 0.0, nq)
        order(i) = i
        i += 1
      }
      sortOrder()

      // reset the heap
      java.util.Arrays.fill(hs, if (isCos) Double.NegativeInfinity else Double.PositiveInfinity)
      java.util.Arrays.fill(hi, Long.MaxValue)
      var filled = 0
      var tau = if (isCos) Double.NegativeInfinity else Double.PositiveInfinity

      var oi = 0
      while (oi < n) {
        val i0 = order(oi)
        val r = rows(i0)
        val reject =
          if (filled < k) false
          else if (isCos) sHat(i0) + cushion(i0, qv, nq) < tau
          else cushion(i0, qv, nq) > tau
        if (!reject) {
          val s = fullScore(i0, qv, nq)
          if (fetchSink != null) fetchSink += Cand(qid, r.id, s)
          val w = worstIdx
          if (filled < k || beats(s, r.id, hs(w), hi(w))) {
            hs(w) = s; hi(w) = r.id
            if (filled < k) filled += 1
            tau = hs(worstIdx)
          }
        }
        oi += 1
      }
      // only the local top-K leaves the partition: anything evicted
      // here is beaten by >= K rows and cannot be in the global top-K
      // (inserts land in arbitrary empty slots, so filter by id)
      val out = new scala.collection.mutable.ArrayBuffer[Cand](k)
      var j = 0
      while (j < k) {
        if (hi(j) != Long.MaxValue) out += Cand(qid, hi(j), hs(j))
        j += 1
      }
      out.iterator
    }
  }

  // ---- static-tau0 block passes ([[Refine.fetchedSplit]]) --------------

  /** Spark's order on scores, best first: doubles compare as
    * `SQLOrderingUtil.compareDoubles` does (NaN greatest, -0.0 == 0.0),
    * descending for cos and ascending for l2, ties to the smaller id —
    * the order of a window's `ORDER BY s DESC|ASC, id ASC`. */
  def ranksBefore(isCos: Boolean, sa: Double, ia: Long,
                  sb: Double, ib: Long): Boolean = {
    val c = SQLOrderingUtil.compareDoubles(sa, sb)
    if (c != 0) { if (isCos) c > 0 else c < 0 } else ia < ib
  }

  /** tau0 of one query: the worst rescored seed, as Spark's `min` (cos) or
    * `max` (l2) aggregate picks it — NaN compares greatest. */
  def tau0(isCos: Boolean, sFull: Seq[Double]): Double =
    sFull.reduce { (a, b) =>
      val c = SQLOrderingUtil.compareDoubles(b, a)
      if (if (isCos) c < 0 else c > 0) b else a
    }

  /** One query row of the block passes: `qn` is fnorm(||q||^2), `hc` the
    * cos_hoeff constant its cushion reads (the param's, or the query
    * relation's per-qid `hc` column). */
  final case class PassQuery(qid: Long, qvec: Array[Float], qn: Double,
                             hc: Double)

  /** Collect the query side of the block passes under the same cap as
    * [[collectQueries]]. */
  def passQueries(queries: DataFrame, p: Refine.Params,
                  perQidHc: Boolean): Array[PassQuery] = {
    val cols = Seq(col("qid").cast("long"), col("qvec")) ++
      (if (perQidHc) Seq(col("hc")) else Nil)
    val rows = queries.select(cols: _*).limit(MaxQueryRows + 1).collect()
    requireCapped(rows.length)
    rows.map { r =>
      val qv = r.getSeq[Float](1).toArray
      PassQuery(r.getLong(0), qv, Scores.fnorm(Scores.dot(qv, qv)),
        if (perQidHc) r.getDouble(2) else p.hoeffConst)
    }
  }

  /** One decoded row of the cheap relation. `delta` is null when the pass
    * reads no Δ; `rn` is fnorm of the stored nr2 (cos only) and `bb` the
    * stored cos_l2 stat (cos_l2 only), 0.0 where unread. */
  final class CheapRow(val id: Long, val rvec: Array[Float],
                       val delta: Array[Float], val rn: Double, val bb: Double)

  /** A block pass over one partition: the physical operator
    * (`KernelPlan.RefinePassExec`) decodes the child's `columns` and emits
    * `(qid, id[, score])` rows. */
  sealed trait BlockPass extends Serializable {
    def name: String
    def columns: Seq[String]
    /** Whether emitted rows carry the score column. */
    def emitsScore: Boolean
    /** The pass's arguments as EXPLAIN shows them. */
    def describe: String
  }

  /** A pass of [[Refine.fetchedSplit]]: one param set, one query matrix. */
  sealed trait RefinePass extends BlockPass {
    def p: Refine.Params
    def queries: Array[PassQuery]
    def describe: String = s"${p.mode} k=${p.k} queries=${queries.length}"
  }

  /** A block pass over the cheap relation: each row is read once and
    * scored against the whole query matrix. */
  sealed trait CheapPass extends RefinePass {
    def run(rows: Iterator[CheapRow]): Iterator[Cand]
  }

  /** The cheap columns a block pass over the reduced copy reads. */
  private def cheapColumns(p: Refine.Params, cushion: Boolean): Seq[String] =
    Seq("id", "rvec") ++ (if (p.isCos) Seq("nr2") else Nil) ++
      (if (!cushion) Nil
       else if (p.mode == "cos_l2") Seq("bb")
       else Seq("delta"))

  /** The `cap` best (score, id) pairs under [[ranksBefore]]: a binary heap
    * with the worst kept pair at the root, grown on demand up to `cap`. */
  private final class BestK(cap: Int, isCos: Boolean) {
    private var s = new Array[Double](math.min(cap, 64))
    private var id = new Array[Long](s.length)
    private var size = 0
    private def worse(a: Int, b: Int): Boolean =
      ranksBefore(isCos, s(b), id(b), s(a), id(a))
    private def swap(a: Int, b: Int): Unit = {
      val ts = s(a); s(a) = s(b); s(b) = ts
      val ti = id(a); id(a) = id(b); id(b) = ti
    }
    def offer(sc: Double, i: Long): Unit =
      if (size < cap) {
        if (size == s.length) {
          val n = math.min(cap.toLong, 2L * size).toInt
          s = java.util.Arrays.copyOf(s, n); id = java.util.Arrays.copyOf(id, n)
        }
        s(size) = sc; id(size) = i
        var c = size; size += 1
        while (c > 0 && worse(c, (c - 1) / 2)) {
          swap(c, (c - 1) / 2); c = (c - 1) / 2
        }
      } else if (size > 0 && ranksBefore(isCos, sc, i, s(0), id(0))) {
        s(0) = sc; id(0) = i
        var c = 0; var done = false
        while (!done) {
          val l = 2 * c + 1; var w = c
          if (l < size && worse(l, w)) w = l
          if (l + 1 < size && worse(l + 1, w)) w = l + 1
          if (w == c) done = true else { swap(c, w); c = w }
        }
      }
    def emit(qid: Long): Iterator[Cand] =
      Iterator.range(0, size).map(j => Cand(qid, id(j), s(j)))
  }

  /** Seed pass: per query, the partition's k best rows by reduced score,
    * as `(qid, id, s_hat)`. The global seeds are the k best of these per
    * qid ([[mergeSeeds]]) — the rows a `row_number() <= k` window over
    * every (row, query) pair keeps. */
  final case class SeedPass(p: Refine.Params, queries: Array[PassQuery])
      extends CheapPass {
    def name: String = "RefineSeedPass"
    def columns: Seq[String] = cheapColumns(p, cushion = false)
    def emitsScore: Boolean = true

    def run(rows: Iterator[CheapRow]): Iterator[Cand] = {
      val heaps = Array.fill(queries.length)(new BestK(p.k, p.isCos))
      rows.foreach { r =>
        var j = 0
        while (j < queries.length) {
          val q = queries(j)
          heaps(j).offer(Scores.sHat(p.isCos, q.qvec, r.rvec, r.rn, q.qn), r.id)
          j += 1
        }
      }
      queries.indices.iterator.flatMap(j => heaps(j).emit(queries(j).qid))
    }
  }

  /** The global seeds from a seed pass's per-partition candidates: per
    * qid the k best under [[ranksBefore]], as (qid, id, rn) with rn 1..k. */
  def mergeSeeds(cands: Seq[Cand], k: Int,
                 isCos: Boolean): Seq[(Long, Long, Int)] =
    cands.groupBy(_.qid).toSeq.flatMap { case (qid, cs) =>
      cs.sortWith((a, b) => ranksBefore(isCos, a.score, a.id, b.score, b.id))
        .take(k).zipWithIndex.map { case (c, i) => (qid, c.id, i + 1) }
    }

  /** Survivor pass: `(qid, id)` of every non-seed row whose cushioned
    * reduced score can still reach its query's tau0 — cos:
    * s_hat + cushion >= tau0; l2: cushion (a lower bound on d^2) <= tau0 —
    * compared as Spark compares doubles. `queries` holds only the queries
    * with seeds; `tau0` and the sorted `seeds` ids align with it. */
  final case class SurvivorPass(p: Refine.Params, queries: Array[PassQuery],
                                tau0: Array[Double], seeds: Array[Array[Long]])
      extends CheapPass {
    def name: String = "RefineSurvivorPass"
    def columns: Seq[String] = cheapColumns(p, cushion = true)
    def emitsScore: Boolean = false
    // only cos and l2_hoeff read s_hat in the survival test
    private def needsSHat = p.isCos || p.mode == "l2_hoeff"

    private def survives(r: CheapRow, j: Int): Boolean =
      java.util.Arrays.binarySearch(seeds(j), r.id) < 0 && {
        val q = queries(j)
        val sh =
          if (needsSHat) Scores.sHat(p.isCos, q.qvec, r.rvec, r.rn, q.qn)
          else 0.0
        val cush = Scores.cushion(p, q.hc, q.qvec, r.rvec, r.delta, r.bb, sh, q.qn)
        if (p.isCos) SQLOrderingUtil.compareDoubles(sh + cush, tau0(j)) >= 0
        else SQLOrderingUtil.compareDoubles(cush, tau0(j)) <= 0
      }

    def run(rows: Iterator[CheapRow]): Iterator[Cand] =
      rows.flatMap(r => queries.indices.iterator
        .filter(j => survives(r, j))
        .map(j => Cand(queries(j).qid, r.id, 0.0)))
  }

  /** Fetch pass: the full-precision score of each fetched `(qid, id, vec)`
    * row against its query, as `(qid, id, s_full)`. */
  final case class RescorePass(p: Refine.Params, queries: Array[PassQuery])
      extends RefinePass {
    def name: String = "RefineRescorePass"
    def columns: Seq[String] = Seq("qid", "id", "vec")
    def emitsScore: Boolean = true
    @transient private lazy val byQid: Map[Long, PassQuery] =
      queries.map(q => q.qid -> q).toMap
    def score(qid: Long, vec: Array[Float]): Double = {
      val q = byQid(qid)
      Scores.full(p.isCos, q.qvec, vec,
        if (p.isCos) Scores.fnorm(Scores.dot(vec, vec)) else 0.0, q.qn)
    }
  }

  // ---- the tiered serve's passes (`Search`'s tiered fetch) --------------

  /** One request of the tiered serve's passes. It admits a row whose lang
    * is in `langs` and, on the indexed layout, whose cell is in the sorted
    * `cells` (null on the partitioned layout: every cell). It scores the
    * row with the codes of tier `tier`, an index into the pass's
    * `scales`; `cush` is its [[Scores.halfStepCushion]]. */
  final case class TierQuery(q: PassQuery, langs: Set[String],
                             cells: Array[Int], tier: Int, cush: Double) {
    def admitsCell(c: Int): Boolean =
      cells == null || java.util.Arrays.binarySearch(cells, c) >= 0
  }

  /** One decoded row of the tiered layout: per used tier t, `rvecs(t)` the
    * dequantized codes and `rns(t)` fnorm of their squared norm. `cell`
    * is -1 on the partitioned layout. */
  final class TierRow(val id: Long, val lang: String, val cell: Int,
                      val rvecs: Array[Array[Float]], val rns: Array[Double])

  /** A block pass over the tiered layout: `(id, lang[, cell])` and the
    * code columns of the used tiers `scales` — never `vec`, never an
    * unused tier. Each row is scored only against the queries that admit
    * it, each with its own tier's codes. */
  sealed trait TierPass extends BlockPass {
    def scales: Seq[Int]
    /** Whether the layout is cell-partitioned (rows carry `cell`). */
    def indexed: Boolean
    def queries: Array[TierQuery]
    def run(rows: Iterator[TierRow]): Iterator[Cand]
    def columns: Seq[String] = Seq("id", "lang") ++
      (if (indexed) Seq("cell") else Nil) ++ scales.map(s => s"code_$s")
    def describe: String =
      s"tiers=${scales.mkString(",")} queries=${queries.length}"

    @transient private lazy val byLang: Map[String, Array[Int]] =
      queries.indices.flatMap(j => queries(j).langs.toSeq.map(_ -> j))
        .groupBy(_._1).map { case (l, js) => l -> js.map(_._2).toArray }

    /** The indices of the queries admitting `r`. */
    protected def admitting(r: TierRow): Iterator[Int] =
      byLang.get(r.lang) match {
        case Some(js) => js.iterator.filter(j => queries(j).admitsCell(r.cell))
        case None => Iterator.empty
      }

    /** Query j's reduced score of `r`, over its own tier's codes. */
    protected def sHat(r: TierRow, j: Int): Double = {
      val q = queries(j)
      Scores.sHat(true, q.q.qvec, r.rvecs(q.tier), r.rns(q.tier), q.q.qn)
    }
  }

  /** Seed pass of the tiered serve: per query, the partition's `poolN`
    * best admitted rows by reduced score, as `(qid, id, s_hat)`;
    * [[mergeSeeds]] picks the global seeds. */
  final case class TierSeedPass(scales: Seq[Int], indexed: Boolean,
                                queries: Array[TierQuery], poolN: Int)
      extends TierPass {
    def name: String = "TieredSeedPass"
    def emitsScore: Boolean = true
    override def describe: String = s"${super.describe} pool=$poolN"

    def run(rows: Iterator[TierRow]): Iterator[Cand] = {
      val heaps = Array.fill(queries.length)(new BestK(poolN, isCos = true))
      rows.foreach(r => admitting(r).foreach(j => heaps(j).offer(sHat(r, j), r.id)))
      queries.indices.iterator.flatMap(j => heaps(j).emit(queries(j).q.qid))
    }
  }

  /** Survivor pass of the tiered serve: `(qid, id)` of every admitted
    * non-seed row with s_hat + cush >= tau0, compared as Spark compares
    * doubles. `queries` holds only the queries with seeds; `tau0` and the
    * sorted `seeds` ids align with it. */
  final case class TierSurvivorPass(scales: Seq[Int], indexed: Boolean,
                                    queries: Array[TierQuery],
                                    tau0: Array[Double],
                                    seeds: Array[Array[Long]])
      extends TierPass {
    def name: String = "TieredSurvivorPass"
    def emitsScore: Boolean = false

    def run(rows: Iterator[TierRow]): Iterator[Cand] =
      rows.flatMap(r => admitting(r)
        .filter(j => java.util.Arrays.binarySearch(seeds(j), r.id) < 0 &&
          SQLOrderingUtil.compareDoubles(sHat(r, j) + queries(j).cush,
            tau0(j)) >= 0)
        .map(j => Cand(queries(j).q.qid, r.id, 0.0)))
  }

  /** Candidate rows surviving the sequential kernel, ready for global top-K merge. */
  def fetchedCandidates(vectors: DataFrame, queries: DataFrame,
                        p: Refine.Params): Dataset[Cand] =
    runKernel(vectors, queries, p, emitAllFetched = false)

  /**
   * Every candidate the kernel FETCHES at full precision, as
   * (qid, id, score) rows — the kernel-path bandwidth-accounting surface
   * (the reference counts exactly these accesses, ANNCode.py:316-318).
   * On a single-partition input this is provably a subset of
   * [[Refine.fetched]]'s static-tau0 fetch set (see
   * [[PartitionKernel.fetchedFor]]); under partitioning each partition
   * additionally pays its own K seed fills, so compare like for like.
   */
  def fetchedAll(vectors: DataFrame, queries: DataFrame,
                 p: Refine.Params): Dataset[Cand] =
    runKernel(vectors, queries, p, emitAllFetched = true)

  /**
   * [[fetchedAll]] for SEVERAL param sets in ONE pass over the data,
   * tagged with a `mode` discriminator column: the partition block is
   * decoded once and every mode's walk runs against the shared row
   * array. The per-mode walks themselves are inherent (reduced order
   * differs across cos/l2 families), but the row decode, the Spark job,
   * and the scan are paid once instead of once per mode — on the
   * single-partition invariant query that halves the sequential wall.
   */
  def fetchedAllMulti(vectors: DataFrame, queries: DataFrame,
                      ps: Seq[Refine.Params]): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val qs: Array[QRow] = collectQueries(queries)
    val bq = spark.sparkContext.broadcast(qs)
    val pps = ps.toArray
    vectors.select(col("id"), col("vec"), col("rvec"), col("delta"))
      .as[VecRow]
      .mapPartitions { it =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else pps.iterator.flatMap { p =>
          val kern = new PartitionKernel(rows, p)
          bq.value.iterator.flatMap(q =>
            kern.fetchedFor(q.qid, q.qvec).map(c =>
              (p.mode, c.qid, c.id, c.score)))
        }
      }
      .toDF("mode", "qid", "id", "score")
  }

  private def runKernel(vectors: DataFrame, queries: DataFrame,
                        p: Refine.Params, emitAllFetched: Boolean): Dataset[Cand] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val qs: Array[QRow] = collectQueries(queries)
    val bq = spark.sparkContext.broadcast(qs)
    val pp = p

    vectors.select(col("id"), col("vec"), col("rvec"), col("delta"))
      .as[VecRow]
      .mapPartitions { it =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          val kern = new PartitionKernel(rows, pp)
          bq.value.iterator.flatMap(q =>
            if (emitAllFetched) kern.fetchedFor(q.qid, q.qvec)
            else kern.topKFor(q.qid, q.qvec))
        }
      }
  }

  /** Final refined top-K via partial kernels + aggregator merge:
    * (qid, rank, id, score). */
  def topk(vectors: DataFrame, queries: DataFrame, p: Refine.Params): DataFrame =
    TopK.aggregate(fetchedCandidates(vectors, queries, p).toDF(),
      p.k, ascending = !p.isCos)
}
