package graft.operators

import org.apache.spark.sql.{DataFrame, Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VecExprs

/**
 * IVF-PQ: product quantization as the cheap-rank rung under the same
 * two-phase discipline as [[Ivf.topkSq8]] — cell-pruned candidates, an
 * ADC (asymmetric distance computation) ranking pass over 4-bit PQ
 * codes, a rerank-deep cut, and an exact full-precision rescore of the
 * survivors.
 *
 * The vector is split into `m` subspaces of `d/m` dims; each subspace
 * is encoded as the argmin code over a fixed per-subspace codebook
 * (deterministic dyadic centroids — k/2048 in [-0.25, 0.25), matching
 * the corpus component spread — derived from the same portable hash
 * family as [[Ivf.centroidComponent]], so the DuckDB oracle reproduces
 * the assignment bit-for-bit). At rest the code word is m * log2(codes)
 * = 32 bits/vector vs 256 float bytes — a 64x cheap-pass bandwidth cut;
 * here codes stay columns so the oracle twin is a pure expression
 * mirror, exactly like the SQ8 rung.
 *
 * The ADC trick is expressed relationally: the QUERY side precomputes
 * the m x codes lookup table t_{m,c} = dot(q_sub_m, cb(m,c)) — one tiny
 * broadcast row per query — and the candidate side only SELECTS from
 * that table by its stored code (a CASE chain over integer codes, fully
 * codegen-friendly); the quantized score is the left-fold sum over
 * subspaces divided by the reconstruction and query norms. No float
 * work per candidate beyond m table picks and one division — the
 * classic PQ scan, Catalyst-style.
 *
 * Reference context: the paper's precision ladder (fp16/int8/bit-plane,
 * ANNCode.py:288-318) stops at scalar codes; PQ is the standard next
 * rung every production IVF deploys (Jégou et al., TPAMI 2011).
 */
object Pq {

  /** Deterministic dyadic codebook component for (subspace m, code c,
    * within-subspace dim j), in [-0.25, 0.25): k/2048 with
    * k in [-512, 511] — float-exact (<= 10 significand bits). */
  def component(m: Int, c: Int, j: Int, sub: Int): Double = {
    val h = (c.toLong * Dedup.AMul + (m.toLong * sub + j + 1) * 48271L +
      1299709L) % 2147483647L
    ((h % 1024L) - 512L).toDouble / 2048.0
  }

  /** Codebook centroid for (m, c) as floats (exact). */
  def centroid(m: Int, c: Int, sub: Int): Array[Float] =
    Array.tabulate(sub)(j => component(m, c, j, sub).toFloat)

  /** ||cb(m,c)||^2 — exact dyadic double (sum of k^2/2048^2 terms). */
  def centroidN2(m: Int, c: Int, sub: Int): Double = {
    var s = 0.0
    var j = 0
    while (j < sub) { val v = component(m, c, j, sub); s += v * v; j += 1 }
    s
  }

  /** The m-th subvector of an ARRAY<FLOAT> column (1-based slice). */
  private def subvec(v: Column, m: Int, sub: Int): Column =
    slice(v, m * sub + 1, sub)

  /** Subspace-distance columns d_{m}_{c} (named so each l2Sq fold is
    * evaluated once; the argmin then references the columns). */
  private def distCols(v: Column, mSub: Int, codes: Int, sub: Int): Seq[Column] =
    for (m <- 0 until mSub; c <- 0 until codes)
      yield VecExprs.l2Sq(subvec(v, m, sub),
        typedlit(centroid(m, c, sub).toSeq)).as(s"d_${m}_$c")

  /** code_m: per-subspace argmin over the d_{m}_* columns, ties to the
    * smaller code id (LEAST + first-match CASE, mirroring Ivf.assign). */
  private def argminCode(m: Int, codes: Int): Column = {
    val least0 = least((0 until codes).map(c => col(s"d_${m}_$c")): _*)
    (0 until codes).foldRight(lit(-1)) { (c, rest) =>
      when(col(s"d_${m}_$c") === least0, lit(c)).otherwise(rest)
    }.as(s"code_$m")
  }

  /** ADC lookup-table columns t_{m}_{c} = dot(q_sub_m, cb(m,c)). */
  private def adcTable(qv: Column, mSub: Int, codes: Int, sub: Int): Seq[Column] =
    for (m <- 0 until mSub; c <- 0 until codes)
      yield VecExprs.dotD(subvec(qv, m, sub),
        typedlit(centroid(m, c, sub).toSeq)).as(s"t_${m}_$c")

  /** CASE chain selecting t_{m}_{code_m} from the broadcast ADC table. */
  private def pick(m: Int, codes: Int): Column =
    (0 until codes).foldRight(lit(0.0)) { (c, rest) =>
      when(col(s"code_$m") === c, col(s"t_${m}_$c")).otherwise(rest)
    }

  /** CASE chain for the reconstruction norm contribution of subspace m. */
  private def pickN2(m: Int, codes: Int, sub: Int): Column =
    (0 until codes).foldRight(lit(0.0)) { (c, rest) =>
      when(col(s"code_$m") === c, lit(centroidN2(m, c, sub))).otherwise(rest)
    }

  /** ||cellCentroid(g)||^2 — exact dyadic double (sum of (k/512)^2
    * terms: 2^-18 granularity, bounded magnitude -> exact). */
  def cellN2(g: Int, d: Int): Double = {
    var s = 0.0
    var j = 0
    while (j < d) { val v = Ivf.centroidComponent(g, j); s += v * v; j += 1 }
    s
  }

  /** dot(cellCentroid(g) subspace m, cb(m,c)) — exact dyadic double
    * ((k/512)*(k'/2048) products on a 2^-20 grid, bounded sums). */
  def crossDot(g: Int, m: Int, c: Int, sub: Int): Double = {
    var s = 0.0
    var j = 0
    while (j < sub) {
      s += Ivf.centroidComponent(g, m * sub + j) * component(m, c, j, sub)
      j += 1
    }
    s
  }

  /** Combined reconstruction-norm term for (cell g, subspace m, code c):
    * 2*dot(c_g_sub, cb) + ||cb||^2 — every addend is an exact dyadic on
    * the 2^-20 grid, so the combination is one exact literal. */
  def reconN2Term(g: Int, m: Int, c: Int, sub: Int): Double =
    2.0 * crossDot(g, m, c, sub) + centroidN2(m, c, sub)

  /**
   * IVF-PQ top-k: (qid, rank, id, score) with full-precision scores;
   * approximation comes from nprobe pruning and the rerank cut only.
   */
  def topk(emb: DataFrame, nq: Int, k: Int, nCells: Int, d: Int,
           nprobe: Int, mSub: Int, codes: Int, rerank: Int): DataFrame = {
    require(d % mSub == 0, s"d=$d not divisible by m=$mSub")
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    val sub = d / mSub
    val V = graft.functions.VectorOps
    val enc = Ivf.assign(emb, nCells, d)
      .select(col("id") +: col("cell") +:
        distCols(col("embedding"), mSub, codes, sub): _*)
      .select(col("id") +: col("cell") +:
        (0 until mSub).map(argminCode(_, codes)): _*)
    val q = Ann.queriesOf(emb, nq).select(col("qid"), col("qvec"), col("qn2"))
    val probes = broadcast(Ivf.probeCells(q, nCells, d, nprobe)
      .select(col("qid"), col("cell"))
      .join(q, Seq("qid"))
      .select(col("qid") +: col("cell") +: col("qn2") +:
        adcTable(col("qvec"), mSub, codes, sub): _*))
    // cheap pass: m table picks + one division per candidate — the
    // float vector is never touched
    val sHatNum = (0 until mSub).map(pick(_, codes)).reduceLeft(_ + _)
    val n2hat = (0 until mSub).map(pickN2(_, codes, sub)).reduceLeft(_ + _)
    val cheap = enc.join(probes, Seq("cell"))
      .withColumn("score", sHatNum / (V.fnorm(n2hat) * V.fnorm(col("qn2"))))
    val cand = TopK.window(cheap, rerank).select(col("qid"), col("id"))
    // exact rescore: only rerank*NQ survivors fetch the full vector
    val rescored = emb
      .select(col("vec_id").as("id"), col("embedding"),
        V.norm2Sq(col("embedding")).as("n2"))
      .join(broadcast(cand), Seq("id"))
      .join(broadcast(q.withColumnRenamed("qvec", "qvec_")
        .withColumnRenamed("qn2", "qn2_")), Seq("qid"))
      .withColumn("score", V.dot(col("embedding"), col("qvec_")) /
        (V.fnorm(col("n2")) * V.fnorm(col("qn2_"))))
    TopK.window(rescored, k)
  }

  // --- OPQ-style pre-transform ------------------------------------------

  /** Deterministic SIGNED PERMUTATION (perm, sign): the exactly-
    * orthogonal pre-transform — OPQ's rotation replaced by a transform
    * both engines reproduce bit-for-bit (a true rotation's cos/sin are
    * not exactly representable). Derived from a fixed mixing hash;
    * ties broken by dimension index. */
  def permutation(d: Int): (Array[Int], Array[Int]) = {
    def h(j: Int): Long = (j.toLong * 2654435761L + 1013904223L) % 1000003L
    val perm = (0 until d).sortBy(j => (h(j), j)).toArray
    val sign = Array.tabulate(d)(j => if ((h(j) & 1L) == 0L) 1 else -1)
    (perm, sign)
  }

  /** The transformed vector t_j = sign_j * v[perm_j] as a FLOAT array
    * column (negation is float-exact). */
  private def permuteVec(v: Column, perm: Array[Int],
                         sign: Array[Int]): Column =
    array(perm.indices.map { j =>
      val e = element_at(v, perm(j) + 1)
      if (sign(j) < 0) -e else e
    }: _*)

  /**
   * TRAINED OPQ-lite permutation — the data-ADAPTIVE orthogonal
   * pre-transform the fixed hash permutation stands in for: rank
   * dimensions by corpus variance, then deal them to subspaces in a
   * SNAKE DRAFT (round r gives each subspace one dim, alternating
   * direction), equalizing per-subspace variance — the deterministic
   * rank-arithmetic form of OPQ's eigenvalue allocation
   * (Norouzi & Fleet, CVPR'13 §III; FAISS OPQMatrix's non-rotational
   * stage). Exactly orthogonal (a permutation matrix), and exactly
   * oracle-mirrorable: the variance key per dim is an id-ordered
   * [[TrainFold]] fold, so both engines derive the identical doubles,
   * the identical ranking (ties to the smaller dim), and hence the
   * identical permutation — no rotation's cos/sin inexactness.
   *
   * Returns perm where t_pos = v[perm(pos)]; subspace s owns positions
   * [s*sub, (s+1)*sub). The variance KEY is the scaled sum of squares
   * `s2 - s*s/n` (monotone in variance at equal n — every dim sees all
   * n rows), so no mean subtraction enters the float contract.
   */
  def trainedPermutation(emb: DataFrame, d: Int, mSub: Int): Array[Int] = {
    require(d % mSub == 0, s"d=$d not divisible by m=$mSub")
    val sub = d / mSub
    val stats = TrainFold.orderedSums(
      emb.select(col("vec_id").as("id"), posexplode(col("embedding")))
        .select((col("pos") + 1).cast("int").as("j"), col("id"),
          col("col").cast("double").as("x"))
        .withColumn("x2", col("x") * col("x")),
      Seq("j"), "id", Seq("x" -> "s", "x2" -> "s2")).collect()
    require(stats.length == d, s"variance stats for ${stats.length} of $d dims")
    val keys = stats.map { r =>
      val n = r.getAs[Long]("n").toDouble
      val s = r.getAs[Double]("s")
      val s2 = r.getAs[Double]("s2")
      (r.getAs[Int]("j") - 1, s2 - (s * s) / n)
    }
    val ranked = keys.sortWith((a, b) =>
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
    val perm = new Array[Int](d)
    ranked.zipWithIndex.foreach { case ((srcJ, _), r0) =>
      val round = r0 / mSub
      val idx = r0 % mSub
      val s = if (round % 2 == 0) idx else mSub - 1 - idx
      perm(s * sub + round) = srcJ
    }
    perm
  }

  /**
   * IVF-PQ with the OPQ-STYLE PRE-TRANSFORM: coarse cells, PQ codes,
   * and the ADC cheap rank all operate on t = P·v (the signed
   * permutation — exactly orthogonal, so cosine and norms are
   * INVARIANT and the exact rescore runs on the ORIGINAL vectors
   * unchanged). This is the production OPQ pipeline shape (FAISS's
   * OPQ/PCAR pre-transform stage) with a transform the DuckDB oracle
   * mirrors exactly: decorrelating dims across subspaces costs nothing
   * at query time beyond the same m table picks.
   */
  def topkPermuted(emb: DataFrame, nq: Int, k: Int, nCells: Int, d: Int,
                   nprobe: Int, mSub: Int, codes: Int,
                   rerank: Int): DataFrame = {
    val (perm, sign) = permutation(d)
    topkPermutedWith(emb, nq, k, nCells, d, nprobe, mSub, codes, rerank,
      perm, sign)
  }

  /**
   * IVF-PQ under the TRAINED OPQ-lite pre-transform: the
   * variance-balancing snake-draft permutation from
   * [[trainedPermutation]] (all signs +1 — orthogonality comes from
   * the permutation matrix alone) feeding the identical coarse/encode/
   * ADC/rescore pipeline as [[topkPermuted]]. The one "trained" stage
   * of the index ladder that was still data-independent, now
   * data-adaptive: training costs one corpus scan (per-dim ordered
   * variance folds, a d-row collect), and PqSpec asserts the trained
   * allocation's PQ distortion does not exceed the fixed hash
   * permutation's on the fixture.
   */
  def topkOpqTrained(emb: DataFrame, nq: Int, k: Int, nCells: Int, d: Int,
                     nprobe: Int, mSub: Int, codes: Int,
                     rerank: Int, sampleEvery: Int = 1): DataFrame = {
    require(sampleEvery >= 1, s"sampleEvery=$sampleEvery")
    // SAMPLED rotation training (sampleEvery > 1): the per-dim variance
    // folds run over the counter-keyed sample only — the snake-draft
    // allocation is a RANKING of d variance keys, which a bounded sample
    // estimates as well as the corpus — then the whole pipeline encodes
    // and serves everything under the sample-trained permutation.
    val trainSet =
      if (sampleEvery <= 1) emb
      else emb.filter(col("vec_id") % sampleEvery === 0)
    topkPermutedWith(emb, nq, k, nCells, d, nprobe, mSub, codes, rerank,
      trainedPermutation(trainSet, d, mSub), Array.fill(d)(1))
  }

  private def topkPermutedWith(emb: DataFrame, nq: Int, k: Int,
                               nCells: Int, d: Int, nprobe: Int, mSub: Int,
                               codes: Int, rerank: Int, perm: Array[Int],
                               sign: Array[Int]): DataFrame = {
    require(d % mSub == 0, s"d=$d not divisible by m=$mSub")
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    val sub = d / mSub
    val V = graft.functions.VectorOps
    val tEmb = emb.select(col("vec_id"),
      permuteVec(col("embedding"), perm, sign).as("embedding"))
    val enc = Ivf.assign(tEmb, nCells, d)
      .select(col("id") +: col("cell") +:
        distCols(col("embedding"), mSub, codes, sub): _*)
      .select(col("id") +: col("cell") +:
        (0 until mSub).map(argminCode(_, codes)): _*)
    val q = Ann.queriesOf(emb, nq).select(col("qid"), col("qvec"), col("qn2"))
    val tq = q.select(col("qid"),
      permuteVec(col("qvec"), perm, sign).as("qvec"), col("qn2"))
    val probes = broadcast(Ivf.probeCells(tq, nCells, d, nprobe)
      .select(col("qid"), col("cell"))
      .join(tq, Seq("qid"))
      .select(col("qid") +: col("cell") +: col("qn2") +:
        adcTable(col("qvec"), mSub, codes, sub): _*))
    val sHatNum = (0 until mSub).map(pick(_, codes)).reduceLeft(_ + _)
    val n2hat = (0 until mSub).map(pickN2(_, codes, sub)).reduceLeft(_ + _)
    val cheap = enc.join(probes, Seq("cell"))
      .withColumn("score", sHatNum / (V.fnorm(n2hat) * V.fnorm(col("qn2"))))
    val cand = TopK.window(cheap, rerank).select(col("qid"), col("id"))
    // exact rescore on the ORIGINAL vectors (orthogonal transform:
    // scores identical either way, so skip the per-row permute)
    val rescored = emb
      .select(col("vec_id").as("id"), col("embedding"),
        V.norm2Sq(col("embedding")).as("n2"))
      .join(broadcast(cand), Seq("id"))
      .join(broadcast(q.withColumnRenamed("qvec", "qvec_")
        .withColumnRenamed("qn2", "qn2_")), Seq("qid"))
      .withColumn("score", V.dot(col("embedding"), col("qvec_")) /
        (V.fnorm(col("n2")) * V.fnorm(col("qn2_"))))
    TopK.window(rescored, k)
  }

  // --- codes at rest ----------------------------------------------------

  /** Bump when the at-rest code layout or the encoding changes.
    * v2: row metadata (lang, via vec_id = doc_id) stored beside the
    * code word so filtered search pushes its predicate into the same
    * 4-byte cheap scan (the [[Ivf.ensureIndex]] v2 discipline). */
  private val CodesLayoutVersion = 2

  /** The packed code word: code_m occupies bits [4m, 4m+4) of ONE INT —
    * 32 bits/vector at rest vs 256 float bytes, the 64x cheap-pass read
    * cut the rung claims (`ANNCode.py:668-690` is the reference's
    * at-rest §3.3 thesis; PQ extends it to sub-byte codes). */
  private def packedCode(mSub: Int, codes: Int): Column = {
    require(codes <= 16 && mSub * 4 <= 32,
      s"packed code word needs codes<=16 and mSub<=8, got $mSub x $codes")
    (0 until mSub).map(m => shiftleft(col(s"code_$m"), 4 * m))
      .reduceLeft(_.bitwiseOR(_)).cast("int")
  }

  /** code_m columns recovered from the packed word (exact integer ops —
    * the unpacked values are the argmin codes bit-for-bit). */
  private def unpackedCodes(mSub: Int): Seq[Column] =
    (0 until mSub).map(m =>
      shiftrightunsigned(col("code"), 4 * m).bitwiseAND(lit(15)).as(s"code_$m"))

  /** (id, cell, vec, code): the encode projection — coarse assignment,
    * per-subspace argmin, packed word — shared by the batch layout
    * writer and the streaming index-maintenance path (each microbatch
    * runs exactly this over its arriving vectors). */
  def encodeCodes(emb: DataFrame, nCells: Int, d: Int, mSub: Int,
                  codes: Int): DataFrame = {
    require(d % mSub == 0, s"d=$d not divisible by m=$mSub")
    val sub = d / mSub
    Ivf.assign(emb, nCells, d)
      .select(col("id") +: col("cell") +: col("embedding") +:
        distCols(col("embedding"), mSub, codes, sub): _*)
      .select(col("id") +: col("cell") +: col("embedding") +:
        (0 until mSub).map(argminCode(_, codes)): _*)
      .select(col("id"), col("cell"), col("embedding").as("vec"),
        packedCode(mSub, codes).as("code"))
  }

  /**
   * Materialize the PQ codes AT REST: (id, vec, code) written once,
   * `partitionBy("cell")` — the same write-time layout as
   * [[Ivf.ensureIndex]], so probe-cell selection is Parquet partition
   * pruning AND the cheap pass reads only the 4-byte packed-code column
   * chunks (the float vector column is physically untouched until the
   * rescore fetch). Immutable version-named dir, atomic scratch publish —
   * the [[graft.sources.Disaggregated.ensureInt8Fixture]] discipline.
   */
  def ensureCodesFixture(spark: SparkSession, sfDir: String, nCells: Int,
                         d: Int, mSub: Int, codes: Int): String = {
    import java.nio.file.{Files, Paths}
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_pqcodes_v${CodesLayoutVersion}_${safe}_c${nCells}_d${d}" +
        s"_m${mSub}_k${codes}_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "pqcodes-")
      encodeCodes(graft.Tables.embeddings(spark, sfDir), nCells, d, mSub, codes)
        .join(graft.Tables.documents(spark, sfDir)
          .select(col("doc_id").as("id"), col("lang")), Seq("id"), "left")
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").partitionBy("cell")
        .option("compression", "zstd").parquet(tmp.toString)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"pq codes publish failed: $path")
    }
    path.toString
  }

  /**
   * IVF-PQ top-k OFF THE AT-REST CODES — the at-rest twin of [[topk]],
   * returning identical rows. The cheap pass scans only (id, code) from
   * the probed cells' files (probe cells collected bounded and pushed as
   * a static partition filter, codes unpacked with exact integer ops);
   * the rescore fetch scans only (id, vec) for the rerank*NQ survivors.
   * PlanSpec asserts both the partition pruning and that no scan reads
   * the code and vec columns together.
   */
  def topkAtRest(spark: SparkSession, sfDir: String, emb: DataFrame,
                 nq: Int, k: Int, nCells: Int, d: Int, nprobe: Int,
                 mSub: Int, codes: Int, rerank: Int): DataFrame =
    topkOffCodes(spark, ensureCodesFixture(spark, sfDir, nCells, d, mSub,
      codes), emb, nq, k, nCells, d, nprobe, mSub, codes, rerank)

  /**
   * METADATA-FILTERED IVF-PQ off the at-rest codes — the production
   * filtered-ANN query shape at the quantized rung: ONE cheap scan
   * carries the cell partition filter AND the pushed lang predicate AND
   * reads only the 4-byte code word (+ the lang bytes), with the float
   * vector untouched until the rescore fetch of the bounded survivor
   * set. Pre-filter semantics ([[graft.operators.Search.filteredTopK]]):
   * the predicate restricts candidates BEFORE any distance arithmetic,
   * so a query is never starved by post-filtering its top-k. Output
   * (qid, rank, id, score, lang).
   */
  def topkAtRestFiltered(spark: SparkSession, sfDir: String, emb: DataFrame,
                         nq: Int, k: Int, nCells: Int, d: Int, nprobe: Int,
                         mSub: Int, codes: Int, rerank: Int,
                         langs: Seq[String]): DataFrame = {
    require(d % mSub == 0, s"d=$d not divisible by m=$mSub")
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    require(langs.nonEmpty, "filtered search needs a predicate")
    val sub = d / mSub
    val V = graft.functions.VectorOps
    val path = ensureCodesFixture(spark, sfDir, nCells, d, mSub, codes)
    val stored = spark.read.parquet(path) // (id, vec, code, lang) + cell
    val q = Ann.queriesOf(emb, nq).select(col("qid"), col("qvec"), col("qn2"))
    val probeSet = Ivf.probeCells(q, nCells, d, nprobe)
      .select(col("qid"), col("cell"))
    val cells = probeSet.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val probes = broadcast(probeSet
      .join(q, Seq("qid"))
      .select(col("qid") +: col("cell") +: col("qn2") +:
        adcTable(col("qvec"), mSub, codes, sub): _*))
    val sHatNum = (0 until mSub).map(pick(_, codes)).reduceLeft(_ + _)
    val n2hat = (0 until mSub).map(pickN2(_, codes, sub)).reduceLeft(_ + _)
    val cheap = stored.select(col("id"), col("cell"), col("code"), col("lang"))
      .filter(col("cell").isin(cells.toSeq: _*))
      .filter(col("lang").isin(langs: _*))
      .select(Seq(col("id"), col("cell"), col("lang")) ++ unpackedCodes(mSub): _*)
      .join(probes, Seq("cell"))
      .withColumn("s_hat", sHatNum / (V.fnorm(n2hat) * V.fnorm(col("qn2"))))
    // rank in place keeping lang (WindowGroupLimit still applies)
    val wCut = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("s_hat").desc, col("id").asc)
    val cand = cheap.select(col("qid"), col("id"), col("lang"), col("s_hat"))
      .withColumn("rn", row_number().over(wCut))
      .filter(col("rn") <= rerank)
      .select(col("qid"), col("id"), col("lang"))
    val rescored = stored
      .filter(col("cell").isin(cells.toSeq: _*))
      .select(col("id"), col("vec"), V.norm2Sq(col("vec")).as("n2"))
      .join(broadcast(cand), Seq("id"))
      .join(broadcast(q.withColumnRenamed("qvec", "qvec_")
        .withColumnRenamed("qn2", "qn2_")), Seq("qid"))
      .withColumn("score", V.dot(col("vec"), col("qvec_")) /
        (V.fnorm(col("n2")) * V.fnorm(col("qn2_"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("id").asc)
    rescored.select(col("qid"), col("id"), col("lang"), col("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("score"), col("lang"))
  }

  /**
   * Compact a codes layout: microbatch appends (the streaming
   * maintenance path) leave one small file per (trigger, cell) — the
   * classic small-files problem that turns a partition-pruned scan into
   * thousands of opens at scale. Rewrites the layout one file per cell,
   * id-sorted within files (row-group skipping on the rescore fetch),
   * into a fresh directory published atomically; rows are untouched, so
   * every query off the compacted path is hash-equal. Returns the new
   * path (the OPTIMIZE step a production table service runs).
   */
  def compactCodesLayout(spark: SparkSession, srcPath: String): String = {
    import java.nio.file.{Files, Paths}
    val dst = Paths.get(srcPath + "_compacted")
    if (!Files.exists(dst.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(dst.getParent, "pqcompact-")
      spark.read.parquet(srcPath)
        .repartition(col("cell"))
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").partitionBy("cell")
        .option("compression", "zstd").parquet(tmp.toString)
      try Files.move(tmp, dst)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(dst.resolve("_SUCCESS")),
        s"compaction publish failed: $dst")
    }
    dst.toString
  }

  /**
   * DISTRIBUTED INDEX BUILD BY SHARD MERGE — how a 100 TB index is
   * actually built: each ingest shard encodes ITS OWN slice of the
   * corpus with the shared codebooks and writes its own self-contained
   * cell-partitioned codes layout; the shards then merge AT REST as a
   * pure FILE operation — every part file moves under the merged
   * layout's matching cell directory, no row decoded, no compute job
   * (in an object store this is a metadata-only rename per file).
   * Encode is per-vector deterministic, so the merged layout holds
   * exactly the rows of a whole-corpus build and every query off it is
   * hash-equal; [[compactCodesLayout]] is the follow-up OPTIMIZE if
   * many small shards leave many small files.
   *
   * Shard s holds the ids with id % nShards == s. Returns the merged
   * layout path (immutable version-named dir, atomic publish).
   */
  def ensureMergedShardsFixture(spark: SparkSession, sfDir: String,
                                nCells: Int, d: Int, mSub: Int, codes: Int,
                                nShards: Int): String = {
    import java.nio.file.{Files, Paths}
    require(nShards >= 2, s"shard merge needs >= 2 shards, got $nShards")
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val base = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_pqmerged_v${CodesLayoutVersion}_${safe}_c${nCells}_d${d}" +
        s"_m${mSub}_k${codes}_s${nShards}_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(base.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(base.getParent, "pqmerged-")
      val lang = graft.Tables.documents(spark, sfDir)
        .select(col("doc_id").as("id"), col("lang"))
      // 1. per-shard encode + write: each shard is a complete layout of
      //    its slice (at scale these builds run on different days /
      //    clusters; nothing here sees another shard's rows)
      (0 until nShards).foreach { sh =>
        encodeCodes(graft.Tables.embeddings(spark, sfDir)
            .filter(col("vec_id") % nShards === sh), nCells, d, mSub, codes)
          .join(lang, Seq("id"), "left")
          .sortWithinPartitions(col("id"))
          .write.mode("overwrite").partitionBy("cell")
          .option("compression", "zstd")
          .parquet(tmp.resolve(s"shard_$sh").toString)
      }
      // 2. the merge itself: file moves into merged/cell=X/, prefixed by
      //    shard so names can't collide — bytes untouched
      val merged = tmp.resolve("merged")
      Files.createDirectories(merged)
      (0 until nShards).foreach { sh =>
        val shardDir = tmp.resolve(s"shard_$sh").toFile
        shardDir.listFiles.filter(_.getName.startsWith("cell=")).foreach { cd =>
          val dst = merged.resolve(cd.getName)
          Files.createDirectories(dst)
          cd.listFiles.filter(_.getName.endsWith(".parquet")).foreach { p =>
            Files.move(p.toPath, dst.resolve(s"shard${sh}_${p.getName}"))
          }
        }
      }
      Files.createFile(merged.resolve("_SUCCESS"))
      try {
        Files.move(merged, base)
        graft.sources.VecFiles.deleteRecursively(tmp)
      } catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(base.resolve("_SUCCESS")),
        s"shard merge publish failed: $base")
    }
    base.toString
  }

  /** [[topkAtRest]] off an EXPLICIT codes layout path — the query half,
    * shared with the streaming-maintained layout
    * ([[graft.streaming.StreamOps.pqOverStream]]). */
  def topkOffCodes(spark: SparkSession, path: String, emb: DataFrame,
                   nq: Int, k: Int, nCells: Int, d: Int, nprobe: Int,
                   mSub: Int, codes: Int, rerank: Int): DataFrame =
    topkOffStored(spark.read.parquet(path), emb, nq, k, nCells, d, nprobe,
      mSub, codes, rerank)

  /**
   * PER-QUERY RERANK DEPTH — the quantized serving path's own
   * latency/recall knob as a RELATION: `reranks` is a (qid, rerank)
   * table and each query exact-rescores ITS OWN candidate depth off
   * the shared at-rest ADC pass (a recall-critical tenant rescores 60,
   * a latency one 10), all queries in ONE plan. Same shape as the
   * per-qid page-size rung: the cheap estimates are ranked ONCE to the
   * LARGEST depth (the `rn <= max` literal keeps the map-side
   * WindowGroupLimit cut), then each qid's own prefix survives via the
   * broadcast relation — the rescore fetch is per-tenant-sized.
   */
  def topkAtRestMultiRerank(spark: SparkSession, sfDir: String,
                            emb: DataFrame, k: Int, nCells: Int, d: Int,
                            nprobe: Int, mSub: Int, codes: Int,
                            reranks: Seq[(Long, Int)]): DataFrame = {
    require(reranks.nonEmpty, "topkAtRestMultiRerank: empty relation")
    require(reranks.forall(_._2 >= k),
      s"every per-qid rerank must be >= k $k")
    require(d % mSub == 0, s"d=$d not divisible by m=$mSub")
    import spark.implicits._
    val stored = spark.read.parquet(
      ensureCodesFixture(spark, sfDir, nCells, d, mSub, codes))
    val nq = (reranks.map(_._1).max + 1).toInt
    val q = Ann.queriesOf(emb, nq).select(col("qid"), col("qvec"), col("qn2"))
    val sub = d / mSub
    val V = graft.functions.VectorOps
    val probeSet = Ivf.probeCells(q, nCells, d, nprobe)
      .select(col("qid"), col("cell"))
    val cells = probeSet.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val probes = broadcast(probeSet
      .join(q, Seq("qid"))
      .select(col("qid") +: col("cell") +: col("qn2") +:
        adcTable(col("qvec"), mSub, codes, sub): _*))
    val sHatNum = (0 until mSub).map(pick(_, codes)).reduceLeft(_ + _)
    val n2hat = (0 until mSub).map(pickN2(_, codes, sub)).reduceLeft(_ + _)
    val cheap = stored.select(col("id"), col("cell"), col("code"))
      .filter(col("cell").isin(cells.toSeq: _*))
      .select(Seq(col("id"), col("cell")) ++ unpackedCodes(mSub): _*)
      .join(probes, Seq("cell"))
      .withColumn("s_hat", sHatNum / (V.fnorm(n2hat) * V.fnorm(col("qn2"))))
    val rrRel = broadcast(reranks.toDF("qid", "rr"))
    val maxR = reranks.map(_._2).max
    val wCut = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("s_hat").desc, col("id").asc)
    val cand = cheap.select(col("qid"), col("id"), col("s_hat"))
      .withColumn("rn", row_number().over(wCut))
      .filter(col("rn") <= maxR)            // literal: WindowGroupLimit
      .join(rrRel, Seq("qid"))
      .filter(col("rn") <= col("rr"))       // each qid's own prefix
      .select(col("qid"), col("id"))
    val rescored = stored
      .filter(col("cell").isin(cells.toSeq: _*))
      .select(col("id"), col("vec"), V.norm2Sq(col("vec")).as("n2"))
      .join(broadcast(cand), Seq("id"))
      .join(broadcast(q.withColumnRenamed("qvec", "qvec_")
        .withColumnRenamed("qn2", "qn2_")), Seq("qid"))
      .withColumn("score", V.dot(col("vec"), col("qvec_")) /
        (V.fnorm(col("n2")) * V.fnorm(col("qn2_"))))
    TopK.window(rescored, k)
  }

  /** The probe/cheap/rescore pipeline over an explicit stored frame —
    * lets delete-aware callers interpose a tombstone anti-join between
    * the scan and the query (filters still push through it). */
  private[graft] def topkOffStored(stored: DataFrame, emb: DataFrame,
                            nq: Int, k: Int, nCells: Int, d: Int, nprobe: Int,
                            mSub: Int, codes: Int, rerank: Int): DataFrame =
    topkOffStoredQ(stored,
      Ann.queriesOf(emb, nq).select(col("qid"), col("qvec"), col("qn2")),
      k, nCells, d, nprobe, mSub, codes, rerank)

  /** [[topkOffStored]] with an EXPLICIT query frame (qid, qvec, qn2) —
    * per-query top-k is independent across queries, so callers may
    * serve any query subset (a streaming microbatch of arriving
    * queries, a single online request) and the per-query rows are
    * identical to the all-queries batch run. */
  private[graft] def topkOffStoredQ(stored: DataFrame, q: DataFrame,
                                    k: Int, nCells: Int, d: Int, nprobe: Int,
                                    mSub: Int, codes: Int,
                                    rerank: Int): DataFrame = {
    require(d % mSub == 0, s"d=$d not divisible by m=$mSub")
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    val sub = d / mSub
    val V = graft.functions.VectorOps
    val probeSet = Ivf.probeCells(q, nCells, d, nprobe)
      .select(col("qid"), col("cell"))
    // bounded collect (<= nq * nprobe values) -> static partition filter
    val cells = probeSet.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val probes = broadcast(probeSet
      .join(q, Seq("qid"))
      .select(col("qid") +: col("cell") +: col("qn2") +:
        adcTable(col("qvec"), mSub, codes, sub): _*))
    val sHatNum = (0 until mSub).map(pick(_, codes)).reduceLeft(_ + _)
    val n2hat = (0 until mSub).map(pickN2(_, codes, sub)).reduceLeft(_ + _)
    val cheap = stored.select(col("id"), col("cell"), col("code"))
      .filter(col("cell").isin(cells.toSeq: _*))
      .select(Seq(col("id"), col("cell")) ++ unpackedCodes(mSub): _*)
      .join(probes, Seq("cell"))
      .withColumn("score", sHatNum / (V.fnorm(n2hat) * V.fnorm(col("qn2"))))
    val cand = TopK.window(cheap, rerank).select(col("qid"), col("id"))
    // survivors can only live in probed cells, so the rescore fetch gets
    // the SAME static partition filter — at scale both passes touch
    // nprobe/nCells of the files, not just the cheap one
    val rescored = stored
      .filter(col("cell").isin(cells.toSeq: _*))
      .select(col("id"), col("vec"), V.norm2Sq(col("vec")).as("n2"))
      .join(broadcast(cand), Seq("id"))
      .join(broadcast(q.withColumnRenamed("qvec", "qvec_")
        .withColumnRenamed("qn2", "qn2_")), Seq("qid"))
      .withColumn("score", V.dot(col("vec"), col("qvec_")) /
        (V.fnorm(col("n2")) * V.fnorm(col("qn2_"))))
    TopK.window(rescored, k)
  }

  // --- deletes (merge-on-read) ------------------------------------------

  /**
   * MERGE-ON-READ DELETES over a codes layout: the deletion set is a
   * tiny (id) sidecar — the relational form of a deletion vector — and
   * the query anti-joins it (no broadcast hint: the delete set is
   * corpus-fraction-sized and grows with the table, so AQE picks the
   * anti-join strategy from its actual runtime size — broadcast while
   * small, shuffled once it is not). Nothing in the immutable layout is rewritten at
   * delete time; [[compactCodesLayoutWithDeletes]] is the table
   * service's later physical rewrite, after which queries are hash-equal
   * with an empty sidecar. Probe-cell partition pruning pushes through
   * the anti-join to the scan (PlanSpec asserts), so both passes still
   * touch nprobe/nCells of the files.
   */
  def topkOffCodesWithDeletes(spark: SparkSession, path: String,
                              tombs: DataFrame, emb: DataFrame,
                              nq: Int, k: Int, nCells: Int, d: Int,
                              nprobe: Int, mSub: Int, codes: Int,
                              rerank: Int): DataFrame = {
    val live = spark.read.parquet(path)
      .join(tombs.select(col("id")), Seq("id"), "left_anti")
    topkOffStored(live, emb, nq, k, nCells, d, nprobe, mSub, codes, rerank)
  }

  /** Write the deterministic delete set (ids ≡ 0 mod `mod` of the
    * layout) as a real parquet sidecar beside the codes dir — the
    * fixture form of a production delete commit. Idempotent. */
  def ensureTombstones(spark: SparkSession, codesPath: String,
                       mod: Int): String = {
    import java.nio.file.{Files, Paths}
    require(mod >= 2, s"mod=$mod")
    val path = Paths.get(codesPath + s"_tomb_mod$mod")
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "tomb-")
      spark.read.parquet(codesPath)
        .select(col("id")).filter(col("id") % mod === 0)
        .coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"tombstone publish failed: $path")
    }
    path.toString
  }

  /**
   * VERSIONED tombstone log — the delete sidecar as a commit history
   * (the relational form of Delta/Iceberg delete-file snapshots):
   * commit 1 deletes ids ≡ 0 (mod 2·`mod`), commit 2 the remaining
   * ids ≡ `mod` (mod 2·`mod`) — together exactly [[ensureTombstones]]'
   * ≡ 0 (mod `mod`) delete set. Rows (`idCol`, commit_v). The log is
   * append-only and never rewrites the base layout, so every historical
   * snapshot stays servable for free. Generic over any layout carrying
   * an id-like column (PQ and spherical codes use `id`, the lexical
   * postings layout `doc_id`) — which is why LSH and postings time
   * travel reuse this one writer.
   */
  def ensureVersionedTombstones(spark: SparkSession, codesPath: String,
                                mod: Int, idCol: String = "id"): String =
    ensureVersionedTombstonesOver(spark, codesPath,
      spark.read.parquet(codesPath).select(col(idCol)), mod, idCol)

  /** [[ensureVersionedTombstones]] over an EXPLICIT id universe instead
    * of the anchor layout's own rows — for logs whose id domain must be
    * defined independently of what the layout happens to index (the
    * as-of serve's vector flip set derives from the documents TABLE, so
    * a document with no tokenizable text is still versioned even though
    * no posting row carries its id). `tag` keeps differently-sourced
    * logs at the same anchor in separate published dirs (empty = the
    * layout-derived log's original naming). */
  def ensureVersionedTombstonesOver(spark: SparkSession, anchorPath: String,
                                    ids: DataFrame, mod: Int,
                                    idCol: String,
                                    tag: String = ""): String = {
    import java.nio.file.{Files, Paths}
    require(mod >= 2, s"mod=$mod")
    val path = Paths.get(anchorPath + s"_tombv${tag}_mod$mod")
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "tombv-")
      ids.select(col(idCol)).distinct()
        .filter(col(idCol) % mod === 0)
        .withColumn("commit_v",
          when(col(idCol) % (2L * mod) === 0, lit(1)).otherwise(lit(2)))
        .coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"versioned tombstone publish failed: $path")
    }
    path.toString
  }

  /**
   * A versioned log with HETEROGENEOUS VERBS — the shape real table
   * formats (Delta/Iceberg) actually keep, where one history mixes
   * updates and deletes: commit 1 UPSERTS ids ≡ 0 mod `umod` (verb
   * 'U'), commit 2 DELETES ids ≡ 0 mod `dmod` (verb 'D'), rows
   * (idCol, verb, commit_v) in one published dir anchored beside the
   * layout it versions. An id in both commits is upserted at snapshot
   * 1 and gone at snapshot 2 — the later verb wins by construction
   * (the reader applies commits in order). Deterministic, bounded,
   * content-keyed — the [[ensureVersionedTombstones]] discipline with
   * the verb carried IN the rows.
   */
  def ensureVersionedMixedLog(spark: SparkSession, anchorPath: String,
                              ids: DataFrame, umod: Int, dmod: Int,
                              idCol: String): String = {
    import java.nio.file.{Files, Paths}
    require(umod >= 2 && dmod >= 2 && umod != dmod,
      s"umod=$umod dmod=$dmod must be distinct moduli >= 2")
    val path = Paths.get(anchorPath + s"_mixlog_u${umod}_d$dmod")
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "mixlog-")
      val base = ids.select(col(idCol)).distinct()
      base.filter(col(idCol) % umod === 0)
        .withColumn("verb", lit("U")).withColumn("commit_v", lit(1))
        .unionByName(base.filter(col(idCol) % dmod === 0)
          .withColumn("verb", lit("D")).withColumn("commit_v", lit(2)))
        .coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"versioned mixed log publish failed: $path")
    }
    path.toString
  }

  /**
   * AS-OF (time-travel) serve over the versioned delete log: apply only
   * the commits with `commit_v <= asOf` — asOf 0 is the pre-delete
   * snapshot, the latest asOf equals the plain merge-on-read query.
   * Same physical shape as [[topkOffCodesWithDeletes]]: the snapshot
   * choice is a filter on the bounded sidecar BEFORE the broadcast
   * anti-join; the immutable base layout is shared by every snapshot.
   */
  def topkAtRestWithDeletesAsOf(spark: SparkSession, sfDir: String,
                                emb: DataFrame, nq: Int, k: Int,
                                nCells: Int, d: Int, nprobe: Int,
                                mSub: Int, codes: Int, rerank: Int,
                                deleteMod: Int, asOf: Int): DataFrame = {
    val path = ensureCodesFixture(spark, sfDir, nCells, d, mSub, codes)
    val tombs = spark.read
      .parquet(ensureVersionedTombstones(spark, path, deleteMod))
      .filter(col("commit_v") <= asOf).select(col("id"))
    topkOffCodesWithDeletes(spark, path, tombs, emb, nq, k, nCells, d,
      nprobe, mSub, codes, rerank)
  }

  /** [[topkAtRest]] under a deterministic delete set: builds the codes
    * layout and the id ≡ 0 (mod `deleteMod`) tombstone sidecar, then
    * runs the merge-on-read query. Queries still come from the
    * embeddings TABLE (external probes are unaffected by index
    * deletes); only the candidate corpus shrinks. */
  def topkAtRestWithDeletes(spark: SparkSession, sfDir: String,
                            emb: DataFrame, nq: Int, k: Int, nCells: Int,
                            d: Int, nprobe: Int, mSub: Int, codes: Int,
                            rerank: Int, deleteMod: Int): DataFrame = {
    val path = ensureCodesFixture(spark, sfDir, nCells, d, mSub, codes)
    val tombs = spark.read.parquet(ensureTombstones(spark, path, deleteMod))
    topkOffCodesWithDeletes(spark, path, tombs, emb, nq, k, nCells, d,
      nprobe, mSub, codes, rerank)
  }

  /**
   * Compaction WITH delete application — the second half of
   * merge-on-read: rewrite the layout one file per cell without the
   * tombstoned rows, published atomically to a content-addressed dir
   * (suffix keys on the tombstone set's cardinality, so a grown delete
   * set triggers a fresh rewrite). After this, the same query off the
   * new path with NO sidecar returns identical rows — asserted in
   * PqSpec.
   */
  def compactCodesLayoutWithDeletes(spark: SparkSession, srcPath: String,
                                    tombs: DataFrame): String = {
    import java.nio.file.{Files, Paths}
    // content-address the output on a HASH of the tombstone id set, not
    // its cardinality: two equal-sized delete sets against the same
    // source layout must not silently reuse each other's compaction.
    // TWO independent order-insensitive reductions — bit_xor AND a
    // wrapping sum (mod 2^60, so ANSI arithmetic can't overflow) of the
    // per-id md5-derived hashes — plus count: xor alone lets pairwise
    // cancellation collide ({a,b} vs {c,d} with h(a)^h(b) == h(c)^h(d));
    // a set must now collide both reductions at equal size to be
    // silently reused. One tiny aggregate over the bounded set.
    val dig = tombs
      .select(graft.operators.Dedup.strHash(col("id").cast("string")).as("h"))
      .agg(
        count(lit(1)).as("n"),
        coalesce(bit_xor(col("h")), lit(0L)).as("hx"),
        coalesce(sum(pmod(col("h"), lit(1L << 60)).cast("decimal(38,0)")),
          lit(0L).cast("decimal(38,0)")).as("hs"))
      .collect()(0)
    val nDel = dig.getLong(0)
    val hDel = java.lang.Long.toHexString(dig.getLong(1))
    val sDel = java.lang.Long.toHexString(
      dig.getDecimal(2).remainder(new java.math.BigDecimal(1L << 60))
        .longValueExact())
    val dst = Paths.get(srcPath + s"_compacted_del${nDel}_${hDel}_$sDel")
    if (!Files.exists(dst.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(dst.getParent, "pqdelcompact-")
      spark.read.parquet(srcPath)
        .join(tombs.select(col("id")), Seq("id"), "left_anti")
        .repartition(col("cell"))
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").partitionBy("cell")
        .option("compression", "zstd").parquet(tmp.toString)
      try Files.move(tmp, dst)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(dst.resolve("_SUCCESS")),
        s"delete-compaction publish failed: $dst")
    }
    dst.toString
  }

  // --- upserts (update = delete + re-encoded delta) ---------------------

  /** Bump when the upsert delta layout changes. */
  private val UpsertLayoutVersion = 1

  /**
   * The UPDATE commit of a merge-on-read upsert: the updated rows
   * (ids ≡ 0 mod `mod`, new value v' = −v — the deterministic update
   * transform; negation is float-exact and norm-preserving, which keeps
   * the oracle's shared norm relation valid while flipping cells and
   * codes) are RE-ENCODED with the batch writer's exact projection and
   * published as their own cell-partitioned delta layout. The base
   * layout is never touched.
   */
  def ensureUpsertDelta(spark: SparkSession, sfDir: String, nCells: Int,
                        d: Int, mSub: Int, codes: Int, mod: Int): String = {
    import java.nio.file.{Files, Paths}
    require(mod >= 2, s"mod=$mod")
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_pqupsert_v${UpsertLayoutVersion}_${safe}_c${nCells}_d${d}" +
        s"_m${mSub}_k${codes}_u${mod}_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "pqupsert-")
      encodeCodes(graft.Tables.embeddings(spark, sfDir)
          .filter(col("vec_id") % mod === 0)
          .withColumn("embedding", transform(col("embedding"), x => -x)),
          nCells, d, mSub, codes)
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").partitionBy("cell")
        .option("compression", "zstd").parquet(tmp.toString)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"pq upsert delta publish failed: $path")
    }
    path.toString
  }

  /**
   * Upsert COMPACTION — the OPTIMIZE completing the update commit on
   * the quantized family (the postings family's
   * [[graft.operators.Search.compactPostingsUpsert]], applied to the
   * codes layout): the delta segment folds into the base — updated
   * ids' base rows dropped, their re-encoded rows taking their place,
   * one id-sorted file per cell — published atomically as a new
   * immutable dir. The merged layout holds exactly the merge-on-read
   * view's rows, so the plain serve off it is hash-equal to
   * [[topkAtRestUpserted]] (same oracle); after the merge no
   * anti-join, no delta union, no excision predicate at query time.
   * Merge I/O = base + delta, never a corpus re-encode.
   */
  /** Bump when the merged layout's shape or merge semantics change:
    * the version is part of the dir name, so a stale merge can never
    * be silently reused (the ensure-layout discipline). */
  private val UpsertMergeLayoutVersion = 1

  def compactCodesUpsertMerge(spark: SparkSession, sfDir: String,
                              nCells: Int, d: Int, mSub: Int,
                              codes: Int, mod: Int): String = {
    import java.nio.file.{Files, Paths}
    val basePath = ensureCodesFixture(spark, sfDir, nCells, d, mSub, codes)
    val deltaPath = ensureUpsertDelta(spark, sfDir, nCells, d, mSub,
      codes, mod)
    val dst = Paths.get(basePath +
      s"_upsmergedv${UpsertMergeLayoutVersion}_mod$mod")
    if (!Files.exists(dst.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(dst.getParent, "pqupsmerge-")
      val cols = Seq(col("id"), col("cell"), col("vec"), col("code"))
      val base = spark.read.parquet(basePath).select(cols: _*)
      val delta = spark.read.parquet(deltaPath).select(cols: _*)
      base.join(delta.select(col("id")), Seq("id"), "left_anti")
        .unionByName(delta)
        .repartition(col("cell"))
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").partitionBy("cell")
        .option("compression", "zstd").parquet(tmp.toString)
      try Files.move(tmp, dst)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(dst.resolve("_SUCCESS")),
        s"upsert-merge publish failed: $dst")
    }
    dst.toString
  }

  /** Bump when the VERSIONED upsert log layout changes. */
  private val UpsertLogLayoutVersion = 1

  /**
   * The VERSIONED update log — upsert time travel's missing half (the
   * delete side has had [[ensureVersionedTombstones]] across all five
   * families): the same update set as [[ensureUpsertDelta]], but each
   * re-encoded row stamped with its `commit_v` — commit 1 updates ids
   * ≡ 0 (mod 2·mod), commit 2 completes the ≡ 0 (mod mod) set — so any
   * historical snapshot of the index is servable as base + the delta
   * rows with `commit_v <= asOf`. Append-only revision-stamped delta
   * segments beside the byte-immutable base, exactly how a
   * lakehouse-table index keeps update history; the pattern ports to
   * the other four families verbatim (their upsert deltas gain the
   * same stamp column; serve-side filter before the anti-join).
   */
  def ensureVersionedUpsertDeltas(spark: SparkSession, sfDir: String,
                                  nCells: Int, d: Int, mSub: Int,
                                  codes: Int, mod: Int): String = {
    import java.nio.file.{Files, Paths}
    require(mod >= 2, s"mod=$mod")
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_pqupsertlog_v${UpsertLogLayoutVersion}_${safe}_c${nCells}" +
        s"_d${d}_m${mSub}_k${codes}_u${mod}" +
        s"_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "pqupslog-")
      encodeCodes(graft.Tables.embeddings(spark, sfDir)
          .filter(col("vec_id") % mod === 0)
          .withColumn("embedding", transform(col("embedding"), x => -x)),
          nCells, d, mSub, codes)
        .withColumn("commit_v",
          when(col("id") % (2L * mod) === 0, lit(1)).otherwise(lit(2)))
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").partitionBy("cell")
        .option("compression", "zstd").parquet(tmp.toString)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"pq versioned upsert log publish failed: $path")
    }
    path.toString
  }

  /**
   * AS-OF (time-travel) serve over the versioned UPDATE log: snapshot
   * v = base rows whose ids are not updated by any commit ≤ v, plus
   * the delta rows with `commit_v <= asOf` — asOf 0 is the pre-update
   * index, the latest asOf equals the plain merge-on-read
   * [[topkAtRestUpserted]], and every snapshot is hash-equal to
   * re-encoding the corpus at that snapshot's values (spec-asserted:
   * the oracle re-derives each snapshot from the corresponding updated
   * view). The snapshot choice is a filter on the bounded log BEFORE
   * the anti-join; base and log files are byte-immutable.
   */
  def topkAtRestUpsertedAsOf(spark: SparkSession, sfDir: String,
                             emb: DataFrame, nq: Int, k: Int,
                             nCells: Int, d: Int, nprobe: Int,
                             mSub: Int, codes: Int, rerank: Int,
                             mod: Int, asOf: Int): DataFrame = {
    val basePath = ensureCodesFixture(spark, sfDir, nCells, d, mSub, codes)
    val logPath =
      ensureVersionedUpsertDeltas(spark, sfDir, nCells, d, mSub, codes, mod)
    val cols = Seq(col("id"), col("cell"), col("vec"), col("code"))
    val base = spark.read.parquet(basePath).select(cols: _*)
    val delta = spark.read.parquet(logPath)
      .filter(col("commit_v") <= asOf).select(cols: _*)
    // no broadcast hint: the applied-commit prefix is
    // corpus-fraction-sized, AQE sizes the anti-join at runtime
    val live = base
      .join(delta.select(col("id")), Seq("id"), "left_anti")
      .unionByName(delta)
    topkOffStored(live, emb, nq, k, nCells, d, nprobe, mSub, codes, rerank)
  }

  /**
   * MERGE-ON-READ UPSERT over the at-rest PQ codes — the last letter of
   * CRUD on the quantized index (insert = the streaming append path,
   * delete = the tombstone path): the delta's own id set anti-joins the
   * base (broadcast — the delta is bounded), then the delta's
   * re-encoded rows union in, and the standard probe/cheap/rescore
   * pipeline runs over the merged view. Updated vectors are found in
   * their NEW cells with their NEW codes, and the rescore fetches the
   * NEW values — with no rewrite of the base layout.
   */
  def topkAtRestUpserted(spark: SparkSession, sfDir: String, emb: DataFrame,
                         nq: Int, k: Int, nCells: Int, d: Int, nprobe: Int,
                         mSub: Int, codes: Int, rerank: Int,
                         mod: Int): DataFrame = {
    val basePath = ensureCodesFixture(spark, sfDir, nCells, d, mSub, codes)
    val deltaPath = ensureUpsertDelta(spark, sfDir, nCells, d, mSub, codes, mod)
    val cols = Seq(col("id"), col("cell"), col("vec"), col("code"))
    val base = spark.read.parquet(basePath).select(cols: _*)
    val delta = spark.read.parquet(deltaPath).select(cols: _*)
    // no broadcast hint: the upsert delta is corpus-fraction-sized (a
    // mod of the table), AQE sizes the anti-join at runtime
    val live = base
      .join(delta.select(col("id")), Seq("id"), "left_anti")
      .unionByName(delta)
    topkOffStored(live, emb, nq, k, nCells, d, nprobe, mSub, codes, rerank)
  }

  /** Bump when the residual at-rest code layout or encoding changes. */
  private val ResCodesLayoutVersion = 1

  /**
   * The residual codes AT REST — the layout production IVF-PQ actually
   * deploys: (id, vec, code) partitioned by cell, where `code` packs the
   * per-subspace argmin codes of the RESIDUAL x − c_cell. Everything the
   * cheap pass needs beyond the code word is (cell, code_m)-addressable
   * broadcast state (per-cell query dots, ADC table, exact-dyadic
   * reconstruction-norm literals), so the scan stays 4 bytes/row.
   */
  def ensureResidualCodesFixture(spark: SparkSession, sfDir: String,
                                 nCells: Int, d: Int, mSub: Int,
                                 codes: Int): String = {
    import java.nio.file.{Files, Paths}
    val sub = d / mSub
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_pqrescodes_v${ResCodesLayoutVersion}_${safe}_c${nCells}_d${d}" +
        s"_m${mSub}_k${codes}_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "pqres-")
      val rvecCase = (0 until nCells).foldRight(
        lit(null).cast("array<float>")) { (g, rest) =>
        when(col("cell") === g,
          zip_with(col("embedding"), typedlit(Ivf.centroid(g, d).toSeq),
            (x, c) => (x.cast("double") - c.cast("double")).cast("float")))
          .otherwise(rest)
      }
      Ivf.assign(graft.Tables.embeddings(spark, sfDir), nCells, d)
        .withColumn("rvec", rvecCase)
        .select(col("id") +: col("cell") +: col("embedding") +:
          distCols(col("rvec"), mSub, codes, sub): _*)
        .select(col("id") +: col("cell") +: col("embedding") +:
          (0 until mSub).map(argminCode(_, codes)): _*)
        .select(col("id"), col("cell"), col("embedding").as("vec"),
          packedCode(mSub, codes).as("code"))
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").partitionBy("cell")
        .option("compression", "zstd").parquet(tmp.toString)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"pq residual codes publish failed: $path")
    }
    path.toString
  }

  /** Bump when the OPQ-residual at-rest layout or encoding changes. */
  private val OpqResCodesLayoutVersion = 1

  /**
   * The COMPOSED "OPQ,IVF,PQ" codes AT REST: coarse assignment, residual,
   * and code argmin all computed in the permuted space; the stored `vec`
   * is the ORIGINAL embedding (the rescore fetch needs it, and the
   * transform is query-independent broadcast state — nothing transformed
   * needs persisting beyond the codes themselves).
   */
  def ensureOpqResidualCodesFixture(spark: SparkSession, sfDir: String,
                                    nCells: Int, d: Int, mSub: Int,
                                    codes: Int): String = {
    import java.nio.file.{Files, Paths}
    val sub = d / mSub
    val (perm, sign) = permutation(d)
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_pqopqres_v${OpqResCodesLayoutVersion}_${safe}_c${nCells}_d${d}" +
        s"_m${mSub}_k${codes}_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "pqopqres-")
      val rvecCase = (0 until nCells).foldRight(
        lit(null).cast("array<float>")) { (g, rest) =>
        when(col("cell") === g,
          zip_with(col("embedding"), typedlit(Ivf.centroid(g, d).toSeq),
            (x, c) => (x.cast("double") - c.cast("double")).cast("float")))
          .otherwise(rest)
      }
      val tEmb = graft.Tables.embeddings(spark, sfDir).select(col("vec_id"),
        permuteVec(col("embedding"), perm, sign).as("embedding"))
      Ivf.assign(tEmb, nCells, d)
        .withColumn("rvec", rvecCase)
        .select(col("id") +: col("cell") +:
          distCols(col("rvec"), mSub, codes, sub): _*)
        .select(col("id") +: col("cell") +:
          (0 until mSub).map(argminCode(_, codes)): _*)
        .select(col("id"), col("cell"), packedCode(mSub, codes).as("code"))
        .join(graft.Tables.embeddings(spark, sfDir)
          .select(col("vec_id").as("id"), col("embedding").as("vec")), Seq("id"))
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").partitionBy("cell")
        .option("compression", "zstd").parquet(tmp.toString)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"opq-residual codes publish failed: $path")
    }
    path.toString
  }

  /** Bump when the trained-OPQ-residual at-rest layout changes. */
  private val OpqTrResCodesLayoutVersion = 1

  /** [[ensureOpqResidualCodesFixture]] under the TRAINED permutation —
    * the layout is data-dependent (the permutation derives from the
    * corpus variances), like [[ensureTrainedCodesFixture]]. */
  def ensureOpqTrainedResidualCodesFixture(spark: SparkSession,
                                           sfDir: String, nCells: Int, d: Int,
                                           mSub: Int, codes: Int): String = {
    import java.nio.file.{Files, Paths}
    val sub = d / mSub
    val emb0 = graft.Tables.embeddings(spark, sfDir)
    val perm = trainedPermutation(emb0, d, mSub)
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_pqopqtrres_v${OpqTrResCodesLayoutVersion}_${safe}_c${nCells}" +
        s"_d${d}_m${mSub}_k${codes}_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "pqopqtrres-")
      val rvecCase = (0 until nCells).foldRight(
        lit(null).cast("array<float>")) { (g, rest) =>
        when(col("cell") === g,
          zip_with(col("embedding"), typedlit(Ivf.centroid(g, d).toSeq),
            (x, c) => (x.cast("double") - c.cast("double")).cast("float")))
          .otherwise(rest)
      }
      val tEmb = emb0.select(col("vec_id"),
        permuteVec(col("embedding"), perm, Array.fill(d)(1)).as("embedding"))
      Ivf.assign(tEmb, nCells, d)
        .withColumn("rvec", rvecCase)
        .select(col("id") +: col("cell") +:
          distCols(col("rvec"), mSub, codes, sub): _*)
        .select(col("id") +: col("cell") +:
          (0 until mSub).map(argminCode(_, codes)): _*)
        .select(col("id"), col("cell"), packedCode(mSub, codes).as("code"))
        .join(emb0.select(col("vec_id").as("id"),
          col("embedding").as("vec")), Seq("id"))
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").partitionBy("cell")
        .option("compression", "zstd").parquet(tmp.toString)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"trained opq-residual codes publish failed: $path")
    }
    path.toString
  }

  /** [[topkResidualOpqTrained]]'s at-rest twin — train the permutation,
    * persist the composed codes, serve off the layout (same oracle). */
  def topkResidualOpqTrainedAtRest(spark: SparkSession, sfDir: String,
                                   emb: DataFrame, nq: Int, k: Int,
                                   nCells: Int, d: Int, nprobe: Int,
                                   mSub: Int, codes: Int,
                                   rerank: Int): DataFrame = {
    val perm = trainedPermutation(emb, d, mSub)
    residualAtRestCore(spark,
      ensureOpqTrainedResidualCodesFixture(spark, sfDir, nCells, d, mSub,
        codes),
      emb, nq, k, nCells, d, nprobe, mSub, codes, rerank,
      v => permuteVec(v, perm, Array.fill(d)(1)))
  }

  /**
   * Residual IVF-PQ top-k OFF THE AT-REST CODES — the at-rest twin of
   * [[topkResidual]], returning identical rows: probe cells pushed as a
   * static partition filter on BOTH passes, cheap pass reads only the
   * packed code word, reconstruction norms selected from the same exact-
   * dyadic literal tables by (cell, code_m).
   */
  def topkResidualAtRest(spark: SparkSession, sfDir: String, emb: DataFrame,
                         nq: Int, k: Int, nCells: Int, d: Int, nprobe: Int,
                         mSub: Int, codes: Int, rerank: Int): DataFrame =
    residualAtRestCore(spark,
      ensureResidualCodesFixture(spark, sfDir, nCells, d, mSub, codes),
      emb, nq, k, nCells, d, nprobe, mSub, codes, rerank, identity)

  /** [[topkResidualOpq]]'s at-rest twin, served off the composed layout —
    * hash-equal to the in-memory composed rung (same oracle). */
  def topkResidualOpqAtRest(spark: SparkSession, sfDir: String,
                            emb: DataFrame, nq: Int, k: Int, nCells: Int,
                            d: Int, nprobe: Int, mSub: Int, codes: Int,
                            rerank: Int): DataFrame = {
    val (perm, sign) = permutation(d)
    residualAtRestCore(spark,
      ensureOpqResidualCodesFixture(spark, sfDir, nCells, d, mSub, codes),
      emb, nq, k, nCells, d, nprobe, mSub, codes, rerank,
      v => permuteVec(v, perm, sign))
  }

  private def residualAtRestCore(spark: SparkSession, path: String,
                                 emb: DataFrame, nq: Int, k: Int, nCells: Int,
                                 d: Int, nprobe: Int, mSub: Int, codes: Int,
                                 rerank: Int, t: Column => Column): DataFrame = {
    require(d % mSub == 0, s"d=$d not divisible by m=$mSub")
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    val sub = d / mSub
    val V = graft.functions.VectorOps
    val stored = spark.read.parquet(path)
    // norms fold in ORIGINAL component order; probe distances, qc dots,
    // and ADC entries run on the transformed qvec (identity for the
    // plain residual rung)
    val q0 = Ann.queriesOf(emb, nq).select(col("qid"), col("qvec"), col("qn2"))
    val q = q0.select(col("qid"), t(col("qvec")).as("qvec"), col("qn2"))
    val probeSet = Ivf.probeCells(q, nCells, d, nprobe)
      .select(col("qid"), col("cell"))
    val cells = probeSet.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val qcCols = (0 until nCells).map(g =>
      VecExprs.dotD(col("qvec"), typedlit(Ivf.centroid(g, d).toSeq))
        .as(s"qc_$g"))
    val probes = broadcast(probeSet
      .join(q, Seq("qid"))
      .select(Seq(col("qid"), col("cell"), col("qn2")) ++ qcCols ++
        adcTable(col("qvec"), mSub, codes, sub): _*))
    val qcCase = (0 until nCells).foldRight(lit(0.0)) { (g, rest) =>
      when(col("cell") === g, col(s"qc_$g")).otherwise(rest)
    }
    val sHatNum = qcCase + (0 until mSub).map(pick(_, codes)).reduceLeft(_ + _)
    val n2cellCase = (0 until nCells).foldRight(lit(0.0)) { (g, rest) =>
      when(col("cell") === g, lit(cellN2(g, d))).otherwise(rest)
    }
    val n2hat = n2cellCase + (0 until mSub).map { m =>
      val table = for (g <- 0 until nCells; c <- 0 until codes)
        yield reconN2Term(g, m, c, sub)
      element_at(typedlit(table),
        (col("cell") * codes + col(s"code_$m") + 1).cast("int"))
    }.reduceLeft(_ + _)
    val cheap = stored.select(col("id"), col("cell"), col("code"))
      .filter(col("cell").isin(cells.toSeq: _*))
      .select(Seq(col("id"), col("cell")) ++ unpackedCodes(mSub): _*)
      .join(probes, Seq("cell"))
      .withColumn("score", sHatNum / (V.fnorm(n2hat) * V.fnorm(col("qn2"))))
    val cand = TopK.window(cheap, rerank).select(col("qid"), col("id"))
    val rescored = stored
      .filter(col("cell").isin(cells.toSeq: _*))
      .select(col("id"), col("vec"), V.norm2Sq(col("vec")).as("n2"))
      .join(broadcast(cand), Seq("id"))
      // exact rescore on the ORIGINAL stored vectors and queries
      .join(broadcast(q0.withColumnRenamed("qvec", "qvec_")
        .withColumnRenamed("qn2", "qn2_")), Seq("qid"))
      .withColumn("score", V.dot(col("vec"), col("qvec_")) /
        (V.fnorm(col("n2")) * V.fnorm(col("qn2_"))))
    TopK.window(rescored, k)
  }

  /**
   * RESIDUAL IVF-PQ — the form production IVF-PQ actually ships (Jégou
   * et al. §IV-A: quantize r = x - c_cell, not x, so the codebook only
   * has to cover the within-cell spread): codes are assigned over the
   * residual, and the ADC score decomposes as
   * dot(q, x_hat) = dot(q, c_cell) + sum_m t[m, code_m] with
   * ||x_hat||^2 = ||c_cell||^2 + sum_m (2 dot(c_cell_sub, cb) + ||cb||^2).
   *
   * Exactness discipline: the residual has ONE rounding step — each
   * element (x_j as double) - c_j is cast back to FLOAT — which both
   * engines perform with the same IEEE round-to-nearest, so codes agree
   * bit-for-bit; every reconstruction-norm term is a driver-computed
   * exact dyadic literal (2^-20 grid), selected per (cell, code_m) from
   * a literal lookup array; the query-side per-cell dot and the ADC
   * table are the same fixed-order folds as [[topk]].
   */
  def topkResidual(emb: DataFrame, nq: Int, k: Int, nCells: Int, d: Int,
                   nprobe: Int, mSub: Int, codes: Int, rerank: Int): DataFrame =
    topkResidualCore(emb, nq, k, nCells, d, nprobe, mSub, codes, rerank,
      identity)

  /**
   * The FULL FAISS-style production index string COMPOSED —
   * "OPQ,IVF,PQ": the OPQ signed-permutation pre-transform feeding the
   * residual coarse/encode/ADC pipeline, exact rescore on the ORIGINAL
   * vectors. The transform is exactly orthogonal, so residual geometry
   * in transformed space is exact; norms (qn2/n2) fold in ORIGINAL
   * component order on both engines (the [[topkPermuted]] discipline).
   * The graded query runs the fixed hash permutation (literal-indexed
   * oracle); [[trainedPermutation]] drops into the same core unchanged
   * for a data-adaptive transform.
   */
  def topkResidualOpq(emb: DataFrame, nq: Int, k: Int, nCells: Int, d: Int,
                      nprobe: Int, mSub: Int, codes: Int,
                      rerank: Int): DataFrame = {
    val (perm, sign) = permutation(d)
    topkResidualCore(emb, nq, k, nCells, d, nprobe, mSub, codes, rerank,
      v => permuteVec(v, perm, sign))
  }

  /** The composed string with the TRAINED transform — variance-balancing
    * snake-draft permutation ([[trainedPermutation]]) feeding the same
    * residual core: the complete trained production index, every stage
    * data-adaptive except the dyadic codebooks. */
  def topkResidualOpqTrained(emb: DataFrame, nq: Int, k: Int, nCells: Int,
                             d: Int, nprobe: Int, mSub: Int, codes: Int,
                             rerank: Int): DataFrame = {
    val perm = trainedPermutation(emb, d, mSub)
    topkResidualCore(emb, nq, k, nCells, d, nprobe, mSub, codes, rerank,
      v => permuteVec(v, perm, Array.fill(d)(1)))
  }

  /** [[topkResidual]] with the cheap phase run in `t`-transformed space
    * (t orthogonal; identity for the plain residual rung). */
  private def topkResidualCore(emb0: DataFrame, nq: Int, k: Int, nCells: Int,
                               d: Int, nprobe: Int, mSub: Int, codes: Int,
                               rerank: Int, t: Column => Column): DataFrame = {
    require(d % mSub == 0, s"d=$d not divisible by m=$mSub")
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    val sub = d / mSub
    val V = graft.functions.VectorOps
    val emb = emb0
    val tEmb = emb0.select(col("vec_id"), t(col("embedding")).as("embedding"))
    // r = x - c_cell, element-rounded to float (the mirrored cast)
    val rvecCase = (0 until nCells).foldRight(
      lit(null).cast("array<float>")) { (g, rest) =>
      when(col("cell") === g,
        zip_with(col("embedding"), typedlit(Ivf.centroid(g, d).toSeq),
          (x, c) => (x.cast("double") - c.cast("double")).cast("float")))
        .otherwise(rest)
    }
    val enc = Ivf.assign(tEmb, nCells, d)
      .withColumn("rvec", rvecCase)
      .select(col("id") +: col("cell") +:
        distCols(col("rvec"), mSub, codes, sub): _*)
      .select(col("id") +: col("cell") +:
        (0 until mSub).map(argminCode(_, codes)): _*)
    // norms fold in ORIGINAL component order; spatial arithmetic (probe
    // distances, qc dots, ADC entries) runs on the transformed qvec
    val q = Ann.queriesOf(emb, nq).select(col("qid"), col("qvec"), col("qn2"))
    val tq = q.select(col("qid"), t(col("qvec")).as("qvec"), col("qn2"))
    // per-cell dot(q, c_cell) precomputed on the tiny broadcast side
    val qcCols = (0 until nCells).map(g =>
      VecExprs.dotD(col("qvec"), typedlit(Ivf.centroid(g, d).toSeq))
        .as(s"qc_$g"))
    val probes = broadcast(Ivf.probeCells(tq, nCells, d, nprobe)
      .select(col("qid"), col("cell"))
      .join(tq, Seq("qid"))
      .select(Seq(col("qid"), col("cell"), col("qn2")) ++ qcCols ++
        adcTable(col("qvec"), mSub, codes, sub): _*))
    val qcCase = (0 until nCells).foldRight(lit(0.0)) { (g, rest) =>
      when(col("cell") === g, col(s"qc_$g")).otherwise(rest)
    }
    val sHatNum = qcCase + (0 until mSub).map(pick(_, codes)).reduceLeft(_ + _)
    val n2cellCase = (0 until nCells).foldRight(lit(0.0)) { (g, rest) =>
      when(col("cell") === g, lit(cellN2(g, d))).otherwise(rest)
    }
    // literal lookup per subspace: index = cell*codes + code_m (1-based
    // for element_at); values are the exact dyadic reconN2 terms
    val n2hat = n2cellCase + (0 until mSub).map { m =>
      val table = for (g <- 0 until nCells; c <- 0 until codes)
        yield reconN2Term(g, m, c, sub)
      element_at(typedlit(table),
        (col("cell") * codes + col(s"code_$m") + 1).cast("int"))
    }.reduceLeft(_ + _)
    val cheap = enc.join(probes, Seq("cell"))
      .withColumn("score", sHatNum / (V.fnorm(n2hat) * V.fnorm(col("qn2"))))
    val cand = TopK.window(cheap, rerank).select(col("qid"), col("id"))
    val rescored = emb
      .select(col("vec_id").as("id"), col("embedding"),
        V.norm2Sq(col("embedding")).as("n2"))
      .join(broadcast(cand), Seq("id"))
      .join(broadcast(q.withColumnRenamed("qvec", "qvec_")
        .withColumnRenamed("qn2", "qn2_")), Seq("qid"))
      .withColumn("score", V.dot(col("embedding"), col("qvec_")) /
        (V.fnorm(col("n2")) * V.fnorm(col("qn2_"))))
    TopK.window(rescored, k)
  }

  // --- spherical-coarse x residual-PQ composition -------------------------

  /** The trained spherical coarse model in its SERVING form: FLOAT unit
    * centroids (the stored-codebook rounding) plus every derived
    * constant the ADC decomposition needs, each a driver-side j-ordered
    * left fold the oracle re-derives relationally in the same order. */
  private final case class SphModel(cells: Seq[Int],
                                    ucf: Map[Int, Array[Float]],
                                    cellN2: Map[Int, Double],
                                    recon: Map[(Int, Int, Int), Double])

  private def sphericalModel(emb: DataFrame, nCells: Int, d: Int,
                             mSub: Int, codes: Int): SphModel = {
    val sub = d / mSub
    // bounded collect: occupied cells x d unit doubles — the model
    val units = Ivf.kmeansSphericalStep(emb, nCells, d).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getAs[Double]("unit")).toMap
    val cells = units.keys.map(_._1).toSeq.distinct.sorted
    val ucf = cells.map(c =>
      c -> Array.tabulate(d)(j => units((c, j + 1)).toFloat)).toMap
    val n2 = cells.map(c => c -> (0 until d).map(j =>
      ucf(c)(j).toDouble * ucf(c)(j).toDouble).reduceLeft(_ + _)).toMap
    val recon = (for (g <- cells; m <- 0 until mSub; cd <- 0 until codes)
      yield {
        val cross = (0 until sub).map(i =>
          ucf(g)(m * sub + i).toDouble * component(m, cd, i, sub))
          .reduceLeft(_ + _)
        (g, m, cd) -> (2.0 * cross + centroidN2(m, cd, sub))
      }).toMap
    SphModel(cells, ucf, n2, recon)
  }

  /** Left-assoc dot of a FLOAT[] column against cell c's float unit
    * centroid — the spherical assignment/probe/qc fold, term order
    * mirrored by the oracle's `ORDER BY j` reduce. The codegen'd
    * [[org.apache.spark.sql.graft.VecExprs.dotD]] loop (ascending index,
    * per-element float->double widening, acc starting at 0.0) is
    * bit-identical to the explicit `element_at(j).cast * lit(u_j)`
    * reduceLeft chain it replaces — which at the D=1024 widths built a
    * 1024-deep Column tree that overflowed the Column->Expression
    * converter's stack. */
  private def sphSdot(model: SphModel, vecCol: Column, c: Int,
                      d: Int): Column =
    org.apache.spark.sql.graft.VecExprs.dotD(vecCol,
      typedlit(model.ucf(c).toSeq))

  /** Map-side spherical assignment: cell = argmax dot(x, u_c) (== argmax
    * cosine against unit centroids), ties to the smaller cell. */
  private def sphAssign(emb: DataFrame, model: SphModel,
                        d: Int): DataFrame = {
    val scoreCols = model.cells.map(c =>
      sphSdot(model, col("embedding"), c, d).as(s"s$c"))
    val m = greatest(model.cells.map(c => col(s"s$c")): _*)
    val argmax = model.cells.foldRight(lit(-1)) { (c, rest) =>
      when(col(s"s$c") === m, lit(c)).otherwise(rest)
    }
    emb.select(col("vec_id").as("id") +: col("embedding") +: scoreCols: _*)
      .withColumn("cell", argmax)
      .select(col("id"), col("embedding"), col("cell"))
  }

  /** Residual encode against the spherical units: r = x - u_cell
    * (element float-rounded, the mirrored cast), dyadic-PQ argmin —
    * (id, cell, embedding, code_0..code_{m-1}). */
  private def sphEncode(emb: DataFrame, model: SphModel, d: Int,
                        mSub: Int, codes: Int): DataFrame = {
    val sub = d / mSub
    val rvecCase = model.cells.foldRight(
      lit(null).cast("array<float>")) { (g, rest) =>
      when(col("cell") === g,
        zip_with(col("embedding"), typedlit(model.ucf(g).toSeq),
          (x, cc) => (x.cast("double") - cc.cast("double")).cast("float")))
        .otherwise(rest)
    }
    sphAssign(emb, model, d)
      .withColumn("rvec", rvecCase)
      .select(col("id") +: col("cell") +: col("embedding") +:
        distCols(col("rvec"), mSub, codes, sub): _*)
      .select(col("id") +: col("cell") +: col("embedding") +:
        (0 until mSub).map(argminCode(_, codes)): _*)
  }

  /** The probe relation, broadcast where [[sphServe]] joins it: per
    * (qid, probed cell) the carried dot(q, u_cell) — which IS the cheap
    * numerator's qc term — plus qn2 and the ADC lookup table. */
  private def sphProbes(model: SphModel, q0: DataFrame, d: Int, nprobe: Int,
                        mSub: Int, codes: Int): DataFrame = {
    val sub = d / mSub
    val stacked = q0.select(col("qid") +: col("qvec") +: col("qn2") +:
        model.cells.map(c => sphSdot(model, col("qvec"), c, d).as(s"c$c")): _*)
      .select(col("qid"), col("qvec"), col("qn2"),
        explode(array(model.cells.map(c =>
          struct(lit(c).as("cell"), col(s"c$c").as("qc"))): _*)).as("p"))
      .select(col("qid"), col("qvec"), col("qn2"),
        col("p.cell").as("cell"), col("p.qc").as("qc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("qc").desc, col("cell").asc)
    stacked
      .withColumn("pr", row_number().over(w))
      .filter(col("pr") <= nprobe)
      .select(Seq(col("qid"), col("cell"), col("qc"), col("qn2")) ++
        adcTable(col("qvec"), mSub, codes, sub): _*)
  }

  /** The shared cheap-ADC + rerank + exact-rescore tail: `cheapEnc` is
    * (id, cell, code_0..) however it is physically served (computed
    * in-memory or pruned off the at-rest layout), `fetch` is the
    * (id, vec) source the exact rescore reads. */
  private def sphServe(model: SphModel, cheapEnc: DataFrame,
                       fetch: DataFrame, q0: DataFrame, probes: DataFrame,
                       k: Int, nCells: Int, d: Int, mSub: Int, codes: Int,
                       rerank: Int): DataFrame = {
    val V = graft.functions.VectorOps
    val sHatNum = col("qc") +
      (0 until mSub).map(pick(_, codes)).reduceLeft(_ + _)
    val n2cellCase = model.cells.foldRight(lit(0.0)) { (g, rest) =>
      when(col("cell") === g, lit(model.cellN2(g))).otherwise(rest)
    }
    val n2hat = n2cellCase + (0 until mSub).map { m =>
      val table = for (g <- 0 until nCells; c <- 0 until codes)
        yield model.recon.getOrElse((g, m, c), 0.0)
      element_at(typedlit(table),
        (col("cell") * codes + col(s"code_$m") + 1).cast("int"))
    }.reduceLeft(_ + _)
    val cheap = cheapEnc.join(broadcast(probes), Seq("cell"))
      .withColumn("score", sHatNum / (V.fnorm(n2hat) * V.fnorm(col("qn2"))))
    val cand = TopK.window(cheap, rerank).select(col("qid"), col("id"))
    val rescored = fetch
      .select(col("id"), col("vec"), V.norm2Sq(col("vec")).as("n2"))
      .join(broadcast(cand), Seq("id"))
      .join(broadcast(q0.withColumnRenamed("qvec", "qvec_")
        .withColumnRenamed("qn2", "qn2_")), Seq("qid"))
      .withColumn("score", V.dot(col("vec"), col("qvec_")) /
        (V.fnorm(col("n2")) * V.fnorm(col("qn2_"))))
    TopK.window(rescored, k)
  }

  /**
   * The COSINE production index string — SPHERICAL k-means as the
   * coarse quantizer over the residual-PQ core: the trained UNIT
   * centroids ([[Ivf.kmeansSphericalStep]], Dhillon & Modha 2001)
   * rounded once to the stored-codebook FLOAT form; corpus and queries
   * assigned/probed by argmax dot against them (== argmax cosine for
   * unit centroids); the residual r = x - u_cell PQ-encoded with the
   * dyadic codebooks; the cheap pass scores the ADC cosine ESTIMATE
   * (dot(q, u_cell) + sum_m t[m, code_m]) /
   * (sqrt(|u_cell|^2 + sum_m (2 dot(u_sub, cb) + |cb|^2)) |q|) —
   * the cosine twin of the L2 "OPQ,IVF,PQ" composition — and the
   * rerank survivors get the exact cosine rescore on the original
   * vectors. (Reference context: the reference serves cosine in unit
   * space, `ANNCode.py:45-52`; composing a trained angular coarse
   * quantizer with residual PQ is the production serving shape for
   * that metric.)
   *
   * Determinism: the trained model is a bounded collect folded back as
   * literals; every derived constant (|u|^2, cross-dots, recon terms)
   * is a driver-side j-ordered left fold over the float-rounded units,
   * which the oracle re-derives relationally with `list_reduce` folds
   * in the identical order.
   */
  def topkSphericalResidual(emb: DataFrame, nq: Int, k: Int, nCells: Int,
                            d: Int, nprobe: Int, mSub: Int, codes: Int,
                            rerank: Int, sampleEvery: Int = 1): DataFrame = {
    require(d % mSub == 0, s"d=$d not divisible by m=$mSub")
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    require(sampleEvery >= 1, s"sampleEvery=$sampleEvery")
    // SAMPLED spherical training (sampleEvery > 1) — the [[topkTrained]]
    // 100 TB discipline carried onto the engine's largest remaining
    // full-corpus pass: the spherical Lloyd step (assignment + ordered
    // mean folds + sphere projection) runs over the deterministic
    // counter-keyed sample only; encode, probes, and serve still cover
    // EVERYTHING with the sample-trained units. Training cost becomes
    // ∝ sample, not corpus.
    val trainSet =
      if (sampleEvery <= 1) emb
      else emb.filter(col("vec_id") % sampleEvery === 0)
    val model = sphericalModel(trainSet, nCells, d, mSub, codes)
    val q0 = Ann.queriesOf(emb, nq).select(col("qid"), col("qvec"), col("qn2"))
    val probes = sphProbes(model, q0, d, nprobe, mSub, codes)
    val enc = sphEncode(emb, model, d, mSub, codes)
      .drop("embedding")
    sphServe(model, enc,
      emb.select(col("vec_id").as("id"), col("embedding").as("vec")),
      q0, probes, k, nCells, d, mSub, codes, rerank)
  }

  /** Bump when the spherical-residual at-rest layout changes. */
  private val SphResCodesLayoutVersion = 1

  /** The spherical-residual codes AT REST: (id, cell, vec, code) with
    * the packed code word, partitionBy(cell) — probe cells prune the
    * scan statically, the cheap pass reads the code columns only
    * (PlanSpec asserts), the original vector rides along for the
    * rescore fetch. */
  def ensureSphericalResidualCodesFixture(spark: SparkSession,
                                          sfDir: String, nCells: Int, d: Int,
                                          mSub: Int, codes: Int): String =
    ensureSphericalResidualCodesFixtureOver(spark, sfDir, "",
      graft.Tables.embeddings(spark, sfDir), nCells, d, mSub, codes)

  /** [[ensureSphericalResidualCodesFixture]] generalized over an
    * explicit (vec_id, embedding) source relation — the WIDE at-rest
    * entry point: the D=1024/3072 rungs build their cell-partitioned
    * layouts from the wide fixture slices instead of the embeddings
    * table. `tag` keeps differently-sourced layouts at the same params
    * in separate published dirs. */
  def ensureSphericalResidualCodesFixtureOver(spark: SparkSession,
                                              sfDir: String, tag: String,
                                              emb: DataFrame, nCells: Int,
                                              d: Int, mSub: Int,
                                              codes: Int): String = {
    import java.nio.file.{Files, Paths}
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_pqsphres_v${SphResCodesLayoutVersion}_$safe$tag" +
        s"_c${nCells}" +
        s"_d${d}_m${mSub}_k${codes}_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "pqsphres-")
      val model = sphericalModel(emb, nCells, d, mSub, codes)
      sphEncode(emb, model, d, mSub, codes)
        .select(col("id"), col("cell"), col("embedding").as("vec"),
          packedCode(mSub, codes).as("code"))
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").partitionBy("cell")
        .option("compression", "zstd").parquet(tmp.toString)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"spherical residual codes publish failed: $path")
    }
    path.toString
  }

  /** A REUSABLE microbatch encoder against an ALREADY-TRAINED spherical
    * model — the train-once / encode-stream production shape: the model
    * is a bounded collect folded into the returned projection as
    * literals, so every microbatch encodes identically to the batch
    * writer (the stream-maintained layout drains row-identical). */
  def sphericalEncoderFor(trainEmb: DataFrame, nCells: Int, d: Int,
                          mSub: Int, codes: Int): DataFrame => DataFrame = {
    val model = sphericalModel(trainEmb, nCells, d, mSub, codes)
    batch =>
      sphEncode(batch.select(col("vec_id"), col("embedding")), model, d,
        mSub, codes)
        .select(col("id"), col("cell"), col("embedding").as("vec"),
          packedCode(mSub, codes).as("code"))
  }

  /** [[topkSphericalResidual]]'s at-rest twin: probe cells collected as
    * a static partition filter, cheap scan over (id, cell, code) only,
    * rescore fetch from the layout's own stored vectors — hash-equal to
    * the in-memory rung (training is deterministic), same oracle. */
  def topkSphericalResidualAtRest(spark: SparkSession, sfDir: String,
                                  emb: DataFrame, nq: Int, k: Int,
                                  nCells: Int, d: Int, nprobe: Int,
                                  mSub: Int, codes: Int,
                                  rerank: Int): DataFrame =
    topkSphericalResidualOffCodes(spark,
      ensureSphericalResidualCodesFixture(spark, sfDir, nCells, d, mSub,
        codes), emb, nq, k, nCells, d, nprobe, mSub, codes, rerank)

  /** The query half against an explicit spherical-codes layout — shared
    * by the batch-built and stream-maintained layouts (identical
    * (id, cell, vec, code) rows once drained: both encode against the
    * same deterministic trained model). */
  def topkSphericalResidualOffCodes(spark: SparkSession, path: String,
                                    emb: DataFrame, nq: Int, k: Int,
                                    nCells: Int, d: Int, nprobe: Int,
                                    mSub: Int, codes: Int,
                                    rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    val model = sphericalModel(emb, nCells, d, mSub, codes)
    val q0 = Ann.queriesOf(emb, nq).select(col("qid"), col("qvec"), col("qn2"))
    val probes = sphProbes(model, q0, d, nprobe, mSub, codes)
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val stored = spark.read.parquet(path)
    val cheapEnc = stored.select(col("id"), col("cell"), col("code"))
      .filter(col("cell").isin(cells.toSeq: _*))
      .select(Seq(col("id"), col("cell")) ++ unpackedCodes(mSub): _*)
    val fetch = stored.filter(col("cell").isin(cells.toSeq: _*))
      .select(col("id"), col("vec"))
    sphServe(model, cheapEnc, fetch, q0, probes, k, nCells, d, mSub,
      codes, rerank)
  }

  /** Bump when the spherical upsert delta layout changes. */
  private val SphUpsertLayoutVersion = 1

  /** The UPDATE commit for the spherical layout: updated rows (ids ≡ 0
    * mod `mod`, v' = −v — negation is float-exact and norm-preserving)
    * RE-ENCODED against the STALE model (trained on the pre-update
    * corpus — the merge-on-read contract: model stale, data fresh) and
    * published as their own cell-partitioned delta. Negation flips every
    * assignment dot, so updated vectors land in NEW cells with NEW
    * codes; the base layout is never touched. */
  def ensureSphericalUpsertDelta(spark: SparkSession, sfDir: String,
                                 nCells: Int, d: Int, mSub: Int,
                                 codes: Int, mod: Int): String = {
    import java.nio.file.{Files, Paths}
    require(mod >= 2, s"mod=$mod")
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_sphupsert_v${SphUpsertLayoutVersion}_${safe}_c${nCells}" +
        s"_d${d}_m${mSub}_k${codes}_u${mod}" +
        s"_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "sphupsert-")
      val emb = graft.Tables.embeddings(spark, sfDir)
      val model = sphericalModel(emb, nCells, d, mSub, codes) // STALE
      val updated = emb.filter(col("vec_id") % mod === 0)
        .withColumn("embedding", transform(col("embedding"), x => -x))
      sphEncode(updated, model, d, mSub, codes)
        .select(col("id"), col("cell"), col("embedding").as("vec"),
          packedCode(mSub, codes).as("code"))
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").partitionBy("cell")
        .option("compression", "zstd").parquet(tmp.toString)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"spherical upsert delta publish failed: $path")
    }
    path.toString
  }

  /** MERGE-ON-READ UPSERT over the spherical codes — the last CRUD verb
    * on the composed cosine layout: the delta's id set anti-joins the
    * base, the re-encoded delta unions in, and the standard
    * probe/cheap/rescore pipeline runs over the merged view with the
    * STALE model. Updated vectors are found in their NEW cells with
    * their NEW codes and rescored against their NEW values — no base
    * rewrite. */
  def topkSphericalResidualAtRestUpserted(spark: SparkSession,
      sfDir: String, emb: DataFrame, nq: Int, k: Int, nCells: Int, d: Int,
      nprobe: Int, mSub: Int, codes: Int, rerank: Int,
      mod: Int): DataFrame = {
    val deltaPath = ensureSphericalUpsertDelta(spark, sfDir, nCells, d,
      mSub, codes, mod)
    sphServeUpsertedOver(spark, sfDir,
      spark.read.parquet(deltaPath)
        .select(col("id"), col("cell"), col("vec"), col("code")),
      emb, nq, k, nCells, d, nprobe, mSub, codes, rerank)
  }

  /** Bump when the spherical versioned upsert log layout changes. */
  private val SphUpsertLogLayoutVersion = 1

  /** The spherical family's VERSIONED update log — the
    * [[ensureVersionedUpsertDeltas]] pattern applied verbatim: the same
    * re-encoded delta rows, each stamped with its commit
    * (1 = ids ≡ 0 mod 2·mod, 2 completes the set), model STALE as in
    * the plain upsert. */
  def ensureSphericalVersionedUpsertDeltas(spark: SparkSession,
      sfDir: String, nCells: Int, d: Int, mSub: Int, codes: Int,
      mod: Int): String = {
    import java.nio.file.{Files, Paths}
    require(mod >= 2, s"mod=$mod")
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_sphupslog_v${SphUpsertLogLayoutVersion}_${safe}_c${nCells}" +
        s"_d${d}_m${mSub}_k${codes}_u${mod}" +
        s"_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "sphupslog-")
      val emb = graft.Tables.embeddings(spark, sfDir)
      val model = sphericalModel(emb, nCells, d, mSub, codes) // STALE
      val updated = emb.filter(col("vec_id") % mod === 0)
        .withColumn("embedding", transform(col("embedding"), x => -x))
      sphEncode(updated, model, d, mSub, codes)
        .select(col("id"), col("cell"), col("embedding").as("vec"),
          packedCode(mSub, codes).as("code"))
        .withColumn("commit_v",
          when(col("id") % (2L * mod) === 0, lit(1)).otherwise(lit(2)))
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").partitionBy("cell")
        .option("compression", "zstd").parquet(tmp.toString)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"spherical versioned upsert log publish failed: $path")
    }
    path.toString
  }

  /** AS-OF serve over the spherical update log: snapshot v = base minus
    * ids updated by commits ≤ v plus those commits' re-encoded rows —
    * the [[topkAtRestUpsertedAsOf]] verb on the composed cosine layout,
    * completing upsert time travel on this family. */
  def topkSphericalResidualAtRestUpsertedAsOf(spark: SparkSession,
      sfDir: String, emb: DataFrame, nq: Int, k: Int, nCells: Int, d: Int,
      nprobe: Int, mSub: Int, codes: Int, rerank: Int,
      mod: Int, asOf: Int): DataFrame = {
    val logPath = ensureSphericalVersionedUpsertDeltas(spark, sfDir,
      nCells, d, mSub, codes, mod)
    sphServeUpsertedOver(spark, sfDir,
      spark.read.parquet(logPath).filter(col("commit_v") <= asOf)
        .select(col("id"), col("cell"), col("vec"), col("code")),
      emb, nq, k, nCells, d, nprobe, mSub, codes, rerank)
  }

  /** The shared upserted-view spherical serve: merge an explicit delta
    * (full or commit-prefix) into the base and run the stale-model
    * probe/cheap/rescore pipeline. */
  private def sphServeUpsertedOver(spark: SparkSession, sfDir: String,
      delta: DataFrame, emb: DataFrame, nq: Int, k: Int, nCells: Int,
      d: Int, nprobe: Int, mSub: Int, codes: Int,
      rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    val basePath = ensureSphericalResidualCodesFixture(spark, sfDir,
      nCells, d, mSub, codes)
    val cols = Seq(col("id"), col("cell"), col("vec"), col("code"))
    val base = spark.read.parquet(basePath).select(cols: _*)
    // no broadcast hint: the upsert delta is corpus-fraction-sized (a
    // mod of the table), AQE sizes the anti-join at runtime
    val live = base
      .join(delta.select(col("id")), Seq("id"), "left_anti")
      .unionByName(delta)
    val model = sphericalModel(emb, nCells, d, mSub, codes) // STALE
    val q0 = Ann.queriesOf(emb, nq).select(col("qid"), col("qvec"), col("qn2"))
    val probes = sphProbes(model, q0, d, nprobe, mSub, codes)
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val pruned = live.filter(col("cell").isin(cells.toSeq: _*))
    val cheapEnc = pruned
      .select(Seq(col("id"), col("cell")) ++ unpackedCodes(mSub): _*)
    val fetch = pruned.select(col("id"), col("vec"))
    sphServe(model, cheapEnc, fetch, q0, probes, k, nCells, d, mSub,
      codes, rerank)
  }

  /** [[topkSphericalResidualAtRest]] with merge-on-read DELETES: the
    * tombstone sidecar ([[ensureTombstones]] on the spherical layout) is
    * anti-joined out of BOTH the cheap candidates and the rescore fetch,
    * while the TRAINED MODEL and cell assignment stay STALE — training
    * predates the delete commit, exactly as the lexical index's df/sumdl
    * stay stale until compaction. Code files byte-immutable. */
  def topkSphericalResidualAtRestWithDeletes(spark: SparkSession,
      sfDir: String, emb: DataFrame, nq: Int, k: Int, nCells: Int, d: Int,
      nprobe: Int, mSub: Int, codes: Int, rerank: Int,
      deleteMod: Int): DataFrame = {
    val path = ensureSphericalResidualCodesFixture(spark, sfDir, nCells, d,
      mSub, codes)
    val tombs = spark.read.parquet(ensureTombstones(spark, path, deleteMod))
    topkSphericalResidualOffCodesWithTombs(spark, path, tombs, emb, nq, k,
      nCells, d, nprobe, mSub, codes, rerank)
  }

  /**
   * AS-OF (time-travel) serve on the SPHERICAL layout — the last CRUD
   * verb the composed cosine index was missing: the append-only
   * versioned delete log ([[ensureVersionedTombstones]], the same
   * commit-history sidecar the L2 PQ family serves
   * `q_ann_pq_delete_asof` from) applies only commits with
   * `commit_v <= asOf` — asOf 0 is the pre-delete snapshot, the latest
   * asOf equals the plain merge-on-read delete query. The snapshot
   * choice is a filter on the bounded sidecar BEFORE the anti-join;
   * the immutable cell-partitioned base layout is shared by every
   * snapshot, and the trained model stays STALE for all of them.
   */
  def topkSphericalResidualAtRestWithDeletesAsOf(spark: SparkSession,
      sfDir: String, emb: DataFrame, nq: Int, k: Int, nCells: Int, d: Int,
      nprobe: Int, mSub: Int, codes: Int, rerank: Int,
      deleteMod: Int, asOf: Int): DataFrame = {
    val path = ensureSphericalResidualCodesFixture(spark, sfDir, nCells, d,
      mSub, codes)
    val tombs = spark.read
      .parquet(ensureVersionedTombstones(spark, path, deleteMod))
      .filter(col("commit_v") <= asOf).select(col("id"))
    topkSphericalResidualOffCodesWithTombs(spark, path, tombs, emb, nq, k,
      nCells, d, nprobe, mSub, codes, rerank)
  }

  /** The shared tombstone-aware spherical serve: an explicit (id) delete
    * relation anti-joined out of BOTH the cheap candidates and the
    * rescore fetch, model and cell assignment stale. */
  private def topkSphericalResidualOffCodesWithTombs(spark: SparkSession,
      path: String, tombs: DataFrame, emb: DataFrame, nq: Int, k: Int,
      nCells: Int, d: Int, nprobe: Int, mSub: Int, codes: Int,
      rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    val model = sphericalModel(emb, nCells, d, mSub, codes)
    val q0 = Ann.queriesOf(emb, nq).select(col("qid"), col("qvec"), col("qn2"))
    val probes = sphProbes(model, q0, d, nprobe, mSub, codes)
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val stored = spark.read.parquet(path)
    // no broadcast hint on either anti-join: the tombstone set is
    // corpus-fraction-sized, AQE picks the strategy from its runtime size
    val cheapEnc = stored.select(col("id"), col("cell"), col("code"))
      .filter(col("cell").isin(cells.toSeq: _*))
      .join(tombs.select(col("id")), Seq("id"), "left_anti")
      .select(Seq(col("id"), col("cell")) ++ unpackedCodes(mSub): _*)
    val fetch = stored.filter(col("cell").isin(cells.toSeq: _*))
      .join(tombs.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("vec"))
    sphServe(model, cheapEnc, fetch, q0, probes, k, nCells, d, mSub,
      codes, rerank)
  }

  // --- codebook training ------------------------------------------------

  /**
   * One Lloyd iteration of the PRODUCT-QUANTIZER codebooks — the FAISS
   * `ProductQuantizer::train` step the deterministic dyadic codebooks
   * above stand in for: assign every vector's m-th subvector to its
   * nearest current code (the dyadic init), then emit the retrained
   * centroid components as per-(subspace, code, dimension) means —
   * rows (m, code, j, n, mean); codes that attract no subvectors drop,
   * exactly as empty cells do in [[Ivf.kmeansStep]].
   *
   * A float mean is order-dependent, so the sum pins its order with
   * [[TrainFold.orderedSums]]'s streaming sorted-group fold —
   * bit-identical at any parallelism, mirrored in DuckDB by
   * `list(x ORDER BY vec_id)` + `list_reduce`, and O(1) per-group
   * state rather than a whole code cluster per buffer, so the graded
   * plan IS the 100 TB plan (which additionally trains on a bounded
   * SAMPLE — FAISS defaults to ~256 training vectors per centroid).
   *
   * Reference context: ANNCode.py:288-318's precision rungs are
   * data-independent bit manipulations; a trained codebook is how the
   * PQ rung earns its bits on a real distribution.
   */
  def trainStep(emb: DataFrame, mSub: Int, codes: Int, d: Int): DataFrame = {
    require(d % mSub == 0, s"d=$d not divisible by m=$mSub")
    val sub = d / mSub
    val enc = emb
      .select(col("vec_id").as("id") +: col("embedding") +:
        distCols(col("embedding"), mSub, codes, sub): _*)
      .select(col("id") +: col("embedding") +:
        (0 until mSub).map(argminCode(_, codes)): _*)
    TrainFold.orderedSums(
      enc
        .select(col("id"),
          array((0 until mSub).map(m => col(s"code_$m")): _*).as("cds"),
          posexplode(col("embedding")))
        .select(
          (col("pos") / lit(sub)).cast("int").as("m"),
          element_at(col("cds"),
            (col("pos") / lit(sub)).cast("int") + 1).as("code"),
          (col("pos") % lit(sub) + 1).cast("int").as("j"),
          col("id"), col("col").cast("double").as("x")),
      Seq("m", "code", "j"), "id", Seq("x" -> "s"))
      .select(col("m"), col("code"), col("j"), col("n"),
        (col("s") / col("n").cast("double")).as("mean"))
  }

  /**
   * Quantization-error ANALYZE for the PQ rung: per-subspace sum of
   * squared reconstruction errors under the dyadic INIT codebooks vs
   * the [[trainStep]]-RETRAINED ones (each vector re-assigned to its
   * nearest trained code) — rows (m, n, init_sse, trained_sse). This
   * quantifies what training buys: by Lloyd's monotonicity
   * (means minimize within-cluster SSE, re-assignment only shrinks
   * it), trained_sse <= init_sse in every subspace (spec-asserted).
   *
   * Both SSE sums are [[TrainFold]] sorted-group folds (the
   * [[trainStep]] discipline) — partition-count-invariant,
   * DuckDB-mirrored, and O(1) per-group state even though each
   * subspace's ledger spans the whole corpus.
   */
  def distortion(emb: DataFrame, mSub: Int, codes: Int, d: Int): DataFrame = {
    require(d % mSub == 0, s"d=$d not divisible by m=$mSub")
    val sub = d / mSub
    val tr = trainStep(emb, mSub, codes, d).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(4))
      .toMap
    require(tr.nonEmpty, "distortion: empty corpus — nothing was trained")
    val live: Map[Int, Seq[Int]] = (0 until mSub).map(m =>
      m -> tr.keys.collect { case (`m`, c, _) => c }.toSeq.distinct.sorted)
      .toMap
    def tDist(v: Column, m: Int, c: Int): Column =
      (1 to sub).map { j =>
        val x = element_at(v, m * sub + j).cast("double") - lit(tr((m, c, j)))
        x * x
      }.reduce(_ + _)
    def minOf(cols: Seq[Column]): Column =
      if (cols.size == 1) cols.head else least(cols: _*)
    val scored = emb
      .select(col("vec_id").as("id") +: col("embedding") +:
        distCols(col("embedding"), mSub, codes, sub): _*)
      .select(col("id") +: col("embedding") +:
        (0 until mSub).map(m => minOf((0 until codes)
          .map(c => col(s"d_${m}_$c"))).as(s"di_$m")): _*)
      .select(col("id") +:
        (0 until mSub).map(m => col(s"di_$m")) ++:
        (for (m <- 0 until mSub; c <- live(m))
          yield tDist(col("embedding"), m, c).as(s"dt_${m}_$c")): _*)
      .select(col("id"), explode(array((0 until mSub).map(m =>
        struct(lit(m).as("m"), col(s"di_$m").as("di"),
          minOf(live(m).map(c => col(s"dt_${m}_$c"))).as("dt"))): _*)).as("e"))
      .select(col("id"), col("e.m").as("m"), col("e.di"), col("e.dt"))
    TrainFold.orderedSums(scored, Seq("m"), "id",
      Seq("di" -> "init_sse", "dt" -> "trained_sse"))
      .select(col("m"), col("n"), col("init_sse"), col("trained_sse"))
  }

  /**
   * IVF-PQ served with the RETRAINED codebooks — [[trainStep]]'s means
   * become the quantizer of the full query path: per-subspace encode
   * (argmin over the trained centroids, ties to the smaller code),
   * trained query-side ADC table, rerank-deep cut, exact rescore. The
   * trained model is a BOUNDED driver-side collect (<= m·codes·sub
   * doubles — broadcast the model, never the data) baked into the
   * encode/ADC expressions as literals; every distance, table entry,
   * and reconstruction norm folds left-to-right (subspaces in m order,
   * dims in j order) so the DuckDB mirror — which re-derives the same
   * means as a CTE — rounds identically. Coarse cells stay the
   * untrained quantizer ([[Ivf.topkLloyd]] covers the trained coarse
   * rung); approximation comes from nprobe and the rerank cut only
   * (spec: full-depth rerank over full probes recovers the exact scan).
   */
  def topkTrained(emb: DataFrame, nq: Int, k: Int, nCells: Int, d: Int,
                  nprobe: Int, mSub: Int, codes: Int,
                  rerank: Int, sampleEvery: Int = 1): DataFrame = {
    require(d % mSub == 0, s"d=$d not divisible by m=$mSub")
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    require(sampleEvery >= 1, s"sampleEvery=$sampleEvery")
    val sub = d / mSub
    val V = graft.functions.VectorOps
    // SAMPLED codebook training (sampleEvery > 1) — the FAISS-standard
    // 100 TB training path: the Lloyd pass runs over the deterministic
    // counter-keyed sample (ids ≡ 0 mod sampleEvery — partitioning-
    // invariant, oracle-mirrorable), then EVERYTHING is encoded and
    // served with the sample-trained codebooks. Training cost becomes
    // one pass over the bounded sample instead of the corpus; encode
    // and serve are unchanged.
    val trainSet =
      if (sampleEvery <= 1) emb
      else emb.filter(col("vec_id") % sampleEvery === 0)
    val t = trainedOf(trainSet, mSub, codes, d)
    val enc = Ivf.assign(emb, nCells, d)
      .select(col("id") +: col("cell") +:
        (for (m <- 0 until mSub; c <- t.live(m))
          yield tDistExpr(t, sub)(col("embedding"), m, c).as(s"d_${m}_$c")): _*)
      .select(col("id") +: col("cell") +:
        (0 until mSub).map(argminLive(t)): _*)
    val q = Ann.queriesOf(emb, nq).select(col("qid"), col("qvec"), col("qn2"))
    val probes = broadcast(Ivf.probeCells(q, nCells, d, nprobe)
      .select(col("qid"), col("cell"))
      .join(q, Seq("qid"))
      .select(col("qid") +: col("cell") +: col("qn2") +:
        (for (m <- 0 until mSub; c <- t.live(m))
          yield tAdcExpr(t, sub)(col("qvec"), m, c).as(s"t_${m}_$c")): _*))
    val sHatNum = (0 until mSub).map(pickLive(t)).reduceLeft(_ + _)
    val n2hat = (0 until mSub).map(pickN2Live(t, sub)).reduceLeft(_ + _)
    val cheap = enc.join(probes, Seq("cell"))
      .withColumn("score", sHatNum / (V.fnorm(n2hat) * V.fnorm(col("qn2"))))
    val cand = TopK.window(cheap, rerank).select(col("qid"), col("id"))
    val rescored = emb
      .select(col("vec_id").as("id"), col("embedding"),
        V.norm2Sq(col("embedding")).as("n2"))
      .join(broadcast(cand), Seq("id"))
      .join(broadcast(q.withColumnRenamed("qvec", "qvec_")
        .withColumnRenamed("qn2", "qn2_")), Seq("qid"))
      .withColumn("score", V.dot(col("embedding"), col("qvec_")) /
        (V.fnorm(col("n2")) * V.fnorm(col("qn2_"))))
    TopK.window(rescored, k)
  }

  // --- trained codebooks AT REST ----------------------------------------

  /** The bounded trained-codebook model: per-(m, code, j) means from
    * [[trainStep]] plus each subspace's LIVE code set (codes that
    * attracted at least one subvector — empty codes drop, as empty
    * cells do in Lloyd). A driver-side collect of <= m·codes·sub
    * doubles — broadcast the model, never the data. */
  private[graft] final case class Trained(
      tr: Map[(Int, Int, Int), Double], live: Map[Int, Seq[Int]])

  private def trainedOf(emb: DataFrame, mSub: Int, codes: Int,
                        d: Int): Trained = {
    val tr = trainStep(emb, mSub, codes, d).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(4))
      .toMap
    require(tr.nonEmpty, "trained codebook: empty corpus — nothing trained")
    val live = (0 until mSub).map(m =>
      m -> tr.keys.collect { case (`m`, c, _) => c }.toSeq.distinct.sorted)
      .toMap
    Trained(tr, live)
  }

  /** ||subvector - trained_code||^2, dims folded in j order. */
  private def tDistExpr(t: Trained, sub: Int)(v: Column, m: Int,
                                              c: Int): Column =
    (1 to sub).map { j =>
      val x = element_at(v, m * sub + j).cast("double") - lit(t.tr((m, c, j)))
      x * x
    }.reduce(_ + _)

  /** Query-side trained ADC entry <q_m, code_c>, dims in j order. */
  private def tAdcExpr(t: Trained, sub: Int)(qv: Column, m: Int,
                                             c: Int): Column =
    (1 to sub).map { j =>
      element_at(qv, m * sub + j).cast("double") * lit(t.tr((m, c, j)))
    }.reduce(_ + _)

  /** ||trained code||^2 (driver-side — model constants). */
  private def tN2Of(t: Trained, sub: Int)(m: Int, c: Int): Double = {
    var s = 0.0
    var j = 1
    while (j <= sub) { val v = t.tr((m, c, j)); s += v * v; j += 1 }
    s
  }

  /** Per-subspace argmin over the LIVE trained codes, ties to the
    * smaller code (expects d_{m}_{c} distance columns in scope). */
  private def argminLive(t: Trained)(m: Int): Column = t.live(m) match {
    case Seq(only) => lit(only).as(s"code_$m")
    case cs =>
      val least0 = least(cs.map(c => col(s"d_${m}_$c")): _*)
      cs.foldRight(lit(-1)) { (c, rest) =>
        when(col(s"d_${m}_$c") === least0, lit(c)).otherwise(rest)
      }.as(s"code_$m")
  }

  private def pickLive(t: Trained)(m: Int): Column =
    t.live(m).foldRight(lit(0.0)) { (c, rest) =>
      when(col(s"code_$m") === c, col(s"t_${m}_$c")).otherwise(rest)
    }

  private def pickN2Live(t: Trained, sub: Int)(m: Int): Column =
    t.live(m).foldRight(lit(0.0)) { (c, rest) =>
      when(col(s"code_$m") === c, lit(tN2Of(t, sub)(m, c))).otherwise(rest)
    }

  /** (id, cell, vec, code): the TRAINED encode projection — coarse
    * assignment, per-subspace argmin over the live trained codes,
    * packed word — [[encodeCodes]]'s twin at the trained rung. */
  def encodeTrainedCodes(emb: DataFrame, nCells: Int, d: Int, mSub: Int,
                         codes: Int): DataFrame = {
    require(d % mSub == 0, s"d=$d not divisible by m=$mSub")
    val sub = d / mSub
    val t = trainedOf(emb, mSub, codes, d)
    Ivf.assign(emb, nCells, d)
      .select(col("id") +: col("cell") +: col("embedding") +:
        (for (m <- 0 until mSub; c <- t.live(m))
          yield tDistExpr(t, sub)(col("embedding"), m, c).as(s"d_${m}_$c")): _*)
      .select(col("id") +: col("cell") +: col("embedding") +:
        (0 until mSub).map(argminLive(t)): _*)
      .select(col("id"), col("cell"), col("embedding").as("vec"),
        packedCode(mSub, codes).as("code"))
  }

  /**
   * TRAIN, THEN PERSIST THE TRAINED CODES — the composition a
   * production deployment actually ships: [[trainStep]]'s codebooks
   * (a bounded driver-side collect, deterministic so the layout needs
   * no model sidecar) encode the corpus once, and the trained codes
   * land cell-partitioned exactly like [[ensureCodesFixture]] — probe
   * pruning stays Parquet partition pruning, the cheap pass still
   * reads only the 4-byte packed word. Immutable version-named dir,
   * atomic scratch publish.
   */
  def ensureTrainedCodesFixture(spark: SparkSession, sfDir: String,
                                nCells: Int, d: Int, mSub: Int,
                                codes: Int): String = {
    import java.nio.file.{Files, Paths}
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_pqtrained_v${CodesLayoutVersion}_${safe}_c${nCells}_d${d}" +
        s"_m${mSub}_k${codes}_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "pqtrained-")
      encodeTrainedCodes(graft.Tables.embeddings(spark, sfDir), nCells, d,
        mSub, codes)
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").partitionBy("cell")
        .option("compression", "zstd").parquet(tmp.toString)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"trained pq codes publish failed: $path")
    }
    path.toString
  }

  /**
   * IVF-PQ served with RETRAINED codebooks OFF THE AT-REST TRAINED
   * CODES — the at-rest twin of [[topkTrained]], returning identical
   * rows (the training is deterministic, so the re-derived ADC model
   * matches the persisted codes bit-for-bit; spec-asserted). The cheap
   * pass scans only (id, code) from the probed cells' files with a
   * static partition filter; the rescore fetch reads (id, vec) for the
   * bounded survivor set under the same filter. The full lifecycle —
   * train → persist trained codes → serve off the layout — in one
   * call, each stage the production shape.
   */
  def topkTrainedAtRest(spark: SparkSession, sfDir: String, emb: DataFrame,
                        nq: Int, k: Int, nCells: Int, d: Int, nprobe: Int,
                        mSub: Int, codes: Int, rerank: Int): DataFrame = {
    require(d % mSub == 0, s"d=$d not divisible by m=$mSub")
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    val sub = d / mSub
    val V = graft.functions.VectorOps
    val path = ensureTrainedCodesFixture(spark, sfDir, nCells, d, mSub, codes)
    val t = trainedOf(emb, mSub, codes, d)
    val stored = spark.read.parquet(path)
    val q = Ann.queriesOf(emb, nq).select(col("qid"), col("qvec"), col("qn2"))
    val probeSet = Ivf.probeCells(q, nCells, d, nprobe)
      .select(col("qid"), col("cell"))
    // bounded collect (<= nq * nprobe values) -> static partition filter
    val cells = probeSet.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val probes = broadcast(probeSet
      .join(q, Seq("qid"))
      .select(col("qid") +: col("cell") +: col("qn2") +:
        (for (m <- 0 until mSub; c <- t.live(m))
          yield tAdcExpr(t, sub)(col("qvec"), m, c).as(s"t_${m}_$c")): _*))
    val sHatNum = (0 until mSub).map(pickLive(t)).reduceLeft(_ + _)
    val n2hat = (0 until mSub).map(pickN2Live(t, sub)).reduceLeft(_ + _)
    val cheap = stored.select(col("id"), col("cell"), col("code"))
      .filter(col("cell").isin(cells.toSeq: _*))
      .select(Seq(col("id"), col("cell")) ++ unpackedCodes(mSub): _*)
      .join(probes, Seq("cell"))
      .withColumn("score", sHatNum / (V.fnorm(n2hat) * V.fnorm(col("qn2"))))
    val cand = TopK.window(cheap, rerank).select(col("qid"), col("id"))
    val rescored = stored
      .filter(col("cell").isin(cells.toSeq: _*))
      .select(col("id"), col("vec"), V.norm2Sq(col("vec")).as("n2"))
      .join(broadcast(cand), Seq("id"))
      .join(broadcast(q.withColumnRenamed("qvec", "qvec_")
        .withColumnRenamed("qn2", "qn2_")), Seq("qid"))
      .withColumn("score", V.dot(col("vec"), col("qvec_")) /
        (V.fnorm(col("n2")) * V.fnorm(col("qn2_"))))
    TopK.window(rescored, k)
  }

  /** (id, cell, vec, code) in the TRAINED-OPQ space: the corpus is
    * permuted by [[trainedPermutation]] (re-derived — deterministic, so
    * the layout needs no transform sidecar), coarse-assigned and
    * PQ-encoded in permuted space, while `vec` keeps the ORIGINAL
    * embedding (the transform is orthogonal, so the exact rescore
    * never needs the permuted copy). */
  def encodeOpqCodes(emb: DataFrame, nCells: Int, d: Int, mSub: Int,
                     codes: Int): DataFrame = {
    require(d % mSub == 0, s"d=$d not divisible by m=$mSub")
    val sub = d / mSub
    val perm = trainedPermutation(emb, d, mSub)
    val sign = Array.fill(d)(1)
    val tEmb = emb.select(col("vec_id"), col("embedding").as("orig"),
      permuteVec(col("embedding"), perm, sign).as("embedding"))
    Ivf.assign(tEmb.select(col("vec_id"), col("embedding")), nCells, d)
      .join(tEmb.select(col("vec_id").as("id"), col("orig")), Seq("id"))
      .select(col("id") +: col("cell") +: col("orig") +:
        distCols(col("embedding"), mSub, codes, sub): _*)
      .select(col("id") +: col("cell") +: col("orig") +:
        (0 until mSub).map(argminCode(_, codes)): _*)
      .select(col("id"), col("cell"), col("orig").as("vec"),
        packedCode(mSub, codes).as("code"))
  }

  /** TRAIN THE TRANSFORM, THEN PERSIST the permuted-space codes — the
    * OPQ stage of the lifecycle at rest, completing the trained-layout
    * family ([[ensureTrainedCodesFixture]], `Ivf.ensureSq8TrainedCodes`):
    * cell-partitioned like every code layout, immutable version-named
    * dir, atomic scratch publish. */
  def ensureOpqCodesFixture(spark: SparkSession, sfDir: String,
                            nCells: Int, d: Int, mSub: Int,
                            codes: Int): String = {
    import java.nio.file.{Files, Paths}
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_pqopq_v${CodesLayoutVersion}_${safe}_c${nCells}_d${d}" +
        s"_m${mSub}_k${codes}_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "pqopq-")
      encodeOpqCodes(graft.Tables.embeddings(spark, sfDir), nCells, d,
        mSub, codes)
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").partitionBy("cell")
        .option("compression", "zstd").parquet(tmp.toString)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"opq codes publish failed: $path")
    }
    path.toString
  }

  /**
   * TRAINED-OPQ IVF-PQ OFF THE AT-REST CODES — the at-rest twin of
   * [[topkOpqTrained]], returning identical rows (the permutation is
   * deterministic, so the serve-time transform matches the persisted
   * codes; spec-asserted). Probe selection and the ADC table run in
   * permuted space against the query's permuted copy; the cheap pass
   * reads only (id, code) from the probed cells with a static
   * partition filter; the exact rescore reads the original vectors
   * for the bounded survivor set — orthogonality makes the two spaces'
   * cosines identical, so the permuted corpus copy is never stored.
   */
  def topkOpqAtRest(spark: SparkSession, sfDir: String, emb: DataFrame,
                    nq: Int, k: Int, nCells: Int, d: Int, nprobe: Int,
                    mSub: Int, codes: Int, rerank: Int): DataFrame = {
    require(d % mSub == 0, s"d=$d not divisible by m=$mSub")
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    val sub = d / mSub
    val V = graft.functions.VectorOps
    val path = ensureOpqCodesFixture(spark, sfDir, nCells, d, mSub, codes)
    val perm = trainedPermutation(emb, d, mSub)
    val sign = Array.fill(d)(1)
    val stored = spark.read.parquet(path)
    val q = Ann.queriesOf(emb, nq).select(col("qid"), col("qvec"), col("qn2"))
    val tq = q.select(col("qid"),
      permuteVec(col("qvec"), perm, sign).as("qvec"), col("qn2"))
    val probeSet = Ivf.probeCells(tq, nCells, d, nprobe)
      .select(col("qid"), col("cell"))
    val cells = probeSet.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val probes = broadcast(probeSet
      .join(tq, Seq("qid"))
      .select(col("qid") +: col("cell") +: col("qn2") +:
        adcTable(col("qvec"), mSub, codes, sub): _*))
    val sHatNum = (0 until mSub).map(pick(_, codes)).reduceLeft(_ + _)
    val n2hat = (0 until mSub).map(pickN2(_, codes, sub)).reduceLeft(_ + _)
    val cheap = stored.select(col("id"), col("cell"), col("code"))
      .filter(col("cell").isin(cells.toSeq: _*))
      .select(Seq(col("id"), col("cell")) ++ unpackedCodes(mSub): _*)
      .join(probes, Seq("cell"))
      .withColumn("score", sHatNum / (V.fnorm(n2hat) * V.fnorm(col("qn2"))))
    val cand = TopK.window(cheap, rerank).select(col("qid"), col("id"))
    val rescored = stored
      .filter(col("cell").isin(cells.toSeq: _*))
      .select(col("id"), col("vec"), V.norm2Sq(col("vec")).as("n2"))
      .join(broadcast(cand), Seq("id"))
      .join(broadcast(q.withColumnRenamed("qvec", "qvec_")
        .withColumnRenamed("qn2", "qn2_")), Seq("qid"))
      .withColumn("score", V.dot(col("vec"), col("qvec_")) /
        (V.fnorm(col("n2")) * V.fnorm(col("qn2_"))))
    TopK.window(rescored, k)
  }
}
