package graft.operators

import org.apache.spark.sql.{DataFrame, Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps._

/**
 * The query-side search surface a vector database exposes beyond plain
 * top-k: metadata-filtered search, range (radius) search, lexical BM25
 * retrieval, and hybrid rank fusion. The reference engine serves the
 * vector half of this surface (ANNCode.py top-k scans); filtered/range
 * search and lexical+hybrid retrieval are the canonical companions every
 * production deployment pairs with it.
 *
 * Scale notes (100 TB):
 *  - [[filteredTopK]] applies the metadata predicate BEFORE any distance
 *    arithmetic — the pre-filter strategy. The metadata join is an
 *    equi-join on the vector id (bucket both sides by id at rest and it
 *    is exchange-free); the predicate then prunes candidates so scoring
 *    work scales with selectivity, not corpus size. With metadata stored
 *    in the index layout (see [[Ivf.ensureIndex]]) the predicate pushes
 *    into the Parquet scan itself.
 *  - [[rangeSearch]] is a broadcast scan: NQ query vectors broadcast,
 *    the corpus streams once, no shuffle before the final (small) result.
 *    For *pair-wise* radius search over the whole corpus use
 *    [[Ann.nearDupPairs]]' banded equi-join instead — never all-pairs.
 *  - [[bm25]] is two passes: one tiny global aggregate (corpus stats, a
 *    handful of longs) and one map-side scoring pass with the stats
 *    broadcast as literals. Per-term tf is computed inside the row —
 *    no posting-list shuffle at all for a fixed query's term set.
 *  - [[hybridRrf]] fuses bounded top-N lists (N rows per retriever), so
 *    the fusion join is trivially broadcast-able regardless of corpus
 *    size.
 *
 * Determinism: BM25's idf is the one transcendental (ln) in the engine's
 * scoring surface, and DuckDB's `ln` is not bit-identical to the JVM's
 * `Math.log` (measured: 6/5001 inputs differ in the last ulp). The idf
 * constants are therefore computed ONCE driver-side from the collected
 * (N, df) corpus stats and embedded as double literals in both engines'
 * plans — the same shared-constant discipline as `Refine.hoeffConst`.
 * Everything else is exact-integer arithmetic, IEEE mul/div trees
 * written with identical association in both engines, or two-term sums
 * of such — all bit-reproducible.
 */
object Search {

  /** Term -> bucket keys, computed by the SAME codegen'd `hash`
    * expression the postings writer used (never a driver-side Murmur3
    * re-implementation) and MEMOIZED per (term, nBuckets): the probe is
    * a 1-row job, but every retrieval plan-build was re-running it for
    * terms whose bucket can never change — the memo makes repeat
    * invocations (serving loops, the bench) zero-job here. */
  private val bucketCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), Int]()

  private def termBuckets(spark: SparkSession, terms: Seq[String],
                          nBuckets: Int): Seq[Int] = {
    val missing = terms.filter(t => !bucketCache.containsKey((t, nBuckets)))
    if (missing.nonEmpty) {
      val row = spark.range(1).select(missing.map(t =>
        pmod(hash(lit(t)), lit(nBuckets))): _*).collect()(0)
      missing.zipWithIndex.foreach { case (t, i) =>
        bucketCache.put((t, nBuckets), row.getInt(i)) }
    }
    terms.map(t => bucketCache.get((t, nBuckets))).distinct
  }

  // ---- shared scoring helpers -----------------------------------------

  private def fn(c: Column): Column = graft.functions.VectorOps.fnorm(c)

  private def cosScore: Column =
    dot(col("embedding"), col("qvec")) / (fn(col("n2")) * fn(col("qn2")))

  private def candSide(emb: DataFrame): DataFrame =
    emb.select(col("vec_id").as("id"), col("embedding"),
      norm2Sq(col("embedding")).as("n2"))

  // ---- filtered ANN ----------------------------------------------------

  /**
   * GROUPED (faceted) top-k: the best k per (query, facet) in one pass —
   * the "top results per language / per source / per category" surface a
   * retrieval UI asks for. One scored scan ranked by a window over
   * (qid, facet): Catalyst's WindowGroupLimit pushes the per-group cut
   * map-side exactly as for the global top-k, so each (partition, qid,
   * facet) ships ~k rows into the single exchange — no per-facet
   * rescans, and facet cardinality only widens the (bounded) result.
   * Returns (qid, lang, rank, id, score), rank 1..k within each facet.
   */
  def groupedTopK(emb: DataFrame, docMeta: DataFrame, nq: Int,
                  k: Int): DataFrame = {
    val meta = docMeta.select(col("doc_id").as("id"), col("lang"))
    val q = broadcast(Ann.queriesOf(emb, nq)
      .select(col("qid"), col("qvec"), col("qn2")))
    val scored = candSide(emb).join(meta, Seq("id")).crossJoin(q)
      .withColumn("score", cosScore)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"), col("lang"))
      .orderBy(col("score").desc, col("id").asc)
    scored.select(col("qid"), col("lang"), col("id"), col("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("lang"), col("rank"), col("id"), col("score"))
  }

  /**
   * PER-QUERY PAGE SIZE — the k itself as a relation: `ks` is a
   * (qid, k) table and each query returns ITS OWN top-k (a result-size
   * knob per request, the way every serving API binds `size`/`top_k`
   * per call). One scored scan ranked once to the LARGEST requested k
   * (the per-(partition, qid) WindowGroupLimit cut is max-k deep), then
   * each qid keeps its own prefix — rank semantics identical to running
   * that qid alone at its k. Output (qid, rank, id, score).
   */
  def topKMulti(emb: DataFrame, ks: Seq[(Long, Int)]): DataFrame = {
    require(ks.nonEmpty, "topKMulti: empty page-size relation")
    val spark = emb.sparkSession
    import spark.implicits._
    val nq = (ks.map(_._1).max + 1).toInt
    val maxK = ks.map(_._2).max
    Ann.bruteTopK(emb, nq, maxK)
      .join(broadcast(ks.toDF("qid", "kq")), Seq("qid"))
      .filter(col("rank") <= col("kq"))
      .select(col("qid"), col("rank"), col("id"), col("score"))
  }

  /**
   * Metadata-filtered exact top-k: only candidates whose joined metadata
   * passes the predicate are scored; queries search the unfiltered space.
   * Returns (qid, rank, id, score, lang), rank 1..k within the filtered
   * candidate set.
   */
  def filteredTopK(emb: DataFrame, docMeta: DataFrame, nq: Int, k: Int,
                   langs: Seq[String]): DataFrame = {
    val meta = docMeta.select(col("doc_id").as("id"), col("lang"))
    val q = broadcast(Ann.queriesOf(emb, nq)
      .select(col("qid"), col("qvec"), col("qn2")))
    val cand = candSide(emb)
      .join(meta, Seq("id"))
      .filter(col("lang").isin(langs: _*))
    val scored = cand.crossJoin(q).withColumn("score", cosScore)
    val ranked = TopK.window(scored, k)
    // re-attach the (tiny, filtered) metadata for the result surface
    ranked.join(meta.filter(col("lang").isin(langs: _*)), Seq("id"))
      .select(col("qid"), col("rank"), col("id"), col("score"), col("lang"))
  }

  /**
   * PER-QUERY metadata filters — the filter surface as a RELATION:
   * `filters` is a (qid, lang) table and each query searches only docs
   * whose lang is in ITS OWN set (the way a real multi-tenant serving
   * API binds a distinct predicate per request), all queries in one
   * plan. [[filteredTopK]] generalized exactly as the lexical rung's
   * [[bm25Multi]] generalizes [[bm25]]: the bounded filter relation
   * broadcasts, candidacy is one (qid, lang) equi-join applied BEFORE
   * any distance arithmetic (scoring work scales with each query's own
   * selectivity), ranks cut per qid map-side.
   * Output (qid, rank, id, score, lang).
   */
  def filteredTopKMulti(emb: DataFrame, docMeta: DataFrame,
                        filters: Seq[(Long, String)], k: Int): DataFrame = {
    require(filters.nonEmpty, "filteredTopKMulti: empty filter relation")
    val spark = emb.sparkSession
    import spark.implicits._
    val nq = (filters.map(_._1).max + 1).toInt
    val meta = docMeta.select(col("doc_id").as("id"), col("lang"))
    val q = broadcast(Ann.queriesOf(emb, nq)
      .select(col("qid"), col("qvec"), col("qn2")))
    val qf = broadcast(filters.toDF("qid", "lang"))
    val scored = candSide(emb).join(meta, Seq("id"))
      .crossJoin(q)
      .join(qf, Seq("qid", "lang"))
      .withColumn("score", cosScore)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("id").asc)
    scored.select(col("qid"), col("lang"), col("id"), col("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("score"), col("lang"))
  }

  /**
   * PER-QUERY FACETED (grouped) top-k — the grouped member of the
   * multi-query relation matrix: `facets` is a (qid, lang) table and
   * each query gets the best `k` PER (qid, lang) facet OF ITS OWN SET —
   * [[groupedTopK]] (fixed facet axis for every query) generalized the
   * way [[filteredTopKMulti]] generalizes [[filteredTopK]]. One scored
   * scan: the bounded facet relation broadcasts, candidacy is the
   * (qid, lang) equi-join applied BEFORE any distance arithmetic, and
   * the per-(qid, facet) cut is a window over (qid, lang) —
   * WindowGroupLimit pushes it map-side, so each (partition, qid, lang)
   * ships ~k rows into the single exchange. Facet cardinality only
   * widens the bounded result, never re-scans.
   * Output (qid, lang, rank, id, score), rank 1..k within each
   * (qid, lang).
   */
  def groupedTopKMulti(emb: DataFrame, docMeta: DataFrame,
                       facets: Seq[(Long, String)], k: Int): DataFrame = {
    require(facets.nonEmpty, "groupedTopKMulti: empty facet relation")
    val spark = emb.sparkSession
    import spark.implicits._
    val nq = (facets.map(_._1).max + 1).toInt
    val meta = docMeta.select(col("doc_id").as("id"), col("lang"))
    val q = broadcast(Ann.queriesOf(emb, nq)
      .select(col("qid"), col("qvec"), col("qn2")))
    val qf = broadcast(facets.toDF("qid", "lang"))
    val scored = candSide(emb).join(meta, Seq("id"))
      .crossJoin(q)
      .join(qf, Seq("qid", "lang"))
      .withColumn("score", cosScore)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"), col("lang"))
      .orderBy(col("score").desc, col("id").asc)
    scored.select(col("qid"), col("lang"), col("id"), col("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("lang"), col("rank"), col("id"), col("score"))
  }

  /**
   * Filtered search against the AT-REST IVF index: the layout stores
   * row metadata (lang) beside the vectors ([[Ivf.ensureIndex]] v2), so
   * ONE scan serves both prunings — probe cells as a Parquet partition
   * filter and the metadata predicate as a pushed row-group filter
   * (PlanSpec asserts both on the same scan). This is the 100 TB shape
   * of [[filteredTopK]]: no metadata join at query time at all.
   */
  def filteredTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                          sfDir: String, emb: DataFrame, nq: Int, k: Int,
                          nCells: Int, d: Int, nprobe: Int,
                          langs: Seq[String]): DataFrame = {
    val path = Ivf.ensureIndex(spark, sfDir, nCells, d)
    val stored = spark.read.parquet(path) // (id, embedding, n2, lang, cell)
    val q = Ann.queriesOf(emb, nq).select(col("qid"), col("qvec"), col("qn2"))
    val probes = broadcast(Ivf.probeCells(q, nCells, d, nprobe)
      .join(q.select(col("qid"), col("qn2")), Seq("qid")))
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val scored = stored
      .filter(col("cell").isin(cells.toSeq: _*))
      .filter(col("lang").isin(langs: _*))
      .join(probes, Seq("cell"))
      .withColumn("score", cosScore)
    // rank in place (keeping lang): WindowGroupLimit still applies
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("id").asc)
    scored.select(col("qid"), col("id"), col("lang"), col("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("score"), col("lang"))
  }

  /**
   * PER-QUERY filters against the AT-REST IVF index — the 100 TB shape
   * of [[filteredTopKMulti]]: the layout stores lang beside the vectors,
   * so ONE scan serves probe-cell partition pruning AND the UNION of all
   * queries' langs as a pushed row-group filter; the per-qid (qid, lang)
   * membership then refines map-side against the broadcast relation.
   * Candidates are probed-cell-approximate exactly as
   * [[filteredTopKIndexed]] is. Output (qid, rank, id, score, lang).
   */
  def filteredTopKIndexedMulti(spark: org.apache.spark.sql.SparkSession,
                               sfDir: String, emb: DataFrame,
                               filters: Seq[(Long, String)], k: Int,
                               nCells: Int, d: Int,
                               nprobe: Int): DataFrame = {
    require(filters.nonEmpty, "filteredTopKIndexedMulti: empty relation")
    import spark.implicits._
    val nq = (filters.map(_._1).max + 1).toInt
    val unionLangs = filters.map(_._2).distinct
    val path = Ivf.ensureIndex(spark, sfDir, nCells, d)
    val stored = spark.read.parquet(path) // (id, embedding, n2, lang, cell)
    val q = Ann.queriesOf(emb, nq).select(col("qid"), col("qvec"), col("qn2"))
    val probes = broadcast(Ivf.probeCells(q, nCells, d, nprobe)
      .join(q.select(col("qid"), col("qn2")), Seq("qid")))
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val qf = broadcast(filters.toDF("qid", "lang"))
    val scored = stored
      .filter(col("cell").isin(cells.toSeq: _*))
      .filter(col("lang").isin(unionLangs: _*)) // pushed to the scan
      .join(probes, Seq("cell"))
      .join(qf, Seq("qid", "lang"))             // per-qid refinement
      .withColumn("score", cosScore)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("id").asc)
    scored.select(col("qid"), col("id"), col("lang"), col("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("score"), col("lang"))
  }

  /**
   * PER-QUERY FACETED retrieval against the AT-REST IVF index — the
   * grouped twin of [[filteredTopKIndexedMulti]]: best `k` per
   * (qid, lang) OF EACH QID'S OWN facet set, served off one probe-pruned
   * scan (union-of-langs pushed, per-qid membership refined map-side),
   * ranks cut per (qid, lang) by WindowGroupLimit. Candidates are
   * probed-cell-approximate as for every indexed serve.
   * Output (qid, lang, rank, id, score).
   */
  def groupedTopKIndexedMulti(spark: org.apache.spark.sql.SparkSession,
                              sfDir: String, emb: DataFrame,
                              facets: Seq[(Long, String)], k: Int,
                              nCells: Int, d: Int,
                              nprobe: Int): DataFrame = {
    require(facets.nonEmpty, "groupedTopKIndexedMulti: empty relation")
    import spark.implicits._
    val nq = (facets.map(_._1).max + 1).toInt
    val unionLangs = facets.map(_._2).distinct
    val path = Ivf.ensureIndex(spark, sfDir, nCells, d)
    val stored = spark.read.parquet(path)
    val q = Ann.queriesOf(emb, nq).select(col("qid"), col("qvec"), col("qn2"))
    val probes = broadcast(Ivf.probeCells(q, nCells, d, nprobe)
      .join(q.select(col("qid"), col("qn2")), Seq("qid")))
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val qf = broadcast(facets.toDF("qid", "lang"))
    val scored = stored
      .filter(col("cell").isin(cells.toSeq: _*))
      .filter(col("lang").isin(unionLangs: _*))
      .join(probes, Seq("cell"))
      .join(qf, Seq("qid", "lang"))
      .withColumn("score", cosScore)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"), col("lang"))
      .orderBy(col("score").desc, col("id").asc)
    scored.select(col("qid"), col("lang"), col("id"), col("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("lang"), col("rank"), col("id"), col("score"))
  }

  // ---- cursor pagination (search_after) ---------------------------------

  /**
   * Cursor pagination — the `search_after` API every search service
   * exposes (Elasticsearch/OpenSearch `search_after`, the vector-store
   * page token): page `page` (1-based) of `k` results per query,
   * resumed from the PREVIOUS page's last (score, id) cursor instead of
   * deepening a single top-(page·k) rank.
   *
   * The cursor set is the MODEL, not the data: one (score, id) pair per
   * query — nq rows collected per page hop, broadcast back as a
   * map-side filter `score < c OR (score = c AND id > cid)` the scan
   * applies BEFORE the top-k heap. Page N's scan therefore does exactly
   * page 1's work (one corpus pass, k-deep heap) rather than carrying a
   * page·k-deep window — the property that makes deep pagination
   * survive at 100 TB. The (score DESC, id ASC) total order makes the
   * cursor-resume provably equal to the rank slice
   * ((page-1)·k, page·k] of one global ranking, which is what the
   * oracle checks.
   *
   * Output: (qid, rank, id, score) with rank 1..k page-local.
   */
  def searchAfter(emb: DataFrame, nq: Int, k: Int, page: Int): DataFrame = {
    // NOTE (cost per CALL, not per page): this convenience form replays
    // pages 1..N-1 to reach page N — each hop one corpus pass + an
    // nq-row collect, fine for shallow pages. A serving system stores
    // the cursor between requests and calls [[searchAfterFrom]], which
    // serves ANY page for exactly one corpus pass.
    require(page >= 1, s"page $page must be >= 1")
    val spark = emb.sparkSession
    import spark.implicits._
    val q = broadcast(Ann.queriesOf(emb, nq)
      .select(col("qid"), col("qvec"), col("qn2")))
    def scoredAll: DataFrame =
      candSide(emb).crossJoin(q).withColumn("score", cosScore)
    var result: DataFrame = TopK.window(scoredAll, k)
    for (_ <- 2 to page) {
      // cursor = each query's k-th row from the page just computed:
      // nq (score, id) pairs — a bounded model collect
      val cur = result.filter(col("rank") === k)
        .select(col("qid"), col("score").as("cscore"), col("id").as("cid"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      result = searchAfterFrom(emb, nq, k,
        cur.toSeq.toDF("qid", "cscore", "cid"))
    }
    result.select(col("qid"), col("rank"), col("id"), col("score"))
  }

  /**
   * Resume the NEXT page from an EXPLICIT stored cursor relation
   * (qid, cscore, cid) — the serving-system contract the loop above
   * only simulates: the caller persists each response's cursor (nq
   * rows — a model, not data) and page N+1 costs exactly ONE corpus
   * pass and a k-deep heap, regardless of N; prior pages are never
   * recomputed because they were paid for when the cursor was stored.
   * Under the (score DESC, id ASC) total order the resumed page is
   * provably the rank slice (N·k, (N+1)·k] of the global ranking.
   */
  def searchAfterFrom(emb: DataFrame, nq: Int, k: Int,
                      cursor: DataFrame): DataFrame = {
    val q = broadcast(Ann.queriesOf(emb, nq)
      .select(col("qid"), col("qvec"), col("qn2")))
    val scored = candSide(emb).crossJoin(q).withColumn("score", cosScore)
    val resumed = scored.join(broadcast(cursor), Seq("qid"))
      .filter(col("score") < col("cscore") ||
        (col("score") === col("cscore") && col("id") > col("cid")))
      .drop("cscore", "cid")
    TopK.window(resumed, k)
      .select(col("qid"), col("rank"), col("id"), col("score"))
  }

  /**
   * PERSIST the page-`page` cursor (each query's k-th (score, id) of
   * that page) beside the other machine-wide layout caches, so later
   * requests resume via [[searchAfterFrom]] without replaying pages
   * 1..page — the stored page token of a real search service.
   * Idempotent, source-version-keyed like every layout cache.
   */
  def ensurePageCursor(spark: SparkSession, sfDir: String, emb: DataFrame,
                       nq: Int, k: Int, page: Int): String = {
    import java.nio.file.{Files, Paths}
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_cursor_${safe}_nq${nq}_k${k}_p${page}" +
        s"_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "cursor-")
      searchAfter(emb, nq, k, page)
        .filter(col("rank") === k)
        .select(col("qid"), col("score").as("cscore"), col("id").as("cid"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"cursor publish failed: $path")
    }
    path.toString
  }

  // ---- range (radius) search ------------------------------------------

  /** All (qid, id, score) with cosine >= tau — the radius twin of top-k.
    * Includes the query row itself (score 1.0), as range search does. */
  def rangeSearch(emb: DataFrame, nq: Int, tau: Double): DataFrame = {
    val q = broadcast(Ann.queriesOf(emb, nq)
      .select(col("qid"), col("qvec"), col("qn2")))
    candSide(emb).crossJoin(q)
      .withColumn("score", cosScore)
      .filter(col("score") >= tau)
      .select(col("qid"), col("id"), col("score"))
  }

  /** PER-QUERY radius search — the radius as a RELATION: `radii` is a
    * (qid, tau) table and each query returns every candidate with
    * cosine >= ITS OWN threshold (per-tenant recall/precision knobs in
    * one plan). Same broadcast-scan shape as [[rangeSearch]]; the
    * bounded radius relation joins map-side. Output (qid, id, score). */
  def rangeSearchMulti(emb: DataFrame,
                       radii: Seq[(Long, Double)]): DataFrame = {
    require(radii.nonEmpty, "rangeSearchMulti: empty radius relation")
    val spark = emb.sparkSession
    import spark.implicits._
    val nq = (radii.map(_._1).max + 1).toInt
    val q = broadcast(Ann.queriesOf(emb, nq)
      .select(col("qid"), col("qvec"), col("qn2")))
    val qr = broadcast(radii.toDF("qid", "tau"))
    candSide(emb).crossJoin(q).join(qr, Seq("qid"))
      .withColumn("score", cosScore)
      .filter(col("score") >= col("tau"))
      .select(col("qid"), col("id"), col("score"))
  }

  // ---- BM25 lexical retrieval -----------------------------------------

  /** Corpus stats collected once at plan-build: doc count, total token
    * count (avgdl = sumDl.toDouble / n, exact), per-term df. */
  final case class Bm25Stats(n: Long, sumDl: Long, df: Map[String, Long]) {
    def avgdl: Double = sumDl.toDouble / n
    def idf(t: String): Double = {
      val d = df(t)
      math.log(1.0 + (n - d + 0.5) / (d + 0.5))
    }
  }

  /** One small aggregate job: (count, sum dl, df per term). */
  def bm25Stats(docs: DataFrame, terms: Seq[String]): Bm25Stats = {
    val tk = docs.select(split(col("text"), " ").as("tk"))
    val aggs = count(lit(1)).as("n") +: sum(size(col("tk"))).as("sumdl") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("tk"), t), 1L).otherwise(0L)).as(s"df$i")
      }
    val r = tk.agg(aggs.head, aggs.tail: _*).collect()(0)
    Bm25Stats(r.getLong(0), r.getLong(1),
      terms.zipWithIndex.map { case (t, i) => t -> r.getLong(2 + i) }.toMap)
  }

  /** Per-term BM25 contribution as a Column over (tk, dl) with all
    * corpus-level constants baked in as literals. The expression tree —
    * idf * ((tf * (k1+1)) / (tf + k1 * ((1-b) + b * (dl / avgdl)))) —
    * is mirrored token-for-token by the oracle SQL. */
  private def termScore(t: String, st: Bm25Stats, k1: Double, b: Double): Column = {
    val tf = size(filter(col("tk"), x => x === lit(t))).cast("double")
    val dl = size(col("tk")).cast("double")
    lit(st.idf(t)) * ((tf * lit(k1 + 1.0)) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * (dl / lit(st.avgdl)))))
  }

  /**
   * BM25 top-n over the corpus for a fixed term set: (doc_id, rank,
   * score), rank 1..n by (score desc, doc_id asc). Score is the explicit
   * left-fold sum of per-term contributions in `terms` order.
   *
   * Returns the stats alongside so callers (and the oracle generator)
   * share the exact idf constants this plan scored with.
   */
  def bm25(docs: DataFrame, terms: Seq[String], k1: Double, b: Double,
           topN: Int): (DataFrame, Bm25Stats) = {
    val st = bm25Stats(docs, terms)
    val tk = docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
    val score = terms.map(termScore(_, st, k1, b)).reduceLeft(_ + _)
    // global top-N as orderBy+limit -> TakeOrderedAndProject (bounded
    // per-partition top-N, merged), NOT a corpus-wide row_number window
    // (InferWindowGroupLimit does not fire on an empty partition spec, so
    // that shape would sort the whole corpus in one task); ranks are then
    // assigned by a window over only the <= topN survivors
    val top = tk.withColumn("score", score)
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(topN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id").asc)
    val ranked = top.withColumn("rank", row_number().over(w))
      .select(col("doc_id"), col("rank"), col("score"))
    (ranked, st)
  }

  // ---- posting-list inverted index at rest -----------------------------

  /** Bump when the postings layout shape changes. */
  private val PostingsLayoutVersion = 1

  /**
   * Materialize the INVERTED INDEX at rest: one posting row per
   * (term, doc) — `(term, doc_id, tf, dl)`, with the doc length
   * denormalized into every posting (Lucene's "norms" discipline: the
   * scorer never joins back to the document) — partitioned by a term
   * hash bucket `tb`. Term-bucket partitioning is the lexical twin of
   * the vector layouts' cell partitioning: a query's terms map to a
   * bounded bucket set pushed into the scan as a STATIC partition
   * filter, so retrieval I/O is the probed buckets' files, never the
   * corpus. A corpus-stats sidecar (`_stats`: one (n, sumdl) row — the
   * underscore prefix keeps it invisible to readers of the postings
   * root) makes the layout self-contained: BM25 serves entirely off the
   * index, the documents table is never read at query time.
   *
   * Immutable version-named dir + atomic scratch publish (the
   * [[graft.operators.Lsh.ensureLayout]] discipline).
   */
  /** The indexer's projection: docs -> posting rows
    * (term, doc_id, tf, dl, tb). Per-(term, doc) tf is computed within
    * each doc alone, so the projection is microbatch-safe (the streaming
    * maintainer applies it verbatim per trigger). */
  private[graft] def postingsOf(docs: DataFrame, nBuckets: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), size(col("tk")).as("dl"),
        explode(col("tk")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("tb", pmod(hash(col("term")), lit(nBuckets)))

  def ensurePostingsLayout(spark: SparkSession, sfDir: String,
                           nBuckets: Int): String = {
    import java.nio.file.{Files, Paths}
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_postings_v${PostingsLayoutVersion}_${safe}_b${nBuckets}" +
        s"_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(path.resolve("_DONE"))) {
      val tmp = Files.createTempDirectory(path.getParent, "postings-")
      postingsOf(graft.Tables.documents(spark, sfDir), nBuckets)
        .write.mode("overwrite").partitionBy("tb").parquet(tmp.toString)
      // (n, sumdl) derived from the WRITTEN postings, not a second
      // tokenizing scan of the corpus (the stream maintainer's
      // discipline): dl is denormalized into every posting row, and
      // every doc has >= 1 token (split("") = [""]), so the distinct
      // (doc_id, dl) pairs enumerate exactly the corpus — one corpus
      // scan total at build time, the stats read the index's own bytes.
      spark.read.parquet(tmp.toString)
        .select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
        .coalesce(1).write.mode("overwrite")
        .parquet(tmp.resolve("_stats").toString)
      // publish-time invariant check: the stats derivation above relies
      // on every doc emitting >= 1 posting row (split("") = [""]) — a
      // future tokenizer change (empty-token or stopword filtering)
      // would silently skew n/sumdl and every idf. One bounded aggregate
      // per build fails the PUBLISH instead of corrupting BM25 scores.
      val statsN = spark.read.parquet(tmp.resolve("_stats").toString)
        .collect()(0).getAs[Long]("n")
      val docN = graft.Tables.documents(spark, sfDir).count()
      require(statsN == docN,
        s"postings stats invariant broken: $statsN distinct docs in the " +
          s"postings vs $docN corpus rows — the tokenizer no longer " +
          "emits >= 1 posting per doc; stats derivation must move back " +
          "to a corpus scan")
      Files.createFile(tmp.resolve("_DONE"))
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_DONE")),
        s"postings layout publish failed: $path")
    }
    path.toString
  }

  /**
   * BM25 OFF THE POSTING LISTS — the at-rest serve path of [[bm25]],
   * with true posting-list retrieval semantics: candidates are the
   * UNION OF THE QUERY TERMS' POSTING LISTS (docs matching no term are
   * never fetched, scored, or ranked — what a real inverted index does),
   * scored with the identical BM25 expression tree. Corpus stats come
   * from the layout's sidecar, df from the pruned postings themselves —
   * the documents table is never read: `(doc_id, rank, score)`.
   *
   * Scale shape: term buckets prune the scan (PlanSpec asserts the
   * partition filter), the pruned postings collapse via ONE map-side
   * pivot aggregate to a row per candidate doc (at most |terms| posting
   * rows fold into each), and the stats reads are a 1-row sidecar
   * collect plus a |terms|-row df aggregate — both models, not data.
   */
  def bm25AtRest(spark: SparkSession, sfDir: String, terms: Seq[String],
                 k1: Double, b: Double, topN: Int,
                 nBuckets: Int): DataFrame =
    bm25OffPostings(spark, ensurePostingsLayout(spark, sfDir, nBuckets),
      terms, k1, b, topN, nBuckets)

  /**
   * Lexical index DELETES, merge-on-read — the GDPR/document-removal
   * path of a search engine: the tombstone sidecar (doc ids ≡ 0 mod
   * `deleteMod`, the fixture form of a delete commit) is anti-joined
   * out of the CANDIDATES while the corpus statistics (n, sumdl, df)
   * stay STALE — exactly Lucene's behavior, where deleted docs stop
   * being retrievable immediately but keep counting toward the stats
   * until segment merge rewrites them. The posting files are never
   * touched; the sidecar is bounded; compaction is the table service's
   * later job (as with the PQ codes layout).
   */
  /** Bump when the postings upsert delta layout changes. */
  private val PostingsUpsertLayoutVersion = 1

  /**
   * The UPDATE commit for the lexical index — completing the upsert
   * verb on the postings family: updated docs (ids ≡ 0 mod `mod`) get
   * a deterministic text revision (the `token` appended — a real doc
   * edit: dl grows by one, every per-term tf survives) and are
   * RE-INDEXED into their own tb-partitioned delta. Lucene's
   * update-is-delete-plus-add: at serve time the updated docs' base
   * postings are excised and the delta rows read instead, df comes
   * from the updated view (the new segment), while (n, sumdl) stay the
   * STALE sidecar until segment merge. Base files never touched.
   */
  def ensurePostingsUpsertDelta(spark: SparkSession, sfDir: String,
                                root: String, mod: Int, nBuckets: Int,
                                token: String): String = {
    import java.nio.file.{Files, Paths}
    require(mod >= 2, s"mod=$mod")
    val path = Paths.get(root +
      s"_upsertv${PostingsUpsertLayoutVersion}_mod${mod}_$token")
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "postup-")
      postingsOf(graft.Tables.documents(spark, sfDir)
          .filter(col("doc_id") % mod === 0)
          .withColumn("text", concat(col("text"), lit(" " + token))),
        nBuckets)
        .write.mode("overwrite").partitionBy("tb").parquet(tmp.toString)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"postings upsert delta publish failed: $path")
    }
    path.toString
  }

  /** [[bm25AtRest]] under the update commit (see
    * [[ensurePostingsUpsertDelta]]). */
  def bm25AtRestUpserted(spark: SparkSession, sfDir: String,
                         terms: Seq[String], k1: Double, b: Double,
                         topN: Int, nBuckets: Int, mod: Int,
                         token: String): DataFrame = {
    val root = ensurePostingsLayout(spark, sfDir, nBuckets)
    val delta = spark.read.parquet(
      ensurePostingsUpsertDelta(spark, sfDir, root, mod, nBuckets, token))
    bm25OffPostings(spark, root, terms, k1, b, topN, nBuckets,
      upsert = Some((delta, mod)))
  }

  /** Bump when the postings versioned upsert log layout changes. */
  private val PostingsUpsertLogLayoutVersion = 1

  /** The lexical family's VERSIONED update log
    * ([[graft.operators.Pq.ensureVersionedUpsertDeltas]]'s pattern):
    * each commit's revised docs re-indexed into the same tb-partitioned
    * delta shape, stamped with `commit_v` (1 = doc ids ≡ 0 mod 2·mod,
    * 2 completes the set). Stats stay the STALE base sidecar for every
    * snapshot — the Lucene contract until segment merge. */
  def ensureVersionedPostingsUpsertDeltas(spark: SparkSession,
                                          sfDir: String, root: String,
                                          mod: Int, nBuckets: Int,
                                          token: String): String = {
    import java.nio.file.{Files, Paths}
    require(mod >= 2, s"mod=$mod")
    val path = Paths.get(root +
      s"_upsertlogv${PostingsUpsertLogLayoutVersion}_mod${mod}_$token")
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "postupslog-")
      postingsOf(graft.Tables.documents(spark, sfDir)
          .filter(col("doc_id") % mod === 0)
          .withColumn("text", concat(col("text"), lit(" " + token))),
        nBuckets)
        .withColumn("commit_v",
          when(col("doc_id") % (2L * mod) === 0, lit(1)).otherwise(lit(2)))
        .write.mode("overwrite").partitionBy("tb").parquet(tmp.toString)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"postings versioned upsert log publish failed: $path")
    }
    path.toString
  }

  /** AS-OF serve over the lexical update log: snapshot v = base
    * postings minus docs revised by commits ≤ v plus those commits'
    * re-indexed rows (excision by the prefix's doc-id set — an
    * anti-join AQE sizes, since the applied prefix is
    * corpus-fraction-sized); df from the snapshot view, (n, sumdl) the
    * stale base sidecar for EVERY snapshot. asOf 0 is the pre-update
    * index, the latest asOf equals [[bm25AtRestUpserted]]. */
  def bm25AtRestUpsertedAsOf(spark: SparkSession, sfDir: String,
                             terms: Seq[String], k1: Double, b: Double,
                             topN: Int, nBuckets: Int, mod: Int,
                             token: String, asOf: Int): DataFrame = {
    val root = ensurePostingsLayout(spark, sfDir, nBuckets)
    val delta = spark.read.parquet(
        ensureVersionedPostingsUpsertDeltas(spark, sfDir, root, mod,
          nBuckets, token))
      .filter(col("commit_v") <= asOf)
      .select(col("term"), col("doc_id"), col("dl"), col("tf"), col("tb"))
    bm25OffPostings(spark, root, terms, k1, b, topN, nBuckets,
      upsertByIds = Some(delta))
  }

  /** Bump when the merged-segment layout shape changes. */
  private val PostingsMergeLayoutVersion = 1

  /**
   * SEGMENT MERGE after the update commit — the OPTIMIZE that every
   * real Lucene/ES deployment runs and the missing half of
   * [[bm25AtRestUpserted]]: the delta segment is folded into the base
   * (updated docs' base postings dropped, their re-indexed rows take
   * their place — one id-sorted file per term bucket, the
   * [[graft.operators.Lsh.compactLayout]] discipline) and the corpus
   * stats sidecar is RECOMPUTED from the merged postings, restoring
   * exact `(n, sumdl)` — the staleness [[ensurePostingsUpsertDelta]]
   * documents ends here. Published as a NEW immutable version-named
   * dir via atomic scratch-move (base and delta files are never
   * mutated; the merged dir atomically replaces them as the serve
   * root), so readers switch segments the way Lucene swaps commit
   * points. The merged layout is row-identical to a FRESH BUILD over
   * the updated corpus (spec-asserted), at merge I/O = base + delta,
   * never a corpus re-tokenize.
   */
  def compactPostingsUpsert(spark: SparkSession, sfDir: String,
                            root: String, mod: Int, nBuckets: Int,
                            token: String): String = {
    import java.nio.file.{Files, Paths}
    val deltaPath =
      ensurePostingsUpsertDelta(spark, sfDir, root, mod, nBuckets, token)
    val path = Paths.get(root +
      s"_mergedv${PostingsMergeLayoutVersion}_mod${mod}_$token")
    if (!Files.exists(path.resolve("_DONE"))) {
      val tmp = Files.createTempDirectory(path.getParent, "postmerge-")
      val base = spark.read.parquet(root)
      val delta = spark.read.parquet(deltaPath)
      base.filter(col("doc_id") % mod =!= 0)
        .unionByName(delta)
        .repartition(col("tb"))
        .sortWithinPartitions(col("term"), col("doc_id"))
        .write.mode("overwrite").partitionBy("tb").parquet(tmp.toString)
      // stats from the MERGED postings' own bytes (the build-time
      // discipline of ensurePostingsLayout): dl is denormalized into
      // every row, so distinct (doc_id, dl) enumerates the updated
      // corpus exactly — (n, sumdl) exact again, staleness over
      spark.read.parquet(tmp.toString)
        .select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
        .coalesce(1).write.mode("overwrite")
        .parquet(tmp.resolve("_stats").toString)
      // publish-time invariant: the merge must neither drop nor
      // duplicate a doc — n equals the base segment's n exactly
      // (updates replace docs, they never add or remove them)
      val mergedN = spark.read.parquet(tmp.resolve("_stats").toString)
        .collect()(0).getAs[Long]("n")
      val baseN = spark.read.parquet(s"$root/_stats")
        .collect()(0).getAs[Long]("n")
      require(mergedN == baseN,
        s"postings merge invariant broken: $mergedN docs after merge " +
          s"vs $baseN in the base segment")
      Files.createFile(tmp.resolve("_DONE"))
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_DONE")),
        s"merged postings publish failed: $path")
    }
    path.toString
  }

  /** [[bm25AtRestUpserted]] served AFTER segment merge: a plain
    * [[bm25OffPostings]] over the merged layout — no delta union, no
    * excision predicate, and EXACT (n, sumdl) from the recomputed
    * sidecar (avgdl now reflects the updated docs' grown dl). */
  def bm25AtRestUpsertMerged(spark: SparkSession, sfDir: String,
                             terms: Seq[String], k1: Double, b: Double,
                             topN: Int, nBuckets: Int, mod: Int,
                             token: String): DataFrame = {
    val root = ensurePostingsLayout(spark, sfDir, nBuckets)
    bm25OffPostings(spark,
      compactPostingsUpsert(spark, sfDir, root, mod, nBuckets, token),
      terms, k1, b, topN, nBuckets)
  }

  /** The postings tombstone commit (doc ids ≡ 0 mod `deleteMod`) as an
    * idempotent sidecar publish — shared by the single-query and
    * multi-query delete rungs. */
  def ensurePostingsTombstones(spark: SparkSession, root: String,
                               deleteMod: Int): String = {
    import java.nio.file.{Files, Paths}
    require(deleteMod >= 2, s"deleteMod=$deleteMod")
    val tombPath = Paths.get(root + s"_tomb_mod$deleteMod")
    if (!Files.exists(tombPath.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(tombPath.getParent, "ptomb-")
      spark.read.parquet(root)
        .select(col("doc_id")).distinct()
        .filter(col("doc_id") % deleteMod === 0)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      try Files.move(tmp, tombPath)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(tombPath.resolve("_SUCCESS")),
        s"postings tombstone publish failed: $tombPath")
    }
    tombPath.toString
  }

  def bm25AtRestWithDeletes(spark: SparkSession, sfDir: String,
                            terms: Seq[String], k1: Double, b: Double,
                            topN: Int, nBuckets: Int,
                            deleteMod: Int): DataFrame = {
    val root = ensurePostingsLayout(spark, sfDir, nBuckets)
    val tombPath = ensurePostingsTombstones(spark, root, deleteMod)
    bm25OffPostings(spark, root, terms, k1, b, topN, nBuckets,
      tombs = Some(spark.read.parquet(tombPath)))
  }

  /**
   * AS-OF (time-travel) serve on the LEXICAL index — the verb that
   * completes time travel across ALL FOUR index families (PQ codes,
   * spherical codes, LSH buckets, posting lists): the append-only
   * versioned delete log ([[Pq.ensureVersionedTombstones]] over the
   * postings' `doc_id`) applies only commits with `commit_v <= asOf`;
   * asOf 0 is the pre-delete snapshot, the latest asOf equals the plain
   * merge-on-read [[bm25AtRestWithDeletes]]. Corpus stats stay STALE for
   * every snapshot (the Lucene contract), posting files byte-immutable.
   */
  def bm25AtRestWithDeletesAsOf(spark: SparkSession, sfDir: String,
                                terms: Seq[String], k1: Double, b: Double,
                                topN: Int, nBuckets: Int, deleteMod: Int,
                                asOf: Int): DataFrame = {
    val root = ensurePostingsLayout(spark, sfDir, nBuckets)
    val tombs = spark.read.parquet(
      Pq.ensureVersionedTombstones(spark, root, deleteMod,
        idCol = "doc_id"))
      .filter(col("commit_v") <= asOf).select(col("doc_id"))
    bm25OffPostings(spark, root, terms, k1, b, topN, nBuckets,
      tombs = Some(tombs))
  }

  /** [[bm25AtRest]]'s query half against an explicit postings layout —
    * shared by the batch-built and stream-maintained layouts (both hold
    * identical posting rows and stats once drained). `tombs` (doc_id)
    * rows are anti-joined out of the candidates only — stats stay
    * stale, the merge-on-read contract. */
  def bm25OffPostings(spark: SparkSession, root: String,
                      terms: Seq[String], k1: Double, b: Double, topN: Int,
                      nBuckets: Int,
                      tombs: Option[DataFrame] = None,
                      upsert: Option[(DataFrame, Int)] = None,
                      upsertByIds: Option[DataFrame] = None): DataFrame = {
    val stats = spark.read.parquet(s"$root/_stats").collect()(0)
    val n = stats.getAs[Long]("n")
    // the terms' bucket keys, computed by the same `hash` expression the
    // writer used (one 1-row job; never re-implement Murmur3 driver-side)
    val buckets = termBuckets(spark, terms, nBuckets)
    val pruned0 = spark.read.parquet(root)
      .filter(col("tb").isin(buckets: _*) && col("term").isin(terms: _*))
    // merge-on-read UPSERT: updated docs' base postings are excised (a
    // pushed mod predicate — base files untouched) and their re-indexed
    // delta rows union in; df then reflects the UPDATED view (Lucene's
    // update = delete + add in the new segment) while (n, sumdl) stay
    // the stale sidecar until segment merge
    val pruned = (upsert, upsertByIds) match {
      case (Some((delta, mod)), None) =>
        pruned0.filter(col("doc_id") % mod =!= 0)
          .unionByName(delta.filter(col("tb").isin(buckets: _*) &&
            col("term").isin(terms: _*)))
      // excision by the delta's own doc-id SET (the as-of commit
      // prefix, not mod-expressible): an anti-join AQE sizes — the
      // applied prefix is corpus-fraction-sized
      case (None, Some(delta)) =>
        pruned0.join(delta.select(col("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
          .unionByName(delta.filter(col("tb").isin(buckets: _*) &&
            col("term").isin(terms: _*)))
      case (None, None) => pruned0
      case _ => throw new IllegalArgumentException(
        "upsert and upsertByIds are mutually exclusive")
    }
    // df per term off the pruned postings (a posting row exists iff
    // tf >= 1, so the row count per term IS the document frequency)
    val dfMap = pruned.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val st = Bm25Stats(n, stats.getAs[Long]("sumdl"),
      terms.map(t => t -> dfMap.getOrElse(t, 0L)).toMap)
    // one pivot aggregate: per candidate doc, each term's tf (exact
    // integers; a (doc, term) has at most one posting row so the SUM is
    // a singleton pick), then the bm25 tree with tf from the column.
    // Deletes cut candidates ONLY — df/idf above stay stale on purpose.
    // no broadcast hint: the tombstone set is corpus-fraction-sized
    // (grows with the table), AQE sizes the anti-join at runtime
    val candRows = tombs match {
      case Some(t) => pruned.join(
        t.select(col("doc_id")), Seq("doc_id"), "left_anti")
      case None => pruned
    }
    val tfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === lit(t), col("tf")).otherwise(lit(0L)))
        .as(s"tf$i") }
    val perDoc = candRows.groupBy(col("doc_id"), col("dl"))
      .agg(tfAggs.head, tfAggs.tail: _*)
    val score = terms.zipWithIndex.map { case (t, i) =>
      val tf = col(s"tf$i").cast("double")
      val dl = col("dl").cast("double")
      lit(st.idf(t)) * ((tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * (dl / lit(st.avgdl)))))
    }.reduceLeft(_ + _)
    val top = perDoc.withColumn("score", score)
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(topN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id").asc)
    top.withColumn("rank", row_number().over(w))
      .select(col("doc_id"), col("rank"), col("score"))
  }

  /**
   * PER-QUERY-TERM-SET BM25 off the posting lists — lexical search with
   * terms bound PER QUERY ROW, the way every ANN rung already serves a
   * query *relation* rather than a compile-time constant: `queries` is
   * a (qid, terms) table, and ONE plan retrieves and ranks each query's
   * own candidates against the shared inverted index.
   *
   * Shape: the postings scan is pruned ONCE by the UNION of all query
   * terms (term buckets as a static partition filter + the term IN
   * predicate — retrieval I/O is the union's buckets, never the
   * corpus); the query relation expands to (qid, term, pos, idf) rows —
   * pos is the term's index within its own query, idf the driver-side
   * shared constant — and is broadcast, so candidate generation is one
   * map-side hash join. Per-(qid, doc) scoring pivots the matched
   * postings on pos (each (qid, pos) names exactly one term and each
   * (term, doc) has exactly one posting row, so every pivot aggregate
   * is a singleton pick — exact integers, no order-dependent float
   * sum), then folds the BM25 contributions position-by-position in a
   * fixed left-assoc tree with absent positions contributing exactly
   * 0.0 (COALESCE'd idf times a tf=0 numerator). Per-qid ranks come
   * from a window over (qid) — WindowGroupLimit cuts map-side.
   *
   * Candidates are per-query posting-list unions (a doc matching none
   * of a query's terms is never scored FOR THAT QUERY), df/idf are
   * global per term — the standard inverted-index contract.
   * Output: (qid, rank, doc_id, score), rank 1..topN within each qid.
   */
  def bm25Multi(spark: SparkSession, sfDir: String,
                queries: Seq[(Long, Seq[String])], k1: Double, b: Double,
                topN: Int, nBuckets: Int): DataFrame =
    bm25MultiOffPostings(spark, ensurePostingsLayout(spark, sfDir, nBuckets),
      queries, k1, b, topN, nBuckets)

  /**
   * MULTI-QUERY retrieval with merge-on-read DELETES — the relation
   * family composed with the lifecycle family: the tombstone sidecar
   * (doc ids ≡ 0 mod `deleteMod`) is anti-joined out of every query's
   * CANDIDATES while the corpus statistics stay STALE (the Lucene
   * contract [[bm25AtRestWithDeletes]] established), all query rows
   * still served off the ONE union-pruned scan.
   */
  def bm25MultiWithDeletes(spark: SparkSession, sfDir: String,
                           queries: Seq[(Long, Seq[String])], k1: Double,
                           b: Double, topN: Int, nBuckets: Int,
                           deleteMod: Int): DataFrame = {
    val root = ensurePostingsLayout(spark, sfDir, nBuckets)
    val tombPath = ensurePostingsTombstones(spark, root, deleteMod)
    bm25MultiOffPostings(spark, root, queries, k1, b, topN, nBuckets,
      tombs = Some(spark.read.parquet(tombPath)))
  }

  /** [[bm25Multi]]'s query half against an explicit postings layout —
    * shared by the batch-built and stream-maintained layouts (identical
    * posting rows and stats once drained, so results are hash-equal).
    * `tombs` (doc_id) rows are anti-joined out of every query's
    * candidates only — stats stay stale, the merge-on-read contract. */
  def bm25MultiOffPostings(spark: SparkSession, root: String,
                           queries: Seq[(Long, Seq[String])], k1: Double,
                           b: Double, topN: Int, nBuckets: Int,
                           tombs: Option[DataFrame] = None,
                           upsertByIds: Option[DataFrame] = None): DataFrame = {
    require(queries.nonEmpty, "bm25Multi: empty query relation")
    val unionTerms = queries.flatMap(_._2).distinct
    val maxPos = queries.map(_._2.size).max
    val stats = spark.read.parquet(s"$root/_stats").collect()(0)
    val n = stats.getAs[Long]("n")
    val buckets = termBuckets(spark, unionTerms, nBuckets)
    val pruned0 = spark.read.parquet(root)
      .filter(col("tb").isin(buckets: _*) &&
        col("term").isin(unionTerms: _*))
    // merge-on-read UPSERT by the delta's own doc-id set (the as-of
    // commit prefix — the [[bm25OffPostings]] upsertByIds discipline):
    // updated docs' base postings excised (anti-join AQE sizes — the
    // applied prefix is corpus-fraction-sized), their re-indexed delta
    // rows union in; df below then reflects the SNAPSHOT view while
    // (n, sumdl) stay the stale base sidecar until segment merge
    val pruned = upsertByIds match {
      case Some(delta) =>
        pruned0.join(delta.select(col("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
          .unionByName(delta.filter(col("tb").isin(buckets: _*) &&
            col("term").isin(unionTerms: _*)))
      case None => pruned0
    }
    val dfMap = pruned.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val st = Bm25Stats(n, stats.getAs[Long]("sumdl"),
      unionTerms.map(t => t -> dfMap.getOrElse(t, 0L)).toMap)
    import spark.implicits._
    // the query relation, idf constants baked per (qid, pos) — bounded
    // (sum of query lengths rows), broadcast
    val qt = broadcast(queries.flatMap { case (qid, ts) =>
      ts.zipWithIndex.map { case (t, p) => (qid, t, p, st.idf(t)) }
    }.toDF("qid", "term", "pos", "idf"))
    // deletes cut CANDIDATES only — the df/idf stats above stay stale on
    // purpose; no broadcast hint (corpus-fraction-sized, AQE decides)
    val candRows = tombs match {
      case Some(t) => pruned.join(
        t.select(col("doc_id")), Seq("doc_id"), "left_anti")
      case None => pruned
    }
    val cand = candRows.join(qt, Seq("term"))
    val aggs = (0 until maxPos).map(p =>
      sum(when(col("pos") === p, col("tf")).otherwise(lit(0L)))
        .as(s"tf$p")) ++
      (0 until maxPos).map(p =>
        max(when(col("pos") === p, col("idf"))).as(s"idf$p"))
    val perDoc = cand.groupBy(col("qid"), col("doc_id"), col("dl"))
      .agg(aggs.head, aggs.tail: _*)
    val score = (0 until maxPos).map { p =>
      val tf = col(s"tf$p").cast("double")
      val dl = col("dl").cast("double")
      coalesce(col(s"idf$p"), lit(0.0)) * ((tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * (dl / lit(st.avgdl)))))
    }.reduceLeft(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id").asc)
    perDoc.withColumn("score", score)
      .select(col("qid"), col("doc_id"), col("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("qid"), col("rank"), col("doc_id"), col("score"))
  }

  /**
   * MULTI-QUERY MAXSCORE — the MaxScore/WAND early-rejection discipline
   * applied PER QUERY ROW of the [[bm25Multi]] relation, all queries in
   * one plan: the cheap pass reads only the (term, doc_id) columns of
   * the union-pruned postings and computes each (qid, doc) BOUND (the
   * sum over the query's matched terms of idf·(k1+1), the tf→∞ limit);
   * per-qid seeds (top seedB bounds) are exact-scored and per-qid tau =
   * the topN-th best seed score (derived RELATIONALLY: min over the
   * per-qid top-topN window — no driver collect at all, unlike the
   * single-query form); survivors = bound >= own-qid tau (zero-miss per
   * qid by the same argument as [[bm25MaxScore]]); exact rescore, final
   * per-qid top-N. PROVABLY row-equal to [[bm25Multi]], so it shares
   * that oracle — while the tf/dl fetches touch each query's seeds +
   * survivors instead of its whole posting union.
   */
  /** The shared multi-query MaxScore pipeline state — the per-qid twin
    * of [[MaxScoreParts]]: the pruned-scan factory, the broadcast
    * (qid, term, pos, idf, ms) relation, per-(qid, doc) bounds, per-qid
    * seed sets, the RELATIONAL per-qid taus, survivors, and the exact
    * scorer — built once, consumed by both the result query
    * ([[bm25MultiMaxScore]]) and its per-qid byte ledger
    * ([[bm25MultiMaxScoreMetrics]]). */
  private final case class MultiMaxScoreParts(
      pruned: () => DataFrame, qt: DataFrame, bounds: DataFrame,
      seeds: DataFrame, taus: DataFrame, survivors: DataFrame,
      exactScores: DataFrame => DataFrame,
      wS: org.apache.spark.sql.expressions.WindowSpec)

  private def multiMaxScoreParts(spark: SparkSession, root: String,
                                 queries: Seq[(Long, Seq[String])],
                                 k1: Double, b: Double, topN: Int,
                                 nBuckets: Int,
                                 seedB: Int): MultiMaxScoreParts = {
    require(queries.nonEmpty, "bm25MultiMaxScore: empty query relation")
    require(seedB >= topN, s"seedB $seedB must be >= topN $topN")
    val unionTerms = queries.flatMap(_._2).distinct
    val maxPos = queries.map(_._2.size).max
    val stats = spark.read.parquet(s"$root/_stats").collect()(0)
    val n = stats.getAs[Long]("n")
    val buckets = termBuckets(spark, unionTerms, nBuckets)
    def prunedScan: DataFrame = spark.read.parquet(root)
      .filter(col("tb").isin(buckets: _*) &&
        col("term").isin(unionTerms: _*))
    val dfMap = prunedScan.select(col("term"), col("doc_id"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val st = Bm25Stats(n, stats.getAs[Long]("sumdl"),
      unionTerms.map(t => t -> dfMap.getOrElse(t, 0L)).toMap)
    import spark.implicits._
    // (qid, term, pos, idf, ms): ms = the term's MaxScore idf·(k1+1)
    val qt = broadcast(queries.flatMap { case (qid, ts) =>
      ts.zipWithIndex.map { case (t, p) =>
        (qid, t, p, st.idf(t), st.idf(t) * (k1 + 1.0)) }
    }.toDF("qid", "term", "pos", "idf", "ms"))
    // CHEAP PASS: (term, doc_id) columns only — bounds per (qid, doc)
    val cheap = prunedScan.select(col("term"), col("doc_id"))
      .join(qt, Seq("term"))
    val boundAggs = (0 until maxPos).map(p =>
      max(when(col("pos") === p, col("ms"))).as(s"b$p"))
    val bound = (0 until maxPos).map(p =>
      coalesce(col(s"b$p"), lit(0.0))).reduceLeft(_ + _)
    val bounds = cheap.groupBy(col("qid"), col("doc_id"))
      .agg(boundAggs.head, boundAggs.tail: _*)
      .withColumn("bound", bound)
      .select(col("qid"), col("doc_id"), col("bound"))
    // exact scorer over a (qid, doc_id) relation: the tf/dl fetch
    def exactScores(ids: DataFrame): DataFrame = {
      val cand = prunedScan.join(qt, Seq("term"))
        .join(ids.select(col("qid"), col("doc_id")), Seq("qid", "doc_id"))
      val aggs = (0 until maxPos).map(p =>
        sum(when(col("pos") === p, col("tf")).otherwise(lit(0L)))
          .as(s"tf$p")) ++
        (0 until maxPos).map(p =>
          max(when(col("pos") === p, col("idf"))).as(s"idf$p"))
      val score = (0 until maxPos).map { p =>
        val tf = col(s"tf$p").cast("double")
        val dl = col("dl").cast("double")
        coalesce(col(s"idf$p"), lit(0.0)) * ((tf * lit(k1 + 1.0)) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * (dl / lit(st.avgdl)))))
      }.reduceLeft(_ + _)
      cand.groupBy(col("qid"), col("doc_id"), col("dl"))
        .agg(aggs.head, aggs.tail: _*)
        .withColumn("score", score)
        .select(col("qid"), col("doc_id"), col("score"))
    }
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("bound").desc, col("doc_id").asc)
    val seeds = bounds.withColumn("rk", row_number().over(wB))
      .filter(col("rk") <= seedB).select(col("qid"), col("doc_id"))
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id").asc)
    // per-qid tau = min of the top-topN seed scores — a relation, not a
    // driver collect; handles a short query (< topN candidates) as the
    // single-query form does (tau = its worst seed)
    val taus = broadcast(exactScores(seeds)
      .withColumn("rk", row_number().over(wS))
      .filter(col("rk") <= topN)
      .groupBy(col("qid")).agg(min(col("score")).as("tau")))
    val survivors = bounds.join(taus, Seq("qid"))
      .filter(col("bound") >= col("tau"))
      .select(col("qid"), col("doc_id"))
    MultiMaxScoreParts(() => prunedScan, qt, bounds, seeds, taus,
      survivors, exactScores, wS)
  }

  def bm25MultiMaxScore(spark: SparkSession, sfDir: String,
                        queries: Seq[(Long, Seq[String])], k1: Double,
                        b: Double, topN: Int, nBuckets: Int,
                        seedB: Int): DataFrame =
    bm25MultiMaxScoreOffPostings(spark,
      ensurePostingsLayout(spark, sfDir, nBuckets), queries, k1, b,
      topN, nBuckets, seedB)

  /** [[bm25MultiMaxScore]] against an explicit postings layout — the
    * form the scale soak drives over its flooded corpus. */
  def bm25MultiMaxScoreOffPostings(spark: SparkSession, root: String,
                                   queries: Seq[(Long, Seq[String])],
                                   k1: Double, b: Double, topN: Int,
                                   nBuckets: Int, seedB: Int): DataFrame = {
    val p = multiMaxScoreParts(spark, root, queries, k1, b, topN,
      nBuckets, seedB)
    p.exactScores(p.survivors)
      .withColumn("rank", row_number().over(p.wS))
      .filter(col("rank") <= topN)
      .select(col("qid"), col("rank"), col("doc_id"), col("score"))
  }

  /**
   * [[bm25MultiMaxScore]]'s PER-QID BYTE LEDGER — the reference's
   * first-class (saving, fpr) accounting discipline
   * (`ANNCode.py:316-318,363-369`) carried onto the newest rung: one
   * row PER QUERY of the relation plus the aggregate row (qid = -1),
   * each with the [[bm25MaxScoreMetrics]] columns derived from that
   * query's OWN slice of the shared pipeline:
   *
   *  - `candidates` = the qid's posting-union doc count (its bounds),
   *  - `seed_docs` / `survivors` = its seed set and bound >= own-tau
   *    survivor set,
   *  - `bytes_full` = fully reading the qid's candidate posting rows
   *    (term chars + 24), `bytes_cheap` = the bound pass's
   *    (term, doc_id) columns over the same rows (term chars + 8),
   *  - `bytes_exact` = 24 per posting row fetched by the qid's seed
   *    pass plus its survivor pass (both really read),
   *  - `save` = 1 − (cheap + exact)/full.
   *
   * Everything stays RELATIONAL — counts and byte sums are per-qid
   * aggregates over the same bounds/seeds/survivors relations the
   * result query serves from, no driver loop; the per-qid taus are the
   * same relational derivation. Exact integers and one division per
   * row. The aggregate row sums the per-qid integers, so
   * "sum of parts = whole" is an invariant the spec asserts.
   */
  def bm25MultiMaxScoreMetrics(spark: SparkSession, sfDir: String,
                               queries: Seq[(Long, Seq[String])],
                               k1: Double, b: Double, topN: Int,
                               nBuckets: Int, seedB: Int): DataFrame =
    bm25MultiMaxScoreMetricsOffPostings(spark,
      ensurePostingsLayout(spark, sfDir, nBuckets), queries, k1, b,
      topN, nBuckets, seedB)

  /** [[bm25MultiMaxScoreMetrics]] against an explicit postings layout —
    * the form the scale soak drives over its flooded corpus (the
    * sf-fixture ledger is the small-vocabulary worst case; the save
    * sign at realistic df spreads is measured there). */
  def bm25MultiMaxScoreMetricsOffPostings(spark: SparkSession,
      root: String, queries: Seq[(Long, Seq[String])], k1: Double,
      b: Double, topN: Int, nBuckets: Int, seedB: Int): DataFrame = {
    val p = multiMaxScoreParts(spark, root, queries, k1, b,
      topN, nBuckets, seedB)
    // the qid's candidate posting rows: the union-pruned postings joined
    // to ITS terms — the relation both byte baselines and both exact
    // fetches count over
    def candRel: DataFrame =
      p.pruned().join(p.qt.select(col("qid"), col("term")), Seq("term"))
    val rowBytes = candRel.groupBy(col("qid"))
      .agg(sum(length(col("term")) + lit(24L)).as("bytes_full"),
        sum(length(col("term")) + lit(8L)).as("bytes_cheap"))
    val cands = p.bounds.groupBy(col("qid"))
      .agg(count(lit(1)).as("candidates"))
    val nSeeds = p.seeds.groupBy(col("qid"))
      .agg(count(lit(1)).as("seed_docs"))
    val nSurv = p.survivors.groupBy(col("qid"))
      .agg(count(lit(1)).as("survivors"))
    def fetchBytes(ids: DataFrame, name: String): DataFrame =
      candRel.join(ids.select(col("qid"), col("doc_id")),
          Seq("qid", "doc_id"))
        .groupBy(col("qid"))
        .agg((count(lit(1)) * lit(24L)).as(name))
    // pg = the qid's PAGE (min(topN, candidates)) — every survivor
    // beyond it was an unnecessary fetch; carried per row so the
    // aggregate's fpr sums pages per qid rather than re-clamping the
    // summed candidates.
    // LEFT joins from the qid UNIVERSE (the query relation), not inner
    // joins on the aggregates: a qid whose terms match zero postings
    // has no bounds/seeds/survivors rows at all and would silently
    // vanish from the ledger (and the qid=-1 row would no longer cover
    // the whole relation). It now emits an explicit all-zero row.
    val qidUniverse = p.qt.select(col("qid")).distinct()
    val perQid = qidUniverse
      .join(cands, Seq("qid"), "left")
      .join(nSeeds, Seq("qid"), "left").join(nSurv, Seq("qid"), "left")
      .join(rowBytes, Seq("qid"), "left")
      .join(fetchBytes(p.seeds, "b_seed"), Seq("qid"), "left")
      .join(fetchBytes(p.survivors, "b_surv"), Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("candidates"), lit(0L)).as("candidates"),
        coalesce(col("seed_docs"), lit(0L)).as("seed_docs"),
        coalesce(col("survivors"), lit(0L)).as("survivors"),
        coalesce(col("bytes_cheap"), lit(0L)).as("bytes_cheap"),
        (coalesce(col("b_seed"), lit(0L)) +
          coalesce(col("b_surv"), lit(0L))).as("bytes_exact"),
        coalesce(col("bytes_full"), lit(0L)).as("bytes_full"),
        least(lit(topN.toLong),
          coalesce(col("candidates"), lit(0L))).as("pg"))
    val total = perQid.agg(
      sum(col("candidates")).as("candidates"),
      sum(col("seed_docs")).as("seed_docs"),
      sum(col("survivors")).as("survivors"),
      sum(col("bytes_cheap")).as("bytes_cheap"),
      sum(col("bytes_exact")).as("bytes_exact"),
      sum(col("bytes_full")).as("bytes_full"),
      sum(col("pg")).as("pg"))
      .select(lit(-1L).as("qid"), col("candidates"), col("seed_docs"),
        col("survivors"), col("bytes_cheap"), col("bytes_exact"),
        col("bytes_full"), col("pg"))
    perQid.unionByName(total)
      // zero-candidate qids (now emitted explicitly — see the left
      // joins above) define save/fpr as 0.0 instead of NaN from the
      // 0/0 division
      .withColumn("save",
        when(col("bytes_full") === 0L, lit(0.0))
          .otherwise(lit(1.0) -
            (col("bytes_cheap") + col("bytes_exact")).cast("double") /
              col("bytes_full").cast("double")))
      // fpr (the reference triple's third leg, Refine.metrics'
      // unnecessary-fetches-over-universe form): survivors beyond the
      // page, over the qid's candidate universe — zero-miss makes the
      // page always a survivor subset, so the numerator is exact
      .withColumn("fpr",
        when(col("candidates") === 0L, lit(0.0))
          .otherwise((col("survivors") - col("pg")).cast("double") /
            col("candidates").cast("double")))
      .drop("pg")
  }

  /**
   * MAXSCORE BM25 — the reference's bandwidth-first refine discipline
   * (cheap bounded pass -> tau -> zero-miss early rejection -> exact
   * rescore of survivors; `ANNCode.py`'s two-phase shape) applied to
   * the LEXICAL rung, i.e. the classic MaxScore/WAND family (Turtle &
   * Flood 1995; Broder et al. 2003) re-expressed relationally:
   *
   *  - CHEAP PASS reads only the (term, doc_id) columns of the pruned
   *    postings (Parquet column pruning — tf and dl stay on disk) and
   *    computes each candidate's score UPPER BOUND: the sum over its
   *    matched terms of idf_t·(k1+1), the tf→∞ limit of the BM25 term
   *    contribution (strictly above any achievable contribution);
   *  - SEEDS: the seedB candidates with the highest bounds are
   *    exact-scored (a broadcast id join fetches their tf/dl), and tau
   *    = the topN-th best exact seed score under the engine's
   *    (score desc, doc_id asc) total order;
   *  - ZERO-MISS REJECTION: survivors = candidates with bound >= tau.
   *    bound >= score always, so every doc with exact score >= tau
   *    survives — and >= topN docs scoring >= tau exist (the seeds'
   *    own top-topN), so no true top-topN member can be rejected;
   *  - exact rescore of the survivors, final top-N.
   *
   * PROVABLY equal to [[bm25AtRest]] (the oracle IS that query's),
   * while the exact-score fetch touches seeds + survivors instead of
   * every candidate — the bandwidth win scales with how top-heavy the
   * bound distribution is, and degrades gracefully to all-candidates
   * on its worst case (every doc matching every term).
   */
  /** The shared MaxScore pipeline state: the pruned-postings scan
    * factory, corpus stats, per-candidate bounds, seed set, tau, and
    * the exact scorer — built once, consumed by both the result query
    * ([[bm25MaxScore]]) and its byte ledger ([[bm25MaxScoreMetrics]]). */
  private final case class MaxScoreParts(
      pruned: () => DataFrame, bounds: DataFrame, seeds: DataFrame,
      tau: Double, exactScores: DataFrame => DataFrame)

  private def maxScoreParts(spark: SparkSession, sfDir: String,
                            terms: Seq[String], k1: Double, b: Double,
                            topN: Int, nBuckets: Int,
                            seedB: Int): MaxScoreParts = {
    require(seedB >= topN, s"seedB $seedB must be >= topN $topN")
    val root = ensurePostingsLayout(spark, sfDir, nBuckets)
    val stats = spark.read.parquet(s"$root/_stats").collect()(0)
    val n = stats.getAs[Long]("n")
    val buckets = termBuckets(spark, terms, nBuckets)
    def prunedScan: DataFrame = spark.read.parquet(root)
      .filter(col("tb").isin(buckets: _*) && col("term").isin(terms: _*))
    // CHEAP PASS: (term, doc_id) columns only — PlanSpec asserts tf/dl
    // never reach this scan
    val cheap = prunedScan.select(col("term"), col("doc_id"))
    val dfMap = cheap.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val st = Bm25Stats(n, stats.getAs[Long]("sumdl"),
      terms.map(t => t -> dfMap.getOrElse(t, 0L)).toMap)
    // per-candidate bound: fold over terms (in terms order) of the
    // matched indicator times the term's MaxScore idf_t*(k1+1)
    val matchAggs = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === lit(t), lit(1L)).otherwise(lit(0L)))
        .as(s"m$i") }
    val bound = terms.zipWithIndex.map { case (t, i) =>
      col(s"m$i").cast("double") * lit(st.idf(t) * (k1 + 1.0))
    }.reduceLeft(_ + _)
    val bounds = cheap.groupBy(col("doc_id"))
      .agg(matchAggs.head, matchAggs.tail: _*)
      .withColumn("bound", bound)
      .select(col("doc_id"), col("bound"))
    // exact scorer over an id set: broadcast join fetches tf/dl rows
    def exactScores(ids: DataFrame): DataFrame = {
      val tfAggs = terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("term") === lit(t), col("tf")).otherwise(lit(0L)))
          .as(s"tf$i") }
      val score = terms.zipWithIndex.map { case (t, i) =>
        val tf = col(s"tf$i").cast("double")
        val dl = col("dl").cast("double")
        lit(st.idf(t)) * ((tf * lit(k1 + 1.0)) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * (dl / lit(st.avgdl)))))
      }.reduceLeft(_ + _)
      prunedScan.join(broadcast(ids.select(col("doc_id"))), Seq("doc_id"))
        .groupBy(col("doc_id"), col("dl"))
        .agg(tfAggs.head, tfAggs.tail: _*)
        .withColumn("score", score)
        .select(col("doc_id"), col("score"))
    }
    // seeds -> tau (the topN-th best exact seed score; a 1-value model)
    val seeds = bounds.orderBy(col("bound").desc, col("doc_id").asc)
      .limit(seedB)
    val seedScores = exactScores(seeds)
      .orderBy(col("score").desc, col("doc_id").asc).limit(topN)
      .collect()
    require(seedScores.nonEmpty, "bm25MaxScore: no candidates")
    val tau = seedScores.last.getAs[Double]("score")
    MaxScoreParts(() => prunedScan, bounds, seeds, tau, exactScores)
  }

  def bm25MaxScore(spark: SparkSession, sfDir: String, terms: Seq[String],
                   k1: Double, b: Double, topN: Int, nBuckets: Int,
                   seedB: Int): DataFrame = {
    val p = maxScoreParts(spark, sfDir, terms, k1, b, topN, nBuckets, seedB)
    // zero-miss survivors, exact rescore, final top-N
    val survivors = p.bounds.filter(col("bound") >= lit(p.tau))
    val top = p.exactScores(survivors)
      .orderBy(col("score").desc, col("doc_id").asc).limit(topN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id").asc)
    top.withColumn("rank", row_number().over(w))
      .select(col("doc_id"), col("rank"), col("score"))
  }

  /**
   * [[bm25MaxScore]]'s BYTE LEDGER — the lexical twin of the refine
   * family's bandwidth accounting: per-column posting bytes (term =
   * its character count, doc_id/tf/dl = 8 each), with
   *
   *  - `bytes_full`  = every candidate posting row fully read (the
   *    no-refinement baseline),
   *  - `bytes_cheap` = the bound pass's (term, doc_id) columns over
   *    the same rows,
   *  - `bytes_exact` = the (doc_id, tf, dl) fetches of the seed pass
   *    plus the survivor pass (counted separately — the engine really
   *    reads both),
   *  - `save` = 1 − (cheap + exact)/full.
   *
   * One row: (candidates, seed_docs, survivors, bytes_cheap,
   * bytes_exact, bytes_full, save) — exact integers and one division,
   * hash-checked against an oracle that re-derives tau relationally.
   */
  def bm25MaxScoreMetrics(spark: SparkSession, sfDir: String,
                          terms: Seq[String], k1: Double, b: Double,
                          topN: Int, nBuckets: Int,
                          seedB: Int): DataFrame = {
    val p = maxScoreParts(spark, sfDir, terms, k1, b, topN, nBuckets, seedB)
    val survivors = p.bounds.filter(col("bound") >= lit(p.tau))
    val rowBytes = p.pruned()
      .agg(sum(length(col("term")) + lit(24L)).as("bytes_full"),
        sum(length(col("term")) + lit(8L)).as("bytes_cheap"))
      .collect()(0)
    def fetchRows(ids: DataFrame): Long =
      p.pruned().join(broadcast(ids.select(col("doc_id"))), Seq("doc_id"))
        .count()
    val exactRows = fetchRows(p.seeds) + fetchRows(survivors)
    val cands = p.bounds.count()
    val nSeeds = p.seeds.count()
    val nSurv = survivors.count()
    val bytesFull = rowBytes.getLong(0)
    val bytesCheap = rowBytes.getLong(1)
    val bytesExact = 24L * exactRows
    import spark.implicits._
    Seq((cands, nSeeds, nSurv, bytesCheap, bytesExact, bytesFull,
      if (bytesFull == 0L) 0.0
      else 1.0 - (bytesCheap + bytesExact).toDouble / bytesFull.toDouble,
      // fpr: survivors beyond the page over the candidate universe —
      // the reference triple's third leg (zero-miss => page ⊆ survivors);
      // a term set matching zero postings defines both ratios as 0.0
      // instead of NaN from the 0/0 division
      if (cands == 0L) 0.0
      else (nSurv - math.min(topN.toLong, cands)).toDouble / cands.toDouble))
      .toDF("candidates", "seed_docs", "survivors", "bytes_cheap",
        "bytes_exact", "bytes_full", "save", "fpr")
  }

  /**
   * Compact a stream-maintained postings layout: the many small
   * per-microbatch part files rewrite into one term-sorted file per
   * bucket (the table service's OPTIMIZE — the lexical twin of
   * [[graft.operators.Pq.compactCodesLayout]]); the stats sidecar
   * copies through unchanged. Row content is identical, so every query
   * off the compacted layout is hash-equal; term-sorting within each
   * bucket restores row-group skipping for the term filter.
   */
  def compactPostingsLayout(spark: SparkSession, srcPath: String): String = {
    import java.nio.file.{Files, Paths}
    val dst = Paths.get(srcPath + "_compacted")
    if (!Files.exists(dst.resolve("_DONE"))) {
      val tmp = Files.createTempDirectory(dst.getParent, "postcompact-")
      spark.read.parquet(srcPath)
        .repartition(col("tb"))
        .sortWithinPartitions(col("term"), col("doc_id"))
        .write.mode("overwrite").partitionBy("tb")
        .option("compression", "zstd").parquet(tmp.toString)
      spark.read.parquet(s"$srcPath/_stats")
        .coalesce(1).write.mode("overwrite")
        .parquet(tmp.resolve("_stats").toString)
      Files.createFile(tmp.resolve("_DONE"))
      try Files.move(tmp, dst)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(dst.resolve("_DONE")),
        s"postings compaction publish failed: $dst")
    }
    dst.toString
  }

  // ---- hybrid retrieval: reciprocal rank fusion -----------------------

  /**
   * RRF over a lexical top-N list and a vector top-N list:
   * rrf = 1/(rrfK + text_rank) + 1/(rrfK + vec_rank), with an absent
   * list contributing 0 — the standard union fusion. `text` is a
   * [[bm25]] result (doc_id, rank, score) already limited to poolN; the
   * vector list is the brute cosine top-poolN for the single query
   * vector `qid = 0` (the corpus embedding aligned with doc_id).
   * Returns the fused top-k: (doc_id, rank, rrf, text_rank, vec_rank) —
   * absent ranks are null.
   *
   * All fusion arithmetic is 1.0/(int) divisions summed once — exact in
   * both engines; ranks come from already-deterministic sub-pipelines.
   */
  def hybridRrf(text: DataFrame, emb: DataFrame, poolN: Int, rrfK: Int,
                k: Int): DataFrame = {
    val vec = Ann.bruteTopK(emb, nq = 1, k = poolN)
      .select(col("id").as("doc_id"), col("rank").as("vec_rank"))
    val t = text.select(col("doc_id"), col("rank").as("text_rank"))
    val fused = t.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("text_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("rrf"),
        col("text_rank"), col("vec_rank"))
  }

  /**
   * MULTI-QUERY hybrid RRF — the fusion surface with BOTH retrievers
   * serving a query RELATION: each qid's per-query-term-set BM25 list
   * ([[bm25Multi]]) fuses with ITS OWN vector top-N list (the query
   * embedding aligned with the qid) under reciprocal-rank fusion, all
   * queries in one plan. The single-query [[hybridRrf]] generalized the
   * way every other rung generalizes: per-qid ranks, per-qid fusion
   * join, per-qid final cut. Both inputs are bounded top-poolN lists
   * per query, so the fusion join stays broadcast-able at any corpus
   * size. Output (qid, rank, doc_id, rrf, text_rank, vec_rank).
   */
  def hybridRrfMulti(spark: SparkSession, sfDir: String, emb: DataFrame,
                     queries: Seq[(Long, Seq[String])], k1: Double,
                     b: Double, poolN: Int, rrfK: Int, k: Int,
                     nBuckets: Int): DataFrame = {
    val nqv = (queries.map(_._1).max + 1).toInt
    val text = bm25Multi(spark, sfDir, queries, k1, b, poolN, nBuckets)
      .select(col("qid"), col("doc_id"), col("rank").as("text_rank"))
    val vec = Ann.bruteTopK(emb, nqv, poolN)
      .filter(col("qid").isin(queries.map(_._1): _*))
      .select(col("qid"), col("id").as("doc_id"), col("rank").as("vec_rank"))
    val fused = text.join(vec, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("text_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("doc_id"), col("rrf"),
        col("text_rank"), col("vec_rank"))
  }

  /**
   * Relative-score (LINEAR) hybrid fusion — the other standard fusion
   * beside [[hybridRrf]] (OpenSearch's arithmetic normalization
   * processor, Weaviate's relativeScoreFusion): each retriever's
   * top-poolN list min-max normalizes its OWN scores to [0, 1]
   * (degenerate equal-range list -> 1.0; a doc absent from a list
   * contributes 0 from that side), then
   * fused = α·text_norm + (1-α)·vec_norm.
   *
   * Unlike RRF this preserves score MAGNITUDE information — two docs
   * with near-identical BM25 scores stay near-identical after fusion
   * instead of being forced a full rank step apart.
   *
   * Scale: fuses bounded top-N lists; the min/max are 1-row aggregates
   * over those lists (models), the join is broadcast-able at any corpus
   * size. Output: (doc_id, rank, fused, tnorm, vnorm).
   */
  def hybridLinear(text: DataFrame, emb: DataFrame, poolN: Int,
                   alpha: Double, k: Int): DataFrame = {
    val vec = Ann.bruteTopK(emb, nq = 1, k = poolN)
      .select(col("id").as("doc_id"), col("score").as("vscore"))
    val t = text.select(col("doc_id"), col("score").as("tscore"))
    val tmm = t.agg(min(col("tscore")).as("tmin"), max(col("tscore")).as("tmax"))
    val vmm = vec.agg(min(col("vscore")).as("vmin"), max(col("vscore")).as("vmax"))
    val fused = t.join(vec, Seq("doc_id"), "full_outer")
      .crossJoin(broadcast(tmm)).crossJoin(broadcast(vmm))
      .withColumn("tnorm",
        when(col("tscore").isNull, lit(0.0))
          .when(col("tmax") === col("tmin"), lit(1.0))
          .otherwise((col("tscore") - col("tmin")) /
            (col("tmax") - col("tmin"))))
      .withColumn("vnorm",
        when(col("vscore").isNull, lit(0.0))
          .when(col("vmax") === col("vmin"), lit(1.0))
          .otherwise((col("vscore") - col("vmin")) /
            (col("vmax") - col("vmin"))))
      .withColumn("fused",
        lit(alpha) * col("tnorm") + lit(1.0 - alpha) * col("vnorm"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("fused").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("fused"),
        col("tnorm"), col("vnorm"))
  }

  /**
   * MULTI-QUERY linear (relative-score) fusion — [[hybridLinear]] over
   * the query relation: each qid's multi-BM25 list min-max normalizes
   * over ITS OWN scores, its vector list over its own, then
   * fused = α·text + (1-α)·vec per qid. The per-qid min/max are bounded
   * per-query aggregates over top-poolN lists (models); everything
   * joins broadcast-style at any corpus size.
   * Output (qid, rank, doc_id, fused, tnorm, vnorm).
   */
  def hybridLinearMulti(spark: SparkSession, sfDir: String, emb: DataFrame,
                        queries: Seq[(Long, Seq[String])], k1: Double,
                        b: Double, poolN: Int, alpha: Double, k: Int,
                        nBuckets: Int): DataFrame = {
    val nqv = (queries.map(_._1).max + 1).toInt
    val text = bm25Multi(spark, sfDir, queries, k1, b, poolN, nBuckets)
      .select(col("qid"), col("doc_id"), col("score").as("tscore"))
    val vec = Ann.bruteTopK(emb, nqv, poolN)
      .filter(col("qid").isin(queries.map(_._1): _*))
      .select(col("qid"), col("id").as("doc_id"), col("score").as("vscore"))
    val tmm = text.groupBy(col("qid"))
      .agg(min(col("tscore")).as("tmin"), max(col("tscore")).as("tmax"))
    val vmm = vec.groupBy(col("qid"))
      .agg(min(col("vscore")).as("vmin"), max(col("vscore")).as("vmax"))
    // LEFT joins for the per-qid min/max relations: a qid whose text
    // list is EMPTY (its terms match zero docs) has no tmm row, and an
    // inner join here would silently drop that qid from the output
    // entirely — instead it is still served on vnorm alone (tscore is
    // null on every surviving row, so tnorm = 0.0 needs no tmm)
    val fused = text.join(vec, Seq("qid", "doc_id"), "full_outer")
      .join(broadcast(tmm), Seq("qid"), "left")
      .join(broadcast(vmm), Seq("qid"), "left")
      .withColumn("tnorm",
        when(col("tscore").isNull, lit(0.0))
          .when(col("tmax") === col("tmin"), lit(1.0))
          .otherwise((col("tscore") - col("tmin")) /
            (col("tmax") - col("tmin"))))
      .withColumn("vnorm",
        when(col("vscore").isNull, lit(0.0))
          .when(col("vmax") === col("vmin"), lit(1.0))
          .otherwise((col("vscore") - col("vmin")) /
            (col("vmax") - col("vmin"))))
      .withColumn("fused",
        lit(alpha) * col("tnorm") + lit(1.0 - alpha) * col("vnorm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("fused").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("doc_id"), col("fused"),
        col("tnorm"), col("vnorm"))
  }

  /**
   * PER-QID FUSION WEIGHTS — the hybrid surface's own relation member:
   * `weights` is a (qid, alpha) table (per-tenant fusion knobs — a
   * recall-oriented tenant leans lexical, a semantic one leans vector)
   * and each qid fuses fused = α_q·text_norm + (1−α_q)·vec_norm with
   * ITS OWN weight, all queries in one plan. [[hybridLinearMulti]]'s
   * shape with the bounded weight relation broadcast and the convex
   * combination reading α from the joined column instead of a literal.
   * Output (qid, rank, doc_id, fused, tnorm, vnorm).
   */
  def hybridLinearMultiWeighted(spark: SparkSession, sfDir: String,
                                emb: DataFrame,
                                queries: Seq[(Long, Seq[String])],
                                weights: Seq[(Long, Double)], k1: Double,
                                b: Double, poolN: Int, k: Int,
                                nBuckets: Int): DataFrame = {
    require(weights.nonEmpty, "hybridLinearMultiWeighted: empty weights")
    import spark.implicits._
    val nqv = (queries.map(_._1).max + 1).toInt
    val text = bm25Multi(spark, sfDir, queries, k1, b, poolN, nBuckets)
      .select(col("qid"), col("doc_id"), col("score").as("tscore"))
    val vec = Ann.bruteTopK(emb, nqv, poolN)
      .filter(col("qid").isin(queries.map(_._1): _*))
      .select(col("qid"), col("id").as("doc_id"), col("score").as("vscore"))
    val qa = broadcast(weights.toDF("qid", "alpha"))
    val tmm = text.groupBy(col("qid"))
      .agg(min(col("tscore")).as("tmin"), max(col("tscore")).as("tmax"))
    val vmm = vec.groupBy(col("qid"))
      .agg(min(col("vscore")).as("vmin"), max(col("vscore")).as("vmax"))
    val fused = text.join(vec, Seq("qid", "doc_id"), "full_outer")
      .join(broadcast(tmm), Seq("qid"), "left")
      .join(broadcast(vmm), Seq("qid"), "left")
      .join(qa, Seq("qid"))
      .withColumn("tnorm",
        when(col("tscore").isNull, lit(0.0))
          .when(col("tmax") === col("tmin"), lit(1.0))
          .otherwise((col("tscore") - col("tmin")) /
            (col("tmax") - col("tmin"))))
      .withColumn("vnorm",
        when(col("vscore").isNull, lit(0.0))
          .when(col("vmax") === col("vmin"), lit(1.0))
          .otherwise((col("vscore") - col("vmin")) /
            (col("vmax") - col("vmin"))))
      .withColumn("fused",
        col("alpha") * col("tnorm") +
          (lit(1.0) - col("alpha")) * col("vnorm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("fused").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("doc_id"), col("fused"),
        col("tnorm"), col("vnorm"))
  }

  /**
   * THE FULL REQUEST OBJECT — every per-request knob bound from ONE
   * relation, served end-to-end in ONE plan: each qid carries its own
   * term set (lexical retrieval), its own lang set (metadata filter),
   * its own fusion weight α, and its own page size k — the complete
   * search-API request a real serving handler binds per call, for a
   * whole BATCH of requests at once (the offline/batch-serving shape:
   * nightly eval sets, A/B replay, bulk annotation).
   *
   * Pipeline per qid: BM25 top-poolN off the shared union-pruned
   * postings scan, POST-filtered by the qid's lang set (the lexical
   * index stores no metadata — the bounded top-N list joins the doc
   * metadata after retrieval, the standard post-filter); the vector
   * list PRE-filtered by the same lang set ([[filteredTopKMulti]] —
   * metadata lives beside the vectors, so the predicate cuts before
   * any distance arithmetic); per-qid min-max normalization over each
   * FILTERED list; fused = α_q·tnorm + (1−α_q)·vnorm; final cut at the
   * qid's own k. All relations bounded and broadcast; the corpus is
   * touched by exactly two scans (postings union + embedding scan).
   * Output (qid, rank, doc_id, fused, tnorm, vnorm).
   */
  def serveRequests(spark: SparkSession, sfDir: String, emb: DataFrame,
                    docMeta: DataFrame, queries: Seq[(Long, Seq[String])],
                    filters: Seq[(Long, String)],
                    weights: Seq[(Long, Double)], ks: Seq[(Long, Int)],
                    k1: Double, b: Double, poolN: Int,
                    nBuckets: Int): DataFrame =
    serveRequestsOffPostings(spark,
      ensurePostingsLayout(spark, sfDir, nBuckets), emb, docMeta,
      docMeta, queries, filters, weights, ks, k1, b, poolN, nBuckets)

  /** [[serveRequests]] against an explicit postings layout and SPLIT
    * metadata relations — the form the scale soak drives: the lexical
    * index (and its post-filter metadata) over one corpus, the vector
    * store (and its pre-filter metadata) over another, as deployed
    * systems separate them. `textMeta`/`vecMeta` are both `docMeta` in
    * the single-corpus fixture form. */
  def serveRequestsOffPostings(spark: SparkSession, root: String,
                               emb: DataFrame, textMeta: DataFrame,
                               vecMeta: DataFrame,
                               queries: Seq[(Long, Seq[String])],
                               filters: Seq[(Long, String)],
                               weights: Seq[(Long, Double)],
                               ks: Seq[(Long, Int)], k1: Double,
                               b: Double, poolN: Int,
                               nBuckets: Int): DataFrame =
    serveCut(spark,
      serveFused(spark, root, emb, textMeta, vecMeta, queries, filters,
        weights, k1, b, poolN, nBuckets), ks)

  /**
   * [[serveRequests]] with the vector side served off the AT-REST IVF
   * INDEX — the production capstone where BOTH request sides read
   * partition-pruned layouts: the lexical pool off the term-bucketed
   * postings (union-of-terms pruned), the vector pool off the
   * cell-partitioned index via [[filteredTopKIndexedMulti]] (probe
   * cells a static partition filter, the per-qid lang predicate pushed
   * into the SAME scan — no metadata join at query time at all).
   * Candidates on the vector side are probed-cell-approximate, as for
   * every indexed serve.
   */
  def serveRequestsIndexed(spark: SparkSession, sfDir: String,
                           emb: DataFrame, docMeta: DataFrame,
                           queries: Seq[(Long, Seq[String])],
                           filters: Seq[(Long, String)],
                           weights: Seq[(Long, Double)],
                           ks: Seq[(Long, Int)], k1: Double, b: Double,
                           poolN: Int, nBuckets: Int, nCells: Int,
                           d: Int, nprobe: Int): DataFrame = {
    val root = ensurePostingsLayout(spark, sfDir, nBuckets)
    val vecPool = filteredTopKIndexedMulti(spark, sfDir, emb, filters,
        poolN, nCells, d, nprobe)
      .select(col("qid"), col("id").as("doc_id"),
        col("score").as("vscore"))
    serveCut(spark,
      serveFusedWith(spark, root, docMeta, queries, filters, weights,
        k1, b, poolN, nBuckets, vecPool), ks)
  }

  /**
   * [[serveRequestsMetrics]] for the INDEXED capstone
   * ([[serveRequestsIndexed]]) — the byte triple where the vector-side
   * saving is made by PARTITION PRUNING, not just the lang pre-filter:
   * per request, the metadata column is read only for the qid's probed
   * cells' rows (`pc_rows`·8) and embeddings only for the
   * lang-matching rows among them (`v_cands`·4d), against the
   * unfiltered-full-scan baseline N·(8+4d). Cell and (cell, lang)
   * occupancies are bounded aggregates over the stored layout (models
   * — nCells and nCells·|langs| rows); everything else follows the
   * [[serveRequestsMetrics]] discipline (universe LEFT joins, explicit
   * all-zero rows, qid = -1 aggregate, sum-of-parts = whole).
   */
  def serveRequestsIndexedMetrics(spark: SparkSession, sfDir: String,
                                  emb: DataFrame, docMeta: DataFrame,
                                  queries: Seq[(Long, Seq[String])],
                                  filters: Seq[(Long, String)],
                                  weights: Seq[(Long, Double)],
                                  ks: Seq[(Long, Int)], k1: Double,
                                  b: Double, poolN: Int, nBuckets: Int,
                                  nCells: Int, d: Int,
                                  nprobe: Int): DataFrame = {
    require(ks.nonEmpty, "serveRequestsIndexedMetrics: empty page relation")
    // guarded HERE, not left to filters.map(_._1).max below: an empty
    // filter relation would otherwise surface as an opaque
    // UnsupportedOperationException("empty.max") instead of the
    // descriptive message the sibling entry points give
    require(filters.nonEmpty,
      "serveRequestsIndexedMetrics: empty filter relation")
    import spark.implicits._
    val root = ensurePostingsLayout(spark, sfDir, nBuckets)
    val vecPool = filteredTopKIndexedMulti(spark, sfDir, emb, filters,
        poolN, nCells, d, nprobe)
      .select(col("qid"), col("id").as("doc_id"),
        col("score").as("vscore"))
    val fused = serveFusedWith(spark, root, docMeta, queries, filters,
      weights, k1, b, poolN, nBuckets, vecPool)
    val tAgg = servePostingBytes(spark, root, queries, nBuckets)
    // the qid's probed-cell footprint off the SAME layout the indexed
    // serve reads: cell / (cell, lang) occupancies are tiny aggregates
    val stored = spark.read
      .parquet(Ivf.ensureIndex(spark, sfDir, nCells, d))
    val nq = (filters.map(_._1).max + 1).toInt
    val q = Ann.queriesOf(emb, nq).select(col("qid"), col("qvec"))
    val probeSet = Ivf.probeCells(q, nCells, d, nprobe)
      .select(col("qid"), col("cell"))
    val occ = stored.groupBy(col("cell")).agg(count(lit(1)).as("occ"))
    val pcAgg = probeSet.join(occ, Seq("cell"))
      .groupBy(col("qid")).agg(sum(col("occ")).as("pc_rows"))
    val qf = broadcast(filters.toDF("qid", "lang"))
    val langOcc = stored.groupBy(col("cell"), col("lang"))
      .agg(count(lit(1)).as("n"))
    val vcAgg = probeSet.join(langOcc, Seq("cell"))
      .join(qf, Seq("qid", "lang"))
      .groupBy(col("qid")).agg(sum(col("n")).as("v_cands"))
    val fAgg = fused.groupBy(col("qid")).agg(count(lit(1)).as("fused"))
    val nV = stored.count() // one bounded scalar (a model)
    val qkRel = broadcast(ks.toDF("qid", "kq"))
    val perQid = qkRel
      .join(tAgg, Seq("qid"), "left")
      .join(pcAgg, Seq("qid"), "left")
      .join(vcAgg, Seq("qid"), "left")
      .join(fAgg, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("t_cands"), lit(0L)).as("t_cands"),
        coalesce(col("pc_rows"), lit(0L)).as("pc_rows"),
        coalesce(col("v_cands"), lit(0L)).as("v_cands"),
        coalesce(col("fused"), lit(0L)).as("fused"),
        least(col("kq").cast("long"),
          coalesce(col("fused"), lit(0L))).as("page"),
        coalesce(col("bytes_text"), lit(0L)).as("bytes_text"),
        (coalesce(col("pc_rows"), lit(0L)) * lit(8L) +
          coalesce(col("v_cands"), lit(0L)) * lit(4L * d))
          .as("bytes_vec"),
        lit((8L + 4L * d) * nV).as("bytes_vec_full"))
    val total = perQid.agg(
      sum(col("t_cands")).as("t_cands"),
      sum(col("pc_rows")).as("pc_rows"),
      sum(col("v_cands")).as("v_cands"),
      sum(col("fused")).as("fused"),
      sum(col("page")).as("page"),
      sum(col("bytes_text")).as("bytes_text"),
      sum(col("bytes_vec")).as("bytes_vec"),
      sum(col("bytes_vec_full")).as("bytes_vec_full"))
      .select(lit(-1L).as("qid") +: perQid.columns.filter(_ != "qid")
        .map(col).toSeq: _*)
    perQid.unionByName(total)
      .withColumn("save", lit(1.0) -
        (col("bytes_text") + col("bytes_vec")).cast("double") /
          (col("bytes_text") + col("bytes_vec_full")).cast("double"))
      .withColumn("fpr",
        when(col("t_cands") + col("v_cands") === 0L, lit(0.0))
          .otherwise((col("fused") - col("page")).cast("double") /
            (col("t_cands") + col("v_cands")).cast("double")))
  }

  // ---- the tiered serve: per-request precision over one snapshot -------

  /** One batch of tiered serve requests, bound by qid: terms, lang
    * filters, fusion weight, page size and precision tier (a scaleLog2
    * the layout stores), plus the layout's stored tiers and the shared
    * serve knobs. Construction checks the five relations agree: they
    * name the same qids, and all but the filters bind exactly one row
    * per qid (a qid with a page size but no tier would be paged from
    * text alone and dropped from the ledger; a duplicated tier row
    * would duplicate its candidates). A qid may filter on several langs,
    * each once: its filter is a lang set. */
  final case class TieredRequests(queries: Seq[(Long, Seq[String])],
                                  filters: Seq[(Long, String)],
                                  weights: Seq[(Long, Double)],
                                  ks: Seq[(Long, Int)],
                                  tiers: Seq[(Long, Int)],
                                  layoutScales: Seq[Int], k1: Double,
                                  b: Double, poolN: Int, nBuckets: Int,
                                  alpha: Double) {
    require(filters.nonEmpty, "tiered requests: empty filter relation")
    require(tiers.nonEmpty, "tiered requests: empty tier relation")
    require(ks.nonEmpty, "tiered requests: empty page relation")
    private val qidsOf = Seq("queries" -> queries.map(_._1),
      "filters" -> filters.map(_._1), "weights" -> weights.map(_._1),
      "ks" -> ks.map(_._1), "tiers" -> tiers.map(_._1))
    private val allQids = qidsOf.flatMap(_._2).toSet
    qidsOf.foreach { case (rel, qids) =>
      val missing = (allQids -- qids).toSeq.sorted
      require(missing.isEmpty,
        s"tiered requests: $rel has no row for qid ${missing.mkString(", ")}")
      val dup = qids.diff(qids.distinct).distinct.sorted
      require(rel == "filters" || dup.isEmpty,
        s"tiered requests: $rel has more than one row for qid " +
          dup.mkString(", "))
    }
    private val dupFilters = filters.diff(filters.distinct).distinct.sorted
    require(dupFilters.isEmpty,
      s"tiered requests: filters repeat (qid, lang) " +
        dupFilters.mkString(", "))
    val usedScales: Seq[Int] = tiers.map(_._2).distinct.sorted
    require(usedScales.toSet.subsetOf(layoutScales.toSet),
      s"tiers $usedScales not all stored in layout $layoutScales")
    /** Query rows read off the query view: qids 0 until nq. */
    def nq: Int = (filters.map(_._1).max + 1).toInt
    /** The requests whose qid `keep` holds (a stream batch's arrivals). */
    def slice(keep: Long => Boolean): TieredRequests = {
      def f[V](rel: Seq[(Long, V)]) = rel.filter(kv => keep(kv._1))
      copy(queries = f(queries), filters = f(filters),
        weights = f(weights), ks = f(ks), tiers = f(tiers))
    }
  }

  /**
   * The state of the tiered layout a serve reads. [[resolveTiered]] turns
   * each case into three relations: the STORED relation the vector side
   * scans; the QUERY VIEW, the embeddings with the applied upserts'
   * vectors negated (the store serves what it was told to store; a
   * delete never rewrites external probes); and the ledger's id
   * UNIVERSE, the stored ids once a delete applies and the query view's
   * ids otherwise. Upserts are v' = −v and deletes drop rows, each over
   * the ids ≡ 0 mod a modulus; on the indexed layout an upserted row's
   * cell moves with its vector and a delete leaves survivors in their
   * stale cells. The cases:
   *  - `Pristine`: the build-once fixture.
   *  - `At(path)`: a maintained copy of the layout (the serve benchmark's
   *    and the mutating request streams'); the caller's `emb` is its
   *    query view as given.
   *  - `Upserted(mod)` and `Deleted(mod)`: a copy physically COMMITTED
   *    with the verb, only the touched id buckets (partitioned) or cells
   *    (indexed) rewritten.
   *  - `UpsertLog(mod, asOf, compacted)`: snapshot `asOf` of the layout's
   *    versioned update log (commit 1 updates ids ≡ 0 mod 2·mod, commit
   *    2 the rest of mod `mod`), served MERGE-ON-READ: the applied
   *    prefix's rows are re-derived in-plan (vector negated, every tier's
   *    codes recomputed; indexed: the cell re-assigned) and every other
   *    row's stored bytes pass through. With `compacted`, the same
   *    snapshot is read as a plain scan of its materialization
   *    ([[ensureTieredServeCompacted]]).
   *  - `DeleteLog(mod, asOf)`: the same log shape for deletes, the
   *    applied tombstone prefix anti-joined out of the base.
   *  - `MixedLog(umod, dmod, asOf)`: one log mixing verbs, applied in
   *    commit order: commit 1 upserts ids ≡ 0 mod umod, commit 2 deletes
   *    ids ≡ 0 mod dmod (an id in both is upserted at 1, gone at 2).
   *
   * Equivalences, row for row: every log's asOf 0 is `Pristine`;
   * `UpsertLog` asOf 1 is `Upserted(2·mod)` and asOf 2 `Upserted(mod)`;
   * `DeleteLog` likewise with `Deleted`; `MixedLog` asOf 1 is
   * `Upserted(umod)`; a compacted snapshot equals its merge-on-read
   * serve. Log snapshots never write the base files, and their
   * corpus-fraction-sized prefix joins are AQE-sized, never
   * broadcast-hinted.
   */
  sealed trait TierSnapshot
  object TierSnapshot {
    case object Pristine extends TierSnapshot
    final case class At(path: String) extends TierSnapshot
    final case class Upserted(mod: Int) extends TierSnapshot
    final case class Deleted(mod: Int) extends TierSnapshot
    final case class UpsertLog(mod: Int, asOf: Int,
                               compacted: Boolean = false)
        extends TierSnapshot
    final case class DeleteLog(mod: Int, asOf: Int) extends TierSnapshot
    final case class MixedLog(umod: Int, dmod: Int, asOf: Int)
        extends TierSnapshot
  }

  /** A resolved [[TierSnapshot]]: the stored relation, the query view
    * (vec_id, embedding, label) and the ledger's id universe (vec_id). */
  private[graft] final case class TieredView(stored: DataFrame,
                                             queries: DataFrame,
                                             universe: DataFrame)

  /** `emb` with the vectors of the rows `upserted` selects negated. */
  private[graft] def negated(emb: DataFrame, upserted: Column): DataFrame =
    emb.select(col("vec_id"),
      when(upserted, transform(col("embedding"), x => -x))
        .otherwise(col("embedding")).as("embedding"),
      col("label"))

  /** The ids the versioned log anchored on `fixture` applies by `asOf`. */
  private def logIds(spark: SparkSession, fixture: String, mod: Int,
                     asOf: Int): DataFrame =
    spark.read.parquet(Pq.ensureVersionedTombstones(spark, fixture, mod,
        idCol = "id"))
      .filter(col("commit_v") <= asOf)
      .select(col("id"))

  /** The tiered layout kind of a serve's `indexed` parameter: the
    * (nCells, d) cells of the indexed layout, None for the bucketed one
    * (the probe depth is a serve knob, not a layout one). */
  private[graft] def tierCells(indexed: Option[(Int, Int, Int)])
      : Option[(Int, Int)] =
    indexed.map { case (nCells, d, _) => (nCells, d) }

  /** Resolve `snap` over the layout kind (see [[TierSnapshot]]). */
  private[graft] def resolveTiered(spark: SparkSession, sfDir: String,
                                   emb: DataFrame, layoutScales: Seq[Int],
                                   indexed: Option[(Int, Int, Int)],
                                   snap: TierSnapshot): TieredView = {
    import TierSnapshot._
    import graft.sources.Disaggregated.{ensureTieredServe,
      ensureTieredServeCommitted, upsertedServeTiers}
    val cells = tierCells(indexed)
    lazy val fixture = ensureTieredServe(spark, sfDir, layoutScales, cells)
    def negatedBy(updIds: DataFrame): DataFrame = negated(
      emb.join(updIds.select(col("id").as("vec_id")).withColumn("upd",
        lit(1)), Seq("vec_id"), "left"), col("upd") === 1)
    val (stored, queries, deletes) = snap match {
      case Pristine => (spark.read.parquet(fixture), emb, false)
      case At(path) => (spark.read.parquet(path), emb, false)
      case Upserted(mod) =>
        (spark.read.parquet(ensureTieredServeCommitted(spark, sfDir,
          layoutScales, cells, upsert = true, mod)),
          negated(emb, col("vec_id") % mod === 0), false)
      case Deleted(mod) =>
        (spark.read.parquet(ensureTieredServeCommitted(spark, sfDir,
          layoutScales, cells, upsert = false, mod)), emb, true)
      case UpsertLog(mod, asOf, compacted) =>
        val updIds = logIds(spark, fixture, mod, asOf)
        val stored =
          if (compacted) spark.read.parquet(ensureTieredServeCompacted(
            spark, sfDir, layoutScales, indexed, mod, asOf) + "/tiers")
          else upsertedServeTiers(spark.read.parquet(fixture), updIds,
            layoutScales, cells)
        (stored, negatedBy(updIds), false)
      case DeleteLog(mod, asOf) =>
        (spark.read.parquet(fixture)
          .join(logIds(spark, fixture, mod, asOf), Seq("id"), "left_anti"),
          emb, true)
      case MixedLog(umod, dmod, asOf) =>
        val base = spark.read.parquet(fixture)
        val log = spark.read.parquet(Pq.ensureVersionedMixedLog(spark,
            fixture, base.select(col("id")), umod, dmod, idCol = "id"))
          .filter(col("commit_v") <= asOf)
        val updIds = log.filter(col("verb") === "U").select(col("id"))
        val delIds = log.filter(col("verb") === "D").select(col("id"))
        (upsertedServeTiers(base, updIds, layoutScales, cells)
          .join(delIds, Seq("id"), "left_anti"), negatedBy(updIds), true)
    }
    TieredView(stored, queries,
      if (deletes) stored.select(col("id").as("vec_id"))
      else queries.select(col("vec_id")))
  }

  /**
   * SNAPSHOT COMPACTION of the tiered update log, the OPTIMIZE verb:
   * snapshot `asOf` of `UpsertLog(mod, asOf)` is materialized ONCE into
   * a published layout of the same kind (id buckets `pb` or cell
   * partitions), so its serve reads a plain scan instead of paying the
   * prefix join and the in-plan code recompute (and, indexed, the cell
   * re-assignment) on every read. The bytes derive from the LAYOUT + LOG,
   * never a corpus rebuild: non-updated rows' stored codes are copied
   * verbatim. Row-count conservation is required at publish (an upsert
   * changes values, never membership); the dir is atomic and keyed
   * beside the pristine layout it derives from (so by its version).
   */
  private[graft] def ensureTieredServeCompacted(
      spark: SparkSession, sfDir: String, layoutScales: Seq[Int],
      indexed: Option[(Int, Int, Int)], mod: Int, asOf: Int): String = {
    import java.nio.file.{Files, Paths}
    import graft.sources.Disaggregated
    val cells = tierCells(indexed)
    val base = Disaggregated.ensureTieredServe(spark, sfDir, layoutScales,
      cells)
    val path = Paths.get(base + s"_asofcmp_m${mod}_a$asOf")
    if (!Files.exists(path.resolve("_DONE"))) {
      val tmp = Files.createTempDirectory(path.getParent, "servetasofcmp-")
      Disaggregated.writeServeTierFiles(Disaggregated.upsertedServeTiers(
          spark.read.parquet(base), logIds(spark, base, mod, asOf),
          layoutScales, cells),
        tmp.resolve("tiers").toString, cells)
      val compactN = spark.read.parquet(tmp.resolve("tiers").toString)
        .count()
      val baseN = spark.read.parquet(base).count()
      require(compactN == baseN,
        s"as-of tiered compaction invariant broken: $compactN rows " +
          s"after compact vs $baseN in the base layout")
      Files.createFile(tmp.resolve("_DONE"))
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        graft.sources.VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_DONE")),
        s"compacted as-of tiered layout publish failed: $path")
    }
    path.toString
  }

  /**
   * The vector side of the tiered serve: the fetch set (qid, id, s_full)
   * of a zero-miss-style two-phase refine where each request's CHEAP pass
   * reads ITS OWN tier's code column, the paper's precision-on-demand
   * knob in the serving path: a bandwidth-tier request scans 1-byte
   * codes and a recall-tier request 2-byte codes off one layout in one
   * plan, and every request's survivors are rescored at full precision.
   * A request admits its lang matches (the [[filteredTopKMulti]]
   * pre-filter contract: a union-of-langs pushed predicate plus the
   * per-qid lang set, before any distance arithmetic); on the indexed
   * layout only within its own probed cells (the
   * [[filteredTopKIndexedMulti]] approximation), whose union is a static
   * partition filter on every scan. The cushion is the cos_l1 half-step
   * bound (|v − rv| ≤ 2^-(s+1) exactly, any corpus), so the DuckDB oracle
   * recomputes the whole pipeline from the raw floats (round-to-nearest
   * dyadic quantization is exact on both engines).
   *
   * It runs as [[Refine.fetchedSplit]] does, as block passes over the
   * stored codes ([[RefineKernel.TierSeedPass]],
   * [[RefineKernel.TierSurvivorPass]]): one seed pass for all tiers keeps
   * each request's `poolN` best admitted rows per partition, merged on
   * the driver; the seeds are rescored through an `id IN (seeds)` read of
   * `(id, vec)`, and tau0 is each request's worst rescored seed; one
   * survivor pass emits the admitted non-seed pairs whose cushioned
   * reduced score reaches tau0, and they are joined to `(id, vec)` and
   * rescored. Only the query collect (with the probed cells on the
   * indexed layout), the seed pass and the seed rescore run here; the
   * survivor pass and the fetch join run inside the caller's query, the
   * join sized by AQE, and nothing is persisted. The passes read `id`,
   * `lang`, `cell` and the used tiers' codes, never `vec` or an unused
   * tier; the fetch reads `(id, vec)` only.
   */
  private[graft] def tieredFetch(spark: SparkSession, view: TieredView,
                                 req: TieredRequests,
                                 indexed: Option[(Int, Int, Int)])
      : DataFrame = {
    import spark.implicits._
    import RefineKernel.{Cand, PassQuery, Scores, TierQuery}
    import org.apache.spark.sql.graft.KernelPlan
    val scales = req.usedScales
    RefineKernel.requireCapped(req.nq)
    val qSel = Ann.queriesOf(view.queries, req.nq)
      .select(col("qid"), col("qvec"))
    // the query rows, with each one's probed cells on the indexed layout
    // (a bounded collect, <= nq·nprobe rows)
    val (qRows, cellsOf) = indexed match {
      case None =>
        (qSel.as[(Long, Array[Float])].collect().toSeq,
          Map.empty[Long, Array[Int]])
      case Some((nCells, d, nprobe)) =>
        val probed = Ivf.probeCells(qSel, nCells, d, nprobe)
          .select(col("qid"), col("qvec"), col("cell"))
          .as[(Long, Array[Float], Int)].collect().toSeq
        (probed.map(r => (r._1, r._2)).distinctBy(_._1),
          probed.groupBy(_._1).map { case (q, rs) =>
            q -> rs.map(_._3).distinct.sorted.toArray })
    }
    val langsOf = req.filters.groupBy(_._1).map { case (q, fs) =>
      q -> fs.map(_._2).toSet }
    val tierOf = req.tiers.toMap
    val qs = qRows.filter(q => langsOf.contains(q._1)).map { case (qid, qv) =>
      val pq = PassQuery(qid, qv, Scores.fnorm(Scores.dot(qv, qv)), 0.0)
      val t = scales.indexOf(tierOf(qid))
      TierQuery(pq, langsOf(qid),
        if (indexed.isEmpty) null else cellsOf.getOrElse(qid, Array.empty[Int]),
        t, Scores.halfStepCushion(req.alpha, qv, scales(t), pq.qn))
    }.toArray
    // the union of the probed cells is a static partition filter on every
    // scan; the union of the langs a pushed predicate on the passes' input
    val scan = indexed match {
      case None => view.stored
      case Some(_) => view.stored.filter(col("cell").isin(
        cellsOf.values.flatten.toSeq.distinct.sorted.map(Int.box): _*))
    }
    val admitted = scan.filter(col("lang").isin(req.filters.map(_._2)
      .distinct: _*))
    val vSel = scan.select(col("id"), col("vec"))
    val rescore = RefineKernel.RescorePass(
      Refine.Params("cos_l1", k = req.poolN, alpha = req.alpha), qs.map(_.q))

    // 1. seeds: each partition's poolN best per request, merged on the driver
    val seedIds = RefineKernel.mergeSeeds(KernelPlan.blockPass(admitted,
        RefineKernel.TierSeedPass(scales, indexed.nonEmpty, qs, req.poolN))
      .as[Cand].collect().toSeq, req.poolN, isCos = true)

    // 2. tau0: the seeds' full-precision scores, read through id IN (seeds)
    val seeds = Refine.rescoreSeeds(vSel, seedIds, rescore)
    val byQid = seeds.groupBy(_._1)
    val live = qs.filter(q => byQid.contains(q.q.qid))

    // 3. survivors and 4. their fetch, both inside the caller's query:
    // the survivors may be broadcast, the full-precision side never
    val survivors = KernelPlan.blockPass(admitted,
      RefineKernel.TierSurvivorPass(scales, indexed.nonEmpty, live,
        live.map(q => RefineKernel.tau0(isCos = true,
          byQid(q.q.qid).map(_._3))),
        live.map(q => byQid(q.q.qid).map(_._2).sorted.toArray)))
    seeds.map { case (qid, id, s, _) => (qid, id, s) }
      .toDF("qid", "id", "s_full")
      .unionByName(KernelPlan.blockPass(KernelPlan.neverBroadcast(vSel)
        .join(survivors, Seq("id")), rescore, "s_full"))
  }

  /** The tiered serve up to the fused pool: (postings root, resolved
    * snapshot, fetch set, fused pool). */
  private def tieredPool(spark: SparkSession, sfDir: String,
                         emb: DataFrame, docMeta: DataFrame,
                         req: TieredRequests,
                         indexed: Option[(Int, Int, Int)],
                         snap: TierSnapshot)
      : (String, TieredView, DataFrame, DataFrame) = {
    val root = ensurePostingsLayout(spark, sfDir, req.nBuckets)
    val view = resolveTiered(spark, sfDir, emb, req.layoutScales, indexed,
      snap)
    val fetch = tieredFetch(spark, view, req, indexed)
    val vecPool = TopK.window(
        fetch.withColumnRenamed("s_full", "score"), req.poolN)
      .select(col("qid"), col("id").as("doc_id"),
        col("score").as("vscore"))
    (root, view, fetch, serveFusedWith(spark, root, docMeta, req.queries,
      req.filters, req.weights, req.k1, req.b, req.poolN, req.nBuckets,
      vecPool))
  }

  /**
   * [[serveRequests]] with the vector side at a PER-REQUEST PRECISION
   * TIER, over snapshot `snap` of the tiered layout — the capstone the
   * title knob was built for. `indexed` = Some((nCells, d, nprobe))
   * serves the cell-partitioned layout, where the requests' probed cells
   * are a static partition filter, each request's tier is column pruning
   * and its lang a pushed predicate (which files, which chunks, which
   * rows, all per request); None serves the id-bucketed layout, every
   * lang-matching row a candidate. The vector pool comes from
   * [[tieredFetch]] over the snapshot's stored relation with queries off
   * its query view; the lexical side, fusion and the per-request page
   * cut are [[serveRequests]]'. Zero-miss in practice, so the partitioned
   * pristine serve pages the brute capstone's rows; the tier shows up in
   * the ledger ([[serveRequestsTieredMetrics]]). Every snapshot is the
   * capstone rebuilt over its corpus view — the DuckDB oracle recomputes
   * exactly that from the raw floats.
   */
  def serveRequestsTiered(spark: SparkSession, sfDir: String,
                          emb: DataFrame, docMeta: DataFrame,
                          req: TieredRequests,
                          indexed: Option[(Int, Int, Int)],
                          snap: TierSnapshot): DataFrame = {
    val (_, _, _, fused) = tieredPool(spark, sfDir, emb, docMeta, req,
      indexed, snap)
    serveCut(spark, fused, req.ks)
  }

  /** [[serveRequestsTiered]] over the partitioned layout at `layoutPath`
    * (None = the pristine fixture), `emb` its query view as given. */
  def serveRequestsTieredOff(spark: SparkSession, sfDir: String,
                             layoutPath: Option[String],
                             emb: DataFrame, docMeta: DataFrame,
                             queries: Seq[(Long, Seq[String])],
                             filters: Seq[(Long, String)],
                             weights: Seq[(Long, Double)],
                             ks: Seq[(Long, Int)],
                             tiers: Seq[(Long, Int)],
                             layoutScales: Seq[Int], k1: Double,
                             b: Double, poolN: Int, nBuckets: Int,
                             alpha: Double): DataFrame =
    serveRequestsTiered(spark, sfDir, emb, docMeta,
      TieredRequests(queries, filters, weights, ks, tiers, layoutScales,
        k1, b, poolN, nBuckets, alpha), None,
      layoutPath.fold[TierSnapshot](TierSnapshot.Pristine)(TierSnapshot.At))

  /**
   * [[serveRequestsTiered]]'s per-request byte ledger, where the tier
   * becomes VISIBLE: `bytes_vec` = the lang column's bytes +
   * codeBytes(tier_q)·d·`v_cands` (the request's OWN tier's code chunks,
   * read only for its candidate rows) + 4d·`fetched` (full-precision
   * rescue fetches), against the unfiltered full scan N·(8 + 4d). On the
   * partitioned layout the lang column costs 8·N and `v_cands` counts
   * the universe's lang matches; on the indexed layout it costs
   * `pc_rows`·8, the stored rows of the qid's probed cells (partition
   * pruning), and `v_cands` counts their lang matches, both off the
   * snapshot's stored cell occupancies (rows an upsert moved are counted
   * where they now live). N is the snapshot's id universe, so a delete
   * leaves the accounting exactly as it leaves the serve. The
   * [[serveRequestsMetrics]] discipline otherwise: universe LEFT joins,
   * explicit all-zero rows, a qid = -1 total with tier = -1,
   * sum-of-parts = whole.
   */
  def serveRequestsTieredMetrics(spark: SparkSession, sfDir: String,
                                 emb: DataFrame, docMeta: DataFrame,
                                 req: TieredRequests,
                                 indexed: Option[(Int, Int, Int)],
                                 snap: TierSnapshot, d: Int): DataFrame = {
    import spark.implicits._
    indexed.foreach { case (_, di, _) => require(di == d,
      s"ledger d=$d differs from the indexed layout's d=$di") }
    val (root, view, fetch, fused) = tieredPool(spark, sfDir, emb, docMeta,
      req, indexed, snap)
    val tAgg = servePostingBytes(spark, root, req.queries, req.nBuckets)
    val qf = broadcast(req.filters.toDF("qid", "lang"))
    val nV = view.universe.count() // one bounded scalar (a model)
    // the lang column's bytes and the candidate counts per layout kind
    val (occAggs, occCols, langBytes) = indexed match {
      case None =>
        val meta = docMeta.select(col("doc_id").as("id"), col("lang"))
        val vAgg = view.universe.select(col("vec_id").as("id"))
          .join(meta, Seq("id")).join(qf, Seq("lang"))
          .groupBy(col("qid")).agg(count(lit(1)).as("v_cands"))
        (Seq(vAgg), Seq("v_cands"), lit(8L * nV))
      case Some((nCells, _, nprobe)) =>
        val probeSet = Ivf.probeCells(Ann.queriesOf(view.queries, req.nq)
            .select(col("qid"), col("qvec")), nCells, d, nprobe)
          .select(col("qid"), col("cell"))
        val occ = view.stored.groupBy(col("cell"))
          .agg(count(lit(1)).as("occ"))
        val pcAgg = probeSet.join(occ, Seq("cell"))
          .groupBy(col("qid")).agg(sum(col("occ")).as("pc_rows"))
        val langOcc = view.stored.groupBy(col("cell"), col("lang"))
          .agg(count(lit(1)).as("n"))
        val vcAgg = probeSet.join(langOcc, Seq("cell"))
          .join(qf, Seq("qid", "lang"))
          .groupBy(col("qid")).agg(sum(col("n")).as("v_cands"))
        (Seq(pcAgg, vcAgg), Seq("pc_rows", "v_cands"),
          coalesce(col("pc_rows"), lit(0L)) * lit(8L))
    }
    val fetchAgg = fetch.groupBy(col("qid"))
      .agg(count(lit(1)).as("fetched"))
    val fAgg = fused.groupBy(col("qid")).agg(count(lit(1)).as("fused"))
    val trRel = broadcast(req.tiers.map { case (qid, s) =>
      (qid, s, graft.sources.Disaggregated.serveTierCodeBytes(s)
        .toLong * d) }.toDF("qid", "tier", "b_red"))
    val qkRel = broadcast(req.ks.toDF("qid", "kq"))
    val perQid = (tAgg +: occAggs :+ fetchAgg :+ fAgg)
      .foldLeft(qkRel.join(trRel, Seq("qid")))(_.join(_, Seq("qid"), "left"))
      .select(Seq(col("qid"), col("tier")) ++
        (("t_cands" +: occCols) ++ Seq("fetched", "fused")).map(c =>
          coalesce(col(c), lit(0L)).as(c)) ++ Seq(
        least(col("kq").cast("long"),
          coalesce(col("fused"), lit(0L))).as("page"),
        coalesce(col("bytes_text"), lit(0L)).as("bytes_text"),
        (langBytes +
          col("b_red") * coalesce(col("v_cands"), lit(0L)) +
          lit(4L * d) * coalesce(col("fetched"), lit(0L)))
          .as("bytes_vec"),
        lit((8L + 4L * d) * nV).as("bytes_vec_full")): _*)
    val parts = perQid.columns.filterNot(Set("qid", "tier"))
    val total = perQid.agg(sum(col(parts.head)).as(parts.head),
        parts.tail.map(c => sum(col(c)).as(c)): _*)
      .select(lit(-1L).as("qid") +: lit(-1).as("tier") +: parts.map(col)
        .toSeq: _*)
    perQid.unionByName(total)
      .withColumn("save", lit(1.0) -
        (col("bytes_text") + col("bytes_vec")).cast("double") /
          (col("bytes_text") + col("bytes_vec_full")).cast("double"))
      .withColumn("fpr",
        when(col("t_cands") + col("v_cands") === 0L, lit(0.0))
          .otherwise((col("fused") - col("page")).cast("double") /
            (col("t_cands") + col("v_cands")).cast("double")))
  }

  /** The per-qid candidate posting rows' counts and fully-read bytes —
    * shared by both serve ledgers (the text side is identical whether
    * the vector side is brute or indexed). */
  private def servePostingBytes(spark: SparkSession, root: String,
                                queries: Seq[(Long, Seq[String])],
                                nBuckets: Int,
                                upsertByIds: Option[DataFrame] = None)
      : DataFrame = {
    import spark.implicits._
    val unionTerms = queries.flatMap(_._2).distinct
    val buckets = termBuckets(spark, unionTerms, nBuckets)
    val pruned0 = spark.read.parquet(root)
      .filter(col("tb").isin(buckets: _*) &&
        col("term").isin(unionTerms: _*))
    // the SNAPSHOT's candidate posting rows when a commit prefix is
    // applied — the as-of ledger must count what the as-of serve reads
    val pruned = upsertByIds match {
      case Some(delta) =>
        pruned0.join(delta.select(col("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
          .unionByName(delta.filter(col("tb").isin(buckets: _*) &&
            col("term").isin(unionTerms: _*)))
      case None => pruned0
    }
    val qt = broadcast(queries
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("qid", "term"))
    pruned.join(qt, Seq("term")).groupBy(col("qid"))
      .agg(count(lit(1)).as("t_cands"),
        sum(length(col("term")) + lit(24L)).as("bytes_text"))
  }

  /** The per-qid page cut shared by every serve form. */
  private def serveCut(spark: SparkSession, fused: DataFrame,
                       ks: Seq[(Long, Int)]): DataFrame = {
    import spark.implicits._
    val qk = broadcast(ks.toDF("qid", "kq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("fused").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .join(qk, Seq("qid"))
      .filter(col("rank") <= col("kq"))
      .select(col("qid"), col("rank"), col("doc_id"), col("fused"),
        col("tnorm"), col("vnorm"))
  }

  /** [[serveRequests]]' shared pipeline up to the fused candidate pool
    * (qid, doc_id, fused, tnorm, vnorm) — consumed by the result query
    * (per-qid rank cut) and by its per-request byte ledger
    * ([[serveRequestsMetrics]]), so both serve off the SAME relations. */
  private def serveFused(spark: SparkSession, root: String,
                         emb: DataFrame, textMeta: DataFrame,
                         vecMeta: DataFrame,
                         queries: Seq[(Long, Seq[String])],
                         filters: Seq[(Long, String)],
                         weights: Seq[(Long, Double)], k1: Double,
                         b: Double, poolN: Int,
                         nBuckets: Int): DataFrame =
    serveFusedWith(spark, root, textMeta, queries, filters, weights, k1,
      b, poolN, nBuckets,
      filteredTopKMulti(emb, vecMeta, filters, poolN)
        .select(col("qid"), col("id").as("doc_id"),
          col("score").as("vscore")))

  /** [[serveFused]] over an EXPLICIT vector pool (qid, doc_id, vscore)
    * — lets the indexed serve swap in the at-rest probe-pruned vector
    * side while the text pipeline and fusion stay shared. */
  private def serveFusedWith(spark: SparkSession, root: String,
                             textMeta: DataFrame,
                             queries: Seq[(Long, Seq[String])],
                             filters: Seq[(Long, String)],
                             weights: Seq[(Long, Double)], k1: Double,
                             b: Double, poolN: Int, nBuckets: Int,
                             vec: DataFrame,
                             upsertByIds: Option[DataFrame] = None)
      : DataFrame = {
    require(filters.nonEmpty && weights.nonEmpty,
      "serveRequests: empty request relation")
    import spark.implicits._
    val meta = textMeta.select(col("doc_id"), col("lang"))
    val qf = broadcast(filters.toDF("qid", "lang"))
    val text = bm25MultiOffPostings(spark, root, queries, k1, b, poolN,
        nBuckets, upsertByIds = upsertByIds)
      .select(col("qid"), col("doc_id"), col("score").as("tscore"))
      .join(meta, Seq("doc_id"))
      .join(qf, Seq("qid", "lang"))
      .select(col("qid"), col("doc_id"), col("tscore"))
    val qa = broadcast(weights.toDF("qid", "alpha"))
    val tmm = text.groupBy(col("qid"))
      .agg(min(col("tscore")).as("tmin"), max(col("tscore")).as("tmax"))
    val vmm = vec.groupBy(col("qid"))
      .agg(min(col("vscore")).as("vmin"), max(col("vscore")).as("vmax"))
    text.join(vec, Seq("qid", "doc_id"), "full_outer")
      .join(broadcast(tmm), Seq("qid"), "left")
      .join(broadcast(vmm), Seq("qid"), "left")
      .join(qa, Seq("qid"))
      .withColumn("tnorm",
        when(col("tscore").isNull, lit(0.0))
          .when(col("tmax") === col("tmin"), lit(1.0))
          .otherwise((col("tscore") - col("tmin")) /
            (col("tmax") - col("tmin"))))
      .withColumn("vnorm",
        when(col("vscore").isNull, lit(0.0))
          .when(col("vmax") === col("vmin"), lit(1.0))
          .otherwise((col("vscore") - col("vmin")) /
            (col("vmax") - col("vmin"))))
      .withColumn("fused",
        col("alpha") * col("tnorm") +
          (lit(1.0) - col("alpha")) * col("vnorm"))
      .select(col("qid"), col("doc_id"), col("fused"), col("tnorm"),
        col("vnorm"))
  }

  /**
   * PER-REQUEST BYTE LEDGER on the serving capstone — the reference's
   * first-class accounting triple (`ANNCode.py:316-318,363-369`)
   * carried onto [[serveRequests]]: one row PER REQUEST of the
   * relation plus the aggregate row (qid = -1), each derived from that
   * request's OWN slice of the same relations the serve plan reads
   * (the [[bm25MultiMaxScoreMetrics]] pattern one rung up). Columns:
   *
   *  - `t_cands` / `bytes_text`: the request's candidate posting rows
   *    (union-pruned postings joined to ITS terms) and their
   *    fully-read bytes (term chars + 24 — BM25 needs tf and dl; the
   *    MaxScore ledger's row-width model),
   *  - `v_cands` / `bytes_vec`: corpus vectors passing its lang
   *    pre-filter, and what the filtered scan reads — the metadata
   *    column over ALL N rows (8 B each) plus embeddings (4d B) for
   *    the matching rows only; `bytes_vec_full` = N·(8+4d) is the
   *    baseline an unfiltered scan pays (the pre-filter IS the
   *    request's bandwidth mechanism),
   *  - `fused` / `page`: candidates entering the fusion stage (the
   *    full-outer union of its two top-poolN pools) and the page it
   *    actually returns (min(k_q, fused)),
   *  - `save` = 1 − (bytes_text + bytes_vec)/(bytes_text +
   *    bytes_vec_full) — the end-to-end request saving (the text side
   *    is identical in both terms; the vector pre-filter is what
   *    saves),
   *  - `fpr` = (fused − page)/(t_cands + v_cands) — fetches into
   *    fusion beyond the returned page, over the request's candidate
   *    universe.
   *
   * Everything stays RELATIONAL — per-qid aggregates over the same
   * pruned-postings / lang-filter / fused relations, LEFT-joined from
   * the request universe (a qid with zero matches emits an explicit
   * all-zero row, 0/0 ratios defined as 0.0). The aggregate row sums
   * the per-qid integers, so "sum of parts = whole" is a spec-asserted
   * invariant.
   */
  def serveRequestsMetrics(spark: SparkSession, sfDir: String,
                           emb: DataFrame, docMeta: DataFrame,
                           queries: Seq[(Long, Seq[String])],
                           filters: Seq[(Long, String)],
                           weights: Seq[(Long, Double)],
                           ks: Seq[(Long, Int)], k1: Double, b: Double,
                           poolN: Int, nBuckets: Int,
                           d: Int): DataFrame = {
    require(ks.nonEmpty, "serveRequestsMetrics: empty page relation")
    import spark.implicits._
    val root = ensurePostingsLayout(spark, sfDir, nBuckets)
    val fused = serveFused(spark, root, emb, docMeta, docMeta, queries,
      filters, weights, k1, b, poolN, nBuckets)
    // the request's candidate posting rows: the SAME union-pruned scan
    // bm25Multi serves from, joined to its terms
    val tAgg = servePostingBytes(spark, root, queries, nBuckets)
    // vectors passing the request's lang pre-filter — the rows the
    // filtered scan actually fetches embeddings for
    val meta = docMeta.select(col("doc_id").as("id"), col("lang"))
    val qf = broadcast(filters.toDF("qid", "lang"))
    val vAgg = emb.select(col("vec_id").as("id")).join(meta, Seq("id"))
      .join(qf, Seq("lang"))
      .groupBy(col("qid")).agg(count(lit(1)).as("v_cands"))
    val nV = emb.count() // one bounded scalar (a model)
    serveLedgerFrom(spark, fused, tAgg, vAgg, ks, nV, d)
  }

  /** The serve ledger's shared assembly (per-qid LEFT joins from the
    * request universe, explicit all-zero rows, the qid = -1 aggregate,
    * save/fpr ratios) — consumed by [[serveRequestsMetrics]] and its
    * as-of twin so both derive the identical row shape from their own
    * (fused, text-bytes, vector-candidate) relations. */
  private def serveLedgerFrom(spark: SparkSession, fused: DataFrame,
                              tAgg: DataFrame, vAgg: DataFrame,
                              ks: Seq[(Long, Int)], nV: Long,
                              d: Int): DataFrame = {
    import spark.implicits._
    val fAgg = fused.groupBy(col("qid")).agg(count(lit(1)).as("fused"))
    val qkRel = broadcast(ks.toDF("qid", "kq"))
    val perQid = qkRel
      .join(tAgg, Seq("qid"), "left")
      .join(vAgg, Seq("qid"), "left")
      .join(fAgg, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("t_cands"), lit(0L)).as("t_cands"),
        coalesce(col("v_cands"), lit(0L)).as("v_cands"),
        coalesce(col("fused"), lit(0L)).as("fused"),
        least(col("kq").cast("long"),
          coalesce(col("fused"), lit(0L))).as("page"),
        coalesce(col("bytes_text"), lit(0L)).as("bytes_text"),
        (lit(8L * nV) + coalesce(col("v_cands"), lit(0L)) *
          lit(4L * d)).as("bytes_vec"),
        lit((8L + 4L * d) * nV).as("bytes_vec_full"))
    val total = perQid.agg(
      sum(col("t_cands")).as("t_cands"),
      sum(col("v_cands")).as("v_cands"),
      sum(col("fused")).as("fused"),
      sum(col("page")).as("page"),
      sum(col("bytes_text")).as("bytes_text"),
      sum(col("bytes_vec")).as("bytes_vec"),
      sum(col("bytes_vec_full")).as("bytes_vec_full"))
      .select(lit(-1L).as("qid") +: perQid.columns.filter(_ != "qid")
        .map(col).toSeq: _*)
    perQid.unionByName(total)
      .withColumn("save", lit(1.0) -
        (col("bytes_text") + col("bytes_vec")).cast("double") /
          (col("bytes_text") + col("bytes_vec_full")).cast("double"))
      .withColumn("fpr",
        when(col("t_cands") + col("v_cands") === 0L, lit(0.0))
          .otherwise((col("fused") - col("page")).cast("double") /
            (col("t_cands") + col("v_cands")).cast("double")))
  }

  /**
   * The document-update log's SNAPSHOT view of BOTH request sides — the
   * relation pair every as-of serve reads. One update commit re-indexes
   * a document's text AND re-embeds its vector, so ONE versioned log
   * drives both: the lexical side is the versioned postings delta
   * ([[ensureVersionedPostingsUpsertDeltas]]) filtered to commits ≤
   * asOf; the vector side reads the applied-prefix doc ids from the
   * generic versioned log ([[graft.operators.Pq
   * .ensureVersionedTombstones]] anchored on the postings layout, here
   * recording UPDATE commits) and flips those vectors (v' = −v, the
   * fixture's float-exact transform) via a flag join — the
   * corpus-fraction-sized prefix is never broadcast-hinted (AQE sizes
   * it). Base postings files and the embedding table are byte-immutable
   * for every snapshot.
   */
  private def serveAsOfSnapshot(spark: SparkSession, sfDir: String,
                                root: String, emb: DataFrame, mod: Int,
                                nBuckets: Int, token: String, asOf: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val delta = spark.read.parquet(
        ensureVersionedPostingsUpsertDeltas(spark, sfDir, root, mod,
          nBuckets, token))
      .filter(col("commit_v") <= asOf)
      .select(col("term"), col("doc_id"), col("dl"), col("tf"), col("tb"))
    // the update-id log derives from the DOCUMENTS table, not from the
    // doc_ids present in posting rows: a document with empty/untokenized
    // text must still flip its vector at its commit (the log's domain is
    // the corpus, independent of tokenization)
    val updIds = spark.read.parquet(graft.operators.Pq
        .ensureVersionedTombstonesOver(spark, root,
          graft.Tables.documents(spark, sfDir).select(col("doc_id")),
          mod, idCol = "doc_id", tag = "_docs"))
      .filter(col("commit_v") <= asOf)
      .select(col("doc_id").as("vec_id"))
    val embAsOf = emb
      .join(updIds.withColumn("upd", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("upd") === 1, transform(col("embedding"), x => -x))
          .otherwise(col("embedding")).as("embedding"),
        col("label"))
    (delta, embAsOf, updIds)
  }

  /**
   * TIME-TRAVEL SERVING — the serve capstone composed with the as-of
   * verb: the FULL request object (per-qid terms + langs + α + k)
   * served at snapshot `asOf` of the document-update log, both sides
   * versioned in ONE plan. The lexical pool reads the snapshot postings
   * (base minus the applied prefix's docs ∪ their re-indexed delta
   * rows — df from the snapshot, (n, sumdl) the stale base sidecar,
   * the merge-on-read contract); the vector pool reads the snapshot
   * embedding view (applied prefix's vectors flipped — queries AND
   * candidates, both derive from the store). asOf 0 serves the
   * pre-update corpus; the latest asOf serves the fully-updated one.
   * Snapshot v is provably the request object REBUILT over the
   * commit-prefix view — the DuckDB oracle recomputes exactly that
   * from the raw tables — which is what an auditor asks of a serving
   * system with versioned indexes: reproduce yesterday's answer.
   */
  def serveRequestsAsOf(spark: SparkSession, sfDir: String,
                        emb: DataFrame, docMeta: DataFrame,
                        queries: Seq[(Long, Seq[String])],
                        filters: Seq[(Long, String)],
                        weights: Seq[(Long, Double)],
                        ks: Seq[(Long, Int)], k1: Double, b: Double,
                        poolN: Int, nBuckets: Int, mod: Int,
                        token: String, asOf: Int): DataFrame = {
    val root = ensurePostingsLayout(spark, sfDir, nBuckets)
    val (delta, embAsOf, _) = serveAsOfSnapshot(spark, sfDir, root, emb,
      mod, nBuckets, token, asOf)
    serveCut(spark,
      serveFusedWith(spark, root, docMeta, queries, filters, weights,
        k1, b, poolN, nBuckets,
        filteredTopKMulti(embAsOf, docMeta, filters, poolN)
          .select(col("qid"), col("id").as("doc_id"),
            col("score").as("vscore")),
        upsertByIds = Some(delta)),
      ks)
  }

  /**
   * The vector side of the INDEXED as-of serve: the at-rest IVF layout
   * served MERGE-ON-READ at a snapshot — base rows of the probed cells
   * minus the applied prefix's ids, union the prefix's rows re-derived
   * FROM THE LAYOUT ITSELF (their stored rows with the vector flipped,
   * the norm unchanged — negation-invariant — and the cell re-assigned
   * from the new value, then re-pruned to the probed cells). Base
   * index files are byte-immutable for every snapshot; queries derive
   * from the as-of embedding view so probe cells move with the commit.
   * The merged view provably equals the index REBUILT over the
   * snapshot (non-updated rows keep their assignment; updated rows
   * carry the view's), which is exactly what the oracle recomputes.
   */
  private def filteredTopKIndexedMultiAsOf(spark: SparkSession,
                                           sfDir: String,
                                           embAsOf: DataFrame,
                                           filters: Seq[(Long, String)],
                                           k: Int, nCells: Int, d: Int,
                                           nprobe: Int,
                                           updIds: DataFrame): DataFrame = {
    require(filters.nonEmpty, "filteredTopKIndexedMultiAsOf: empty relation")
    import spark.implicits._
    val nq = (filters.map(_._1).max + 1).toInt
    val unionLangs = filters.map(_._2).distinct
    val path = Ivf.ensureIndex(spark, sfDir, nCells, d)
    val stored = spark.read.parquet(path)
    val q = Ann.queriesOf(embAsOf, nq)
      .select(col("qid"), col("qvec"), col("qn2"))
    val probes = broadcast(Ivf.probeCells(q, nCells, d, nprobe)
      .join(q.select(col("qid"), col("qn2")), Seq("qid")))
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val updRel = updIds.select(col("vec_id").as("id"))
    // no broadcast hint on the prefix excision/fetch: the applied
    // prefix is corpus-fraction-sized, AQE sizes both joins
    val base = stored
      .filter(col("cell").isin(cells.toSeq: _*))
      .filter(col("lang").isin(unionLangs: _*))
      .join(updRel, Seq("id"), "left_anti")
      .select(col("id"), col("embedding"), col("n2"), col("lang"),
        col("cell"))
    val updRows = stored.join(updRel, Seq("id"), "left_semi")
      .select(col("id"),
        transform(col("embedding"), x => -x).as("embedding"),
        col("n2"), col("lang"))
    val delta = Ivf.assign(
        updRows.select(col("id").as("vec_id"), col("embedding")),
        nCells, d)
      .select(col("id"), col("cell"))
      .join(updRows, Seq("id"))
      .filter(col("cell").isin(cells.toSeq: _*) &&
        col("lang").isin(unionLangs: _*))
      .select(col("id"), col("embedding"), col("n2"), col("lang"),
        col("cell"))
    val qf = broadcast(filters.toDF("qid", "lang"))
    val scored = base.unionByName(delta)
      .join(probes, Seq("cell"))
      .join(qf, Seq("qid", "lang"))
      .withColumn("score", cosScore)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("id").asc)
    scored.select(col("qid"), col("id"), col("lang"), col("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("score"),
        col("lang"))
  }

  /**
   * [[serveRequestsIndexed]] at a SNAPSHOT — time travel on the
   * PRODUCTION capstone, where BOTH request sides read partition-pruned
   * layouts merge-on-read: the lexical pool off the snapshot postings
   * (base minus prefix ∪ re-indexed delta) and the vector pool off the
   * at-rest IVF index at the same snapshot
   * ([[filteredTopKIndexedMultiAsOf]]). One document-update log drives
   * both sides; base postings and index files are byte-immutable for
   * every snapshot. Candidates stay probed-cell-approximate, as for
   * every indexed serve — with the probes derived from the snapshot's
   * query vectors.
   */
  def serveRequestsIndexedAsOf(spark: SparkSession, sfDir: String,
                               emb: DataFrame, docMeta: DataFrame,
                               queries: Seq[(Long, Seq[String])],
                               filters: Seq[(Long, String)],
                               weights: Seq[(Long, Double)],
                               ks: Seq[(Long, Int)], k1: Double,
                               b: Double, poolN: Int, nBuckets: Int,
                               nCells: Int, d: Int, nprobe: Int,
                               mod: Int, token: String,
                               asOf: Int): DataFrame = {
    val root = ensurePostingsLayout(spark, sfDir, nBuckets)
    val (delta, embAsOf, updIds) = serveAsOfSnapshot(spark, sfDir, root,
      emb, mod, nBuckets, token, asOf)
    val vecPool = filteredTopKIndexedMultiAsOf(spark, sfDir, embAsOf,
        filters, poolN, nCells, d, nprobe, updIds)
      .select(col("qid"), col("id").as("doc_id"),
        col("score").as("vscore"))
    serveCut(spark,
      serveFusedWith(spark, root, docMeta, queries, filters, weights,
        k1, b, poolN, nBuckets, vecPool, upsertByIds = Some(delta)),
      ks)
  }

  /**
   * [[serveRequestsMetrics]] at snapshot `asOf` — the ledger twin of
   * [[serveRequestsAsOf]], counting the SNAPSHOT's candidate sets, not
   * the current ones: `t_cands`/`bytes_text` aggregate the snapshot
   * postings (a request whose terms include the update token retrieves
   * 0 rows for it at asOf 0 and the applied commits' docs after — the
   * snapshot choice is visible in the bytes), `fused`/`page`/`fpr`
   * derive from the as-of fused pool. `v_cands` is the lang pre-filter
   * count — updates change vectors, not metadata, so it is snapshot-
   * invariant by design (and the bytes_vec formula with it).
   */
  def serveRequestsAsOfMetrics(spark: SparkSession, sfDir: String,
                               emb: DataFrame, docMeta: DataFrame,
                               queries: Seq[(Long, Seq[String])],
                               filters: Seq[(Long, String)],
                               weights: Seq[(Long, Double)],
                               ks: Seq[(Long, Int)], k1: Double,
                               b: Double, poolN: Int, nBuckets: Int,
                               d: Int, mod: Int, token: String,
                               asOf: Int): DataFrame = {
    require(ks.nonEmpty, "serveRequestsAsOfMetrics: empty page relation")
    import spark.implicits._
    val root = ensurePostingsLayout(spark, sfDir, nBuckets)
    val (delta, embAsOf, _) = serveAsOfSnapshot(spark, sfDir, root, emb,
      mod, nBuckets, token, asOf)
    val fused = serveFusedWith(spark, root, docMeta, queries, filters,
      weights, k1, b, poolN, nBuckets,
      filteredTopKMulti(embAsOf, docMeta, filters, poolN)
        .select(col("qid"), col("id").as("doc_id"),
          col("score").as("vscore")),
      upsertByIds = Some(delta))
    val tAgg = servePostingBytes(spark, root, queries, nBuckets,
      upsertByIds = Some(delta))
    val meta = docMeta.select(col("doc_id").as("id"), col("lang"))
    val qf = broadcast(filters.toDF("qid", "lang"))
    val vAgg = emb.select(col("vec_id").as("id")).join(meta, Seq("id"))
      .join(qf, Seq("lang"))
      .groupBy(col("qid")).agg(count(lit(1)).as("v_cands"))
    val nV = emb.count() // one bounded scalar (a model)
    serveLedgerFrom(spark, fused, tAgg, vAgg, ks, nV, d)
  }

  // ---- late-interaction (maxsim) multi-vector retrieval ----------------

  /**
   * ColBERT-style late interaction: entities are GROUPS of vectors
   * (here: `groupSize` consecutive vec_ids = one multi-vector passage),
   * and score(Q, G) = sum over Q's member vectors of the max cosine
   * against G's members. The first `nq` groups are the queries; returns
   * (qid, rank, id, score) over candidate groups.
   *
   * Scale design: one broadcast of the query groups' vectors against a
   * streaming corpus scan scores all pairs; the per-query-member max is
   * an order-independent aggregate (safe under any partitioning), and
   * the sum over query members is an explicit left fold over a
   * conditional-aggregation pivot — deterministic doubles, never a
   * float SUM whose order the shuffle picks. Two hash aggregations,
   * both with map-side partial aggregation.
   */
  def maxSimTopK(emb: DataFrame, nq: Int, k: Int, groupSize: Int): DataFrame = {
    val qside = broadcast(emb
      .withColumn("qid", expr(s"vec_id div $groupSize"))
      .filter(col("qid") < nq)
      .select(col("qid"), (col("vec_id") % groupSize).cast("int").as("qpos"),
        col("embedding").as("qvec"), norm2Sq(col("embedding")).as("qn2")))
    val cside = emb.select(
      expr(s"vec_id div $groupSize").as("id"),
      col("embedding"), norm2Sq(col("embedding")).as("n2"))
    val pair = cside.crossJoin(qside).withColumn("cos", cosScore)
    // max over the candidate group's members, per query member
    val mx = pair.groupBy(col("qid"), col("id"), col("qpos"))
      .agg(max(col("cos")).as("m"))
    // pivot query members to columns, then an explicit left-fold sum
    val pivots = (0 until groupSize).map(p =>
      max(when(col("qpos") === p, col("m"))).as(s"m$p"))
    val score = (0 until groupSize).map(p => col(s"m$p")).reduceLeft(_ + _)
    val scored = mx.groupBy(col("qid"), col("id"))
      .agg(pivots.head, pivots.tail: _*)
      .withColumn("score", score)
    TopK.window(scored, k)
  }

  // ---- MMR diversification --------------------------------------------

  /**
   * Maximal marginal relevance re-ranking: greedily select k of the
   * top-poolN candidates per query, each step maximizing
   * lambda * rel(c) - (1 - lambda) * max_{s in S} sim(c, s)
   * (the empty-set penalty is 0, so step 1 is the relevance argmax;
   * ties go to the smaller id). Returns (qid, sel_rank, id, mmr).
   *
   * Scale design: the greedy is inherently sequential PER QUERY but the
   * pool is bounded (poolN), so each query's selection runs in-memory
   * inside one `flatMapGroups` group — O(poolN^2) sims, kilobytes — and
   * queries parallelize across the cluster. This is the standard
   * rerank-stage shape (like the SQ8/PQ rescore): bounded per-query
   * work after a distributed candidate scan.
   *
   * Determinism: rel scores come from the graded [[Ann.bruteTopK]]
   * machinery; pair sims are the same left-fold cosine the oracle's
   * explicit chains emit; the mmr expression tree is mirrored
   * token-for-token (lambda and 1-lambda embedded as shared constants).
   */
  def mmr(emb: DataFrame, nq: Int, poolN: Int, k: Int,
          lambda: Double): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val pool = Ann.bruteTopK(emb, nq, poolN)
      .join(emb.select(col("vec_id").as("id"), col("embedding")), Seq("id"))
      .select(col("qid"), col("id"), col("score"), col("embedding"))
      .as[(Long, Long, Double, Array[Float])]
    pool.groupByKey(_._1).flatMapGroups { (qid, it) =>
      mmrGroup(qid, it, lambda, k)
    }.toDF("qid", "sel_rank", "id", "mmr")
  }

  /**
   * PER-QUERY MMR λ — the re-ranking stage's trade-off knob as a
   * RELATION: `lambdas` is a (qid, λ) table and each query re-ranks its
   * own bounded pool with ITS OWN relevance/diversity trade-off (a
   * freshness-oriented tenant runs λ=0.9, a coverage one λ=0.3), all
   * in ONE plan off one scored pool scan — [[mmr]] generalized exactly
   * as the per-qid δ/m_keep/α knobs generalize their fixed rungs. The
   * bounded relation rides the closure as a map (tens of entries); the
   * greedy body is [[mmrGroup]], byte-identical per (qid, λ) to the
   * fixed-λ run, which is what the slice-equality spec asserts.
   */
  def mmrMulti(emb: DataFrame, lambdas: Seq[(Long, Double)], poolN: Int,
               k: Int): DataFrame = {
    require(lambdas.nonEmpty, "mmrMulti: empty lambda relation")
    val spark = emb.sparkSession
    import spark.implicits._
    val nq = (lambdas.map(_._1).max + 1).toInt
    val lamMap = lambdas.toMap
    val qids = lambdas.map(_._1)
    val pool = Ann.bruteTopK(emb, nq, poolN)
      .filter(col("qid").isin(qids.map(Long.box): _*))
      .join(emb.select(col("vec_id").as("id"), col("embedding")), Seq("id"))
      .select(col("qid"), col("id"), col("score"), col("embedding"))
      .as[(Long, Long, Double, Array[Float])]
    pool.groupByKey(_._1).flatMapGroups { (qid, it) =>
      mmrGroup(qid, it, lamMap(qid), k)
    }.toDF("qid", "sel_rank", "id", "mmr")
  }

  /** One query's greedy MMR selection over its bounded pool — shared by
    * the fixed-λ and per-qid-λ rungs so the mixed run's slices are
    * byte-identical to uniform runs. */
  private def mmrGroup(qid: Long,
                       it: Iterator[(Long, Long, Double, Array[Float])],
                       lambda: Double,
                       k: Int): Seq[(Long, Int, Long, Double)] = {
    val oneMinus = 1.0 - lambda
    // pool sorted by id: index order is the oracle's pos order
    val rows = it.toArray.sortBy(_._2)
    val n = rows.length
    val ids = rows.map(_._2)
    val rel = rows.map(_._3)
    def fold(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var j = 0
      while (j < a.length) { s += a(j).toDouble * b(j).toDouble; j += 1 }
      s
    }
    def fnorm(x: Double): Double = math.max(math.sqrt(x), 1e-12)
    val nrm = rows.map(r => fnorm(fold(r._4, r._4)))
    val sim = Array.tabulate(n, n)((a, b) =>
      fold(rows(a)._4, rows(b)._4) / (nrm(a) * nrm(b)))
    val chosen = new Array[Boolean](n)
    val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
    var step = 1
    while (step <= k && step <= n) {
      var best = -1
      var bestScore = 0.0
      var i = 0
      while (i < n) {
        if (!chosen(i)) {
          var maxSim = 0.0
          if (selected.nonEmpty) {
            maxSim = Double.NegativeInfinity
            selected.foreach(s => if (sim(i)(s) > maxSim) maxSim = sim(i)(s))
          }
          val score = (lambda * rel(i)) - (oneMinus * maxSim)
          // ascending-id iteration + strict > keeps the smaller id on ties
          if (best == -1 || score > bestScore) { best = i; bestScore = score }
        }
        i += 1
      }
      out += ((qid, step, ids(best), bestScore))
      chosen(best) = true
      selected += best
      step += 1
    }
    out.toSeq
  }
}
