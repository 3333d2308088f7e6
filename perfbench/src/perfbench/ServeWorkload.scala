package perfbench

import java.nio.file.Paths
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.Search
import graft.sources.Disaggregated

/**
 * Writes beside reads: one client alternating request batches through
 * `Search.serveRequestsTieredOff` with update and delete commits
 * (`commitServeTierUpserts`, `commitServeTierDeletes`) on a per-run copy
 * of the id-bucketed tiered serve layout. The corpus is a seeded stand-in
 * with the shape of the repo's sf0.1 `documents` and `embeddings` tables
 * (5000 documents, 2000 of them embedded at D=64, five languages), written
 * as parquet into the run's own directory.
 */
object ServeWorkload {
  val NDocs = 5000
  val NEmb = 2000
  val D = 64
  /** Corpus ids start here, so that the brute-force reference serve can
    * take its query vectors from ids 0 until [[Requests]]. */
  val DocBase = 1000000L
  private val Langs = Seq("en", "en", "en", "de", "fr", "es", "zh")
  private val Vocab = ("spark window merge table column vector stream " +
    "value data small join filter big group hash customer sort order " +
    "slow line part fast row the agg key query a scan batch").split(" ")
  val Scales = Seq(4, 8, 11)
  val Requests = 8
  val CommitRows = 20
  private val PoolN = 50
  private val NBuckets = 8
  private val K1 = 1.2
  private val B = 0.75
  private val CushionAlpha = 1.0

  /** Stored vector of embedded document `i` (id DocBase + i); |v| < 1, so
    * every tier's codes fit their stored width. */
  def corpusVec(seed: Long, i: Int): Array[Float] =
    Array.tabulate(D)(j => math.max(-0.99, math.min(0.99,
      0.125 * Gen.gauss(seed ^ 0x2c1b3c6dL, i.toLong * D + j))).toFloat)

  final case class Batch(qvecs: Seq[(Long, Array[Float])],
                         terms: Seq[(Long, Seq[String])],
                         langs: Seq[(Long, String)],
                         alphas: Seq[(Long, Double)],
                         ks: Seq[(Long, Int)], tiers: Seq[(Long, Int)])

  def batch(seed: Long, n: Int): Batch = {
    val s = seed ^ (0x6a09e667L + 7919L * n)
    val qids = (0 until Requests).map(_.toLong)
    def pick[T](q: Long, slot: Int, xs: Seq[T]): T =
      xs(Gen.below(s, q * 16 + slot, xs.size))
    Batch(
      qids.map(q => q -> Array.tabulate(D)(j =>
        (0.125 * Gen.gauss(s, 1000 + q * D + j)).toFloat)),
      qids.map(q => q -> (0 to Gen.below(s, q * 16, 3))
        .map(t => pick(q, 1 + t, Vocab.toSeq))),
      qids.map(q => q -> pick(q, 5, Langs.distinct)),
      qids.map(q => q -> pick(q, 6, Seq(0.3, 0.5, 0.7))),
      qids.map(q => q -> pick(q, 7, Seq(5, 10, 20))),
      qids.map(q => q -> pick(q, 8, Scales)))
  }

  /** Writes `documents.parquet` and `embeddings.parquet` under `sfDir`. */
  def writeCorpus(spark: SparkSession, sfDir: String, seed: Long): Unit = {
    import spark.implicits._
    val s = seed ^ 0x3c6ef372L
    val docs = (0 until NDocs).map { i =>
      val len = 10 + Gen.below(s, i * 128L, 91)
      val text = (0 until len).map(t =>
        Vocab(Gen.below(s, i * 128L + 1 + t, Vocab.length))).mkString(" ")
      (DocBase + i, text, Langs(Gen.below(s ^ 1L, i, Langs.size)),
        s"src${i % 5}", text.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$sfDir/documents.parquet")
    (0 until NEmb).map(i => (DocBase + i, corpusVec(seed, i),
        Gen.below(s ^ 2L, i, 10)))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$sfDir/embeddings.parquet")
  }

  /** The corpus state the benchmark expects: which ids were upserted
    * (v' = -v) and which deleted. */
  final case class State(upserted: Set[Long], deleted: Set[Long])

  def run(ctx: Ctx): Raw = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    // ids each commit touches, drawn without replacement, so an id is
    // upserted at most once and never both upserted and deleted
    val order = Gen.permutation(ctx.seed ^ 0x510e527fL, NEmb)
      .map(DocBase + _)
    var nextId = 0
    var state = State(Set.empty, Set.empty)
    def take(): Seq[Long] = {
      val ids = order.slice(nextId, nextId + CommitRows).toSeq
      nextId += CommitRows
      ids
    }

    val (builds, dir) = ctx.buildLayouts("sf") { (dir, part) =>
      part("generate_s", "fixture.generate")(
        writeCorpus(spark, dir.toString, ctx.seed))
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      part("write_s", "sources.write")(
        Disaggregated.writeServeTiersPartitioned(
          emb.join(docs.select(col("doc_id").as("vec_id"), col("lang")),
              Seq("vec_id"))
            .select(col("vec_id").as("id"), col("lang"),
              col("embedding").as("vec")),
          dir.resolve("tiers").toString, Scales))
      part("postings_s", "search.postings_build")(
        Search.ensurePostingsLayout(spark, dir.toString, NBuckets))
    }
    val sfDir = dir.toString
    val layout = dir.resolve("tiers").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def serve(bt: Batch): Array[Row] =
      Search.serveRequestsTieredOff(spark, sfDir, Some(layout),
        bt.qvecs.map { case (q, v) => (q, v, 0) }
          .toDF("vec_id", "embedding", "label"),
        docs, bt.terms, bt.langs, bt.alphas, bt.ks, bt.tiers, Scales, K1, B,
        PoolN, NBuckets, CushionAlpha).collect()
    def commit(upsert: Boolean): Seq[Long] = {
      val ids = take()
      if (upsert) {
        Disaggregated.commitServeTierUpserts(spark, layout, ids.toDF("id"),
          Scales)
        state = state.copy(upserted = state.upserted ++ ids)
      } else {
        Disaggregated.commitServeTierDeletes(spark, layout, ids.toDF("id"))
        state = state.copy(deleted = state.deleted ++ ids)
      }
      ids
    }
    // one rotation: the first serve call still runs about a second slower
    // than the later ones, the second is close to them
    val warmupS = ctx.warmup {
      serve(batch(ctx.seed, -1))
      commit(upsert = true)
      serve(batch(ctx.seed, -2))
      commit(upsert = false)
    }

    val ops = mutable.ArrayBuffer.empty[Op]
    val failures = mutable.ArrayBuffer.empty[String]
    val overhead = mutable.ArrayBuffer.empty[Seq[Double]]
    val commits = mutable.ArrayBuffer.empty[Map[String, Any]]
    var lastServe: Option[(Batch, Array[Row], State)] = None

    def checkPages(bt: Batch, rows: Array[Row], st: State): Unit = {
      val byQ = rows.toSeq.groupBy(_.getAs[Long]("qid"))
      bt.ks.foreach { case (q, k) =>
        val page = byQ.getOrElse(q, Nil)
        if (page.map(_.getAs[Int]("rank")).sorted != (1 to k) ||
            page.map(_.getAs[Long]("doc_id")).distinct.size != k)
          failures += s"request $q: page does not hold exactly its $k rows"
        // a deleted doc may still match on terms (the lexical index keeps
        // it), but never again through the vector side
        page.filter(r => st.deleted(r.getAs[Long]("doc_id")) &&
            r.getAs[Double]("vnorm") > 0.0)
          .foreach(r => failures +=
            s"request $q: deleted id ${r.getAs[Long]("doc_id")} reappeared")
      }
    }

    // closed loop of rotations: serve, upsert commit, serve, delete commit
    var elapsed = 0.0
    var i = 0
    while ((elapsed < ctx.seconds || i % 4 != 0) && failures.isEmpty &&
        nextId + CommitRows <= NEmb) {
      try {
        if (i % 2 == 0) {
          val bt = batch(ctx.seed, i / 2)
          // in the traced run, an untraced serve of the same batch right
          // before the traced one: their difference is the tracing overhead
          val untraced =
            if (ctx.traced) Timing.seconds(serve(bt))._2 else Double.NaN
          val (dt, opS) = Timing.seconds(tr.span("serve.op") {
            val (rows, dt) = Timing.seconds(tr.span("search.serve")(serve(bt)))
            ops += Op("query", "serve", dt, Requests)
            checkPages(bt, rows, state)
            lastServe = Some((bt, rows, state))
            dt
          })
          elapsed += opS
          if (ctx.traced) {
            overhead += Seq(dt, untraced)
            elapsed += untraced
          }
        } else {
          val upsert = i % 4 == 1
          val (_, opS) = Timing.seconds(tr.span("commit.op") {
            val before = if (ctx.traced) Timing.files(Paths.get(layout))
              else Map.empty[String, Long]
            val (ids, dt) = Timing.seconds(
              tr.span("sources.commit")(commit(upsert)))
            ops += Op("commit", if (upsert) "upsert" else "delete", dt, 0)
            if (ctx.traced) {
              val after = Timing.files(Paths.get(layout))
              commits += Map("rows" -> ids.size, "rewrite_bytes" ->
                after.collect { case (f, n) if !before.get(f).contains(n) =>
                  n }.sum)
            }
          })
          elapsed += opS
        }
      } catch {
        case e: Exception => failures += s"op $i: $e"
      }
      i += 1
    }

    // correctness, outside the timed window: the layout holds exactly the
    // expected rows and vectors, and the last served batch matches a
    // brute-force serve of the same requests over the same corpus state
    val got = spark.read.parquet(layout).select(col("id"), col("vec"))
      .as[(Long, Array[Float])].collect().toMap
    val live = (0 until NEmb).map(i => (DocBase + i, i))
      .filterNot(x => state.deleted(x._1))
    val expectVec = live.map { case (id, i) =>
      val v = corpusVec(ctx.seed, i)
      id -> (if (state.upserted(id)) v.map(-_) else v)
    }.toMap
    if (got.keySet != expectVec.keySet)
      failures += s"layout holds ${got.size} ids, expected " +
        s"${expectVec.size}: deletes or upserts lost rows"
    else expectVec.foreach { case (id, v) =>
      if (!java.util.Arrays.equals(got(id), v))
        failures += s"id $id: stored vector is not the " +
          (if (state.upserted(id)) "upserted -v" else "original v")
    }
    val recall = lastServe.toSeq.flatMap { case (bt, rows, st) =>
      val corpus = (0 until NEmb).map(i => (DocBase + i, i))
        .filterNot(x => st.deleted(x._1)).map { case (id, i) =>
          val v = corpusVec(ctx.seed, i)
          (id, if (st.upserted(id)) v.map(-_) else v, 0)
        }
      val emb = (bt.qvecs.map { case (q, v) => (q, v, 0) } ++ corpus)
        .toDF("vec_id", "embedding", "label")
      val ref = Search.serveRequests(spark, sfDir, emb, docs, bt.terms,
          bt.langs, bt.alphas, bt.ks, K1, B, PoolN, NBuckets).collect()
        .groupBy(_.getAs[Long]("qid"))
      val mine = rows.groupBy(_.getAs[Long]("qid"))
      bt.ks.map { case (q, k) =>
        val want = ref.getOrElse(q, Array.empty).map(_.getAs[Long]("doc_id"))
        val have = mine.getOrElse(q, Array.empty).map(_.getAs[Long]("doc_id"))
        want.toSet.intersect(have.toSet).size.toDouble / k
      }
    }

    Raw(builds, warmupS, ops.toSeq, attempted = i + 1,
      failures = failures.toSeq, recall = recall,
      storedBytes = Timing.files(Paths.get(layout)).values.sum,
      rawBytes = expectVec.size.toLong * D * 4,
      layer = Map("commits" -> commits.toSeq,
        "overhead_pairs" -> overhead.toSeq))
  }
}
