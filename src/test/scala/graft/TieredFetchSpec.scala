package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Search
import graft.operators.Search.{TieredRequests, TieredView}
import graft.sources.Disaggregated

/**
 * The tiered serve's block-pass fetch (`Search.tieredFetch`) against the
 * relational form ([[TieredFetchReference]]) on both layout kinds:
 * the same (qid, id) set with `s_full` equal as a bit pattern, on mixed
 * tiers, multi-lang and unmatched filters and degenerate inputs
 * (`SearchSpec` runs the same comparison on the stored fixture layouts).
 */
class TieredFetchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Scales = Seq(4, 8, 11)
  private val D = 16
  private val NCells = 4
  private val Partitioned = Option.empty[(Int, Int, Int)]
  private val Indexed = Some((NCells, D, 2))

  private val rnd = new scala.util.Random(20261019L)
  private def gauss(): Array[Float] = Array.fill(D)(
    math.max(-0.99, math.min(0.99, 0.3 * rnd.nextGaussian())).toFloat)

  /** A tiered layout's rows over `slices` partitions: (id, lang, vec,
    * code_s per tier[, cell]), the codes as the layout writers derive
    * them; on the indexed kind, a cell hashed from the id. */
  private def stored(rows: Seq[(String, Array[Float])], slices: Int,
                     indexed: Boolean): DataFrame = {
    val s = spark
    import s.implicits._
    val base = spark.sparkContext.parallelize(rows.zipWithIndex.map {
      case ((lang, v), i) => (i.toLong * 5 + 3, lang, v) }, slices)
      .toDF("id", "lang", "vec")
    val codes = Scales.map(sc =>
      Disaggregated.tierCode(col("vec"), sc).as(s"code_$sc"))
    val cell = if (indexed) Seq(pmod(hash(col("id")), lit(NCells))
      .as("cell")) else Nil
    base.select(Seq(col("id"), col("lang"), col("vec")) ++ codes ++ cell: _*)
  }

  /** A resolved view over `rows` with query rows 0 until qvecs.size. */
  private def view(rows: Seq[(String, Array[Float])], slices: Int,
                   indexed: Boolean, qvecs: Seq[Array[Float]]): TieredView = {
    val s = spark
    import s.implicits._
    val queries = qvecs.zipWithIndex.map { case (v, i) => (i.toLong, v, 0) }
      .toDF("vec_id", "embedding", "label")
    val st = stored(rows, slices, indexed)
    TieredView(st, queries, st.select(col("id").as("vec_id")))
  }

  /** A request bundle binding each qid's langs and tier. */
  private def req(filters: Seq[(Long, String)], tiers: Seq[(Long, Int)],
                  poolN: Int): TieredRequests = {
    val qids = tiers.map(_._1)
    TieredRequests(qids.map(_ -> Seq("spark")), filters, qids.map(_ -> 0.5),
      qids.map(_ -> 5), tiers, Scales, 1.2, 0.75, poolN, 4, 1.0)
  }

  /** (qid, id, bits of s_full), sorted. */
  private def rows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select("qid", "id", "s_full").collect().map(r => (r.getLong(0),
      r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2))))
      .toSeq.sorted

  private def assertSame(label: String, v: TieredView, r: TieredRequests,
                         indexed: Option[(Int, Int, Int)])
      : Seq[(Long, Long, Long)] = {
    val kind = if (indexed.isEmpty) "partitioned" else "indexed"
    val got = rows(Search.tieredFetch(spark, v, r, indexed))
    val want = rows(TieredFetchReference.tieredFetch(spark, v, r, indexed))
    assert(got == want, s"$label [$kind]: block-pass fetch diverged from " +
      s"the relational reference\n  got  ${got.take(12)}\n  want ${want.take(12)}")
    assert(got.map(x => (x._1, x._2)).distinct.length == got.length,
      s"$label [$kind]: the fetch set repeats a (qid, id)")
    got
  }

  private val langs = Seq("en", "de", "fr", "zh")

  test("tiered fetch equals the relational reference: three tiers, a two-lang qid, an unmatched lang") {
    val corpus = (0 until 300).map(i => langs(i % 4) -> gauss())
    val qvecs = Seq.fill(6)(gauss())
    val r = req(
      Seq(0L -> "en", 1L -> "de", 1L -> "fr", 2L -> "zh", 3L -> "xx",
        4L -> "en", 5L -> "fr"),
      Seq(0L -> 4, 1L -> 8, 2L -> 11, 3L -> 4, 4L -> 8, 5L -> 11), poolN = 5)
    for (kind <- Seq(Partitioned, Indexed)) {
      val got = assertSame("mixed tiers", view(corpus, 5, kind.nonEmpty,
        qvecs), r, kind)
      val qids = got.map(_._1).toSet
      assert(qids == Set(0L, 1L, 2L, 4L, 5L),
        s"qids with fetched rows: $qids (qid 3's lang matches no row)")
      // some request fetched past its seeds, or the survivor pass is
      // untested
      assert(got.groupBy(_._1).exists(_._2.length > 5), got.groupBy(_._1)
        .map { case (q, xs) => q -> xs.length })
    }
  }

  test("tiered fetch equals the relational reference on degenerate inputs") {
    val tie = gauss()
    // 3 "es" rows (fewer than poolN), 14 identical "tie" rows (every
    // score ties, seeds and survivors decided by id), zero vectors; the
    // zero-norm queries score every row 0.0 = tau0, so qid 4's non-seed
    // rows survive on the tie
    val corpus = (0 until 12).map(i => langs(i % 4) -> gauss()) ++
      Seq.fill(3)("es" -> gauss()) ++ Seq.fill(14)("tie" -> tie.clone()) ++
      Seq.fill(2)("en" -> new Array[Float](D))
    val zero = new Array[Float](D)
    val qvecs = Seq(gauss(), zero, tie.clone(), gauss(), zero.clone())
    val r = req(
      Seq(0L -> "es", 1L -> "en", 1L -> "de", 2L -> "tie", 3L -> "tie",
        3L -> "es") ++ (langs :+ "es").map(4L -> _),
      Seq(0L -> 11, 1L -> 4, 2L -> 8, 3L -> 4, 4L -> 8), poolN = 10)
    for (kind <- Seq(Partitioned, Indexed); slices <- Seq(1, 3, 60)) {
      // 60 partitions for 31 rows: most are empty, none holds poolN rows
      assertSame(s"degenerate, $slices partitions",
        view(corpus, slices, kind.nonEmpty, qvecs), r, kind)
    }
  }
}
