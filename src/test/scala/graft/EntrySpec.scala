package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** Driver-contract smoke: `entry` must return rows on sf0.001. */
class EntrySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("entry returns a non-empty flagship result") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("kernel fetch-set stats read 0, not null, on an empty kernel set") {
    import spark.implicits._
    val rel = Seq((0L, 1L, 0.5), (0L, 2L, 0.4)).toDF("qid", "id", "s_full")
    val ker = Seq((0L, 1L, 0.5), (0L, 3L, 0.3)).toDF("qid", "id", "s_full")
    assert(SparkEntry.fetchSetStats(ker, rel) == ((2L, 1L, 2L)))
    // the aggregate over an empty kernel set has null sums; they read 0,
    // so min_fetch_ok (nKer >= K·NQ) reports false instead of throwing
    assert(SparkEntry.fetchSetStats(ker.limit(0), rel) == ((0L, 0L, 0L)))
  }
}
