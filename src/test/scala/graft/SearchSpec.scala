package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Search, Ann}
import graft.streaming.StreamOps
import graft.streaming.StreamOps.ServePhase

class SearchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"
  private def emb = Tables.embeddings(spark, dir)
  private def docs = Tables.documents(spark, dir)

  // the tiered serve's request bundle as SparkEntry binds it
  private def tieredReq: Search.TieredRequests = {
    import SparkEntry._
    Search.TieredRequests(Bm25MultiQueries, FilterMultiRel, FusionMultiRel,
      PageKMultiRel, ServeTierRel, ServeTierLayoutScales, Bm25K1, Bm25B,
      RrfPoolN, PostBuckets, refineParams("cos_l1").alpha)
  }
  private val indexedKind =
    Some((SparkEntry.IvfCells, SparkEntry.EmbD, SparkEntry.IvfProbe))

  test("filteredTopK returns only candidates passing the metadata predicate") {
    val langs = Seq("fr", "de")
    val r = Search.filteredTopK(emb, docs, nq = 5, k = 10, langs).collect()
    assert(r.nonEmpty)
    assert(r.forall(row => langs.contains(row.getAs[String]("lang"))))
    // parity: equals brute top-k over the pre-filtered candidate subset
    val allowed = docs.filter(col("lang").isin(langs: _*))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val brute = Ann.bruteTopK(
      emb, nq = 5, k = emb.count().toInt) // full ranking
      .filter(col("id").isin(allowed.toSeq.map(Long.box): _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("id").asc)
    val want = brute.withColumn("r2", row_number().over(w))
      .filter(col("r2") <= 10)
      .select(col("qid"), col("r2").as("rank"), col("id"), col("score"))
      .collect().map(_.toSeq).toSet
    val got = r.map(row => Seq(row.getAs[Long]("qid"), row.getAs[Int]("rank"),
      row.getAs[Long]("id"), row.getAs[Double]("score"))).toSet
    assert(got == want, "filtered top-k != rank-over-filtered-subset")
  }

  test("rangeSearch returns exactly the pairs with cosine >= tau") {
    val tau = 0.3
    val r = Search.rangeSearch(emb, nq = 5, tau).collect()
    assert(r.forall(_.getAs[Double]("score") >= tau))
    // every query matches itself at score ~1.0
    val selfRows = r.filter(row => row.getAs[Long]("qid") == row.getAs[Long]("id"))
    assert(selfRows.length == 5)
    // count parity vs an unfiltered scored scan
    val n = Search.rangeSearch(emb, nq = 5, tau = -2.0).count()
    assert(n == 5 * emb.count(), "tau=-2 must keep every scored pair")
  }

  test("bm25 matches a hand-computed score on a constructed corpus") {
    import spark.implicits._
    // 3 docs; term 'x': tf 2/1/0, df 2; term 'y': tf 0/1/1, df 2
    val d = Seq((0L, "x x z"), (1L, "x y"), (2L, "y z z z")).toDF("doc_id", "text")
    val (ranked, st) = Search.bm25(d, Seq("x", "y"), k1 = 1.2, b = 0.75, topN = 3)
    assert(st.n == 3 && st.sumDl == 9 && st.df == Map("x" -> 2L, "y" -> 2L))
    val avgdl = 9.0 / 3
    def score(tf: Double, dl: Double, idf: Double): Double =
      idf * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
    val idf = math.log(1.0 + (3 - 2 + 0.5) / (2 + 0.5))
    val want = Map(
      0L -> (score(2, 3, idf) + score(0, 3, idf)),
      1L -> (score(1, 2, idf) + score(1, 2, idf)),
      2L -> (score(0, 4, idf) + score(1, 4, idf)))
    val got = ranked.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(got.keySet == want.keySet)
    for ((k, v) <- want) assert(got(k) == v, s"doc $k: ${got(k)} != $v")
  }

  test("bm25 ranking is invariant under repartitioning") {
    val (r1, _) = Search.bm25(docs, SparkEntry.Bm25Terms, 1.2, 0.75, 20)
    val (r2, _) = Search.bm25(docs.repartition(7), SparkEntry.Bm25Terms, 1.2, 0.75, 20)
    assert(r1.collect().map(_.toSeq).toSet == r2.collect().map(_.toSeq).toSet)
  }

  test("hybridRrf fuses ranks with exact 1/(K+r) arithmetic") {
    val (text, _) = Search.bm25(docs, SparkEntry.Bm25Terms, 1.2, 0.75, 50)
    val fused = Search.hybridRrf(text, emb, poolN = 50, rrfK = 60, k = 10)
      .collect()
    assert(fused.length == 10)
    val textRanks = text.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("rank")).toMap
    val vecRanks = Ann.bruteTopK(emb, 1, 50).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Int]("rank")).toMap
    fused.foreach { row =>
      val id = row.getAs[Long]("doc_id")
      val tTerm = textRanks.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      val vTerm = vecRanks.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      assert(row.getAs[Double]("rrf") == tTerm + vTerm, s"rrf mismatch for $id")
      assert(row.getAs[java.lang.Integer]("text_rank") ==
        textRanks.get(id).map(Int.box).orNull)
      assert(row.getAs[java.lang.Integer]("vec_rank") ==
        vecRanks.get(id).map(Int.box).orNull)
    }
    // rank order must follow rrf desc with doc_id tie-break
    val byRank = fused.sortBy(_.getAs[Int]("rank"))
    byRank.sliding(2).foreach { case Array(a, b) =>
      val (ra, rb) = (a.getAs[Double]("rrf"), b.getAs[Double]("rrf"))
      assert(ra > rb || (ra == rb &&
        a.getAs[Long]("doc_id") < b.getAs[Long]("doc_id")))
    }
  }

  test("mmr matches an independent greedy reimplementation") {
    val (nq, poolN, k, lam) = (5, 12, 6, 0.7)
    val got = Search.mmr(emb, nq, poolN, k, lam).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("sel_rank")) ->
        (r.getAs[Long]("id"), r.getAs[Double]("mmr"))).toMap
    assert(got.size == nq * k)
    // reference: collect pool + embeddings, run the greedy independently
    val vecs = emb.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    val pool = Ann.bruteTopK(emb, nq, poolN).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"), r.getAs[Double]("score")))
      .groupBy(_._1)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def f(x: Array[Float], y: Array[Float]) = {
        var s = 0.0; var j = 0
        while (j < x.length) { s += x(j).toDouble * y(j).toDouble; j += 1 }; s
      }
      f(a, b) / (math.max(math.sqrt(f(a, a)), 1e-12) *
        math.max(math.sqrt(f(b, b)), 1e-12))
    }
    for ((qid, rows) <- pool) {
      val cand = rows.sortBy(_._2)
      var selected = List.empty[Long]
      for (step <- 1 to k) {
        val scored = cand.filterNot(c => selected.contains(c._2)).map { c =>
          val maxSim = if (selected.isEmpty) 0.0
            else selected.map(s => cos(vecs(c._2), vecs(s))).max
          (c._2, (lam * c._3) - ((1.0 - lam) * maxSim))
        }
        val best = scored.maxBy { case (id, s) => (s, -id) }
        assert(got((qid, step)) == best,
          s"qid=$qid step=$step: ${got((qid, step))} != $best")
        selected ::= best._1
      }
    }
  }

  test("maxsim matches an independent reimplementation and self-ranks first") {
    val (nq, k, gs) = (4, 5, 5)
    val got = Search.maxSimTopK(emb, nq, k, gs).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("id"), r.getAs[Double]("score"))).toMap
    assert(got.size == nq * k)
    // independent: collect vectors, group, score sum-of-max in plain Scala
    val vecs = emb.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def f(x: Array[Float], y: Array[Float]) = {
        var s = 0.0; var j = 0
        while (j < x.length) { s += x(j).toDouble * y(j).toDouble; j += 1 }; s
      }
      f(a, b) / (math.max(math.sqrt(f(a, a)), 1e-12) *
        math.max(math.sqrt(f(b, b)), 1e-12))
    }
    val groups = vecs.keys.groupBy(_ / gs)
      .map { case (g, ids) => g -> ids.toSeq.sorted.map(vecs) }
    for (qid <- 0L until nq) {
      val ranked = groups.toSeq.map { case (id, dv) =>
        // sum over query members IN POSITION ORDER of max over dv
        val s = groups(qid).map(qv => dv.map(c => cos(c, qv)).max)
          .reduceLeft(_ + _)
        (id, s)
      }.sortBy { case (id, s) => (-s, id) }.take(k)
      ranked.zipWithIndex.foreach { case ((id, s), i) =>
        assert(got((qid, i + 1)) == ((id, s)),
          s"qid=$qid rank=${i + 1}: ${got((qid, i + 1))} != ${(id, s)}")
      }
      // the query group itself scores gs perfect matches -> rank 1
      assert(got((qid, 1))._1 == qid, s"qid=$qid should self-rank first")
    }
  }

  test("mmr first pick is the relevance argmax and ids are distinct") {
    val r = Search.mmr(emb, 5, 12, 6, 0.7).collect()
    val top1 = Ann.bruteTopK(emb, 5, 1).collect()
      .map(x => x.getAs[Long]("qid") -> x.getAs[Long]("id")).toMap
    r.groupBy(_.getAs[Long]("qid")).foreach { case (qid, rows) =>
      assert(rows.map(_.getAs[Long]("id")).distinct.length == rows.length)
      val first = rows.find(_.getAs[Int]("sel_rank") == 1).get
      assert(first.getAs[Long]("id") == top1(qid))
    }
  }

  test("q_ann_mrr matches a driver-side recomputation in exact integers") {
    // MrrScale is lcm(1..K): every rank 1..K divides it exactly
    (1 to SparkEntry.K).foreach(r => assert(SparkEntry.MrrScale % r == 0))
    val row = SparkEntry.queries("q_ann_mrr")(spark, dir).collect() match {
      case Array(r) => r
      case other => fail(s"expected one row, got ${other.length}")
    }
    val found = row.getAs[Long]("found")
    val scaled = row.getAs[Long]("mrr_scaled")
    // independent recomputation: rank of each query's exact NN in the
    // IVF list, reciprocal summed in the same scaled-integer arithmetic
    val nn = Ann.bruteTopK(emb, SparkEntry.NQ, 1).collect()
      .map(x => x.getAs[Long]("qid") -> x.getAs[Long]("id")).toMap
    val ivf = graft.operators.Ivf.topk(emb, SparkEntry.NQ, SparkEntry.K,
        SparkEntry.IvfCells, SparkEntry.EmbD, SparkEntry.IvfProbe).collect()
    val want = ivf.filter(x =>
        nn(x.getAs[Long]("qid")) == x.getAs[Long]("id"))
      .map(x => SparkEntry.MrrScale / x.getAs[Int]("rank")).sum
    val wantFound = ivf.count(x => nn(x.getAs[Long]("qid")) == x.getAs[Long]("id"))
    assert(found == wantFound && scaled == want)
    assert(row.getAs[Double]("mrr") ==
      scaled.toDouble / (SparkEntry.MrrScale.toDouble * SparkEntry.NQ))
  }

  test("bm25 at rest: posting-list retrieval equals in-memory bm25 on matching docs") {
    import SparkEntry.{Bm25Terms, Bm25K1, Bm25B, Bm25TopN, PostBuckets}
    val atRest = Search.bm25AtRest(spark, dir, Bm25Terms, Bm25K1, Bm25B,
      Bm25TopN, PostBuckets).collect()
    assert(atRest.nonEmpty)
    // every retrieved doc contains at least one query term (the posting
    // union IS the candidate set)
    val matched = docs.filter(Bm25Terms.map(t =>
        array_contains(split(col("text"), " "), t)).reduceLeft(_ || _))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(atRest.forall(r => matched.contains(r.getAs[Long]("doc_id"))))
    // idf > 0 always (the +1 log form), so matching docs score > 0 and
    // non-matching exactly 0: when >= topN docs match, the at-rest
    // top-N is bit-identical to the full-scan bm25 top-N
    assert(matched.size >= Bm25TopN, "fixture must have enough matches")
    val (inMem, _) = Search.bm25(docs, Bm25Terms, Bm25K1, Bm25B, Bm25TopN)
    assert(atRest.map(_.toSeq).toSeq.sortBy(_.toString) ==
      inMem.collect().map(_.toSeq).toSeq.sortBy(_.toString))
  }

  test("hybridLinear: normalized ranges, convex fusion, magnitude preserved") {
    import SparkEntry.{Bm25Terms, Bm25K1, Bm25B, RrfPoolN, HybridAlpha, HybridK}
    val (text, _) = Search.bm25(docs, Bm25Terms, Bm25K1, Bm25B, RrfPoolN)
    val r = Search.hybridLinear(text, emb, RrfPoolN, HybridAlpha, HybridK)
      .collect()
    assert(r.length == HybridK)
    r.foreach { row =>
      val tn = row.getAs[Double]("tnorm")
      val vn = row.getAs[Double]("vnorm")
      assert(tn >= 0.0 && tn <= 1.0 && vn >= 0.0 && vn <= 1.0)
      // the fusion is exactly the convex combination of the norms
      assert(row.getAs[Double]("fused") ==
        HybridAlpha * tn + (1.0 - HybridAlpha) * vn)
    }
    // each list's best member normalizes to exactly 1.0 somewhere in
    // the fused pool (min-max normalization hits its endpoints)
    val all = Search.hybridLinear(text, emb, RrfPoolN, HybridAlpha,
      k = 10000).collect()
    assert(all.exists(_.getAs[Double]("tnorm") == 1.0))
    assert(all.exists(_.getAs[Double]("vnorm") == 1.0))
  }

  test("compacted postings layout: fewer files, identical rows and query") {
    import SparkEntry.{Bm25Terms, Bm25K1, Bm25B, Bm25TopN, PostBuckets}
    val streamed = graft.streaming.StreamOps
      .ensureStreamPostingsLayout(spark, dir, PostBuckets)
    val compacted = Search.compactPostingsLayout(spark, streamed)
    def dataFiles(p: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(p))
    }
    // the _stats sidecar rides along; the postings row set is unchanged
    assert(dataFiles(compacted) <= dataFiles(streamed))
    val a = spark.read.parquet(streamed).collect().map(_.toSeq).toSet
    val b = spark.read.parquet(compacted).collect().map(_.toSeq).toSet
    assert(a == b, "compaction must not change the posting rows")
    val qa = Search.bm25OffPostings(spark, streamed, Bm25Terms, Bm25K1,
      Bm25B, Bm25TopN, PostBuckets).collect().map(_.toSeq).toSet
    val qb = Search.bm25OffPostings(spark, compacted, Bm25Terms, Bm25K1,
      Bm25B, Bm25TopN, PostBuckets).collect().map(_.toSeq).toSet
    assert(qa == qb, "query off the compacted layout diverged")
  }

  test("multi-query bm25: each qid's slice is bit-equal to its own single-query run") {
    import SparkEntry.{Bm25MultiQueries, Bm25K1, Bm25B, Bm25MultiTopN,
      PostBuckets}
    val multi = Search.bm25Multi(spark, dir, Bm25MultiQueries, Bm25K1,
      Bm25B, Bm25MultiTopN, PostBuckets).collect()
    assert(Bm25MultiQueries.map(_._2).distinct.size ==
      Bm25MultiQueries.size, "fixture queries must have distinct term sets")
    // one plan, four term sets: each query's slice must be bit-identical
    // to the single-term-set posting retrieval run with ITS terms alone
    // (df/idf are global per term, so the union-pruned scan changes
    // nothing about any individual query's scores)
    Bm25MultiQueries.foreach { case (qid, terms) =>
      val solo = Search.bm25AtRest(spark, dir, terms, Bm25K1, Bm25B,
        Bm25MultiTopN, PostBuckets).collect()
        .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
          r.getAs[Double]("score"))).toSet
      val slice = multi.filter(_.getAs[Long]("qid") == qid)
        .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
          r.getAs[Double]("score"))).toSet
      assert(slice == solo, s"qid=$qid slice diverged from its solo run")
    }
  }

  test("per-query filters: each qid's slice equals the single-predicate run with its own langs") {
    import SparkEntry.{FilterMultiRel, K}
    val multi = Search.filteredTopKMulti(emb, docs, FilterMultiRel, K)
      .collect()
    assert(multi.nonEmpty)
    // every served row's lang is in ITS query's own set
    val byQid = FilterMultiRel.groupBy(_._1)
      .map { case (q, ls) => q -> ls.map(_._2).toSet }
    multi.foreach(r => assert(
      byQid(r.getAs[Long]("qid")).contains(r.getAs[String]("lang")),
      s"row served outside its query's filter: $r"))
    // per-qid slice == the single-predicate filteredTopK run with that
    // query's own langs (restricted to the same qid)
    byQid.foreach { case (qid, langs) =>
      val solo = Search.filteredTopK(emb, docs, (qid + 1).toInt, K,
        langs.toSeq).collect()
        .filter(_.getAs[Long]("qid") == qid).map(_.toSeq).toSet
      val slice = multi.filter(_.getAs[Long]("qid") == qid)
        .map(_.toSeq).toSet
      assert(slice == solo, s"qid=$qid slice diverged from its solo run")
    }
  }

  test("bm25 deletes: tombstoned docs gone, survivors keep stale-stats scores") {
    import SparkEntry.{Bm25Terms, Bm25K1, Bm25B, Bm25TopN, PostBuckets,
      Bm25DeleteMod}
    val del = Search.bm25AtRestWithDeletes(spark, dir, Bm25Terms, Bm25K1,
      Bm25B, Bm25TopN, PostBuckets, Bm25DeleteMod).collect()
    assert(del.nonEmpty)
    assert(del.forall(_.getAs[Long]("doc_id") % Bm25DeleteMod != 0),
      "a tombstoned doc was served")
    // stats stay STALE (the Lucene merge-on-read contract): every
    // surviving doc's score is bit-identical to its pre-delete score
    val before = Search.bm25AtRest(spark, dir, Bm25Terms, Bm25K1, Bm25B,
      topN = 10000, nBuckets = PostBuckets).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    del.foreach { r =>
      assert(r.getAs[Double]("score") == before(r.getAs[Long]("doc_id")),
        s"score drifted for ${r.getAs[Long]("doc_id")} — stats not stale")
    }
    // and the post-delete ranking is the pre-delete ranking with the
    // tombstoned docs excised
    val expect = before.toSeq.filter(_._1 % Bm25DeleteMod != 0)
      .sortBy { case (id, s) => (-s, id) }.take(Bm25TopN)
      .zipWithIndex.map { case ((id, s), i) => (id, i + 1, s) }.toSet
    val got = del.map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank"),
      r.getAs[Double]("score"))).toSet
    assert(got == expect)
  }

  test("hybridLinearMulti serves a qid whose terms match zero docs (vnorm alone)") {
    // qid 1's only term matches no document, so its BM25 list is EMPTY —
    // the silent-row-loss trap: an inner join on the per-qid text min/max
    // would drop qid 1 from the output entirely. It must instead be
    // served on its vector list alone, with tnorm = 0.0 on every row.
    val qs: Seq[(Long, Seq[String])] = Seq(
      0L -> Seq("filter", "merge"),
      1L -> Seq("zzz_no_such_token_zzz"))
    val r = Search.hybridLinearMulti(spark, dir, emb, qs, k1 = 1.2,
      b = 0.75, poolN = 20, alpha = 0.6, k = 5, nBuckets = 16).collect()
    val q1 = r.filter(_.getAs[Long]("qid") == 1L)
    assert(q1.length == 5, s"qid with empty text list dropped: ${q1.length} rows")
    assert(q1.forall(_.getAs[Double]("tnorm") == 0.0),
      "empty text list must contribute tnorm = 0.0")
    assert(q1.exists(_.getAs[Double]("vnorm") > 0.0))
    // and qid 0 (non-empty text list) is unaffected
    assert(r.count(_.getAs[Long]("qid") == 0L) == 5)
  }

  test("multi-query MaxScore: zero-miss per qid — bit-equal to bm25Multi") {
    import SparkEntry.{Bm25MultiQueries, Bm25K1, Bm25B, Bm25MultiTopN,
      PostBuckets, Bm25SeedB}
    val fast = Search.bm25MultiMaxScore(spark, dir, Bm25MultiQueries,
      Bm25K1, Bm25B, Bm25MultiTopN, PostBuckets, Bm25SeedB)
    val full = Search.bm25Multi(spark, dir, Bm25MultiQueries, Bm25K1,
      Bm25B, Bm25MultiTopN, PostBuckets)
    assert(fast.collect().map(_.toSeq).toSet ==
      full.collect().map(_.toSeq).toSet,
      "per-qid MaxScore rejection lost a true top-N member")
    // the bound pass reads (term, doc_id) only — tf/dl stay on disk for
    // all but each query's seeds + survivors (fresh plan: a finalized
    // AQE plan hides scan subtrees inside query stages)
    val scans = graft.sources.Disaggregated.scanSchemas(
      Search.bm25MultiMaxScore(spark, dir, Bm25MultiQueries, Bm25K1,
        Bm25B, Bm25MultiTopN, PostBuckets, Bm25SeedB))
    assert(scans.exists(f => f.contains("term") && f.contains("doc_id") &&
      !f.contains("tf") && !f.contains("dl")),
      s"no tf/dl-free cheap scan in:\n${scans.mkString("\n")}")
  }

  test("multi-query MaxScore ledger: per-qid rows, sum-of-parts total, zero-miss bytes") {
    import SparkEntry.{Bm25MultiQueries, Bm25K1, Bm25B, Bm25MultiTopN,
      PostBuckets, Bm25SeedB}
    val led = Search.bm25MultiMaxScoreMetrics(spark, dir,
      Bm25MultiQueries, Bm25K1, Bm25B, Bm25MultiTopN, PostBuckets,
      Bm25SeedB).collect()
    val per = led.filter(_.getAs[Long]("qid") >= 0)
    val tot = led.filter(_.getAs[Long]("qid") == -1L)
    assert(per.length == Bm25MultiQueries.length && tot.length == 1,
      s"expected ${Bm25MultiQueries.length} per-qid rows + 1 aggregate")
    // the aggregate row is exactly the sum of the per-qid integers
    for (c <- Seq("candidates", "seed_docs", "survivors", "bytes_cheap",
        "bytes_exact", "bytes_full"))
      assert(per.map(_.getAs[Long](c)).sum == tot(0).getAs[Long](c),
        s"aggregate $c != sum of per-qid rows")
    per.foreach { r =>
      val qid = r.getAs[Long]("qid")
      // save is exactly the ledger arithmetic over its own row
      val expSave = 1.0 - (r.getAs[Long]("bytes_cheap") +
        r.getAs[Long]("bytes_exact")).toDouble /
        r.getAs[Long]("bytes_full").toDouble
      assert(r.getAs[Double]("save") == expSave, s"save mismatch qid=$qid")
      // zero-miss: enough survivors to fill the page (or all candidates)
      assert(r.getAs[Long]("survivors") >=
        math.min(Bm25MultiTopN.toLong, r.getAs[Long]("candidates")),
        s"qid=$qid survivors below the page size")
      assert(r.getAs[Long]("seed_docs") <= Bm25SeedB.toLong)
      // the cheap pass costs strictly less than the full read
      assert(r.getAs[Long]("bytes_cheap") < r.getAs[Long]("bytes_full"))
      // fpr is exactly the unnecessary-fetch ratio over this qid's own
      // candidate universe (the reference triple's third leg)
      val page = math.min(Bm25MultiTopN.toLong, r.getAs[Long]("candidates"))
      assert(r.getAs[Double]("fpr") ==
        (r.getAs[Long]("survivors") - page).toDouble /
          r.getAs[Long]("candidates").toDouble, s"fpr mismatch: $r")
      assert(r.getAs[Double]("fpr") >= 0.0 && r.getAs[Double]("fpr") < 1.0)
    }
    // and the result rung the ledger accounts for stays zero-miss
    // (bm25MultiMaxScore == bm25Multi is asserted in its own test)
  }

  test("groupedTopKMulti: each (qid, lang) slice equals the fixed-facet grouped run") {
    import SparkEntry.{GroupedMultiRel, GroupedK}
    val nq = (GroupedMultiRel.map(_._1).max + 1).toInt
    val multi = Search.groupedTopKMulti(emb, docs, GroupedMultiRel,
      GroupedK).collect()
    // candidacy respects each qid's OWN facet set
    val allowed = GroupedMultiRel.toSet
    assert(multi.nonEmpty)
    assert(multi.forall(r =>
      allowed((r.getAs[Long]("qid"), r.getAs[String]("lang")))),
      "a row outside its qid's facet set was served")
    // parity: every (qid, lang) slice equals groupedTopK's (which ranks
    // per (qid, lang) over ALL facets) slice for that key
    val fixed = Search.groupedTopK(emb, docs, nq, GroupedK).collect()
      .groupBy(r => (r.getAs[Long]("qid"), r.getAs[String]("lang")))
    multi.groupBy(r => (r.getAs[Long]("qid"), r.getAs[String]("lang")))
      .foreach { case (key, rows) =>
        val want = fixed(key).map(_.toSeq).toSet
        assert(rows.map(_.toSeq).toSet == want,
          s"facet slice $key diverged from the fixed-facet grouped run")
      }
  }

  test("stored query relations round-trip the compile-time constants") {
    import SparkEntry.{Bm25MultiQueries, FilterMultiRel, GroupedMultiRel,
      RangeMultiRel, FusionMultiRel, DeltaMultiByRank, MkeepMultiByRank,
      MmrLambdaMultiRel, PageKMultiRel, NprobeMultiRel, RerankMultiRel,
      ServeTierRel, AsOfServeQueries}
    val path = SparkEntry.ensureQueryRelations(spark, dir)
    assert(path == SparkEntry.queryRelPathFor(dir))
    val rows = spark.read.parquet(path)
    assert(rows.count() ==
      Bm25MultiQueries.map(_._2.size).sum + FilterMultiRel.size +
        GroupedMultiRel.size + RangeMultiRel.size + FusionMultiRel.size +
        DeltaMultiByRank.size + MkeepMultiByRank.size +
        MmrLambdaMultiRel.size + PageKMultiRel.size + NprobeMultiRel.size +
        RerankMultiRel.size + ServeTierRel.size +
        AsOfServeQueries.map(_._2.size).sum)
    // every multi rung binds from the table; spot-check the bm25 kind
    // reassembles the exact constant (qid-sorted, pos-ordered)
    val bm25 = rows.filter(col("kind") === "bm25")
      .select(col("qid"), col("pos"), col("term")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sorted.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (qid, ts) => qid -> ts.sortBy(_._2).map(_._3).toSeq }
    assert(bm25 == Bm25MultiQueries,
      "stored bm25 relation diverged from the writer's constant")
  }

  test("bm25 MaxScore: zero-miss — bit-equal to the full posting scoring") {
    import SparkEntry.{Bm25Terms, Bm25K1, Bm25B, Bm25TopN, PostBuckets,
      Bm25SeedB}
    val fast = Search.bm25MaxScore(spark, dir, Bm25Terms, Bm25K1, Bm25B,
      Bm25TopN, PostBuckets, Bm25SeedB).collect().map(_.toSeq).toSet
    val full = Search.bm25AtRest(spark, dir, Bm25Terms, Bm25K1, Bm25B,
      Bm25TopN, PostBuckets).collect().map(_.toSeq).toSet
    assert(fast == full, "MaxScore rejection lost a true top-N member")
  }

  test("MaxScore ledger: survivors bounded, bytes exactly consistent") {
    import SparkEntry.{Bm25Terms, Bm25K1, Bm25B, Bm25TopN, PostBuckets,
      Bm25SeedB}
    val r = Search.bm25MaxScoreMetrics(spark, dir, Bm25Terms, Bm25K1,
      Bm25B, Bm25TopN, PostBuckets, Bm25SeedB).collect()(0)
    val cands = r.getAs[Long]("candidates")
    val surv = r.getAs[Long]("survivors")
    assert(surv <= cands, "survivors are a candidate subset")
    assert(surv >= Bm25TopN, "zero-miss needs >= topN survivors")
    assert(r.getAs[Long]("bytes_cheap") < r.getAs[Long]("bytes_full"))
    // save is exactly the ledger identity (sign NOT asserted: the
    // fixture's 31-token vocabulary makes nearly every doc match most
    // query terms — MaxScore's documented worst case — and the ledger
    // honestly reports the negative save rather than flattering it;
    // selective terms over a real vocabulary are where the cut lives)
    val bc = r.getAs[Long]("bytes_cheap")
    val be = r.getAs[Long]("bytes_exact")
    val bf = r.getAs[Long]("bytes_full")
    assert(r.getAs[Double]("save") == 1.0 - (bc + be).toDouble / bf.toDouble)
  }

  test("multi-query deletes: tombstoned docs gone from every qid, stats stale") {
    import SparkEntry.{Bm25MultiQueries, Bm25K1, Bm25B, Bm25MultiTopN,
      PostBuckets, Bm25DeleteMod}
    val del = Search.bm25MultiWithDeletes(spark, dir, Bm25MultiQueries,
      Bm25K1, Bm25B, Bm25MultiTopN, PostBuckets, Bm25DeleteMod).collect()
    assert(del.nonEmpty)
    assert(del.forall(_.getAs[Long]("doc_id") % Bm25DeleteMod != 0),
      "a tombstoned doc was served")
    // stats stay STALE: a surviving doc keeps its pre-delete score
    val plain = Search.bm25Multi(spark, dir, Bm25MultiQueries, Bm25K1,
      Bm25B, Bm25MultiTopN, PostBuckets).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("doc_id")) ->
        r.getAs[Double]("score")).toMap
    del.foreach { r =>
      val key = (r.getAs[Long]("qid"), r.getAs[Long]("doc_id"))
      plain.get(key).foreach(s => assert(s == r.getAs[Double]("score"),
        s"survivor $key rescored — stats must stay stale"))
    }
  }

  test("per-qid fusion weights: uniform relation equals the fixed-alpha run; weights bind per qid") {
    import SparkEntry.{Bm25MultiQueries, Bm25K1, Bm25B, RrfPoolN,
      HybridK, PostBuckets, HybridAlpha}
    val qids = Bm25MultiQueries.map(_._1)
    // a uniform weight relation must reproduce the fixed-alpha rung
    val uniform = Search.hybridLinearMultiWeighted(spark, dir, emb,
      Bm25MultiQueries, qids.map(_ -> HybridAlpha), Bm25K1, Bm25B,
      RrfPoolN, HybridK, PostBuckets).collect().map(_.toSeq).toSet
    val fixed = Search.hybridLinearMulti(spark, dir, emb,
      Bm25MultiQueries, Bm25K1, Bm25B, RrfPoolN, HybridAlpha, HybridK,
      PostBuckets).collect().map(_.toSeq).toSet
    assert(uniform == fixed,
      "uniform per-qid weights diverged from the fixed-alpha fusion")
    // extreme weights bind per qid: α=1 ranks by tnorm alone, α=0 by
    // vnorm alone — each qid's top row must reflect ITS OWN knob
    val extreme = Search.hybridLinearMultiWeighted(spark, dir, emb,
      Bm25MultiQueries, qids.map(q => q -> (if (q % 2 == 0) 1.0 else 0.0)),
      Bm25K1, Bm25B, RrfPoolN, HybridK, PostBuckets).collect()
    extreme.filter(_.getAs[Int]("rank") == 1).foreach { r =>
      val (t, v) = (r.getAs[Double]("tnorm"), r.getAs[Double]("vnorm"))
      if (r.getAs[Long]("qid") % 2 == 0)
        assert(r.getAs[Double]("fused") == t, s"alpha=1 must rank by tnorm: $r")
      else
        assert(r.getAs[Double]("fused") == v, s"alpha=0 must rank by vnorm: $r")
    }
  }

  test("per-qid page size: each qid's slice is the k-prefix of the deep ranking") {
    import SparkEntry.PageKMultiRel
    val r = Search.topKMulti(emb, PageKMultiRel).collect()
    val maxK = PageKMultiRel.map(_._2).max
    val deep = Ann.bruteTopK(emb, (PageKMultiRel.map(_._1).max + 1).toInt,
      maxK).collect()
      .groupBy(_.getAs[Long]("qid"))
    PageKMultiRel.foreach { case (qid, kq) =>
      val slice = r.filter(_.getAs[Long]("qid") == qid).map(_.toSeq).toSet
      val want = deep(qid).filter(_.getAs[Int]("rank") <= kq)
        .map(x => Seq(x.getAs[Long]("qid"), x.getAs[Int]("rank"),
          x.getAs[Long]("id"), x.getAs[Double]("score"))).toSet
      assert(slice.size == kq && slice == want,
        s"qid $qid page-$kq slice diverged")
    }
  }

  test("per-qid rerank: each qid's slice equals the fixed-depth PQ run; deeper rescue is monotone") {
    import SparkEntry.{RerankMultiRel, K, IvfCells, EmbD, IvfProbe, PqM,
      PqCodes}
    val multi = graft.operators.Pq.topkAtRestMultiRerank(spark, dir, emb,
      K, IvfCells, EmbD, IvfProbe, PqM, PqCodes, RerankMultiRel).collect()
    val nq = (RerankMultiRel.map(_._1).max + 1).toInt
    RerankMultiRel.foreach { case (qid, rr) =>
      val single = graft.operators.Pq.topkAtRest(spark, dir, emb, nq, K,
        IvfCells, EmbD, IvfProbe, PqM, PqCodes, rr)
        .filter(col("qid") === qid).collect().map(_.toSeq).toSet
      val slice = multi.filter(_.getAs[Long]("qid") == qid)
        .map(_.toSeq).toSet
      assert(slice == single, s"qid $qid rerank=$rr slice diverged")
    }
  }

  test("per-qid nprobe: each qid's slice equals the fixed-depth indexed run; np=nCells is full probe") {
    import SparkEntry.{NprobeMultiRel, K, IvfCells, EmbD}
    val multi = graft.operators.Ivf.topkIndexedMultiProbe(spark, dir, emb,
      NprobeMultiRel, K, IvfCells, EmbD).collect()
    val nq = (NprobeMultiRel.map(_._1).max + 1).toInt
    NprobeMultiRel.foreach { case (qid, np) =>
      val single = graft.operators.Ivf.topkIndexed(spark, dir, emb, nq, K,
        IvfCells, EmbD, np)
        .filter(col("qid") === qid).collect().map(_.toSeq).toSet
      val slice = multi.filter(_.getAs[Long]("qid") == qid)
        .map(_.toSeq).toSet
      assert(slice == single, s"qid $qid nprobe=$np slice diverged")
    }
    // the np = nCells qid provably recovers its brute top-k
    val fullQid = NprobeMultiRel.find(_._2 == IvfCells).map(_._1)
    fullQid.foreach { qid =>
      val brute = Ann.bruteTopK(emb, nq, K).collect()
        .filter(_.getAs[Long]("qid") == qid)
        .map(x => Seq(x.getAs[Long]("qid"), x.getAs[Int]("rank"),
          x.getAs[Long]("id"), x.getAs[Double]("score"))).toSet
      val slice = multi.filter(_.getAs[Long]("qid") == qid)
        .map(_.toSeq).toSet
      assert(slice == brute, "full-probe qid must equal brute")
    }
  }

  test("full request object: every row obeys its qid's own langs and page size") {
    import SparkEntry.{Bm25MultiQueries, FilterMultiRel, FusionMultiRel,
      PageKMultiRel, Bm25K1, Bm25B, RrfPoolN, PostBuckets}
    val r = Search.serveRequests(spark, dir, emb, docs, Bm25MultiQueries,
      FilterMultiRel, FusionMultiRel, PageKMultiRel, Bm25K1, Bm25B,
      RrfPoolN, PostBuckets).collect()
    // per-qid page sizes respected exactly
    PageKMultiRel.foreach { case (qid, kq) =>
      assert(r.count(_.getAs[Long]("qid") == qid) == kq,
        s"qid $qid page not exactly $kq")
    }
    // every served doc passes its OWN qid's lang filter (both retriever
    // lists are filtered, so no candidate can leak from outside the set)
    val langOf = docs.select(col("doc_id"), col("lang")).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    val allowed = FilterMultiRel.groupBy(_._1)
      .map { case (q, ls) => q -> ls.map(_._2).toSet }
    r.foreach { row =>
      val (qid, doc) = (row.getAs[Long]("qid"), row.getAs[Long]("doc_id"))
      assert(allowed(qid)(langOf(doc)),
        s"doc $doc (lang ${langOf(doc)}) served to qid $qid outside its langs")
    }
    // fusion is each qid's own convex combination
    r.foreach { row =>
      val a = FusionMultiRel.toMap.apply(row.getAs[Long]("qid"))
      assert(row.getAs[Double]("fused") ==
        a * row.getAs[Double]("tnorm") +
          (1.0 - a) * row.getAs[Double]("vnorm"))
    }
  }

  test("per-qid MMR λ: each qid's slice equals the uniform run with its own λ") {
    import SparkEntry.{MmrLambdaMultiRel, MmrPoolN, MmrK}
    val mixed = Search.mmrMulti(emb, MmrLambdaMultiRel, MmrPoolN, MmrK)
      .collect()
    assert(mixed.length == MmrLambdaMultiRel.length * MmrK)
    // binding proof: the mixed-λ run's qid slice is byte-equal to a
    // uniform-λ run's slice at that qid's OWN λ (qid 2 carries the
    // fixed rung's MmrLambda, so this also reproduces q_ann_mmr there)
    MmrLambdaMultiRel.groupBy(_._2).foreach { case (lam, qs) =>
      val nq = (MmrLambdaMultiRel.map(_._1).max + 1).toInt
      val uniform = Search.mmr(emb, nq, MmrPoolN, MmrK, lam)
        .collect().groupBy(_.getAs[Long]("qid"))
      qs.map(_._1).foreach { qid =>
        val slice = mixed.filter(_.getAs[Long]("qid") == qid)
          .map(_.toSeq).toSet
        assert(slice == uniform(qid).map(_.toSeq).toSet,
          s"qid $qid (λ=$lam) diverged from its uniform-λ run")
      }
    }
    // λ genuinely binds: two qids with different λ over the same corpus
    // must not produce identical selections beyond rank 1
    val byQid = mixed.groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.sortBy(_.getAs[Int]("sel_rank"))
        .map(_.getAs[Long]("id")).toSeq).toMap
    assert(byQid.values.toSet.size > 1 || byQid.size == 1)
  }

  test("zero-match qids stay in the ledgers as explicit all-zero rows") {
    import SparkEntry.{Bm25K1, Bm25B, Bm25MultiTopN, PostBuckets,
      Bm25SeedB}
    // qid 1's term matches no posting row at all — before the
    // universe left-joins it silently vanished from the ledger (and
    // the qid=-1 row no longer covered the whole relation)
    val qs: Seq[(Long, Seq[String])] = Seq(
      0L -> Seq("filter", "merge"),
      1L -> Seq("zzqnomatchtokenzz"))
    val led = Search.bm25MultiMaxScoreMetrics(spark, dir, qs, Bm25K1,
      Bm25B, Bm25MultiTopN, PostBuckets, Bm25SeedB).collect()
    val byQid = led.map(r => r.getAs[Long]("qid") -> r).toMap
    assert(byQid.contains(1L), "zero-match qid missing from the ledger")
    val z = byQid(1L)
    for (c <- Seq("candidates", "seed_docs", "survivors", "bytes_cheap",
        "bytes_exact", "bytes_full"))
      assert(z.getAs[Long](c) == 0L, s"zero-match qid column $c != 0")
    // 0/0 ratios are DEFINED (0.0), never NaN
    assert(z.getAs[Double]("save") == 0.0 && z.getAs[Double]("fpr") == 0.0)
    // the aggregate row still covers the whole relation
    val tot = byQid(-1L)
    for (c <- Seq("candidates", "survivors", "bytes_full"))
      assert(tot.getAs[Long](c) == byQid(0L).getAs[Long](c),
        s"aggregate $c no longer equals the sum over ALL qids")
  }

  test("indexed serve: page discipline holds; full probe recovers the brute serve") {
    import SparkEntry.{Bm25MultiQueries, FilterMultiRel, FusionMultiRel,
      PageKMultiRel, Bm25K1, Bm25B, RrfPoolN, PostBuckets, IvfCells,
      EmbD, IvfProbe}
    val idx = Search.serveRequestsIndexed(spark, dir, emb, docs,
      Bm25MultiQueries, FilterMultiRel, FusionMultiRel, PageKMultiRel,
      Bm25K1, Bm25B, RrfPoolN, PostBuckets, IvfCells, EmbD, IvfProbe)
      .collect()
    PageKMultiRel.foreach { case (qid, kq) =>
      assert(idx.count(_.getAs[Long]("qid") == qid) == kq,
        s"indexed serve: qid $qid page not exactly $kq") }
    // at FULL probe the indexed vector pool equals the brute filtered
    // pool, so the whole fused serve must be bit-equal to the brute
    // capstone (the only approximation is cell pruning)
    val full = Search.serveRequestsIndexed(spark, dir, emb, docs,
      Bm25MultiQueries, FilterMultiRel, FusionMultiRel, PageKMultiRel,
      Bm25K1, Bm25B, RrfPoolN, PostBuckets, IvfCells, EmbD,
      nprobe = IvfCells).collect().map(_.toSeq).toSet
    val brute = Search.serveRequests(spark, dir, emb, docs,
      Bm25MultiQueries, FilterMultiRel, FusionMultiRel, PageKMultiRel,
      Bm25K1, Bm25B, RrfPoolN, PostBuckets).collect().map(_.toSeq).toSet
    assert(full == brute && full.nonEmpty,
      "full-probe indexed serve diverged from the brute capstone")
  }

  test("postings upsert: base files byte-immutable, update observable, survivors unshifted") {
    import SparkEntry.{Bm25Terms, Bm25K1, Bm25B, Bm25TopN, PostBuckets,
      Bm25UpsertMod, PostingsUpsertToken}
    val root = Search.ensurePostingsLayout(spark, dir, PostBuckets)
    def dataFiles(p: String): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(p))
        .filter(_.getName.endsWith(".parquet"))
        .filterNot(_.getPath.contains("_upsert"))
        .map(f => f.getPath -> (f.length, f.lastModified)).toMap
    }
    val before = dataFiles(root)
    val up = Search.bm25AtRestUpserted(spark, dir, Bm25Terms, Bm25K1,
      Bm25B, Bm25TopN, PostBuckets, Bm25UpsertMod, PostingsUpsertToken)
      .collect()
    assert(dataFiles(root) == before,
      "the upsert commit must never touch a base posting file")
    val pre = Search.bm25AtRest(spark, dir, Bm25Terms, Bm25K1, Bm25B,
      Bm25TopN, PostBuckets).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    // the update is OBSERVABLE: served updated docs score strictly
    // BELOW their pre-update selves (dl grew by one token, tf fixed)
    val updated = up.filter(_.getAs[Long]("doc_id") % Bm25UpsertMod == 0)
    assert(updated.nonEmpty, "no updated doc reached the page")
    updated.foreach { r =>
      pre.get(r.getAs[Long]("doc_id")).foreach(s =>
        assert(r.getAs[Double]("score") < s,
          s"updated doc's score did not drop: $r"))
    }
    // un-updated survivors keep their exact pre-update scores (stats
    // sidecar stale, their postings untouched)
    up.filter(_.getAs[Long]("doc_id") % Bm25UpsertMod != 0).foreach { r =>
      pre.get(r.getAs[Long]("doc_id")).foreach(s =>
        assert(r.getAs[Double]("score") == s,
          s"un-updated doc's score drifted: $r"))
    }
  }

  test("postings segment merge: exact stats restored, row-identical to a fresh build over the updated corpus") {
    import SparkEntry.{Bm25Terms, Bm25K1, Bm25B, Bm25TopN, PostBuckets,
      Bm25UpsertMod, PostingsUpsertToken}
    val root = Search.ensurePostingsLayout(spark, dir, PostBuckets)
    val merged = Search.compactPostingsUpsert(spark, dir, root,
      Bm25UpsertMod, PostBuckets, PostingsUpsertToken)
    // (n, sumdl) EXACT again: n unchanged (updates replace, never add),
    // sumdl grown by exactly one token per updated doc — the staleness
    // the upsert rung documents ends at the merge
    val baseSt = spark.read.parquet(s"$root/_stats").collect()(0)
    val mSt = spark.read.parquet(s"$merged/_stats").collect()(0)
    val nUpd = docs.filter(col("doc_id") % Bm25UpsertMod === 0).count()
    assert(mSt.getAs[Long]("n") == baseSt.getAs[Long]("n"))
    assert(mSt.getAs[Long]("sumdl") ==
      baseSt.getAs[Long]("sumdl") + nUpd,
      "merged sumdl is not base + one token per updated doc")
    // the merged layout is ROW-IDENTICAL to a fresh build over the
    // updated corpus: same posting rows, same recomputed stats, and
    // the serve off it equals the fresh-build serve bit-for-bit
    val freshDir = java.nio.file.Files.createTempDirectory("freshpost-")
    try {
      val updatedDocs = docs.withColumn("text",
        when(col("doc_id") % Bm25UpsertMod === 0,
          concat(col("text"), lit(" " + PostingsUpsertToken)))
          .otherwise(col("text")))
      Search.postingsOf(updatedDocs, PostBuckets)
        .write.mode("overwrite").partitionBy("tb")
        .parquet(freshDir.toString)
      spark.read.parquet(freshDir.toString)
        .select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
        .coalesce(1).write.mode("overwrite")
        .parquet(freshDir.resolve("_stats").toString)
      val a = spark.read.parquet(merged)
        .select("term", "doc_id", "tf", "dl", "tb")
        .collect().map(_.toSeq).toSet
      val b = spark.read.parquet(freshDir.toString)
        .select("term", "doc_id", "tf", "dl", "tb")
        .collect().map(_.toSeq).toSet
      assert(a == b && a.nonEmpty,
        "merged postings != fresh build over the updated corpus")
      val servedMerged = Search.bm25OffPostings(spark, merged, Bm25Terms,
        Bm25K1, Bm25B, Bm25TopN, PostBuckets).collect().map(_.toSeq)
      val servedFresh = Search.bm25OffPostings(spark, freshDir.toString,
        Bm25Terms, Bm25K1, Bm25B, Bm25TopN, PostBuckets)
        .collect().map(_.toSeq)
      assert(servedMerged.toSeq == servedFresh.toSeq,
        "merged serve diverged from the fresh-build serve")
    } finally graft.sources.VecFiles.deleteRecursively(freshDir)
    // OPTIMIZE also compacts: one data file per term bucket
    val files = new java.io.File(merged).listFiles
      .filter(_.getName.startsWith("tb="))
      .map(d => d.getName ->
        d.listFiles.count(_.getName.endsWith(".parquet")))
    assert(files.nonEmpty && files.forall(_._2 == 1),
      s"expected one file per bucket after merge: ${files.toSeq}")
  }

  test("streamed requests drain row-identical to the batch capstone") {
    import SparkEntry.{Bm25MultiQueries, FilterMultiRel, FusionMultiRel,
      PageKMultiRel, Bm25K1, Bm25B, RrfPoolN, PostBuckets}
    val streamed = graft.streaming.StreamOps.serveRequestsOverStream(
      spark, dir, emb, docs, Bm25MultiQueries, FilterMultiRel,
      FusionMultiRel, PageKMultiRel, Bm25K1, Bm25B, RrfPoolN,
      PostBuckets).collect().map(_.toSeq).toSet
    val batch = Search.serveRequests(spark, dir, emb, docs,
      Bm25MultiQueries, FilterMultiRel, FusionMultiRel, PageKMultiRel,
      Bm25K1, Bm25B, RrfPoolN, PostBuckets).collect().map(_.toSeq).toSet
    // per-request independence (df per term, per-qid min-max) makes
    // the per-trigger serves compose exactly — the online form IS the
    // batch form, request by request
    assert(streamed == batch && streamed.nonEmpty,
      "drained request-stream serve diverged from the batch capstone")
  }

  test("streamed TIERED requests drain row-identical to the batch tiered capstone") {
    import SparkEntry.{Bm25MultiQueries, FilterMultiRel, FusionMultiRel,
      PageKMultiRel, ServeTierRel, ServeTierLayoutScales, Bm25K1, Bm25B,
      RrfPoolN, PostBuckets}
    val alpha = SparkEntry.refineParams("cos_l1").alpha
    val streamed = graft.streaming.StreamOps
      .serveRequestsTieredOverStream(spark, dir, emb, docs,
        Bm25MultiQueries, FilterMultiRel, FusionMultiRel, PageKMultiRel,
        ServeTierRel, ServeTierLayoutScales, Bm25K1, Bm25B, RrfPoolN,
        PostBuckets, alpha).collect().map(_.toSeq).toSet
    val batch = Search.serveRequestsTiered(spark, dir, emb, docs, tieredReq,
      None, Search.TierSnapshot.Pristine).collect().map(_.toSeq).toSet
    // the tiered vector pipeline is per-request independent (each
    // qid's tier CASE, seeds, tau0, survivors, min-max are functions
    // of its own rows over the static layout) — so the per-trigger
    // tiered serves compose exactly
    assert(streamed == batch && streamed.nonEmpty,
      "drained tiered request stream diverged from the batch tiered capstone")
  }

  // the drained union against the per-phase batch serves, each filtered
  // to its phase's qids: row for row, exact doubles
  private def assertDrainIsPhaseUnion(plan: Seq[ServePhase],
                                      indexed: Option[(Int, Int, Int)])(
                                      batch: Int => DataFrame): Unit = {
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
      .sortBy(_.mkString(","))
    import SparkEntry._
    val drained = rows(StreamOps.serveRequestsTieredMutatingOverStream(
      spark, dir, emb, docs, Bm25MultiQueries, FilterMultiRel,
      FusionMultiRel, PageKMultiRel, ServeTierRel, ServeTierLayoutScales,
      Bm25K1, Bm25B, RrfPoolN, PostBuckets, refineParams("cos_l1").alpha,
      indexed, plan))
    val want = plan.indices.flatMap { k =>
      rows(batch(k).filter(col("qid").isin(plan(k).qids.toSeq: _*)))
    }.sortBy(_.mkString(","))
    assert(plan.forall(p => p.qids.forall(q => drained.exists(_.head == q))),
      "every phase's requests must return rows")
    assert(drained == want,
      "drained mutating stream diverged from the per-phase batch serves")
  }

  test("mutating request stream, 3 nested upsert commits: drain equals the per-phase batch serves") {
    import SparkEntry._
    val plan = StreamMultiPlan
    assertDrainIsPhaseUnion(plan, None) { k =>
      Search.serveRequestsTiered(spark, dir, emb, docs, tieredReq, None,
        if (k == 0) Search.TierSnapshot.Pristine
        else Search.TierSnapshot.Upserted(plan(k).negMod))
    }
  }

  test("mutating request stream, upsert then delete: drain equals the per-snapshot mixed serves") {
    import SparkEntry._
    assertDrainIsPhaseUnion(StreamMixedPlan, None) { k =>
      Search.serveRequestsTiered(spark, dir, emb, docs, tieredReq, None,
        Search.TierSnapshot.MixedLog(UpsertMod, DeleteMod, asOf = k))
    }
  }

  test("mutating request stream on the indexed layout: rows moved across cells, drain equals the per-phase indexed serves") {
    import SparkEntry._
    val plan = StreamMultiPlan
    assertDrainIsPhaseUnion(plan, indexedKind) { k =>
      Search.serveRequestsTiered(spark, dir, emb, docs, tieredReq,
        indexedKind,
        if (k == 0) Search.TierSnapshot.Pristine
        else Search.TierSnapshot.Upserted(plan(k).negMod))
    }
  }

  test("mutating request stream rejects a malformed plan before anything is written") {
    import SparkEntry.{UpsertMod => u, DeleteMod => dm}
    def p(qids: Long*)(negMod: Int, delMod: Int) =
      ServePhase(qids.toSet, negMod, delMod)
    val bad = Seq(
      "at least one commit" -> Seq(p(0, 1, 2, 3)(0, 0)),
      "at least one request" ->
        Seq(p(0, 1)(0, 0), p()(2 * u, 0), p(2, 3)(u, 0)),
      "partition" -> Seq(p(0, 1)(0, 0), p(1, 2, 3)(u, 0)),
      "partition" -> Seq(p(0)(0, 0), p(1, 2)(u, 0)),
      "pristine" -> Seq(p(0, 1)(2 * u, 0), p(2, 3)(u, 0)),
      ">= 2" -> Seq(p(0, 1)(0, 0), p(2, 3)(1, 0)),
      "un-flips" -> Seq(p(0)(0, 0), p(1)(u, 0), p(2, 3)(2 * u, 0)),
      "un-flips" -> Seq(p(0)(0, 0), p(1)(u, 0), p(2, 3)(0, 0)),
      "after it is set" -> Seq(p(0)(0, 0), p(1)(0, dm), p(2, 3)(0, 2 * dm)),
      "exactly one commit" -> Seq(p(0, 1)(0, 0), p(2, 3)(u, dm)),
      "exactly one commit" -> Seq(p(0)(0, 0), p(1)(u, 0), p(2, 3)(u, 0)),
      "must differ" -> Seq(p(0)(0, 0), p(1)(u, 0), p(2, 3)(u, u)))
    // null frames and a missing corpus: any work ahead of the plan
    // check would fail with something other than the plan's require
    val missing = s"$dir/absent"
    assert(!new java.io.File(missing).exists)
    bad.foreach { case (why, plan) =>
      import SparkEntry._
      val e = intercept[IllegalArgumentException] {
        StreamOps.serveRequestsTieredMutatingOverStream(spark, missing,
          null, null, Bm25MultiQueries, FilterMultiRel, FusionMultiRel,
          PageKMultiRel, ServeTierRel, ServeTierLayoutScales, Bm25K1,
          Bm25B, RrfPoolN, PostBuckets, 0.5, None, plan)
      }
      assert(e.getMessage.contains(why), s"$plan: ${e.getMessage}")
    }
  }

  test("tiered request bundle rejects mismatched relations") {
    import SparkEntry.{Bm25MultiQueries => qs, FilterMultiRel => fs,
      FusionMultiRel => ws, PageKMultiRel => ks, ServeTierRel => ts}
    def req(queries: Seq[(Long, Seq[String])] = qs,
            filters: Seq[(Long, String)] = fs,
            weights: Seq[(Long, Double)] = ws,
            pageKs: Seq[(Long, Int)] = ks,
            tiers: Seq[(Long, Int)] = ts) =
      Search.TieredRequests(queries, filters, weights, pageKs, tiers,
        SparkEntry.ServeTierLayoutScales, 1.2, 0.75, 10, 4, 0.5)
    req() // the fixture's relations agree
    req(filters = fs :+ (1L -> "fr")) // filters may repeat a qid
    val bad = Seq[(String, () => Search.TieredRequests)](
      "tiers has no row for qid 3" -> (() => req(tiers = ts.init)),
      "ks has no row for qid 3" -> (() => req(pageKs = ks.init)),
      "queries has no row for qid 2" ->
        (() => req(queries = qs.filter(_._1 != 2L))),
      "filters has no row for qid 1" ->
        (() => req(filters = fs.filter(_._1 != 1L))),
      "weights has no row for qid 4" ->
        (() => req(queries = qs :+ (4L -> Seq("dup")),
          filters = fs :+ (4L -> "en"), pageKs = ks :+ (4L -> 3),
          tiers = ts :+ (4L -> 4))),
      "tiers has more than one row for qid 1" ->
        (() => req(tiers = ts :+ (1L -> 4))),
      "ks has more than one row for qid 0" ->
        (() => req(pageKs = ks :+ (0L -> 5))),
      "weights has more than one row for qid 2" ->
        (() => req(weights = ws :+ (2L -> 0.1))),
      "queries has more than one row for qid 3" ->
        (() => req(queries = qs :+ (3L -> Seq("merge")))),
      "filters repeat (qid, lang) (1,en)" ->
        (() => req(filters = fs :+ (1L -> "en"))),
      "empty tier relation" -> (() => req(tiers = Nil)),
      "not all stored in layout" ->
        (() => req(tiers = ts.map { case (q, _) => q -> 6 })))
    bad.foreach { case (why, build) =>
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.contains(why), s"$why: ${e.getMessage}")
    }
  }

  private def jobsOf(f: => Unit): Int = SparkJobs.count(spark)(f)

  /** Spark jobs of one warm tiered serve over a maintained copy, the
    * call the serve_mutating benchmark times (partitioned), and of its
    * indexed twin: the parquet schema read, the fetch's query collect
    * (with the probed cells on the indexed layout), seed pass and seed
    * rescore, and the lexical side, fusion, page cut, survivor pass and
    * fetch join with their broadcasts and shuffles. The relational fetch
    * ran 42 (partitioned) and 44 (indexed). */
  private val TieredServeJobBudget = 26

  test("tiered serve over a maintained copy stays within its Spark job budget") {
    import SparkEntry._
    import graft.sources.Disaggregated
    val partitioned = Disaggregated.ensureTieredServeCommitted(
      spark, dir, ServeTierLayoutScales, None, upsert = true, UpsertMod)
    val indexed = Disaggregated.ensureTieredServeCommitted(spark, dir,
      ServeTierLayoutScales, Some((IvfCells, EmbD)), upsert = true, UpsertMod)
    val calls = Seq[(String, () => Unit)](
      "partitioned" -> (() => Search.serveRequestsTieredOff(spark, dir,
        Some(partitioned), emb, docs, Bm25MultiQueries, FilterMultiRel,
        FusionMultiRel, PageKMultiRel, ServeTierRel, ServeTierLayoutScales,
        Bm25K1, Bm25B, RrfPoolN, PostBuckets, refineParams("cos_l1").alpha)
        .collect()),
      "indexed" -> (() => Search.serveRequestsTiered(spark, dir, emb, docs,
        tieredReq, indexedKind, Search.TierSnapshot.At(indexed)).collect()))
    for ((kind, call) <- calls) {
      call() // builds the postings and the copy outside the count
      val jobs = jobsOf(call())
      info(s"$kind tiered serve over a maintained copy: $jobs jobs")
      assert(jobs <= TieredServeJobBudget,
        s"$kind tiered serve over a maintained copy ran $jobs Spark jobs")
    }
  }

  test("tiered fetch equals the relational reference on the stored fixture layouts") {
    def rows(df: DataFrame) = df.select("qid", "id", "s_full").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq.sorted
    for (kind <- Seq(None, indexedKind)) {
      val v = Search.resolveTiered(spark, dir, emb,
        SparkEntry.ServeTierLayoutScales, kind, Search.TierSnapshot.Pristine)
      val got = rows(Search.tieredFetch(spark, v, tieredReq, kind))
      val want = rows(TieredFetchReference.tieredFetch(spark, v, tieredReq,
        kind))
      assert(got.nonEmpty && got == want, s"indexed=$kind: block-pass " +
        s"fetch diverged\n  got  ${got.take(12)}\n  want ${want.take(12)}")
    }
  }

  test("a bare tiered serve leaves no persisted RDD and no tracked persist") {
    import graft.operators.Dedup
    val tracked0 = Dedup.trackedCount
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def leftover = spark.sparkContext.getPersistentRDDs.keySet -- before
    for (kind <- Seq(None, indexedKind))
      assert(Search.serveRequestsTiered(spark, dir, emb, docs, tieredReq,
        kind, Search.TierSnapshot.Pristine).collect().nonEmpty)
    // unpersists are asynchronous: give them time to land
    val deadline = System.currentTimeMillis + 15000
    while (System.currentTimeMillis < deadline && leftover.nonEmpty)
      Thread.sleep(100)
    assert(leftover.isEmpty,
      s"a bare tiered serve left ${leftover.size} persisted RDDs")
    assert(Dedup.trackedCount == tracked0,
      "a bare tiered serve registered persists in the global tracker")
  }

  test("indexed serve ledger: sum-of-parts, probe pruning strictly undercuts the brute ledger") {
    import SparkEntry.{Bm25MultiQueries, FilterMultiRel, FusionMultiRel,
      PageKMultiRel, Bm25K1, Bm25B, RrfPoolN, PostBuckets, IvfCells,
      EmbD, IvfProbe}
    val led = Search.serveRequestsIndexedMetrics(spark, dir, emb, docs,
      Bm25MultiQueries, FilterMultiRel, FusionMultiRel, PageKMultiRel,
      Bm25K1, Bm25B, RrfPoolN, PostBuckets, IvfCells, EmbD, IvfProbe)
      .collect()
    val per = led.filter(_.getAs[Long]("qid") >= 0)
    val tot = led.filter(_.getAs[Long]("qid") == -1L)
    assert(per.length == PageKMultiRel.length && tot.length == 1)
    for (c <- Seq("t_cands", "pc_rows", "v_cands", "fused", "page",
        "bytes_text", "bytes_vec", "bytes_vec_full"))
      assert(per.map(_.getAs[Long](c)).sum == tot(0).getAs[Long](c),
        s"aggregate $c != sum of per-request rows")
    // the probed footprint is a strict subset of the corpus, and the
    // lang-filtered rows a subset of the footprint
    val nV = emb.count()
    per.foreach { r =>
      assert(r.getAs[Long]("pc_rows") < nV,
        s"qid ${r.getAs[Long]("qid")} probed the whole corpus")
      assert(r.getAs[Long]("v_cands") <= r.getAs[Long]("pc_rows"))
    }
    // per qid, the indexed vector bytes strictly undercut the brute
    // ledger's (same text side, pruning is the delta)
    val brute = Search.serveRequestsMetrics(spark, dir, emb, docs,
      Bm25MultiQueries, FilterMultiRel, FusionMultiRel, PageKMultiRel,
      Bm25K1, Bm25B, RrfPoolN, PostBuckets, EmbD).collect()
      .filter(_.getAs[Long]("qid") >= 0)
      .map(r => r.getAs[Long]("qid") -> r).toMap
    per.foreach { r =>
      val qid = r.getAs[Long]("qid")
      assert(r.getAs[Long]("bytes_vec") < brute(qid).getAs[Long]("bytes_vec"),
        s"qid $qid: probe pruning saved nothing over the brute scan")
      assert(r.getAs[Long]("bytes_text") == brute(qid).getAs[Long]("bytes_text"),
        s"qid $qid: text side must be identical across serve forms")
    }
  }

  test("serve-requests ledger: per-request rows, sum-of-parts total, ledger arithmetic") {
    import SparkEntry.{Bm25MultiQueries, FilterMultiRel, FusionMultiRel,
      PageKMultiRel, Bm25K1, Bm25B, RrfPoolN, PostBuckets, EmbD}
    val led = Search.serveRequestsMetrics(spark, dir, emb, docs,
      Bm25MultiQueries, FilterMultiRel, FusionMultiRel, PageKMultiRel,
      Bm25K1, Bm25B, RrfPoolN, PostBuckets, EmbD).collect()
    val per = led.filter(_.getAs[Long]("qid") >= 0)
    val tot = led.filter(_.getAs[Long]("qid") == -1L)
    assert(per.length == PageKMultiRel.length && tot.length == 1,
      s"expected ${PageKMultiRel.length} per-request rows + 1 aggregate")
    // sum of parts = whole on every integer column
    for (c <- Seq("t_cands", "v_cands", "fused", "page", "bytes_text",
        "bytes_vec", "bytes_vec_full"))
      assert(per.map(_.getAs[Long](c)).sum == tot(0).getAs[Long](c),
        s"aggregate $c != sum of per-request rows")
    val nV = emb.count()
    val pageOf = PageKMultiRel.toMap
    per.foreach { r =>
      val qid = r.getAs[Long]("qid")
      // the request really returns its page (its k_q, when enough
      // candidates fused) and the ledger's page records it
      assert(r.getAs[Long]("page") ==
        math.min(pageOf(qid).toLong, r.getAs[Long]("fused")))
      // the vector baseline is the unfiltered scan; the pre-filter must
      // strictly undercut it (v_cands < N for every fixture lang set)
      assert(r.getAs[Long]("bytes_vec_full") == (8L + 4L * EmbD) * nV)
      assert(r.getAs[Long]("bytes_vec") ==
        8L * nV + r.getAs[Long]("v_cands") * 4L * EmbD)
      assert(r.getAs[Long]("bytes_vec") < r.getAs[Long]("bytes_vec_full"),
        s"qid=$qid pre-filter saved nothing")
      // save/fpr are exactly the ledger arithmetic over the row
      assert(r.getAs[Double]("save") == 1.0 -
        (r.getAs[Long]("bytes_text") + r.getAs[Long]("bytes_vec")).toDouble /
        (r.getAs[Long]("bytes_text") + r.getAs[Long]("bytes_vec_full")).toDouble,
        s"save mismatch qid=$qid")
      assert(r.getAs[Double]("fpr") ==
        (r.getAs[Long]("fused") - r.getAs[Long]("page")).toDouble /
          (r.getAs[Long]("t_cands") + r.getAs[Long]("v_cands")).toDouble,
        s"fpr mismatch qid=$qid")
      assert(r.getAs[Double]("save") > 0.0 && r.getAs[Double]("save") < 1.0)
      assert(r.getAs[Double]("fpr") >= 0.0 && r.getAs[Double]("fpr") < 1.0)
    }
    // and the page the ledger accounts for is what serveRequests serves
    val served = Search.serveRequests(spark, dir, emb, docs,
      Bm25MultiQueries, FilterMultiRel, FusionMultiRel, PageKMultiRel,
      Bm25K1, Bm25B, RrfPoolN, PostBuckets).collect()
      .groupBy(_.getAs[Long]("qid")).view.mapValues(_.length.toLong).toMap
    per.foreach(r => assert(
      served(r.getAs[Long]("qid")) == r.getAs[Long]("page"),
      s"ledger page != served rows for qid ${r.getAs[Long]("qid")}"))
  }

  test("per-qid filters at rest: each qid's slice equals the single-predicate indexed run") {
    import SparkEntry.{FilterMultiRel, K, IvfCells, EmbD, IvfProbe}
    val multi = Search.filteredTopKIndexedMulti(spark, dir, emb,
      FilterMultiRel, K, IvfCells, EmbD, IvfProbe).collect()
    val allowed = FilterMultiRel.toSet
    assert(multi.nonEmpty)
    assert(multi.forall(r =>
      allowed((r.getAs[Long]("qid"), r.getAs[String]("lang")))),
      "a row outside its qid's lang set was served")
    // parity per qid against the fixed-predicate indexed run with that
    // qid's OWN langs (same probe pipeline, so slices must be bit-equal)
    FilterMultiRel.groupBy(_._1).foreach { case (qid, rel) =>
      val nq = (FilterMultiRel.map(_._1).max + 1).toInt
      val single = Search.filteredTopKIndexed(spark, dir, emb, nq, K,
        IvfCells, EmbD, IvfProbe, rel.map(_._2))
        .filter(col("qid") === qid).collect().map(_.toSeq).toSet
      val slice = multi.filter(_.getAs[Long]("qid") == qid)
        .map(_.toSeq).toSet
      assert(slice == single, s"qid $qid at-rest filtered slice diverged")
    }
  }

  test("lexical as-of snapshots: endpoints equal the undeleted and fully-deleted serves") {
    import SparkEntry.{Bm25Terms, Bm25K1, Bm25B, Bm25TopN, PostBuckets,
      Bm25DeleteMod}
    def asOf(v: Int) = Search.bm25AtRestWithDeletesAsOf(spark, dir,
      Bm25Terms, Bm25K1, Bm25B, Bm25TopN, PostBuckets, Bm25DeleteMod,
      asOf = v).collect().map(_.toSeq).toSet
    val plain = Search.bm25AtRest(spark, dir, Bm25Terms, Bm25K1, Bm25B,
      Bm25TopN, PostBuckets).collect().map(_.toSeq).toSet
    assert(asOf(0) == plain, "asOf 0 must be the undeleted snapshot")
    val deleted = Search.bm25AtRestWithDeletes(spark, dir, Bm25Terms,
      Bm25K1, Bm25B, Bm25TopN, PostBuckets, Bm25DeleteMod)
      .collect().map(_.toSeq).toSet
    assert(asOf(2) == deleted, "latest asOf must equal the plain delete serve")
    val midIds = asOf(1).map(r => r(0).asInstanceOf[Long])
    assert(midIds.forall(_ % (2L * Bm25DeleteMod) != 0),
      "commit-1 tombstones must be gone at asOf 1")
  }

  test("stream-maintained postings serve the identical bm25 rows once drained") {
    import SparkEntry.{Bm25Terms, Bm25K1, Bm25B, Bm25TopN, PostBuckets}
    val batch = Search.bm25AtRest(spark, dir, Bm25Terms, Bm25K1, Bm25B,
      Bm25TopN, PostBuckets).collect().map(_.toSeq).toSet
    val streamed = graft.streaming.StreamOps.bm25OverStream(spark, dir,
      Bm25Terms, Bm25K1, Bm25B, Bm25TopN, PostBuckets)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      "streamed postings layout diverged from the batch build")
  }

  test("search_after: pages are disjoint and their union is the deep top-2k") {
    import SparkEntry.{NQ, K}
    val p1 = Search.searchAfter(emb, NQ, K, page = 1).collect()
    val p2 = Search.searchAfter(emb, NQ, K, page = 2).collect()
    assert(p1.length == NQ * K && p2.length == NQ * K)
    // page-local ranks 1..k on both pages
    assert(p2.forall(r => r.getAs[Int]("rank") >= 1 && r.getAs[Int]("rank") <= K))
    def pairs(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"))).toSet
    assert((pairs(p1) & pairs(p2)).isEmpty, "pages must not overlap")
    // union equals one deep top-2k ranking
    val deep = Ann.bruteTopK(emb, NQ, 2 * K).collect()
    assert(pairs(p1) ++ pairs(p2) == pairs(deep))
    // and page 2's rows are exactly deep ranks k+1..2k with rebased rank
    val deepSlice = deep.filter(_.getAs[Int]("rank") > K)
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank") - K,
        r.getAs[Long]("id"), r.getAs[Double]("score"))).toSet
    val got = p2.map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
      r.getAs[Long]("id"), r.getAs[Double]("score"))).toSet
    assert(got == deepSlice)
  }

  test("as-of serving endpoints: asOf 0 is the pristine serve, the snapshot choice is visible") {
    import SparkEntry.{AsOfServeQueries, FilterMultiRel, FusionMultiRel,
      PageKMultiRel, Bm25K1, Bm25B, RrfPoolN, PostBuckets, Bm25UpsertMod,
      PostingsUpsertToken}
    import graft.operators.Search
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("fused"))).toSet
    // asOf 0 = the empty commit prefix: no delta rows union in, no
    // vector flips — the as-of path (flag joins, anti-join excision and
    // all) must reproduce the PLAIN serve bit-for-bit, including qid
    // 0's token term retrieving zero docs
    val asOf0 = rows(Search.serveRequestsAsOf(spark, dir, emb, docs,
      AsOfServeQueries, FilterMultiRel, FusionMultiRel, PageKMultiRel,
      Bm25K1, Bm25B, RrfPoolN, PostBuckets, Bm25UpsertMod,
      PostingsUpsertToken, asOf = 0))
    val pristine = rows(Search.serveRequests(spark, dir, emb, docs,
      AsOfServeQueries, FilterMultiRel, FusionMultiRel, PageKMultiRel,
      Bm25K1, Bm25B, RrfPoolN, PostBuckets))
    assert(asOf0 == pristine,
      "asOf 0 must equal the plain serve over the pristine corpus")
    // ... and snapshot 1 genuinely differs — the commit's re-indexed
    // docs (token candidacy) and flipped vectors change the answer, so
    // "which snapshot" is a visible property of the result, not a
    // bookkeeping column
    val asOf1 = rows(Search.serveRequestsAsOf(spark, dir, emb, docs,
      AsOfServeQueries, FilterMultiRel, FusionMultiRel, PageKMultiRel,
      Bm25K1, Bm25B, RrfPoolN, PostBuckets, Bm25UpsertMod,
      PostingsUpsertToken, asOf = 1))
    assert(asOf1 != asOf0, "snapshot 1 indistinguishable from 0")
    // the token qid specifically: snapshot 1 serves it commit-1 docs
    // (doc_id ≡ 0 mod 2·mod among its pages) that snapshot 0 cannot
    val q0new = asOf1.filter(_._1 == 0L).map(_._3) --
      asOf0.filter(_._1 == 0L).map(_._3)
    assert(q0new.nonEmpty,
      "qid 0 (the token request) gained no docs at snapshot 1")
  }
}
