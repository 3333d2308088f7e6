package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Plan-shape regression tests: the scale properties we rely on must be
 * visible in the optimized physical plan, not just hoped for.
 */
class PlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  test("window top-K gets map-side WindowGroupLimit pushdown (partial before exchange)") {
    val plan = SparkEntry.qTopkCos(spark, dir).queryExecution.executedPlan.toString
    // Catalyst's InferWindowGroupLimit turns rank<=k into a bounded
    // per-partition group limit ahead of the shuffle — the built-in
    // equivalent of a custom partial top-K strategy (SURVEY §7 stretch).
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$plan")
    assert(plan.contains("Partial"), s"no partial pushdown in:\n$plan")
  }

  test("query side of the cross join is broadcast") {
    val plan = SparkEntry.qTopkCos(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"queries not broadcast:\n$plan")
  }

  test("codegen fold expressions appear in the scoring projection") {
    val plan = SparkEntry.qTopkCos(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("dotd("), s"codegen dot not in plan:\n$plan")
  }

  test("filtered search: the metadata predicate sits below the scoring join") {
    import org.apache.spark.sql.functions.{col, element_at}
    val df = graft.operators.Search.filteredTopK(
      Tables.embeddings(spark, dir), Tables.documents(spark, dir),
      SparkEntry.NQ, SparkEntry.K, SparkEntry.FilterLangs)
    val plan = df.queryExecution.executedPlan.toString
    // the lang IN (...) predicate must be PUSHED INTO the parquet scan
    // (pre-filter strategy), not applied after the cross join scored
    // everything — and therefore sit below the scoring join in the tree
    val scoreJoinIdx = plan.indexOf("BroadcastNestedLoopJoin")
    val pushedIdx = plan.indexOf("In(lang")
    assert(pushedIdx >= 0, s"lang predicate not pushed to the scan:\n${plan.take(3000)}")
    assert(scoreJoinIdx >= 0 && pushedIdx > scoreJoinIdx,
      "lang pushdown not below the scoring join (tree prints top-down, " +
        s"so below = larger index):\n${plan.take(3000)}")
  }

  test("filtered at-rest scan carries BOTH the cell partition filter and the lang pushed filter") {
    val df = graft.operators.Search.filteredTopKIndexed(spark, dir,
      Tables.embeddings(spark, dir), SparkEntry.NQ, SparkEntry.K,
      SparkEntry.IvfCells, SparkEntry.EmbD, SparkEntry.IvfProbe,
      SparkEntry.FilterLangs)
    val plan = df.queryExecution.executedPlan.toString
    val scanIdx = plan.indexOf("FileScan parquet")
    assert(scanIdx >= 0, s"no parquet scan:\n${plan.take(2000)}")
    val scanLine = plan.substring(scanIdx,
      math.min(plan.length, plan.indexOf('\n', scanIdx) max (scanIdx + 400)))
    assert(scanLine.contains("PartitionFilters: [cell"),
      s"no cell partition filter on the index scan:\n$scanLine")
    assert(scanLine.contains("In(lang"),
      s"lang predicate not pushed into the index scan:\n$scanLine")
  }

  test("bm25 top-N is TakeOrderedAndProject, never a corpus-wide window sort") {
    val (ranked, _) = graft.operators.Search.bm25(
      Tables.documents(spark, dir), SparkEntry.Bm25Terms,
      SparkEntry.Bm25K1, SparkEntry.Bm25B, SparkEntry.Bm25TopN)
    val plan = ranked.queryExecution.executedPlan.toString
    // bounded per-partition top-N + merge; the rank window runs over
    // only the <= topN survivors
    assert(plan.contains("TakeOrderedAndProject"),
      s"no TakeOrderedAndProject:\n$plan")
  }

  test("maxsim aggregates carry map-side partials") {
    val df = graft.operators.Search.maxSimTopK(
      Tables.embeddings(spark, dir), 4, 5, SparkEntry.MaxSimGroup)
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString
    // the specific partial-mode aggregate function marker on the
    // HashAggregate node — a bare "Partial" substring could match
    // unrelated plan text and mask a dropped map-side combine
    assert(plan.contains("partial_max"),
      s"no partial_max map-side aggregate before the shuffle:\n${plan.take(3000)}")
  }

  test("tuneNprobe grid points consume the shared cached candidate scan") {
    import graft.operators.{Ivf, Dedup}
    val (df, release) = Dedup.scopedRelease(Ivf.tuneNprobe(
      Tables.embeddings(spark, dir), 4, 5, SparkEntry.IvfCells,
      SparkEntry.EmbD, Seq(1, 2, 4)))
    try {
      df.collect() // finalize AQE
      val plan = df.queryExecution.executedPlan.toString
      // the sweep's scale property: grid points filter the persisted
      // candidate relation instead of rescoring the corpus per point
      assert(plan.contains("InMemoryTableScan") ||
        plan.contains("TableCacheQueryStage"),
        s"grid points do not read the cached scan:\n${plan.take(2500)}")
    } finally release()
  }

  test("tuneRerank: shared cached scan; recall monotone in cut depth") {
    import graft.operators.{Ivf, Dedup}
    val (df, release) = Dedup.scopedRelease(Ivf.tuneRerankSq8(
      Tables.embeddings(spark, dir), 4, 5, SparkEntry.IvfCells,
      SparkEntry.EmbD, SparkEntry.IvfProbe, SparkEntry.EmbSq8ScaleLog2,
      Seq(5, 10, 20)))
    try {
      val rows = df.collect().sortBy(_.getInt(0))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan") ||
        plan.contains("TableCacheQueryStage"),
        s"grid points do not read the cached scan:\n${plan.take(2500)}")
      // a deeper cut rescoring a SUPERSET of survivors can never lose a
      // true hit (any evictor outscores the evictee, so it is itself a
      // global top-k member) — recall must be non-decreasing
      val recalls = rows.map(_.getAs[Double]("recall"))
      assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
        s"recall not monotone in rerank: ${recalls.toSeq}")
      // bytes_cheap is the same scan for every grid point
      assert(rows.map(_.getAs[Long]("bytes_cheap")).distinct.length == 1)
      // fetched grows with the cut (until the candidate pool saturates)
      val fetched = rows.map(_.getAs[Long]("fetched"))
      assert(fetched.zip(fetched.tail).forall { case (a, b) => a <= b })
    } finally release()
  }

  test("custom physical operator plans and matches the Dataset kernel") {
    import org.apache.spark.sql.graft.KernelPlan
    import graft.operators.{Refine, RefineKernel}
    import org.apache.spark.sql.functions.{col, element_at}
    val v = Fixture.fp16VectorsCached(spark, dir, SparkEntry.D, SparkEntry.KeepM)
      .repartition(5)
    val q = Fixture.queries(v, 4).select(col("qid"), col("qvec"))
    val p = Refine.Params("cos_l1", k = 5, keepM = SparkEntry.KeepM)
    val viaPlan = KernelPlan.refineTopK(v, q, p)
    val a = viaPlan.collect().map(_.toSeq).toSet
    // the custom exec is a first-class operator in the (final) physical plan
    assert(viaPlan.queryExecution.executedPlan.toString.contains("RefineKernel"),
      viaPlan.queryExecution.executedPlan.toString.take(1500))
    val b = RefineKernel.topk(v, q, p).collect().map(_.toSeq).toSet
    assert(a == b && a.size == 20)
  }

  test("relational refine never fully ranks the candidate relation") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case other => other +: other.children.flatMap(walk)
    }
    // every window in the refine plan must sit above a group-limit: a
    // bare WindowExec would mean the full N*Q candidate relation is
    // being ranked again (the shape this redesign removed).
    // Built under a scope: scope-less refine returns a self-contained
    // checkpointed result whose plan hides the candidate pass.
    val (refined, release) =
      graft.operators.Dedup.scopedRelease(SparkEntry.qRefine(spark, dir, "cos_l1"))
    val nodes = walk(refined.queryExecution.executedPlan)
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected at least one window (seed top-K)")
    windows.foreach { w =>
      assert(walk(w).exists(_.isInstanceOf[WindowGroupLimitExec]),
        s"window without group limit:\n$w")
    }
    release()
  }

  test("disaggregated refine: cheap pass never scans the full-precision column") {
    val (df, release) =
      graft.operators.Dedup.scopedRelease(SparkEntry.qRefineDisagg(spark, dir, "cos_l1"))
    val scans = graft.sources.Disaggregated.scanSchemas(df)
    assert(scans.nonEmpty, "no parquet scan in plan")
    // every scan is either a reduced-column subset (the seeds branch even
    // drops delta — its cushion is unused) or the (id, vec) fetch side;
    // nothing reads both vec and rvec/delta from disk at once
    val reduced = Set("id", "rvec", "delta")
    val fullFetch = Set("id", "vec")
    scans.foreach(s => assert(s.subsetOf(reduced) || s == fullFetch,
      s"unpruned scan reads $s"))
    assert(scans.exists(s => s.subsetOf(reduced) && s.contains("rvec")),
      s"no reduced-only scan among $scans")
    // and it matches the in-memory twin row-for-row
    val a = df.collect().map(_.toSeq).toSet
    val b = SparkEntry.qRefine(spark, dir, "cos_l1").collect().map(_.toSeq).toSet
    assert(a == b && a.size == SparkEntry.NQ * SparkEntry.K)
    release()
  }

  test("int8 at-rest cheap pass scans only the code column") {
    val path = graft.sources.Disaggregated.ensureInt8Fixture(
      spark, dir, SparkEntry.D, SparkEntry.Int8ScaleLog2)
    val (df, release) = graft.operators.Dedup.scopedRelease(
      SparkEntry.qRefineInt8AtRest(spark, dir))
    val scans = graft.sources.Disaggregated.scanSchemas(df)
    assert(scans.nonEmpty, "no parquet scan in plan")
    // every scan reads either the 1-byte code column (cheap pass /
    // queries) or the full-precision fetch — never both
    scans.foreach { read =>
      assert(read.subsetOf(Set("id", "code")) || read.subsetOf(Set("id", "vec")),
        s"scan reads $read")
    }
    assert(scans.exists(_.contains("code")), s"no code-only scan: $scans")
    // hash-equal to the in-memory int8 rung
    val a = df.collect().map(_.toSeq).toSet
    val b = SparkEntry.qRefineInt8(spark, dir).collect().map(_.toSeq).toSet
    assert(a == b && a.size == SparkEntry.NQ * SparkEntry.K)
    release()
    assert(new java.io.File(path, "_SUCCESS").exists)
  }

  test("grouped top-k: the per-facet window gets a map-side group limit") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case other => other +: other.children.flatMap(walk)
    }
    val df = graft.operators.Search.groupedTopK(Tables.embeddings(spark, dir),
      Tables.documents(spark, dir), SparkEntry.NQ, SparkEntry.GroupedK)
    val nodes = walk(df.queryExecution.executedPlan)
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected the per-facet ranking window")
    // the (qid, lang) rank cut must be pushed map-side: without the
    // group limit every scored (candidate, query) row would cross the
    // exchange instead of ~k per (partition, qid, facet)
    windows.foreach { w =>
      assert(walk(w).exists(_.isInstanceOf[WindowGroupLimitExec]),
        s"faceted window without group limit:\n$w")
    }
  }

  test("SPLIT at-rest: pruned base + sidecar scans, rows equal in-memory") {
    import SparkEntry.{NQ, K, IvfCells, EmbD, IvfProbe, SplitFracNum,
      SplitFracDen}
    val emb = Tables.embeddings(spark, dir)
    val df = graft.operators.Ivf.topkSplitAtRest(spark, dir, emb, NQ, K,
      IvfCells, EmbD, IvfProbe, SplitFracNum, SplitFracDen)
    val plan = df.queryExecution.executedPlan.toString
    // probed unsplit cells prune the base index scan; probed halves
    // prune the sidecar's (cell, sub) partitions — rebalance rewrote
    // only the hot cells, yet every read stays partition-pruned
    val pruned = "PartitionFilters: \\[[^\\]]*cell".r.findAllIn(plan).size
    assert(pruned >= 1,
      s"no cell partition filter on the split at-rest scans:\n$plan")
    val a = df.collect().map(_.toSeq).toSet
    val b = graft.operators.Ivf.topkSplit(emb, NQ, K, IvfCells, EmbD,
      IvfProbe, SplitFracNum, SplitFracDen).collect().map(_.toSeq).toSet
    assert(a == b && a.size == NQ * K,
      "split at-rest serve diverged from the in-memory rebalanced serve")
  }

  test("TRAINED-OPQ at-rest: code-only cheap scan, rows equal in-memory rung") {
    import SparkEntry.{NQ, K, IvfCells, EmbD, IvfProbe, PqM, PqCodes, PqRerank}
    val emb = Tables.embeddings(spark, dir)
    val df = graft.operators.Pq.topkOpqAtRest(spark, dir, emb, NQ, K,
      IvfCells, EmbD, IvfProbe, PqM, PqCodes, PqRerank)
    val scans = graft.sources.Disaggregated.scanSchemas(df)
    assert(scans.nonEmpty, "no parquet scan in plan")
    // the cheap pass reads only the packed code word — never the float
    // vector; the rescore reads (id, vec) for the bounded survivors
    scans.filter(_.contains("code")).foreach(s =>
      assert(s.subsetOf(Set("id", "code")), s"unpruned opq scan: $s"))
    assert(scans.exists(_.contains("code")), s"no code-only scan: $scans")
    assert(!scans.exists(s => s.contains("code") && s.contains("vec")),
      s"a scan reads codes and vectors together: $scans")
    // train transform -> persist permuted codes -> serve returns exactly
    // the in-memory trained-OPQ rung
    val a = df.collect().map(_.toSeq).toSet
    val b = graft.operators.Pq.topkOpqTrained(emb, NQ, K, IvfCells, EmbD,
      IvfProbe, PqM, PqCodes, PqRerank).collect().map(_.toSeq).toSet
    assert(a == b && a.size == NQ * K)
  }

  test("TRAINED-SQ8 at-rest: code-only cheap scan, rows equal in-memory rung") {
    import SparkEntry.{NQ, K, IvfCells, EmbD, IvfProbe, Sq8Rerank}
    val emb = Tables.embeddings(spark, dir)
    val df = graft.operators.Ivf.topkSq8TrainedAtRest(spark, dir, emb, NQ, K,
      IvfCells, EmbD, IvfProbe, Sq8Rerank)
    val scans = graft.sources.Disaggregated.scanSchemas(df)
    assert(scans.nonEmpty, "no parquet scan in plan")
    // the cheap pass reads only the d-byte code column — never the float
    // vector; the rescore reads the float table for the bounded survivors
    scans.filter(_.contains("code")).foreach(s =>
      assert(s.subsetOf(Set("id", "code")), s"unpruned sq8t scan: $s"))
    assert(scans.exists(_.contains("code")), s"no code-only scan: $scans")
    // train -> persist -> serve returns exactly the in-memory trained rung
    val a = df.collect().map(_.toSeq).toSet
    val b = graft.operators.Ivf.topkSq8Trained(emb, NQ, K, IvfCells, EmbD,
      IvfProbe, Sq8Rerank).collect().map(_.toSeq).toSet
    assert(a == b && a.size == NQ * K)
  }

  test("sq4 at-rest: packed-nibble cheap scan, pruned cells, rows equal in-memory") {
    import SparkEntry.{NQ, K, IvfCells, EmbD, IvfProbe, EmbSq4ScaleLog2, Sq4Rerank}
    val emb = Tables.embeddings(spark, dir)
    val df = graft.operators.Ivf.topkSq4AtRest(spark, dir, emb, NQ, K,
      IvfCells, EmbD, IvfProbe, EmbSq4ScaleLog2, Sq4Rerank)
    val scans = graft.sources.Disaggregated.scanSchemas(df)
    assert(scans.nonEmpty, "no parquet scan in plan")
    // the cheap pass reads only the packed nibble column (d/2 bytes/row);
    // the rescore reads the float table — never both in one scan
    scans.filter(_.contains("packed")).foreach(s =>
      assert(s.subsetOf(Set("id", "packed")), s"unpruned sq4 scan: $s"))
    assert(scans.exists(_.contains("packed")), s"no packed-only scan: $scans")
    // probe-cell partition pruning reached the packed scan
    val pruned = df.queryExecution.executedPlan.toString
    assert(!pruned.contains("PartitionCount") ||
      !scans.exists(_.contains("cell")), "cell read as data column")
    // identical rows to the map-side-derived rung (nibble round-trip is id)
    val a = df.collect().map(_.toSeq).toSet
    val b = graft.operators.Ivf.topkSq4(emb, NQ, K, IvfCells, EmbD,
      IvfProbe, EmbSq4ScaleLog2, Sq4Rerank).collect().map(_.toSeq).toSet
    assert(a == b && a.size == NQ * K)
  }

  test("prefix at-rest: cheap scan reads only the prefix column chunk") {
    import SparkEntry.{NQ, K, PrefixD, PrefixRerank}
    val emb = Tables.embeddings(spark, dir)
    val df = graft.operators.Ann.prefixTopKAtRest(spark, dir, emb, NQ, K,
      SparkEntry.EmbD, PrefixD, PrefixRerank)
    val scans = graft.sources.Disaggregated.scanSchemas(df)
    assert(scans.nonEmpty, "no parquet scan in plan")
    // the cheap pass must read the dPrefix-float column chunk and NEVER
    // the full vector — that column pruning IS the rung's byte saving
    scans.filter(_.contains("vp")).foreach(s =>
      assert(s.subsetOf(Set("id", "vp")), s"unpruned prefix scan: $s"))
    assert(scans.exists(_.contains("vp")), s"no prefix-only scan: $scans")
    // identical rows to the map-side-derived rung (the stored prefix
    // column holds the same floats the slice derives)
    val a = df.collect().map(_.toSeq).toSet
    val b = graft.operators.Ann.prefixTopK(emb, NQ, K, PrefixD, PrefixRerank)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.size == NQ * K)
  }

  test("prefix refine at-rest: cheap pass reads prefix + stats, never vec") {
    import SparkEntry.{NQ, K, EmbD, PrefixRefineD}
    val emb = Tables.embeddings(spark, dir)
    val (df, release) = graft.operators.Dedup.scopedRelease(
      graft.operators.Ann.prefixRefineTopKAtRest(spark, dir, emb, NQ, K,
        EmbD, PrefixRefineD))
    try {
      val scans = graft.sources.Disaggregated.scanSchemas(df)
      assert(scans.nonEmpty, "no parquet scan in plan")
      // the candidate pass must read the prefix column chunk and the two
      // stored scalar stats — the full vector only on the bounded fetches
      scans.filter(_.contains("vp")).foreach(s =>
        assert(s.subsetOf(Set("id", "vp", "n2t", "n2")),
          s"unpruned prefix-refine scan: $s"))
      assert(scans.exists(_.contains("vp")), s"no prefix-only scan: $scans")
      // zero-miss: rows equal BOTH the in-memory form and the exact scan
      val a = df.collect().map(_.toSeq).toSet
      val b = graft.operators.Ann.bruteTopK(emb, NQ, K)
        .collect().map(_.toSeq).toSet
      assert(a == b && a.size == NQ * K)
    } finally release()
  }

  test("refine pipeline whole-stage code compiles (no Janino fallback)") {
    // codegenStringSeq compiles every WholeStageCodegen subtree and maps a
    // Janino failure to ByteCodeStats.UNAVAILABLE — the silent interpreted
    // fallback the round-4 logs caught (the fixture's CASE-WHEN synthesis
    // trees fused into cosL2Stat exceeded the 64KB method limit). cos_l2
    // exercises the bb path, the worst offender.
    import org.apache.spark.sql.catalyst.expressions.codegen.ByteCodeStats
    // qRefineD128 extends the lock to realistic width: 128 CASE-tree
    // synthesis columns x 3 arrays under the cos_l2 bb dot — the widest
    // codegen the engine emits anywhere. Built under scopes: scope-less
    // refine checkpoints its result and hides the pipeline plan.
    for (mk <- Seq(() => SparkEntry.qRefine(spark, dir, "cos_l2"),
                   () => SparkEntry.qRefineDisagg(spark, dir, "cos_l1"),
                   () => SparkEntry.qRefineD128(spark, dir))) {
      val (df, release) = graft.operators.Dedup.scopedRelease(mk())
      df.collect() // finalize AQE so the executed plan holds the real stages
      val subtrees = org.apache.spark.sql.execution.debug.codegenStringSeq(
        df.queryExecution.executedPlan)
      assert(subtrees.nonEmpty, "expected whole-stage codegen subtrees")
      subtrees.foreach { case (subtree, _, stats) =>
        assert(stats != ByteCodeStats.UNAVAILABLE,
          s"whole-stage codegen failed to compile for:\n$subtree")
      }
      release()
    }
  }

  test("bucketed join plans with no exchange on either side") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // QueryStageExec is a LEAF wrapping its stage plan — descend explicitly
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => s +: walk(s.plan)
      case other => other +: other.children.flatMap(walk)
    }
    val df = graft.sources.Bucketed.segmentRevenue(spark, dir)
    df.collect() // finalize AQE
    val nodes = walk(df.queryExecution.executedPlan)
    val smjs = nodes.collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, "expected a sort-merge join over the bucketed tables")
    // the bucketed layout pre-pays the shuffle at write time: nothing
    // below the join may re-exchange either side
    smjs.foreach { j =>
      val below = walk(j).drop(1)
      assert(!below.exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"exchange under the bucketed join:\n$j")
    }
  }

  test("interval join plans as an equi-join on the bin key, never a nested loop") {
    val plan = SparkEntry.qEventsRange(spark, dir)
      .queryExecution.executedPlan.toString
    // the binned form must hash/sort-merge on (user_id, __bin); a
    // BroadcastNestedLoopJoin or CartesianProduct would mean the time
    // predicate fell through to a theta join — the shape that dies at
    // scale when neither side is broadcastable
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"interval join degenerated to a non-equi join:\n$plan")
  }

  test("substring dedup: digest-keyed equi-joins only, never a nested loop") {
    val df = graft.operators.Dedup.substringDedup(
      Tables.documents(spark, dir), SparkEntry.SubstrW)
    val plan = df.queryExecution.executedPlan.toString
    // the mark must be an equi-join on the window digest (linear in
    // occurrences); a BroadcastNestedLoopJoin or CartesianProduct would
    // mean a theta/all-pairs shape that dies at corpus scale
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"substring dedup degenerated to a non-equi join:\n$plan")
    // the shuffle key is the 32-byte digest, not the window text:
    // no shuffle/join operator should carry the concat_ws gram string
    assert(plan.contains("gkey"), s"digest key missing from plan:\n$plan")
    val clean = graft.operators.Dedup.substringClean(
      Tables.documents(spark, dir), SparkEntry.SubstrW)
      .queryExecution.executedPlan.toString
    assert(!clean.contains("BroadcastNestedLoopJoin") &&
      !clean.contains("CartesianProduct"),
      s"substring clean degenerated to a non-equi join:\n$clean")
  }

  test("at-rest IVF probe scan carries a cell partition filter") {
    val df = graft.operators.Ivf.topkIndexed(spark, dir,
      Tables.embeddings(spark, dir), SparkEntry.NQ, SparkEntry.K,
      SparkEntry.IvfCells, SparkEntry.EmbD, SparkEntry.IvfProbe)
    val plan = df.queryExecution.executedPlan.toString
    // probe cells must reach the index scan as a partition filter —
    // at scale this is what makes a query touch nprobe/nCells of the
    // data instead of the whole inverted file
    assert(plan.contains("PartitionFilters: [cell"),
      s"no cell partition filter on the index scan:\n$plan")
  }

  test("graph upsert: prober-sidecar gainer scan is partition-pruned to the new cells") {
    import graft.operators.Ivf
    import org.apache.spark.sql.functions.{col, transform => atransform, when}
    val e = Tables.embeddings(spark, dir)
    val (nCells, d, np) =
      (SparkEntry.IvfCells, SparkEntry.EmbD, SparkEntry.IvfProbe)
    // sparse update set (2 ids at mod 211, not UpsertMod=13): at ~500
    // fixture vectors a mod-13 commit's new cells cover all 8 cells,
    // which would make the pruning assertions vacuous — production
    // commits are small relative to nCells and that is the regime this
    // test pins (the oracle query still runs the mod-13 commit)
    val mod = 211
    val prober = spark.read.parquet(
      Ivf.ensureKnnGraphProbes(spark, dir, nCells, d, np))
    val g = spark.read.parquet(
      Ivf.ensureKnnGraph(spark, dir, SparkEntry.KnnJ, nCells, d, np))
    val df = Ivf.knnGraphUpsert(e, g, prober, mod, SparkEntry.KnnJ,
      nCells, d, np)
    val plan = df.queryExecution.executedPlan.toString
    // the whole point of the sidecar: "who probes the new cells" must
    // be a static partition filter on the cell-partitioned layout —
    // never a probe re-assign over the corpus. At 100 TB this is the
    // difference between O(new-cell occupancy) and O(N·d·nprobe) of
    // maintenance work per upsert commit.
    assert(plan.contains("PartitionFilters: [cell"),
      s"no cell partition filter on the prober sidecar scan:\n$plan")
    // non-vacuity: the fixture's updated vectors land in a STRICT
    // subset of cells, so the filter genuinely prunes partitions
    val updNew = e.filter(col("vec_id") % mod === 0)
      .select(col("vec_id").as("qid"),
        atransform(col("embedding"), x => -x).as("qvec"))
    val newCells = Ivf.probeCells(updNew, nCells, d, 1)
      .select("cell").distinct().collect().map(_.getInt(0))
    assert(newCells.length < nCells,
      s"updated ids' new cells cover all $nCells cells — pruning vacuous")
    // and the pruned read is strictly smaller than the full sidecar:
    // rows scanned are bounded by the new cells' prober occupancy
    val prunedRows = prober
      .filter(col("cell").isin(newCells.map(Int.box): _*)).count()
    assert(prunedRows < prober.count(),
      "pruned prober read not smaller than the full sidecar")
  }

  test("graph upsert: holder probe is partition-pruned to the updated ids' buckets") {
    import graft.operators.Ivf
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val e = Tables.embeddings(spark, dir)
    val (nCells, d, np) =
      (SparkEntry.IvfCells, SparkEntry.EmbD, SparkEntry.IvfProbe)
    // sparse update set (the prober-sidecar test's mod=211 regime):
    // production commits touch a few target buckets of the 32, and
    // that is the pruning this layout exists to deliver
    val mod = 211
    val prober = spark.read.parquet(
      Ivf.ensureKnnGraphProbes(spark, dir, nCells, d, np))
    val gPath = Ivf.ensureKnnGraph(spark, dir, SparkEntry.KnnJ, nCells,
      d, np)
    val byTarget = spark.read.parquet(Ivf.ensureKnnGraphByTarget(spark,
      gPath, dir, SparkEntry.KnnJ, nCells, d, np))
    val df = Ivf.knnGraphUpsert(e, spark.read.parquet(gPath), prober,
      mod, SparkEntry.KnnJ, nCells, d, np, Some(byTarget))
    val plan = df.queryExecution.executedPlan.toString
    // the symmetric completion of the prober-sidecar fix: "who holds
    // an edge to these ids" must be a static partition filter on the
    // target-bucketed edge layout — never a full edge scan per commit.
    // At 100 TB the edge list is j·N rows; this is the difference
    // between O(touched-bucket occupancy) and O(|E|) per upsert.
    assert(plan.contains("PartitionFilters: [bkt"),
      s"no bkt partition filter on the holder edge scan:\n$plan")
    // scanned edge rows ∝ update neighborhood: the updated ids land in
    // a strict subset of the 32 buckets, and the pruned read is
    // strictly smaller than the full edge list
    val updBkts = e.filter(col("vec_id") % mod === 0)
      .select(pmod(col("vec_id"), lit(Ivf.KnnEdgeBuckets.toLong))
        .cast("int").as("bkt"))
      .distinct().collect().map(_.getInt(0))
    assert(updBkts.length < Ivf.KnnEdgeBuckets,
      "updated ids cover all edge buckets — pruning vacuous")
    val prunedRows = byTarget
      .filter(col("bkt").isin(updBkts.map(Int.box): _*)).count()
    assert(prunedRows < byTarget.count(),
      "pruned holder read not smaller than the full edge list")
  }

  test("compacted graph serve folds nothing: no latest-wins window in the plan") {
    val df = graft.streaming.StreamOps.knnGraphUpsertCompacted(spark,
      dir, SparkEntry.UpsertMod, SparkEntry.KnnJ, SparkEntry.IvfCells,
      SparkEntry.EmbD, SparkEntry.IvfProbe)
    val plan = df.queryExecution.executedPlan.toString
    // the OPTIMIZE contract: after compaction the serve is a plain
    // base read — the per-read latest-wins fold (a Window over every
    // version ever appended) is gone, paid once at compaction time
    assert(!plan.contains("Window"),
      s"compacted graph serve still folds a window:\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"compacted graph serve still aggregates:\n$plan")
  }

  test("as-of compacted graph serve recomputes nothing: plain base read, hash-equal to the per-read repair") {
    import SparkEntry.{UpsertMod, KnnJ, IvfCells, EmbD, IvfProbe}
    import graft.operators.Ivf
    import org.apache.spark.sql.functions.col
    val graphPath = Ivf.ensureKnnGraph(spark, dir, KnnJ, IvfCells, EmbD,
      IvfProbe)
    val prober = spark.read.parquet(Ivf.ensureKnnGraphProbes(spark, dir,
      IvfCells, EmbD, IvfProbe))
    val emb = Tables.embeddings(spark, dir)
    val df = Ivf.knnGraphUpsertAsOfCompacted(spark, graphPath, emb,
      prober, UpsertMod, KnnJ, IvfCells, EmbD, IvfProbe, asOf = 1)
    val plan = df.queryExecution.executedPlan.toString
    // the snapshot-OPTIMIZE contract: the per-read affected-set repair
    // (anti-join + recompute + union) is paid once at compaction; the
    // serve is one pruned scan — no joins, no windows, no aggregates
    assert(!plan.contains("Window"),
      s"as-of compacted serve still folds a window:\n$plan")
    assert(!plan.contains("Join"),
      s"as-of compacted serve still joins (repair left in-plan):\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"as-of compacted serve still aggregates:\n$plan")
    // and the compaction never changes the snapshot: row-identical to
    // the per-read repair
    val a = df.collect().map(_.toSeq).toSet
    val b = Ivf.knnGraphUpsertAsOf(spark, graphPath, emb, prober,
        UpsertMod, KnnJ, IvfCells, EmbD, IvfProbe, asOf = 1)
      .select(col("qid"), col("rank"), col("id"), col("score"))
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty,
      "as-of compacted graph != the per-read repair's snapshot")
  }

  test("posting-list bm25 scan carries a term-bucket partition filter") {
    val df = graft.operators.Search.bm25AtRest(spark, dir,
      SparkEntry.Bm25Terms, SparkEntry.Bm25K1, SparkEntry.Bm25B,
      SparkEntry.Bm25TopN, SparkEntry.PostBuckets)
    val plan = df.queryExecution.executedPlan.toString
    // the query terms' buckets must prune the postings scan — at scale
    // this is what makes lexical retrieval read <= |terms| buckets'
    // files instead of the whole inverted index
    assert(plan.contains("PartitionFilters: [tb"),
      s"no term-bucket partition filter on the postings scan:\n$plan")
    // ... and the term predicate itself must reach the parquet reader
    // as a pushed filter (row-group skipping inside the pruned buckets;
    // compaction term-sorts files so the skip actually bites)
    assert(plan.contains("PushedFilters: [In(term") ||
      plan.contains("PushedFilters: [IsNotNull(term"),
      s"term filter not pushed to the postings scan:\n$plan")
  }

  test("page-3 off the stored cursor costs exactly one corpus pass") {
    val emb = Tables.embeddings(spark, dir)
    val cur = spark.read.parquet(graft.operators.Search
      .ensurePageCursor(spark, dir, emb, SparkEntry.NQ, SparkEntry.K, 2))
    val p3 = graft.operators.Search.searchAfterFrom(
      emb, SparkEntry.NQ, SparkEntry.K, cur)
    val p1 = graft.operators.Search.searchAfter(
      emb, SparkEntry.NQ, SparkEntry.K, 1)
    def scans(df: org.apache.spark.sql.DataFrame): Int =
      "Scan parquet".r.findAllIn(df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)).size
    // the cursor-resumed page may add ONE scan (the nq-row cursor
    // sidecar — a model, not data); the corpus-sized scans must match
    // page 1's, i.e. pages 1..2 are never replayed inside the plan
    assert(scans(p3) <= scans(p1) + 1,
      s"cursor resume replays prior pages: ${scans(p3)} scans vs page-1 ${scans(p1)}")
  }

  test("multi-query bm25 postings scan prunes to the UNION of query terms") {
    import org.apache.spark.sql.functions.{pmod, hash, lit}
    val df = graft.operators.Search.bm25Multi(spark, dir,
      SparkEntry.Bm25MultiQueries, SparkEntry.Bm25K1, SparkEntry.Bm25B,
      SparkEntry.Bm25MultiTopN, SparkEntry.PostBuckets)
    val plan = df.queryExecution.executedPlan.toString
    // ONE scan serves all four queries: its partition filter must cover
    // every bucket any query's terms hash to (computed with the same
    // hash expression the writer used)
    val expected = spark.range(1)
      .select(SparkEntry.Bm25MultiUnionTerms.map(t =>
        pmod(hash(lit(t)), lit(SparkEntry.PostBuckets))): _*)
      .collect()(0).toSeq.map(_.asInstanceOf[Int]).distinct.sorted
    assert(plan.contains("PartitionFilters: [tb"),
      s"no term-bucket partition filter on the postings scan:\n$plan")
    expected.foreach(b =>
      assert(plan.contains(b.toString),
        s"bucket $b (a union term's) missing from the partition filter:\n$plan"))
    // and the union term predicate reaches the reader for row-group skips
    assert(plan.contains("PushedFilters: [In(term") ||
      plan.contains("PushedFilters: [IsNotNull(term"),
      s"term filter not pushed to the postings scan:\n$plan")
  }

  test("MaxScore cheap pass never reads tf or dl") {
    val df = graft.operators.Search.bm25MaxScore(spark, dir,
      SparkEntry.Bm25Terms, SparkEntry.Bm25K1, SparkEntry.Bm25B,
      SparkEntry.Bm25TopN, SparkEntry.PostBuckets, SparkEntry.Bm25SeedB)
    // the final plan's scans: the exact pass fetches tf/dl for the
    // bounded survivor set; the BOUND scan must be (term, doc_id)-only —
    // find at least one postings scan whose ReadSchema omits tf and dl
    val scans = graft.sources.Disaggregated.scanSchemas(df)
    assert(scans.exists(f => f.contains("term") && f.contains("doc_id") &&
      !f.contains("tf") && !f.contains("dl")),
      s"no tf/dl-free cheap scan in:\n${scans.mkString("\n")}")
  }

  test("at-rest LSH probe scan carries a bucket partition filter") {
    val df = graft.operators.Lsh.topkAtRest(spark, dir,
      Tables.embeddings(spark, dir), SparkEntry.NQ, SparkEntry.K,
      SparkEntry.EmbD, SparkEntry.LshPlanes)
    val plan = df.queryExecution.executedPlan.toString
    // probe buckets must reach the layout scan as a partition filter —
    // at scale this is what makes a multi-probe query touch ~(P+1)/2^P
    // of the corpus instead of the whole table
    assert(plan.contains("PartitionFilters: [bucket"),
      s"no bucket partition filter on the LSH layout scan:\n$plan")
  }

  test("PQ at-rest cheap pass: partition-pruned scan reads only the code column") {
    val df = graft.operators.Pq.topkAtRest(spark, dir,
      Tables.embeddings(spark, dir), SparkEntry.NQ, SparkEntry.K,
      SparkEntry.IvfCells, SparkEntry.EmbD, SparkEntry.IvfProbe,
      SparkEntry.PqM, SparkEntry.PqCodes, SparkEntry.PqRerank)
    val plan = df.queryExecution.executedPlan.toString
    // probe cells must reach BOTH fixture scans as a partition filter —
    // the cheap code scan AND the rescore fetch (survivors can only live
    // in probed cells), so both passes read nprobe/nCells of the files
    val pruned = "PartitionFilters: \\[cell".r.findAllIn(plan).size
    assert(pruned >= 2,
      s"expected cell partition filters on both fixture scans, found $pruned:\n$plan")
    // ... and no scan may read the packed code word and the float vector
    // together: the cheap pass pays 4 bytes/row, the rescore fetch pays
    // the floats for rerank*NQ survivors only — the rung's entire 64x
    // read-cut claim, held in the physical plan
    val scans = graft.sources.Disaggregated.scanSchemas(df)
    assert(scans.nonEmpty, "no parquet scan in plan")
    scans.foreach { read =>
      assert(read.subsetOf(Set("id", "code")) || read.subsetOf(Set("id", "vec")) ||
        !read.contains("code") && !read.contains("vec"),
        s"scan reads $read")
    }
    assert(scans.exists(s => s.contains("code") && !s.contains("vec")),
      s"no code-only scan: $scans")
    // hash-equal to the in-memory PQ rung
    val a = df.collect().map(_.toSeq).toSet
    val b = graft.operators.Pq.topk(Tables.embeddings(spark, dir),
      SparkEntry.NQ, SparkEntry.K, SparkEntry.IvfCells, SparkEntry.EmbD,
      SparkEntry.IvfProbe, SparkEntry.PqM, SparkEntry.PqCodes,
      SparkEntry.PqRerank).collect().map(_.toSeq).toSet
    assert(a == b && a.size == SparkEntry.NQ * SparkEntry.K)
  }

  test("TRAINED-PQ at-rest: pruned code-only cheap scan, hash-equal serve") {
    val df = graft.operators.Pq.topkTrainedAtRest(spark, dir,
      Tables.embeddings(spark, dir), SparkEntry.NQ, SparkEntry.K,
      SparkEntry.IvfCells, SparkEntry.EmbD, SparkEntry.IvfProbe,
      SparkEntry.PqM, SparkEntry.PqCodes, SparkEntry.PqRerank)
    val plan = df.queryExecution.executedPlan.toString
    // probe cells reach BOTH trained-layout scans as partition filters
    val pruned = "PartitionFilters: \\[cell".r.findAllIn(plan).size
    assert(pruned >= 2,
      s"expected cell partition filters on both trained scans, found $pruned:\n$plan")
    // no scan reads the packed trained code and the float vector together
    val scans = graft.sources.Disaggregated.scanSchemas(df)
    assert(scans.nonEmpty, "no parquet scan in plan")
    scans.foreach { read =>
      assert(read.subsetOf(Set("id", "code")) || read.subsetOf(Set("id", "vec")) ||
        !read.contains("code") && !read.contains("vec"),
        s"scan reads $read")
    }
    assert(scans.exists(s => s.contains("code") && !s.contains("vec")),
      s"no code-only scan: $scans")
    // train -> persist -> serve returns exactly the in-memory trained rung
    val a = df.collect().map(_.toSeq).toSet
    val b = graft.operators.Pq.topkTrained(Tables.embeddings(spark, dir),
      SparkEntry.NQ, SparkEntry.K, SparkEntry.IvfCells, SparkEntry.EmbD,
      SparkEntry.IvfProbe, SparkEntry.PqM, SparkEntry.PqCodes,
      SparkEntry.PqRerank).collect().map(_.toSeq).toSet
    assert(a == b && a.size == SparkEntry.NQ * SparkEntry.K,
      "trained at-rest serve diverged from the in-memory trained rung")
  }

  test("residual-PQ at-rest: both passes partition-pruned, code-only cheap scan") {
    val df = graft.operators.Pq.topkResidualAtRest(spark, dir,
      Tables.embeddings(spark, dir), SparkEntry.NQ, SparkEntry.K,
      SparkEntry.IvfCells, SparkEntry.EmbD, SparkEntry.IvfProbe,
      SparkEntry.PqM, SparkEntry.PqCodes, SparkEntry.PqRerank)
    val plan = df.queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[cell".r.findAllIn(plan).size
    assert(pruned >= 2,
      s"expected cell partition filters on both fixture scans, found $pruned:\n$plan")
    val scans = graft.sources.Disaggregated.scanSchemas(df)
    assert(scans.nonEmpty, "no parquet scan in plan")
    scans.foreach { read =>
      assert(read.subsetOf(Set("id", "code")) || read.subsetOf(Set("id", "vec")) ||
        !read.contains("code") && !read.contains("vec"),
        s"scan reads $read")
    }
    assert(scans.exists(s => s.contains("code") && !s.contains("vec")),
      s"no code-only scan: $scans")
    // hash-equal to the in-memory residual rung
    val a = df.collect().map(_.toSeq).toSet
    val b = graft.operators.Pq.topkResidual(Tables.embeddings(spark, dir),
      SparkEntry.NQ, SparkEntry.K, SparkEntry.IvfCells, SparkEntry.EmbD,
      SparkEntry.IvfProbe, SparkEntry.PqM, SparkEntry.PqCodes,
      SparkEntry.PqRerank).collect().map(_.toSeq).toSet
    assert(a == b && a.size == SparkEntry.NQ * SparkEntry.K)
  }

  test("OPQ-residual at-rest: pruned code-only cheap scan, equals in-memory") {
    val df = graft.operators.Pq.topkResidualOpqAtRest(spark, dir,
      Tables.embeddings(spark, dir), SparkEntry.NQ, SparkEntry.K,
      SparkEntry.IvfCells, SparkEntry.EmbD, SparkEntry.IvfProbe,
      SparkEntry.PqM, SparkEntry.PqCodes, SparkEntry.PqRerank)
    val plan = df.queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[cell".r.findAllIn(plan).size
    assert(pruned >= 2,
      s"expected cell partition filters on both composed scans, found $pruned:\n$plan")
    val scans = graft.sources.Disaggregated.scanSchemas(df)
    assert(scans.nonEmpty, "no parquet scan in plan")
    scans.foreach { read =>
      assert(read.subsetOf(Set("id", "code")) || read.subsetOf(Set("id", "vec")) ||
        !read.contains("code") && !read.contains("vec"),
        s"scan reads $read")
    }
    assert(scans.exists(s => s.contains("code") && !s.contains("vec")),
      s"no code-only scan: $scans")
    // hash-equal to the in-memory composed rung
    val a = df.collect().map(_.toSeq).toSet
    val b = graft.operators.Pq.topkResidualOpq(Tables.embeddings(spark, dir),
      SparkEntry.NQ, SparkEntry.K, SparkEntry.IvfCells, SparkEntry.EmbD,
      SparkEntry.IvfProbe, SparkEntry.PqM, SparkEntry.PqCodes,
      SparkEntry.PqRerank).collect().map(_.toSeq).toSet
    assert(a == b && a.size == SparkEntry.NQ * SparkEntry.K,
      "composed at-rest serve diverged from the in-memory composed rung")
  }

  test("spherical-PQ at-rest: pruned code-only cheap scan, equals in-memory") {
    val df = graft.operators.Pq.topkSphericalResidualAtRest(spark, dir,
      Tables.embeddings(spark, dir), SparkEntry.NQ, SparkEntry.K,
      SparkEntry.IvfCells, SparkEntry.EmbD, SparkEntry.IvfProbe,
      SparkEntry.PqM, SparkEntry.PqCodes, SparkEntry.PqRerank)
    val plan = df.queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[cell".r.findAllIn(plan).size
    assert(pruned >= 2,
      s"expected cell partition filters on both composed scans, found $pruned:\n$plan")
    val scans = graft.sources.Disaggregated.scanSchemas(df)
    assert(scans.nonEmpty, "no parquet scan in plan")
    assert(scans.exists(s => s.contains("code") && !s.contains("vec")),
      s"no code-only cheap scan: $scans")
    // hash-equal to the in-memory composed cosine rung (training is
    // deterministic, so the trained models agree)
    val a = df.collect().map(_.toSeq).toSet
    val b = graft.operators.Pq.topkSphericalResidual(
      Tables.embeddings(spark, dir), SparkEntry.NQ, SparkEntry.K,
      SparkEntry.IvfCells, SparkEntry.EmbD, SparkEntry.IvfProbe,
      SparkEntry.PqM, SparkEntry.PqCodes, SparkEntry.PqRerank)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.size == SparkEntry.NQ * SparkEntry.K,
      "spherical-PQ at-rest serve diverged from the in-memory rung")
  }

  test("tiered m_keep at rest: cheap scan reads only the USED tiers' columns, never vec or the unused tier") {
    // precision-on-demand as PHYSICAL column pruning: the layout stores
    // three tiers (4, 6, 8); the request relation binds only {4, 8} —
    // the cheap scan must read exactly those tiers' (rvec_m, delta_m)
    // chunks, with the full-precision vec and the stored-but-unused
    // 6-bit tier never touched (the §3.3 story completed per request)
    // the operator pins its |mkeeps|-row ledger via localCheckpoint
    // (self-contained result), so the inner plan is not inspectable on
    // the returned frame — assert the pruning on the EXACT projections
    // the operator consumes (its only reads of the layout), plus value
    // equality of the full operator against the in-memory rung
    import org.apache.spark.sql.functions.{col, element_at}
    val path = graft.sources.Disaggregated.ensureTieredFixture(spark, dir,
      SparkEntry.D, SparkEntry.MkeepLayoutTiers, SparkEntry.KeepM)
    val stored = spark.read.parquet(path)
    val used = SparkEntry.MkeepTiers
      .flatMap(m => Seq(s"rvec_$m", s"delta_$m"))
    // the probe references every used tier column's VALUES (a count(*)
    // would prune everything and prove nothing)
    val cheap = stored.select(col("id") +:
      used.map(c => element_at(col(c), 1).cast("double").as(s"x_$c")): _*)
    cheap.collect()
    val unused = (SparkEntry.MkeepLayoutTiers.toSet --
      SparkEntry.MkeepTiers.toSet)
      .flatMap(m => Set(s"rvec_$m", s"delta_$m"))
    val scans = graft.sources.Disaggregated.scanSchemas(cheap)
    assert(scans.nonEmpty, "no parquet scan in cheap-pass plan")
    assert(scans.forall(s => !s.contains("vec") &&
        unused.forall(c => !s.contains(c))),
      s"cheap scan read vec or an unused tier (never-read set $unused): $scans")
    assert(scans.exists(s => used.toSet.subsetOf(s)),
      s"cheap scan missing a used tier column ($used): $scans")
    // the fetch side reads only (id, vec)
    val fetch = stored.select(col("id"),
      element_at(col("vec"), 1).as("v0"))
    fetch.collect()
    val fscans = graft.sources.Disaggregated.scanSchemas(fetch)
    assert(fscans.nonEmpty && fscans.forall(s =>
        !s.exists(_.startsWith("rvec_")) && !s.exists(_.startsWith("delta_"))),
      s"fetch scan read tier columns: $fscans")
    // and the full operator off the layout equals the in-memory rung
    val a = SparkEntry.qRefineMultiMkeepAtRest(spark, dir)
      .collect().map(_.toSeq).toSet
    val b = SparkEntry.qRefineMultiMkeep(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty,
      "tiered at-rest ledger diverged from the in-memory rung")
  }

  /** Every physical plan `f` executes, captured by a query listener. */
  private def executedPlans(f: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(fn: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      f
      org.apache.spark.sql.graft.ListenerDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  /** `p` and every node below it, descending into AQE wrappers (their
    * initial and final plans: AQE drops a subtree whose stage came back
    * empty), query stages, reused exchanges and cached relations, but not
    * into a node `skip` holds. */
  private def planNodes(p: SparkPlan,
                        skip: SparkPlan => Boolean = _ => false)
      : Seq[SparkPlan] = p match {
    case x if skip(x) => Nil
    case a: AdaptiveSparkPlanExec =>
      planNodes(a.inputPlan, skip) ++ planNodes(a.executedPlan, skip)
    case q: QueryStageExec => q +: planNodes(q.plan, skip)
    case r: ReusedExchangeExec => r +: planNodes(r.child, skip)
    case i: InMemoryTableScanExec =>
      i +: planNodes(i.relation.cachedPlan, skip)
    case other => other +: other.children.flatMap(planNodes(_, skip))
  }

  private def scansBelow(p: SparkPlan,
                         skip: SparkPlan => Boolean = _ => false)
      : Seq[FileSourceScanExec] =
    planNodes(p, skip).collect { case f: FileSourceScanExec => f }.distinct

  /** The tiered serve's seed-pass, survivor-pass and fetch scans among
    * `plans`: the fetch scans are those below a rescore that are not
    * below the survivor pass. */
  private def tieredServeScans(plans: Seq[SparkPlan])
      : (Seq[FileSourceScanExec], Seq[FileSourceScanExec],
         Seq[FileSourceScanExec]) = {
    val nodes = plans.flatMap(planNodes(_))
    def below(name: String) = nodes.filter(_.nodeName == name)
      .flatMap(scansBelow(_)).distinct
    (below("TieredSeedPass"), below("TieredSurvivorPass"),
      nodes.filter(_.nodeName == "RefineRescorePass").flatMap(scansBelow(_,
        _.nodeName == "TieredSurvivorPass")).distinct)
  }

  test("tiered serve layout: cheap scan reads only the USED tiers' code chunks, never vec or the unused tier") {
    // the serve capstone's per-request precision: the layout stores
    // three quantization tiers (2^4, 2^8, 2^11); the request relation
    // binds only {4, 11} — the serve's own seed and survivor passes must
    // read exactly (id, lang, code_4, code_11), with the full-precision
    // vec and the stored-but-unused 2^8 tier's chunks never touched, and
    // its fetch must read no code chunk. Assert on the plans the ledger
    // query executes, plus ledger sanity: same-lang requests at
    // different tiers pay different bytes.
    import SparkEntry.{ServeTierScales, ServeTierLayoutScales}
    val used = ServeTierScales.map(s => s"code_$s")
    val unused = (ServeTierLayoutScales.toSet -- ServeTierScales.toSet)
      .map(s => s"code_$s")
    var led: Array[org.apache.spark.sql.Row] = null
    val plans = executedPlans {
      led = SparkEntry.queries("q_serve_requests_tiered_metrics")(
        spark, dir).collect()
    }
    val (seedScans, survivorScans, fetchScans) = tieredServeScans(plans)
    for ((pass, scans) <- Seq("seed" -> seedScans,
        "survivor" -> survivorScans)) {
      val read = scans.map(_.requiredSchema.fieldNames.toSet)
      assert(read.nonEmpty, s"no parquet scan below the serve's $pass pass")
      assert(read.forall(s => !s.contains("vec") &&
          unused.forall(c => !s.contains(c))),
        s"$pass pass read vec or an unused tier ($unused): $read")
      assert(read.forall(s => used.toSet.subsetOf(s)),
        s"$pass pass missing a used tier column ($used): $read")
    }
    // fetch side reads only (id, vec) — no code chunks
    val fread = fetchScans.map(_.requiredSchema.fieldNames.toSet)
    assert(fread.nonEmpty && fread.forall(s => s.contains("vec") &&
        !s.exists(_.startsWith("code_"))),
      s"fetch scan read code columns: $fread")
    // the survivors are the fetch join's build side; the full-precision
    // side is never broadcast
    val bcastVec = plans.flatMap(planNodes(_)).collect {
      case b: BroadcastExchangeExec if b.output.exists(_.name == "vec") => b
    }
    assert(bcastVec.isEmpty, s"full-precision side broadcast: $bcastVec")
    // ledger sanity: qid 0 (tier 4, same lang slice cardinality rules
    // aside) pays FEWER cheap bytes per candidate than qid 1 (tier 11):
    // the 1 B vs 2 B width is physical, and bytes_vec reflects it
    val byQid = led.filter(_.getAs[Long]("qid") >= 0)
      .map(r => r.getAs[Long]("qid") ->
        (r.getAs[Int]("tier"), r.getAs[Long]("bytes_vec"))).toMap
    assert(byQid(0L)._1 == 4 && byQid(1L)._1 == 11,
      s"tier binding drifted: $byQid")
    val agg = led.filter(_.getAs[Long]("qid") == -1L)
    assert(agg.length == 1 &&
      agg(0).getAs[Long]("bytes_vec") ==
        byQid.values.map(_._2).sum,
      "qid=-1 aggregate is not the sum of the per-request bytes")
  }

  test("indexed tiered serve: the probed cells are a static partition filter on every scan of the layout") {
    val plans = executedPlans {
      SparkEntry.queries("q_serve_requests_tiered_indexed")(spark, dir)
        .collect()
    }
    val (seedScans, survivorScans, fetchScans) = tieredServeScans(plans)
    // every scan of the tiered layout: the passes, the seed rescore's
    // id IN (seeds) read and the fetch
    val layoutScans = plans.flatMap(p => scansBelow(p)).distinct
      .filter(_.requiredSchema.fieldNames.exists(c =>
        c == "vec" || c.startsWith("code_")))
    assert(seedScans.nonEmpty && survivorScans.nonEmpty &&
      fetchScans.nonEmpty, "a pass or the fetch read no parquet scan")
    assert(layoutScans.forall(_.partitionFilters.exists(_.references
        .exists(_.name == "cell"))),
      "a scan of the indexed layout has no cell partition filter: " +
        layoutScans.map(_.simpleString(200)).mkString("\n"))
  }

  // ---- tiered layout commits, on each layout kind and verb -------------
  // One body over bucketed/indexed × upsert/delete (the TieredKinds
  // pattern below): each case builds a private layout, commits a sparse
  // id set (ids ≡ 0 mod 211, a strict subset of the partitions) and
  // checks the commit against a fresh build over the commit view. A
  // delete also removes every row of one partition, so the emptied-
  // partition sweep is exercised. The budget is the commit's Spark jobs
  // on these ids; the four commit bodies this one replaced ran 8, 16, 10
  // and 12.

  private val TieredCommits: Seq[(String, Option[(Int, Int)], Boolean, Int)] =
    Seq(
      ("upserted tiered layout: a commit rewrites only the touched id buckets; the serve still prunes unused tiers",
        None, true, 8),
      ("upserted INDEXED tiered layout: cells move with the commit, untouched cells byte-immutable, commit == rebuild",
        Some((SparkEntry.IvfCells, SparkEntry.EmbD)), true, 11),
      ("tiered layout DELETE commit: tombstoned ids gone, untouched buckets byte-immutable",
        None, false, 8),
      ("tiered layout DELETE commit: tombstoned ids gone, untouched buckets byte-immutable [indexed]",
        Some((SparkEntry.IvfCells, SparkEntry.EmbD)), false, 9))

  /** The tiered layout rows at `path` as (id, key, lang, hashes of the
    * vector and of every tier's codes). */
  private def tieredLayoutRows(path: String, key: String): Set[Seq[Any]] = {
    import org.apache.spark.sql.functions.{col, hash}
    spark.read.parquet(path).select(Seq(col("id"), col(key), col("lang"),
        hash(col("vec"))) ++ SparkEntry.ServeTierLayoutScales.map(s =>
        hash(col(s"code_$s"))): _*)
      .collect().map(_.toSeq).toSet
  }

  TieredCommits.foreach { case (name, cells, upsert, jobBudget) =>
    test(name) {
      import java.nio.file.{Files, Paths}
      import org.apache.spark.sql.functions.{col, element_at}
      import SparkEntry.{ServeTierScales, ServeTierLayoutScales}
      import graft.sources.Disaggregated
      val key = Disaggregated.serveTierKey(cells)
      val emb = Tables.embeddings(spark, dir)
      val docsT = Tables.documents(spark, dir)
      // a PRIVATE layout: the commit mutates this copy, never a shared
      // ensure dir
      val scratch = Files.createTempDirectory("graft-test-servetcommit-")
      try {
        val layout = scratch.resolve("tiers").toString
        Disaggregated.writeServeTiersPartitioned(
          Disaggregated.serveTierRows(emb, docsT), layout,
          ServeTierLayoutScales, cells)
        def partFiles(): Map[String, Seq[(String, Long, Long)]] = {
          import scala.jdk.CollectionConverters._
          Files.list(Paths.get(layout)).iterator().asScala
            .filter(_.getFileName.toString.startsWith(s"$key="))
            .map { p =>
              val fs = Files.list(p).iterator().asScala
                .filter(_.getFileName.toString.endsWith(".parquet"))
                .map(f => (f.getFileName.toString, Files.size(f),
                  Files.getLastModifiedTime(f).toMillis))
                .toSeq.sortBy(_._1)
              p.getFileName.toString -> fs
            }.toMap
        }
        val before = partFiles()
        val stored = spark.read.parquet(layout)
        val mod = 211
        val sparse = emb.select(col("vec_id").as("id"))
          .filter(col("id") % mod === 0)
        // a delete also drops every row of the partition holding id 1
        val emptiedKey = stored.filter(col("id") === 1L)
          .select(col(key)).collect()(0).getInt(0)
        // a local relation: the commit rewrites the files `stored` lists
        val idList = (if (upsert) sparse
          else sparse.union(stored.filter(col(key) === emptiedKey)
            .select(col("id"))).distinct()).collect().map(_.getLong(0)).toSeq
        val ids = { val s = spark; import s.implicits._; idList.toDF("id") }
        val nIds = idList.size
        // touched = the layout's stored partitions of the ids, plus on an
        // indexed upsert the cells their negated vectors assign to
        val newCells = cells.filter(_ => upsert).toSeq.flatMap {
          case (nCells, d) => graft.operators.Ivf.assign(
              emb.join(ids.withColumnRenamed("id", "vec_id"), Seq("vec_id"),
                "left_semi").select(col("vec_id"),
                org.apache.spark.sql.functions.transform(col("embedding"),
                  x => -x).as("embedding")), nCells, d)
            .select(col("cell")).distinct().collect().map(_.getInt(0))
        }
        val touched = (stored.join(ids, Seq("id"), "left_semi")
            .select(col(key)).distinct().collect().map(_.getInt(0)) ++
          newCells).distinct.map(k => s"$key=$k").toSet
        assert(touched.size < before.size,
          "the commit touches every partition — immutability check vacuous")
        Thread.sleep(1100) // beat filesystem mtime granularity
        // a layout holding the crash marker is refused before any write
        val pending = Paths.get(layout, "_COMMIT_PENDING")
        Files.createFile(pending)
        val refused = intercept[IllegalArgumentException](
          Disaggregated.commitServeTiers(spark, layout, ids,
            ServeTierLayoutScales, cells, upsert))
        assert(refused.getMessage.contains(
            "has a half-applied commit (_COMMIT_PENDING present)"),
          refused.getMessage)
        assert(partFiles() == before, "a refused commit wrote the layout")
        Files.delete(pending)
        val jobs = SparkJobs.count(spark)(Disaggregated.commitServeTiers(
          spark, layout, ids, ServeTierLayoutScales, cells, upsert))
        info(s"commit ran $jobs Spark jobs")
        assert(jobs <= jobBudget, s"the commit ran $jobs Spark jobs")
        // a finished commit leaves neither the marker nor its staging copy
        assert(!Files.exists(pending), "the commit left _COMMIT_PENDING")
        assert(Files.list(scratch).toArray.length == 1,
          "the commit left a staging directory beside the layout")
        val after = partFiles()
        before.keys.filterNot(touched).foreach { p =>
          assert(after(p) == before(p),
            s"untouched partition $p was rewritten by the commit")
        }
        touched.foreach { p =>
          assert(after.get(p) != before.get(p),
            s"touched partition $p was NOT rewritten by the commit")
        }
        val committed = spark.read.parquet(layout)
        if (upsert) {
          // a row replacement, never an add or a drop, and the updated
          // rows carry the flipped vector
          assert(committed.count() == emb.count(),
            "upsert commit changed the layout's row count")
          val v0 = committed.filter(col("id") === 0)
            .select(element_at(col("vec"), 1)).collect()(0).getFloat(0)
          val e0 = emb.filter(col("vec_id") === 0)
            .select(element_at(col("embedding"), 1)).collect()(0).getFloat(0)
          assert(v0 == -e0, "updated row's vector was not flipped")
        } else {
          // a pure row drop: count down by |ids|, no deleted id left, and
          // the partition the delete emptied is gone
          assert(committed.count() == emb.count() - nIds,
            "delete commit changed more rows than the tombstone set")
          assert(committed.join(ids, Seq("id"), "left_semi").count() == 0L,
            "a tombstoned id survived the delete commit")
          assert(!after.contains(s"$key=$emptiedKey"),
            s"the emptied partition $key=$emptiedKey was not swept")
        }
        // commit ≡ fresh build over the commit view: a stale row, a
        // missed move or an unswept partition all break this equality
        val view =
          if (upsert) graft.operators.Search.negated(emb,
            col("vec_id") % mod === 0)
          else emb.join(ids.withColumnRenamed("id", "vec_id"), Seq("vec_id"),
            "left_anti")
        val expected = scratch.resolve("expected").toString
        Disaggregated.writeServeTiersPartitioned(
          Disaggregated.serveTierRows(view, docsT), expected,
          ServeTierLayoutScales, cells)
        assert(tieredLayoutRows(layout, key) ==
            tieredLayoutRows(expected, key),
          "committed tiered layout != fresh build over the commit view")
      } finally graft.sources.VecFiles.deleteRecursively(scratch)
      // the PUBLISHED committed layout (the one the declared queries
      // read): the cheap pass reads only the used tiers' code chunks,
      // never vec or the stored-but-unused tier, and a delete's ids are
      // gone from it
      val pubMod = if (upsert) SparkEntry.UpsertMod else SparkEntry.DeleteMod
      val published = spark.read.parquet(Disaggregated
        .ensureTieredServeCommitted(spark, dir, ServeTierLayoutScales, cells,
          upsert, pubMod))
      val used = ServeTierScales.map(s => s"code_$s")
      val cheap = published.select(col("id") +: col("lang") +:
        used.map(c => element_at(col(c), 1).cast("double").as(s"x_$c")): _*)
      cheap.collect()
      val unused = (ServeTierLayoutScales.toSet -- ServeTierScales.toSet)
        .map(s => s"code_$s")
      val scans = Disaggregated.scanSchemas(cheap)
      assert(scans.nonEmpty, "no parquet scan in the committed cheap pass")
      assert(scans.forall(s => !s.contains("vec") &&
          unused.forall(c => !s.contains(c))),
        s"committed cheap scan read vec or an unused tier ($unused): $scans")
      if (!upsert)
        assert(published.join(emb.select(col("vec_id").as("id"))
            .filter(col("id") % pubMod === 0), Seq("id"), "left_semi")
            .count() == 0L,
          "published deleted tiered layout still serves a tombstoned id")
    }
  }

  // ---- tiered snapshots, on each layout kind ---------------------------
  // The partitioned test keeps its name; the indexed one appends the
  // kind. Both run the same body over Search.serveRequestsTiered.

  private val TieredKinds: Seq[(String, Option[(Int, Int, Int)])] = Seq(
    "" -> None,
    " [indexed]" ->
      Some((SparkEntry.IvfCells, SparkEntry.EmbD, SparkEntry.IvfProbe)))

  private def tieredRows(indexed: Option[(Int, Int, Int)],
                         snap: graft.operators.Search.TierSnapshot)
      : Set[Seq[Any]] = {
    import SparkEntry._
    graft.operators.Search.serveRequestsTiered(spark, dir,
      Tables.embeddings(spark, dir), Tables.documents(spark, dir),
      graft.operators.Search.TieredRequests(Bm25MultiQueries,
        FilterMultiRel, FusionMultiRel, PageKMultiRel, ServeTierRel,
        ServeTierLayoutScales, Bm25K1, Bm25B, RrfPoolN, PostBuckets,
        refineParams("cos_l1").alpha), indexed, snap)
      .collect().map(_.toSeq).toSet
  }

  /** (size, mtime) of every parquet file under the kind's pristine
    * fixture, partition subdirectories included. */
  private def tieredBaseFiles(indexed: Option[(Int, Int, Int)])
      : Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    import graft.sources.Disaggregated
    val base = java.nio.file.Paths.get(Disaggregated.ensureTieredServe(spark,
      dir, SparkEntry.ServeTierLayoutScales,
      graft.operators.Search.tierCells(indexed)))
    val files = java.nio.file.Files.walk(base).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(f => base.relativize(f).toString ->
        (java.nio.file.Files.size(f),
          java.nio.file.Files.getLastModifiedTime(f).toMillis))
      .toMap
    assert(files.nonEmpty, s"no parquet files under $base")
    files
  }

  TieredKinds.foreach { case (kind, indexed) =>
    test("tiered as-of serve: base files byte-immutable across snapshots, snapshot 1 == committed-layout serve" + kind) {
      import SparkEntry.UpsertMod
      import graft.operators.Search.TierSnapshot._
      val before = tieredBaseFiles(indexed)
      // snapshot 0 (no commit applied) serves the pristine capstone...
      val pristine = tieredRows(indexed, Pristine)
      assert(tieredRows(indexed, UpsertLog(UpsertMod, 0)) == pristine &&
          pristine.nonEmpty,
        "tiered asOf 0 diverged from the pristine tiered capstone")
      // ...snapshot 1 IS the tiered capstone over a layout physically
      // COMMITTED at the prefix's mod (ids ≡ 0 mod 2·UpsertMod) — the
      // merge-on-read view equals the committed layout's serve
      val asof1 = tieredRows(indexed, UpsertLog(UpsertMod, 1))
      assert(asof1 == tieredRows(indexed, Upserted(2 * UpsertMod)) &&
          asof1.nonEmpty,
        "tiered asOf 1 != the serve over the layout committed at the " +
          "prefix's mod")
      // merge-on-read served both snapshots off byte-immutable base files
      assert(tieredBaseFiles(indexed) == before,
        "serving tiered snapshots mutated the base layout's files")
    }

    test("tiered as-of compaction: stored side recomputes no codes (no floor in-plan), snapshot unchanged" + kind) {
      import SparkEntry.{ServeTierLayoutScales, UpsertMod, TieredAsOfSnapshot}
      import graft.operators.Search
      import graft.operators.Search.TierSnapshot.UpsertLog
      val compactRows = tieredRows(indexed,
        UpsertLog(UpsertMod, TieredAsOfSnapshot, compacted = true))
      // the snapshot-OPTIMIZE contract, asserted on the STORED RELATIONS
      // (the serve pipeline ends in a localCheckpoint, so its plan text
      // is lineage-truncated): the merge-on-read snapshot view joins the
      // update log and rebuilds every tier's codes in-plan (floor over
      // the prefix join); the compacted layout's relation is a plain
      // scan — no join, no code recompute, the snapshot's bytes AT REST
      val view = Search.resolveTiered(spark, dir,
        Tables.embeddings(spark, dir), ServeTierLayoutScales, indexed,
        UpsertLog(UpsertMod, TieredAsOfSnapshot)).stored
      val viewPlan = view.queryExecution.analyzed.toString
      assert(viewPlan.toLowerCase.contains("floor(") &&
          viewPlan.contains("Join"),
        s"merge-on-read snapshot view no longer joins the log and " +
          s"recomputes codes — the compaction discriminator is vacuous:\n" +
          viewPlan)
      val storedRel = spark.read.parquet(Search.ensureTieredServeCompacted(
        spark, dir, ServeTierLayoutScales, indexed, UpsertMod,
        TieredAsOfSnapshot) + "/tiers")
      val storedPlan = storedRel.queryExecution.analyzed.toString
      assert(!storedPlan.toLowerCase.contains("floor(") &&
          !storedPlan.contains("Join"),
        s"compacted as-of relation is not a plain scan:\n$storedPlan")
      // the compacted bytes ARE the snapshot: row-identical to the
      // merge-on-read view (stored codes verbatim, prefix recomputed)
      val viewRows = view.collect().map(_.toSeq).toSet
      val storedRows = storedRel.select(view.columns.map(
          org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toSeq).toSet
      assert(storedRows == viewRows && viewRows.nonEmpty,
        "compacted as-of layout rows != the merge-on-read snapshot view")
      // snapshot 2 is the whole upsert applied: its compaction equals a
      // fresh build over the UpsertMod commit view, row for row with the
      // stored partition key, so an upserted row left in its stale cell
      // fails here
      val cells = Search.tierCells(indexed)
      val key = graft.sources.Disaggregated.serveTierKey(cells)
      val fresh = java.nio.file.Files
        .createTempDirectory("graft-test-servetfresh-")
      try {
        graft.sources.Disaggregated.writeServeTiersPartitioned(
          graft.sources.Disaggregated.serveTierRows(
            Search.negated(Tables.embeddings(spark, dir),
              org.apache.spark.sql.functions.col("vec_id") % UpsertMod === 0),
            Tables.documents(spark, dir)),
          fresh.resolve("tiers").toString, ServeTierLayoutScales, cells)
        assert(tieredLayoutRows(Search.ensureTieredServeCompacted(spark, dir,
              ServeTierLayoutScales, indexed, UpsertMod, asOf = 2) + "/tiers",
            key) == tieredLayoutRows(fresh.resolve("tiers").toString, key),
          "compacted as-of 2 layout != a fresh build over the UpsertMod " +
            "commit view")
      } finally graft.sources.VecFiles.deleteRecursively(fresh)
      // and compaction never changes the snapshot
      assert(compactRows ==
          tieredRows(indexed, UpsertLog(UpsertMod, TieredAsOfSnapshot)) &&
          compactRows.nonEmpty,
        "as-of compacted tiered serve != the merge-on-read snapshot")
    }

    test("tiered delete-as-of: asOf 0 == pristine capstone, asOf 2 == physically deleted layout's serve, base byte-immutable" + kind) {
      import SparkEntry.DeleteMod
      import graft.operators.Search.TierSnapshot._
      val before = tieredBaseFiles(indexed)
      // snapshot 0: no tombstone applied — the pristine capstone through
      // the delete-as-of path
      val pristine = tieredRows(indexed, Pristine)
      assert(tieredRows(indexed, DeleteLog(DeleteMod, 0)) == pristine &&
          pristine.nonEmpty,
        "tiered delete asOf 0 diverged from the pristine tiered capstone")
      // snapshot 2 (the full delete set applied) row-equals the serve
      // over the layout PHYSICALLY committed with the delete — the
      // merge-on-read anti-join view == the rewritten layout
      val asof2 = tieredRows(indexed, DeleteLog(DeleteMod, 2))
      assert(asof2 == tieredRows(indexed, Deleted(DeleteMod)) &&
          asof2.nonEmpty,
        "tiered delete asOf 2 != the physically deleted layout's serve")
      // and the snapshots differ (the tombstones actually bite somewhere)
      assert(asof2 != pristine,
        "tiered delete snapshots indistinguishable — vacuous fixture")
      assert(tieredBaseFiles(indexed) == before,
        "serving tiered delete snapshots mutated the base layout's files")
    }
  }

  test("mixed-verb log endpoints: asOf 0 == pristine, asOf 1 == upsert-committed serve, asOf 2 drops the tombstones") {
    import SparkEntry.{UpsertMod, DeleteMod}
    import graft.operators.Search.TierSnapshot._
    def asOf(v: Int): Set[Seq[Any]] =
      tieredRows(None, MixedLog(UpsertMod, DeleteMod, asOf = v))
    // snapshot 0: no commit applied — pristine through the mixed path
    val pristine = SparkEntry.queries("q_serve_requests_tiered")(
      spark, dir).collect().map(_.toSeq).toSet
    assert(asOf(0) == pristine && pristine.nonEmpty,
      "mixed-log asOf 0 diverged from the pristine tiered capstone")
    // snapshot 1: ONLY the upsert commit applied — row-equal to the
    // serve over the layout PHYSICALLY committed at UpsertMod
    val upserted = SparkEntry.queries("q_serve_requests_tiered_upsert")(
      spark, dir).collect().map(_.toSeq).toSet
    assert(asOf(1) == upserted && upserted.nonEmpty,
      "mixed-log asOf 1 != the upsert-committed layout's serve")
    // snapshot 2 differs from both (the delete commit bites)
    val s2 = asOf(2)
    assert(s2 != pristine && s2 != upserted && s2.nonEmpty,
      "mixed-log snapshot 2 indistinguishable — the delete commit is " +
        "vacuous in this fixture")
  }

  test("retention ledgers count the surviving corpus: deleted v_cands and denominators strictly shrink") {
    import org.apache.spark.sql.functions.col
    def totals(name: String): (Long, Long) = {
      val r = SparkEntry.queries(name)(spark, dir)
        .filter(col("qid") === -1L)
        .select(col("v_cands"), col("bytes_vec_full"))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val (vPristine, fullPristine) =
      totals("q_serve_requests_tiered_metrics")
    val (vDel, fullDel) = totals("q_serve_requests_tiered_delete_metrics")
    assert(vDel < vPristine && fullDel < fullPristine,
      s"flat retention ledger did not shrink: v_cands $vDel vs " +
        s"$vPristine, denom $fullDel vs $fullPristine")
    val (vIPristine, fullIPristine) =
      totals("q_serve_requests_tiered_indexed_metrics")
    val (vIDel, fullIDel) =
      totals("q_serve_requests_tiered_indexed_delete_metrics")
    assert(vIDel < vIPristine && fullIDel < fullIPristine,
      s"indexed retention ledger did not shrink: v_cands $vIDel vs " +
        s"$vIPristine, denom $fullIDel vs $fullIPristine")
  }

  test("tiered INDEXED serve layout: one scan prunes cells (files), tiers (chunks), and langs (rows)") {
    // the fully-composed vector side: probe cells as a static partition
    // filter, the bound tiers' code columns as the only chunks read,
    // the lang predicate pushed into the same scan — and neither `vec`
    // nor the stored-but-unused 2^8 tier touched on the cheap pass
    import org.apache.spark.sql.functions.{col, element_at}
    import SparkEntry.{ServeTierScales, ServeTierLayoutScales, IvfCells,
      EmbD}
    val path = graft.sources.Disaggregated.ensureTieredServe(spark, dir,
      ServeTierLayoutScales, Some((IvfCells, EmbD)))
    val stored = spark.read.parquet(path)
    val used = ServeTierScales.map(s => s"code_$s")
    val cheap = stored
      .filter(col("cell").isin(0, 2) && col("lang").isin("fr", "en"))
      .select(col("id") +: col("lang") +:
        used.map(c => element_at(col(c), 1).cast("double").as(s"x_$c")): _*)
    cheap.collect()
    val plan = cheap.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"no cell partition filter on the tiered indexed scan:\n$plan")
    assert(plan.contains("PushedFilters: [In(lang"),
      s"lang predicate not pushed into the scan:\n$plan")
    val unused = (ServeTierLayoutScales.toSet -- ServeTierScales.toSet)
      .map(s => s"code_$s")
    val scans = graft.sources.Disaggregated.scanSchemas(cheap)
    assert(scans.nonEmpty && scans.forall(s => !s.contains("vec") &&
        unused.forall(c => !s.contains(c))),
      s"cheap scan read vec or an unused tier ($unused): $scans")
    // and the full serve off it is row-identical to the plain indexed
    // capstone (the zero-miss cushion holds within the probed cells)
    val a = SparkEntry.queries("q_serve_requests_tiered_indexed")(
      spark, dir).collect().map(_.toSeq).toSet
    val b = SparkEntry.queries("q_serve_requests_indexed")(
      spark, dir).collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty,
      "tiered indexed serve diverged from the plain indexed capstone")
  }

  test("spherical-PQ at-rest at D=1024: pruned code-only cheap scan, compiled codegen, equals in-memory") {
    // the WIDE at-rest rung — the §3.3 bandwidth story at the
    // reference's FineWeb width: the pruning must hold where the vec
    // column is 1024 floats (the column whose non-read is the win),
    // and the serve must still COMPILE whole-stage (no Janino
    // fallback) on top of the stored layout
    import org.apache.spark.sql.catalyst.expressions.codegen.ByteCodeStats
    val df = SparkEntry.qAnnSphericalPqD1024AtRest(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[cell".r.findAllIn(plan).size
    assert(pruned >= 2,
      s"expected cell partition filters on both composed scans, found $pruned:\n$plan")
    val scans = graft.sources.Disaggregated.scanSchemas(df)
    assert(scans.nonEmpty, "no parquet scan in plan")
    assert(scans.exists(s => s.contains("code") && !s.contains("vec")),
      s"no code-only cheap scan at d1024: $scans")
    val a = df.collect().map(_.toSeq).toSet
    val subtrees = org.apache.spark.sql.execution.debug.codegenStringSeq(
      df.queryExecution.executedPlan)
    assert(subtrees.nonEmpty, "expected whole-stage codegen subtrees")
    subtrees.foreach { case (subtree, _, stats) =>
      assert(stats != ByteCodeStats.UNAVAILABLE,
        s"whole-stage codegen failed to compile at d1024 at rest for:\n$subtree")
    }
    // hash-equal to the in-memory wide rung (deterministic training);
    // the sf0.001 wide slice is tiny (keyMod 128), so some qids serve
    // fewer than K rows — equality of the full row sets is the check
    val b = SparkEntry.qAnnSphericalPqD1024(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty,
      "wide spherical-PQ at-rest serve diverged from the in-memory rung")
  }

  test("spherical-PQ deletes: no tombstoned id served, code files byte-immutable") {
    import SparkEntry.{NQ, K, IvfCells, EmbD, IvfProbe, PqM, PqCodes,
      PqRerank, DeleteMod}
    val path = graft.operators.Pq.ensureSphericalResidualCodesFixture(
      spark, dir, IvfCells, EmbD, PqM, PqCodes)
    def dataFiles(p: String): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(p))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.length, f.lastModified)).toMap
    }
    val before = dataFiles(path)
    val del = graft.operators.Pq.topkSphericalResidualAtRestWithDeletes(
      spark, dir, Tables.embeddings(spark, dir), NQ, K, IvfCells, EmbD,
      IvfProbe, PqM, PqCodes, PqRerank, DeleteMod).collect()
    assert(dataFiles(path) == before,
      "the delete commit must never touch a code file")
    assert(del.length == NQ * K)
    assert(del.forall(_.getAs[Long]("id") % DeleteMod != 0),
      "a tombstoned vector was served")
  }

  test("spherical-PQ upsert: update visible, base files byte-immutable") {
    import SparkEntry.{NQ, K, IvfCells, EmbD, IvfProbe, PqM, PqCodes,
      PqRerank, UpsertMod}
    val path = graft.operators.Pq.ensureSphericalResidualCodesFixture(
      spark, dir, IvfCells, EmbD, PqM, PqCodes)
    def dataFiles(p: String): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(p))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.length, f.lastModified)).toMap
    }
    val before = dataFiles(path)
    val up = graft.operators.Pq.topkSphericalResidualAtRestUpserted(
      spark, dir, Tables.embeddings(spark, dir), NQ, K, IvfCells, EmbD,
      IvfProbe, PqM, PqCodes, PqRerank, UpsertMod).collect()
    assert(dataFiles(path) == before,
      "the upsert commit must never rewrite a base code file")
    assert(up.length == NQ * K)
    // the update is VISIBLE: negating 1/UpsertMod of the corpus moves
    // the merged ranking away from the plain at-rest ranking
    val plain = graft.operators.Pq.topkSphericalResidualAtRest(spark, dir,
      Tables.embeddings(spark, dir), NQ, K, IvfCells, EmbD, IvfProbe,
      PqM, PqCodes, PqRerank).collect().map(_.toSeq).toSet
    assert(up.map(_.toSeq).toSet != plain,
      "upserted serve returned the pre-update ranking")
  }

  test("BQ at-rest cheap pass scans only the 8-byte sign-word column") {
    val df = graft.operators.Bq.topkAtRest(spark, dir,
      Tables.embeddings(spark, dir), SparkEntry.NQ, SparkEntry.K,
      SparkEntry.BqRerank, SparkEntry.EmbD)
    val scans = graft.sources.Disaggregated.scanSchemas(df)
    assert(scans.nonEmpty, "no parquet scan in plan")
    scans.foreach { read =>
      assert(read.subsetOf(Set("id", "code")) || read.subsetOf(Set("id", "vec")) ||
        !read.contains("code") && !read.contains("vec"),
        s"scan reads $read")
    }
    assert(scans.exists(s => s.contains("code") && !s.contains("vec")),
      s"no code-only scan: $scans")
    // hash-equal to the in-memory BQ rung
    val a = df.collect().map(_.toSeq).toSet
    val b = graft.operators.Bq.topk(Tables.embeddings(spark, dir),
      SparkEntry.NQ, SparkEntry.K, SparkEntry.BqRerank, SparkEntry.EmbD)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.size == SparkEntry.NQ * SparkEntry.K)
  }

  test("filtered PQ at-rest: one scan gets pruning + pushed lang + no vec") {
    val df = graft.operators.Pq.topkAtRestFiltered(spark, dir,
      Tables.embeddings(spark, dir), SparkEntry.NQ, SparkEntry.K,
      SparkEntry.IvfCells, SparkEntry.EmbD, SparkEntry.IvfProbe,
      SparkEntry.PqM, SparkEntry.PqCodes, SparkEntry.PqRerank,
      SparkEntry.FilterLangs)
    val plan = df.queryExecution.executedPlan.toString
    // probe cells reach both layout scans as partition filters
    val pruned = "PartitionFilters: \\[cell".r.findAllIn(plan).size
    assert(pruned >= 2,
      s"expected cell partition filters on both scans, found $pruned:\n$plan")
    // the lang predicate reaches a parquet scan as a pushed filter
    assert("PushedFilters: \\[[^\\]]*In\\(lang".r.findFirstIn(plan).nonEmpty,
      s"lang predicate not pushed to the scan:\n$plan")
    // cheap pass: code word + lang, never the float vector
    val scans = graft.sources.Disaggregated.scanSchemas(df)
    scans.foreach { read =>
      assert(read.subsetOf(Set("id", "code", "lang")) ||
        read.subsetOf(Set("id", "vec")) ||
        !read.contains("code") && !read.contains("vec"),
        s"scan reads $read")
    }
    assert(scans.exists(s => s.contains("code") && !s.contains("vec")),
      s"no code-only scan: $scans")
  }

  test("PQ deletes: partition pruning pushes through the tombstone anti-join") {
    val mod = SparkEntry.DeleteMod
    val path = graft.operators.Pq.ensureCodesFixture(spark, dir,
      SparkEntry.IvfCells, SparkEntry.EmbD, SparkEntry.PqM, SparkEntry.PqCodes)
    val tombs = spark.read.parquet(
      graft.operators.Pq.ensureTombstones(spark, path, mod))
    val df = graft.operators.Pq.topkOffCodesWithDeletes(spark, path, tombs,
      Tables.embeddings(spark, dir), SparkEntry.NQ, SparkEntry.K,
      SparkEntry.IvfCells, SparkEntry.EmbD, SparkEntry.IvfProbe,
      SparkEntry.PqM, SparkEntry.PqCodes, SparkEntry.PqRerank)
    val plan = df.queryExecution.executedPlan.toString
    // the anti-join must not defeat the probe-cell partition filter
    val pruned = "PartitionFilters: \\[cell".r.findAllIn(plan).size
    assert(pruned >= 2,
      s"expected cell partition filters on both layout scans, found $pruned:\n$plan")
    assert(plan.contains("LeftAnti"), s"no anti-join in plan:\n$plan")
  }

  test("cascade at-rest: each tier's scan reads only its own rung column") {
    val df = graft.operators.Cascade.topkAtRest(spark, dir,
      Tables.embeddings(spark, dir), SparkEntry.NQ, SparkEntry.K,
      SparkEntry.EmbD, SparkEntry.EmbSq8ScaleLog2, SparkEntry.CascadeR1,
      SparkEntry.CascadeR2)
    val scans = graft.sources.Disaggregated.scanSchemas(df)
    assert(scans.nonEmpty, "no parquet scan in plan")
    // the disaggregated ladder holds all three rungs in one table; each
    // tier may read id plus exactly ONE rung column — a scan combining
    // rungs would void the ladder's whole bytes-per-tier model
    val tiers = Seq(Set("id", "code"), Set("id", "c8"), Set("id", "vec"))
    // the query side reads (vec_id, embedding) from the embeddings table
    // itself — nq rows, not a ladder scan
    val querySide = Set("vec_id", "embedding")
    scans.foreach { read =>
      assert(tiers.exists(read.subsetOf) || read.subsetOf(querySide),
        s"scan mixes rung columns: $read")
    }
    tiers.foreach { t =>
      assert(scans.exists(s => s.subsetOf(t) && s.size > 1),
        s"no ${t.mkString("/")}-only scan among $scans")
    }
    // hash-equal to the in-memory cascade
    val a = df.collect().map(_.toSeq).toSet
    val b = graft.operators.Cascade.topk(Tables.embeddings(spark, dir),
      SparkEntry.NQ, SparkEntry.K, SparkEntry.EmbD,
      SparkEntry.EmbSq8ScaleLog2, SparkEntry.CascadeR1, SparkEntry.CascadeR2)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.size == SparkEntry.NQ * SparkEntry.K)
  }

  test("wide-BQ at-rest cheap pass scans only the word columns") {
    val df = graft.operators.Bq.topkWideAtRest(spark, dir,
      SparkEntry.NQ, SparkEntry.K, SparkEntry.BqRerank, SparkEntry.D128,
      SparkEntry.KeepM, SparkEntry.D128KeyMod)
    val wordCols = Set("c_0", "c_1")
    val scans = graft.sources.Disaggregated.scanSchemas(df)
    assert(scans.nonEmpty, "no parquet scan in plan")
    scans.foreach { read =>
      assert(read.subsetOf(Set("id") ++ wordCols) ||
        read.subsetOf(Set("id", "vec")),
        s"scan reads $read")
    }
    assert(scans.exists(s => s.exists(wordCols) && !s.contains("vec")),
      s"no word-only scan: $scans")
    // hash-equal to the in-memory wide rung
    val a = df.collect().map(_.toSeq).toSet
    val b = SparkEntry.qAnnBqWide(spark, dir).collect().map(_.toSeq).toSet
    assert(a == b && a.size == SparkEntry.NQ * SparkEntry.K)
  }

  test("dedup band join: AQE splits an adversarial hot band bucket") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // 4000 identical docs share EVERY simhash band value -> one hot band
    // bucket whose self-join is the classic skew hazard of LSH-style
    // candidate generation; AQE's skew-join split is what keeps the
    // max-task bounded at 100 TB (no salting needed: the band join is a
    // plain shuffle equi-join, exactly the shape OptimizeSkewedJoin
    // handles)
    val docs = (Seq.tabulate(4000)(i =>
        (i.toLong, "the same words repeated over and over again", "s0")) ++
      Seq.tabulate(300)(i =>
        ((10000 + i).toLong, s"unique document ${i * 7} ${i * 13} ${i * 29}", "s0")))
      .toDF("doc_id", "text", "source")
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.forceOptimizeSkewedJoin",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.shuffle.partitions")
      .map(k => k -> spark.conf.getOption(k))
    try {
      // thresholds scaled down to the test corpus: the hot bucket's
      // shuffle partition must exceed them while the MEDIAN stays below —
      // the same RELATIVE shape a real hot key has (shuffle bytes are
      // LZ4-compressed, so thousands of near-identical hot rows measure
      // only tens of KB)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16384")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8192")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      // the band join feeds a distinct (another shuffle), which makes the
      // split "introduce extra shuffle" in AQE's book — force it, as a
      // production config for this operator would
      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      // skew splits are MAPPER-granular: AQE coalescing would shrink this
      // tiny corpus's upstream stage to ~1 map task, making the hot
      // reduce partition one indivisible chunk. A 100 TB corpus has
      // thousands of mappers; keep them here so the test preserves that
      // shape.
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // enough reducers that the skew test's MEDIAN partition is a tail
      // partition (with 4 reducers the handful of hot band keys land in
      // most partitions and the factor-vs-median test can never trip)
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      val pairs = graft.operators.Dedup.simhashPairs(docs, 16, 4)
      // execute THIS DataFrame's plan (count() builds a separate query
      // execution and would leave pairs' adaptive plan unfinalized)
      val n = pairs.queryExecution.toRdd.count()
      graft.operators.Dedup.releaseIntermediates()
      assert(n >= 4000L * 3999 / 2, s"hot bucket pairs missing: $n")
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => s +: walk(s.plan)
        case other => other +: other.children.flatMap(walk)
      }
      val smjs = walk(pairs.queryExecution.executedPlan)
        .collect { case j: SortMergeJoinExec => j }
      assert(smjs.nonEmpty, "expected sort-merge band join under AQE")
      assert(smjs.exists(_.isSkewJoin),
        s"no skew-join split on the hot band bucket:\n${smjs.mkString("\n")}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("fixture scan prunes lineitem to the two key columns") {
    val plan = SparkEntry.qTopkCos(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int>"),
      s"scan not pruned:\n$plan")
  }
}
