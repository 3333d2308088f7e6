package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{Refine, RefineKernel, BitplaneCompress, Multimodal}
import graft.sources.VecFiles
import graft.streaming.StreamOps
import java.nio.file.Files
import java.nio.{ByteBuffer, ByteOrder}

class OperatorsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  test("kernel top-K equals relational refine top-K for zero-miss modes") {
    val v = Fixture.fp16VectorsCached(spark, dir, SparkEntry.D, SparkEntry.KeepM)
      .repartition(7) // exercise partial-heap merge across partitions
    val q = Fixture.queries(v, 5).select(col("qid"), col("qvec"))
    for (mode <- Seq("cos_l1", "l2_tz")) {
      val p = Refine.Params(mode, k = 5, keepM = SparkEntry.KeepM)
      val kern = RefineKernel.topk(v, q, p)
        .select("qid", "rank", "id", "score").collect().map(_.toSeq).toSet
      val rel = Refine.topk(v, q, p)
        .select("qid", "rank", "id", "score").collect().map(_.toSeq).toSet
      assert(kern == rel, s"kernel != relational for $mode")
    }
  }

  test("simhash prefix banding finds exactly the all-pairs-within-source pairs") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, dir)
    val banded = Dedup.simhashPairs(docs, SparkEntry.SimhashBits,
      SparkEntry.MaxHamming).collect().map(_.toSeq).toSet
    // brute-force reference: all pairs within a source block
    val sh = Dedup.simhash(docs, SparkEntry.SimhashBits)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val a = sh.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"), col("source"))
    val b = sh.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"), col("source"))
    val brute = a.join(b, "source").filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int"))
      .filter(col("hamming") <= SparkEntry.MaxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .collect().map(_.toSeq).toSet
    assert(banded == brute, s"banded ${banded.size} pairs vs brute ${brute.size}")
  }

  test("angle-band embedding near-dup finds exactly the all-pairs-in-cell pairs") {
    import graft.operators.Ann
    val emb = Tables.embeddings(spark, dir)
    val banded = Ann.nearDupPairs(emb, SparkEntry.MinCos).collect().map(_.toSeq).toSet
    val a = emb.select(col("label"), col("vec_id").as("id_a"),
      col("embedding").as("va"), graft.functions.VectorOps.norm2Sq(col("embedding")).as("na2"))
    val b = emb.select(col("label"), col("vec_id").as("id_b"),
      col("embedding").as("vb"), graft.functions.VectorOps.norm2Sq(col("embedding")).as("nb2"))
    val fn = graft.functions.VectorOps.fnorm _
    val brute = a.join(b, "label").filter(col("id_a") < col("id_b"))
      .withColumn("cos", graft.functions.VectorOps.dot(col("va"), col("vb")) /
        (fn(col("na2")) * fn(col("nb2"))))
      .filter(col("cos") >= SparkEntry.MinCos)
      .select(col("id_a"), col("id_b"), col("cos"))
      .collect().map(_.toSeq).toSet
    assert(banded == brute && banded.nonEmpty,
      s"banded ${banded.size} pairs vs brute ${brute.size}")
  }

  test("knn graph: bounded degree, no self-edges; NN-descent never degrades") {
    import graft.operators.Ivf
    val emb = Tables.embeddings(spark, dir)
    val j = SparkEntry.KnnJ
    val g = Ivf.knnGraph(emb, j, SparkEntry.IvfCells, SparkEntry.EmbD,
      SparkEntry.IvfProbe)
    val base = g.collect()
    assert(base.forall(r => r.getAs[Long]("qid") != r.getAs[Long]("id")),
      "self-edge in knn graph")
    val deg = base.groupBy(_.getAs[Long]("qid")).view.mapValues(_.length)
    assert(deg.values.forall(_ <= j), "node degree exceeds j")
    assert(deg.size == emb.count(), "some node has no edges")
    // one descent round: rank-wise scores dominate the base graph (a
    // superset of candidates under an exact rescore can never be worse
    // at any rank)
    val desc = Ivf.knnDescend(emb, g, j).collect()
    val bBy = base.groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.map(r => r.getAs[Int]("rank") -> r.getAs[Double]("score")).toMap)
    desc.groupBy(_.getAs[Long]("qid")).foreach { case (qid, rows) =>
      rows.foreach { r =>
        bBy(qid).get(r.getAs[Int]("rank")).foreach { b =>
          assert(r.getAs[Double]("score") >= b,
            s"descent degraded node $qid at rank ${r.getAs[Int]("rank")}")
        }
      }
    }
  }

  test("knn graph delete: incremental repair equals the live-corpus rebuild") {
    import graft.operators.Ivf
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, dir)
    val j = SparkEntry.KnnJ
    val mod = SparkEntry.DeleteMod
    val g = Ivf.knnGraph(e, j, SparkEntry.IvfCells, SparkEntry.EmbD,
      SparkEntry.IvfProbe)
    val tombs = e.select(col("vec_id").as("id")).filter(col("id") % mod === 0)
    val a = Ivf.knnGraphDelete(e, g, tombs, j, SparkEntry.IvfCells,
      SparkEntry.EmbD, SparkEntry.IvfProbe).collect().map(_.toSeq).toSet
    val b = Ivf.knnGraph(e.filter(col("vec_id") % mod =!= 0), j,
      SparkEntry.IvfCells, SparkEntry.EmbD, SparkEntry.IvfProbe)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty, "incremental repair diverged from rebuild")
    // non-vacuous: some survivor actually held an edge to a deleted id,
    // so the backfill path did real work
    val affected = g.join(tombs, Seq("id"), "left_semi")
      .filter(col("qid") % mod =!= 0).count()
    assert(affected > 0, "no survivor referenced a deleted id")
  }

  test("knn graph as-of: each snapshot equals the rebuild over its live set") {
    import graft.operators.Ivf
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, dir)
    val j = SparkEntry.KnnJ
    val mod = SparkEntry.DeleteMod
    val path = Ivf.ensureKnnGraph(spark, dir, j, SparkEntry.IvfCells,
      SparkEntry.EmbD, SparkEntry.IvfProbe)
    def asOf(v: Int) = Ivf.knnGraphDeleteAsOf(spark, path, e, j,
        SparkEntry.IvfCells, SparkEntry.EmbD, SparkEntry.IvfProbe, mod, v)
      .collect().map(_.toSeq).toSet
    def rebuilt(liveMod: Int) = Ivf.knnGraph(
        if (liveMod == 0) e else e.filter(col("vec_id") % liveMod =!= 0),
        j, SparkEntry.IvfCells, SparkEntry.EmbD, SparkEntry.IvfProbe)
      .collect().map(_.toSeq).toSet
    // asOf 0 = the pre-delete graph; commit 1 deletes ids ≡ 0 (mod 2m);
    // commit 2 completes the ≡ 0 (mod m) set — every snapshot must
    // equal the graph REBUILT over that snapshot's live corpus (the
    // repair re-ranks over the as-of live set, not just a node filter)
    assert(asOf(0) == rebuilt(0), "asOf 0 != pre-delete graph")
    assert(asOf(1) == rebuilt(2 * mod), "asOf 1 != rebuild at commit 1")
    assert(asOf(2) == rebuilt(mod), "asOf 2 != rebuild at commit 2")
    // and the snapshots genuinely differ (the log is not degenerate)
    assert(asOf(0) != asOf(1) && asOf(1) != asOf(2))
  }

  test("knn graph upsert: incremental repair equals the rebuild over the updated view") {
    import graft.operators.Ivf
    import org.apache.spark.sql.functions.{col, transform => atransform, when}
    val e = Tables.embeddings(spark, dir)
    val j = SparkEntry.KnnJ
    val mod = SparkEntry.UpsertMod
    val g = Ivf.knnGraph(e, j, SparkEntry.IvfCells, SparkEntry.EmbD,
      SparkEntry.IvfProbe)
    val prober = spark.read.parquet(Ivf.ensureKnnGraphProbes(spark, dir,
      SparkEntry.IvfCells, SparkEntry.EmbD, SparkEntry.IvfProbe))
    val a = Ivf.knnGraphUpsert(e, g, prober, mod, j, SparkEntry.IvfCells,
      SparkEntry.EmbD, SparkEntry.IvfProbe).collect().map(_.toSeq).toSet
    val updatedView = e.select(col("vec_id"),
      when(col("vec_id") % mod === 0,
        atransform(col("embedding"), x => -x))
        .otherwise(col("embedding")).as("embedding"))
    val b = Ivf.knnGraph(updatedView, j, SparkEntry.IvfCells,
      SparkEntry.EmbD, SparkEntry.IvfProbe).collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty,
      "incremental upsert repair diverged from the updated-view rebuild")
    // the update is observable AND the repair incremental: the upserted
    // graph differs from the original, yet some node kept its edges
    // verbatim (the unaffected majority never recomputed)
    val orig = g.collect().map(_.toSeq).toSet
    assert(a != orig, "upsert changed nothing — vacuous fixture")
    val changedNodes = (a -- orig).map(_.head.asInstanceOf[Long]) ++
      (orig -- a).map(_.head.asInstanceOf[Long])
    val nNodes = e.count()
    assert(changedNodes.size.toLong < nNodes,
      "every node changed — the affected-set bound did no work")
  }

  test("upsert as-of endpoints: LSH, postings, and graph snapshots bracket the plain and fully-upserted serves") {
    import graft.operators.{Lsh, Search, Ivf}
    import SparkEntry.{NQ, K, EmbD, LshPlanes, UpsertMod, Bm25Terms,
      Bm25K1, Bm25B, Bm25TopN, PostBuckets, Bm25UpsertMod,
      PostingsUpsertToken, KnnJ, IvfCells, IvfProbe}
    val e = Tables.embeddings(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // LSH: asOf 0 = plain at-rest serve; latest = the one-shot upsert
    val lshPlain = rows(Lsh.topkAtRest(spark, dir, e, NQ, K, EmbD,
      LshPlanes))
    val lshUps = rows(Lsh.topkAtRestUpserted(spark, dir, e, NQ, K, EmbD,
      LshPlanes, UpsertMod))
    def lshAsOf(v: Int) = rows(Lsh.topkAtRestUpsertedAsOf(spark, dir, e,
      NQ, K, EmbD, LshPlanes, UpsertMod, v))
    assert(lshAsOf(0) == lshPlain && lshAsOf(2) == lshUps &&
      lshAsOf(1) != lshAsOf(0) && lshAsOf(1) != lshAsOf(2),
      "LSH upsert snapshots do not bracket plain/upserted")
    // postings: same endpoints, stale stats at every snapshot
    val bmPlain = rows(Search.bm25AtRest(spark, dir, Bm25Terms, Bm25K1,
      Bm25B, Bm25TopN, PostBuckets))
    val bmUps = rows(Search.bm25AtRestUpserted(spark, dir, Bm25Terms,
      Bm25K1, Bm25B, Bm25TopN, PostBuckets, Bm25UpsertMod,
      PostingsUpsertToken))
    def bmAsOf(v: Int) = rows(Search.bm25AtRestUpsertedAsOf(spark, dir,
      Bm25Terms, Bm25K1, Bm25B, Bm25TopN, PostBuckets, Bm25UpsertMod,
      PostingsUpsertToken, v))
    assert(bmAsOf(0) == bmPlain && bmAsOf(2) == bmUps &&
      bmAsOf(1) != bmAsOf(0),
      "postings upsert snapshots do not bracket plain/upserted")
    // graph: asOf 0 = the at-rest base graph; latest = the batch upsert
    val gPath = Ivf.ensureKnnGraph(spark, dir, KnnJ, IvfCells, EmbD,
      IvfProbe)
    val prober = spark.read.parquet(Ivf.ensureKnnGraphProbes(spark, dir,
      IvfCells, EmbD, IvfProbe))
    val gBase = rows(spark.read.parquet(gPath))
    val gUps = rows(Ivf.knnGraphUpsert(e, spark.read.parquet(gPath),
      prober, UpsertMod, KnnJ, IvfCells, EmbD, IvfProbe))
    def gAsOf(v: Int) = rows(Ivf.knnGraphUpsertAsOf(spark, gPath, e,
      prober, UpsertMod, KnnJ, IvfCells, EmbD, IvfProbe, v))
    assert(gAsOf(0) == gBase && gAsOf(2) == gUps &&
      gAsOf(1) != gAsOf(0) && gAsOf(1) != gAsOf(2),
      "graph upsert snapshots do not bracket base/upserted")
  }

  test("prober sidecar commit: only touched cell partitions rewritten, content equals re-probe") {
    import graft.operators.Ivf
    import org.apache.spark.sql.functions.{col, transform => atransform, when}
    import scala.jdk.CollectionConverters._
    val e = Tables.embeddings(spark, dir)
    // a SPARSE update set (not UpsertMod): with ~500 fixture vectors a
    // mod-13 commit probes every one of the 8 cells, which would make
    // the untouched-partition assertion vacuous — production commits
    // are small relative to nCells, and that is the regime this spec
    // pins (2 updated ids at mod 211)
    val mod = 211
    val (nCells, d, np) =
      (SparkEntry.IvfCells, SparkEntry.EmbD, SparkEntry.IvfProbe)
    // a private sidecar copy (the shared ensure-layout dir is immutable)
    val side = Files.createTempDirectory("proberside-")
    try {
      Ivf.probePairs(e.select(col("vec_id").as("qid"),
          col("embedding").as("qvec")), nCells, d, np)
        .repartition(col("cell")).sortWithinPartitions(col("qid"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(side.toString)
      def partFiles(): Map[String, Long] = Files.walk(side).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
        .toMap
      val before = partFiles()
      // the commit's touched set: old ∪ new probe cells of updated ids
      val updOld = e.filter(col("vec_id") % mod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val updNew = updOld.select(col("qid"),
        atransform(col("qvec"), x => -x).as("qvec"))
      val touched = (Ivf.probePairs(updOld, nCells, d, np)
          .select("cell").distinct().collect() ++
        Ivf.probePairs(updNew, nCells, d, np)
          .select("cell").distinct().collect())
        .map(_.getInt(0)).toSet
      assert(touched.size < nCells,
        "fixture touches every cell — the pruning assertion is vacuous")
      Ivf.commitProberUpsert(spark, side.toString, e, mod, nCells, d, np)
      // (a) untouched partitions: byte-identical files (same paths, mtimes)
      val after = partFiles()
      val untouchedBefore = before.filterNot { case (p, _) =>
        touched.exists(c => p.contains(s"cell=$c/")) }
      val untouchedAfter = after.filterNot { case (p, _) =>
        touched.exists(c => p.contains(s"cell=$c/")) }
      assert(untouchedBefore == untouchedAfter,
        "commit rewrote files in untouched cell partitions")
      // (b) post-commit content equals a fresh re-probe of the updated view
      val updatedView = e.select(col("vec_id"),
        when(col("vec_id") % mod === 0,
          atransform(col("embedding"), x => -x))
          .otherwise(col("embedding")).as("embedding"))
      val want = Ivf.probePairs(updatedView
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        nCells, d, np).collect().map(_.toSeq).toSet
      val got = spark.read.parquet(side.toString)
        .select(col("qid"), col("cell")).collect().map(_.toSeq).toSet
      assert(got == want, "committed sidecar != re-probe of updated view")
    } finally VecFiles.deleteRecursively(side)
  }

  test("graph beam search: per-round monotone, bounded reads, sane recall") {
    import graft.operators.{Ivf, Ann}
    val emb = Tables.embeddings(spark, dir)
    val j = SparkEntry.KnnJ
    val g = Ivf.knnGraph(emb, j, SparkEntry.IvfCells, SparkEntry.EmbD,
      SparkEntry.IvfProbe)
    val nq = 5; val k = 5; val beam = 10
    def run(rounds: Int) = Ivf.graphSearch(emb, g, nq, k, beam, rounds,
        SparkEntry.IvfCells, SparkEntry.EmbD)
      .collect().groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.map(r =>
        r.getAs[Int]("rank") -> r.getAs[Double]("score")).toMap).toMap
    val r3 = run(3); val r4 = run(4)
    // rounds >> 4 must not blow up the iterative plan: each round's beam
    // is localCheckpoint-ed (lineage truncation), so 16 rounds stays flat
    val r16 = run(16)
    assert(r16.nonEmpty && r16.values.forall(_.size == k))
    // an extra round expands a superset under exact scoring: rank-wise
    // scores can only improve or hold
    r4.foreach { case (qid, rows) =>
      rows.foreach { case (rank, s) =>
        r3(qid).get(rank).foreach(prev => assert(s >= prev,
          s"round 4 degraded query $qid at rank $rank")) } }
    // loose recall floor vs brute (degree-5 graph, nearest-cell entry)
    val brute = Ann.bruteTopK(emb, nq, k).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"))).toSet
    val got = Ivf.graphSearch(emb, g, nq, k, beam, 4,
        SparkEntry.IvfCells, SparkEntry.EmbD).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"))).toSet
    assert((brute & got).size * 5 >= brute.size,
      s"graph search recall ${(brute & got).size}/${brute.size} under 20%")
  }

  test(".vec reader parses header, rows, and skips short lines") {
    val f = Files.createTempFile("test", ".vec")
    Files.writeString(f,
      "3 4\ntok1 1.0 2.0 3.0 4.0\nbad line\ntok2 -1.5 0.25 0 7\ntok3 9 8 7 6\n")
    val df = VecFiles.readVec(spark, f.toString)
    val rows = df.orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(0).getSeq[Float](1) == Seq(1.0f, 2.0f, 3.0f, 4.0f))
    assert(rows(1).getSeq[Float](1) == Seq(-1.5f, 0.25f, 0f, 7f))
    Files.delete(f)
  }

  test(".fvecs reader round-trips binary records") {
    val f = Files.createTempFile("test", ".fvecs")
    val d = 3
    val bb = ByteBuffer.allocate(2 * (4 + 4 * d)).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(d).putFloat(1.5f).putFloat(-2f).putFloat(3f)
    bb.putInt(d).putFloat(4f).putFloat(5f).putFloat(-6.25f)
    Files.write(f, bb.array())
    val rows = VecFiles.readFvecs(spark, f.toString).orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).getSeq[Float](1) == Seq(1.5f, -2f, 3f))
    assert(rows(1).getSeq[Float](1) == Seq(4f, 5f, -6.25f))
    Files.delete(f)
  }

  test("ASCII-header binary reader") {
    val f = Files.createTempFile("test", ".bin")
    val payload = ByteBuffer.allocate(2 * 2 * 4).order(ByteOrder.LITTLE_ENDIAN)
    payload.putFloat(1f).putFloat(2f).putFloat(3f).putFloat(4f)
    val header = "2\n2\n".getBytes
    val all = header ++ payload.array()
    Files.write(f, all)
    val rows = VecFiles.readHeaderBin(spark, f.toString).orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).getSeq[Float](1) == Seq(1f, 2f))
    assert(rows(1).getSeq[Float](1) == Seq(3f, 4f))
    Files.delete(f)
  }

  test("bitplane compression: ratio >= 1 and plausible") {
    val v = Fixture.fp16VectorsCached(spark, dir, SparkEntry.D, SparkEntry.KeepM)
      .select(col("id"), col("vec"))
    val row = BitplaneCompress.measure(v, SparkEntry.D, 5, SparkEntry.KeepM).collect()(0)
    val naive = row.getDouble(3); val comp = row.getDouble(4); val ratio = row.getDouble(5)
    assert(naive == 12.0) // (1+5+6)*8/8
    assert(comp > 0 && ratio > 0.5 && ratio < 20, s"comp=$comp ratio=$ratio")
  }

  test("multimodal feature histogram matches direct char histogram") {
    val docs = Tables.documents(spark, dir).limit(20)
    val viaBlob = Multimodal.features(Multimodal.withBlob(docs))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val direct = docs.select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(length(col("ch")) === 1)
      .select(col("doc_id"), (ascii(col("ch")) % Multimodal.Bins).as("bucket"))
      .groupBy("doc_id", "bucket").count()
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(viaBlob == direct)
  }

  test("image decode round-trips real PNGs back to the synthesis pixels") {
    val docs = Tables.documents(spark, dir).limit(20)
    val imgs = Multimodal.renderImageBlobs(docs)
    // the blobs are genuine PNG containers (magic bytes), not stand-ins
    val blob = imgs.limit(1).collect()(0).getAs[Array[Byte]]("img")
    assert(blob.length > 8 &&
      (blob(0) & 0xFF) == 0x89 && blob(1) == 'P' && blob(2) == 'N' && blob(3) == 'G',
      "blob is not a PNG container")
    // decoded-pixel histogram == closed-form synthesis histogram
    val got = Multimodal.decodeImageFeatures(imgs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = docs.collect().map(_.getAs[Long]("doc_id")).flatMap { id =>
      val h = new Array[Long](Multimodal.PixBins)
      for (y <- 0 until Multimodal.ImgH; x <- 0 until Multimodal.ImgW)
        h(Multimodal.pixel(id, x, y) * Multimodal.PixBins / 256) += 1
      (0 until Multimodal.PixBins).filter(h(_) > 0)
        .map(b => (id, b.toLong) -> h(b))
    }.toMap
    assert(got == want)
  }

  test("audio decode round-trips real WAV containers back to the synthesis PCM") {
    val docs = Tables.documents(spark, dir).limit(20)
    val wavs = Multimodal.renderAudioBlobs(docs)
    // the blobs are genuine RIFF/WAVE containers, not byte stand-ins
    val blob = wavs.limit(1).collect()(0).getAs[Array[Byte]]("wav")
    assert(blob.length > 12 &&
      new String(blob, 0, 4, "US-ASCII") == "RIFF" &&
      new String(blob, 8, 4, "US-ASCII") == "WAVE",
      "blob is not a WAV container")
    val got = Multimodal.decodeAudioFeatures(wavs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val want = docs.collect().map(_.getAs[Long]("doc_id")).flatMap { id =>
      val nWin = Multimodal.AudioSamples / Multimodal.AudioWin
      (0 until nWin).map { w =>
        val es = (0 until Multimodal.AudioWin).map { j =>
          val s = Multimodal.sample16(id, w * Multimodal.AudioWin + j).toLong
          s * s
        }
        (id, w.toLong) -> (es.sum, Multimodal.AudioWin.toLong)
      }
    }.toMap
    assert(got == want)
  }

  test("video decode demuxes the container and round-trips every PNG frame") {
    val docs = Tables.documents(spark, dir).limit(20)
    val vids = Multimodal.renderVideoBlobs(docs)
    // container framing: first int32-BE length, then a PNG magic
    val blob = vids.limit(1).collect()(0).getAs[Array[Byte]]("video")
    val len0 = java.nio.ByteBuffer.wrap(blob, 0, 4).getInt
    assert(len0 > 8 && (blob(4) & 0xFF) == 0x89 && blob(5) == 'P',
      "container does not start with a length-prefixed PNG frame")
    val got = Multimodal.decodeVideoFeatures(vids)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val want = docs.collect().map(_.getAs[Long]("doc_id")).flatMap { id =>
      (0 until Multimodal.VideoFrames).map { f =>
        val psum = (for (y <- 0 until Multimodal.FrameH;
                         x <- 0 until Multimodal.FrameW)
          yield Multimodal.framePixel(id, f, x, y).toLong).sum
        (id, f.toLong) ->
          (psum, (Multimodal.FrameW * Multimodal.FrameH).toLong)
      }
    }.toMap
    assert(got == want)
  }

  test("inter-frame video codec round-trips through the P-frame chain") {
    val docs = Tables.documents(spark, dir).limit(20)
    val vids = Multimodal.renderVideoBlobsInter(docs)
    val blob = vids.limit(1).collect()(0).getAs[Array[Byte]]("video")
    // container: [len]['K'][PNG] for the key frame...
    val len0 = java.nio.ByteBuffer.wrap(blob, 0, 4).getInt
    assert((blob(4) & 0xFF) == 'K'.toInt && (blob(5) & 0xFF) == 0x89 &&
      blob(6) == 'P', "no length-prefixed PNG key frame")
    // ...then [len]['P'][deflated residual]; the P-frame payload must be
    // SMALLER than the PNG key frame — temporal prediction + entropy
    // coding earning real compression, not just a relabeled intra frame
    val len1 = java.nio.ByteBuffer.wrap(blob, 5 + len0, 4).getInt
    assert((blob(5 + len0 + 4) & 0xFF) == 'P'.toInt && len1 < len0,
      s"P-frame $len1 bytes not smaller than key frame $len0 bytes")
    val got = Multimodal.decodeVideoFeaturesInter(vids)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val want = docs.collect().map(_.getAs[Long]("doc_id")).flatMap { id =>
      (0 until Multimodal.VideoFrames).map { f =>
        val psum = (for (y <- 0 until Multimodal.FrameH;
                         x <- 0 until Multimodal.FrameW)
          yield Multimodal.interPixel(id, f, x, y).toLong).sum
        (id, f.toLong) ->
          (psum, (Multimodal.FrameW * Multimodal.FrameH).toLong)
      }
    }.toMap
    assert(got == want)
    // a truncated container fails loudly, never silently drops frames
    intercept[Exception] {
      import spark.implicits._
      Multimodal.decodeVideoFeaturesInter(
        Seq((1L, blob.take(blob.length - 3))).toDF("doc_id", "video"))
        .collect()
    }
  }

  test("pii scrub redacts emails before digit runs and counts both") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail me at a.b-c_9@test-x.org or on 1234567 soon"),
      (2L, "no pii here at all"),
      (3L, "two 999999999 runs 123456 and x@y.io plus short 12345"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextOps.scrubPii(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(got(1L) == ((1, 1, "mail me at <EMAIL> or on <NUM> soon")))
    assert(got(2L) == ((0, 0, "no pii here at all")))
    // the email's digits are gone before the number pass; 12345 is below
    // the 6-digit floor and survives
    assert(got(3L) == ((1, 2, "two <NUM> runs <NUM> and <EMAIL> plus short 12345")))
  }

  test("connected components resolve chains, cliques, and isolated pairs") {
    import spark.implicits._
    // chain 1-2-3-4 (one component, min 1), triangle 10-11-12 with an
    // extra edge, isolated pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val got = graft.operators.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    assert(got == want)
  }

  test("connected components match a union-find oracle on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val n = 10 + rnd.nextInt(30)
      val edges = Seq.fill(n) {
        val a = rnd.nextInt(40).toLong; val b = rnd.nextInt(40).toLong
        if (a < b) (a, b) else (b, a + 1)  // a < b, no self-loops
      }.distinct
      // local union-find oracle
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.map(x => x -> find(x)).toMap
      val got = graft.operators.Dedup.connectedComponents(
        edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial: $got != $want")
    }
  }

  test("streaming windowed counts match batch over the same data") {
    import org.apache.spark.sql.streaming.Trigger
    // stage the single events.parquet into a landing-zone directory
    val landing = Files.createTempDirectory("events_stream")
    Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      landing.resolve("part-000.parquet"))
    val stream = StreamOps.readEventsStream(spark, landing.toString)
    val q = StreamOps.windowedCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_counts")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("win_counts")
      .select(col("event_type"), col("n"), col("value_milli"))
      .collect().map(_.toSeq).toSet
    val want = StreamOps.windowedCounts(Tables.events(spark, dir))
      .select(col("event_type"), col("n"), col("value_milli"))
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("watermark drops late rows across microbatches") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    def ns(s: String): Long =
      java.time.Instant.parse(s).getEpochSecond * 1000000000L
    val landing = Files.createTempDirectory("events_late")
    def stage(name: String, mtime: Long,
              rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      val tmp = Files.createTempDirectory("stage")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      import scala.jdk.CollectionConverters._
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      val dst = landing.resolve(name)
      Files.copy(part, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    // batch 0 observes max event time 2024-01-03T12:00, so the watermark
    // becomes 11:00. Late-event FILTERING uses the watermark of the
    // preceding batch (Spark keeps a lenient "late events" watermark one
    // batch behind the eviction watermark), so the late row is staged two
    // batches after the max was observed: by batch 2 the filtering
    // watermark is 11:00 and the Jan 1 row (window end Jan 2) must drop,
    // while the 13:00 row is on time.
    stage("a.parquet", 1000000L, Seq(
      (1L, ns("2024-01-01T00:10:00Z"), 1L, "click", 1.0, "{}"),
      (2L, ns("2024-01-03T12:00:00Z"), 1L, "click", 1.0, "{}")))
    stage("b.parquet", 2000000L, Seq(
      (3L, ns("2024-01-03T12:30:00Z"), 1L, "click", 1.0, "{}")))
    stage("c.parquet", 3000000L, Seq(
      (4L, ns("2024-01-01T02:00:00Z"), 1L, "click", 1.0, "{}"),  // LATE
      (5L, ns("2024-01-03T13:00:00Z"), 1L, "click", 1.0, "{}")))
    val outDir = Files.createTempDirectory("late_out").toString
    val q = StreamOps.windowedCounts(
        spark.readStream.schema(StreamOps.eventsSchema)
          .option("maxFilesPerTrigger", "1").parquet(landing.toString))
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.withColumn("batch_id", lit(id)).write.mode("append").parquet(outDir)
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val log = spark.read.parquet(outDir)
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("n"), col("batch_id")).collect()
    assert(log.map(_.getLong(2)).distinct.length >= 3, "expected >= 3 microbatches")
    // Jan 1 was never updated past its batch-0 count: the late row was dropped
    val jan1 = log.filter(_.getString(0) == "2024-01-01")
    assert(jan1.nonEmpty && jan1.map(_.getLong(1)).max == 1L,
      s"late row leaked into Jan 1: ${jan1.mkString(",")}")
    // the on-time rows all landed
    val jan3 = log.filter(_.getString(0) == "2024-01-03")
    assert(jan3.map(_.getLong(1)).max == 3L, s"on-time row lost: ${jan3.mkString(",")}")
  }

  test("update-mode upsert-log stream sink equals the batch daily aggregate") {
    val got = StreamOps.dailyCountsOnce(spark, dir)
      .collect().map(_.toSeq).toSet
    val want = SparkEntry.qEventsDaily(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("streaming ingestion dedup equals batch exact dedup across real batches") {
    // the sharded landing must hold >1 file so maxFilesPerTrigger=1
    // yields multiple microbatches — duplicates spanning triggers have to
    // collapse through the state store, not within one batch
    val landing = StreamOps.ensureShardedDocsLanding(spark, dir)
    val parts = Option(new java.io.File(landing).listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    assert(parts >= 2, s"expected a multi-file landing, got $parts files")
    val got = StreamOps.streamDedupOnce(spark, dir)
      .collect().map(_.toSeq).toSet
    val want = graft.operators.Dedup.exact(Tables.documents(spark, dir))
      .select(col("text_hash"), col("keep_id"), col("dup_count"))
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("IVF-SQ8 with full-depth rerank equals the plain IVF scan") {
    import graft.operators.Ivf
    val e = Tables.embeddings(spark, dir)
    // code-range safety at the configured scale (|k| <= 127)
    val maxAbs = e.select(max(expr("aggregate(embedding, CAST(0.0 AS DOUBLE)," +
      " (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))"))).first().getDouble(0)
    assert(maxAbs * (1 << SparkEntry.EmbSq8ScaleLog2) <= 127.5,
      s"embeddings overflow int8 codes: max |v| = $maxAbs")
    // with rerank covering every candidate, the exact rescore must give
    // exactly the plain IVF result — the quantized pass then only orders
    // candidates, never drops one
    val n = e.count().toInt
    val a = Ivf.topkSq8(e, 5, 5, SparkEntry.IvfCells, SparkEntry.EmbD,
        SparkEntry.IvfProbe, SparkEntry.EmbSq8ScaleLog2, rerank = n)
      .collect().map(_.toSeq).toSet
    val b = Ivf.topk(e, 5, 5, SparkEntry.IvfCells, SparkEntry.EmbD,
        SparkEntry.IvfProbe)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty, "SQ8 full-rerank diverged from plain IVF")
  }

  test("sketch estimators honor their contracts on events") {
    val r = SparkEntry.qSketches(spark, dir).collect()(0)
    assert(r.getLong(0) > 0 && r.getLong(1) > 0, r.toString)
    assert(r.getBoolean(2), s"HLL outside 5x rsd: $r")
    assert(r.getBoolean(3) && r.getBoolean(4), s"GK rank bound violated: $r")
  }

  test("binned interval join equals the direct theta join") {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000000000").as("sec"))
    val err = e.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("sec"))
    val clk = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("sec").as("c_sec"))
    val binned = graft.operators.RangeJoin
      .interval(err, clk.withColumnRenamed("c_uid", "user_id"),
        Seq("user_id"), "sec", "c_sec", before = 300L, after = 60L,
        binWidth = 200L) // binWidth < span: exercises >2 bins per row
      .select(col("event_id"), col("c_sec")).collect().map(_.toSeq).toSet
    val direct = err.join(clk,
        err("user_id") === clk("c_uid") &&
          clk("c_sec") >= err("sec") - 300L && clk("c_sec") <= err("sec") + 60L)
      .select(col("event_id"), col("c_sec")).collect().map(_.toSeq).toSet
    assert(binned == direct && binned.nonEmpty)
  }

  test("interval join matches the theta join across parameter shapes") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val left = Seq.tabulate(300)(i =>
      (i.toLong, rng.nextInt(8).toLong, rng.nextInt(5000).toLong))
      .toDF("lid", "k", "ts")
    val right = Seq.tabulate(600)(i =>
      (i.toLong, rng.nextInt(8).toLong, rng.nextInt(5000).toLong))
      .toDF("rid", "k", "rts")
    // spans smaller/equal/larger than the bin width, and one-sided bounds
    for ((before, after, bw) <- Seq((100L, 0L, 100L), (0L, 250L, 100L),
        (300L, 300L, 1000L), (0L, 0L, 50L))) {
      val binned = graft.operators.RangeJoin
        .interval(left, right, Seq("k"), "ts", "rts", before, after, bw)
        .select(col("lid"), col("rid")).collect().map(_.toSeq).toSet
      val direct = left.join(right,
          left("k") === right("k") &&
            col("rts") >= col("ts") - before && col("rts") <= col("ts") + after)
        .select(col("lid"), col("rid")).collect().map(_.toSeq).toSet
      assert(binned == direct && binned.nonEmpty,
        s"mismatch at before=$before after=$after bw=$bw")
    }
  }

  test("interval join is exact at nanosecond epoch magnitudes (> 2^53)") {
    import spark.implicits._
    // timestamps near 1.7e18 ns: double arithmetic loses integer
    // precision here, so a float-division bin assignment can place a
    // boundary row off-by-one on ONE side and silently drop true matches
    val base = 1700000000000000000L
    val bw = 1000000000L // 1 s bins
    val rng = new scala.util.Random(11)
    val left = Seq.tabulate(200)(i =>
      (i.toLong, rng.nextInt(4).toLong, base + rng.nextInt(30) * bw / 3 +
        (if (rng.nextBoolean()) 0L else rng.nextInt(3).toLong - 1L)))
      .toDF("lid", "k", "ts")
    val right = Seq.tabulate(400)(i =>
      (i.toLong, rng.nextInt(4).toLong, base + rng.nextInt(30) * bw / 3 +
        (if (rng.nextBoolean()) 0L else rng.nextInt(3).toLong - 1L)))
      .toDF("rid", "k", "rts")
    val (before, after) = (bw, bw / 2)
    val binned = graft.operators.RangeJoin
      .interval(left, right, Seq("k"), "ts", "rts", before, after, bw)
      .select(col("lid"), col("rid")).collect().map(_.toSeq).toSet
    val direct = left.join(right,
        left("k") === right("k") &&
          col("rts") >= col("ts") - before && col("rts") <= col("ts") + after)
      .select(col("lid"), col("rid")).collect().map(_.toSeq).toSet
    assert(binned == direct && binned.nonEmpty)
  }

  test("sharded vector exports round-trip with positional ids, ignoring orphan parts") {
    import graft.sources.VecFiles
    val v = Fixture.vectors(spark, dir, SparkEntry.D).orderBy("id")
    val want = v.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray))
    for ((ext, write, read) <- Seq[(String,
        (org.apache.spark.sql.DataFrame, String, Int) => Unit,
        String => org.apache.spark.sql.DataFrame)](
      ("fvecs", VecFiles.writeFvecsSharded, p => VecFiles.readFvecsSharded(spark, p)),
      ("bin", VecFiles.writeHeaderBinSharded, p => VecFiles.readHeaderBinSharded(spark, p)))) {
      val out = java.nio.file.Files.createTempDirectory(s"shards_$ext").toString
      write(v, out, SparkEntry.D)
      // an orphan part from a failed export has no manifest entry and
      // must be invisible to the reader
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out, s"part-99999.$ext"), Array[Byte](1, 2, 3))
      val got = read(out).orderBy("id").collect()
      assert(got.length == want.length, s"$ext row count")
      // ids are the 0-based global record index in manifest part order,
      // which (range-ordered write) is fixture-id order
      assert(got.map(_.getLong(0)).toSeq == (0L until want.length).toSeq)
      got.zip(want).foreach { case (r, (_, wv)) =>
        assert(r.getSeq[Float](1).toArray.sameElements(wv), s"$ext values") }
      if (ext == "bin") {
        // every header-bin part is itself a complete S2 file
        val part0 = new java.io.File(out).listFiles()
          .map(_.getName).filter(_.matches("part-0000\\d\\.bin")).min
        val standalone = VecFiles.readHeaderBin(spark, s"$out/$part0").count()
        val manifested = scala.io.Source.fromFile(s"$out/_manifest").getLines()
          .find(_.startsWith(part0)).get.split("\\s+")(1).toLong
        assert(standalone == manifested && manifested > 0)
      }
    }
  }

  test("corpus-clean funnel is monotone and keeps canonical docs") {
    val rows = SparkEntry.qCorpusClean(spark, dir).collect()
    graft.operators.Dedup.releaseIntermediates()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (raw, q, e, f) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(raw >= q && q >= e && e >= f && f >= 0,
        s"funnel not monotone: $r")
    }
    // the quality gate and dedup stages each actually drop something
    // somewhere in the corpus (guards against a vacuous pipeline)
    assert(rows.map(_.getLong(1)).sum > rows.map(_.getLong(2)).sum)
    assert(rows.map(_.getLong(3)).sum > rows.map(_.getLong(4)).sum)
  }

  test("readMatrix sniffs ASCII vs int binary headers driver-side") {
    val vals = Array.tabulate(3, 4)((i, j) => (i * 4 + j).toFloat)
    def payload(bb: ByteBuffer): Unit =
      vals.foreach(_.foreach(bb.putFloat))
    // ASCII "L\nD\n" form
    val ascii = Files.createTempFile("mat", ".bin")
    val hdr = "3\n4\n".getBytes("US-ASCII")
    val ab = ByteBuffer.allocate(hdr.length + 48).order(ByteOrder.LITTLE_ENDIAN)
    ab.put(hdr); payload(ab)
    Files.write(ascii, ab.array())
    // [int32 L][int32 D] fallback form (reference ANNCode.py:150-158)
    val intf = Files.createTempFile("mat2", ".bin")
    val ib = ByteBuffer.allocate(8 + 48).order(ByteOrder.LITTLE_ENDIAN)
    ib.putInt(3); ib.putInt(4); payload(ib)
    Files.write(intf, ib.array())
    for (f <- Seq(ascii, intf)) {
      val got = VecFiles.readMatrix(spark, f.toString)
        .orderBy("id").collect().map(r => r.getSeq[Float](1).toArray)
      assert(got.length == 3 && got.zip(vals).forall {
        case (a, b) => a.sameElements(b)
      }, s"dispatch failed for $f")
    }
    // adversarial int header: L=2570 = 0x0A0A puts two newline BYTES in
    // the length field — a newline-count sniff would misread it as ASCII
    val tricky = Files.createTempFile("mat3", ".bin")
    val tb = ByteBuffer.allocate(8 + 2570 * 2 * 4).order(ByteOrder.LITTLE_ENDIAN)
    tb.putInt(2570); tb.putInt(2)
    (0 until 2570 * 2).foreach(i => tb.putFloat(i.toFloat))
    Files.write(tricky, tb.array())
    val tr = VecFiles.readMatrix(spark, tricky.toString)
    assert(tr.count() == 2570 &&
      tr.orderBy("id").limit(1).collect()(0).getSeq[Float](1) == Seq(0f, 1f))
  }

  test("context-window chunking emits exact sliding windows") {
    import spark.implicits._
    val docs = Seq(
      (1L, (0 until 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                     // shorter than chunk
      (3L, "x"))                                         // single token
      .toDF("doc_id", "text")
    val r = graft.operators.TextOps.chunkDocs(docs, 4, 2)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getString(3))).toMap
    assert(r == Map(
      (1L, 0L) -> ((4L, "t0 t1 t2 t3")), (1L, 1L) -> ((4L, "t2 t3 t4 t5")),
      (1L, 2L) -> ((4L, "t4 t5 t6 t7")), (1L, 3L) -> ((4L, "t6 t7 t8 t9")),
      (2L, 0L) -> ((3L, "a b c")), (3L, 0L) -> ((1L, "x"))))
  }

  test("sequence packing: exact bins, invariant to input partitioning") {
    import spark.implicits._
    def mk(n: Int) = (0 until n).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, mk(5)), (2L, mk(3)), (3L, mk(4)), (4L, mk(2)))
      .toDF("doc_id", "text")
    // exclusive cumsums 0,5,8,12 over budget 6 -> packs 0,0,1,2
    val want = Set(
      (0L, 2L, 8L, 1L, 2L), (1L, 1L, 4L, 3L, 3L), (2L, 1L, 2L, 4L, 4L))
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TextOps.packSequences(df, 6L)
        .select("pack_id", "n_docs", "n_tokens", "first_doc", "last_doc")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    assert(run(docs) == want)
    assert(run(docs.repartition(7)) == want, "partitioning changed packs")
    // with exchange reuse DISABLED the two __pid-consuming branches
    // (offsets aggregate + local window) no longer share a deduplicated
    // exchange subtree — the persist inside packSequences is what pins
    // them to one physical partitioning; without it, independently
    // re-sampled range boundaries could disagree between the branches
    val saved = spark.conf.getOption("spark.sql.exchange.reuse")
    try {
      spark.conf.set("spark.sql.exchange.reuse", "false")
      assert(run(docs.repartition(5)) == want, "packs wrong without exchange reuse")
      graft.operators.Dedup.releaseIntermediates()
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.exchange.reuse", v)
      case None => spark.conf.unset("spark.sql.exchange.reuse")
    }
  }

  test("sequence packing conserves tokens and orders bins on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val docs = Seq.tabulate(40)(i =>
        (i.toLong, Seq.fill(1 + rnd.nextInt(20))("w").mkString(" ")))
        .toDF("doc_id", "text")
      val budget = 8 + rnd.nextInt(20)
      val packs = graft.operators.TextOps.packSequences(docs, budget)
        .orderBy("pack_id").collect()
      // every token lands in exactly one pack
      assert(packs.map(_.getLong(2)).sum ==
        docs.collect().map(_.getString(1).split(" ").length.toLong).sum)
      assert(packs.map(_.getLong(1)).sum == 40L) // every doc assigned once
      // bins are disjoint, ordered id ranges: pack p's last_doc precedes
      // pack p+1's first_doc
      packs.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(0) < b.getLong(0) && a.getLong(4) < b.getLong(3),
            s"trial $trial: overlapping packs $a / $b")
        case _ =>
      }
    }
  }

  test("decontamination matches a brute-force set model on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val words = Array("a", "b", "c", "d", "e")
    def doc() = Seq.fill(2 + rnd.nextInt(8))(words(rnd.nextInt(words.length)))
      .mkString(" ")
    for (trial <- 1 to 3) {
      val n = 2 + rnd.nextInt(2) // 2..3
      val train = Seq.tabulate(30)(i => (i.toLong, doc(), "s0"))
      val eval_ = Seq.tabulate(6)(i => ((100 + i).toLong, doc(), "s0"))
      def grams(t: String): Set[String] = {
        val tk = t.split(" ")
        if (tk.length < n) Set.empty
        else tk.sliding(n).map(_.mkString(" ")).toSet
      }
      val evalGrams = eval_.iterator.flatMap(d => grams(d._2)).toSet
      val want = train.flatMap { case (id, t, _) =>
        val g = grams(t)
        if (g.isEmpty) None
        else Some(id -> ((g.size.toLong, g.count(evalGrams).toLong)))
      }.toMap
      val got = graft.operators.Dedup.decontaminate(
        train.toDF("doc_id", "text", "source"),
        eval_.toDF("doc_id", "text", "source"), n)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == want, s"trial $trial (n=$n): $got != $want")
    }
  }

  test("decontamination flags exact n-gram collisions against the eval set") {
    import spark.implicits._
    import graft.operators.Dedup
    val train = Seq(
      (1L, "a b c d e", "s0"),      // grams: abc bcd cde -> 1 hit (cde)
      (2L, "x y z w v", "s0"),      // 3 grams, 0 hits
      (3L, "p q p q p q", "s0"),    // 4 gram slots, 2 DISTINCT -> 0 hits
      (4L, "c d e f g", "s0"),      // cde def efg -> all 3 hit
      (5L, "too short", "s0"))      // < n tokens: absent from output
      .toDF("doc_id", "text", "source")
    val eval_ = Seq((100L, "c d e f g h", "s0")).toDF("doc_id", "text", "source")
    val r = Dedup.decontaminate(train, eval_, 3)
    val m = r.collect().map(x => x.getLong(0) ->
      (x.getLong(1), x.getLong(2), x.getInt(4))).toMap
    assert(m == Map(
      1L -> ((3L, 1L, 1)), 2L -> ((3L, 0L, 0)),
      3L -> ((2L, 0L, 0)), 4L -> ((3L, 3L, 1))))
    // the eval probe must be a broadcast hash join (the 100 TB shape:
    // training grams never shuffle for the membership test), and the
    // whole plan must carry exactly two shuffles — the eval-side gram
    // distinct and the final per-doc aggregate; the training grams
    // themselves cross only the latter
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => s +: walk(s.plan)
      case other => other +: other.children.flatMap(walk)
    }
    val plan = walk(r.queryExecution.executedPlan)
    assert(plan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      r.queryExecution.executedPlan.toString)
    val shuffles = plan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }
    assert(shuffles.size == 2,
      s"expected 2 shuffles (eval distinct + final agg), got ${shuffles.size}:\n" +
        r.queryExecution.executedPlan.toString)
  }

  test("salted two-phase aggregation equals the direct aggregation") {
    val a = SparkEntry.qSaltedDaily(spark, dir).collect().map(_.toSeq).toSet
    val b = SparkEntry.qEventsDaily(spark, dir).collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("format writers round-trip through their readers") {
    import spark.implicits._
    import java.nio.file.Files
    val rnd = new scala.util.Random(7)
    val data = (0L until 97L).map { i =>
      (i, Array.fill(5)(
        if (rnd.nextBoolean()) rnd.nextInt(2000) - 1000f    // integral path
        else rnd.nextFloat() * 2000f - 1000f))              // general float
    }.toDF("id", "vec")
    val dir2 = Files.createTempDirectory("vecio")
    val (vp, fp, bp) =
      (dir2.resolve("t.vec"), dir2.resolve("t.fvecs"), dir2.resolve("t.bin"))
    VecFiles.writeVec(data, vp, 5)
    VecFiles.writeFvecs(data.orderBy("id"), fp, 5)
    VecFiles.writeHeaderBin(data.orderBy("id"), bp, 5)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toList).toMap
    val want = m(data)
    // ids 0..96 in write order, so the index-addressed formats' record
    // index equals the id
    assert(m(VecFiles.readVec(spark, vp.toString, tokenAsId = true)) == want)
    assert(m(VecFiles.readFvecs(spark, fp.toString)) == want)
    assert(m(VecFiles.readHeaderBin(spark, bp.toString)) == want)
  }

  test("frame sampling matches substring fingerprints") {
    import graft.operators.Multimodal
    import Multimodal.{FrameLen, FrameStride, MaxFrames}
    val docs = Tables.documents(spark, dir).limit(50)
    val got = Multimodal.frameSample(Multimodal.withBlob(docs))
      .collect().map(_.toSeq).toSet
    val want = docs
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), lit(MaxFrames - 1))).as("k"))
      .filter(col("k") * FrameStride < length(col("text")))
      .select(col("doc_id"), col("k").as("frame_idx"),
        expr(s"substring(text, k*$FrameStride+1, $FrameLen)").as("fr"))
      .select(col("doc_id"), col("frame_idx"),
        length(col("fr")).as("frame_len"),
        expr("cast(conv(substring(md5(cast(fr as binary)),1,15),16,10) as bigint)")
          .as("frame_hash"))
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("stateful stream sessionization equals the batch window-lag form") {
    val got = StreamOps.sessionsOnce(spark, dir, SparkEntry.SessionGapSec)
      .collect().map(_.toSeq).toSet
    val want = SparkEntry.qEventsSessions(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("kernel query-side cap rejects oversized query relations") {
    val big = spark.range(RefineKernel.MaxQueryRows + 1)
      .select(col("id").as("qid"), array(lit(1.0f)).as("qvec"))
    val ex = intercept[IllegalArgumentException] {
      RefineKernel.collectQueries(big)
    }
    assert(ex.getMessage.contains("MaxQueryRows"))
  }

  test("streaming reduced-copy maintenance feeds batch refinement") {
    val landing = Files.createTempDirectory("events_inc")
    Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      landing.resolve("part-000.parquet"))
    val out = Files.createTempDirectory("vec_table").toString + "/vecs"
    val q = StreamOps.maintainReducedCopy(
      StreamOps.readEventsStream(spark, landing.toString), out, SparkEntry.D, 6)
    q.awaitTermination(120000)
    val table = spark.read.parquet(out)
    assert(table.count() == Tables.events(spark, dir).count())
    // the streamed table is directly queryable by the batch refinement
    val queries = Fixture.queries(table, 3)
      .select(org.apache.spark.sql.functions.col("qid"),
        org.apache.spark.sql.functions.col("qvec"))
    val topk = graft.operators.Refine.topk(table, queries,
      graft.operators.Refine.Params("l2_sym", k = 5, keepM = 6))
    assert(topk.count() == 15)
  }

  test("streaming similarity gate emits matches on a microbatch") {
    val vecs = StreamOps.eventVectors(Tables.events(spark, dir), SparkEntry.D, 6)
    val queries = vecs.limit(3)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val out = StreamOps.similarityGate(vecs, queries, 0.99)
    assert(out.count() >= 3) // each query matches at least itself
  }

  test("keepE<5 reduction end-to-end on the fixture corpus (keep_both path)") {
    // reduce_precision_keep_both (ANNCode.py:219-242): through the column
    // functions over real fixture vectors — sign preserved, toward zero,
    // word == fp16word & mask, error-vs-fp16 == exact magnitude loss.
    import graft.functions.{VectorOps, Fp16}
    val (keepE, keepM) = (3, 4)
    val mask = 0x8000 | (((0x1F >> (5 - keepE)) << (5 - keepE)) << 10) |
      ((0x3FF >> (10 - keepM)) << (10 - keepM))
    val rows = Fixture.vectors(spark, dir, SparkEntry.D).limit(300)
      .select(
        VectorOps.fp16RoundTrip(col("vec")).as("v16"),
        VectorOps.reduceVec(col("vec"), keepE, keepM).as("rv"),
        VectorOps.reduceVecWords(col("vec"), keepE, keepM).as("rw"))
      .collect()
    assert(rows.length == 300)
    rows.foreach { row =>
      val v16 = row.getSeq[Float](0); val rv = row.getSeq[Float](1)
      val rw = row.getSeq[Short](2)
      v16.indices.foreach { j =>
        val x = v16(j); val r = rv(j)
        assert((rw(j) & 0xFFFF) == (Fp16.floatToHalfBits(x) & mask))
        assert(r == 0.0f || (r > 0) == (x > 0))
        assert(math.abs(r) <= math.abs(x))
        // error vs fp16 (the reference's diagnostic) is the magnitude loss,
        // computed in double where fp16-value subtraction is exact
        assert(math.abs(x.toDouble - r.toDouble) ==
          math.abs(x.toDouble) - math.abs(r.toDouble))
      }
    }
  }

  test("events loader upholds the ts contract at every sf dir") {
    // the driver has regenerated testdata with a DIFFERENT ts physical
    // type mid-build (TIMESTAMP(NANOS) -> timestamp[us]); this contract
    // test makes the next drift fail loudly here instead of deep inside
    // an events query. Contract: ts is BIGINT epoch-nanos, naive
    // wall-clock read as UTC, batch and streaming sources agreeing.
    import org.apache.spark.sql.types.LongType
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val e = Tables.events(spark, s"/root/testdata/$sf")
      assert(e.schema("ts").dataType == LongType, s"$sf ts type")
      val Array(lo, hi) = e.agg(min("ts"), max("ts")).collect()
        .flatMap(r => Array(r.getLong(0), r.getLong(1)))
      // generator epoch starts 2024-01-01; sanity-bound to [2020, 2040)
      assert(lo >= 1577836800L * 1000000000L && hi < 2208988800L * 1000000000L,
        s"$sf ts range [$lo, $hi] outside nanos sanity window")
    }
    // streaming source must deliver the same normalized rows
    val landing = StreamOps.ensureLanding("/root/testdata/sf0.001")
    val stream = StreamOps.readEventsStream(spark, landing)
    assert(stream.schema("ts").dataType == LongType)
    // name/type agreement with the contract schema (metadata-insensitive)
    assert(stream.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      StreamOps.eventsSchema.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  test("matryoshka prefix rung: full depth equals brute, production recall floor") {
    import graft.operators.Ann
    import SparkEntry.{NQ, K, PrefixD, PrefixRerank}
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count().toInt
    // approximation comes only from the rerank cut: at corpus depth the
    // full-width rescore must reproduce the brute scan row-for-row
    val full = Ann.prefixTopK(emb, NQ, K, PrefixD, n)
      .collect().map(_.toSeq).toSet
    val brute = Ann.bruteTopK(emb, NQ, K).collect().map(_.toSeq).toSet
    assert(full == brute && full.size == NQ * K,
      "full-depth prefix rung diverged from brute")
    // production depth: the PrefixD-dim cheap net at PrefixRerank must
    // recover most of the exact top-k, and be partitioning-invariant
    val gt = brute.map(r => (r(0), r(2))) // (qid, id)
    val approx = Ann.prefixTopK(emb, NQ, K, PrefixD, PrefixRerank)
    val hits = approx.select("qid", "id").collect()
      .map(r => (r.get(0), r.get(1))).toSet
    val recall = gt.count(hits.contains).toDouble / (NQ * K)
    assert(recall >= 0.5, s"prefix rung recall $recall below floor")
    val b = Ann.prefixTopK(emb.repartition(7), NQ, K, PrefixD, PrefixRerank)
      .collect().map(_.toSeq).toSet
    assert(approx.collect().map(_.toSeq).toSet == b,
      "prefix rung not invariant under repartitioning")
  }

  test("zero-miss prefix refinement equals the exact scan at any width") {
    import graft.operators.Ann
    import SparkEntry.{NQ, K, EmbD}
    val emb = Tables.embeddings(spark, dir)
    val brute = Ann.bruteTopK(emb, NQ, K).collect().map(_.toSeq).toSet
    // the Cauchy-Schwarz tail cushion guarantees exactness at ANY prefix
    // width — the width only moves the pruning power, never the rows
    for (dp <- Seq(SparkEntry.PrefixD, SparkEntry.PrefixRefineD)) {
      val r = Ann.prefixRefineTopK(emb, NQ, K, EmbD, dp)
        .collect().map(_.toSeq).toSet
      assert(r == brute && r.size == NQ * K,
        s"zero-miss prefix refine diverged from brute at dPrefix=$dp")
    }
  }

  test("layered graph search dominates the flat beam on the reads/recall frontier") {
    import java.util.concurrent.atomic.LongAdder
    import graft.operators.{Ann, Ivf}
    import SparkEntry._
    val emb = Tables.embeddings(spark, dir)
    val truth = Ann.bruteTopK(emb, NQ, K).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"))).toSet
    val g0 = Ivf.knnGraph(emb, KnnJ, IvfCells, EmbD, IvfProbe)
    val up = Ivf.layeredUpper(emb, LayeredJ, IvfCells, EmbD, IvfProbe,
      LayeredStride, LayeredLayers)
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"))).toSet
      (got & truth).size.toDouble / truth.size
    }
    // upper layers are valid graphs: members only, both endpoints
    (1 to LayeredLayers).foreach { l =>
      val mod = math.pow(LayeredStride.toDouble, l.toDouble).toLong
      val bad = up.filter(col("layer") === l)
        .filter(col("qid") % mod =!= 0 || col("id") % mod =!= 0).count()
      assert(bad == 0, s"layer $l holds non-member endpoints")
    }
    val mLay = new LongAdder
    val layered = recallOf(Ivf.graphSearchLayered(emb, g0, up, NQ, K,
      GraphBeam, LayeredRounds, LayeredUpperRounds, LayeredUpperBeam,
      LayeredStride, LayeredLayers, Some(mLay)))
    // flat beam given MORE reads (rounds=8 of the same base graph)
    val mFlat = new LongAdder
    val flat = recallOf(Ivf.graphSearch(emb, g0, NQ, K, GraphBeam, 8,
      IvfCells, EmbD, Some(mFlat)))
    // the HNSW claim, held on measured counts: >= recall, fewer reads
    assert(layered >= flat,
      s"layered recall $layered < flat $flat despite the descent entry")
    assert(mLay.sum < mFlat.sum,
      s"layered read ${mLay.sum} vectors, flat ${mFlat.sum} — no saving")
  }

  test("stream model refresh: versioned history, drained model = batch Lloyd") {
    import graft.streaming.StreamOps
    import SparkEntry.{IvfCells, EmbD}
    val dir0 = "/root/testdata/sf0.001"
    val served = StreamOps.lloydModelOverStream(spark, dir0, IvfCells, EmbD)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.Ivf.kmeansStep(
      Tables.embeddings(spark, dir0), IvfCells, EmbD)
      .collect().map(_.toSeq).toSet
    assert(served == batch,
      "drained stream-refreshed model diverged from the batch-trained twin")
    // the refresh log holds one model per microbatch (4 landing shards)
    val models = spark.read.parquet(StreamOps.ensureStreamLloydModels(
      spark, dir0, IvfCells, EmbD) + "/models")
    assert(models.select("b").distinct().count() >= 2,
      "expected a multi-version model history")
  }

  test("kmeans step: deterministic fold at any parallelism, occupancy sums to N") {
    import graft.operators.Ivf
    import SparkEntry.{IvfCells, EmbD}
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val a = Ivf.kmeansStep(emb, IvfCells, EmbD).collect().map(_.toSeq).toSet
    // the ordered fold makes the float mean partition-count-invariant —
    // the property a naive float SUM would lose
    val b = Ivf.kmeansStep(emb.repartition(7), IvfCells, EmbD)
      .collect().map(_.toSeq).toSet
    assert(a == b, "Lloyd means not invariant under repartitioning")
    val rows = a.toSeq.map(s => (s(0).asInstanceOf[Int],
      s(1).asInstanceOf[Int], s(2).asInstanceOf[Long],
      s(3).asInstanceOf[Double]))
    // each dimension's occupancies partition the corpus
    rows.groupBy(_._2).foreach { case (_, g) => assert(g.map(_._3).sum == n) }
    // a mean lies inside its components' range: |x| < 1 on this fixture
    assert(rows.forall(r => math.abs(r._4) < 1.0))
    assert(rows.map(_._2).distinct.sorted == (1 to EmbD))
  }

  test("kmeans convergence ledger: monotone non-increasing SSE, invariant") {
    import graft.operators.Ivf
    import SparkEntry.{IvfCells, EmbD}
    val emb = Tables.embeddings(spark, dir)
    val rows = Ivf.kmeansConverge(emb, IvfCells, EmbD, 2).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0, 1, 2))
    // Lloyd: each iteration's two half-steps can only shrink SSE
    assert(rows(1)._2 <= rows(0)._2 && rows(2)._2 <= rows(1)._2,
      s"SSE not monotone: ${rows.map(_._2).mkString(", ")}")
    // the first retrain off the data-independent init is a big step
    assert(rows(1)._2 < 0.5 * rows(0)._2,
      "first Lloyd iteration bought < 2x — init centroids suspiciously good")
    assert(rows.forall(r => r._3 >= 1 && r._3 <= IvfCells))
    // id-ordered folds make the ledger partition-count-invariant
    val again = Ivf.kmeansConverge(emb.repartition(7), IvfCells, EmbD, 2)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._1)
    assert(again.toSeq == rows.toSeq)
    // iters = 0 is the init model's ledger row alone
    val init = Ivf.kmeansConverge(emb, IvfCells, EmbD, 0).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
    assert(init.toSeq == rows.take(1).toSeq)
  }

  test("kmeans convergence ledger refuses an empty embedding relation") {
    import graft.operators.Ivf
    import SparkEntry.{IvfCells, EmbD}
    val empty = Tables.embeddings(spark, dir).limit(0)
    for (iters <- Seq(0, 2)) {
      val e = intercept[IllegalArgumentException](
        Ivf.kmeansConverge(empty, IvfCells, EmbD, iters))
      assert(e.getMessage.contains("the embedding relation is empty"),
        s"iters=$iters: ${e.getMessage}")
    }
  }

  test("stream-maintained layered upper matches the batch layers row-for-row") {
    import graft.streaming.StreamOps
    import SparkEntry.{IvfCells, EmbD, IvfProbe, LayeredJ, LayeredStride,
      LayeredLayers}
    val a = StreamOps.layeredUpperOverStream(spark, dir, LayeredJ, IvfCells,
      EmbD, IvfProbe, LayeredStride, LayeredLayers)
      .select("layer", "qid", "rank", "id", "score")
      .collect().map(_.toSeq).toSet
    val b = graft.operators.Ivf.layeredUpper(Tables.embeddings(spark, dir),
      LayeredJ, IvfCells, EmbD, IvfProbe, LayeredStride, LayeredLayers)
      .select("layer", "qid", "rank", "id", "score")
      .collect().map(_.toSeq).toSet
    assert(a.nonEmpty && a == b,
      "drained stream upper layers diverged from the batch build")
  }

  test("kmeans seed: farthest-first picks shrink across rounds, invariant") {
    import graft.operators.Ivf
    import SparkEntry.{EmbD, SeedN, SeedPerRound}
    val emb = Tables.embeddings(spark, dir)
    val rows = Ivf.kmeansSeed(emb, SeedN, SeedPerRound, EmbD).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(r => (r._1, r._2))
    assert(rows.length == SeedN)
    assert(rows.map(_._3).distinct.length == SeedN, "duplicate seed ids")
    assert(rows(0) == ((0, 0, rows(0)._3, 0.0)))
    // within a round picks rank by (mindist DESC, id ASC); across rounds
    // the selection distances can only shrink: round r+1 measures against
    // a superset of round r's reference set, and round r took the top-L
    val byRound = rows.groupBy(_._1).toSeq.sortBy(_._1)
    byRound.foreach { case (_, g) =>
      assert(g.map(_._4).toSeq == g.map(_._4).sortBy(-_).toSeq) }
    byRound.sliding(2).foreach {
      case Seq((r0, g0), (_, g1)) if r0 >= 1 =>
        assert(g1.map(_._4).max <= g0.map(_._4).min,
          "batched farthest-first: round maxima not non-increasing")
      case _ => ()
    }
    // selection is a pure function of the set — partition-invariant
    val again = Ivf.kmeansSeed(emb.repartition(7), SeedN, SeedPerRound, EmbD)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(r => (r._1, r._2))
    assert(again.toSeq == rows.toSeq)
  }

  test("seeded ivf: probing every seeded cell recovers the exact scan") {
    import graft.operators.{Ann, Ivf}
    import SparkEntry.{NQ, K, EmbD, SeedN, SeedPerRound}
    val emb = Tables.embeddings(spark, dir)
    val exact = Ann.bruteTopK(emb, NQ, K).collect().map(_.toSeq).toSet
    val all = Ivf.topkSeeded(emb, NQ, K, SeedN, SeedPerRound, EmbD,
      nprobe = SeedN).collect().map(_.toSeq).toSet
    assert(all == exact, "full-probe seeded IVF diverged from brute scan")
  }

  test("ivf split: hot cells come apart, occupancies partition the corpus") {
    import graft.operators.Ivf
    import SparkEntry.{IvfCells, EmbD, SplitFracNum, SplitFracDen}
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val before = Ivf.assign(emb, IvfCells, EmbD).groupBy("cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val hot = before.filter { case (_, o) =>
      o * SplitFracDen > SplitFracNum * n }.keySet
    assert(hot.nonEmpty, "fixture has no over-threshold cell — threshold dead")
    val after = Ivf.splitStats(emb, IvfCells, EmbD, SplitFracNum,
      SplitFracDen).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(after.map(_._3).sum == n, "split occupancies lost rows")
    // unsplit cells keep one (cell, 0) row with their old occupancy;
    // every hot cell's halves each run strictly under the original
    after.groupBy(_._1).foreach { case (c, g) =>
      if (hot(c)) {
        assert(g.map(_._3).sum == before(c))
        assert(g.forall(_._3 < before(c)),
          s"cell $c: a split half kept the whole occupancy")
      } else assert(g.toSeq == Seq((c, 0, before(c))))
    }
    // partition-invariant (the model is a pure function of the set)
    val again = Ivf.splitStats(emb.repartition(7), IvfCells, EmbD,
      SplitFracNum, SplitFracDen).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(again.toSet == after.toSet)
  }

  test("split ivf: probing every sub-cell recovers the exact scan") {
    import graft.operators.{Ann, Ivf}
    import SparkEntry.{NQ, K, IvfCells, EmbD, SplitFracNum, SplitFracDen}
    val emb = Tables.embeddings(spark, dir)
    val brute = Ann.bruteTopK(emb, NQ, K).collect().map(_.toSeq).toSet
    // splitting only refines the partition: nprobe = all (cell, sub)
    // representatives is the whole corpus
    val all = Ivf.topkSplit(emb, NQ, K, IvfCells, EmbD,
      nprobe = 2 * IvfCells, num = SplitFracNum, den = SplitFracDen)
      .collect().map(_.toSeq).toSet
    assert(all == brute, "full-probe split IVF diverged from brute scan")
    assert(Ivf.topkSplit(emb, NQ, K, IvfCells, EmbD, nprobe = 2,
      num = SplitFracNum, den = SplitFracDen).count() == NQ * K)
  }

  test("lloyd-served ivf: probing every trained cell recovers the exact scan") {
    import graft.operators.{Ann, Ivf}
    import SparkEntry.{NQ, K, IvfCells, EmbD, IvfProbe}
    val emb = Tables.embeddings(spark, dir)
    // with nprobe >= every occupied cell the candidate set is the whole
    // corpus, so the trained quantizer must reproduce brute exactly —
    // approximation comes only from nprobe
    val full = Ivf.topkLloyd(emb, NQ, K, IvfCells, EmbD, nprobe = IvfCells)
      .collect().map(_.toSeq).toSet
    val brute = Ann.bruteTopK(emb, NQ, K).collect().map(_.toSeq).toSet
    assert(full == brute && full.size == NQ * K,
      "full-probe lloyd scan diverged from brute")
    assert(Ivf.topkLloyd(emb, NQ, K, IvfCells, EmbD, IvfProbe)
      .count() == NQ * K)
  }

  test("stream-maintained prefix layout matches the batch layout row-for-row") {
    import graft.operators.Ann
    import SparkEntry.{EmbD, PrefixRefineD}
    val streamed = StreamOps.ensureStreamPrefixLayout(spark, dir, EmbD,
      PrefixRefineD)
    // genuinely incremental: the 4-shard landing drains one file per
    // trigger, so the layout must hold multiple appended part files
    val parts = new java.io.File(streamed).listFiles()
      .count(f => f.getName.startsWith("part-"))
    assert(parts >= 2, s"drain was not incremental: $parts part files")
    // the microbatch projection IS the batch writer's projection
    val a = spark.read.parquet(streamed).collect().map(_.toSeq).toSet
    val b = spark.read.parquet(
        Ann.ensurePrefixLayout(spark, dir, EmbD, PrefixRefineD))
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty, "streamed layout diverged from batch layout")
  }

  test("ivf x prefix: full-depth rerank equals the plain IVF probe scan") {
    import graft.operators.Ivf
    import SparkEntry.{NQ, K, IvfCells, EmbD, IvfProbe, PrefixD, PrefixRerank}
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count().toInt
    // approximation comes only from the width-truncated rerank cut: at
    // probed-pool depth the exact rescore must equal the probe scan
    val full = Ivf.topkPrefix(emb, NQ, K, IvfCells, EmbD, IvfProbe,
      PrefixD, rerank = n).collect().map(_.toSeq).toSet
    val plain = Ivf.topk(emb, NQ, K, IvfCells, EmbD, IvfProbe)
      .collect().map(_.toSeq).toSet
    assert(full == plain && full.size == NQ * K,
      "full-depth ivf-prefix diverged from the plain probe scan")
    // production depth stays well-formed
    val prod = Ivf.topkPrefix(emb, NQ, K, IvfCells, EmbD, IvfProbe,
      PrefixD, PrefixRerank)
    assert(prod.count() == NQ * K)
  }

  test("prefix refine ledger: pruning power tracks the energy profile") {
    import graft.operators.Ann
    import SparkEntry.{NQ, K, EmbD, PrefixRefineD}
    val emb = Tables.embeddings(spark, dir)
    val rows = Ann.prefixRefineMetrics(emb, NQ, K, EmbD, PrefixRefineD)
      .collect().map(r => r.getAs[String]("corpus") -> r).toMap
    // zero-miss holds on BOTH corpora (measured, not asserted)
    assert(rows("iso").getAs[Double]("recall") == 1.0)
    assert(rows("mrl").getAs[Double]("recall") == 1.0)
    // the thesis as data: the energy-decayed corpus prunes far deeper
    // than the isotropic worst case under the SAME cushion algebra
    val (fIso, fMrl) = (rows("iso").getAs[Double]("fpr"),
      rows("mrl").getAs[Double]("fpr"))
    assert(fMrl < fIso, s"mrl fpr $fMrl not below iso fpr $fIso")
    assert(rows("mrl").getAs[Double]("save") > 0.0,
      "mrl ledger should net a positive saving")
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_fetched") >= NQ.toLong * K)
      assert(r.getAs[Double]("fpr") >= 0.0 && r.getAs[Double]("fpr") <= 1.0)
    }
  }

  test("rung ladder: exact anchor at recall 1, bounded hits, one row per rung") {
    import graft.operators.{Ann, Ladder}
    import SparkEntry.{NQ, K, PrefixD, PrefixRerank}
    val emb = Tables.embeddings(spark, dir)
    val gt = Ann.bruteTopK(emb, NQ, K)
    val rows = Ladder.recallTable(spark, Seq(
      ("prefix", 4 * PrefixD, Ann.prefixTopK(emb, NQ, K, PrefixD, PrefixRerank)),
      ("exact", 4 * SparkEntry.EmbD, gt)), gt, NQ * K).collect()
    assert(rows.length == 2)
    val byRung = rows.map(r => r.getAs[String]("rung") -> r).toMap
    // the exact arm IS the ground truth: every row hits
    assert(byRung("exact").getAs[Long]("hits") == NQ * K &&
      byRung("exact").getAs[Double]("recall") == 1.0)
    val p = byRung("prefix")
    assert(p.getAs[Long]("hits") >= 0 && p.getAs[Long]("hits") <= NQ * K &&
      p.getAs[Double]("recall") == p.getAs[Long]("hits").toDouble / (NQ * K))
  }

  test("index stats: occupancy partitions the corpus, fractions sum to 1") {
    import graft.operators.Ivf
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val rows = Ivf.indexStats(emb, SparkEntry.IvfCells, SparkEntry.EmbD).collect()
    assert(rows.map(_.getAs[Long]("n")).sum == n)
    assert(rows.forall { r =>
      val c = r.getAs[Int]("cell")
      c >= 0 && c < SparkEntry.IvfCells &&
        r.getAs[Long]("min_id") <= r.getAs[Long]("max_id")
    })
    assert(math.abs(rows.map(_.getAs[Double]("frac")).sum - 1.0) < 1e-9)
  }

  test("pareto frontier: exactly the non-dominated grid rows") {
    import graft.operators.{Ivf, Dedup}
    import SparkEntry.{NQ, K, IvfCells, EmbD, TuneGridNprobes, TuneGridReranks,
      EmbSq8ScaleLog2}
    val emb = Tables.embeddings(spark, dir)
    val ((grid, front), release) = Dedup.scopedRelease {
      (Ivf.tuneGridSq8(emb, NQ, K, IvfCells, EmbD, TuneGridNprobes,
          TuneGridReranks, EmbSq8ScaleLog2)
          .collect().map(r => (r.getInt(0), r.getInt(1),
            r.getAs[Double]("recall"), r.getAs[Double]("save"))),
        Ivf.paretoGridSq8(emb, NQ, K, IvfCells, EmbD, TuneGridNprobes,
          TuneGridReranks, EmbSq8ScaleLog2)
          .collect().map(r => (r.getInt(0), r.getInt(1))).toSet)
    }
    release()
    def dominated(a: (Int, Int, Double, Double)) = grid.exists(b =>
      b._3 >= a._3 && b._4 >= a._4 && (b._3 > a._3 || b._4 > a._4))
    val expected = grid.filterNot(dominated).map(r => (r._1, r._2)).toSet
    assert(front == expected && front.nonEmpty)
  }

  test("adaptive probe depth: bounded probes; wide ratio equals fixed npMax") {
    import graft.operators.Ivf
    import SparkEntry.{NQ, K, IvfCells, EmbD, AdaptiveNpMax}
    val emb = Tables.embeddings(spark, dir)
    val got = Ivf.topkAdaptive(emb, NQ, K, IvfCells, EmbD,
      SparkEntry.AdaptiveRatio, AdaptiveNpMax).collect()
    assert(got.nonEmpty)
    assert(got.forall { r =>
      val np = r.getAs[Long]("n_probed"); np >= 1 && np <= AdaptiveNpMax })
    // a ratio admitting every cell degenerates to the fixed-depth scan
    val wide = Ivf.topkAdaptive(emb, NQ, K, IvfCells, EmbD, 1e18, AdaptiveNpMax)
      .select("qid", "rank", "id", "score").collect().map(_.toSeq).toSet
    val fixed = Ivf.topk(emb, NQ, K, IvfCells, EmbD, AdaptiveNpMax)
      .select("qid", "rank", "id", "score").collect().map(_.toSeq).toSet
    assert(wide == fixed)
  }

  test("recall@R curve: bounded, and the R=k point matches the recall join") {
    import graft.operators.{Ivf, Ann, Dedup}
    import SparkEntry.{NQ, K, IvfCells, EmbD, IvfProbe, RecallRs}
    val emb = Tables.embeddings(spark, dir)
    val (rows, release) = Dedup.scopedRelease(
      Ivf.recallAtR(emb, NQ, IvfCells, EmbD, IvfProbe, RecallRs).collect())
    release()
    assert(rows.length == RecallRs.length)
    rows.foreach { r =>
      val rr = r.getAs[Int]("r"); val hits = r.getAs[Long]("hits")
      assert(hits >= 0 && hits <= rr.toLong * NQ)
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
    }
    // the R=K point is the classic recall join computed independently
    val approx = Ivf.topk(emb, NQ, K, IvfCells, EmbD, IvfProbe).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"))).toSet
    val brute = Ann.bruteTopK(emb, NQ, K).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"))).toSet
    val atK = rows.find(_.getAs[Int]("r") == K).get.getAs[Long]("hits")
    assert(atK == (approx & brute).size.toLong)
  }

  test("grouped top-k: per-facet depth bounded, global winner leads its facet") {
    import graft.operators.{Search, Ann}
    import SparkEntry.{NQ, GroupedK}
    val emb = Tables.embeddings(spark, dir)
    val doc = Tables.documents(spark, dir)
    val rows = Search.groupedTopK(emb, doc, NQ, GroupedK).collect()
    assert(rows.nonEmpty)
    // each (qid, lang) facet carries at most k rows, ranks 1..n dense
    rows.groupBy(r => (r.getAs[Long]("qid"), r.getAs[String]("lang")))
      .foreach { case (_, g) =>
        val ranks = g.map(_.getAs[Int]("rank")).sorted.toSeq
        assert(ranks.length <= GroupedK && ranks == (1 to ranks.length))
      }
    // the global top-1 (restricted to ids that HAVE metadata) must sit at
    // rank 1 of its own facet with the same score
    val withMeta = doc.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val global = Ann.bruteTopK(emb, NQ, 50).collect()
      .filter(r => withMeta(r.getAs[Long]("id")))
      .groupBy(_.getAs[Long]("qid"))
      .map { case (qid, g) => qid -> g.minBy(_.getAs[Int]("rank")) }
    global.foreach { case (qid, top) =>
      val hit = rows.find(r => r.getAs[Long]("qid") == qid &&
        r.getAs[Long]("id") == top.getAs[Long]("id"))
      assert(hit.exists(_.getAs[Int]("rank") == 1),
        s"global winner of $qid not rank 1 in its facet")
      assert(hit.get.getAs[Double]("score") == top.getAs[Double]("score"))
    }
  }

  test("trained sq8: full-depth rerank recovers the plain IVF scan") {
    import graft.operators.Ivf
    import SparkEntry.{NQ, K, IvfCells, EmbD, IvfProbe}
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count().toInt
    val full = Ivf.topkSq8Trained(emb, NQ, K, IvfCells, EmbD, IvfProbe, n)
      .collect().map(_.toSeq).toSet
    val plain = Ivf.topk(emb, NQ, K, IvfCells, EmbD, IvfProbe)
      .collect().map(_.toSeq).toSet
    assert(full == plain && full.nonEmpty,
      "full-depth trained-sq8 rerank must equal the exact probe scan")
    // and the trained rung at the production rerank depth is sane: the
    // quantizer is range-tight enough that recall vs the probe scan holds
    val got = Ivf.topkSq8Trained(emb, NQ, K, IvfCells, EmbD, IvfProbe,
      SparkEntry.Sq8Rerank).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"))).toSet
    val base = plain.map(s => (s(0).asInstanceOf[Long], s(2).asInstanceOf[Long]))
    assert((got & base).size * 10 >= base.size * 9,
      s"trained-sq8 recall ${(got & base).size}/${base.size} under 90%")
  }

  test("score histogram: counts partition the cross join, buckets bounded") {
    import graft.operators.Ann
    import SparkEntry.{NQ, HistBinScale}
    val emb = Tables.embeddings(spark, dir)
    val rows = Ann.scoreHistogram(emb, NQ, HistBinScale).collect()
    assert(rows.map(_.getAs[Long]("n")).sum == emb.count() * NQ)
    assert(rows.forall { r =>
      val b = r.getAs[Int]("bucket")
      b >= -HistBinScale - 1 && b <= HistBinScale })
  }

  test("bpe merge round: counts equal a driver-side recount, total order holds") {
    import graft.operators.{TextOps, Dedup}
    import SparkEntry.BpeTopN
    val docs = Tables.documents(spark, dir)
    val got = TextOps.bpePairCounts(docs, BpeTopN).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // independent recount: word frequencies then per-position pairs
    val wf = docs.select(explode(Dedup.tokens(col("text"))).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val expect = wf.iterator.flatMap { case (w, f) =>
      (0 until w.length - 1).map(i => w.substring(i, i + 2) -> f)
    }.toSeq.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy { case (p, n) => (-n, p) }.take(BpeTopN)
    assert(got.toSeq == expect, "bpe pair counts diverge from recount")
    // ranking is a total order and invariant under repartitioning
    val again = TextOps.bpePairCounts(docs.repartition(7), BpeTopN)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(again.toSeq == got.toSeq)
  }

  test("bpe training loop: rounds match a driver-side reference trainer") {
    import graft.operators.{TextOps, Dedup}
    val docs = Tables.documents(spark, dir)
    val got = TextOps.bpeTrain(docs, 4).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    // reference implementation: same symbolization, same padded-replace
    // merge, pure Scala over the collected word-frequency table
    var wf = docs.select(explode(Dedup.tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 1 && !col("w").contains("·"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0).toSeq.mkString("·") -> r.getLong(1)).toMap
    val expect = (1 to 4).map { r =>
      val counts = scala.collection.mutable.Map[String, Long]()
      wf.foreach { case (sym, f) =>
        val s = sym.split('·')
        (0 until s.length - 1).foreach { i =>
          val p = s(i) + "·" + s(i + 1)
          counts(p) = counts.getOrElse(p, 0L) + f
        }
      }
      val (pair, n) = counts.toSeq.minBy { case (p, c) => (-c, p) }
      wf = wf.map { case (sym, f) =>
        val rp = ("·" + sym + "·").replace("·" + pair + "·",
          "·" + pair.replace("·", "") + "·")
        rp.substring(1, rp.length - 1) -> f
      }
      (r, pair, n)
    }
    assert(got.toSeq == expect, "bpe rounds diverge from reference trainer")
    // merge counts are non-increasing across rounds on this fixture
    assert(got.map(_._3).toSeq == got.map(_._3).sorted.reverse.toSeq)
    // round 1 is exactly bpePairCounts' top-1 (modulo the · separator
    // the trainer keeps between the two merged symbols)
    val top1 = TextOps.bpePairCounts(docs, 1).collect()(0)
    assert((got(0)._2.replace("·", ""), got(0)._3) ==
      (top1.getString(0), top1.getLong(1)))
  }

  test("bpe encode: trained-tokenizer token counts match a reference encoder") {
    import graft.operators.{TextOps, Dedup}
    val docs = Tables.documents(spark, dir)
    val got = TextOps.bpeEncode(docs, 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // reference: the spec'd pure-Scala trainer re-run to 4 merges, then
    // each word encoded by the same padded-replace chain
    var wf = docs.select(explode(Dedup.tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 1 && !col("w").contains("·"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0).toSeq.mkString("·") -> r.getLong(1)).toMap
    val merges = (1 to 4).map { _ =>
      val counts = scala.collection.mutable.Map[String, Long]()
      wf.foreach { case (sym, f) =>
        val s = sym.split('·')
        (0 until s.length - 1).foreach { i =>
          val p = s(i) + "·" + s(i + 1)
          counts(p) = counts.getOrElse(p, 0L) + f
        }
      }
      val (pair, _) = counts.toSeq.minBy { case (p, c) => (-c, p) }
      wf = wf.map { case (sym, f) =>
        val rp = ("·" + sym + "·").replace("·" + pair + "·",
          "·" + pair.replace("·", "") + "·")
        rp.substring(1, rp.length - 1) -> f
      }
      pair
    }
    def encodeWord(w: String): Int = {
      var sym = w.toSeq.mkString("·")
      merges.foreach { pair =>
        val rp = ("·" + sym + "·").replace("·" + pair + "·",
          "·" + pair.replace("·", "") + "·")
        sym = rp.substring(1, rp.length - 1)
      }
      sym.split('·').length
    }
    val expect = docs.select(col("doc_id"), col("text")).collect().flatMap { r =>
      val ws = r.getString(1).split(' ').filter(w => w.nonEmpty && !w.contains("·"))
      if (ws.isEmpty) None
      else Some(r.getLong(0) -> (ws.length.toLong, ws.map(encodeWord).map(_.toLong).sum))
    }.toMap
    assert(got == expect, "per-doc (n_words, bpe_tokens) diverge from reference")
    // merges only ever shrink token counts: rounds=0 encodes chars 1:1
    val raw = TextOps.bpeEncode(docs, 0).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    got.foreach { case (id, (nw, bt)) =>
      assert(bt >= nw && bt <= raw(id),
        s"doc $id: tokens $bt outside [n_words $nw, char count ${raw(id)}]")
    }
  }

  test("substring dedup: span marking, interval union, partition invariance") {
    import graft.operators.Dedup
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),                   // unique — no dup window
      (2L, "x1 x2 x3 x4 x5 q r s"),              // shares one 5-window with 3
      (3L, "p x1 x2 x3 x4 x5 t"),
      (4L, "y1 y2 y3 y4 y5 y6"),                 // 4 == 5: two OVERLAPPING
      (5L, "y1 y2 y3 y4 y5 y6"),                 //   windows -> union 6, not 10
      (6L, "z1 z2 z3 z4 z5 m z1 z2 z3 z4 z5"),   // WITHIN-doc repeat
      (7L, "u v")                                // shorter than w
    ).toDF("doc_id", "text")
    val got = Dedup.substringDedup(docs, 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(1L) == ((8L, 0L, 0L)))
    assert(got(2L) == ((8L, 1L, 5L)))
    assert(got(3L) == ((7L, 1L, 5L)))
    assert(got(4L) == ((6L, 2L, 6L)), "overlapping windows must merge")
    assert(got(5L) == ((6L, 2L, 6L)))
    assert(got(6L) == ((11L, 2L, 10L)), "within-doc repeats count")
    assert(got(7L) == ((2L, 0L, 0L)), "short docs report zero, not vanish")
    val again = Dedup.substringDedup(docs.repartition(7), 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(again == got, "result must be partitioning-invariant")
    // fixture-level sanity: coverage bounded by doc length and w*starts
    val fx = Dedup.substringDedup(Tables.documents(spark, dir), 5).collect()
    assert(fx.length == Tables.documents(spark, dir).count())
    fx.foreach { r =>
      val (n, s, t) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(t <= n && t <= s * 5 && (s == 0L || t >= 5L),
        s"doc ${r.getLong(0)}: coverage ($s starts, $t toks, $n len) out of bounds")
      assert(math.abs(r.getDouble(4) - t.toDouble / n) == 0.0)
    }
    assert(fx.exists(_.getLong(2) > 0), "fixture corpus must contain dup spans")
  }

  test("stream-maintained substring-dedup state equals the batch operator") {
    import graft.operators.Dedup
    val fxDocs = Tables.documents(spark, dir)
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    val batch = Dedup.substringDedup(fxDocs, 5).collect().map(key).toMap
    val streamed = graft.streaming.StreamOps
      .streamSubstringDedupOnce(spark, dir, 5).collect().map(key).toMap
    assert(streamed == batch,
      "drained stream state diverges from the batch substring dedup")
    // the landing is multi-file, so duplicate spans genuinely merged
    // across microbatches (one file per trigger)
    val landing = new java.io.File(
      graft.streaming.StreamOps.ensureShardedDocsLanding(spark, dir))
    assert(landing.listFiles.count(_.getName.endsWith(".parquet")) >= 2)
  }

  test("stream-maintained substring-clean state equals the batch operator") {
    import graft.operators.Dedup
    val fxDocs = Tables.documents(spark, dir)
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))
    val batch = Dedup.substringClean(fxDocs, 5).collect().map(key).toMap
    val streamed = graft.streaming.StreamOps
      .streamSubstringCleanOnce(spark, dir, 5).collect().map(key).toMap
    assert(streamed == batch,
      "clean off the drained keeper state diverges from the batch clean")
  }

  test("substring clean: keeps the canonical occurrence, removes the rest") {
    import graft.operators.Dedup
    import spark.implicits._
    val docs = Seq(
      (2L, "x1 x2 x3 x4 x5 q r s"),              // keeper (smaller doc_id)
      (3L, "p x1 x2 x3 x4 x5 t"),                // loses the shared span
      (4L, "y1 y2 y3 y4 y5 y6"),                 // keeper of both windows
      (5L, "y1 y2 y3 y4 y5 y6"),                 // fully removed
      (6L, "z1 z2 z3 z4 z5 m z1 z2 z3 z4 z5")    // within-doc: 2nd copy goes
    ).toDF("doc_id", "text")
    val got = Dedup.substringClean(docs, 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(got(2L) == ((0L, "x1 x2 x3 x4 x5 q r s")))
    assert(got(3L) == ((5L, "p t")))
    assert(got(4L) == ((0L, "y1 y2 y3 y4 y5 y6")))
    assert(got(5L) == ((6L, "")), "non-canonical exact dup must empty out")
    assert(got(6L) == ((5L, "z1 z2 z3 z4 z5 m")), "within-doc 2nd copy removed")
    // the keep-one-copy guarantee on the fixture corpus: total removed ==
    // sum over docs, and every doc's removal is within its dup coverage
    val fxDocs = Tables.documents(spark, dir)
    val stats = Dedup.substringDedup(fxDocs, 5).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val cleaned = Dedup.substringClean(fxDocs, 5).collect()
    assert(cleaned.length == stats.size)
    cleaned.foreach { r =>
      val (id, n, rem) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(rem <= stats(id),
        s"doc $id removes $rem > its dup coverage ${stats(id)}")
      assert(r.getString(3).split(' ').count(_.nonEmpty) == n - rem)
    }
    // some doc keeps a span another doc loses (the canonical rule bites)
    assert(cleaned.exists(r => r.getLong(2) > 0 && r.getLong(2) < stats(r.getLong(0)))
      || cleaned.exists(r => r.getLong(2) == 0 && stats(r.getLong(0)) > 0),
      "no keeper observed on the fixture")
  }

  test("temperature sampling: exact per-lang budgets, flattens the lang skew") {
    import graft.operators.TextOps
    import SparkEntry.TempTotal
    val docs = Tables.documents(spark, dir)
    val langN = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tot = langN.keys.toSeq.sorted.map(l => math.sqrt(langN(l).toDouble))
      .reduceLeft(_ + _)
    val got = TextOps.temperatureSample(docs, TempTotal).collect()
    val byLang = got.groupBy(_.getString(1)).view.mapValues(_.length.toLong)
    // every language hits exactly its floor'd √-weighted budget (capped
    // by its population)
    langN.foreach { case (l, n) =>
      val take = math.floor(TempTotal * math.sqrt(n.toDouble) / tot).toLong
      assert(byLang.getOrElse(l, 0L) == math.min(take, n),
        s"lang $l budget mismatch")
    }
    // α = 0.5 flattening: the dominant language's sample share is
    // strictly below its corpus share (that is the point of the α)
    val top = langN.maxBy(_._2)._1
    val corpusShare = langN(top).toDouble / langN.values.sum
    val sampleShare = byLang(top).toDouble / got.length
    assert(sampleShare < corpusShare,
      "temperature sampling failed to flatten the dominant language")
    // deterministic under repartitioning
    val again = TextOps.temperatureSample(docs.repartition(7), TempTotal)
      .collect().map(_.toSeq).toSet
    assert(again == got.map(_.toSeq).toSet)
  }

  test("semDedup keeps the lowest-centroid-cosine member per cluster") {
    import graft.operators.{Dedup, Ann}
    val emb = Tables.embeddings(spark, dir)
    // clusters from the banded near-dup pairs (tau low enough that the
    // sf0.001 fixture yields multi-member groups)
    val pairs = Ann.nearDupPairs(emb, 0.2)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val clusters = Dedup.connectedComponents(pairs)
    val kept = Dedup.semDedup(emb, clusters).collect()
    assert(kept.nonEmpty, "fixture must yield at least one cluster")
    // driver-side recompute of the SemDeDup rule with the identical
    // fold orders: id-ordered mean, position-ordered dot, argmin by
    // (score asc, id asc)
    val mem = clusters.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("comp"))
    val byComp = mem.groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    val vecs = emb.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    val d = vecs.head._2.length
    def fnorm(x: Double) = math.max(math.sqrt(x), 1e-12)
    val expect = byComp.map { case (comp, ids) =>
      val mean = Array.tabulate(d) { j =>
        var s = 0.0
        ids.foreach(id => s += vecs(id)(j).toDouble) // id order
        s / ids.length
      }
      val scoredMem = ids.map { id =>
        val v = vecs(id)
        var dp = 0.0; var n2 = 0.0; var m2 = 0.0
        (0 until d).foreach { j =>
          dp += v(j).toDouble * mean(j)
          n2 += v(j).toDouble * v(j).toDouble
          m2 += mean(j) * mean(j)
        }
        id -> dp / (fnorm(n2) * fnorm(m2))
      }
      val (kid, ks) = scoredMem.minBy { case (id, s) => (s, id) }
      comp -> ((kid, ids.length.toLong, ks))
    }
    assert(kept.length == expect.size, "one keeper per cluster")
    kept.foreach { r =>
      val (kid, n, ks) = expect(r.getAs[Long]("comp"))
      assert(r.getAs[Long]("kept_id") == kid, s"wrong keeper in ${r}")
      assert(r.getAs[Long]("n_members") == n)
      assert(r.getAs[Double]("kept_score") == ks,
        "score must be the bit-exact ordered fold")
      assert(n >= 2, "clusters have at least two members by construction")
    }
    // partitioning-invariant
    val again = Dedup.semDedup(emb.repartition(7), clusters)
      .collect().map(_.toSeq).toSet
    assert(again == kept.map(_.toSeq).toSet)
    // the cleaned corpus: survivors = corpus − (clustered − keepers),
    // and the clustered flag marks exactly the surviving keepers
    val clean = Dedup.semDedupClean(emb, clusters).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("clustered")).toMap
    val memberIds = mem.map(_._1).toSet
    val keeperIds = kept.map(_.getAs[Long]("kept_id")).toSet
    val all = vecs.keySet
    assert(clean.keySet == (all -- memberIds) ++ keeperIds)
    assert(clean.filter(_._2 == 1).keySet == keeperIds)
  }

  test("rangeTauPick: cumulative consistent, chosen is the widest in-budget radius") {
    import graft.operators.Ann
    import SparkEntry.{NQ, HistBinScale, RangeBudget}
    val emb = Tables.embeddings(spark, dir)
    val rows = Ann.rangeTauPick(emb, NQ, HistBinScale, RangeBudget)
      .collect().sortBy(-_.getAs[Int]("bucket"))
    // cum is the exact running sum from the top bucket down
    var c = 0L
    rows.foreach { r =>
      c += r.getAs[Long]("n")
      assert(r.getAs[Long]("cum") == c, s"cum mismatch at $r")
    }
    val chosen = rows.filter(_.getAs[Boolean]("chosen"))
    assert(chosen.length == 1)
    val ch = chosen.head
    if (ch.getAs[Long]("cum") <= RangeBudget) {
      // every lower bucket (wider radius) would blow the budget
      rows.filter(_.getAs[Int]("bucket") < ch.getAs[Int]("bucket"))
        .foreach(r => assert(r.getAs[Long]("cum") > RangeBudget))
    } else assert(ch.getAs[Int]("bucket") ==
      rows.map(_.getAs[Int]("bucket")).max, "fallback must be the top bucket")
  }

  test("normOutliers flags exactly the >zTau-sd norms, bit-exact stats") {
    import graft.operators.Ann
    import SparkEntry.EmbZTau
    val emb = Tables.embeddings(spark, dir)
    // the QA semantics on genuinely broken rows: a zero vector (failed
    // forward pass) and a 3x-magnitude blow-up injected into the corpus
    val d = emb.select(size(col("embedding"))).first().getInt(0)
    import spark.implicits._
    val broken = Seq(
      (900001L, Seq.fill(d)(0.0f), 0),
      (900002L, emb.orderBy("vec_id").first()
        .getAs[scala.collection.Seq[Float]]("embedding")
        .map(x => x * 3.0f).toSeq, 0))
      .toDF("vec_id", "embedding", "label")
    val withBroken = emb.union(broken)
    val flagged = Ann.normOutliers(withBroken, EmbZTau).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("z")).toMap
    assert(flagged.contains(900001L) && flagged(900001L) < 0,
      "the zero vector must flag with a negative z")
    assert(flagged.contains(900002L) && flagged(900002L) > 0,
      "the magnitude blow-up must flag with a positive z")
    // driver-side recomputation with the identical fold order
    val got = Ann.normOutliers(emb, EmbZTau).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("norm"), r.getAs[Double]("z"))).toMap
    val norms = emb.select(col("vec_id"),
      graft.functions.VectorOps.fnorm(
        graft.functions.VectorOps.norm2Sq(col("embedding"))).as("norm"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1)
    var s = 0.0
    norms.foreach { case (_, x) => s += x } // id order
    val n = norms.length
    val mean = s / n.toDouble
    var ssd = 0.0
    norms.foreach { case (_, x) => ssd += (x - mean) * (x - mean) }
    val sd = math.max(math.sqrt(math.max(ssd / n.toDouble, 0.0)), 1e-12)
    val expect = norms.filter { case (_, x) =>
      math.abs(x - mean) > EmbZTau * sd }.toMap
    assert(got.keySet == expect.keySet, "flag set mismatch")
    got.foreach { case (id, (norm, z)) =>
      assert(norm == expect(id), s"norm mismatch for $id")
      assert(z == (norm - mean) / sd, s"z mismatch for $id")
    }
    // partitioning-invariant (the global fold pins its order)
    val again = Ann.normOutliers(emb.repartition(7), EmbZTau)
      .collect().map(_.toSeq).toSet
    assert(again == got.map { case (id, (nm, z)) =>
      Seq[Any](id, nm, z) }.toSet)
  }

  test("heavy hitters: CMS propose/exact verify equals the exact relation and prunes") {
    import SparkEntry.{HhN, HhRelDiv}
    import graft.operators.TextOps
    val docs = Tables.documents(spark, dir)
    val got = TextOps.heavyHitters(docs, HhN, HhRelDiv)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // ground truth: the plain exact GROUP BY/HAVING relation
    val tk = col("__toks")
    val gramsCol = transform(
      sequence(lit(0), size(tk) - HhN),
      i => concat_ws(" ", (0 until HhN).map(o =>
        element_at(tk, i + o + 1)): _*))
    val grams = docs.withColumn("__toks", split(col("text"), " "))
      .filter(size(tk) >= HhN).select(explode(gramsCol).as("gram"))
    val total = grams.count()
    val threshold = (total + HhRelDiv - 1) / HhRelDiv
    val exact = grams.groupBy("gram").count()
      .filter(col("count") >= threshold)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exact, "CMS-verified output must equal the exact relation")
    assert(got.nonEmpty, "fixture must produce heavy hitters")
    // the sketch actually PRUNES: the candidate superset the estimate
    // pass hands to the exact phase is a sliver of the gram universe
    val candDf = TextOps.hhCandidates(grams,
      TextOps.collectGrid(TextOps.hhGrid(grams, rows = 4, width = 32768),
        rows = 4, width = 32768), threshold, rows = 4, width = 32768)
    val cands = candDf.collect().map(_.getString(0)).toSet
    val vocab = grams.distinct().count()
    assert(exact.keySet.subsetOf(cands),
      "overestimate-only: no true heavy hitter may be pruned")
    assert(cands.size < vocab / 10,
      s"candidates ${cands.size} should be a sliver of vocab $vocab")
    // the honest-scale contract: the probe pass never shuffles the full
    // vocabulary — the ONLY exchange in the candidate plan is the
    // closing distinct over the survivors, which sits ABOVE the
    // partition-local MapPartitions probe in the physical plan
    // AQE's toString prints the plan twice (Final + Initial) — keep the
    // final section only
    val full = candDf.queryExecution.executedPlan.toString
    val plan = full.split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"probe plan must shuffle only the candidate sliver (1 exchange), got $exchanges:\n$plan")
    assert(plan.indexOf("Exchange") < plan.indexOf("MapPartitions"),
      "the one exchange must sit above the partition-local probe:\n" + plan)
  }
}
