package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/**
 * Disaggregated vector storage (paper §3.3, SURVEY §7 step 7): the
 * full-precision vector, its truncated-precision copy, the raw fp16
 * words, and the Delta sidecar live as SEPARATE Parquet columns of one
 * table. Parquet is columnar, so a reduced-pass scan that selects only
 * (id, rvec, delta) physically reads only those column chunks — the
 * paper's "fetch only the kept bit-planes" becomes ordinary column
 * pruning, and ZSTD page compression plays the role of its §4.3
 * compression stage. [[assertPruned]] verifies the pruning holds in the
 * optimized plan (cheap insurance against accidental SELECT *).
 */
object Disaggregated {

  /** Materialize (id, vec, rvec, delta, bb) as one Parquet table,
    * sorted by id within files so id-equi-joins benefit from row-group
    * min/max skipping on the rescore fetch. The reduction keeps the full
    * exponent (reference refinement semantics: keep_e is an accounting
    * parameter, not a data transform — see Fp16.deltaFromExp). `bb` is
    * the cos_l2 per-vector stat (query-free, so it belongs at rest —
    * without it the cos_l2 cheap pass would have to fetch `vec`). */
  def write(vectors: DataFrame, path: String, keepM: Int): Unit =
    vectors.select(
        col("id"),
        col("vec"),
        VectorOps.reduceVec(col("vec"), 5, keepM).as("rvec"),
        VectorOps.deltaVec(col("vec"), keepM).as("delta"))
      .withColumn("bb",
        graft.operators.Refine.cosL2Stat(col("vec"), col("rvec")))
      .sortWithinPartitions(col("id"))
      .write.mode("overwrite")
      .option("compression", "zstd")
      .parquet(path)

  /** Reduced-pass scan: only the cheap columns. */
  def readReduced(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("id"), col("rvec"), col("delta"))

  /** Full-precision fetch side for survivor rescoring. */
  def readFull(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("id"), col("vec"))

  /**
   * Materialize the fp16 fixture for `sfDir` once per JVM-visible tmpdir
   * (keyed by sf-dir/dims/keepM; `_SUCCESS` is the done marker) and
   * return the table path. This is what puts the paper's §3.3 layout on
   * the query surface: downstream refine reads are real parquet scans
   * whose cheap pass fetches only the reduced column chunks.
   */
  /** Bump when [[write]]'s layout or the fixture synthesis changes: the
    * version is part of the cache path, so stale tables from an older
    * code revision can never be silently reused. */
  private val LayoutVersion = 3

  def ensureFixture(spark: SparkSession, sfDir: String, d: Int,
                    keepM: Int): String = {
    import java.nio.file.{Files, Paths}
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    // source version in the dir NAME (immutable published layouts, atomic
    // scratch-dir publish — same discipline as Fixture.parquetBacked):
    // fresh == exists, racing processes discard byte-identical work
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_disagg_v${LayoutVersion}_${safe}_d${d}_m${keepM}" +
        s"_v${graft.Fixture.srcVersion(sfDir)}")
    // derive from the CACHED fixture: composing reduceVec/cosL2Stat over
    // the raw synthesis CASE-WHEN trees would fuse them into one hashAgg
    // codegen method beyond Janino's 64KB limit (interpreted fallback);
    // over the cache boundary `vec` is a plain attribute and every
    // derivation stage stays whole-stage-compiled
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "disagg-")
      write(graft.Fixture.fp16VectorsCached(spark, sfDir, d, keepM)
        .select(col("id"), col("vec")), tmp.toString, keepM)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"disagg fixture publish failed: $path")
    }
    path.toString
  }

  /**
   * Refined top-K straight off the disaggregated table: the cheap pass
   * scans only (id, rvec, delta[, bb]); the rescore fetch scans only
   * (id, vec). Hash-equal to the in-memory twin (same expression trees
   * over bit-identical stored values).
   */
  def refineTopK(spark: SparkSession, path: String, queries: DataFrame,
                 p: graft.operators.Refine.Params): DataFrame = {
    val stored = spark.read.parquet(path)
    // The pruned cheap tier (id, rvec, delta[, bb] — the reduced column
    // chunks only) feeds the two block passes of Refine.fetchedSplit: the
    // seed pass reads (id, rvec) and the survivor pass (id, rvec, delta)
    // — or (id, rvec, bb) for cos_l2. Each is one streaming scan; the
    // tier is not pinned, because the two scans measured no slower per
    // call than building a cached copy of the tier on every call.
    graft.operators.Refine.topkSplit(
      graft.operators.Refine.cheapSideStored(stored, p),
      stored.select(col("id"), col("vec")),
      queries, p)
  }

  // --- multi-tier (per-request m_keep) at-rest layout -------------------

  /** Bump when [[writeTiers]]'s layout changes. */
  private val TiersLayoutVersion = 1

  /** PRECISION TIERS AT REST: one reduced copy + Delta sidecar PER
    * MANTISSA BUDGET as separate Parquet columns
    * (id, vec, rvec_m, delta_m for each m in `tiers`) — the §3.3
    * disaggregated layout completed for precision-on-demand: a
    * per-request tier choice becomes ordinary column pruning (a query
    * batch using tiers {4, 8} physically reads neither `vec` nor the
    * 6-bit tier's chunks). Sorted by id within files like [[write]]. */
  def writeTiers(vectors: DataFrame, path: String,
                 tiers: Seq[Int]): Unit =
    vectors.select(
        Seq(col("id"), col("vec")) ++ tiers.sorted.flatMap(m => Seq(
          graft.functions.VectorOps.reduceVec(col("vec"), 5, m)
            .as(s"rvec_$m"),
          graft.functions.VectorOps.deltaVec(col("vec"), m)
            .as(s"delta_$m"))): _*)
      .sortWithinPartitions(col("id"))
      .write.mode("overwrite")
      .option("compression", "zstd")
      .parquet(path)

  /** Materialize the tiered fixture once per machine (immutable
    * version-named dir, atomic scratch publish — the [[ensureFixture]]
    * discipline). */
  def ensureTieredFixture(spark: SparkSession, sfDir: String, d: Int,
                          tiers: Seq[Int], srcKeepM: Int): String = {
    import java.nio.file.{Files, Paths}
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val tierKey = tiers.sorted.mkString("-")
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_disaggtiers_v${TiersLayoutVersion}_${safe}_d${d}" +
        s"_m${tierKey}_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "disaggt-")
      // derive from the standard cached fixture (srcKeepM is its cache
      // key only — we read just `vec`; the tier columns are derived
      // fresh per tier by writeTiers)
      writeTiers(graft.Fixture.fp16VectorsCached(spark, sfDir, d,
          srcKeepM).select(col("id"), col("vec")),
        tmp.toString, tiers)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"tiered fixture publish failed: $path")
    }
    path.toString
  }

  // --- tiered SERVE layout (per-request precision on the doc corpus) ---

  /** Bump when [[writeServeTiers]]'s layout changes. */
  private val ServeTiersLayoutVersion = 1

  /** Smallest honest storage width for a quantization tier: codes are
    * |k| <= max|v|·2^s + 0.5, so tiers up to 2^6 fit TINYINT on the
    * embedding fixture (|v| < 1) and wider tiers take SMALLINT — the
    * per-tier byte cost the serve ledger reports is the PHYSICAL column
    * width, not a model. */
  def serveTierCodeBytes(scaleLog2: Int): Int = if (scaleLog2 <= 6) 1 else 2

  /**
   * PRECISION TIERS AT REST ON THE SERVING CORPUS: one
   * scalar-quantization code column PER TIER (`code_s` =
   * round(v·2^s)/2^-s codes at physical width
   * [[serveTierCodeBytes]]) beside the full-precision vector AND the
   * request pre-filter metadata (`lang`, denormalized at build time so
   * the serve's cheap pass needs no metadata join) — the
   * [[writeTiers]] story carried onto the document corpus, where the
   * per-request knob must be recomputable by the DuckDB oracle from
   * the raw floats (mantissa truncation is a bit-level op SQL cannot
   * mirror; round-to-nearest dyadic quantization is exact on both
   * engines — the [[graft.oracle.RefineOracle.quantRvDv]] discipline).
   * A request batch using tiers {4, 11} physically reads neither `vec`
   * nor the stored 8-bit tier's chunks (PlanSpec asserts). Sorted by
   * id within files for row-group skipping on the rescore fetch.
   */
  def writeServeTiers(vectors: DataFrame, path: String,
                      scales: Seq[Int]): Unit = {
    val cols = Seq(col("id"), col("lang"), col("vec")) ++
      scales.sorted.map { s =>
        val mul = math.pow(2.0, s)
        val t = if (serveTierCodeBytes(s) == 1) "byte" else "short"
        transform(col("vec"),
          x => floor(x * mul + lit(0.5)).cast(t)).as(s"code_$s")
      }
    vectors.select(cols: _*)
      .sortWithinPartitions(col("id"))
      .write.mode("overwrite")
      .option("compression", "zstd")
      .parquet(path)
  }

  /** Materialize the tiered SERVE fixture once per machine over the
    * embeddings corpus + document langs (immutable version-named dir,
    * atomic scratch publish — the [[ensureFixture]] discipline). Codes
    * must fit their declared width (publish-time guard, not a silent
    * wrap). */
  def ensureTieredServeFixture(spark: SparkSession, sfDir: String,
                               scales: Seq[Int]): String = {
    import java.nio.file.{Files, Paths}
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val key = scales.sorted.mkString("-")
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_servetiers_v${ServeTiersLayoutVersion}_${safe}_s${key}" +
        s"_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "servet-")
      val emb = graft.Tables.embeddings(spark, sfDir)
      val docs = graft.Tables.documents(spark, sfDir)
      val maxAbs = emb
        .select(org.apache.spark.sql.functions.max(org.apache.spark.sql
          .functions.aggregate(col("embedding"), lit(0.0d),
            (a, x) => org.apache.spark.sql.functions.greatest(a,
              org.apache.spark.sql.functions.abs(x.cast("double"))))))
        .collect()(0).getDouble(0)
      scales.foreach { s =>
        val lim = if (serveTierCodeBytes(s) == 1) 127.0 else 32767.0
        require(maxAbs * math.pow(2.0, s) + 0.5 < lim,
          s"tier 2^$s codes overflow their ${serveTierCodeBytes(s)}-byte " +
            s"width at max|v| = $maxAbs")
      }
      writeServeTiers(
        emb.join(docs.select(col("doc_id").as("vec_id"), col("lang")),
            Seq("vec_id"))
          .select(col("vec_id").as("id"), col("lang"),
            col("embedding").as("vec")),
        tmp.toString, scales)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"tiered serve fixture publish failed: $path")
    }
    path.toString
  }

  /** Bump when the upsertable tiered layout shape changes. */
  private val ServeTiersUpsertLayoutVersion = 1

  /** id-bucket partition count of the UPSERTABLE tiered layout: rows
    * land in `pb = pmod(id, ServeTiersUpsertBuckets)`, so an update
    * commit rewrites only its ids' buckets (dynamic partition
    * overwrite) — a layout constant, not a corpus function. */
  val ServeTiersUpsertBuckets = 16

  /** The tiered serve rows written PARTITIONED by the id bucket —
    * [[writeServeTiers]]' columns plus `pb`, id-sorted within buckets.
    * The partitioning exists for MAINTENANCE, not queries: the serve
    * reads every bucket (no partition predicate), but an update commit
    * overwrites only the touched buckets' files. */
  def writeServeTiersPartitioned(vectors: DataFrame, path: String,
                                 scales: Seq[Int]): Unit = {
    val cols = Seq(col("id"), col("lang"), col("vec")) ++
      scales.sorted.map { s =>
        val mul = math.pow(2.0, s)
        val t = if (serveTierCodeBytes(s) == 1) "byte" else "short"
        transform(col("vec"),
          x => floor(x * mul + lit(0.5)).cast(t)).as(s"code_$s")
      } :+ pmod(col("id"), lit(ServeTiersUpsertBuckets.toLong))
        .cast("int").as("pb")
    vectors.select(cols: _*)
      .repartition(col("pb"))
      .sortWithinPartitions(col("id"))
      .write.mode("overwrite")
      .option("compression", "zstd")
      .partitionBy("pb")
      .parquet(path)
  }

  /**
   * An UPDATE COMMIT on the tiered serve layout — the verb that makes
   * the at-rest precision tiers a maintained index rather than a
   * build-once artifact: the updated ids' rows get their new vector
   * and ALL tier code columns recomputed from it (v' = −v, the
   * fixture's float-exact transform), and ONLY the touched id buckets
   * are rewritten via dynamic partition overwrite (the
   * [[graft.operators.Ivf.commitProberUpdates]] discipline) — every
   * untouched bucket's files are byte-immutable (spec-asserted by
   * mtimes). Within a touched bucket, non-updated rows keep their
   * STORED codes verbatim (no recompute — the rewrite is a row copy
   * for them). Unlike the prober sidecar, a row's bucket never moves
   * (pb is a pure function of the immutable id), so a touched bucket
   * always receives back exactly its row count — no empty-partition
   * sweep needed. Commit I/O ∝ touched-bucket occupancy, never the
   * corpus.
   */
  def commitServeTierUpserts(spark: SparkSession, layoutDir: String,
                             updIds: DataFrame,
                             scales: Seq[Int]): Unit = {
    val nB = ServeTiersUpsertBuckets
    // the touched buckets — a bounded model (≤ nB ints), literalized so
    // both the read and the overwrite prune at planning time
    val touched = updIds
      .select(pmod(col("id"), lit(nB.toLong)).cast("int").as("pb"))
      .distinct().collect().map(_.getInt(0)).sorted
    val base = spark.read.parquet(layoutDir)
      .filter(col("pb").isin(touched.map(Int.box): _*))
    val flagged = base
      .join(updIds.select(col("id")).withColumn("u", lit(1)),
        Seq("id"), "left")
    val newVec = when(col("u") === 1,
      transform(col("vec"), x => -x)).otherwise(col("vec"))
    val cols = Seq(col("id"), col("lang"), newVec.as("vec")) ++
      scales.sorted.map { s =>
        val mul = math.pow(2.0, s)
        val t = if (serveTierCodeBytes(s) == 1) "byte" else "short"
        when(col("u") === 1,
          transform(newVec, x => floor(x * mul + lit(0.5)).cast(t)))
          .otherwise(col(s"code_$s")).as(s"code_$s")
      } :+ col("pb")
    val rewritten = flagged.select(cols: _*)
    // stage first: Spark (rightly) refuses to overwrite a path that is
    // also a read source of the same plan
    val staging = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(layoutDir).getParent, "servet-commit-")
    try {
      rewritten.write.mode("overwrite").parquet(staging.toString)
      spark.read.parquet(staging.toString)
        .repartition(col("pb"))
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").option("compression", "zstd")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("pb")
        .parquet(layoutDir)
    } finally VecFiles.deleteRecursively(staging)
  }

  /** The tiered serve layout AFTER an upsert commit (ids ≡ 0 mod
    * `mod`, v' = −v), built once per (sf, scales, mod): seed the
    * id-bucketed layout from the pristine corpus, then apply the
    * commit — [[commitServeTierUpserts]] rewrites only the touched
    * buckets. Published atomically as its own version-keyed dir; the
    * shared [[ensureTieredServeFixture]] layout is never mutated. */
  def ensureTieredServeUpserted(spark: SparkSession, sfDir: String,
                                scales: Seq[Int], mod: Int): String = {
    import java.nio.file.{Files, Paths}
    require(mod >= 2, s"mod=$mod")
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val key = scales.sorted.mkString("-")
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_servetiers_ups_v${ServeTiersUpsertLayoutVersion}_${safe}" +
        s"_s${key}_m${mod}_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(path.resolve("_DONE"))) {
      val tmp = Files.createTempDirectory(path.getParent, "servetups-")
      val emb = graft.Tables.embeddings(spark, sfDir)
      val docs = graft.Tables.documents(spark, sfDir)
      writeServeTiersPartitioned(
        emb.join(docs.select(col("doc_id").as("vec_id"), col("lang")),
            Seq("vec_id"))
          .select(col("vec_id").as("id"), col("lang"),
            col("embedding").as("vec")),
        tmp.toString, scales)
      commitServeTierUpserts(spark, tmp.toString,
        emb.select(col("vec_id").as("id"))
          .filter(col("id") % mod === 0), scales)
      Files.createFile(tmp.resolve("_DONE"))
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_DONE")),
        s"upserted tiered layout publish failed: $path")
    }
    path.toString
  }

  /**
   * An UPDATE COMMIT on the cell-partitioned INDEXED tiered layout —
   * the hard maintenance case [[commitServeTierUpserts]] does not
   * face: an updated vector's coarse-quantizer CELL MOVES with it
   * (assignment of −v is not assignment of v), so a row changes
   * partition. Touched partitions = the updated ids' OLD cells (their
   * stale rows drop) ∪ NEW cells (their recomputed rows land) — both
   * bounded models (≤ nCells ints) literalized so read and overwrite
   * prune at planning time. Updated rows get the new vector, the new
   * cell, and every tier's codes recomputed; non-updated rows in a
   * touched cell are copied verbatim. Because rows MOVE, a touched old
   * cell can be left empty — dynamic overwrite only replaces
   * partitions that receive rows, so emptied cells are swept
   * explicitly (the [[graft.operators.Ivf.commitProberUpdates]]
   * discipline). Commit I/O ∝ touched-cell occupancy, never the
   * corpus.
   */
  def commitServeTierIndexedUpserts(spark: SparkSession,
                                    layoutDir: String,
                                    updIds: DataFrame, scales: Seq[Int],
                                    nCells: Int, d: Int): Unit = {
    val emb = spark.read.parquet(layoutDir)
    // old cells from the LAYOUT's own stored assignment of the updated
    // ids (never a corpus re-assign); new cells from assigning the
    // updated vectors' new values — both bounded collects
    val updRows = emb.join(updIds.select(col("id")), Seq("id"),
      "left_semi")
    val oldCells = updRows.select(col("cell")).distinct()
      .collect().map(_.getInt(0))
    val updNew = updRows.select(col("id"), col("lang"),
      transform(col("vec"), x => -x).as("vec"))
    val newAsg = graft.operators.Ivf.assign(
        updNew.select(col("id").as("vec_id"),
          col("vec").as("embedding")), nCells, d)
      .select(col("id"), col("cell"))
    val newCells = newAsg.select(col("cell")).distinct()
      .collect().map(_.getInt(0))
    val touched = (oldCells ++ newCells).distinct.sorted
    val keep = spark.read.parquet(layoutDir)
      .filter(col("cell").isin(touched.map(Int.box): _*))
      .join(updIds.select(col("id")), Seq("id"), "left_anti")
    val recomputed = updNew.join(newAsg, Seq("id"))
      .select(Seq(col("id"), col("lang"), col("vec"), col("cell")) ++
        scales.sorted.map { s =>
          val mul = math.pow(2.0, s)
          val t = if (serveTierCodeBytes(s) == 1) "byte" else "short"
          transform(col("vec"),
            x => floor(x * mul + lit(0.5)).cast(t)).as(s"code_$s")
        }: _*)
    val rewritten = keep.select(recomputed.columns.map(col): _*)
      .unionByName(recomputed)
    // CRASH DISCIPLINE: the dynamic overwrite and the emptied-cell sweep
    // are two filesystem steps, and a crash between them would leave the
    // moved ids' stale rows in their old cells with nothing flagging the
    // half-applied state. The commit is therefore bracketed by a PENDING
    // marker inside the layout: a marker found at entry means a prior
    // commit died mid-flight and the layout must be rebuilt from its
    // seed (every mutable copy in-tree lives in a scratch dir that is
    // discarded wholesale when its publish marker is absent — this
    // require turns that convention into a loud contract).
    val pending = java.nio.file.Paths.get(layoutDir, "_COMMIT_PENDING")
    require(!java.nio.file.Files.exists(pending),
      s"indexed tiered layout $layoutDir has a half-applied commit " +
        "(_COMMIT_PENDING present) — discard and rebuild from the seed")
    val staging = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(layoutDir).getParent, "servetidx-commit-")
    try {
      rewritten.write.mode("overwrite").parquet(staging.toString)
      val staged = spark.read.parquet(staging.toString)
      java.nio.file.Files.createFile(pending)
      staged
        .repartition(col("cell"))
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").option("compression", "zstd")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(layoutDir)
      // dynamic overwrite only replaces partitions that RECEIVE rows:
      // a touched cell emptied by the move must be swept or its stale
      // rows would survive — the sweep runs BEFORE the commit is
      // declared complete (the pending marker comes off last)
      val nonEmpty = staged.select(col("cell")).distinct()
        .collect().map(_.getInt(0)).toSet
      touched.filterNot(nonEmpty).foreach { c =>
        val p = java.nio.file.Paths.get(layoutDir, s"cell=$c")
        if (java.nio.file.Files.exists(p))
          VecFiles.deleteRecursively(p)
      }
      java.nio.file.Files.delete(pending)
    } finally VecFiles.deleteRecursively(staging)
  }

  /** The cell-partitioned indexed tiered rows over the corpus VIEW
    * (negMod > 0 = the commit view: the prefix's vectors flipped
    * BEFORE assignment, so cells move with the update) written into
    * `path` — shared by the upserted ensure's seed and the spec's
    * fresh-build comparator, so "commit ≡ rebuild over the view" is
    * checked against the same builder. */
  def writeServeTiersIndexed(spark: SparkSession, sfDir: String,
                             path: String, scales: Seq[Int],
                             nCells: Int, d: Int,
                             negMod: Int = 0): Unit = {
    val emb0 = graft.Tables.embeddings(spark, sfDir)
    val emb =
      if (negMod <= 0) emb0
      else emb0.select(col("vec_id"),
        when(col("vec_id") % negMod === 0,
          transform(col("embedding"), x => -x))
          .otherwise(col("embedding")).as("embedding"),
        col("label"))
    val docs = graft.Tables.documents(spark, sfDir)
    val src = graft.operators.Ivf.assign(emb, nCells, d)
      .select(col("id").as("vec_id"), col("cell"))
      .join(emb, Seq("vec_id"))
      .join(docs.select(col("doc_id").as("vec_id"), col("lang")),
        Seq("vec_id"))
      .select(col("vec_id").as("id"), col("cell"), col("lang"),
        col("embedding").as("vec"))
    val cols = Seq(col("id"), col("lang"), col("vec"), col("cell")) ++
      scales.sorted.map { s =>
        val mul = math.pow(2.0, s)
        val t = if (serveTierCodeBytes(s) == 1) "byte" else "short"
        transform(col("vec"),
          x => floor(x * mul + lit(0.5)).cast(t)).as(s"code_$s")
      }
    src.select(cols: _*)
      .repartition(col("cell"))
      .sortWithinPartitions(col("id"))
      .write.mode("overwrite").option("compression", "zstd")
      .partitionBy("cell")
      .parquet(path)
  }

  /** The INDEXED tiered layout AFTER an upsert commit (ids ≡ 0 mod
    * `mod`, v' = −v): seed the cell-partitioned layout from the
    * pristine corpus, then apply the commit —
    * [[commitServeTierIndexedUpserts]] rewrites only the old ∪ new
    * cells. Own version-keyed dir; the shared
    * [[ensureTieredServeIndexedFixture]] is never mutated. */
  def ensureTieredServeIndexedUpserted(spark: SparkSession,
                                       sfDir: String, scales: Seq[Int],
                                       nCells: Int, d: Int,
                                       mod: Int): String = {
    import java.nio.file.{Files, Paths}
    require(mod >= 2, s"mod=$mod")
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val key = scales.sorted.mkString("-")
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_servetiersidx_ups_v${ServeTiersUpsertLayoutVersion}" +
        s"_${safe}_s${key}_c${nCells}_d${d}_m${mod}" +
        s"_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(path.resolve("_DONE"))) {
      val tmp = Files.createTempDirectory(path.getParent, "servetiups-")
      writeServeTiersIndexed(spark, sfDir, tmp.toString, scales,
        nCells, d)
      commitServeTierIndexedUpserts(spark, tmp.toString,
        graft.Tables.embeddings(spark, sfDir)
          .select(col("vec_id").as("id"))
          .filter(col("id") % mod === 0), scales, nCells, d)
      Files.createFile(tmp.resolve("_DONE"))
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_DONE")),
        s"upserted indexed tiered layout publish failed: $path")
    }
    path.toString
  }

  // --- tiered layout DELETEs --------------------------------------------

  /** Bump when the deleted tiered layout shape changes. */
  private val ServeTiersDeleteLayoutVersion = 1

  /**
   * A DELETE COMMIT on the id-bucketed tiered serve layout — the missing
   * lifecycle verb: tombstoned ids DROP from every tier's cheap pass and
   * the full-precision rescore by physically leaving the layout, and
   * ONLY the deleted ids' buckets are rewritten (dynamic partition
   * overwrite; untouched buckets byte-immutable, spec-asserted by
   * mtimes). Rows never move buckets, but a delete can EMPTY one —
   * dynamic overwrite only replaces partitions that receive rows, so
   * emptied buckets are swept explicitly under the same _COMMIT_PENDING
   * crash bracket as the indexed commits. Commit I/O ∝ touched-bucket
   * occupancy, never the corpus.
   */
  def commitServeTierDeletes(spark: SparkSession, layoutDir: String,
                             delIds: DataFrame): Unit = {
    val nB = ServeTiersUpsertBuckets
    val touched = delIds
      .select(pmod(col("id"), lit(nB.toLong)).cast("int").as("pb"))
      .distinct().collect().map(_.getInt(0)).sorted
    // the deleted ids are corpus-fraction-sized: no broadcast hint on
    // the anti-join, AQE sizes it
    val kept = spark.read.parquet(layoutDir)
      .filter(col("pb").isin(touched.map(Int.box): _*))
      .join(delIds.select(col("id")), Seq("id"), "left_anti")
    val pending = java.nio.file.Paths.get(layoutDir, "_COMMIT_PENDING")
    require(!java.nio.file.Files.exists(pending),
      s"tiered layout $layoutDir has a half-applied commit " +
        "(_COMMIT_PENDING present) — discard and rebuild from the seed")
    val staging = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(layoutDir).getParent, "servet-del-")
    try {
      kept.write.mode("overwrite").parquet(staging.toString)
      val staged = spark.read.parquet(staging.toString)
      java.nio.file.Files.createFile(pending)
      staged
        .repartition(col("pb"))
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").option("compression", "zstd")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("pb")
        .parquet(layoutDir)
      val nonEmpty = staged.select(col("pb")).distinct()
        .collect().map(_.getInt(0)).toSet
      touched.filterNot(nonEmpty).foreach { b =>
        val p = java.nio.file.Paths.get(layoutDir, s"pb=$b")
        if (java.nio.file.Files.exists(p))
          VecFiles.deleteRecursively(p)
      }
      java.nio.file.Files.delete(pending)
    } finally VecFiles.deleteRecursively(staging)
  }

  /** The tiered serve layout AFTER a delete commit (ids ≡ 0 mod `mod`
    * dropped): seed the id-bucketed layout from the pristine corpus,
    * then apply [[commitServeTierDeletes]] — only the deleted ids'
    * buckets rewrite. Own version-keyed dir; shared fixtures are never
    * mutated. */
  def ensureTieredServeDeleted(spark: SparkSession, sfDir: String,
                               scales: Seq[Int], mod: Int): String = {
    import java.nio.file.{Files, Paths}
    require(mod >= 2, s"mod=$mod")
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val key = scales.sorted.mkString("-")
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_servetiers_del_v${ServeTiersDeleteLayoutVersion}_${safe}" +
        s"_s${key}_m${mod}_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(path.resolve("_DONE"))) {
      val tmp = Files.createTempDirectory(path.getParent, "servetdel-")
      val emb = graft.Tables.embeddings(spark, sfDir)
      val docs = graft.Tables.documents(spark, sfDir)
      writeServeTiersPartitioned(
        emb.join(docs.select(col("doc_id").as("vec_id"), col("lang")),
            Seq("vec_id"))
          .select(col("vec_id").as("id"), col("lang"),
            col("embedding").as("vec")),
        tmp.toString, scales)
      commitServeTierDeletes(spark, tmp.toString,
        emb.select(col("vec_id").as("id"))
          .filter(col("id") % mod === 0))
      Files.createFile(tmp.resolve("_DONE"))
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_DONE")),
        s"deleted tiered layout publish failed: $path")
    }
    path.toString
  }

  /**
   * A DELETE COMMIT on the cell-partitioned INDEXED tiered layout: the
   * deleted ids' rows drop from their stored cells — the touched set is
   * the LAYOUT's own assignment of the deleted ids (never a corpus
   * re-assign), rewritten via dynamic partition overwrite with the
   * emptied-cell sweep (a delete can empty a whole cell). The coarse
   * quantizer stays STALE (cells of surviving rows unchanged) — the
   * Lucene delete contract carried onto the vector index, exactly as
   * the PQ/LSH/spherical families serve it. Commit I/O ∝ touched-cell
   * occupancy, never the corpus.
   */
  def commitServeTierIndexedDeletes(spark: SparkSession,
                                    layoutDir: String,
                                    delIds: DataFrame): Unit = {
    val base = spark.read.parquet(layoutDir)
    val touched = base.join(delIds.select(col("id")), Seq("id"),
        "left_semi")
      .select(col("cell")).distinct().collect().map(_.getInt(0)).sorted
    val kept = spark.read.parquet(layoutDir)
      .filter(col("cell").isin(touched.map(Int.box): _*))
      .join(delIds.select(col("id")), Seq("id"), "left_anti")
    val pending = java.nio.file.Paths.get(layoutDir, "_COMMIT_PENDING")
    require(!java.nio.file.Files.exists(pending),
      s"indexed tiered layout $layoutDir has a half-applied commit " +
        "(_COMMIT_PENDING present) — discard and rebuild from the seed")
    val staging = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(layoutDir).getParent, "servetidx-del-")
    try {
      kept.write.mode("overwrite").parquet(staging.toString)
      val staged = spark.read.parquet(staging.toString)
      java.nio.file.Files.createFile(pending)
      staged
        .repartition(col("cell"))
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").option("compression", "zstd")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(layoutDir)
      val nonEmpty = staged.select(col("cell")).distinct()
        .collect().map(_.getInt(0)).toSet
      touched.filterNot(nonEmpty).foreach { c =>
        val p = java.nio.file.Paths.get(layoutDir, s"cell=$c")
        if (java.nio.file.Files.exists(p))
          VecFiles.deleteRecursively(p)
      }
      java.nio.file.Files.delete(pending)
    } finally VecFiles.deleteRecursively(staging)
  }

  /** The INDEXED tiered layout AFTER a delete commit (ids ≡ 0 mod
    * `mod` dropped): seed the cell-partitioned layout, then apply
    * [[commitServeTierIndexedDeletes]] — only the deleted ids' stored
    * cells rewrite. Own version-keyed dir. */
  def ensureTieredServeIndexedDeleted(spark: SparkSession, sfDir: String,
                                      scales: Seq[Int], nCells: Int,
                                      d: Int, mod: Int): String = {
    import java.nio.file.{Files, Paths}
    require(mod >= 2, s"mod=$mod")
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val key = scales.sorted.mkString("-")
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_servetiersidx_del_v${ServeTiersDeleteLayoutVersion}" +
        s"_${safe}_s${key}_c${nCells}_d${d}_m${mod}" +
        s"_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(path.resolve("_DONE"))) {
      val tmp = Files.createTempDirectory(path.getParent, "servetidel-")
      writeServeTiersIndexed(spark, sfDir, tmp.toString, scales,
        nCells, d)
      commitServeTierIndexedDeletes(spark, tmp.toString,
        graft.Tables.embeddings(spark, sfDir)
          .select(col("vec_id").as("id"))
          .filter(col("id") % mod === 0))
      Files.createFile(tmp.resolve("_DONE"))
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_DONE")),
        s"deleted indexed tiered layout publish failed: $path")
    }
    path.toString
  }

  /** [[ensureTieredServeFixture]] CELL-PARTITIONED — the INDEXED form:
    * the same (id, lang, vec, code_s per tier) rows written
    * `partitionBy(cell)` under the coarse quantizer's assignment, so a
    * serve composes EVERY pruning axis in one scan — probe cells as a
    * static partition filter, the request's tier as column pruning,
    * the lang pre-filter as a pushed predicate. The complete
    * bandwidth story per request: which FILES (cells), which COLUMN
    * CHUNKS (tier), which ROWS (lang). */
  def ensureTieredServeIndexedFixture(spark: SparkSession, sfDir: String,
                                      scales: Seq[Int], nCells: Int,
                                      d: Int): String = {
    import java.nio.file.{Files, Paths}
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val key = scales.sorted.mkString("-")
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_servetiersidx_v${ServeTiersLayoutVersion}_${safe}_s${key}" +
        s"_c${nCells}_d${d}_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "servetidx-")
      val emb = graft.Tables.embeddings(spark, sfDir)
      val docs = graft.Tables.documents(spark, sfDir)
      val maxAbs = emb
        .select(org.apache.spark.sql.functions.max(org.apache.spark.sql
          .functions.aggregate(col("embedding"), lit(0.0d),
            (a, x) => org.apache.spark.sql.functions.greatest(a,
              org.apache.spark.sql.functions.abs(x.cast("double"))))))
        .collect()(0).getDouble(0)
      scales.foreach { s =>
        val lim = if (serveTierCodeBytes(s) == 1) 127.0 else 32767.0
        require(maxAbs * math.pow(2.0, s) + 0.5 < lim,
          s"tier 2^$s codes overflow their ${serveTierCodeBytes(s)}-byte " +
            s"width at max|v| = $maxAbs")
      }
      val src = graft.operators.Ivf.assign(emb, nCells, d)
        .select(col("id").as("vec_id"), col("cell"))
        .join(emb, Seq("vec_id"))
        .join(docs.select(col("doc_id").as("vec_id"), col("lang")),
          Seq("vec_id"))
        .select(col("vec_id").as("id"), col("cell"), col("lang"),
          col("embedding").as("vec"))
      val cols = Seq(col("id"), col("lang"), col("vec"), col("cell")) ++
        scales.sorted.map { s =>
          val mul = math.pow(2.0, s)
          val t = if (serveTierCodeBytes(s) == 1) "byte" else "short"
          transform(col("vec"),
            x => floor(x * mul + lit(0.5)).cast(t)).as(s"code_$s")
        }
      src.select(cols: _*)
        .repartition(col("cell"))
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").option("compression", "zstd")
        .partitionBy("cell")
        .parquet(tmp.toString)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"tiered indexed serve fixture publish failed: $path")
    }
    path.toString
  }

  // --- int8 at-rest layout --------------------------------------------

  /** Bump when [[writeInt8]]'s layout changes. */
  private val Int8LayoutVersion = 1

  /** The int8 rung at rest: quantized codes stored as a REAL
    * `ARRAY<TINYINT>` column — one byte per component on disk, a quarter
    * of the float-encoded reduced copy — beside the full-precision
    * vector. A cheap pass selecting (id, code) physically reads only
    * those column chunks, so the rung's 1-byte-per-component bandwidth
    * model is what the scan actually pays. Sorted by id within files for
    * row-group skipping on the rescore fetch, like [[write]]. Codes must
    * fit int8 at this scale (|v| * 2^scaleLog2 <= 127) — the fixture
    * domain guarantees it; general loaders should guard like Demo does. */
  def writeInt8(vectors: DataFrame, path: String, scaleLog2: Int): Unit = {
    val s = math.pow(2.0, scaleLog2)
    vectors.select(col("id"), col("vec"),
        transform(col("vec"),
          x => floor(x * s + lit(0.5)).cast("byte")).as("code"))
      .sortWithinPartitions(col("id"))
      .write.mode("overwrite")
      .option("compression", "zstd")
      .parquet(path)
  }

  /** Materialize the int8 at-rest fixture once per machine (immutable
    * version-named dir, atomic scratch publish — same discipline as
    * [[ensureFixture]]). */
  def ensureInt8Fixture(spark: SparkSession, sfDir: String, d: Int,
                        scaleLog2: Int): String = {
    import java.nio.file.{Files, Paths}
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_int8_v${Int8LayoutVersion}_${safe}_d${d}_s${scaleLog2}" +
        s"_v${graft.Fixture.srcVersion(sfDir)}")
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val tmp = Files.createTempDirectory(path.getParent, "int8-")
      // keepM=6 only picks WHICH cached fixture to derive from (the
      // engine-wide default, so no extra synthesis); `vec` itself is
      // keepM-independent and the fp16 rvec/delta columns are unused here
      writeInt8(graft.Fixture.fp16VectorsCached(spark, sfDir, d, 6)
        .select(col("id"), col("vec")), tmp.toString, scaleLog2)
      try Files.move(tmp, path)
      catch { case _: java.nio.file.FileSystemException =>
        VecFiles.deleteRecursively(tmp) }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"int8 fixture publish failed: $path")
    }
    path.toString
  }

  /** Refined top-K off the int8 at-rest table: the cheap pass scans only
    * (id, code) — dequantization and the constant half-step bound are
    * map-side derivations, never stored — and the rescore fetch scans
    * (id, vec). Hash-equal to the in-memory int8 rung (same dequantized
    * values k/2^s). cos_l2 needs the stored `bb` stat and l2_tz a
    * truncated copy; both are refused. */
  def refineInt8TopK(spark: SparkSession, path: String, queries: DataFrame,
                     p: graft.operators.Refine.Params,
                     scaleLog2: Int): DataFrame = {
    require(p.mode != "l2_tz" && p.mode != "cos_l2",
      s"${p.mode} is incompatible with the int8 cheap copy")
    val s = math.pow(2.0, scaleLog2)
    val half = (0.5 / s).toFloat
    val stored = spark.read.parquet(path)
    val cheap = stored.select(col("id"),
        transform(col("code"),
          c => (c.cast("double") / s).cast("float")).as("rvec"))
      .withColumn("delta", transform(col("rvec"), _ => lit(half)))
      .select(col("id"), col("rvec"), col("delta"),
        VectorOps.norm2Sq(col("rvec")).as("nr2"))
    // not pinned, as in [[refineTopK]]: each block pass dequantizes the
    // codes in one streaming scan
    graft.operators.Refine.topkSplit(cheap,
      stored.select(col("id"), col("vec")), queries, p)
  }

  /** Column sets read by every parquet scan in the physical plan,
    * descending into AQE wrappers (plans with exchanges live under
    * AdaptiveSparkPlanExec, which hides its subtree from `collect`) and
    * into cached relations (a persisted cheap tier hides its pruned file
    * scan inside the InMemoryRelation's cache-fill plan). */
  def scanSchemas(df: DataFrame): Seq[Set[String]] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def walk(p: SparkPlan): Seq[Set[String]] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case i: InMemoryTableScanExec => walk(i.relation.cachedPlan)
      case f: FileSourceScanExec => Seq(f.requiredSchema.fieldNames.toSet)
      case other => other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).distinct
  }

  /** Throw unless the optimized plan's Parquet ReadSchema contains
    * exactly `expected` (column pruning reached the scan). */
  def assertPruned(df: DataFrame, expected: Set[String]): Unit = {
    val scans = scanSchemas(df)
    require(scans.nonEmpty, "no parquet scan in plan")
    scans.foreach { read =>
      require(read == expected,
        s"column pruning failed: scan reads $read, expected $expected")
    }
  }
}
