package graft.oracle

import graft.operators.Ivf

/**
 * DuckDB oracle for the IVF index ([[graft.operators.Ivf]]): centroid
 * distance chains are explicit left-associated sums (matching the codegen
 * fold order), centroid constants are dyadic so their decimal literals
 * parse to identical doubles, and the argmin/probe/rank logic mirrors the
 * engine's tie-breaks.
 */
object IvfOracle {

  private def fn(x: String) = s"GREATEST(sqrt($x), 1e-12)"

  /** Explicit left-fold ||x - c||^2 chain for one centroid. */
  private def cellDistExpr(alias: String, cell: Int, d: Int): String =
    (0 until d).map { j =>
      val c = Ivf.centroidComponent(cell, j)
      // centroid stored as FLOAT in the engine literal; cast the printed
      // double through FLOAT for identical widening
      s"(CAST($alias.embedding[${j + 1}] AS DOUBLE) - CAST(CAST(${OracleGen.dlit(c)} AS FLOAT) AS DOUBLE))" +
        s"*(CAST($alias.embedding[${j + 1}] AS DOUBLE) - CAST(CAST(${OracleGen.dlit(c)} AS FLOAT) AS DOUBLE))"
    }.mkString("(", " + ", ")")

  /** Dequantized component: CAST(FLOOR(v*2^s + 0.5)/2^s AS FLOAT) — the
    * engine's k/2^s code value (float-exact dyadic), widened back to
    * DOUBLE like every other operand. */
  private def dq(alias: String, i: Int, scale: Double): String =
    s"CAST(CAST(FLOOR(CAST($alias.embedding[$i] AS DOUBLE)*$scale + 0.5)/$scale" +
      s" AS FLOAT) AS DOUBLE)"

  /** Left-fold dot of the DEQUANTIZED a side against the full b side. */
  private def qdotE(a: String, b: String, d: Int, scale: Double): String =
    (1 to d).map(i => s"${dq(a, i, scale)}*CAST($b.embedding[$i] AS DOUBLE)")
      .mkString("(", " + ", ")")

  /** One Lloyd training iteration ([[graft.operators.Ivf.kmeansStep]]):
    * nearest-centroid assignment, then per-(cell, dimension) means with
    * the sum as an ordered left fold — `list(x ORDER BY vec_id)` +
    * `list_reduce` reproduces Spark's sort_array/aggregate fold
    * bit-for-bit (verified: both are sequential double additions in id
    * order). */
  def kmeansStepSql(d: Int, nCells: Int): String = {
    val distCols = (0 until nCells)
      .map(c => s"${cellDistExpr("e", c, d)} AS c$c").mkString(",\n  ")
    val leastExpr = "LEAST(" + (0 until nCells).map(c => s"c$c").mkString(", ") + ")"
    val argmin = "CASE " + (0 until nCells)
      .map(c => s"WHEN c$c = m THEN $c").mkString(" ") + " END"
    s"""WITH asg0 AS MATERIALIZED (SELECT e.vec_id, $distCols FROM embeddings e),
       |asg AS MATERIALIZED (SELECT vec_id, $argmin AS cell
       |        FROM (SELECT *, $leastExpr AS m FROM asg0))
       |SELECT a.cell, CAST(t.j AS INTEGER) AS j, COUNT(*) AS n,
       |  list_reduce(list(CAST(e.embedding[t.j] AS DOUBLE) ORDER BY e.vec_id),
       |    (acc, v) -> acc + v) / CAST(COUNT(*) AS DOUBLE) AS mean
       |FROM asg a JOIN embeddings e ON a.vec_id = e.vec_id
       |CROSS JOIN generate_series(1, $d) AS t(j)
       |GROUP BY a.cell, t.j""".stripMargin
  }

  /** One SPHERICAL k-means iteration ([[graft.operators.Ivf
    * .kmeansSphericalStep]]): angular assignment (argmax of the
    * j-ordered dot against each init centroid over its norm — both
    * embedded as the engine's exact literals; ties CASE to the smaller
    * cell), per-(cell, j) ordered means, then the sphere projection —
    * unit = mean over the cell's j-ordered norm fold. */
  def kmeansSphericalStepSql(d: Int, nCells: Int,
                             sampleEvery: Int = 1): String = {
    def scoreExpr(c: Int): String =
      "(" + (1 to d).map(i => s"CAST(e.embedding[$i] AS DOUBLE)*" +
        OracleGen.dlit(graft.operators.Ivf.centroidComponent(c, i - 1)))
        .mkString(" + ") +
        s") / ${OracleGen.dlit(graft.operators.Ivf.sphericalInitNorm(c, d))}"
    val scoreCols = (0 until nCells)
      .map(c => s"${scoreExpr(c)} AS s$c").mkString(",\n  ")
    val gExpr = "GREATEST(" + (0 until nCells).map(c => s"s$c")
      .mkString(", ") + ")"
    val argmax = "CASE " + (0 until nCells)
      .map(c => s"WHEN s$c = m THEN $c").mkString(" ") + " END"
    // sampled training (sampleEvery > 1): the Lloyd step's ASSIGNMENT
    // universe is the counter-keyed sample — the smj mean folds inherit
    // the cut through the inner join on sasg
    val trainPred = if (sampleEvery <= 1) ""
      else s" WHERE e.vec_id % $sampleEvery = 0"
    s"""WITH sasg0 AS MATERIALIZED (SELECT e.vec_id, $scoreCols FROM embeddings e$trainPred),
       |sasg AS MATERIALIZED (SELECT vec_id, $argmax AS cell
       |        FROM (SELECT *, $gExpr AS m FROM sasg0)),
       |smj AS MATERIALIZED (SELECT a.cell, CAST(t.j AS INTEGER) AS j, COUNT(*) AS n,
       |  list_reduce(list(CAST(e.embedding[t.j] AS DOUBLE) ORDER BY e.vec_id),
       |    (acc, v) -> acc + v) / CAST(COUNT(*) AS DOUBLE) AS mean
       |  FROM sasg a JOIN embeddings e ON a.vec_id = e.vec_id
       |  CROSS JOIN generate_series(1, $d) AS t(j)
       |  GROUP BY a.cell, t.j),
       |sss AS MATERIALIZED (SELECT cell,
       |    list_reduce(list(mean * mean ORDER BY j), (acc, v) -> acc + v) AS ss
       |  FROM smj GROUP BY cell)
       |SELECT smj.cell, smj.j, smj.n, smj.mean,
       |  smj.mean / ${fn("sss.ss")} AS unit
       |FROM smj JOIN sss ON sss.cell = smj.cell""".stripMargin
  }

  /** IVF served with the spherically-trained unit centroids
    * ([[graft.operators.Ivf.topkSpherical]]): the trained units
    * re-derived as a CTE, assignment/probing by the j-ordered dot
    * against them (argmax == angular nearest for unit centroids; ties
    * to the smaller cell), cell-pruned exact cosine tail. */
  def sphericalTopkSql(d: Int, nq: Int, k: Int, nCells: Int,
                       nprobe: Int): String =
    s"""WITH skm AS MATERIALIZED (SELECT * FROM (${kmeansSphericalStepSql(d, nCells)})),
       |${EmbOracle.nrmCte(d)},
       |scd AS MATERIALIZED (SELECT e.vec_id, skm.cell,
       |    list_reduce(list(
       |      CAST(e.embedding[skm.j] AS DOUBLE) * skm.unit
       |      ORDER BY skm.j), (acc, v) -> acc + v) AS sd
       |  FROM embeddings e CROSS JOIN skm
       |  GROUP BY e.vec_id, skm.cell),
       |sasg2 AS MATERIALIZED (SELECT vec_id, cell FROM (SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY sd DESC, cell ASC) AS rn
       |  FROM scd) t WHERE t.rn = 1),
       |q AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT $nq),
       |qp AS (SELECT qid, cell FROM (SELECT c.vec_id AS qid, c.cell,
       |    row_number() OVER (PARTITION BY c.vec_id ORDER BY c.sd DESC, c.cell ASC) AS pr
       |  FROM scd c JOIN q ON c.vec_id = q.qid) t WHERE t.pr <= $nprobe),
       |cand AS (SELECT qp.qid, a.vec_id AS id
       |  FROM qp JOIN sasg2 a ON a.cell = qp.cell),
       |scored AS (SELECT c.qid, c.id,
       |    ${EmbOracle.dotE("e.embedding", "qe.embedding", d)} /
       |      (${fn("ne.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.id
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN nrm ne ON ne.vec_id = c.id
       |  JOIN nrm nq2 ON nq2.vec_id = c.qid),
       |ranked AS (SELECT qid, id, score,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
       |  FROM scored)
       |SELECT qid, CAST(rnk AS INTEGER) AS rank, id, score
       |FROM ranked WHERE rnk <= $k""".stripMargin

  /** Twin of [[graft.operators.Ivf.kmeansConverge]]: the Lloyd loop
    * unrolled — per iteration an assignment CTE (j-ordered distance
    * folds, min/argmin with ties to the smaller cell), the SSE as a
    * vec_id-ordered list_reduce, and the retrained means CTE feeding
    * the next iteration. Rows (iter, sse, cells) via UNION ALL. */
  def kmeansConvergeSql(d: Int, nCells: Int, iters: Int,
                        sampleEvery: Int = 1): String = {
    // SAMPLED coarse-quantizer training (sampleEvery > 1): the whole
    // Lloyd loop — assignment, SSE ledger, retrain — runs over the
    // counter-keyed sample (ids ≡ 0 mod sampleEvery), the engine's
    // exact train set; the stride literal is embedded identically on
    // both engines (the measuredComp discipline)
    val src = if (sampleEvery <= 1) "embeddings"
      else s"(SELECT * FROM embeddings WHERE vec_id % $sampleEvery = 0)"
    val distCols = (0 until nCells)
      .map(c => s"${cellDistExpr("e", c, d)} AS c$c").mkString(",\n  ")
    val leastExpr = "LEAST(" + (0 until nCells).map(c => s"c$c").mkString(", ") + ")"
    val argmin = "CASE " + (0 until nCells)
      .map(c => s"WHEN c$c = m THEN $c").mkString(" ") + " END"
    val sb = new StringBuilder
    sb.append(
      s"""WITH a0 AS MATERIALIZED (SELECT vec_id, $argmin AS cell, m AS di
         |  FROM (SELECT e.vec_id, $distCols,
         |          $leastExpr AS m
         |        FROM $src e)),
         |s0 AS (SELECT 0 AS iter,
         |    list_reduce(list(di ORDER BY vec_id), (a, v) -> a + v) AS sse,
         |    COUNT(DISTINCT cell) AS cells FROM a0)""".stripMargin)
    for (it <- 1 to iters) {
      val prev = s"a${it - 1}"
      sb.append(s""",
        |km$it AS MATERIALIZED (SELECT p.cell, CAST(t.j AS INTEGER) AS j,
        |    list_reduce(list(CAST(e.embedding[t.j] AS DOUBLE) ORDER BY e.vec_id),
        |      (acc, v) -> acc + v) / CAST(COUNT(*) AS DOUBLE) AS mean
        |  FROM $prev p JOIN $src e ON e.vec_id = p.vec_id
        |  CROSS JOIN generate_series(1, $d) AS t(j)
        |  GROUP BY p.cell, t.j),
        |cd$it AS MATERIALIZED (SELECT e.vec_id, km$it.cell,
        |    list_reduce(list(
        |      (CAST(e.embedding[km$it.j] AS DOUBLE) - km$it.mean)
        |        * (CAST(e.embedding[km$it.j] AS DOUBLE) - km$it.mean)
        |      ORDER BY km$it.j), (acc, v) -> acc + v) AS d2
        |  FROM $src e CROSS JOIN km$it
        |  GROUP BY e.vec_id, km$it.cell),
        |a$it AS MATERIALIZED (SELECT vec_id, cell, d2 AS di FROM (
        |    SELECT vec_id, cell, d2,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
        |    FROM cd$it) t WHERE t.rn = 1),
        |s$it AS (SELECT $it AS iter,
        |    list_reduce(list(di ORDER BY vec_id), (a, v) -> a + v) AS sse,
        |    COUNT(DISTINCT cell) AS cells FROM a$it)""".stripMargin)
    }
    sb.append("\n" + (0 to iters)
      .map(it => s"SELECT iter, sse, cells FROM s$it")
      .mkString("", "\nUNION ALL ", ""))
    sb.toString
  }

  /** IVF served with the RETRAINED centroids
    * ([[graft.operators.Ivf.topkLloyd]]): the Lloyd means re-derived as
    * a CTE (the same doubles the engine collects and bakes in as
    * literals — [[kmeansStepSql]] hash-matches them), then assignment /
    * probe / cell-pruned exact cosine, every distance a j-ordered left
    * fold so both engines round identically. */
  def lloydTopkSql(d: Int, nq: Int, k: Int, nCells: Int,
                   nprobe: Int): String = {
    s"""WITH km AS MATERIALIZED (SELECT * FROM (${kmeansStepSql(d, nCells)})),
       |${EmbOracle.nrmCte(d)},
       |cd AS MATERIALIZED (SELECT e.vec_id, km.cell,
       |    list_reduce(list(
       |      (CAST(e.embedding[km.j] AS DOUBLE) - km.mean)
       |        * (CAST(e.embedding[km.j] AS DOUBLE) - km.mean)
       |      ORDER BY km.j), (acc, v) -> acc + v) AS d2
       |  FROM embeddings e CROSS JOIN km
       |  GROUP BY e.vec_id, km.cell),
       |asg2 AS MATERIALIZED (SELECT vec_id, cell FROM (SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
       |  FROM cd) t WHERE t.rn = 1),
       |q AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT $nq),
       |qp AS (SELECT qid, cell FROM (SELECT c.vec_id AS qid, c.cell,
       |    row_number() OVER (PARTITION BY c.vec_id ORDER BY c.d2 ASC, c.cell ASC) AS pr
       |  FROM cd c JOIN q ON c.vec_id = q.qid) t WHERE t.pr <= $nprobe),
       |cand AS (SELECT qp.qid, a.vec_id AS id
       |  FROM qp JOIN asg2 a ON a.cell = qp.cell),
       |scored AS (SELECT c.qid, c.id,
       |    ${EmbOracle.dotE("e.embedding", "qe.embedding", d)} /
       |      (${fn("ne.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.id
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN nrm ne ON ne.vec_id = c.id
       |  JOIN nrm nq2 ON nq2.vec_id = c.qid),
       |ranked AS (SELECT qid, id, score,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
       |  FROM scored)
       |SELECT qid, CAST(rnk AS INTEGER) AS rank, id, score
       |FROM ranked WHERE rnk <= $k""".stripMargin
  }

  /** The seed-selection CTE chain shared by [[kmeansSeedSql]] and
    * [[seededTopkSql]] ([[graft.operators.Ivf.kmeansSeed]]): p0 is the
    * min-id start; per round r, s_r gathers the already-chosen seed
    * vectors, md_r computes each corpus row's min distance to them
    * (per-pair d2 a j-ordered list_reduce — the engine's literal fold,
    * relationally), and p_r takes the top `take` by (md DESC, id ASC).
    * Returns (sql-prefix, round-count). */
  private def seedCtes(d: Int, nSeeds: Int, perRound: Int): (String, Int) = {
    val sb = new StringBuilder
    sb.append(
      s"""p0 AS MATERIALIZED (SELECT 0 AS round, 0 AS pick, vec_id AS id,
         |    CAST(0.0 AS DOUBLE) AS mindist
         |  FROM embeddings ORDER BY vec_id LIMIT 1)""".stripMargin)
    var chosen = 1
    var r = 1
    while (chosen < nSeeds) {
      val take = math.min(perRound, nSeeds - chosen)
      val prior = (0 until r).map(i => s"SELECT id FROM p$i")
        .mkString(" UNION ALL ")
      sb.append(s""",
        |s$r AS MATERIALIZED (SELECT p.id AS sid, e.embedding
        |  FROM ($prior) p JOIN embeddings e ON e.vec_id = p.id),
        |md$r AS MATERIALIZED (SELECT id, min(d2) AS md FROM (
        |    SELECT e.vec_id AS id, s.sid,
        |      list_reduce(list(
        |        (CAST(e.embedding[t.j] AS DOUBLE) - CAST(s.embedding[t.j] AS DOUBLE))
        |          * (CAST(e.embedding[t.j] AS DOUBLE) - CAST(s.embedding[t.j] AS DOUBLE))
        |        ORDER BY t.j), (acc, v) -> acc + v) AS d2
        |    FROM embeddings e CROSS JOIN s$r s
        |    CROSS JOIN generate_series(1, $d) AS t(j)
        |    GROUP BY e.vec_id, s.sid) GROUP BY id),
        |p$r AS MATERIALIZED (SELECT $r AS round,
        |    CAST(row_number() OVER (ORDER BY md DESC, id ASC) - 1 AS INTEGER) AS pick,
        |    id, md AS mindist
        |  FROM (SELECT id, md FROM md$r ORDER BY md DESC, id ASC LIMIT $take))""".stripMargin)
      chosen += take
      r += 1
    }
    (sb.toString, r)
  }

  /** Twin of [[graft.operators.Ivf.kmeansSeed]]: the batched
    * farthest-first picks, (round, pick, id, mindist). */
  def kmeansSeedSql(d: Int, nSeeds: Int, perRound: Int): String = {
    val (ctes, rounds) = seedCtes(d, nSeeds, perRound)
    val all = (0 until rounds)
      .map(i => s"SELECT round, pick, id, mindist FROM p$i")
      .mkString("\nUNION ALL ")
    s"WITH $ctes\n$all"
  }

  /** Twin of [[graft.operators.Ivf.topkSeeded]]: the maxmin seeds as
    * coarse centroids — assignment and probe ranking against the seed
    * vectors (ties to the smaller selection index), exact cosine over
    * the probed cells. */
  def seededTopkSql(d: Int, nq: Int, k: Int, nSeeds: Int, perRound: Int,
                    nprobe: Int): String = {
    val (ctes, rounds) = seedCtes(d, nSeeds, perRound)
    val all = (0 until rounds)
      .map(i => s"SELECT round, pick, id FROM p$i")
      .mkString(" UNION ALL ")
    s"""WITH $ctes,
       |sall AS MATERIALIZED (SELECT
       |    CAST(row_number() OVER (ORDER BY p.round, p.pick) - 1 AS INTEGER) AS cell,
       |    e.embedding
       |  FROM ($all) p JOIN embeddings e ON e.vec_id = p.id),
       |cds AS MATERIALIZED (SELECT e.vec_id, s.cell,
       |    list_reduce(list(
       |      (CAST(e.embedding[t.j] AS DOUBLE) - CAST(s.embedding[t.j] AS DOUBLE))
       |        * (CAST(e.embedding[t.j] AS DOUBLE) - CAST(s.embedding[t.j] AS DOUBLE))
       |      ORDER BY t.j), (acc, v) -> acc + v) AS d2
       |  FROM embeddings e CROSS JOIN sall s
       |  CROSS JOIN generate_series(1, $d) AS t(j)
       |  GROUP BY e.vec_id, s.cell),
       |asgs AS MATERIALIZED (SELECT vec_id, cell FROM (SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
       |  FROM cds) t WHERE t.rn = 1),
       |${EmbOracle.nrmCte(d)},
       |q AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT $nq),
       |qp AS (SELECT qid, cell FROM (SELECT c.vec_id AS qid, c.cell,
       |    row_number() OVER (PARTITION BY c.vec_id ORDER BY c.d2 ASC, c.cell ASC) AS pr
       |  FROM cds c JOIN q ON c.vec_id = q.qid) t WHERE t.pr <= $nprobe),
       |cand AS (SELECT qp.qid, a.vec_id AS id
       |  FROM qp JOIN asgs a ON a.cell = qp.cell),
       |scored AS (SELECT c.qid, c.id,
       |    ${EmbOracle.dotE("e.embedding", "qe.embedding", d)} /
       |      (${fn("ne.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.id
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN nrm ne ON ne.vec_id = c.id
       |  JOIN nrm nq2 ON nq2.vec_id = c.qid),
       |ranked AS (SELECT qid, id, score,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
       |  FROM scored)
       |SELECT qid, CAST(rnk AS INTEGER) AS rank, id, score
       |FROM ranked WHERE rnk <= $k""".stripMargin
  }

  /** The occupancy-split CTE chain shared by [[splitStatsSql]] and
    * [[splitTopkSql]] ([[graft.operators.Ivf.splitModel]]): asg0/asg
    * the dyadic assignment, sp the over-threshold cells (exact integer
    * compare occ*den > num*n), av/bv the pivot vectors (A = min-id
    * member; B = within-cell argmax distance to A, ties to the smaller
    * id), da/db each split-cell member's pivot distances (j-ordered
    * list_reduce — the engine's codegen fold, relationally), asgs the
    * refined (vec_id, cell, sub) assignment. */
  private def splitCtes(d: Int, nCells: Int, num: Int, den: Int): String = {
    val distCols = (0 until nCells)
      .map(c => s"${cellDistExpr("e", c, d)} AS c$c").mkString(",\n  ")
    val leastExpr = "LEAST(" + (0 until nCells).map(c => s"c$c").mkString(", ") + ")"
    val argmin = "CASE " + (0 until nCells)
      .map(c => s"WHEN c$c = m THEN $c").mkString(" ") + " END"
    def pivotDist(pv: String) =
      s"""list_reduce(list(
         |      (CAST(e.embedding[t.j] AS DOUBLE) - CAST($pv.embedding[t.j] AS DOUBLE))
         |        * (CAST(e.embedding[t.j] AS DOUBLE) - CAST($pv.embedding[t.j] AS DOUBLE))
         |      ORDER BY t.j), (acc, v) -> acc + v)""".stripMargin
    s"""asg0 AS MATERIALIZED (SELECT e.vec_id, $distCols FROM embeddings e),
       |asg AS MATERIALIZED (SELECT vec_id, $argmin AS cell
       |        FROM (SELECT *, $leastExpr AS m FROM asg0)),
       |nn AS (SELECT COUNT(*) AS c FROM embeddings),
       |sp AS MATERIALIZED (SELECT o.cell, o.aid FROM (
       |    SELECT cell, COUNT(*) AS occ, MIN(vec_id) AS aid
       |    FROM asg GROUP BY cell) o, nn
       |  WHERE o.occ * $den > $num * nn.c),
       |av AS MATERIALIZED (SELECT sp.cell, e.embedding
       |  FROM sp JOIN embeddings e ON e.vec_id = sp.aid),
       |da AS MATERIALIZED (SELECT a.vec_id, a.cell, ${pivotDist("av")} AS dist
       |  FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id
       |  JOIN av ON av.cell = a.cell
       |  CROSS JOIN generate_series(1, $d) AS t(j)
       |  GROUP BY a.vec_id, a.cell),
       |bsel AS MATERIALIZED (SELECT cell, vec_id AS bid FROM (
       |    SELECT cell, vec_id,
       |      row_number() OVER (PARTITION BY cell ORDER BY dist DESC, vec_id ASC) AS rn
       |    FROM da) t WHERE t.rn = 1),
       |bv AS MATERIALIZED (SELECT b.cell, e.embedding
       |  FROM bsel b JOIN embeddings e ON e.vec_id = b.bid),
       |db AS MATERIALIZED (SELECT a.vec_id, a.cell, ${pivotDist("bv")} AS dist
       |  FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id
       |  JOIN bv ON bv.cell = a.cell
       |  CROSS JOIN generate_series(1, $d) AS t(j)
       |  GROUP BY a.vec_id, a.cell),
       |asgs AS MATERIALIZED (SELECT a.vec_id, a.cell,
       |    CASE WHEN da.dist IS NULL THEN 0
       |         WHEN da.dist <= db.dist THEN 0 ELSE 1 END AS sub
       |  FROM asg a
       |  LEFT JOIN da ON da.vec_id = a.vec_id AND da.cell = a.cell
       |  LEFT JOIN db ON db.vec_id = a.vec_id AND db.cell = a.cell)""".stripMargin
  }

  /** Twin of [[graft.operators.Ivf.splitStats]]: (cell, sub, occ)
    * occupancies after the rebalancing split. */
  def splitStatsSql(d: Int, nCells: Int, num: Int, den: Int): String =
    s"""WITH ${splitCtes(d, nCells, num, den)}
       |SELECT cell, CAST(sub AS INTEGER) AS sub, COUNT(*) AS occ
       |FROM asgs GROUP BY cell, sub""".stripMargin

  /** Twin of [[graft.operators.Ivf.topkSplit]]: probe ranking against
    * one representative per (cell, sub) — dyadic centroid for unsplit
    * cells (reused from the query's asg0 row), pivots for split halves
    * — ties (d2, cell, sub); exact cosine over the probed sub-cells. */
  def splitTopkSql(d: Int, nq: Int, k: Int, nCells: Int, nprobe: Int,
                   num: Int, den: Int): String = {
    val probeCase = "CASE t.cell " + (0 until nCells)
      .map(c => s"WHEN $c THEN a.c$c").mkString(" ") + " END"
    val cellsValues = (0 until nCells).map(c => s"($c)").mkString(",")
    def qPivotDist(pv: String) =
      s"""list_reduce(list(
         |      (CAST(qe.embedding[t.j] AS DOUBLE) - CAST($pv.embedding[t.j] AS DOUBLE))
         |        * (CAST(qe.embedding[t.j] AS DOUBLE) - CAST($pv.embedding[t.j] AS DOUBLE))
         |      ORDER BY t.j), (acc, v) -> acc + v)""".stripMargin
    s"""WITH ${splitCtes(d, nCells, num, den)},
       |${EmbOracle.nrmCte(d)},
       |q AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT $nq),
       |qdu AS (SELECT q.qid, t.cell, 0 AS sub, $probeCase AS d2
       |  FROM q JOIN asg0 a ON a.vec_id = q.qid
       |  CROSS JOIN (VALUES $cellsValues) AS t(cell)
       |  WHERE t.cell NOT IN (SELECT cell FROM sp)),
       |qda AS (SELECT q.qid, av.cell, 0 AS sub, ${qPivotDist("av")} AS d2
       |  FROM q JOIN embeddings qe ON qe.vec_id = q.qid
       |  CROSS JOIN av CROSS JOIN generate_series(1, $d) AS t(j)
       |  GROUP BY q.qid, av.cell),
       |qdb AS (SELECT q.qid, bv.cell, 1 AS sub, ${qPivotDist("bv")} AS d2
       |  FROM q JOIN embeddings qe ON qe.vec_id = q.qid
       |  CROSS JOIN bv CROSS JOIN generate_series(1, $d) AS t(j)
       |  GROUP BY q.qid, bv.cell),
       |qd AS (SELECT * FROM qdu UNION ALL SELECT * FROM qda
       |  UNION ALL SELECT * FROM qdb),
       |qp AS (SELECT qid, cell, sub FROM (SELECT qid, cell, sub,
       |    row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cell ASC, sub ASC) AS pr
       |  FROM qd) t WHERE t.pr <= $nprobe),
       |cand AS (SELECT qp.qid, s.vec_id AS id
       |  FROM qp JOIN asgs s ON s.cell = qp.cell AND s.sub = qp.sub),
       |scored AS (SELECT c.qid, c.id,
       |    ${EmbOracle.dotE("e.embedding", "qe.embedding", d)} /
       |      (${fn("ne.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.id
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN nrm ne ON ne.vec_id = c.id
       |  JOIN nrm nq2 ON nq2.vec_id = c.qid),
       |ranked AS (SELECT qid, id, score,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
       |  FROM scored)
       |SELECT qid, CAST(rnk AS INTEGER) AS rank, id, score
       |FROM ranked WHERE rnk <= $k""".stripMargin
  }

  /** IVF x PREFIX ([[graft.operators.Ivf.topkPrefix]]): the coarse-
    * quantizer probe scaffold of [[sq8Sql]] with the width-truncated
    * cheap rank of [[EmbOracle.prefixSql]] — prefix-cosine over prefix
    * norms within probed cells, rerank cut, exact full-width rescore. */
  def prefixIvfSql(d: Int, nq: Int, k: Int, nCells: Int, nprobe: Int,
                   dPrefix: Int, rerank: Int): String = {
    val distCols = (0 until nCells)
      .map(c => s"${cellDistExpr("e", c, d)} AS c$c").mkString(",\n  ")
    val leastExpr = "LEAST(" + (0 until nCells).map(c => s"c$c").mkString(", ") + ")"
    val argmin = "CASE " + (0 until nCells)
      .map(c => s"WHEN c$c = m THEN $c").mkString(" ") + " END"
    val probeCase = "CASE t.cell " + (0 until nCells)
      .map(c => s"WHEN $c THEN a.c$c").mkString(" ") + " END"
    val cellsValues = (0 until nCells).map(c => s"($c)").mkString(",")
    s"""WITH asg0 AS MATERIALIZED (SELECT e.vec_id, $distCols FROM embeddings e),
       |asg AS MATERIALIZED (SELECT vec_id, $argmin AS cell
       |        FROM (SELECT *, $leastExpr AS m FROM asg0)),
       |${EmbOracle.nrmCte(d)},
       |npfx AS MATERIALIZED (SELECT vec_id,
       |    ${EmbOracle.dotE("embedding", "embedding", dPrefix)} AS n2p FROM embeddings),
       |q AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT $nq),
       |qp0 AS (SELECT q.qid, t.cell, $probeCase AS d2
       |  FROM q JOIN asg0 a ON a.vec_id = q.qid
       |  CROSS JOIN (VALUES $cellsValues) AS t(cell)),
       |qp AS (SELECT qid, cell FROM (
       |    SELECT qid, cell,
       |      row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cell ASC) AS pr
       |    FROM qp0) WHERE pr <= $nprobe),
       |cand AS (SELECT qp.qid, a.vec_id AS id FROM qp JOIN asg a ON a.cell = qp.cell),
       |cheap AS (SELECT c.qid, c.id,
       |    ${EmbOracle.dotE("e.embedding", "qe.embedding", dPrefix)}
       |      / (${fn("np.n2p")} * ${fn("nqp.n2p")}) AS s_hat
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.id
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN npfx np ON np.vec_id = c.id
       |  JOIN npfx nqp ON nqp.vec_id = c.qid),
       |rr AS (SELECT qid, id FROM (
       |    SELECT qid, id,
       |      row_number() OVER (PARTITION BY qid ORDER BY s_hat DESC, id ASC) AS rn
       |    FROM cheap) WHERE rn <= $rerank),
       |scored AS (SELECT r.qid, r.id,
       |    ${EmbOracle.dotE("e.embedding", "qe.embedding", d)} /
       |      (${fn("ne.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM rr r
       |  JOIN embeddings e ON e.vec_id = r.id
       |  JOIN embeddings qe ON qe.vec_id = r.qid
       |  JOIN nrm ne ON ne.vec_id = r.id
       |  JOIN nrm nq2 ON nq2.vec_id = r.qid),
       |ranked AS (SELECT qid, id, score,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
       |  FROM scored)
       |SELECT qid, CAST(rnk AS INTEGER) AS rank, id, score
       |FROM ranked WHERE rnk <= $k""".stripMargin
  }

  /** [[topkSql]] with the IVF-SQ8 cheap/rerank/rescore pipeline
    * (Ivf.topkSq8): quantized-cosine rank to `rerank`, exact rescore. */
  def sq8Sql(d: Int, nq: Int, k: Int, nCells: Int, nprobe: Int,
             scaleLog2: Int, rerank: Int): String = {
    val scale = math.pow(2.0, scaleLog2)
    val distCols = (0 until nCells)
      .map(c => s"${cellDistExpr("e", c, d)} AS c$c").mkString(",\n  ")
    val leastExpr = "LEAST(" + (0 until nCells).map(c => s"c$c").mkString(", ") + ")"
    val argmin = "CASE " + (0 until nCells)
      .map(c => s"WHEN c$c = m THEN $c").mkString(" ") + " END"
    val probeCase = "CASE t.cell " + (0 until nCells)
      .map(c => s"WHEN $c THEN a.c$c").mkString(" ") + " END"
    val cellsValues = (0 until nCells).map(c => s"($c)").mkString(",")
    val n2q8 = (1 to d).map(i => s"${dq("e", i, scale)}*${dq("e", i, scale)}")
      .mkString("(", " + ", ")")
    s"""WITH asg0 AS MATERIALIZED (SELECT e.vec_id, $distCols FROM embeddings e),
       |asg AS MATERIALIZED (SELECT vec_id, $argmin AS cell
       |        FROM (SELECT *, $leastExpr AS m FROM asg0)),
       |${EmbOracle.nrmCte(d)},
       |q8n AS MATERIALIZED (SELECT e.vec_id, $n2q8 AS n2q8 FROM embeddings e),
       |q AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT $nq),
       |qp0 AS (SELECT q.qid, t.cell, $probeCase AS d2
       |  FROM q JOIN asg0 a ON a.vec_id = q.qid
       |  CROSS JOIN (VALUES $cellsValues) AS t(cell)),
       |qp AS (SELECT qid, cell FROM (
       |    SELECT qid, cell,
       |      row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cell ASC) AS pr
       |    FROM qp0) WHERE pr <= $nprobe),
       |cand AS (SELECT qp.qid, a.vec_id AS id FROM qp JOIN asg a ON a.cell = qp.cell),
       |cheap AS (SELECT c.qid, c.id,
       |    ${qdotE("e", "qe", d, scale)} / (${fn("q8.n2q8")} * ${fn("nq2.n2")}) AS s_hat
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.id
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN q8n q8 ON q8.vec_id = c.id
       |  JOIN nrm nq2 ON nq2.vec_id = c.qid),
       |rr AS (SELECT qid, id FROM (
       |    SELECT qid, id,
       |      row_number() OVER (PARTITION BY qid ORDER BY s_hat DESC, id ASC) AS rn
       |    FROM cheap) WHERE rn <= $rerank),
       |scored AS (SELECT r.qid, r.id,
       |    ${EmbOracle.dotE("e.embedding", "qe.embedding", d)} /
       |      (${fn("ne.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM rr r
       |  JOIN embeddings e ON e.vec_id = r.id
       |  JOIN embeddings qe ON qe.vec_id = r.qid
       |  JOIN nrm ne ON ne.vec_id = r.id
       |  JOIN nrm nq2 ON nq2.vec_id = r.qid),
       |ranked AS (SELECT qid, id, score,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
       |  FROM scored)
       |SELECT qid, CAST(rnk AS INTEGER) AS rank, id, score
       |FROM ranked WHERE rnk <= $k""".stripMargin
  }

  /** Per-dimension TRAINED dequantized component
    * ([[graft.operators.Ivf.topkSq8Trained]]): 256 levels into the
    * observed [mn_j, mx_j] range (from the `rng` CTE), degenerate dims
    * collapse to the constant. Pure exactly-rounded IEEE double
    * arithmetic — identical in DuckDB and the JVM. */
  private def dqT(alias: String, i: Int): String = {
    val v = s"CAST($alias.embedding[$i] AS DOUBLE)"
    val mn = s"rng.mn$i"; val mx = s"rng.mx$i"
    s"CAST(CAST(CASE WHEN $mx = $mn THEN $mn ELSE " +
      s"$mn + FLOOR(($v - $mn) * 255.0 / ($mx - $mn) + 0.5) * (($mx - $mn) / 255.0)" +
      s" END AS FLOAT) AS DOUBLE)"
  }

  /** [[sq8Sql]]'s twin for the trained-range rung: the `rng` CTE is the
    * one-pass min/max training aggregate, cross-joined into the cheap
    * pass exactly as the engine broadcasts its stats row. */
  def sq8TrainedSql(d: Int, nq: Int, k: Int, nCells: Int, nprobe: Int,
                    rerank: Int): String = {
    val (distCols, leastExpr, argmin, probeCase, cellsValues) =
      coarseSnippets(d, nCells)
    val rngCols = (1 to d).map(i =>
      s"MIN(CAST(embedding[$i] AS DOUBLE)) AS mn$i, " +
        s"MAX(CAST(embedding[$i] AS DOUBLE)) AS mx$i").mkString(",\n  ")
    val qtDot = (1 to d).map(i =>
      s"${dqT("e", i)}*CAST(qe.embedding[$i] AS DOUBLE)")
      .mkString("(", " + ", ")")
    val n2qt = (1 to d).map(i => s"${dqT("e", i)}*${dqT("e", i)}")
      .mkString("(", " + ", ")")
    s"""WITH asg0 AS MATERIALIZED (SELECT e.vec_id, $distCols FROM embeddings e),
       |asg AS MATERIALIZED (SELECT vec_id, $argmin AS cell
       |        FROM (SELECT *, $leastExpr AS m FROM asg0)),
       |${EmbOracle.nrmCte(d)},
       |rng AS MATERIALIZED (SELECT $rngCols FROM embeddings),
       |qtn AS MATERIALIZED (SELECT e.vec_id, $n2qt AS n2qt
       |  FROM embeddings e CROSS JOIN rng),
       |q AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT $nq),
       |qp0 AS (SELECT q.qid, t.cell, $probeCase AS d2
       |  FROM q JOIN asg0 a ON a.vec_id = q.qid
       |  CROSS JOIN (VALUES $cellsValues) AS t(cell)),
       |qp AS (SELECT qid, cell FROM (
       |    SELECT qid, cell,
       |      row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cell ASC) AS pr
       |    FROM qp0) WHERE pr <= $nprobe),
       |cand AS (SELECT qp.qid, a.vec_id AS id FROM qp JOIN asg a ON a.cell = qp.cell),
       |cheap AS (SELECT c.qid, c.id,
       |    $qtDot / (${fn("qt.n2qt")} * ${fn("nq2.n2")}) AS s_hat
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.id
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN qtn qt ON qt.vec_id = c.id
       |  JOIN nrm nq2 ON nq2.vec_id = c.qid
       |  CROSS JOIN rng),
       |rr AS (SELECT qid, id FROM (
       |    SELECT qid, id,
       |      row_number() OVER (PARTITION BY qid ORDER BY s_hat DESC, id ASC) AS rn
       |    FROM cheap) WHERE rn <= $rerank),
       |scored AS (SELECT r.qid, r.id,
       |    ${EmbOracle.dotE("e.embedding", "qe.embedding", d)} /
       |      (${fn("ne.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM rr r
       |  JOIN embeddings e ON e.vec_id = r.id
       |  JOIN embeddings qe ON qe.vec_id = r.qid
       |  JOIN nrm ne ON ne.vec_id = r.id
       |  JOIN nrm nq2 ON nq2.vec_id = r.qid),
       |ranked AS (SELECT qid, id, score,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
       |  FROM scored)
       |SELECT qid, CAST(rnk AS INTEGER) AS rank, id, score
       |FROM ranked WHERE rnk <= $k""".stripMargin
  }

  /** 4-bit dequantized component: clamp(floor(v*2^s + 0.5), -8, 7)/2^s,
    * widened like [[dq]] — [[graft.operators.Ivf.topkSq4]]'s code value. */
  private def dq4(alias: String, i: Int, scale: Double): String =
    s"CAST(CAST(LEAST(7, GREATEST(-8, FLOOR(CAST($alias.embedding[$i] AS DOUBLE)*$scale" +
      s" + 0.5)))/$scale AS FLOAT) AS DOUBLE)"

  /** Left-fold dot of the 4-bit-dequantized a side against the full b. */
  private def q4dotE(a: String, b: String, d: Int, scale: Double): String =
    (1 to d).map(i => s"${dq4(a, i, scale)}*CAST($b.embedding[$i] AS DOUBLE)")
      .mkString("(", " + ", ")")

  /** [[sq8Sql]]'s twin for the 4-bit rung ([[graft.operators.Ivf
    * .topkSq4]] and its packed at-rest twin — the nibble round-trip is
    * the identity, so ONE oracle serves both). */
  def sq4Sql(d: Int, nq: Int, k: Int, nCells: Int, nprobe: Int,
             scaleLog2: Int, rerank: Int): String = {
    val scale = math.pow(2.0, scaleLog2)
    val (distCols, leastExpr, argmin, probeCase, cellsValues) =
      coarseSnippets(d, nCells)
    val n2q4 = (1 to d).map(i => s"${dq4("e", i, scale)}*${dq4("e", i, scale)}")
      .mkString("(", " + ", ")")
    s"""WITH asg0 AS MATERIALIZED (SELECT e.vec_id, $distCols FROM embeddings e),
       |asg AS MATERIALIZED (SELECT vec_id, $argmin AS cell
       |        FROM (SELECT *, $leastExpr AS m FROM asg0)),
       |${EmbOracle.nrmCte(d)},
       |q4n AS MATERIALIZED (SELECT e.vec_id, $n2q4 AS n2q4 FROM embeddings e),
       |q AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT $nq),
       |qp0 AS (SELECT q.qid, t.cell, $probeCase AS d2
       |  FROM q JOIN asg0 a ON a.vec_id = q.qid
       |  CROSS JOIN (VALUES $cellsValues) AS t(cell)),
       |qp AS (SELECT qid, cell FROM (
       |    SELECT qid, cell,
       |      row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cell ASC) AS pr
       |    FROM qp0) WHERE pr <= $nprobe),
       |cand AS (SELECT qp.qid, a.vec_id AS id FROM qp JOIN asg a ON a.cell = qp.cell),
       |cheap AS (SELECT c.qid, c.id,
       |    ${q4dotE("e", "qe", d, scale)} / (${fn("q4.n2q4")} * ${fn("nq2.n2")}) AS s_hat
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.id
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN q4n q4 ON q4.vec_id = c.id
       |  JOIN nrm nq2 ON nq2.vec_id = c.qid),
       |rr AS (SELECT qid, id FROM (
       |    SELECT qid, id,
       |      row_number() OVER (PARTITION BY qid ORDER BY s_hat DESC, id ASC) AS rn
       |    FROM cheap) WHERE rn <= $rerank),
       |scored AS (SELECT r.qid, r.id,
       |    ${EmbOracle.dotE("e.embedding", "qe.embedding", d)} /
       |      (${fn("ne.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM rr r
       |  JOIN embeddings e ON e.vec_id = r.id
       |  JOIN embeddings qe ON qe.vec_id = r.qid
       |  JOIN nrm ne ON ne.vec_id = r.id
       |  JOIN nrm nq2 ON nq2.vec_id = r.qid),
       |ranked AS (SELECT qid, id, score,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
       |  FROM scored)
       |SELECT qid, CAST(rnk AS INTEGER) AS rank, id, score
       |FROM ranked WHERE rnk <= $k""".stripMargin
  }

  /** Coarse-quantizer SQL snippets shared by the probe pipelines:
    * (distCols, leastExpr, argmin, probeCase, cellsValues). */
  private def coarseSnippets(d: Int, nCells: Int)
      : (String, String, String, String, String) = {
    val distCols = (0 until nCells)
      .map(c => s"${cellDistExpr("e", c, d)} AS c$c").mkString(",\n  ")
    val leastExpr = "LEAST(" + (0 until nCells).map(c => s"c$c").mkString(", ") + ")"
    val argmin = "CASE " + (0 until nCells)
      .map(c => s"WHEN c$c = m THEN $c").mkString(" ") + " END"
    val probeCase = "CASE t.cell " + (0 until nCells)
      .map(c => s"WHEN $c THEN a.c$c").mkString(" ") + " END"
    val cellsValues = (0 until nCells).map(c => s"($c)").mkString(",")
    (distCols, leastExpr, argmin, probeCase, cellsValues)
  }

  /** COUNT of probe-cell candidates — (qid, candidate) pairs at probe
    * depth `nprobe` — the byte-accounting numerator of the tuning sweep
    * (one column: cand_n). */
  def candCountSql(d: Int, nq: Int, nCells: Int, nprobe: Int): String = {
    val (distCols, leastExpr, argmin, probeCase, cellsValues) =
      coarseSnippets(d, nCells)
    s"""WITH asg0 AS MATERIALIZED (SELECT e.vec_id, $distCols FROM embeddings e),
       |asg AS (SELECT vec_id, $argmin AS cell
       |        FROM (SELECT *, $leastExpr AS m FROM asg0)),
       |q AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT $nq),
       |qp0 AS (SELECT q.qid, t.cell, $probeCase AS d2
       |  FROM q JOIN asg0 a ON a.vec_id = q.qid
       |  CROSS JOIN (VALUES $cellsValues) AS t(cell)),
       |qp AS (SELECT qid, cell FROM (
       |    SELECT qid, cell,
       |      row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cell ASC) AS pr
       |    FROM qp0) WHERE pr <= $nprobe)
       |SELECT COUNT(*) AS cand_n FROM qp JOIN asg a ON a.cell = qp.cell""".stripMargin
  }

  /**
   * Recall-vs-nprobe sweep over the IVF-SQ8 rung
   * ([[graft.operators.Ivf.tuneNprobeSq8]]): ONE set of shared CTEs (the
   * sq8-scored candidate scan at npMax, the brute ground truth, the
   * corpus count) and one UNION ALL arm per grid point — each arm is a
   * proberank filter, a rerank window, an exact rescore of the bounded
   * survivor set, and the integer byte accounting.
   */
  def tuneSq8Sql(d: Int, nq: Int, k: Int, nCells: Int, nprobes: Seq[Int],
                 scaleLog2: Int, rerank: Int): String = {
    val scale = math.pow(2.0, scaleLog2)
    val npMax = nprobes.max
    val (distCols, leastExpr, argmin, probeCase, cellsValues) =
      coarseSnippets(d, nCells)
    val n2q8 = (1 to d).map(i => s"${dq("e", i, scale)}*${dq("e", i, scale)}")
      .mkString("(", " + ", ")")
    val bCode = d.toLong
    val bFull = 4L * d
    val denom = OracleGen.dlit((bFull * nq).toDouble)
    val arms = nprobes.sorted.map { np =>
      s"""SELECT CAST($np AS INTEGER) AS nprobe,
         |  CAST(h.hits AS BIGINT) AS hits,
         |  CAST(h.hits AS DOUBLE) / ${k * nq} AS recall,
         |  CAST(c.cand_n AS BIGINT) AS cand,
         |  CAST(f.fetched_n AS BIGINT) AS fetched,
         |  CAST(c.cand_n * $bCode AS BIGINT) AS bytes_cheap,
         |  CAST(f.fetched_n * $bFull AS BIGINT) AS bytes_rescore,
         |  1.0 - (CAST(c.cand_n * $bCode + f.fetched_n * $bFull AS DOUBLE) /
         |         (CAST(n.n_total AS DOUBLE) * $denom)) AS save
         |FROM
         | (SELECT COUNT(*) AS hits FROM
         |    (SELECT qid, id FROM (
         |       SELECT r.qid, r.id,
         |         row_number() OVER (PARTITION BY r.qid ORDER BY r.score DESC, r.id ASC) AS rnk
         |       FROM (SELECT s.qid, s.id,
         |               ${EmbOracle.dotE("e.embedding", "qe.embedding", d)} /
         |                 (${fn("ne.n2")} * ${fn("nq2.n2")}) AS score
         |             FROM (SELECT qid, id FROM (
         |                     SELECT qid, id,
         |                       row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
         |                     FROM cand WHERE pr <= $np) WHERE rn <= $rerank) s
         |             JOIN embeddings e ON e.vec_id = s.id
         |             JOIN embeddings qe ON qe.vec_id = s.qid
         |             JOIN nrm ne ON ne.vec_id = s.id
         |             JOIN nrm nq2 ON nq2.vec_id = s.qid) r) WHERE rnk <= $k) t
         |    JOIN bt ON bt.qid = t.qid AND bt.id = t.id) h,
         | (SELECT COUNT(*) AS cand_n FROM cand WHERE pr <= $np) c,
         | (SELECT COUNT(*) AS fetched_n FROM (
         |    SELECT qid, id,
         |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
         |    FROM cand WHERE pr <= $np) WHERE rn <= $rerank) f,
         | ntot n""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH asg0 AS MATERIALIZED (SELECT e.vec_id, $distCols FROM embeddings e),
       |asg AS MATERIALIZED (SELECT vec_id, $argmin AS cell
       |        FROM (SELECT *, $leastExpr AS m FROM asg0)),
       |${EmbOracle.nrmCte(d)},
       |q8n AS MATERIALIZED (SELECT e.vec_id, $n2q8 AS n2q8 FROM embeddings e),
       |q AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT $nq),
       |qp0 AS (SELECT q.qid, t.cell, $probeCase AS d2
       |  FROM q JOIN asg0 a ON a.vec_id = q.qid
       |  CROSS JOIN (VALUES $cellsValues) AS t(cell)),
       |qpr AS (SELECT qid, cell, pr FROM (
       |    SELECT qid, cell,
       |      row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cell ASC) AS pr
       |    FROM qp0) WHERE pr <= $npMax),
       |cand AS MATERIALIZED (SELECT qpr.qid, a.vec_id AS id, qpr.pr,
       |    ${qdotE("e", "qe", d, scale)} / (${fn("q8.n2q8")} * ${fn("nq2.n2")}) AS score
       |  FROM qpr JOIN asg a ON a.cell = qpr.cell
       |  JOIN embeddings e ON e.vec_id = a.vec_id
       |  JOIN embeddings qe ON qe.vec_id = qpr.qid
       |  JOIN q8n q8 ON q8.vec_id = a.vec_id
       |  JOIN nrm nq2 ON nq2.vec_id = qpr.qid),
       |bt AS MATERIALIZED (SELECT qid, id FROM (${EmbOracle.bruteSql(d, nq, k)})),
       |ntot AS MATERIALIZED (SELECT COUNT(*) AS n_total FROM embeddings)
       |$arms""".stripMargin
  }

  /**
   * Recall-vs-nprobe sweep over the full-precision IVF rung
   * ([[graft.operators.Ivf.tuneNprobe]]): ONE materialized exact-scored
   * candidate scan at npMax + one brute GT, one UNION ALL arm per grid
   * point (a probe-rank filter + rank cut + hit count + byte accounting).
   * Replaces the per-arm re-statement of the whole IVF pipeline that made
   * the round-10 oracle 728 KB of SQL and a DuckDB re-evaluation hazard.
   */
  def tuneNprobeSql(d: Int, nq: Int, k: Int, nCells: Int,
                    nprobes: Seq[Int]): String = {
    val npMax = nprobes.max
    val (distCols, leastExpr, argmin, probeCase, cellsValues) =
      coarseSnippets(d, nCells)
    val bFull = 4L * d
    val denom = OracleGen.dlit((bFull * nq).toDouble)
    val arms = nprobes.sorted.map { np =>
      s"""SELECT CAST($np AS INTEGER) AS nprobe, CAST(h.hits AS BIGINT) AS hits,
         |  CAST(h.hits AS DOUBLE) / ${k * nq} AS recall,
         |  CAST(c.cand_n AS BIGINT) AS cand,
         |  CAST(c.cand_n * $bFull AS BIGINT) AS bytes_cheap,
         |  1.0 - (CAST(c.cand_n * $bFull AS DOUBLE) /
         |         (CAST(n.n_total AS DOUBLE) * $denom)) AS save
         |FROM
         | (SELECT COUNT(*) AS hits FROM
         |    (SELECT qid, id FROM (
         |       SELECT qid, id,
         |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
         |       FROM cand WHERE pr <= $np) WHERE rnk <= $k) t
         |    JOIN bt ON bt.qid = t.qid AND bt.id = t.id) h,
         | (SELECT COUNT(*) AS cand_n FROM cand WHERE pr <= $np) c,
         | ntot n""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH asg0 AS MATERIALIZED (SELECT e.vec_id, $distCols FROM embeddings e),
       |asg AS MATERIALIZED (SELECT vec_id, $argmin AS cell
       |        FROM (SELECT *, $leastExpr AS m FROM asg0)),
       |${EmbOracle.nrmCte(d)},
       |q AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT $nq),
       |qp0 AS (SELECT q.qid, t.cell, $probeCase AS d2
       |  FROM q JOIN asg0 a ON a.vec_id = q.qid
       |  CROSS JOIN (VALUES $cellsValues) AS t(cell)),
       |qpr AS (SELECT qid, cell, pr FROM (
       |    SELECT qid, cell,
       |      row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cell ASC) AS pr
       |    FROM qp0) WHERE pr <= $npMax),
       |cand AS MATERIALIZED (SELECT qpr.qid, a.vec_id AS id, qpr.pr,
       |    ${EmbOracle.dotE("e.embedding", "qe.embedding", d)} /
       |      (${fn("ne.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM qpr JOIN asg a ON a.cell = qpr.cell
       |  JOIN embeddings e ON e.vec_id = a.vec_id
       |  JOIN embeddings qe ON qe.vec_id = qpr.qid
       |  JOIN nrm ne ON ne.vec_id = a.vec_id
       |  JOIN nrm nq2 ON nq2.vec_id = qpr.qid),
       |bt AS MATERIALIZED (SELECT qid, id FROM (${EmbOracle.bruteSql(d, nq, k)})),
       |ntot AS MATERIALIZED (SELECT COUNT(*) AS n_total FROM embeddings)
       |$arms""".stripMargin
  }

  /**
   * The 2-D (nprobe x rerank) grid ([[graft.operators.Ivf.tuneGridSq8]]):
   * [[tuneSq8Sql]]'s shared CTEs, one UNION ALL arm per grid point —
   * each arm a proberank filter, a rank cut at its own depth, a bounded
   * exact rescore, and the byte accounting.
   */
  def tuneGridSql(d: Int, nq: Int, k: Int, nCells: Int, nprobes: Seq[Int],
                  reranks: Seq[Int], scaleLog2: Int): String = {
    val scale = math.pow(2.0, scaleLog2)
    val npMax = nprobes.max
    val (distCols, leastExpr, argmin, probeCase, cellsValues) =
      coarseSnippets(d, nCells)
    val n2q8 = (1 to d).map(i => s"${dq("e", i, scale)}*${dq("e", i, scale)}")
      .mkString("(", " + ", ")")
    val bCode = d.toLong
    val bFull = 4L * d
    val denom = OracleGen.dlit((bFull * nq).toDouble)
    val arms = (for (np <- nprobes.sorted; rr <- reranks.sorted) yield {
      s"""SELECT CAST($np AS INTEGER) AS nprobe,
         |  CAST($rr AS INTEGER) AS rerank,
         |  CAST(h.hits AS BIGINT) AS hits,
         |  CAST(h.hits AS DOUBLE) / ${k * nq} AS recall,
         |  CAST(c.cand_n AS BIGINT) AS cand,
         |  CAST(f.fetched_n AS BIGINT) AS fetched,
         |  CAST(c.cand_n * $bCode AS BIGINT) AS bytes_cheap,
         |  CAST(f.fetched_n * $bFull AS BIGINT) AS bytes_rescore,
         |  1.0 - (CAST(c.cand_n * $bCode + f.fetched_n * $bFull AS DOUBLE) /
         |         (CAST(n.n_total AS DOUBLE) * $denom)) AS save
         |FROM
         | (SELECT COUNT(*) AS hits FROM
         |    (SELECT qid, id FROM (
         |       SELECT r.qid, r.id,
         |         row_number() OVER (PARTITION BY r.qid ORDER BY r.score DESC, r.id ASC) AS rnk
         |       FROM (SELECT s.qid, s.id,
         |               ${EmbOracle.dotE("e.embedding", "qe.embedding", d)} /
         |                 (${fn("ne.n2")} * ${fn("nq2.n2")}) AS score
         |             FROM (SELECT qid, id FROM (
         |                     SELECT qid, id,
         |                       row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
         |                     FROM cand WHERE pr <= $np) WHERE rn <= $rr) s
         |             JOIN embeddings e ON e.vec_id = s.id
         |             JOIN embeddings qe ON qe.vec_id = s.qid
         |             JOIN nrm ne ON ne.vec_id = s.id
         |             JOIN nrm nq2 ON nq2.vec_id = s.qid) r) WHERE rnk <= $k) t
         |    JOIN bt ON bt.qid = t.qid AND bt.id = t.id) h,
         | (SELECT COUNT(*) AS cand_n FROM cand WHERE pr <= $np) c,
         | (SELECT COUNT(*) AS fetched_n FROM (
         |    SELECT qid, id,
         |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
         |    FROM cand WHERE pr <= $np) WHERE rn <= $rr) f,
         | ntot n""".stripMargin
    }).mkString("\nUNION ALL\n")
    s"""WITH asg0 AS MATERIALIZED (SELECT e.vec_id, $distCols FROM embeddings e),
       |asg AS MATERIALIZED (SELECT vec_id, $argmin AS cell
       |        FROM (SELECT *, $leastExpr AS m FROM asg0)),
       |${EmbOracle.nrmCte(d)},
       |q8n AS MATERIALIZED (SELECT e.vec_id, $n2q8 AS n2q8 FROM embeddings e),
       |q AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT $nq),
       |qp0 AS (SELECT q.qid, t.cell, $probeCase AS d2
       |  FROM q JOIN asg0 a ON a.vec_id = q.qid
       |  CROSS JOIN (VALUES $cellsValues) AS t(cell)),
       |qpr AS (SELECT qid, cell, pr FROM (
       |    SELECT qid, cell,
       |      row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cell ASC) AS pr
       |    FROM qp0) WHERE pr <= $npMax),
       |cand AS MATERIALIZED (SELECT qpr.qid, a.vec_id AS id, qpr.pr,
       |    ${qdotE("e", "qe", d, scale)} / (${fn("q8.n2q8")} * ${fn("nq2.n2")}) AS score
       |  FROM qpr JOIN asg a ON a.cell = qpr.cell
       |  JOIN embeddings e ON e.vec_id = a.vec_id
       |  JOIN embeddings qe ON qe.vec_id = qpr.qid
       |  JOIN q8n q8 ON q8.vec_id = a.vec_id
       |  JOIN nrm nq2 ON nq2.vec_id = qpr.qid),
       |bt AS MATERIALIZED (SELECT qid, id FROM (${EmbOracle.bruteSql(d, nq, k)})),
       |ntot AS MATERIALIZED (SELECT COUNT(*) AS n_total FROM embeddings)
       |$arms""".stripMargin
  }

  /** [[tuneGridSql]] plus the 2-D operating-point choice — the
    * [[graft.operators.Ivf.chooseGridSq8]] mirror: highest save among
    * rows clearing the recall floor (else highest recall), ties to the
    * smaller (nprobe, rerank). */
  def chooseGridSql(d: Int, nq: Int, k: Int, nCells: Int,
                    nprobes: Seq[Int], reranks: Seq[Int], scaleLog2: Int,
                    recallFloor: Double): String =
    s"""WITH m AS MATERIALIZED (${tuneGridSql(d, nq, k, nCells, nprobes, reranks, scaleLog2)}),
       |flag AS MATERIALIZED (SELECT CASE
       |    WHEN MAX(CASE WHEN recall >= ${OracleGen.dlit(recallFloor)} THEN 1 ELSE 0 END) = 1
       |    THEN 1 ELSE 0 END AS any_meet FROM m),
       |sel AS MATERIALIZED (SELECT m.nprobe, m.rerank FROM m, flag
       |  WHERE flag.any_meet = 0 OR m.recall >= ${OracleGen.dlit(recallFloor)}
       |  ORDER BY CASE WHEN flag.any_meet = 1 THEN m.save ELSE m.recall END DESC,
       |    m.nprobe ASC, m.rerank ASC
       |  LIMIT 1)
       |SELECT nprobe, rerank, hits, recall, cand, fetched, bytes_cheap,
       |  bytes_rescore, save,
       |  (nprobe = (SELECT nprobe FROM sel) AND
       |   rerank = (SELECT rerank FROM sel)) AS chosen
       |FROM m""".stripMargin

  /**
   * Recall-vs-rerank sweep at fixed probe depth
   * ([[graft.operators.Ivf.tuneRerankSq8]]): the same shared CTEs as
   * [[tuneSq8Sql]] with the probe filter pinned at `nprobe`, one UNION
   * ALL arm per rerank depth — each arm a deeper rank cut, a bounded
   * exact rescore, and the byte accounting (bytes_cheap constant across
   * arms, bytes_rescore scaling with the cut).
   */
  def tuneRerankSql(d: Int, nq: Int, k: Int, nCells: Int, nprobe: Int,
                    scaleLog2: Int, reranks: Seq[Int]): String = {
    val scale = math.pow(2.0, scaleLog2)
    val (distCols, leastExpr, argmin, probeCase, cellsValues) =
      coarseSnippets(d, nCells)
    val n2q8 = (1 to d).map(i => s"${dq("e", i, scale)}*${dq("e", i, scale)}")
      .mkString("(", " + ", ")")
    val bCode = d.toLong
    val bFull = 4L * d
    val denom = OracleGen.dlit((bFull * nq).toDouble)
    val arms = reranks.sorted.map { rr =>
      s"""SELECT CAST($rr AS INTEGER) AS rerank,
         |  CAST(h.hits AS BIGINT) AS hits,
         |  CAST(h.hits AS DOUBLE) / ${k * nq} AS recall,
         |  CAST(c.cand_n AS BIGINT) AS cand,
         |  CAST(f.fetched_n AS BIGINT) AS fetched,
         |  CAST(c.cand_n * $bCode AS BIGINT) AS bytes_cheap,
         |  CAST(f.fetched_n * $bFull AS BIGINT) AS bytes_rescore,
         |  1.0 - (CAST(c.cand_n * $bCode + f.fetched_n * $bFull AS DOUBLE) /
         |         (CAST(n.n_total AS DOUBLE) * $denom)) AS save
         |FROM
         | (SELECT COUNT(*) AS hits FROM
         |    (SELECT qid, id FROM (
         |       SELECT r.qid, r.id,
         |         row_number() OVER (PARTITION BY r.qid ORDER BY r.score DESC, r.id ASC) AS rnk
         |       FROM (SELECT s.qid, s.id,
         |               ${EmbOracle.dotE("e.embedding", "qe.embedding", d)} /
         |                 (${fn("ne.n2")} * ${fn("nq2.n2")}) AS score
         |             FROM (SELECT qid, id FROM (
         |                     SELECT qid, id,
         |                       row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
         |                     FROM cand) WHERE rn <= $rr) s
         |             JOIN embeddings e ON e.vec_id = s.id
         |             JOIN embeddings qe ON qe.vec_id = s.qid
         |             JOIN nrm ne ON ne.vec_id = s.id
         |             JOIN nrm nq2 ON nq2.vec_id = s.qid) r) WHERE rnk <= $k) t
         |    JOIN bt ON bt.qid = t.qid AND bt.id = t.id) h,
         | (SELECT COUNT(*) AS cand_n FROM cand) c,
         | (SELECT COUNT(*) AS fetched_n FROM (
         |    SELECT qid, id,
         |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
         |    FROM cand) WHERE rn <= $rr) f,
         | ntot n""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH asg0 AS MATERIALIZED (SELECT e.vec_id, $distCols FROM embeddings e),
       |asg AS MATERIALIZED (SELECT vec_id, $argmin AS cell
       |        FROM (SELECT *, $leastExpr AS m FROM asg0)),
       |${EmbOracle.nrmCte(d)},
       |q8n AS MATERIALIZED (SELECT e.vec_id, $n2q8 AS n2q8 FROM embeddings e),
       |q AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT $nq),
       |qp0 AS (SELECT q.qid, t.cell, $probeCase AS d2
       |  FROM q JOIN asg0 a ON a.vec_id = q.qid
       |  CROSS JOIN (VALUES $cellsValues) AS t(cell)),
       |qpr AS (SELECT qid, cell FROM (
       |    SELECT qid, cell,
       |      row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cell ASC) AS pr
       |    FROM qp0) WHERE pr <= $nprobe),
       |cand AS MATERIALIZED (SELECT qpr.qid, a.vec_id AS id,
       |    ${qdotE("e", "qe", d, scale)} / (${fn("q8.n2q8")} * ${fn("nq2.n2")}) AS score
       |  FROM qpr JOIN asg a ON a.cell = qpr.cell
       |  JOIN embeddings e ON e.vec_id = a.vec_id
       |  JOIN embeddings qe ON qe.vec_id = qpr.qid
       |  JOIN q8n q8 ON q8.vec_id = a.vec_id
       |  JOIN nrm nq2 ON nq2.vec_id = qpr.qid),
       |bt AS MATERIALIZED (SELECT qid, id FROM (${EmbOracle.bruteSql(d, nq, k)})),
       |ntot AS MATERIALIZED (SELECT COUNT(*) AS n_total FROM embeddings)
       |$arms""".stripMargin
  }

  /** [[tuneSq8Sql]] plus the operating-point choice — the
    * [[graft.operators.Ivf.chooseNprobeSq8]] mirror, same shape as
    * `RefineOracle.tuneSql`: highest save among rows clearing the recall
    * floor (else highest recall), ties to the smaller nprobe. */
  def chooseSq8Sql(d: Int, nq: Int, k: Int, nCells: Int, nprobes: Seq[Int],
                   scaleLog2: Int, rerank: Int, recallFloor: Double): String =
    s"""WITH m AS MATERIALIZED (${tuneSq8Sql(d, nq, k, nCells, nprobes, scaleLog2, rerank)}),
       |flag AS MATERIALIZED (SELECT CASE
       |    WHEN MAX(CASE WHEN recall >= ${OracleGen.dlit(recallFloor)} THEN 1 ELSE 0 END) = 1
       |    THEN 1 ELSE 0 END AS any_meet FROM m),
       |sel AS MATERIALIZED (SELECT m.nprobe FROM m, flag
       |  WHERE flag.any_meet = 0 OR m.recall >= ${OracleGen.dlit(recallFloor)}
       |  ORDER BY CASE WHEN flag.any_meet = 1 THEN m.save ELSE m.recall END DESC,
       |    m.nprobe ASC
       |  LIMIT 1)
       |SELECT nprobe, hits, recall, cand, fetched, bytes_cheap,
       |  bytes_rescore, save,
       |  nprobe = (SELECT nprobe FROM sel) AS chosen
       |FROM m""".stripMargin

  /** Shared CTE chain of the k-NN graph build, through `gfull`
    * (qid, id, score, rnk <= j) — the graph edge list with scores.
    * `excludeMod` > 0 removes vec_id ≡ 0 (mod m) from BOTH the node set
    * and the candidate pool (the deleted-graph twin). */
  private def knnGraphCtes(d: Int, j: Int, nCells: Int, nprobe: Int,
                           excludeMod: Int = 0,
                           updatedNegMod: Int = 0): String = {
    require(excludeMod == 0 || updatedNegMod == 0,
      "deletes and upserts are separate fixture commits")
    val (distCols, leastExpr, argmin, probeCase, cellsValues) =
      coarseSnippets(d, nCells)
    val qWhere =
      if (excludeMod <= 0) "" else s" WHERE vec_id % $excludeMod <> 0"
    val candWhere =
      if (excludeMod <= 0) "" else s" AND a.vec_id % $excludeMod <> 0"
    // the upsert view: every role of the corpus vector (assignment,
    // probes, node query, candidate) switches to the negated copy for
    // updated ids — graph nodes ARE corpus vectors, unlike the serving
    // rungs where queries are external. Norms are shared (negation
    // preserves them bit-for-bit).
    val src = if (updatedNegMod > 0) "embu" else "embeddings"
    val embuCte =
      if (updatedNegMod <= 0) ""
      else s"""embu AS (SELECT vec_id,
              |    CASE WHEN vec_id % $updatedNegMod = 0
              |      THEN list_transform(embedding, x -> -x)
              |      ELSE embedding END AS embedding
              |  FROM embeddings),
              |""".stripMargin
    s"""${embuCte}asg0 AS MATERIALIZED (SELECT e.vec_id, $distCols FROM $src e),
       |asg AS MATERIALIZED (SELECT vec_id, $argmin AS cell
       |        FROM (SELECT *, $leastExpr AS m FROM asg0)),
       |${EmbOracle.nrmCte(d)},
       |q AS (SELECT vec_id AS qid FROM embeddings$qWhere),
       |qp0 AS (SELECT q.qid, t.cell, $probeCase AS d2
       |  FROM q JOIN asg0 a ON a.vec_id = q.qid
       |  CROSS JOIN (VALUES $cellsValues) AS t(cell)),
       |qp AS (SELECT qid, cell FROM (
       |    SELECT qid, cell,
       |      row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cell ASC) AS pr
       |    FROM qp0) WHERE pr <= $nprobe),
       |cand AS (SELECT qp.qid, a.vec_id AS id
       |  FROM qp JOIN asg a ON a.cell = qp.cell
       |  WHERE a.vec_id <> qp.qid$candWhere),
       |scored AS (SELECT c.qid, c.id,
       |    ${EmbOracle.dotE("e.embedding", "qe.embedding", d)} /
       |      (${fn("ne.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM cand c
       |  JOIN $src e ON e.vec_id = c.id
       |  JOIN $src qe ON qe.vec_id = c.qid
       |  JOIN nrm ne ON ne.vec_id = c.id
       |  JOIN nrm nq2 ON nq2.vec_id = c.qid),
       |gfull AS MATERIALIZED (SELECT qid, id, score, rnk FROM (
       |  SELECT qid, id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
       |  FROM scored) WHERE rnk <= $j)""".stripMargin
  }

  /** The k-NN graph build ([[graft.operators.Ivf.knnGraph]]): the probe
    * pipeline with EVERY vector as its own query and the self-edge
    * excluded from candidates. `excludeMod` > 0 is the deleted-graph
    * twin ([[graft.operators.Ivf.knnGraphDelete]]); `updatedNegMod` > 0
    * the upserted twin ([[graft.operators.Ivf.knnGraphUpsert]] — the
    * rebuild over the updated view, which the incremental repair
    * provably equals). */
  def knnGraphSql(d: Int, j: Int, nCells: Int, nprobe: Int,
                  excludeMod: Int = 0, updatedNegMod: Int = 0): String =
    s"""WITH ${knnGraphCtes(d, j, nCells, nprobe, excludeMod,
          updatedNegMod)}
       |SELECT qid, CAST(rnk AS INTEGER) AS rank, id, score
       |FROM gfull""".stripMargin

  /** One NN-descent round ([[graft.operators.Ivf.knnDescend]]) over the
    * [[knnGraphSql]] graph: current edges UNION two-hop edges, exact
    * rescore, re-cut to j. */
  def knnDescentSql(d: Int, j: Int, nCells: Int, nprobe: Int): String =
    s"""WITH ${knnGraphCtes(d, j, nCells, nprobe)},
       |hop2 AS (SELECT a.qid, b.id FROM gfull a JOIN gfull b ON b.qid = a.id
       |  WHERE b.id <> a.qid),
       |cand2 AS (SELECT DISTINCT qid, id FROM (
       |  SELECT qid, id FROM gfull UNION ALL SELECT qid, id FROM hop2)),
       |scored2 AS (SELECT c.qid, c.id,
       |    ${EmbOracle.dotE("e.embedding", "qe.embedding", d)} /
       |      (${fn("ne.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM cand2 c
       |  JOIN embeddings e ON e.vec_id = c.id
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN nrm ne ON ne.vec_id = c.id
       |  JOIN nrm nq2 ON nq2.vec_id = c.qid),
       |ranked2 AS (SELECT qid, id, score,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
       |  FROM scored2)
       |SELECT qid, CAST(rnk AS INTEGER) AS rank, id, score
       |FROM ranked2 WHERE rnk <= $j""".stripMargin

  /** Semantic clusters ([[graft.operators.Dedup.connectedComponents]]
    * over the thresholded [[knnGraphSql]] edge set): transitive closure
    * via a recursive CTE, component labeled by its min id. */
  def semanticClustersSql(d: Int, j: Int, nCells: Int, nprobe: Int,
                          tau: Double): String =
    s"""WITH RECURSIVE ${knnGraphCtes(d, j, nCells, nprobe)},
       |p AS (SELECT DISTINCT LEAST(qid, id) AS doc_a, GREATEST(qid, id) AS doc_b
       |  FROM gfull WHERE score >= ${OracleGen.dlit(tau)}),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |  UNION ALL SELECT doc_b, doc_a FROM p),
       |reach AS (
       |  SELECT DISTINCT src AS doc_id, src AS lab FROM edges
       |  UNION
       |  SELECT e.src AS doc_id, r.lab
       |  FROM edges e JOIN reach r ON r.doc_id = e.dst)
       |SELECT doc_id, MIN(lab) AS comp FROM reach GROUP BY doc_id""".stripMargin

  /** SemDeDup keeper rule ([[graft.operators.Dedup.semDedup]]): the
    * [[semanticClustersSql]] components, then per-cluster the bit-
    * deterministic ordered centroid (per-(comp, j) doc_id-ordered
    * list_reduce mirroring the engine's sorted-group fold), and the
    * member with the LOWEST cosine to it ((score asc, doc_id asc) total
    * order). The member-to-centroid dot casts only the FLOAT side
    * (centroid components are already DOUBLE), in position order —
    * exactly the engine's zip_with/asum left fold. */
  def semDedupSql(d: Int, j: Int, nCells: Int, nprobe: Int,
                  tau: Double): String =
    s"""WITH RECURSIVE ${semDedupCtes(d, j, nCells, nprobe, tau)}
       |SELECT comp, doc_id AS kept_id, n_members, score AS kept_score
       |FROM ranked WHERE rnk = 1""".stripMargin

  /** The cleaned corpus ([[graft.operators.Dedup.semDedupClean]]):
    * unclustered vectors survive untouched, clustered ones only as
    * their cluster's keeper; `clustered` flags surviving keepers. */
  def semDedupCleanSql(d: Int, j: Int, nCells: Int, nprobe: Int,
                       tau: Double): String =
    s"""WITH RECURSIVE ${semDedupCtes(d, j, nCells, nprobe, tau)},
       |keep AS (SELECT doc_id FROM ranked WHERE rnk = 1)
       |SELECT e.vec_id,
       |  CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS clustered
       |FROM embeddings e
       |LEFT JOIN comp c ON c.doc_id = e.vec_id
       |WHERE c.doc_id IS NULL
       |   OR e.vec_id IN (SELECT doc_id FROM keep)""".stripMargin

  /** The shared [[semDedupSql]]/[[semDedupCleanSql]] chain, through the
    * per-cluster keeper ranking (`ranked`). */
  private def semDedupCtes(d: Int, j: Int, nCells: Int, nprobe: Int,
                           tau: Double): String = {
    val dotEm = (1 to d).map(i =>
      s"CAST(e.embedding[$i] AS DOUBLE)*mv.mvec[$i]")
      .mkString("(", " + ", ")")
    val n2m = (1 to d).map(i => s"mv.mvec[$i]*mv.mvec[$i]")
      .mkString("(", " + ", ")")
    s"""${knnGraphCtes(d, j, nCells, nprobe)},
       |p AS (SELECT DISTINCT LEAST(qid, id) AS doc_a, GREATEST(qid, id) AS doc_b
       |  FROM gfull WHERE score >= ${OracleGen.dlit(tau)}),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |  UNION ALL SELECT doc_b, doc_a FROM p),
       |reach AS (
       |  SELECT DISTINCT src AS doc_id, src AS lab FROM edges
       |  UNION
       |  SELECT e.src AS doc_id, r.lab
       |  FROM edges e JOIN reach r ON r.doc_id = e.dst),
       |comp AS MATERIALIZED (SELECT doc_id, MIN(lab) AS comp FROM reach GROUP BY doc_id),
       |mj AS (SELECT c.comp, t.j, COUNT(*) AS n,
       |    list_reduce(list(CAST(e.embedding[t.j] AS DOUBLE) ORDER BY e.vec_id),
       |      (a, v) -> a + v) AS sx
       |  FROM comp c JOIN embeddings e ON e.vec_id = c.doc_id,
       |       UNNEST(generate_series(1, $d)) AS t(j)
       |  GROUP BY c.comp, t.j),
       |mv AS MATERIALIZED (SELECT comp, list(sx / n ORDER BY j) AS mvec,
       |    MAX(n) AS n_members
       |  FROM mj GROUP BY comp),
       |sc AS (SELECT c.comp, c.doc_id, mv.n_members,
       |    $dotEm / (${fn(EmbOracle.dotE("e.embedding", "e.embedding", d))}
       |      * ${fn(n2m)}) AS score
       |  FROM comp c JOIN embeddings e ON e.vec_id = c.doc_id
       |  JOIN mv ON mv.comp = c.comp),
       |ranked AS (SELECT comp, doc_id, n_members, score,
       |  row_number() OVER (PARTITION BY comp ORDER BY score ASC, doc_id ASC) AS rnk
       |  FROM sc)""".stripMargin
  }

  /** Beam search over the [[knnGraphSql]] graph
    * ([[graft.operators.Ivf.graphSearch]]): `rounds` synchronized beam
    * rounds unrolled as chained CTEs — each round expands the beam by
    * its graph neighbors, exactly scores the union, keeps the best
    * `beam`; the final SELECT is the top-k of the last beam. The entry
    * node is per-query: the minimum id among members of the query's
    * nearest coarse cell, global-min fallback for an empty cell —
    * mirroring the engine's coarse-quantizer entry rule. */
  def graphSearchSql(d: Int, j: Int, nCells: Int, nprobe: Int, nq: Int,
                     k: Int, beam: Int, rounds: Int): String = {
    def scoreBlock(src: String, out: String) =
      s"""$out AS (SELECT c.qid, c.id,
         |    ${EmbOracle.dotE("e.embedding", "qe.embedding", d)} /
         |      (${fn("ne.n2")} * ${fn("nq2.n2")}) AS score
         |  FROM $src c
         |  JOIN embeddings e ON e.vec_id = c.id
         |  JOIN embeddings qe ON qe.vec_id = c.qid
         |  JOIN nrm ne ON ne.vec_id = c.id
         |  JOIN nrm nq2 ON nq2.vec_id = c.qid)""".stripMargin
    val roundsCtes = (1 to rounds).map { r =>
      val prev = s"b${r - 1}"
      s"""x$r AS (SELECT DISTINCT qid, id FROM (
         |  SELECT qid, id FROM $prev
         |  UNION ALL
         |  SELECT p.qid, g.id FROM $prev p JOIN gfull g ON g.qid = p.id)),
         |${scoreBlock(s"x$r", s"s$r")},
         |b$r AS MATERIALIZED (SELECT qid, id FROM (
         |    SELECT qid, id,
         |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
         |    FROM s$r) WHERE rn <= $beam)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${knnGraphCtes(d, j, nCells, nprobe)},
       |qs AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT $nq),
       |ent AS (SELECT MIN(vec_id) AS eid FROM embeddings),
       |qtop1 AS (SELECT qid, cell FROM (
       |    SELECT p.qid, p.cell,
       |      row_number() OVER (PARTITION BY p.qid ORDER BY p.d2 ASC, p.cell ASC) AS pr
       |    FROM qp0 p JOIN qs ON qs.qid = p.qid) WHERE pr = 1),
       |cellmin AS (SELECT cell, MIN(vec_id) AS mid FROM asg GROUP BY cell),
       |b0 AS MATERIALIZED (SELECT t.qid, COALESCE(c.mid, ent.eid) AS id
       |  FROM qtop1 t LEFT JOIN cellmin c ON c.cell = t.cell CROSS JOIN ent),
       |$roundsCtes,
       |${scoreBlock(s"b$rounds", "sfin")},
       |rfin AS (SELECT qid, id, score,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
       |  FROM sfin)
       |SELECT qid, CAST(rnk AS INTEGER) AS rank, id, score
       |FROM rfin WHERE rnk <= $k""".stripMargin
  }

  /**
   * LAYERED beam search ([[graft.operators.Ivf.graphSearchLayered]]):
   * the [[graphSearchSql]] base walk entered via an HNSW-style descent.
   * Upper layer `l` keeps ids ≡ 0 (mod stride^l) and connects each
   * member to its top-`jUp` nearest members through the same probe
   * pipeline (node and candidate sides both member-restricted); the
   * descent starts at the top layer's min member id (global-min
   * fallback) and runs `upperRounds` width-`upperBeam` rounds per
   * layer, then the base rounds run from the descended entry.
   */
  def layeredGraphSearchSql(d: Int, j: Int, jUp: Int, nCells: Int,
                            nprobe: Int, nq: Int, k: Int, beam: Int,
                            rounds: Int, upperRounds: Int, upperBeam: Int,
                            stride: Int, layers: Int): String = {
    def scoreBlock(src: String, out: String) =
      s"""$out AS (SELECT c.qid, c.id,
         |    ${EmbOracle.dotE("e.embedding", "qe.embedding", d)} /
         |      (${fn("ne.n2")} * ${fn("nq2.n2")}) AS score
         |  FROM $src c
         |  JOIN embeddings e ON e.vec_id = c.id
         |  JOIN embeddings qe ON qe.vec_id = c.qid
         |  JOIN nrm ne ON ne.vec_id = c.id
         |  JOIN nrm nq2 ON nq2.vec_id = c.qid)""".stripMargin
    val modTop = math.pow(stride.toDouble, layers.toDouble).toLong
    val upperCtes = (1 to layers).map { l =>
      val mod = math.pow(stride.toDouble, l.toDouble).toLong
      s"""qU$l AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id % $mod = 0),
         |qpU$l AS (SELECT qid, cell FROM (
         |    SELECT q0.qid, q0.cell,
         |      row_number() OVER (PARTITION BY q0.qid ORDER BY q0.d2 ASC, q0.cell ASC) AS pr
         |    FROM qp0 q0 JOIN qU$l u ON u.qid = q0.qid) WHERE pr <= $nprobe),
         |candU$l AS (SELECT qp.qid, a.vec_id AS id
         |  FROM qpU$l qp JOIN asg a ON a.cell = qp.cell
         |  WHERE a.vec_id <> qp.qid AND a.vec_id % $mod = 0),
         |${scoreBlock(s"candU$l", s"scoredU$l")},
         |gU$l AS MATERIALIZED (SELECT qid, id FROM (
         |  SELECT qid, id,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
         |  FROM scoredU$l) WHERE rnk <= $jUp)""".stripMargin
    }.mkString(",\n")
    // descent: upperRounds width-upperBeam rounds per layer, top down
    var prev = "u0"
    val descentCtes = (layers to 1 by -1).flatMap { l =>
      (1 to upperRounds).map { r =>
        val cte =
          s"""xu${l}_$r AS (SELECT DISTINCT qid, id FROM (
             |  SELECT qid, id FROM $prev
             |  UNION ALL
             |  SELECT p.qid, g.id FROM $prev p JOIN gU$l g ON g.qid = p.id)),
             |${scoreBlock(s"xu${l}_$r", s"su${l}_$r")},
             |du${l}_$r AS MATERIALIZED (SELECT qid, id FROM (
             |    SELECT qid, id,
             |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
             |    FROM su${l}_$r) WHERE rn <= $upperBeam)""".stripMargin
        prev = s"du${l}_$r"
        cte
      }
    }.mkString(",\n")
    val b0Src = prev
    val roundsCtes = (1 to rounds).map { r =>
      val p = if (r == 1) b0Src else s"b${r - 1}"
      s"""x$r AS (SELECT DISTINCT qid, id FROM (
         |  SELECT qid, id FROM $p
         |  UNION ALL
         |  SELECT p.qid, g.id FROM $p p JOIN gfull g ON g.qid = p.id)),
         |${scoreBlock(s"x$r", s"s$r")},
         |b$r AS MATERIALIZED (SELECT qid, id FROM (
         |    SELECT qid, id,
         |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
         |    FROM s$r) WHERE rn <= $beam)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${knnGraphCtes(d, j, nCells, nprobe)},
       |qs AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT $nq),
       |$upperCtes,
       |entL AS (SELECT COALESCE(
       |    MIN(CASE WHEN vec_id % $modTop = 0 THEN vec_id END),
       |    MIN(vec_id)) AS eid FROM embeddings),
       |u0 AS (SELECT qs.qid, e.eid AS id FROM qs CROSS JOIN entL e),
       |$descentCtes,
       |$roundsCtes,
       |${scoreBlock(s"b$rounds", "sfin")},
       |rfin AS (SELECT qid, id, score,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
       |  FROM sfin)
       |SELECT qid, CAST(rnk AS INTEGER) AS rank, id, score
       |FROM rfin WHERE rnk <= $k""".stripMargin
  }

  /** Index introspection ([[graft.operators.Ivf.indexStats]]): per-cell
    * occupancy, id range, and corpus fraction. */
  def indexStatsSql(d: Int, nCells: Int): String = {
    val (distCols, leastExpr, argmin, _, _) = coarseSnippets(d, nCells)
    s"""WITH asg0 AS MATERIALIZED (SELECT e.vec_id, $distCols FROM embeddings e),
       |asg AS (SELECT vec_id, $argmin AS cell
       |        FROM (SELECT *, $leastExpr AS m FROM asg0)),
       |ntot AS (SELECT COUNT(*) AS n_total FROM embeddings)
       |SELECT cell, CAST(COUNT(*) AS BIGINT) AS n,
       |  MIN(vec_id) AS min_id, MAX(vec_id) AS max_id,
       |  CAST(COUNT(*) AS DOUBLE) / CAST(n.n_total AS DOUBLE) AS frac
       |FROM asg, ntot n GROUP BY cell, n.n_total""".stripMargin
  }

  /** Pareto frontier of the 2-D grid
    * ([[graft.operators.Ivf.paretoGridSq8]]): rows of [[tuneGridSql]]
    * not dominated on (recall, save). */
  def paretoGridSql(d: Int, nq: Int, k: Int, nCells: Int,
                    nprobes: Seq[Int], reranks: Seq[Int],
                    scaleLog2: Int): String =
    s"""WITH m AS MATERIALIZED (${tuneGridSql(d, nq, k, nCells, nprobes, reranks, scaleLog2)})
       |SELECT nprobe, rerank, hits, recall, save FROM m a
       |WHERE NOT EXISTS (SELECT 1 FROM m b
       |  WHERE b.recall >= a.recall AND b.save >= a.save
       |    AND (b.recall > a.recall OR b.save > a.save))""".stripMargin

  /** Query-adaptive probe depth ([[graft.operators.Ivf.topkAdaptive]]):
    * probe the cells within `ratioLit` of the query's nearest centroid
    * distance, capped at npMax; exact-scored top-k plus the per-query
    * probe count. `ratioLit` is the decimal literal of a dyadic ratio so
    * both engines multiply by the identical double. */
  def adaptiveTopkSql(d: Int, nq: Int, k: Int, nCells: Int,
                      ratioLit: String, npMax: Int): String = {
    val (distCols, leastExpr, argmin, probeCase, cellsValues) =
      coarseSnippets(d, nCells)
    s"""WITH asg0 AS MATERIALIZED (SELECT e.vec_id, $distCols FROM embeddings e),
       |asg AS MATERIALIZED (SELECT vec_id, $argmin AS cell
       |        FROM (SELECT *, $leastExpr AS m FROM asg0)),
       |${EmbOracle.nrmCte(d)},
       |q AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT $nq),
       |qp0 AS (SELECT q.qid, t.cell, $probeCase AS d2
       |  FROM q JOIN asg0 a ON a.vec_id = q.qid
       |  CROSS JOIN (VALUES $cellsValues) AS t(cell)),
       |qmin AS (SELECT qid, MIN(d2) AS d2min FROM qp0 GROUP BY qid),
       |qp AS MATERIALIZED (SELECT r.qid, r.cell FROM (
       |    SELECT qid, cell, d2,
       |      row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cell ASC) AS pr
       |    FROM qp0) r JOIN qmin mn ON mn.qid = r.qid
       |  WHERE r.pr <= $npMax AND r.d2 <= mn.d2min * $ratioLit),
       |npb AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_probed
       |  FROM qp GROUP BY qid),
       |cand AS (SELECT qp.qid, a.vec_id AS id
       |  FROM qp JOIN asg a ON a.cell = qp.cell),
       |scored AS (SELECT c.qid, c.id,
       |    ${EmbOracle.dotE("e.embedding", "qe.embedding", d)} /
       |      (${fn("ne.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.id
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN nrm ne ON ne.vec_id = c.id
       |  JOIN nrm nq2 ON nq2.vec_id = c.qid),
       |ranked AS (SELECT qid, id, score,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
       |  FROM scored)
       |SELECT r.qid, CAST(r.rnk AS INTEGER) AS rank, r.id, r.score,
       |  npb.n_probed
       |FROM ranked r JOIN npb ON npb.qid = r.qid WHERE r.rnk <= $k""".stripMargin
  }

  /** Recall@R curve ([[graft.operators.Ivf.recallAtR]]): one ranked
    * probe-rung pass + one brute pass at max(rs); each curve point a
    * rank cut + a hit count. */
  def recallAtRSql(d: Int, nq: Int, nCells: Int, nprobe: Int,
                   rs: Seq[Int]): String = {
    val rMax = rs.max
    val (distCols, leastExpr, argmin, probeCase, cellsValues) =
      coarseSnippets(d, nCells)
    val arms = rs.sorted.map { r =>
      s"""SELECT CAST($r AS INTEGER) AS r, CAST(h.hits AS BIGINT) AS hits,
         |  CAST(h.hits AS DOUBLE) / ${r * nq} AS recall
         |FROM (SELECT COUNT(*) AS hits FROM
         |  (SELECT qid, id FROM rankedp WHERE rnk <= $r) t
         |  JOIN (SELECT qid, id FROM bt WHERE rank <= $r) b
         |    ON b.qid = t.qid AND b.id = t.id) h""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH asg0 AS MATERIALIZED (SELECT e.vec_id, $distCols FROM embeddings e),
       |asg AS MATERIALIZED (SELECT vec_id, $argmin AS cell
       |        FROM (SELECT *, $leastExpr AS m FROM asg0)),
       |${EmbOracle.nrmCte(d)},
       |q AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT $nq),
       |qp0 AS (SELECT q.qid, t.cell, $probeCase AS d2
       |  FROM q JOIN asg0 a ON a.vec_id = q.qid
       |  CROSS JOIN (VALUES $cellsValues) AS t(cell)),
       |qp AS (SELECT qid, cell FROM (
       |    SELECT qid, cell,
       |      row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cell ASC) AS pr
       |    FROM qp0) WHERE pr <= $nprobe),
       |candp AS (SELECT qp.qid, a.vec_id AS id
       |  FROM qp JOIN asg a ON a.cell = qp.cell),
       |scoredp AS (SELECT c.qid, c.id,
       |    ${EmbOracle.dotE("e.embedding", "qe.embedding", d)} /
       |      (${fn("ne.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM candp c
       |  JOIN embeddings e ON e.vec_id = c.id
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN nrm ne ON ne.vec_id = c.id
       |  JOIN nrm nq2 ON nq2.vec_id = c.qid),
       |rankedp AS MATERIALIZED (SELECT qid, id, rnk FROM (
       |  SELECT qid, id,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
       |  FROM scoredp) WHERE rnk <= $rMax),
       |bt AS MATERIALIZED (SELECT qid, id, rank
       |  FROM (${EmbOracle.bruteSql(d, nq, rMax)}))
       |$arms""".stripMargin
  }

  /**
   * The probe-pruned, per-qid-filtered vector POOL as a CTE chain
   * ending at `vtop(qid, doc_id, vscore)` — the at-rest indexed vector
   * side of the serve capstone
   * ([[graft.operators.Search.serveRequestsAt]], indexed): coarse
   * assignment, per-qid nprobe cells, candidates restricted to the
   * union of the filter langs AND each qid's own set (via the
   * enclosing `qf`), exact cosine, top-poolN per qid. References an
   * ALREADY-DEFINED `qf(qid, lang)` and `nrm` in the enclosing WITH
   * (the serve chain defines both); all CTE names are i-prefixed to
   * avoid collisions.
   */
  /** The assignment/probe/candidate CTE prefix shared by the indexed
    * serve pool and its tiered twin: ends at
    * `icand(qid, id)` — each qid's probed cells ∩ its lang — with
    * `iasg` (assignments) and `iqp` (probe pairs) in scope. Expects
    * `qf(qid, lang)` already defined by the enclosing serve chain. */
  def indexedCandCtes(d: Int, nq: Int, nCells: Int, nprobe: Int,
                      unionLangs: Seq[String],
                      src: String = "embeddings"): String = {
    val distCols = (0 until nCells)
      .map(c => s"${cellDistExpr("e", c, d)} AS c$c").mkString(",\n  ")
    val leastExpr = "LEAST(" + (0 until nCells).map(c => s"c$c").mkString(", ") + ")"
    val argmin = "CASE " + (0 until nCells)
      .map(c => s"WHEN c$c = m THEN $c").mkString(" ") + " END"
    val probeCase = "CASE t.cell " + (0 until nCells)
      .map(c => s"WHEN $c THEN a.c$c").mkString(" ") + " END"
    val cellsValues = (0 until nCells).map(c => s"($c)").mkString(",")
    val union = unionLangs.map(l => s"'$l'").mkString(", ")
    s"""iasg0 AS MATERIALIZED (SELECT e.vec_id, $distCols FROM $src e),
       |iasg AS MATERIALIZED (SELECT vec_id, $argmin AS cell
       |        FROM (SELECT *, $leastExpr AS m FROM iasg0)),
       |iq AS (SELECT vec_id AS qid FROM $src ORDER BY vec_id LIMIT $nq),
       |iqp0 AS (SELECT iq.qid, t.cell, $probeCase AS d2
       |  FROM iq JOIN iasg0 a ON a.vec_id = iq.qid
       |  CROSS JOIN (VALUES $cellsValues) AS t(cell)),
       |iqp AS (SELECT qid, cell FROM (
       |    SELECT qid, cell,
       |      row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cell ASC) AS pr
       |    FROM iqp0) WHERE pr <= $nprobe),
       |icand AS (SELECT iqp.qid, a.vec_id AS id
       |  FROM iqp JOIN iasg a ON a.cell = iqp.cell
       |  JOIN documents dmv ON a.vec_id = dmv.doc_id
       |    AND dmv.lang IN ($union)
       |  JOIN qf ON qf.qid = iqp.qid AND qf.lang = dmv.lang)""".stripMargin
  }

  def indexedFilteredPoolCtes(d: Int, nq: Int, nCells: Int, nprobe: Int,
                              unionLangs: Seq[String],
                              poolN: Int,
                              src: String = "embeddings"): String =
    s"""${indexedCandCtes(d, nq, nCells, nprobe, unionLangs, src)},
       |ivsc AS (SELECT c.qid, c.id,
       |    ${EmbOracle.dotE("e.embedding", "qe.embedding", d)} /
       |      (${fn("ne.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM icand c
       |  JOIN $src e ON e.vec_id = c.id
       |  JOIN $src qe ON qe.vec_id = c.qid
       |  JOIN nrm ne ON ne.vec_id = c.id
       |  JOIN nrm nq2 ON nq2.vec_id = c.qid),
       |vtop AS (SELECT qid, id AS doc_id, score AS vscore FROM (
       |  SELECT qid, id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
       |  FROM ivsc) WHERE rnk <= $poolN)""".stripMargin

  /** `langs` nonempty = the filtered-index variant: candidates restricted
    * to the metadata predicate (joined on vec_id = doc_id, exactly the
    * rows the at-rest layout stores beside the vectors), lang in the
    * output. Empty = the plain probe scan. */
  def topkSql(d: Int, nq: Int, k: Int, nCells: Int, nprobe: Int,
              langs: Seq[String] = Nil,
              filterRel: Seq[(Long, String)] = Nil,
              relPath: Option[String] = None,
              relKind: String = "filter",
              groupByLang: Boolean = false,
              nprobeRel: Seq[(Long, Int)] = Nil): String = {
    require(langs.isEmpty || filterRel.isEmpty,
      "langs and filterRel are alternative filter forms")
    require(!groupByLang || filterRel.nonEmpty,
      "groupByLang needs the per-qid relation")
    // per-qid filter/facet relation ([[graft.operators.Search
    // .filteredTopKIndexedMulti]] / [[graft.operators.Search
    // .groupedTopKIndexedMulti]]): union-of-langs predicate on the
    // candidates plus the (qid, lang) membership join — stored table
    // (kind = `relKind`) or VALUES, mirroring the engine's two-stage cut
    val qfCte = if (filterRel.isEmpty) "" else {
      val body = relPath match {
        case Some(p) =>
          s"SELECT qid, lang FROM read_parquet('$p/*.parquet')" +
            s" WHERE kind = '$relKind'"
        case None =>
          val rows = filterRel.map { case (qid, l) => s"($qid, '$l')" }
            .mkString(", ")
          s"SELECT CAST(qid AS BIGINT) AS qid, lang" +
            s"\n  FROM (VALUES $rows) AS v(qid, lang)"
      }
      s"\nqf AS ($body),"
    }
    // per-qid probe depth ([[graft.operators.Ivf.topkIndexedMultiProbe]]):
    // the (qid, np) relation — stored table (kind = 'nprobe', np in the
    // pos column) or VALUES — bounds each query's own probe rank
    val nprCte = if (nprobeRel.isEmpty) "" else {
      val body = relPath match {
        case Some(p) =>
          s"SELECT qid, pos AS np FROM read_parquet('$p/*.parquet')" +
            s" WHERE kind = 'nprobe'"
        case None =>
          val rows = nprobeRel.map { case (qid, np) => s"($qid, $np)" }
            .mkString(", ")
          s"SELECT CAST(qid AS BIGINT) AS qid, CAST(np AS INTEGER) AS np" +
            s"\n  FROM (VALUES $rows) AS v(qid, np)"
      }
      s"\nnpr AS ($body),"
    }
    val prBound =
      if (nprobeRel.isEmpty) s"t2.pr <= $nprobe"
      else "t2.pr <= npr.np"
    val prJoin =
      if (nprobeRel.isEmpty) " t2"
      else " t2 JOIN npr ON npr.qid = t2.qid"
    val candFilter =
      if (filterRel.nonEmpty) {
        val union = filterRel.map(_._2).distinct
          .map(l => s"'$l'").mkString(", ")
        s"\n  JOIN documents dm ON a.vec_id = dm.doc_id" +
          s" AND dm.lang IN ($union)" +
          s"\n  JOIN qf ON qf.qid = qp.qid AND qf.lang = dm.lang"
      } else if (langs.isEmpty) ""
      else s"\n  JOIN documents dm ON a.vec_id = dm.doc_id" +
        s" AND dm.lang IN (${langs.map(l => s"'$l'").mkString(", ")})"
    val withLang = langs.nonEmpty || filterRel.nonEmpty
    val candSel = if (!withLang) "" else ", dm.lang"
    val langSel = if (!withLang) "" else ", lang"
    val distCols = (0 until nCells)
      .map(c => s"${cellDistExpr("e", c, d)} AS c$c").mkString(",\n  ")
    val leastExpr = "LEAST(" + (0 until nCells).map(c => s"c$c").mkString(", ") + ")"
    val argmin = "CASE " + (0 until nCells)
      .map(c => s"WHEN c$c = m THEN $c").mkString(" ") + " END"
    val probeCase = "CASE t.cell " + (0 until nCells)
      .map(c => s"WHEN $c THEN a.c$c").mkString(" ") + " END"
    val cellsValues = (0 until nCells).map(c => s"($c)").mkString(",")
    s"""WITH asg0 AS MATERIALIZED (SELECT e.vec_id, $distCols FROM embeddings e),
       |asg AS MATERIALIZED (SELECT vec_id, $argmin AS cell
       |        FROM (SELECT *, $leastExpr AS m FROM asg0)),
       |${EmbOracle.nrmCte(d)},$qfCte$nprCte
       |q AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT $nq),
       |qp0 AS (SELECT q.qid, t.cell, $probeCase AS d2
       |  FROM q JOIN asg0 a ON a.vec_id = q.qid
       |  CROSS JOIN (VALUES $cellsValues) AS t(cell)),
       |qp AS (SELECT t2.qid, t2.cell FROM (
       |    SELECT qid, cell,
       |      row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cell ASC) AS pr
       |    FROM qp0)$prJoin WHERE $prBound),
       |cand AS (SELECT qp.qid, a.vec_id AS id$candSel
       |  FROM qp JOIN asg a ON a.cell = qp.cell$candFilter),
       |scored AS (SELECT c.qid, c.id$langSel,
       |    ${EmbOracle.dotE("e.embedding", "qe.embedding", d)} /
       |      (${fn("ne.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.id
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN nrm ne ON ne.vec_id = c.id
       |  JOIN nrm nq2 ON nq2.vec_id = c.qid),
       |ranked AS (SELECT qid, id$langSel, score,
       |  row_number() OVER (PARTITION BY qid${
        if (groupByLang) ", lang" else ""} ORDER BY score DESC, id ASC) AS rnk
       |  FROM scored)
       |SELECT ${
        // groupByLang mirrors the engine's (qid, lang, rank, id, score)
        // column ORDER, not just its names — the driver compare is
        // name-based so either order hashes the same, but keeping the
        // oracle order identical to the engine (as every other multi
        // oracle does) avoids a gratuitous inconsistency
        if (groupByLang) "qid, lang, CAST(rnk AS INTEGER) AS rank, id, score"
        else s"qid, CAST(rnk AS INTEGER) AS rank, id, score$langSel"}
       |FROM ranked WHERE rnk <= $k""".stripMargin
  }
}
