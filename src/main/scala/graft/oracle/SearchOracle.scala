package graft.oracle

import graft.operators.Search.Bm25Stats

/**
 * DuckDB oracle SQL for [[graft.operators.Search]]: filtered / range
 * vector search, BM25 lexical retrieval, and hybrid RRF fusion.
 *
 * Vector scores reuse [[EmbOracle]]'s explicit left-fold dot product so
 * doubles are bit-identical. BM25's idf constants are embedded as
 * double literals from the SAME driver-side `Math.log` the Spark plan
 * baked in (DuckDB's `ln` differs from the JVM's in the last ulp on
 * ~0.1% of inputs); the oracle still recomputes df itself and only
 * applies the literal when its own df agrees — a wrong df falls through
 * to the ln form and hash-mismatches, so the shared constant never masks
 * a data defect.
 */
object SearchOracle {
  import OracleGen.dlit

  private def fn(x: String) = s"GREATEST(sqrt($x), 1e-12)"

  /** The multi-query relation CTE body: reads the STORED fixture table
    * (the same parquet the engine binds from) when its path is known,
    * falling back to inline VALUES (of the identical rows — the table
    * writer's input) from a session-less JVM. `cols` names the long-form
    * columns the kind uses. */
  private def relCte(relPath: Option[String], kind: String, cols: String,
                     valuesForm: String): String = relPath match {
    case Some(p) =>
      s"SELECT $cols FROM read_parquet('$p/*.parquet') WHERE kind = '$kind'"
    case None => valuesForm
  }

  /** Metadata-filtered top-k (pre-filter semantics): candidates joined to
    * documents on vec_id = doc_id, lang IN (...), then ranked per query. */
  /** Grouped (faceted) top-k ([[graft.operators.Search.groupedTopK]]):
    * best k per (query, lang) from one scored scan, ranked by a window
    * over (qid, lang). */
  def groupedSql(d: Int, nq: Int, k: Int): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |           ORDER BY vec_id LIMIT $nq),
       |${EmbOracle.nrmCte(d)},
       |cand AS (SELECT e.vec_id AS id, e.embedding, dm.lang
       |  FROM embeddings e JOIN documents dm ON e.vec_id = dm.doc_id),
       |sc AS (SELECT q.qid, c.id, c.lang,
       |    ${EmbOracle.dotE("c.embedding", "q.qv", d)} AS dp
       |  FROM cand c CROSS JOIN q),
       |scored AS (SELECT sc.qid, sc.id, sc.lang,
       |    sc.dp / (${fn("ni.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM sc JOIN nrm ni ON sc.id = ni.vec_id
       |          JOIN nrm nq2 ON sc.qid = nq2.vec_id),
       |ranked AS (SELECT qid, id, lang, score,
       |  row_number() OVER (PARTITION BY qid, lang ORDER BY score DESC, id ASC) AS rnk
       |  FROM scored)
       |SELECT qid, lang, CAST(rnk AS INTEGER) AS rank, id, score
       |FROM ranked WHERE rnk <= $k""".stripMargin

  def filteredSql(d: Int, nq: Int, k: Int, langs: Seq[String]): String = {
    val inList = langs.map(l => s"'$l'").mkString(", ")
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |           ORDER BY vec_id LIMIT $nq),
       |${EmbOracle.nrmCte(d)},
       |cand AS (SELECT e.vec_id AS id, e.embedding, dm.lang
       |  FROM embeddings e JOIN documents dm ON e.vec_id = dm.doc_id
       |  WHERE dm.lang IN ($inList)),
       |sc AS (SELECT q.qid, c.id, c.lang,
       |    ${EmbOracle.dotE("c.embedding", "q.qv", d)} AS dp
       |  FROM cand c CROSS JOIN q),
       |scored AS (SELECT sc.qid, sc.id, sc.lang,
       |    sc.dp / (${fn("ni.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM sc JOIN nrm ni ON sc.id = ni.vec_id
       |          JOIN nrm nq2 ON sc.qid = nq2.vec_id),
       |ranked AS (SELECT qid, id, lang, score,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
       |  FROM scored)
       |SELECT qid, CAST(rnk AS INTEGER) AS rank, id, score, lang
       |FROM ranked WHERE rnk <= $k""".stripMargin
  }

  /** Per-query metadata filters ([[graft.operators.Search
    * .filteredTopKMulti]]): the (qid, lang) relation as VALUES, candidacy
    * one equi-join against it, ranks per qid. */
  def filteredMultiSql(d: Int, filters: Seq[(Long, String)],
                       k: Int, relPath: Option[String] = None): String = {
    val nq = (filters.map(_._1).max + 1).toInt
    val qfRows = filters.map { case (qid, l) => s"($qid, '$l')" }
      .mkString(", ")
    val qfBody = relCte(relPath, "filter", "qid, lang",
      s"SELECT CAST(qid AS BIGINT) AS qid, lang" +
        s"\n  FROM (VALUES $qfRows) AS v(qid, lang)")
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |           ORDER BY vec_id LIMIT $nq),
       |${EmbOracle.nrmCte(d)},
       |qf AS ($qfBody),
       |cand AS (SELECT e.vec_id AS id, e.embedding, dm.lang
       |  FROM embeddings e JOIN documents dm ON e.vec_id = dm.doc_id),
       |sc AS (SELECT q.qid, c.id, c.lang,
       |    ${EmbOracle.dotE("c.embedding", "q.qv", d)} AS dp
       |  FROM cand c CROSS JOIN q
       |  JOIN qf ON qf.qid = q.qid AND qf.lang = c.lang),
       |scored AS (SELECT sc.qid, sc.id, sc.lang,
       |    sc.dp / (${fn("ni.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM sc JOIN nrm ni ON sc.id = ni.vec_id
       |          JOIN nrm nq2 ON sc.qid = nq2.vec_id),
       |ranked AS (SELECT qid, id, lang, score,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
       |  FROM scored)
       |SELECT qid, CAST(rnk AS INTEGER) AS rank, id, score, lang
       |FROM ranked WHERE rnk <= $k""".stripMargin
  }

  /** Per-query page size ([[graft.operators.Search.topKMulti]]): the
    * brute ranking to the largest requested k, each qid keeping its own
    * prefix from the (qid, k) relation — stored table (kind = 'pagek',
    * k in the pos column) or VALUES. */
  def topKMultiSql(d: Int, ks: Seq[(Long, Int)],
                   relPath: Option[String] = None): String = {
    val nq = (ks.map(_._1).max + 1).toInt
    val maxK = ks.map(_._2).max
    val qkBody = relPath match {
      case Some(p) =>
        s"SELECT qid, pos AS kq FROM read_parquet('$p/*.parquet')" +
          s" WHERE kind = 'pagek'"
      case None =>
        val rows = ks.map { case (qid, k) => s"($qid, $k)" }.mkString(", ")
        s"SELECT CAST(qid AS BIGINT) AS qid, CAST(kq AS INTEGER) AS kq" +
          s"\n  FROM (VALUES $rows) AS v(qid, kq)"
    }
    s"""WITH b AS (${EmbOracle.bruteSql(d, nq, maxK)}),
       |qk2 AS ($qkBody)
       |SELECT b.qid, b.rank, b.id, b.score
       |FROM b JOIN qk2 ON qk2.qid = b.qid WHERE b.rank <= qk2.kq""".stripMargin
  }

  /** Per-query faceted top-k ([[graft.operators.Search
    * .groupedTopKMulti]]): the (qid, lang) facet relation as VALUES,
    * candidacy one equi-join against it, ranks per (qid, lang). */
  def groupedMultiSql(d: Int, facets: Seq[(Long, String)],
                      k: Int, relPath: Option[String] = None): String = {
    val nq = (facets.map(_._1).max + 1).toInt
    val qfRows = facets.map { case (qid, l) => s"($qid, '$l')" }
      .mkString(", ")
    val qfBody = relCte(relPath, "facet", "qid, lang",
      s"SELECT CAST(qid AS BIGINT) AS qid, lang" +
        s"\n  FROM (VALUES $qfRows) AS v(qid, lang)")
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |           ORDER BY vec_id LIMIT $nq),
       |${EmbOracle.nrmCte(d)},
       |qf AS ($qfBody),
       |cand AS (SELECT e.vec_id AS id, e.embedding, dm.lang
       |  FROM embeddings e JOIN documents dm ON e.vec_id = dm.doc_id),
       |sc AS (SELECT q.qid, c.id, c.lang,
       |    ${EmbOracle.dotE("c.embedding", "q.qv", d)} AS dp
       |  FROM cand c CROSS JOIN q
       |  JOIN qf ON qf.qid = q.qid AND qf.lang = c.lang),
       |scored AS (SELECT sc.qid, sc.id, sc.lang,
       |    sc.dp / (${fn("ni.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM sc JOIN nrm ni ON sc.id = ni.vec_id
       |          JOIN nrm nq2 ON sc.qid = nq2.vec_id),
       |ranked AS (SELECT qid, id, lang, score,
       |  row_number() OVER (PARTITION BY qid, lang ORDER BY score DESC, id ASC) AS rnk
       |  FROM scored)
       |SELECT qid, lang, CAST(rnk AS INTEGER) AS rank, id, score
       |FROM ranked WHERE rnk <= $k""".stripMargin
  }

  /** Per-query radius search ([[graft.operators.Search
    * .rangeSearchMulti]]): the (qid, tau) relation as VALUES, each
    * query's cut against its own threshold. */
  def rangeMultiSql(d: Int, radii: Seq[(Long, Double)],
                    relPath: Option[String] = None): String = {
    val nq = (radii.map(_._1).max + 1).toInt
    val qrRows = radii.map { case (qid, tau) => s"($qid, ${dlit(tau)})" }
      .mkString(", ")
    val qrBody = relCte(relPath, "radius", "qid, tau",
      s"SELECT CAST(qid AS BIGINT) AS qid, tau" +
        s"\n  FROM (VALUES $qrRows) AS v(qid, tau)")
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |           ORDER BY vec_id LIMIT $nq),
       |${EmbOracle.nrmCte(d)},
       |qr AS ($qrBody),
       |sc AS (SELECT q.qid, e.vec_id AS id,
       |    ${EmbOracle.dotE("e.embedding", "q.qv", d)} AS dp
       |  FROM embeddings e CROSS JOIN q),
       |scored AS (SELECT sc.qid, sc.id,
       |    sc.dp / (${fn("ni.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM sc JOIN nrm ni ON sc.id = ni.vec_id
       |          JOIN nrm nq2 ON sc.qid = nq2.vec_id)
       |SELECT s.qid, s.id, s.score FROM scored s
       |JOIN qr ON qr.qid = s.qid WHERE s.score >= qr.tau""".stripMargin
  }

  /** Range (radius) search: every candidate with cosine >= tau. */
  def rangeSql(d: Int, nq: Int, tau: Double): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |           ORDER BY vec_id LIMIT $nq),
       |${EmbOracle.nrmCte(d)},
       |sc AS (SELECT q.qid, e.vec_id AS id,
       |    ${EmbOracle.dotE("e.embedding", "q.qv", d)} AS dp
       |  FROM embeddings e CROSS JOIN q),
       |scored AS (SELECT sc.qid, sc.id,
       |    sc.dp / (${fn("ni.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM sc JOIN nrm ni ON sc.id = ni.vec_id
       |          JOIN nrm nq2 ON sc.qid = nq2.vec_id)
       |SELECT qid, id, score FROM scored WHERE score >= ${dlit(tau)}""".stripMargin

  /**
   * MMR diversification as a recursive CTE: the working table carries
   * one row per (qid, step) with the selected pool positions as a LIST;
   * each iteration scores the unselected candidates as
   * lambda * rel - (1-lambda) * max sim-to-selected (list_transform
   * into each candidate's sim list) and keeps the per-query argmax with
   * the id tie-break. Pool positions are id-ordered so the engine's
   * array indices and this CTE's `pos` agree.
   */
  def mmrSql(d: Int, nq: Int, poolN: Int, k: Int, lambda: Double): String = {
    val lam = dlit(lambda)
    val om = dlit(1.0 - lambda)
    s"""WITH RECURSIVE
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |      ORDER BY vec_id LIMIT $nq),
       |${EmbOracle.nrmCte(d)},
       |sc AS (SELECT q.qid, e.vec_id AS id, e.embedding,
       |    ${EmbOracle.dotE("e.embedding", "q.qv", d)} /
       |      (${fn("ni.n2")} * ${fn("nq2.n2")}) AS rel
       |  FROM embeddings e CROSS JOIN q
       |  JOIN nrm ni ON e.vec_id = ni.vec_id
       |  JOIN nrm nq2 ON q.qid = nq2.vec_id),
       |pool AS (SELECT qid, id, embedding, rel,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY id ASC) AS INTEGER) AS pos
       |  FROM (SELECT *, row_number() OVER (PARTITION BY qid
       |          ORDER BY rel DESC, id ASC) AS rk FROM sc)
       |  WHERE rk <= $poolN),
       |sims AS (SELECT a.qid, a.pos AS pos_a,
       |    list(${EmbOracle.dotE("a.embedding", "b.embedding", d)} /
       |      (${fn("na.n2")} * ${fn("nb.n2")}) ORDER BY b.pos) AS simlist
       |  FROM pool a JOIN pool b ON a.qid = b.qid
       |  JOIN nrm na ON a.id = na.vec_id JOIN nrm nb ON b.id = nb.vec_id
       |  GROUP BY a.qid, a.pos),
       |sel AS (
       |  SELECT qid, 1 AS step, [pos] AS sel_pos, id,
       |    ($lam * rel) - ($om * CAST(0.0 AS DOUBLE)) AS mmr
       |  FROM (SELECT p.*, row_number() OVER (PARTITION BY qid
       |      ORDER BY ($lam * rel) - ($om * CAST(0.0 AS DOUBLE)) DESC, id ASC) AS rn
       |    FROM pool p) WHERE rn = 1
       |  UNION ALL
       |  SELECT qid, step, sel_pos, id, mmr FROM (
       |    SELECT p.qid, s.step + 1 AS step,
       |      list_append(s.sel_pos, p.pos) AS sel_pos, p.id,
       |      ($lam * p.rel) - ($om *
       |        list_max(list_transform(s.sel_pos, sp -> sm.simlist[sp]))) AS mmr,
       |      row_number() OVER (PARTITION BY p.qid ORDER BY
       |        ($lam * p.rel) - ($om *
       |          list_max(list_transform(s.sel_pos, sp -> sm.simlist[sp]))) DESC,
       |        p.id ASC) AS rn
       |    FROM sel s JOIN pool p
       |      ON p.qid = s.qid AND NOT list_contains(s.sel_pos, p.pos)
       |    JOIN sims sm ON sm.qid = p.qid AND sm.pos_a = p.pos
       |    WHERE s.step < $k)
       |  WHERE rn = 1)
       |SELECT qid, CAST(step AS INTEGER) AS sel_rank, id, mmr FROM sel""".stripMargin
  }

  /**
   * Per-qid MMR λ ([[graft.operators.Search.mmrMulti]]): [[mmrSql]]
   * with the trade-off read per query from the lambda relation (stored
   * table kind 'mmrl', λ in the tau column) — the pool restricted to
   * the relation's qids, λ and (1.0 − λ) evaluated per row, everything
   * else the identical recursive greedy.
   */
  def mmrMultiSql(d: Int, lambdas: Seq[(Long, Double)], poolN: Int,
                  k: Int, relPath: Option[String] = None): String = {
    val nq = (lambdas.map(_._1).max + 1).toInt
    val lamRows = lambdas.map { case (qid, l) => s"($qid, ${dlit(l)})" }
      .mkString(", ")
    val lqBody = relPath match {
      case Some(p) =>
        s"SELECT qid, tau AS lam FROM read_parquet('$p/*.parquet')" +
          s" WHERE kind = 'mmrl'"
      case None =>
        s"SELECT CAST(qid AS BIGINT) AS qid, lam" +
          s"\n  FROM (VALUES $lamRows) AS v(qid, lam)"
    }
    val mmr0 = "(lq.lam * rel) - ((1.0 - lq.lam) * CAST(0.0 AS DOUBLE))"
    val mmrN = "(lq.lam * p.rel) - ((1.0 - lq.lam) * " +
      "list_max(list_transform(s.sel_pos, sp -> sm.simlist[sp])))"
    s"""WITH RECURSIVE
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |      ORDER BY vec_id LIMIT $nq),
       |lq AS ($lqBody),
       |${EmbOracle.nrmCte(d)},
       |sc AS (SELECT q.qid, e.vec_id AS id, e.embedding,
       |    ${EmbOracle.dotE("e.embedding", "q.qv", d)} /
       |      (${fn("ni.n2")} * ${fn("nq2.n2")}) AS rel
       |  FROM embeddings e CROSS JOIN q
       |  JOIN lq lq0 ON lq0.qid = q.qid
       |  JOIN nrm ni ON e.vec_id = ni.vec_id
       |  JOIN nrm nq2 ON q.qid = nq2.vec_id),
       |pool AS (SELECT qid, id, embedding, rel,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY id ASC) AS INTEGER) AS pos
       |  FROM (SELECT *, row_number() OVER (PARTITION BY qid
       |          ORDER BY rel DESC, id ASC) AS rk FROM sc)
       |  WHERE rk <= $poolN),
       |sims AS (SELECT a.qid, a.pos AS pos_a,
       |    list(${EmbOracle.dotE("a.embedding", "b.embedding", d)} /
       |      (${fn("na.n2")} * ${fn("nb.n2")}) ORDER BY b.pos) AS simlist
       |  FROM pool a JOIN pool b ON a.qid = b.qid
       |  JOIN nrm na ON a.id = na.vec_id JOIN nrm nb ON b.id = nb.vec_id
       |  GROUP BY a.qid, a.pos),
       |sel AS (
       |  SELECT qid, 1 AS step, [pos] AS sel_pos, id, mmr FROM (
       |    SELECT p.qid, p.pos, p.id, $mmr0 AS mmr,
       |      row_number() OVER (PARTITION BY p.qid
       |        ORDER BY $mmr0 DESC, p.id ASC) AS rn
       |    FROM pool p JOIN lq ON lq.qid = p.qid) WHERE rn = 1
       |  UNION ALL
       |  SELECT qid, step, sel_pos, id, mmr FROM (
       |    SELECT p.qid, s.step + 1 AS step,
       |      list_append(s.sel_pos, p.pos) AS sel_pos, p.id,
       |      $mmrN AS mmr,
       |      row_number() OVER (PARTITION BY p.qid ORDER BY
       |        $mmrN DESC,
       |        p.id ASC) AS rn
       |    FROM sel s JOIN pool p
       |      ON p.qid = s.qid AND NOT list_contains(s.sel_pos, p.pos)
       |    JOIN lq ON lq.qid = p.qid
       |    JOIN sims sm ON sm.qid = p.qid AND sm.pos_a = p.pos
       |    WHERE s.step < $k)
       |  WHERE rn = 1)
       |SELECT qid, CAST(step AS INTEGER) AS sel_rank, id, mmr FROM sel""".stripMargin
  }

  /** Late-interaction maxsim over multi-vector groups of `gs`
    * consecutive vec_ids: per-query-member max, conditional-aggregation
    * pivot, explicit left-fold sum — all order-independent or
    * explicitly associated, mirroring Search.maxSimTopK. */
  def maxSimSql(d: Int, nq: Int, k: Int, gs: Int): String = {
    val pivCols = (0 until gs)
      .map(p => s"MAX(CASE WHEN qpos = $p THEN m END) AS m$p").mkString(", ")
    val score = (0 until gs).map(p => s"m$p").reduceLeft((a, b) => s"($a + $b)")
    s"""WITH ${EmbOracle.nrmCte(d)},
       |qs AS (SELECT vec_id // $gs AS qid, CAST(vec_id % $gs AS INTEGER) AS qpos,
       |    embedding AS qvec, vec_id AS qvid
       |  FROM embeddings WHERE vec_id // $gs < $nq),
       |cs AS (SELECT vec_id // $gs AS id, embedding, vec_id AS cvid FROM embeddings),
       |pair AS (SELECT q.qid, c.id, q.qpos,
       |    ${EmbOracle.dotE("c.embedding", "q.qvec", d)} /
       |      (${fn("nc.n2")} * ${fn("nq2.n2")}) AS cos
       |  FROM cs c CROSS JOIN qs q
       |  JOIN nrm nc ON c.cvid = nc.vec_id
       |  JOIN nrm nq2 ON q.qvid = nq2.vec_id),
       |mx AS (SELECT qid, id, qpos, MAX(cos) AS m FROM pair GROUP BY qid, id, qpos),
       |piv AS (SELECT qid, id, $pivCols FROM mx GROUP BY qid, id),
       |scored AS (SELECT qid, id, $score AS score FROM piv),
       |ranked AS (SELECT qid, id, score,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
       |  FROM scored)
       |SELECT qid, CAST(rnk AS INTEGER) AS rank, id, score
       |FROM ranked WHERE rnk <= $k""".stripMargin
  }

  /** Per-term df column list for the df CTE. */
  private def dfCols(terms: Seq[String]): String =
    terms.zipWithIndex.map { case (t, i) =>
      s"SUM(CASE WHEN list_contains(tk, '$t') THEN 1 ELSE 0 END) AS df$i"
    }.mkString(",\n|  ")

  /** idf expression for term i: the embedded driver-side constant guarded
    * by the oracle's own df recomputation, ln fallback otherwise. */
  private def idfExpr(i: Int, t: String, st: Option[Bm25Stats]): String = {
    val lnForm = s"ln(1.0 + (st.n - df.df$i + 0.5) / (df.df$i + 0.5))"
    st match {
      case Some(s) =>
        s"CASE WHEN df.df$i = ${s.df(t)} THEN ${dlit(s.idf(t))} ELSE $lnForm END"
      case None => lnForm
    }
  }

  /** The BM25 scoring CTEs shared by [[bm25Sql]] and [[hybridSql]]:
    * tk / st / df / bsc(doc_id, score). The score expression mirrors
    * [[graft.operators.Search.termScore]]'s tree token-for-token. */
  /** `updatedTokenMod` > 0: the UPSERT view — docs with id ≡ 0 (mod it)
    * carry `updatedToken` appended to their text for tokenization, dl,
    * df, and candidacy (the new segment), while (n, sumdl) stay on the
    * ORIGINAL corpus (the stale sidecar until segment merge) — unless
    * `freshStats` is set, the POST-MERGE view ([[graft.operators.Search
    * .compactPostingsUpsert]]): the recomputed sidecar means (n, sumdl)
    * come from the UPDATED split too. */
  private def bm25Ctes(terms: Seq[String], k1: Double, b: Double,
                       st: Option[Bm25Stats],
                       candOnly: Boolean = false,
                       excludeMod: Int = 0,
                       updatedTokenMod: Int = 0,
                       updatedToken: String = "",
                       freshStats: Boolean = false): String = {
    require(excludeMod == 0 || updatedTokenMod == 0,
      "deletes and upserts are separate fixture commits")
    val termExprs = terms.zipWithIndex.map { case (t, i) =>
      s"(${idfExpr(i, t, st)} * ((CAST(len(list_filter(tk, x -> x = '$t')) AS DOUBLE) * ${dlit(k1 + 1.0)}) / " +
        s"(CAST(len(list_filter(tk, x -> x = '$t')) AS DOUBLE) + ${dlit(k1)} * " +
        s"(${dlit(1.0 - b)} + ${dlit(b)} * (CAST(len(tk) AS DOUBLE) / (CAST(st.sumdl AS DOUBLE) / st.n))))))"
    }
    val score = termExprs.reduceLeft((a, c) => s"($a + $c)")
    // candOnly = posting-list retrieval semantics: only docs matching at
    // least one query term exist as candidates (bm25AtRest's contract);
    // excludeMod > 0 removes tombstoned docs from the CANDIDATES while
    // the df/sumdl stats above stay stale (the merge-on-read contract).
    // The two predicates are emitted INDEPENDENTLY: excludeMod applies
    // whether or not candOnly is set (a caller passing excludeMod with
    // candOnly=false must not get an oracle that silently ignores it).
    val preds = Seq(
      if (!candOnly) None else Some(
        terms.map(t => s"len(list_filter(tk, x -> x = '$t')) > 0")
          .mkString("(", " OR ", ")")),
      if (excludeMod <= 0) None
      else Some(s"doc_id % $excludeMod <> 0")).flatten
    val cand = if (preds.isEmpty) ""
      else preds.mkString("\n|  WHERE ", " AND ", "")
    val textExpr =
      if (updatedTokenMod <= 0) "text"
      else s"CASE WHEN doc_id % $updatedTokenMod = 0" +
        s" THEN text || ' $updatedToken' ELSE text END"
    // stats stay STALE under an upsert (tk0, the pre-update split) —
    // until segment merge recomputes the sidecar (freshStats: tk, the
    // updated split, no tk0 CTE at all)
    val stSrc =
      if (updatedTokenMod <= 0 || freshStats) "tk"
      else "tk0"
    val tk0Cte =
      if (updatedTokenMod <= 0 || freshStats) ""
      else "tk0 AS (SELECT doc_id, string_split(text, ' ') AS tk" +
        " FROM documents),\n|"
    s"""${tk0Cte}tk AS (SELECT doc_id, string_split($textExpr, ' ') AS tk FROM documents),
       |st AS (SELECT COUNT(*) AS n, CAST(SUM(len(tk)) AS BIGINT) AS sumdl FROM $stSrc),
       |df AS (SELECT ${dfCols(terms)} FROM tk),
       |bsc AS (SELECT doc_id, $score AS score FROM tk, st, df$cand)""".stripMargin
  }

  /** BM25 top-n: (doc_id, rank, score). */
  def bm25Sql(terms: Seq[String], k1: Double, b: Double, topN: Int,
              st: Option[Bm25Stats]): String =
    s"""WITH ${bm25Ctes(terms, k1, b, st)},
       |ranked AS (SELECT doc_id, score,
       |  row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk FROM bsc)
       |SELECT doc_id, CAST(rnk AS INTEGER) AS rank, score
       |FROM ranked WHERE rnk <= $topN""".stripMargin

  /** BM25 off the posting lists ([[graft.operators.Search.bm25AtRest]]):
    * identical scoring tree, but candidates are the union of the query
    * terms' posting lists — docs matching no term are never ranked (the
    * inverted index's retrieval contract). */
  def bm25AtRestSql(terms: Seq[String], k1: Double, b: Double, topN: Int,
                    st: Option[Bm25Stats], excludeMod: Int = 0,
                    updatedTokenMod: Int = 0,
                    updatedToken: String = "",
                    freshStats: Boolean = false): String =
    s"""WITH ${bm25Ctes(terms, k1, b, st, candOnly = true,
          excludeMod = excludeMod, updatedTokenMod = updatedTokenMod,
          updatedToken = updatedToken, freshStats = freshStats)},
       |ranked AS (SELECT doc_id, score,
       |  row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk FROM bsc)
       |SELECT doc_id, CAST(rnk AS INTEGER) AS rank, score
       |FROM ranked WHERE rnk <= $topN""".stripMargin

  /** Hybrid RRF fusion of the BM25 top-poolN list and the brute cosine
    * top-poolN list for query qid = 0:
    * (doc_id, rank, rrf, text_rank, vec_rank). */
  def hybridSql(d: Int, terms: Seq[String], k1: Double, b: Double,
                poolN: Int, rrfK: Int, k: Int, st: Option[Bm25Stats]): String =
    s"""WITH ${bm25Ctes(terms, k1, b, st)},
       |btop AS (SELECT doc_id, CAST(rnk AS INTEGER) AS text_rank FROM (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk FROM bsc)
       |  WHERE rnk <= $poolN),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |      ORDER BY vec_id LIMIT 1),
       |${EmbOracle.nrmCte(d)},
       |vsc AS (SELECT e.vec_id AS id,
       |    ${EmbOracle.dotE("e.embedding", "q.qv", d)} AS dp
       |  FROM embeddings e CROSS JOIN q),
       |vscored AS (SELECT vsc.id,
       |    vsc.dp / (${fn("ni.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM vsc JOIN nrm ni ON vsc.id = ni.vec_id
       |           CROSS JOIN q JOIN nrm nq2 ON q.qid = nq2.vec_id),
       |vtop AS (SELECT id, CAST(rnk AS INTEGER) AS vec_rank FROM (
       |  SELECT id,
       |    row_number() OVER (ORDER BY score DESC, id ASC) AS rnk FROM vscored)
       |  WHERE rnk <= $poolN),
       |fused AS (SELECT COALESCE(btop.doc_id, vtop.id) AS doc_id,
       |    btop.text_rank, vtop.vec_rank,
       |    COALESCE(CAST(1.0 AS DOUBLE) / ($rrfK + btop.text_rank), CAST(0.0 AS DOUBLE)) +
       |      COALESCE(CAST(1.0 AS DOUBLE) / ($rrfK + vtop.vec_rank), CAST(0.0 AS DOUBLE)) AS rrf
       |  FROM btop FULL OUTER JOIN vtop ON btop.doc_id = vtop.id),
       |ranked AS (SELECT doc_id, rrf, text_rank, vec_rank,
       |  row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS rnk FROM fused)
       |SELECT doc_id, CAST(rnk AS INTEGER) AS rank, rrf, text_rank, vec_rank
       |FROM ranked WHERE rnk <= $k""".stripMargin

  /**
   * Per-query-term-set BM25 ([[graft.operators.Search.bm25Multi]]):
   * the logical posting rows pruned to the UNION of all query terms,
   * joined to the (qid, term, pos) VALUES relation, pivoted on pos and
   * folded position-by-position — the identical expression tree,
   * including the COALESCE-to-0.0 for positions a query doesn't fill.
   * idf literals are guarded by the oracle's own df recomputation
   * exactly as in [[bm25Sql]] (per-term `ti` rows: constant when df
   * agrees, ln fallback otherwise).
   */
  def bm25MultiSql(queries: Seq[(Long, Seq[String])], k1: Double,
                   b: Double, topN: Int, st: Option[Bm25Stats],
                   relPath: Option[String] = None,
                   excludeMod: Int = 0): String =
    s"""WITH ${bm25MultiCtes(queries, k1, b, st, relPath, excludeMod)},
       |ranked AS (SELECT qid, doc_id, score,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rnk
       |  FROM mscored)
       |SELECT qid, CAST(rnk AS INTEGER) AS rank, doc_id, score
       |FROM ranked WHERE rnk <= $topN""".stripMargin

  /** The multi-query BM25 CTE chain shared by [[bm25MultiSql]] and
    * [[hybridRrfMultiSql]], ending at `mscored(qid, doc_id, score)`. */
  private def bm25MultiCtes(queries: Seq[(Long, Seq[String])], k1: Double,
                            b: Double, st: Option[Bm25Stats],
                            relPath: Option[String] = None,
                            excludeMod: Int = 0,
                            updatedTokenMod: Int = 0,
                            updatedToken: String = "",
                            relKind: String = "bm25"): String = {
    require(excludeMod == 0 || updatedTokenMod == 0,
      "deletes and upserts are separate fixture commits")
    val unionTerms = queries.flatMap(_._2).distinct
    val maxPos = queries.map(_._2.size).max
    val inList = unionTerms.map(t => s"'$t'").mkString(", ")
    val dfCols = unionTerms.zipWithIndex.map { case (t, i) =>
      s"SUM(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS df$i"
    }.mkString(",\n|  ")
    def idf(i: Int, t: String): String = {
      val lnForm = s"ln(1.0 + (st2.n - dfp.df$i + 0.5) / (dfp.df$i + 0.5))"
      st match {
        case Some(s) =>
          s"CASE WHEN dfp.df$i = ${s.df(t)} THEN ${dlit(s.idf(t))} ELSE $lnForm END"
        case None => lnForm
      }
    }
    val tiRows = unionTerms.zipWithIndex.map { case (t, i) =>
      s"SELECT '$t' AS term, ${idf(i, t)} AS idf FROM dfp, st2"
    }.mkString("\n|  UNION ALL ")
    val qtRows = queries.flatMap { case (qid, ts) =>
      ts.zipWithIndex.map { case (t, p) => s"($qid, '$t', $p)" }
    }.mkString(", ")
    val tfCols = (0 until maxPos).map(p =>
      s"SUM(CASE WHEN pos = $p THEN tf ELSE 0 END) AS tf$p")
      .mkString(",\n|  ")
    val idfCols = (0 until maxPos).map(p =>
      s"MAX(CASE WHEN pos = $p THEN idf END) AS idf$p")
      .mkString(",\n|  ")
    val scoreExpr = (0 until maxPos).map { p =>
      s"(COALESCE(idf$p, CAST(0.0 AS DOUBLE)) * " +
        s"((CAST(tf$p AS DOUBLE) * ${dlit(k1 + 1.0)}) / " +
        s"(CAST(tf$p AS DOUBLE) + ${dlit(k1)} * (${dlit(1.0 - b)} + " +
        s"${dlit(b)} * (CAST(dl AS DOUBLE) / " +
        s"(CAST(st2.sumdl AS DOUBLE) / st2.n))))))"
    }.reduceLeft((a, c) => s"($a + $c)")
    // the UPSERT view (updatedTokenMod > 0): updated docs' text carries
    // the token for tokenization, dl, df, and candidacy — the snapshot
    // postings — while st2 (n, sumdl) stays on the ORIGINAL corpus (the
    // stale base sidecar until segment merge, the engine's
    // bm25MultiOffPostings upsertByIds contract)
    val textExpr =
      if (updatedTokenMod <= 0) "text"
      else s"CASE WHEN doc_id % $updatedTokenMod = 0" +
        s" THEN text || ' $updatedToken' ELSE text END"
    s"""posts AS MATERIALIZED (
       |  SELECT tok AS term, doc_id, COUNT(*) AS tf, MIN(dl) AS dl
       |  FROM (SELECT doc_id, len(string_split($textExpr, ' ')) AS dl,
       |               unnest(string_split($textExpr, ' ')) AS tok FROM documents)
       |  WHERE tok IN ($inList)
       |  GROUP BY tok, doc_id),
       |st2 AS (SELECT COUNT(*) AS n,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sumdl
       |  FROM documents),
       |dfp AS (SELECT $dfCols FROM posts),
       |ti AS ($tiRows),
       |qt AS (${relCte(relPath, relKind, "qid, term, pos",
          s"SELECT CAST(qid AS BIGINT) AS qid, term," +
            s"\n    CAST(pos AS INTEGER) AS pos" +
            s"\n  FROM (VALUES $qtRows) AS v(qid, term, pos)")}),
       |qtt AS (SELECT qt.qid, qt.term, qt.pos, ti.idf
       |  FROM qt JOIN ti ON ti.term = qt.term),
       |cand AS (SELECT q.qid, p.doc_id, p.dl, q.pos, p.tf, q.idf
       |  FROM posts p JOIN qtt q ON p.term = q.term${
        // merge-on-read deletes cut CANDIDATES only — dfp/st2 above
        // stay stale on purpose (the Lucene contract)
        if (excludeMod <= 0) "" else s"\n  WHERE p.doc_id % $excludeMod <> 0"}),
       |piv AS (SELECT qid, doc_id, dl, $tfCols,
       |  $idfCols
       |  FROM cand GROUP BY qid, doc_id, dl),
       |mscored AS (SELECT qid, doc_id, $scoreExpr AS score FROM piv, st2)""".stripMargin
  }

  /**
   * Multi-query hybrid RRF ([[graft.operators.Search.hybridRrfMulti]]):
   * each qid's multi-BM25 top-poolN list fused with its OWN brute
   * vector top-poolN list (the query embedding aligned with the qid),
   * per-qid reciprocal-rank fusion and final cut — the [[hybridSql]]
   * fusion arithmetic partitioned by qid.
   */
  def hybridRrfMultiSql(d: Int, queries: Seq[(Long, Seq[String])],
                        k1: Double, b: Double, poolN: Int, rrfK: Int,
                        k: Int, st: Option[Bm25Stats],
                        relPath: Option[String] = None): String = {
    val nqv = (queries.map(_._1).max + 1).toInt
    val qids = queries.map(_._1).mkString(", ")
    s"""WITH ${bm25MultiCtes(queries, k1, b, st, relPath)},
       |btop AS (SELECT qid, doc_id, CAST(rnk AS INTEGER) AS text_rank FROM (
       |  SELECT qid, doc_id,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rnk
       |  FROM mscored) WHERE rnk <= $poolN),
       |vtop AS MATERIALIZED (SELECT qid, id AS doc_id, rank AS vec_rank
       |  FROM (${EmbOracle.bruteSql(d, nqv, poolN)})
       |  WHERE qid IN ($qids)),
       |fused AS (SELECT COALESCE(b.qid, v.qid) AS qid,
       |    COALESCE(b.doc_id, v.doc_id) AS doc_id,
       |    b.text_rank, v.vec_rank,
       |    COALESCE(CAST(1.0 AS DOUBLE) / ($rrfK + b.text_rank), CAST(0.0 AS DOUBLE)) +
       |      COALESCE(CAST(1.0 AS DOUBLE) / ($rrfK + v.vec_rank), CAST(0.0 AS DOUBLE)) AS rrf
       |  FROM btop b FULL OUTER JOIN vtop v
       |    ON b.qid = v.qid AND b.doc_id = v.doc_id),
       |ranked AS (SELECT qid, doc_id, rrf, text_rank, vec_rank,
       |  row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id ASC) AS rnk
       |  FROM fused)
       |SELECT qid, CAST(rnk AS INTEGER) AS rank, doc_id, rrf,
       |  text_rank, vec_rank
       |FROM ranked WHERE rnk <= $k""".stripMargin
  }

  /**
   * Multi-query linear fusion ([[graft.operators.Search
   * .hybridLinearMulti]]): per-qid min-max normalization of each
   * retriever's own top-poolN list, fused = α·text + (1-α)·vec per qid
   * — [[hybridLinearSql]]'s arithmetic partitioned by qid.
   */
  def hybridLinearMultiSql(d: Int, queries: Seq[(Long, Seq[String])],
                           k1: Double, b: Double, poolN: Int,
                           alpha: Double, k: Int,
                           st: Option[Bm25Stats],
                           relPath: Option[String] = None): String = {
    val nqv = (queries.map(_._1).max + 1).toInt
    val qids = queries.map(_._1).mkString(", ")
    val a = dlit(alpha)
    val oneA = dlit(1.0 - alpha)
    s"""WITH ${bm25MultiCtes(queries, k1, b, st, relPath)},
       |btop AS (SELECT qid, doc_id, score AS tscore FROM (
       |  SELECT qid, doc_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rnk
       |  FROM mscored) WHERE rnk <= $poolN),
       |vtop AS MATERIALIZED (SELECT qid, id AS doc_id, score AS vscore
       |  FROM (${EmbOracle.bruteSql(d, nqv, poolN)})
       |  WHERE qid IN ($qids)),
       |tmm AS (SELECT qid, MIN(tscore) AS tmin, MAX(tscore) AS tmax
       |  FROM btop GROUP BY qid),
       |vmm AS (SELECT qid, MIN(vscore) AS vmin, MAX(vscore) AS vmax
       |  FROM vtop GROUP BY qid),
       |fused AS (SELECT COALESCE(b.qid, v.qid) AS qid,
       |    COALESCE(b.doc_id, v.doc_id) AS doc_id,
       |    CASE WHEN b.tscore IS NULL THEN CAST(0.0 AS DOUBLE)
       |         WHEN tmm.tmax = tmm.tmin THEN CAST(1.0 AS DOUBLE)
       |         ELSE (b.tscore - tmm.tmin) / (tmm.tmax - tmm.tmin) END AS tnorm,
       |    CASE WHEN v.vscore IS NULL THEN CAST(0.0 AS DOUBLE)
       |         WHEN vmm.vmax = vmm.vmin THEN CAST(1.0 AS DOUBLE)
       |         ELSE (v.vscore - vmm.vmin) / (vmm.vmax - vmm.vmin) END AS vnorm
       |  FROM btop b FULL OUTER JOIN vtop v
       |    ON b.qid = v.qid AND b.doc_id = v.doc_id
       |  LEFT JOIN tmm ON tmm.qid = COALESCE(b.qid, v.qid)
       |  LEFT JOIN vmm ON vmm.qid = COALESCE(b.qid, v.qid)),
       |scoredf AS (SELECT qid, doc_id, tnorm, vnorm,
       |    $a * tnorm + $oneA * vnorm AS fused FROM fused),
       |ranked AS (SELECT qid, doc_id, fused, tnorm, vnorm,
       |  row_number() OVER (PARTITION BY qid ORDER BY fused DESC, doc_id ASC) AS rnk
       |  FROM scoredf)
       |SELECT qid, CAST(rnk AS INTEGER) AS rank, doc_id, fused,
       |  tnorm, vnorm
       |FROM ranked WHERE rnk <= $k""".stripMargin
  }

  /**
   * Per-qid WEIGHTED linear fusion ([[graft.operators.Search
   * .hybridLinearMultiWeighted]]): [[hybridLinearMultiSql]] with the
   * fusion weight read per qid from the (qid, alpha) relation — stored
   * table (kind = 'fusion', alpha in the scalar column) or VALUES.
   */
  def hybridLinearMultiWeightedSql(d: Int,
                                   queries: Seq[(Long, Seq[String])],
                                   weights: Seq[(Long, Double)],
                                   k1: Double, b: Double, poolN: Int,
                                   k: Int, st: Option[Bm25Stats],
                                   relPath: Option[String] = None): String = {
    val nqv = (queries.map(_._1).max + 1).toInt
    val qids = queries.map(_._1).mkString(", ")
    val qaRows = weights.map { case (qid, a) => s"($qid, ${dlit(a)})" }
      .mkString(", ")
    val qaBody = relPath match {
      case Some(p) =>
        s"SELECT qid, tau AS alpha FROM read_parquet('$p/*.parquet')" +
          s" WHERE kind = 'fusion'"
      case None =>
        s"SELECT CAST(qid AS BIGINT) AS qid, alpha" +
          s"\n  FROM (VALUES $qaRows) AS v(qid, alpha)"
    }
    s"""WITH ${bm25MultiCtes(queries, k1, b, st, relPath)},
       |btop AS (SELECT qid, doc_id, score AS tscore FROM (
       |  SELECT qid, doc_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rnk
       |  FROM mscored) WHERE rnk <= $poolN),
       |vtop AS MATERIALIZED (SELECT qid, id AS doc_id, score AS vscore
       |  FROM (${EmbOracle.bruteSql(d, nqv, poolN)})
       |  WHERE qid IN ($qids)),
       |qa AS ($qaBody),
       |tmm AS (SELECT qid, MIN(tscore) AS tmin, MAX(tscore) AS tmax
       |  FROM btop GROUP BY qid),
       |vmm AS (SELECT qid, MIN(vscore) AS vmin, MAX(vscore) AS vmax
       |  FROM vtop GROUP BY qid),
       |fused AS (SELECT COALESCE(b.qid, v.qid) AS qid,
       |    COALESCE(b.doc_id, v.doc_id) AS doc_id,
       |    CASE WHEN b.tscore IS NULL THEN CAST(0.0 AS DOUBLE)
       |         WHEN tmm.tmax = tmm.tmin THEN CAST(1.0 AS DOUBLE)
       |         ELSE (b.tscore - tmm.tmin) / (tmm.tmax - tmm.tmin) END AS tnorm,
       |    CASE WHEN v.vscore IS NULL THEN CAST(0.0 AS DOUBLE)
       |         WHEN vmm.vmax = vmm.vmin THEN CAST(1.0 AS DOUBLE)
       |         ELSE (v.vscore - vmm.vmin) / (vmm.vmax - vmm.vmin) END AS vnorm
       |  FROM btop b FULL OUTER JOIN vtop v
       |    ON b.qid = v.qid AND b.doc_id = v.doc_id
       |  LEFT JOIN tmm ON tmm.qid = COALESCE(b.qid, v.qid)
       |  LEFT JOIN vmm ON vmm.qid = COALESCE(b.qid, v.qid)),
       |scoredf AS (SELECT f.qid, f.doc_id, f.tnorm, f.vnorm,
       |    qa.alpha * f.tnorm + (1.0 - qa.alpha) * f.vnorm AS fused
       |  FROM fused f JOIN qa ON qa.qid = f.qid),
       |ranked AS (SELECT qid, doc_id, fused, tnorm, vnorm,
       |  row_number() OVER (PARTITION BY qid ORDER BY fused DESC, doc_id ASC) AS rnk
       |  FROM scoredf)
       |SELECT qid, CAST(rnk AS INTEGER) AS rank, doc_id, fused,
       |  tnorm, vnorm
       |FROM ranked WHERE rnk <= $k""".stripMargin
  }

  /**
   * The FULL REQUEST OBJECT ([[graft.operators.Search.serveRequests]]):
   * per-qid term sets + lang filters + fusion weight + page size, all
   * bound from the stored relation (or VALUES), one end-to-end plan —
   * the multi-BM25 CTEs post-filtered by each qid's langs, the
   * pre-filtered vector ranking, per-qid min-max over the FILTERED
   * lists, α_q-weighted fusion, per-qid k cut.
   */
  def serveRequestsSql(d: Int, queries: Seq[(Long, Seq[String])],
                       filters: Seq[(Long, String)],
                       weights: Seq[(Long, Double)], ks: Seq[(Long, Int)],
                       k1: Double, b: Double, poolN: Int,
                       st: Option[Bm25Stats],
                       relPath: Option[String] = None,
                       updatedTokenMod: Int = 0,
                       updatedToken: String = "",
                       vecNegMod: Int = 0,
                       relKind: String = "bm25"): String =
    s"""WITH ${serveCommonCtes(d, queries, filters, weights, ks, k1, b,
          poolN, st, relPath, updatedTokenMod = updatedTokenMod,
          updatedToken = updatedToken, vecNegMod = vecNegMod,
          relKind = relKind)},
       |ranked AS (SELECT qid, doc_id, fused, tnorm, vnorm,
       |  row_number() OVER (PARTITION BY qid ORDER BY fused DESC, doc_id ASC) AS rnk
       |  FROM scoredf)
       |SELECT r.qid, CAST(r.rnk AS INTEGER) AS rank, r.doc_id, r.fused,
       |  r.tnorm, r.vnorm
       |FROM ranked r JOIN qk3 ON qk3.qid = r.qid
       |WHERE r.rnk <= qk3.kq""".stripMargin

  /** The serve pipeline's shared CTE chain (both the result query and
    * its per-request ledger read it), ending at `scoredf(qid, doc_id,
    * tnorm, vnorm, fused)` with the request relations `qf`/`qa`/`qk3`
    * and the multi-BM25 chain (incl. `posts`, `qt`) in scope. */
  private def serveCommonCtes(d: Int, queries: Seq[(Long, Seq[String])],
                              filters: Seq[(Long, String)],
                              weights: Seq[(Long, Double)],
                              ks: Seq[(Long, Int)], k1: Double,
                              b: Double, poolN: Int,
                              st: Option[Bm25Stats],
                              relPath: Option[String],
                              vectorPoolCtes: Option[String] = None,
                              updatedTokenMod: Int = 0,
                              updatedToken: String = "",
                              vecNegMod: Int = 0,
                              relKind: String = "bm25"): String = {
    val nq = (filters.map(_._1).max + 1).toInt
    // the vector side's SNAPSHOT view (vecNegMod > 0): the applied
    // commit prefix's vectors flipped — queries AND candidates, both
    // derive from the store; float negation is exact, so norms (sums
    // of squares) read the base table unchanged
    def negEmb(idExpr: String, embExpr: String): String =
      if (vecNegMod <= 0) embExpr
      else s"CASE WHEN $idExpr % $vecNegMod = 0" +
        s" THEN list_transform($embExpr, x -> -x) ELSE $embExpr END"
    val qfRows = filters.map { case (qid, l) => s"($qid, '$l')" }
      .mkString(", ")
    val qfBody = relCte(relPath, "filter", "qid, lang",
      s"SELECT CAST(qid AS BIGINT) AS qid, lang" +
        s"\n  FROM (VALUES $qfRows) AS v(qid, lang)")
    val qaRows = weights.map { case (qid, a) => s"($qid, ${dlit(a)})" }
      .mkString(", ")
    val qaBody = relPath match {
      case Some(p) =>
        s"SELECT qid, tau AS alpha FROM read_parquet('$p/*.parquet')" +
          s" WHERE kind = 'fusion'"
      case None =>
        s"SELECT CAST(qid AS BIGINT) AS qid, alpha" +
          s"\n  FROM (VALUES $qaRows) AS v(qid, alpha)"
    }
    val qkRows = ks.map { case (qid, k) => s"($qid, $k)" }.mkString(", ")
    val qkBody = relPath match {
      case Some(p) =>
        s"SELECT qid, pos AS kq FROM read_parquet('$p/*.parquet')" +
          s" WHERE kind = 'pagek'"
      case None =>
        s"SELECT CAST(qid AS BIGINT) AS qid, CAST(kq AS INTEGER) AS kq" +
          s"\n  FROM (VALUES $qkRows) AS v(qid, kq)"
    }
    s"""${bm25MultiCtes(queries, k1, b, st, relPath,
          updatedTokenMod = updatedTokenMod, updatedToken = updatedToken,
          relKind = relKind)},
       |qf AS ($qfBody),
       |qa AS ($qaBody),
       |qk3 AS ($qkBody),
       |btop0 AS (SELECT qid, doc_id, score AS tscore FROM (
       |  SELECT qid, doc_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rnk
       |  FROM mscored) WHERE rnk <= $poolN),
       |btop AS (SELECT b.qid, b.doc_id, b.tscore
       |  FROM btop0 b JOIN documents dm ON b.doc_id = dm.doc_id
       |  JOIN qf ON qf.qid = b.qid AND qf.lang = dm.lang),
       |${EmbOracle.nrmCte(d)},
       |${vectorPoolCtes.getOrElse(
         s"""vq AS (SELECT vec_id AS qid,
            |       ${negEmb("vec_id", "embedding")} AS qv FROM embeddings
            |       ORDER BY vec_id LIMIT $nq),
            |vcand AS (SELECT e.vec_id AS id,
            |    ${negEmb("e.vec_id", "e.embedding")} AS embedding, dm2.lang
            |  FROM embeddings e JOIN documents dm2 ON e.vec_id = dm2.doc_id),
            |vsc AS (SELECT vq.qid, c.id, c.lang,
            |    ${EmbOracle.dotE("c.embedding", "vq.qv", d)} AS dp
            |  FROM vcand c CROSS JOIN vq
            |  JOIN qf ON qf.qid = vq.qid AND qf.lang = c.lang),
            |vscored AS (SELECT vsc.qid, vsc.id,
            |    vsc.dp / (${fn("ni.n2")} * ${fn("nq2.n2")}) AS score
            |  FROM vsc JOIN nrm ni ON vsc.id = ni.vec_id
            |          JOIN nrm nq2 ON vsc.qid = nq2.vec_id),
            |vtop AS (SELECT qid, id AS doc_id, score AS vscore FROM (
            |  SELECT qid, id, score,
            |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
            |  FROM vscored) WHERE rnk <= $poolN)""".stripMargin)},
       |tmm AS (SELECT qid, MIN(tscore) AS tmin, MAX(tscore) AS tmax
       |  FROM btop GROUP BY qid),
       |vmm AS (SELECT qid, MIN(vscore) AS vmin, MAX(vscore) AS vmax
       |  FROM vtop GROUP BY qid),
       |fusedr AS (SELECT COALESCE(b.qid, v.qid) AS qid,
       |    COALESCE(b.doc_id, v.doc_id) AS doc_id,
       |    CASE WHEN b.tscore IS NULL THEN CAST(0.0 AS DOUBLE)
       |         WHEN tmm.tmax = tmm.tmin THEN CAST(1.0 AS DOUBLE)
       |         ELSE (b.tscore - tmm.tmin) / (tmm.tmax - tmm.tmin) END AS tnorm,
       |    CASE WHEN v.vscore IS NULL THEN CAST(0.0 AS DOUBLE)
       |         WHEN vmm.vmax = vmm.vmin THEN CAST(1.0 AS DOUBLE)
       |         ELSE (v.vscore - vmm.vmin) / (vmm.vmax - vmm.vmin) END AS vnorm
       |  FROM btop b FULL OUTER JOIN vtop v
       |    ON b.qid = v.qid AND b.doc_id = v.doc_id
       |  LEFT JOIN tmm ON tmm.qid = COALESCE(b.qid, v.qid)
       |  LEFT JOIN vmm ON vmm.qid = COALESCE(b.qid, v.qid)),
       |scoredf AS (SELECT f.qid, f.doc_id, f.tnorm, f.vnorm,
       |    qa.alpha * f.tnorm + (1.0 - qa.alpha) * f.vnorm AS fused
       |  FROM fusedr f JOIN qa ON qa.qid = f.qid)""".stripMargin
  }

  /**
   * The INDEXED serve capstone
   * ([[graft.operators.Search.serveRequestsIndexed]]): the same serve
   * chain with the vector pool swapped for the probe-pruned,
   * per-qid-filtered at-rest pipeline
   * ([[IvfOracle.indexedFilteredPoolCtes]]).
   */
  def serveRequestsIndexedSql(d: Int, queries: Seq[(Long, Seq[String])],
                              filters: Seq[(Long, String)],
                              weights: Seq[(Long, Double)],
                              ks: Seq[(Long, Int)], k1: Double,
                              b: Double, poolN: Int, nCells: Int,
                              nprobe: Int, st: Option[Bm25Stats],
                              relPath: Option[String] = None,
                              updatedTokenMod: Int = 0,
                              updatedToken: String = "",
                              vecNegMod: Int = 0,
                              relKind: String = "bm25"): String = {
    val nq = (filters.map(_._1).max + 1).toInt
    // the SNAPSHOT view (vecNegMod > 0): the whole indexed chain —
    // assignment, probes, query vectors, rescore — recomputed from the
    // commit view's vembc CTE
    val src = if (vecNegMod > 0) "vembc" else "embeddings"
    val pool = (if (vecNegMod > 0) vembcCte(vecNegMod) else "") +
      IvfOracle.indexedFilteredPoolCtes(d, nq, nCells, nprobe,
        filters.map(_._2).distinct, poolN, src)
    s"""WITH ${serveCommonCtes(d, queries, filters, weights, ks, k1, b,
          poolN, st, relPath, vectorPoolCtes = Some(pool),
          updatedTokenMod = updatedTokenMod,
          updatedToken = updatedToken, relKind = relKind)},
       |ranked AS (SELECT qid, doc_id, fused, tnorm, vnorm,
       |  row_number() OVER (PARTITION BY qid ORDER BY fused DESC, doc_id ASC) AS rnk
       |  FROM scoredf)
       |SELECT r.qid, CAST(r.rnk AS INTEGER) AS rank, r.doc_id, r.fused,
       |  r.tnorm, r.vnorm
       |FROM ranked r JOIN qk3 ON qk3.qid = r.qid
       |WHERE r.rnk <= qk3.kq""".stripMargin
  }

  /**
   * The INDEXED capstone's per-request ledger
   * ([[graft.operators.Search.serveRequestsIndexedMetrics]]): the
   * bytes_vec term becomes probe-aware — the metadata column only for
   * the qid's probed cells' rows, embeddings only for the
   * lang-matching rows among them — with cell / (cell, lang)
   * occupancies derived from the same assignment chain the indexed
   * pool uses.
   */
  def serveRequestsIndexedMetricsSql(d: Int,
                                     queries: Seq[(Long, Seq[String])],
                                     filters: Seq[(Long, String)],
                                     weights: Seq[(Long, Double)],
                                     ks: Seq[(Long, Int)], k1: Double,
                                     b: Double, poolN: Int, nCells: Int,
                                     nprobe: Int, st: Option[Bm25Stats],
                                     relPath: Option[String] = None): String = {
    val nq = (filters.map(_._1).max + 1).toInt
    val pool = IvfOracle.indexedFilteredPoolCtes(d, nq, nCells, nprobe,
      filters.map(_._2).distinct, poolN)
    s"""WITH ${serveCommonCtes(d, queries, filters, weights, ks, k1, b,
          poolN, st, relPath, vectorPoolCtes = Some(pool))},
       |tc AS (SELECT qt.qid, COUNT(*) AS t_cands,
       |    CAST(SUM(len(p.term) + 24) AS BIGINT) AS bytes_text
       |  FROM posts p JOIN qt ON p.term = qt.term GROUP BY qt.qid),
       |occ AS (SELECT cell, COUNT(*) AS occ FROM iasg GROUP BY cell),
       |pc AS (SELECT iqp.qid, CAST(SUM(occ.occ) AS BIGINT) AS pc_rows
       |  FROM iqp JOIN occ ON occ.cell = iqp.cell GROUP BY iqp.qid),
       |locc AS (SELECT a.cell, dm4.lang, COUNT(*) AS n
       |  FROM iasg a JOIN documents dm4 ON a.vec_id = dm4.doc_id
       |  GROUP BY a.cell, dm4.lang),
       |vc AS (SELECT iqp.qid, CAST(SUM(l.n) AS BIGINT) AS v_cands
       |  FROM iqp JOIN locc l ON l.cell = iqp.cell
       |  JOIN qf ON qf.qid = iqp.qid AND qf.lang = l.lang
       |  GROUP BY iqp.qid),
       |fc AS (SELECT qid, COUNT(*) AS fused FROM scoredf GROUP BY qid),
       |nvs AS (SELECT COUNT(*) AS nv FROM embeddings),
       |perq AS (SELECT qk3.qid,
       |    COALESCE(tc.t_cands, 0) AS t_cands,
       |    COALESCE(pc.pc_rows, 0) AS pc_rows,
       |    COALESCE(vc.v_cands, 0) AS v_cands,
       |    COALESCE(fc.fused, 0) AS fused,
       |    LEAST(CAST(qk3.kq AS BIGINT), COALESCE(fc.fused, 0)) AS page,
       |    COALESCE(tc.bytes_text, 0) AS bytes_text,
       |    COALESCE(pc.pc_rows, 0) * 8 +
       |      COALESCE(vc.v_cands, 0) * ${4L * d} AS bytes_vec,
       |    (8 + ${4L * d}) * nvs.nv AS bytes_vec_full
       |  FROM qk3
       |  LEFT JOIN tc ON tc.qid = qk3.qid
       |  LEFT JOIN pc ON pc.qid = qk3.qid
       |  LEFT JOIN vc ON vc.qid = qk3.qid
       |  LEFT JOIN fc ON fc.qid = qk3.qid
       |  CROSS JOIN nvs),
       |tot AS (SELECT CAST(-1 AS BIGINT) AS qid,
       |    CAST(SUM(t_cands) AS BIGINT) AS t_cands,
       |    CAST(SUM(pc_rows) AS BIGINT) AS pc_rows,
       |    CAST(SUM(v_cands) AS BIGINT) AS v_cands,
       |    CAST(SUM(fused) AS BIGINT) AS fused,
       |    CAST(SUM(page) AS BIGINT) AS page,
       |    CAST(SUM(bytes_text) AS BIGINT) AS bytes_text,
       |    CAST(SUM(bytes_vec) AS BIGINT) AS bytes_vec,
       |    CAST(SUM(bytes_vec_full) AS BIGINT) AS bytes_vec_full
       |  FROM perq),
       |allrows AS (SELECT qid, CAST(t_cands AS BIGINT) AS t_cands,
       |    CAST(pc_rows AS BIGINT) AS pc_rows,
       |    CAST(v_cands AS BIGINT) AS v_cands,
       |    CAST(fused AS BIGINT) AS fused, CAST(page AS BIGINT) AS page,
       |    CAST(bytes_text AS BIGINT) AS bytes_text,
       |    CAST(bytes_vec AS BIGINT) AS bytes_vec,
       |    CAST(bytes_vec_full AS BIGINT) AS bytes_vec_full FROM perq
       |  UNION ALL SELECT * FROM tot)
       |SELECT qid, t_cands, pc_rows, v_cands, fused, page, bytes_text,
       |  bytes_vec, bytes_vec_full,
       |  1.0 - CAST(bytes_text + bytes_vec AS DOUBLE) /
       |    CAST(bytes_text + bytes_vec_full AS DOUBLE) AS save,
       |  CASE WHEN t_cands + v_cands = 0 THEN CAST(0.0 AS DOUBLE)
       |       ELSE CAST(fused - page AS DOUBLE) /
       |         CAST(t_cands + v_cands AS DOUBLE) END AS fpr
       |FROM allrows""".stripMargin
  }

  /** The tier relation CTE body (qid → scaleLog2): the stored `stier`
    * rows when the qrel path is known, inline VALUES otherwise. */
  private def tierRelBody(tiers: Seq[(Long, Int)],
                          relPath: Option[String]): String = {
    val trRows = tiers.map { case (qid, s) => s"($qid, $s)" }
      .mkString(", ")
    relPath match {
      case Some(p) =>
        s"SELECT qid, pos AS tier FROM read_parquet('$p/*.parquet')" +
          s" WHERE kind = 'stier'"
      case None =>
        s"SELECT CAST(qid AS BIGINT) AS qid, CAST(tier AS INTEGER) AS tier" +
          s"\n  FROM (VALUES $trRows) AS v(qid, tier)"
    }
  }

  /** The per-qid tiered s_hat/cush column pair over candidate alias
    * `c` (embedding) and query alias `vq` (qv): per-element quantized
    * values inlined everywhere they are used, each aggregate a
    * left-associated sum exactly like the engine's codegen'd folds. */
  private def tierScoreExprs(d: Int, usedScales: Seq[Int],
                             alpha: Double): (String, String) = {
    def rv(s: Int, i: Int): String = {
      val mul = (1L << s).toDouble
      s"(FLOOR(CAST(c.embedding[$i] AS DOUBLE)*${dlit(mul)} + 0.5)/${dlit(mul)})"
    }
    def sHat(s: Int): String = {
      val num = (1 to d).map(i => s"${rv(s, i)}*CAST(vq.qv[$i] AS DOUBLE)")
        .mkString("(", " + ", ")")
      val nr2 = (1 to d).map(i => s"${rv(s, i)}*${rv(s, i)}")
        .mkString("(", " + ", ")")
      s"$num / (${fn(nr2)} * ${fn("nq2.n2")})"
    }
    def cush(s: Int): String = {
      val half = 0.5 / (1L << s).toDouble
      val sum = (1 to d).map(i =>
          s"ABS(CAST(vq.qv[$i] AS DOUBLE))*${dlit(half)}")
        .mkString("(", " + ", ")")
      s"(${dlit(alpha)} * $sum) / ${fn("nq2.n2")}"
    }
    def byTier(f: Int => String): String =
      usedScales.init.foldRight(f(usedScales.last)) { (s, rest) =>
        s"CASE WHEN tr.tier = $s THEN ${f(s)} ELSE $rest END" }
    (byTier(sHat), byTier(cush))
  }

  /** The seed/tau0/survivor/rescore/top tail shared by the flat and
    * indexed tiered pools — everything downstream of `tcand(qid, id,
    * s_hat, cush)`, ending at `vtop` with `tfetch` in scope. */
  /** The negated-view CTE (the upserted corpus: the commit's vectors
    * flipped) — emitted by a pool-CTE builder when its chain must read
    * the commit view; the CTE keeps every downstream dot-expression
    * tree identical to the pristine form. */
  private def vembcCte(negMod: Int): String =
    s"""vembc AS (SELECT vec_id,
       |    CASE WHEN vec_id % $negMod = 0
       |    THEN list_transform(embedding, x -> -x) ELSE embedding END
       |    AS embedding FROM embeddings),
       |""".stripMargin

  private def tieredTailCtes(d: Int, poolN: Int,
                             fetchSrc: String = "embeddings"): String = {
    val sFull = s"${EmbOracle.dotE("c2.embedding", "vq.qv", d)} /" +
      s" (${fn("ni.n2")} * ${fn("nq2.n2")})"
    s"""tseed AS MATERIALIZED (SELECT qid, id, s_hat FROM (
       |  SELECT qid, id, s_hat,
       |    row_number() OVER (PARTITION BY qid ORDER BY s_hat DESC, id ASC) AS rn
       |  FROM tcand) WHERE rn <= $poolN),
       |tsfull AS MATERIALIZED (SELECT s.qid, s.id, $sFull AS s_full
       |  FROM tseed s JOIN $fetchSrc c2 ON s.id = c2.vec_id
       |  JOIN vq ON vq.qid = s.qid
       |  JOIN nrm ni ON s.id = ni.vec_id
       |  JOIN nrm nq2 ON s.qid = nq2.vec_id),
       |ttau AS (SELECT qid, MIN(s_full) AS tau0 FROM tsfull GROUP BY qid),
       |tsurv AS (SELECT r.qid, r.id FROM tcand r
       |  JOIN ttau t ON t.qid = r.qid
       |  LEFT JOIN tseed sd ON sd.qid = r.qid AND sd.id = r.id
       |  WHERE sd.id IS NULL AND r.s_hat + r.cush >= t.tau0),
       |tsurvf AS (SELECT v.qid, v.id, $sFull AS s_full
       |  FROM tsurv v JOIN $fetchSrc c2 ON v.id = c2.vec_id
       |  JOIN vq ON vq.qid = v.qid
       |  JOIN nrm ni ON v.id = ni.vec_id
       |  JOIN nrm nq2 ON v.qid = nq2.vec_id),
       |tfetch AS MATERIALIZED (SELECT qid, id, s_full FROM tsfull
       |  UNION ALL SELECT qid, id, s_full FROM tsurvf),
       |vtop AS (SELECT qid, id AS doc_id, s_full AS vscore FROM (
       |  SELECT qid, id, s_full,
       |    row_number() OVER (PARTITION BY qid ORDER BY s_full DESC, id ASC) AS rnk
       |  FROM tfetch) WHERE rnk <= $poolN)""".stripMargin
  }

  /**
   * The TIERED vector-pool CTE chain ([[graft.operators.Search
   * .serveRequestsTiered]]'s vector side): the full two-phase
   * per-request-precision pipeline recomputed FROM THE RAW FLOATS —
   * per-element quantization rv = FLOOR(v·2^s + 0.5)/2^s (exact dyadic
   * rationals, the [[RefineOracle.quantRvDv]] discipline), per-qid
   * tier bound via CASE over the tier relation, cos_l1 constant
   * half-step cushion, seed/tau0/survivor/exact-rescore CTEs
   * mirroring the engine tree token-for-token, ending at
   * `vtop(qid, doc_id, vscore)` with `tfetch` (the per-qid fetch set)
   * and `tr` (the tier relation) in scope for the ledger twin.
   */
  private def tieredVecPoolCtes(d: Int, nq: Int,
                                tiers: Seq[(Long, Int)], alpha: Double,
                                poolN: Int,
                                relPath: Option[String],
                                negMod: Int = 0,
                                delMod: Int = 0): String = {
    // negMod and delMod COMPOSE (the mixed-verb multi-commit stream's
    // snapshots): the delete cuts candidate membership, the upsert
    // transforms surviving values — an id in both sets is simply
    // absent (the delete wins because the row is gone)
    val usedScales = tiers.map(_._2).distinct.sorted
    val (sHatExpr, cushExpr) = tierScoreExprs(d, usedScales, alpha)
    // the UPSERTED view (negMod > 0): the commit's vectors flipped —
    // the tiered codes quantize the negated floats and the rescore
    // reads them too; float negation is exact, norms (sums of squares)
    // read the base table unchanged
    def negEmb(idExpr: String, embExpr: String): String =
      if (negMod <= 0) embExpr
      else s"CASE WHEN $idExpr % $negMod = 0" +
        s" THEN list_transform($embExpr, x -> -x) ELSE $embExpr END"
    // the DELETED view (delMod > 0): tombstoned ids leave the CANDIDATE
    // corpus only — queries still come from the table (index deletes do
    // not affect external probes, the family-wide contract)
    val delPred = if (delMod <= 0) ""
      else s"\n  WHERE e.vec_id % $delMod <> 0"
    s"""${if (negMod > 0) vembcCte(negMod) else ""}vq AS (SELECT vec_id AS qid,
       |       ${negEmb("vec_id", "embedding")} AS qv FROM embeddings
       |       ORDER BY vec_id LIMIT $nq),
       |tr AS (${tierRelBody(tiers, relPath)}),
       |vcand AS (SELECT e.vec_id AS id,
       |    ${negEmb("e.vec_id", "e.embedding")} AS embedding, dm2.lang
       |  FROM embeddings e JOIN documents dm2 ON e.vec_id = dm2.doc_id$delPred),
       |tcand AS MATERIALIZED (SELECT vq.qid, c.id,
       |    $sHatExpr AS s_hat,
       |    $cushExpr AS cush
       |  FROM vcand c CROSS JOIN vq
       |  JOIN qf ON qf.qid = vq.qid AND qf.lang = c.lang
       |  JOIN tr ON tr.qid = vq.qid
       |  JOIN nrm nq2 ON vq.qid = nq2.vec_id),
       |${tieredTailCtes(d, poolN,
           if (negMod > 0) "vembc" else "embeddings")}""".stripMargin
  }

  /** [[tieredVecPoolCtes]] with candidates restricted to each qid's
    * PROBED CELLS ([[IvfOracle.indexedCandCtes]]'s `icand`) — the
    * oracle of the fully-composed vector side: partition pruning
    * (cells) × column pruning (tier) × pushed predicate (lang). */
  private def tieredIndexedVecPoolCtes(d: Int, nq: Int, nCells: Int,
                                       nprobe: Int,
                                       unionLangs: Seq[String],
                                       tiers: Seq[(Long, Int)],
                                       alpha: Double, poolN: Int,
                                       relPath: Option[String],
                                       negMod: Int = 0,
                                       delMod: Int = 0): String = {
    // negMod and delMod compose — see [[tieredVecPoolCtes]]
    val usedScales = tiers.map(_._2).distinct.sorted
    val (sHatExpr, cushExpr) = tierScoreExprs(d, usedScales, alpha)
    // the UPSERTED view (negMod > 0): assignment, probes, query
    // vectors, tier codes, and the rescore fetch ALL read the commit
    // view — an updated vector moves cell, and the whole indexed chain
    // must move with it
    val src = if (negMod > 0) "vembc" else "embeddings"
    // the DELETED view (delMod > 0): tombstoned ids leave the candidate
    // corpus only — assignment/probes stay STALE (the surviving rows
    // keep their cells; queries from the table), so the cut is a
    // predicate on the candidate join, exactly where the engine's
    // committed layout physically lacks the rows
    val delPred = if (delMod <= 0) ""
      else s"\n  WHERE ic.id % $delMod <> 0"
    s"""${if (negMod > 0) vembcCte(negMod) else ""}vq AS (
       |       SELECT vec_id AS qid, embedding AS qv FROM $src
       |       ORDER BY vec_id LIMIT $nq),
       |tr AS (${tierRelBody(tiers, relPath)}),
       |${IvfOracle.indexedCandCtes(d, nq, nCells, nprobe, unionLangs,
          src)},
       |tcand AS MATERIALIZED (SELECT ic.qid, ic.id,
       |    $sHatExpr AS s_hat,
       |    $cushExpr AS cush
       |  FROM icand ic
       |  JOIN $src c ON c.vec_id = ic.id
       |  JOIN vq ON vq.qid = ic.qid
       |  JOIN tr ON tr.qid = ic.qid
       |  JOIN nrm nq2 ON ic.qid = nq2.vec_id$delPred),
       |${tieredTailCtes(d, poolN, src)}""".stripMargin
  }

  /** [[graft.operators.Search.serveRequestsTiered]]: the serve chain
    * with the vector pool swapped for the per-request-precision tiered
    * pipeline. */
  def serveRequestsTieredSql(d: Int, queries: Seq[(Long, Seq[String])],
                             filters: Seq[(Long, String)],
                             weights: Seq[(Long, Double)],
                             ks: Seq[(Long, Int)],
                             tiers: Seq[(Long, Int)], alpha: Double,
                             k1: Double, b: Double, poolN: Int,
                             st: Option[Bm25Stats],
                             relPath: Option[String] = None,
                             negMod: Int = 0,
                             delMod: Int = 0): String = {
    val nq = (filters.map(_._1).max + 1).toInt
    val pool = tieredVecPoolCtes(d, nq, tiers, alpha, poolN, relPath,
      negMod, delMod)
    s"""WITH ${serveCommonCtes(d, queries, filters, weights, ks, k1, b,
          poolN, st, relPath, vectorPoolCtes = Some(pool))},
       |ranked AS (SELECT qid, doc_id, fused, tnorm, vnorm,
       |  row_number() OVER (PARTITION BY qid ORDER BY fused DESC, doc_id ASC) AS rnk
       |  FROM scoredf)
       |SELECT r.qid, CAST(r.rnk AS INTEGER) AS rank, r.doc_id, r.fused,
       |  r.tnorm, r.vnorm
       |FROM ranked r JOIN qk3 ON qk3.qid = r.qid
       |WHERE r.rnk <= qk3.kq""".stripMargin
  }

  /** [[graft.operators.Search.serveRequestsTieredMetrics]]: the tiered
    * capstone's per-request ledger — bytes_vec = 8·N (lang column) +
    * codeBytes(tier_q)·d·v_cands (the request's own tier's chunks) +
    * 4d·fetched (full-precision rescue fetches). */
  def serveRequestsTieredMetricsSql(d: Int,
                                    queries: Seq[(Long, Seq[String])],
                                    filters: Seq[(Long, String)],
                                    weights: Seq[(Long, Double)],
                                    ks: Seq[(Long, Int)],
                                    tiers: Seq[(Long, Int)],
                                    tierCodeBytes: Int => Int,
                                    alpha: Double, k1: Double, b: Double,
                                    poolN: Int, st: Option[Bm25Stats],
                                    relPath: Option[String] = None,
                                    negMod: Int = 0,
                                    delMod: Int = 0): String = {
    val nq = (filters.map(_._1).max + 1).toInt
    val pool = tieredVecPoolCtes(d, nq, tiers, alpha, poolN, relPath,
      negMod, delMod)
    // the retention ledger (delMod > 0): v_cands and both byte
    // denominators count the SURVIVING corpus — the deleted rows are
    // gone from the layout, so they are gone from the accounting too
    val delPredVc = if (delMod <= 0) ""
      else s" AND e.vec_id % $delMod <> 0"
    val delPredNv = if (delMod <= 0) ""
      else s" WHERE vec_id % $delMod <> 0"
    val usedScales = tiers.map(_._2).distinct.sorted
    val bRedExpr = usedScales.init
      .foldRight(s"${tierCodeBytes(usedScales.last)}") { (s, rest) =>
        s"CASE WHEN tr.tier = $s THEN ${tierCodeBytes(s)} ELSE $rest END" }
    s"""WITH ${serveCommonCtes(d, queries, filters, weights, ks, k1, b,
          poolN, st, relPath, vectorPoolCtes = Some(pool))},
       |tc AS (SELECT qt.qid, COUNT(*) AS t_cands,
       |    CAST(SUM(len(p.term) + 24) AS BIGINT) AS bytes_text
       |  FROM posts p JOIN qt ON p.term = qt.term GROUP BY qt.qid),
       |vc AS (SELECT qf.qid, COUNT(*) AS v_cands
       |  FROM embeddings e JOIN documents dm3 ON e.vec_id = dm3.doc_id
       |  JOIN qf ON qf.lang = dm3.lang$delPredVc GROUP BY qf.qid),
       |tfc AS (SELECT qid, COUNT(*) AS fetched FROM tfetch GROUP BY qid),
       |fc AS (SELECT qid, COUNT(*) AS fused FROM scoredf GROUP BY qid),
       |nvs AS (SELECT COUNT(*) AS nv FROM embeddings$delPredNv),
       |perq AS (SELECT qk3.qid, tr.tier,
       |    COALESCE(tc.t_cands, 0) AS t_cands,
       |    COALESCE(vc.v_cands, 0) AS v_cands,
       |    COALESCE(tfc.fetched, 0) AS fetched,
       |    COALESCE(fc.fused, 0) AS fused,
       |    LEAST(CAST(qk3.kq AS BIGINT), COALESCE(fc.fused, 0)) AS page,
       |    COALESCE(tc.bytes_text, 0) AS bytes_text,
       |    8 * nvs.nv + ($bRedExpr) * $d * COALESCE(vc.v_cands, 0) +
       |      ${4L * d} * COALESCE(tfc.fetched, 0) AS bytes_vec,
       |    (8 + ${4L * d}) * nvs.nv AS bytes_vec_full
       |  FROM qk3
       |  JOIN tr ON tr.qid = qk3.qid
       |  LEFT JOIN tc ON tc.qid = qk3.qid
       |  LEFT JOIN vc ON vc.qid = qk3.qid
       |  LEFT JOIN tfc ON tfc.qid = qk3.qid
       |  LEFT JOIN fc ON fc.qid = qk3.qid
       |  CROSS JOIN nvs),
       |tot AS (SELECT CAST(-1 AS BIGINT) AS qid, -1 AS tier,
       |    CAST(SUM(t_cands) AS BIGINT) AS t_cands,
       |    CAST(SUM(v_cands) AS BIGINT) AS v_cands,
       |    CAST(SUM(fetched) AS BIGINT) AS fetched,
       |    CAST(SUM(fused) AS BIGINT) AS fused,
       |    CAST(SUM(page) AS BIGINT) AS page,
       |    CAST(SUM(bytes_text) AS BIGINT) AS bytes_text,
       |    CAST(SUM(bytes_vec) AS BIGINT) AS bytes_vec,
       |    CAST(SUM(bytes_vec_full) AS BIGINT) AS bytes_vec_full
       |  FROM perq),
       |allrows AS (SELECT qid, tier,
       |    CAST(t_cands AS BIGINT) AS t_cands,
       |    CAST(v_cands AS BIGINT) AS v_cands,
       |    CAST(fetched AS BIGINT) AS fetched,
       |    CAST(fused AS BIGINT) AS fused, CAST(page AS BIGINT) AS page,
       |    CAST(bytes_text AS BIGINT) AS bytes_text,
       |    CAST(bytes_vec AS BIGINT) AS bytes_vec,
       |    CAST(bytes_vec_full AS BIGINT) AS bytes_vec_full FROM perq
       |  UNION ALL SELECT * FROM tot)
       |SELECT qid, tier, t_cands, v_cands, fetched, fused, page,
       |  bytes_text, bytes_vec, bytes_vec_full,
       |  1.0 - CAST(bytes_text + bytes_vec AS DOUBLE) /
       |    CAST(bytes_text + bytes_vec_full AS DOUBLE) AS save,
       |  CASE WHEN t_cands + v_cands = 0 THEN CAST(0.0 AS DOUBLE)
       |       ELSE CAST(fused - page AS DOUBLE) /
       |         CAST(t_cands + v_cands AS DOUBLE) END AS fpr
       |FROM allrows""".stripMargin
  }

  /** [[graft.operators.Search.serveRequestsTiered]] with
    * `indexed = Some((nCells, d, nprobe))`: the serve chain with the
    * vector pool swapped for the probed-cell tiered pipeline. */
  def serveRequestsTieredIndexedSql(d: Int,
                                    queries: Seq[(Long, Seq[String])],
                                    filters: Seq[(Long, String)],
                                    weights: Seq[(Long, Double)],
                                    ks: Seq[(Long, Int)],
                                    tiers: Seq[(Long, Int)],
                                    alpha: Double, k1: Double, b: Double,
                                    poolN: Int, nCells: Int, nprobe: Int,
                                    st: Option[Bm25Stats],
                                    relPath: Option[String] = None,
                                    negMod: Int = 0,
                                    delMod: Int = 0): String = {
    val nq = (filters.map(_._1).max + 1).toInt
    val pool = tieredIndexedVecPoolCtes(d, nq, nCells, nprobe,
      filters.map(_._2).distinct, tiers, alpha, poolN, relPath, negMod,
      delMod)
    s"""WITH ${serveCommonCtes(d, queries, filters, weights, ks, k1, b,
          poolN, st, relPath, vectorPoolCtes = Some(pool))},
       |ranked AS (SELECT qid, doc_id, fused, tnorm, vnorm,
       |  row_number() OVER (PARTITION BY qid ORDER BY fused DESC, doc_id ASC) AS rnk
       |  FROM scoredf)
       |SELECT r.qid, CAST(r.rnk AS INTEGER) AS rank, r.doc_id, r.fused,
       |  r.tnorm, r.vnorm
       |FROM ranked r JOIN qk3 ON qk3.qid = r.qid
       |WHERE r.rnk <= qk3.kq""".stripMargin
  }

  /** [[graft.operators.Search.serveRequestsTieredMetrics]] with
    * `indexed = Some((nCells, d, nprobe))`: per-request bytes with all
    * three vector-side savings — pc_rows·8 (partition pruning) +
    * codeBytes(tier)·d·v_cands (tier column pruning over probed ∩ lang
    * rows) + 4d·fetched. */
  def serveRequestsTieredIndexedMetricsSql(d: Int,
      queries: Seq[(Long, Seq[String])], filters: Seq[(Long, String)],
      weights: Seq[(Long, Double)], ks: Seq[(Long, Int)],
      tiers: Seq[(Long, Int)], tierCodeBytes: Int => Int, alpha: Double,
      k1: Double, b: Double, poolN: Int, nCells: Int, nprobe: Int,
      st: Option[Bm25Stats], relPath: Option[String] = None,
      negMod: Int = 0, delMod: Int = 0): String = {
    val nq = (filters.map(_._1).max + 1).toInt
    // negMod > 0: the commit view — iasg/iqp (and with them the occ and
    // lang-occupancy ledgers) re-derive off the flipped corpus, so
    // pc_rows/v_cands count the committed layout's cells (moved rows
    // where they now live)
    val pool = tieredIndexedVecPoolCtes(d, nq, nCells, nprobe,
      filters.map(_._2).distinct, tiers, alpha, poolN, relPath, negMod,
      delMod)
    // delMod > 0: the retention ledger — the tombstoned rows are gone
    // from the layout's cells, so the occupancy ledgers and the
    // full-scan denominator count the survivors only (assignment of
    // the survivors stays stale — the Lucene contract)
    val delPredOcc = if (delMod <= 0) ""
      else s" WHERE vec_id % $delMod <> 0"
    val delPredLocc = if (delMod <= 0) ""
      else s" AND a.vec_id % $delMod <> 0"
    val delPredNv = if (delMod <= 0) ""
      else s" WHERE vec_id % $delMod <> 0"
    val usedScales = tiers.map(_._2).distinct.sorted
    val bRedExpr = usedScales.init
      .foldRight(s"${tierCodeBytes(usedScales.last)}") { (s, rest) =>
        s"CASE WHEN tr.tier = $s THEN ${tierCodeBytes(s)} ELSE $rest END" }
    s"""WITH ${serveCommonCtes(d, queries, filters, weights, ks, k1, b,
          poolN, st, relPath, vectorPoolCtes = Some(pool))},
       |tc AS (SELECT qt.qid, COUNT(*) AS t_cands,
       |    CAST(SUM(len(p.term) + 24) AS BIGINT) AS bytes_text
       |  FROM posts p JOIN qt ON p.term = qt.term GROUP BY qt.qid),
       |occ AS (SELECT cell, COUNT(*) AS occ FROM iasg$delPredOcc
       |  GROUP BY cell),
       |pc AS (SELECT iqp.qid, CAST(SUM(occ.occ) AS BIGINT) AS pc_rows
       |  FROM iqp JOIN occ ON occ.cell = iqp.cell GROUP BY iqp.qid),
       |locc AS (SELECT a.cell, dm4.lang, COUNT(*) AS n
       |  FROM iasg a JOIN documents dm4 ON a.vec_id = dm4.doc_id$delPredLocc
       |  GROUP BY a.cell, dm4.lang),
       |vc AS (SELECT iqp.qid, CAST(SUM(l.n) AS BIGINT) AS v_cands
       |  FROM iqp JOIN locc l ON l.cell = iqp.cell
       |  JOIN qf ON qf.qid = iqp.qid AND qf.lang = l.lang
       |  GROUP BY iqp.qid),
       |tfc AS (SELECT qid, COUNT(*) AS fetched FROM tfetch GROUP BY qid),
       |fc AS (SELECT qid, COUNT(*) AS fused FROM scoredf GROUP BY qid),
       |nvs AS (SELECT COUNT(*) AS nv FROM embeddings$delPredNv),
       |perq AS (SELECT qk3.qid, tr.tier,
       |    COALESCE(tc.t_cands, 0) AS t_cands,
       |    COALESCE(pc.pc_rows, 0) AS pc_rows,
       |    COALESCE(vc.v_cands, 0) AS v_cands,
       |    COALESCE(tfc.fetched, 0) AS fetched,
       |    COALESCE(fc.fused, 0) AS fused,
       |    LEAST(CAST(qk3.kq AS BIGINT), COALESCE(fc.fused, 0)) AS page,
       |    COALESCE(tc.bytes_text, 0) AS bytes_text,
       |    COALESCE(pc.pc_rows, 0) * 8 +
       |      ($bRedExpr) * $d * COALESCE(vc.v_cands, 0) +
       |      ${4L * d} * COALESCE(tfc.fetched, 0) AS bytes_vec,
       |    (8 + ${4L * d}) * nvs.nv AS bytes_vec_full
       |  FROM qk3
       |  JOIN tr ON tr.qid = qk3.qid
       |  LEFT JOIN tc ON tc.qid = qk3.qid
       |  LEFT JOIN pc ON pc.qid = qk3.qid
       |  LEFT JOIN vc ON vc.qid = qk3.qid
       |  LEFT JOIN tfc ON tfc.qid = qk3.qid
       |  LEFT JOIN fc ON fc.qid = qk3.qid
       |  CROSS JOIN nvs),
       |tot AS (SELECT CAST(-1 AS BIGINT) AS qid, -1 AS tier,
       |    CAST(SUM(t_cands) AS BIGINT) AS t_cands,
       |    CAST(SUM(pc_rows) AS BIGINT) AS pc_rows,
       |    CAST(SUM(v_cands) AS BIGINT) AS v_cands,
       |    CAST(SUM(fetched) AS BIGINT) AS fetched,
       |    CAST(SUM(fused) AS BIGINT) AS fused,
       |    CAST(SUM(page) AS BIGINT) AS page,
       |    CAST(SUM(bytes_text) AS BIGINT) AS bytes_text,
       |    CAST(SUM(bytes_vec) AS BIGINT) AS bytes_vec,
       |    CAST(SUM(bytes_vec_full) AS BIGINT) AS bytes_vec_full
       |  FROM perq),
       |allrows AS (SELECT qid, tier,
       |    CAST(t_cands AS BIGINT) AS t_cands,
       |    CAST(pc_rows AS BIGINT) AS pc_rows,
       |    CAST(v_cands AS BIGINT) AS v_cands,
       |    CAST(fetched AS BIGINT) AS fetched,
       |    CAST(fused AS BIGINT) AS fused, CAST(page AS BIGINT) AS page,
       |    CAST(bytes_text AS BIGINT) AS bytes_text,
       |    CAST(bytes_vec AS BIGINT) AS bytes_vec,
       |    CAST(bytes_vec_full AS BIGINT) AS bytes_vec_full FROM perq
       |  UNION ALL SELECT * FROM tot)
       |SELECT qid, tier, t_cands, pc_rows, v_cands, fetched, fused,
       |  page, bytes_text, bytes_vec, bytes_vec_full,
       |  1.0 - CAST(bytes_text + bytes_vec AS DOUBLE) /
       |    CAST(bytes_text + bytes_vec_full AS DOUBLE) AS save,
       |  CASE WHEN t_cands + v_cands = 0 THEN CAST(0.0 AS DOUBLE)
       |       ELSE CAST(fused - page AS DOUBLE) /
       |         CAST(t_cands + v_cands AS DOUBLE) END AS fpr
       |FROM allrows""".stripMargin
  }

  /**
   * Per-request byte ledger on the serving capstone
   * ([[graft.operators.Search.serveRequestsMetrics]]): per-qid counts
   * and byte sums over the SAME posting / lang-filter / fused
   * relations the serve plan reads, LEFT-joined from the request
   * universe (zero-match qids emit explicit all-zero rows, 0/0 ratios
   * defined as 0.0), plus the qid = -1 aggregate summing the per-qid
   * integers. Integer counts first, single divisions at the end — the
   * ratio doubles are exact on both engines.
   */
  def serveRequestsMetricsSql(d: Int, queries: Seq[(Long, Seq[String])],
                              filters: Seq[(Long, String)],
                              weights: Seq[(Long, Double)],
                              ks: Seq[(Long, Int)], k1: Double,
                              b: Double, poolN: Int,
                              st: Option[Bm25Stats],
                              relPath: Option[String] = None,
                              updatedTokenMod: Int = 0,
                              updatedToken: String = "",
                              vecNegMod: Int = 0,
                              relKind: String = "bm25"): String =
    s"""WITH ${serveCommonCtes(d, queries, filters, weights, ks, k1, b,
          poolN, st, relPath, updatedTokenMod = updatedTokenMod,
          updatedToken = updatedToken, vecNegMod = vecNegMod,
          relKind = relKind)},
       |tc AS (SELECT qt.qid, COUNT(*) AS t_cands,
       |    CAST(SUM(len(p.term) + 24) AS BIGINT) AS bytes_text
       |  FROM posts p JOIN qt ON p.term = qt.term GROUP BY qt.qid),
       |vc AS (SELECT qf.qid, COUNT(*) AS v_cands
       |  FROM embeddings e JOIN documents dm3 ON e.vec_id = dm3.doc_id
       |  JOIN qf ON qf.lang = dm3.lang GROUP BY qf.qid),
       |fc AS (SELECT qid, COUNT(*) AS fused FROM scoredf GROUP BY qid),
       |nvs AS (SELECT COUNT(*) AS nv FROM embeddings),
       |perq AS (SELECT qk3.qid,
       |    COALESCE(tc.t_cands, 0) AS t_cands,
       |    COALESCE(vc.v_cands, 0) AS v_cands,
       |    COALESCE(fc.fused, 0) AS fused,
       |    LEAST(CAST(qk3.kq AS BIGINT), COALESCE(fc.fused, 0)) AS page,
       |    COALESCE(tc.bytes_text, 0) AS bytes_text,
       |    8 * nvs.nv + COALESCE(vc.v_cands, 0) * ${4L * d} AS bytes_vec,
       |    (8 + ${4L * d}) * nvs.nv AS bytes_vec_full
       |  FROM qk3
       |  LEFT JOIN tc ON tc.qid = qk3.qid
       |  LEFT JOIN vc ON vc.qid = qk3.qid
       |  LEFT JOIN fc ON fc.qid = qk3.qid
       |  CROSS JOIN nvs),
       |tot AS (SELECT CAST(-1 AS BIGINT) AS qid,
       |    CAST(SUM(t_cands) AS BIGINT) AS t_cands,
       |    CAST(SUM(v_cands) AS BIGINT) AS v_cands,
       |    CAST(SUM(fused) AS BIGINT) AS fused,
       |    CAST(SUM(page) AS BIGINT) AS page,
       |    CAST(SUM(bytes_text) AS BIGINT) AS bytes_text,
       |    CAST(SUM(bytes_vec) AS BIGINT) AS bytes_vec,
       |    CAST(SUM(bytes_vec_full) AS BIGINT) AS bytes_vec_full
       |  FROM perq),
       |allrows AS (SELECT qid, CAST(t_cands AS BIGINT) AS t_cands,
       |    CAST(v_cands AS BIGINT) AS v_cands,
       |    CAST(fused AS BIGINT) AS fused, CAST(page AS BIGINT) AS page,
       |    CAST(bytes_text AS BIGINT) AS bytes_text,
       |    CAST(bytes_vec AS BIGINT) AS bytes_vec,
       |    CAST(bytes_vec_full AS BIGINT) AS bytes_vec_full FROM perq
       |  UNION ALL SELECT * FROM tot)
       |SELECT qid, t_cands, v_cands, fused, page, bytes_text, bytes_vec,
       |  bytes_vec_full,
       |  1.0 - CAST(bytes_text + bytes_vec AS DOUBLE) /
       |    CAST(bytes_text + bytes_vec_full AS DOUBLE) AS save,
       |  CASE WHEN t_cands + v_cands = 0 THEN CAST(0.0 AS DOUBLE)
       |       ELSE CAST(fused - page AS DOUBLE) /
       |         CAST(t_cands + v_cands AS DOUBLE) END AS fpr
       |FROM allrows""".stripMargin

  /** MaxScore byte ledger ([[graft.operators.Search
    * .bm25MaxScoreMetrics]]): the whole bound/seed/tau/survivor
    * pipeline re-derived relationally over the logical posting rows
    * (one row per (term, doc) with tf and the doc length), then the
    * per-column byte sums — term chars + 8 for the cheap pass, 24 per
    * fetched row for the two exact passes, full row width for the
    * baseline. idf literals guarded by df recomputation as in
    * [[bm25Sql]]. */
  def bm25MaxScoreMetricsSql(terms: Seq[String], k1: Double, b: Double,
                             topN: Int, seedB: Int,
                             st: Option[Bm25Stats]): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      s"SUM(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS df$i"
    }.mkString(",\n|  ")
    def idf(i: Int, t: String): String = {
      val lnForm = s"ln(1.0 + (st2.n - dfp.df$i + 0.5) / (dfp.df$i + 0.5))"
      st match {
        case Some(s) =>
          s"CASE WHEN dfp.df$i = ${s.df(t)} THEN ${dlit(s.idf(t))} ELSE $lnForm END"
        case None => lnForm
      }
    }
    val boundExpr = terms.zipWithIndex.map { case (t, i) =>
      s"(CAST(MAX(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS DOUBLE) * " +
        s"(${idf(i, t)} * ${dlit(k1 + 1.0)}))"
    }.reduceLeft((a, c) => s"($a + $c)")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"SUM(CASE WHEN term = '$t' THEN tf ELSE 0 END) AS tf$i"
    }.mkString(",\n|  ")
    val scoreExpr = terms.zipWithIndex.map { case (t, i) =>
      s"(${idf(i, t)} * ((CAST(tf$i AS DOUBLE) * ${dlit(k1 + 1.0)}) / " +
        s"(CAST(tf$i AS DOUBLE) + ${dlit(k1)} * (${dlit(1.0 - b)} + " +
        s"${dlit(b)} * (CAST(dl AS DOUBLE) / " +
        s"(CAST(st2.sumdl AS DOUBLE) / st2.n))))))"
    }.reduceLeft((a, c) => s"($a + $c)")
    s"""WITH posts AS MATERIALIZED (
       |  SELECT tok AS term, doc_id, COUNT(*) AS tf, MIN(dl) AS dl
       |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS dl,
       |               unnest(string_split(text, ' ')) AS tok FROM documents)
       |  WHERE tok IN ($inList)
       |  GROUP BY tok, doc_id),
       |st2 AS (SELECT COUNT(*) AS n,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sumdl
       |  FROM documents),
       |dfp AS (SELECT $dfCols FROM posts),
       |bounds AS MATERIALIZED (SELECT doc_id, $boundExpr AS bound
       |  FROM posts, dfp, st2 GROUP BY doc_id, ${
        (0 until terms.size).map(i => s"dfp.df$i").mkString(", ")}, st2.n),
       |seeds AS MATERIALIZED (SELECT doc_id FROM bounds
       |  ORDER BY bound DESC, doc_id ASC LIMIT $seedB),
       |spiv AS (SELECT p.doc_id, p.dl, $tfCols
       |  FROM posts p JOIN seeds s ON p.doc_id = s.doc_id
       |  GROUP BY p.doc_id, p.dl),
       |sscored AS (SELECT doc_id, $scoreExpr AS score FROM spiv, dfp, st2),
       |tauc AS (SELECT MIN(score) AS tau FROM (
       |  SELECT score FROM sscored ORDER BY score DESC, doc_id ASC LIMIT $topN)),
       |surv AS MATERIALIZED (SELECT b.doc_id FROM bounds b, tauc
       |  WHERE b.bound >= tauc.tau)
       |SELECT
       |  (SELECT COUNT(*) FROM bounds) AS candidates,
       |  (SELECT COUNT(*) FROM seeds) AS seed_docs,
       |  (SELECT COUNT(*) FROM surv) AS survivors,
       |  CAST((SELECT SUM(len(term) + 8) FROM posts) AS BIGINT) AS bytes_cheap,
       |  CAST(24 * ((SELECT COUNT(*) FROM posts p JOIN seeds s ON p.doc_id = s.doc_id)
       |    + (SELECT COUNT(*) FROM posts p JOIN surv s ON p.doc_id = s.doc_id))
       |    AS BIGINT) AS bytes_exact,
       |  CAST((SELECT SUM(len(term) + 24) FROM posts) AS BIGINT) AS bytes_full,
       |  1.0 - CAST((SELECT SUM(len(term) + 8) FROM posts)
       |      + 24 * ((SELECT COUNT(*) FROM posts p JOIN seeds s ON p.doc_id = s.doc_id)
       |        + (SELECT COUNT(*) FROM posts p JOIN surv s ON p.doc_id = s.doc_id)) AS DOUBLE)
       |    / CAST((SELECT SUM(len(term) + 24) FROM posts) AS DOUBLE) AS save,
       |  CAST((SELECT COUNT(*) FROM surv)
       |      - LEAST($topN, (SELECT COUNT(*) FROM bounds)) AS DOUBLE)
       |    / CAST((SELECT COUNT(*) FROM bounds) AS DOUBLE) AS fpr""".stripMargin
  }

  /**
   * Per-qid MaxScore byte ledger ([[graft.operators.Search
   * .bm25MultiMaxScoreMetrics]]): the multi-query bound/seed/tau/
   * survivor pipeline re-derived relationally over the union-pruned
   * logical posting rows joined to the (qid, term, pos) relation, then
   * the per-qid byte aggregates — term chars + 8 for each qid's cheap
   * pass, 24 per posting row its seed and survivor passes fetch, full
   * row width for its baseline — one row per qid plus the qid = -1
   * aggregate row (sums of the per-qid integers). idf literals guarded
   * by df recomputation as everywhere; save = one division per row.
   */
  def bm25MultiMaxScoreMetricsSql(queries: Seq[(Long, Seq[String])],
                                  k1: Double, b: Double, topN: Int,
                                  seedB: Int, st: Option[Bm25Stats],
                                  relPath: Option[String] = None): String = {
    val unionTerms = queries.flatMap(_._2).distinct
    val maxPos = queries.map(_._2.size).max
    val inList = unionTerms.map(t => s"'$t'").mkString(", ")
    val dfCols = unionTerms.zipWithIndex.map { case (t, i) =>
      s"SUM(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS df$i"
    }.mkString(",\n|  ")
    def idf(i: Int, t: String): String = {
      val lnForm = s"ln(1.0 + (st2.n - dfp.df$i + 0.5) / (dfp.df$i + 0.5))"
      st match {
        case Some(s) =>
          s"CASE WHEN dfp.df$i = ${s.df(t)} THEN ${dlit(s.idf(t))} ELSE $lnForm END"
        case None => lnForm
      }
    }
    val tiRows = unionTerms.zipWithIndex.map { case (t, i) =>
      s"SELECT '$t' AS term, ${idf(i, t)} AS idf, " +
        s"(${idf(i, t)}) * ${dlit(k1 + 1.0)} AS ms FROM dfp, st2"
    }.mkString("\n|  UNION ALL ")
    val qtRows = queries.flatMap { case (qid, ts) =>
      ts.zipWithIndex.map { case (t, p) => s"($qid, '$t', $p)" }
    }.mkString(", ")
    val boundExpr = (0 until maxPos).map(p =>
      s"COALESCE(MAX(CASE WHEN pos = $p THEN ms END), CAST(0.0 AS DOUBLE))")
      .reduceLeft((a, c) => s"($a + $c)")
    val tfCols = (0 until maxPos).map(p =>
      s"SUM(CASE WHEN pos = $p THEN tf ELSE 0 END) AS tf$p")
      .mkString(",\n|  ")
    val idfCols = (0 until maxPos).map(p =>
      s"MAX(CASE WHEN pos = $p THEN idf END) AS idf$p")
      .mkString(",\n|  ")
    val scoreExpr = (0 until maxPos).map { p =>
      s"(COALESCE(idf$p, CAST(0.0 AS DOUBLE)) * " +
        s"((CAST(tf$p AS DOUBLE) * ${dlit(k1 + 1.0)}) / " +
        s"(CAST(tf$p AS DOUBLE) + ${dlit(k1)} * (${dlit(1.0 - b)} + " +
        s"${dlit(b)} * (CAST(dl AS DOUBLE) / " +
        s"(CAST(st2.sumdl AS DOUBLE) / st2.n))))))"
    }.reduceLeft((a, c) => s"($a + $c)")
    s"""WITH posts AS MATERIALIZED (
       |  SELECT tok AS term, doc_id, COUNT(*) AS tf, MIN(dl) AS dl
       |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS dl,
       |               unnest(string_split(text, ' ')) AS tok FROM documents)
       |  WHERE tok IN ($inList)
       |  GROUP BY tok, doc_id),
       |st2 AS (SELECT COUNT(*) AS n,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sumdl
       |  FROM documents),
       |dfp AS (SELECT $dfCols FROM posts),
       |ti AS ($tiRows),
       |qt AS (${relCte(relPath, "bm25", "qid, term, pos",
          s"SELECT CAST(qid AS BIGINT) AS qid, term," +
            s"\n    CAST(pos AS INTEGER) AS pos" +
            s"\n  FROM (VALUES $qtRows) AS v(qid, term, pos)")}),
       |qtm AS (SELECT qt.qid, qt.term, qt.pos, ti.idf, ti.ms
       |  FROM qt JOIN ti ON ti.term = qt.term),
       |candrel AS MATERIALIZED (SELECT q.qid, p.doc_id, p.term, p.tf,
       |    p.dl, q.pos, q.idf, q.ms
       |  FROM posts p JOIN qtm q ON p.term = q.term),
       |bounds AS MATERIALIZED (SELECT qid, doc_id, $boundExpr AS bound
       |  FROM candrel GROUP BY qid, doc_id),
       |seeds AS MATERIALIZED (SELECT qid, doc_id FROM (
       |    SELECT qid, doc_id,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY bound DESC, doc_id ASC) AS rk
       |    FROM bounds) WHERE rk <= $seedB),
       |spiv AS (SELECT c.qid, c.doc_id, c.dl, $tfCols,
       |  $idfCols
       |  FROM candrel c JOIN seeds s
       |    ON s.qid = c.qid AND s.doc_id = c.doc_id
       |  GROUP BY c.qid, c.doc_id, c.dl),
       |sscored AS (SELECT qid, doc_id, $scoreExpr AS score
       |  FROM spiv, st2),
       |taus AS MATERIALIZED (SELECT qid, MIN(score) AS tau FROM (
       |    SELECT qid, score,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY score DESC, doc_id ASC) AS rk
       |    FROM sscored) WHERE rk <= $topN GROUP BY qid),
       |surv AS MATERIALIZED (SELECT b.qid, b.doc_id FROM bounds b
       |  JOIN taus t ON t.qid = b.qid WHERE b.bound >= t.tau),
       |cb AS (SELECT qid,
       |    CAST(SUM(len(term) + 24) AS BIGINT) AS bytes_full,
       |    CAST(SUM(len(term) + 8) AS BIGINT) AS bytes_cheap
       |  FROM candrel GROUP BY qid),
       |cnt AS (SELECT qid, COUNT(*) AS candidates FROM bounds GROUP BY qid),
       |scnt AS (SELECT qid, COUNT(*) AS seed_docs FROM seeds GROUP BY qid),
       |vcnt AS (SELECT qid, COUNT(*) AS survivors FROM surv GROUP BY qid),
       |f1 AS (SELECT c.qid, CAST(24 * COUNT(*) AS BIGINT) AS b_seed
       |  FROM candrel c JOIN seeds s
       |    ON s.qid = c.qid AND s.doc_id = c.doc_id GROUP BY c.qid),
       |f2 AS (SELECT c.qid, CAST(24 * COUNT(*) AS BIGINT) AS b_surv
       |  FROM candrel c JOIN surv s
       |    ON s.qid = c.qid AND s.doc_id = c.doc_id GROUP BY c.qid),
       |uq AS (SELECT DISTINCT qid FROM qt),
       |perqid AS (SELECT uq.qid,
       |    COALESCE(cnt.candidates, 0) AS candidates,
       |    COALESCE(scnt.seed_docs, 0) AS seed_docs,
       |    COALESCE(vcnt.survivors, 0) AS survivors,
       |    COALESCE(cb.bytes_cheap, 0) AS bytes_cheap,
       |    COALESCE(f1.b_seed, 0) + COALESCE(f2.b_surv, 0) AS bytes_exact,
       |    COALESCE(cb.bytes_full, 0) AS bytes_full,
       |    CAST(LEAST($topN, COALESCE(cnt.candidates, 0)) AS BIGINT) AS pg
       |  FROM uq LEFT JOIN cnt ON cnt.qid = uq.qid
       |  LEFT JOIN scnt ON scnt.qid = uq.qid
       |  LEFT JOIN vcnt ON vcnt.qid = uq.qid
       |  LEFT JOIN cb ON cb.qid = uq.qid
       |  LEFT JOIN f1 ON f1.qid = uq.qid
       |  LEFT JOIN f2 ON f2.qid = uq.qid),
       |tot AS (SELECT CAST(-1 AS BIGINT) AS qid,
       |    CAST(SUM(candidates) AS BIGINT) AS candidates,
       |    CAST(SUM(seed_docs) AS BIGINT) AS seed_docs,
       |    CAST(SUM(survivors) AS BIGINT) AS survivors,
       |    CAST(SUM(bytes_cheap) AS BIGINT) AS bytes_cheap,
       |    CAST(SUM(bytes_exact) AS BIGINT) AS bytes_exact,
       |    CAST(SUM(bytes_full) AS BIGINT) AS bytes_full,
       |    CAST(SUM(pg) AS BIGINT) AS pg
       |  FROM perqid),
       |allrows AS (SELECT qid, CAST(candidates AS BIGINT) AS candidates,
       |    CAST(seed_docs AS BIGINT) AS seed_docs,
       |    CAST(survivors AS BIGINT) AS survivors,
       |    CAST(bytes_cheap AS BIGINT) AS bytes_cheap,
       |    CAST(bytes_exact AS BIGINT) AS bytes_exact,
       |    CAST(bytes_full AS BIGINT) AS bytes_full,
       |    CAST(pg AS BIGINT) AS pg FROM perqid
       |  UNION ALL SELECT * FROM tot)
       |SELECT qid, candidates, seed_docs, survivors, bytes_cheap,
       |  bytes_exact, bytes_full,
       |  CASE WHEN bytes_full = 0 THEN CAST(0.0 AS DOUBLE)
       |       ELSE 1.0 - CAST(bytes_cheap + bytes_exact AS DOUBLE) /
       |         CAST(bytes_full AS DOUBLE) END AS save,
       |  CASE WHEN candidates = 0 THEN CAST(0.0 AS DOUBLE)
       |       ELSE CAST(survivors - pg AS DOUBLE) /
       |         CAST(candidates AS DOUBLE) END AS fpr
       |FROM allrows""".stripMargin
  }

  /** Relative-score (linear) hybrid fusion
    * ([[graft.operators.Search.hybridLinear]]): each list min-max
    * normalized over its own top-poolN scores (degenerate equal-range
    * list -> 1.0; absent side -> 0.0), fused = α·text + (1-α)·vec —
    * arithmetic mirrored operation-for-operation. */
  def hybridLinearSql(d: Int, terms: Seq[String], k1: Double, b: Double,
                      poolN: Int, alpha: Double, k: Int,
                      st: Option[Bm25Stats]): String = {
    val a = dlit(alpha)
    val oneA = dlit(1.0 - alpha)
    s"""WITH ${bm25Ctes(terms, k1, b, st)},
       |btop AS (SELECT doc_id, score AS tscore FROM (
       |  SELECT doc_id, score,
       |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk FROM bsc)
       |  WHERE rnk <= $poolN),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |      ORDER BY vec_id LIMIT 1),
       |${EmbOracle.nrmCte(d)},
       |vsc AS (SELECT e.vec_id AS id,
       |    ${EmbOracle.dotE("e.embedding", "q.qv", d)} AS dp
       |  FROM embeddings e CROSS JOIN q),
       |vscored AS (SELECT vsc.id,
       |    vsc.dp / (${fn("ni.n2")} * ${fn("nq2.n2")}) AS score
       |  FROM vsc JOIN nrm ni ON vsc.id = ni.vec_id
       |           CROSS JOIN q JOIN nrm nq2 ON q.qid = nq2.vec_id),
       |vtop AS (SELECT id, score AS vscore FROM (
       |  SELECT id, score,
       |    row_number() OVER (ORDER BY score DESC, id ASC) AS rnk FROM vscored)
       |  WHERE rnk <= $poolN),
       |tmm AS (SELECT MIN(tscore) AS tmin, MAX(tscore) AS tmax FROM btop),
       |vmm AS (SELECT MIN(vscore) AS vmin, MAX(vscore) AS vmax FROM vtop),
       |fused AS (SELECT COALESCE(btop.doc_id, vtop.id) AS doc_id,
       |    CASE WHEN btop.tscore IS NULL THEN CAST(0.0 AS DOUBLE)
       |         WHEN tmm.tmax = tmm.tmin THEN CAST(1.0 AS DOUBLE)
       |         ELSE (btop.tscore - tmm.tmin) / (tmm.tmax - tmm.tmin) END AS tnorm,
       |    CASE WHEN vtop.vscore IS NULL THEN CAST(0.0 AS DOUBLE)
       |         WHEN vmm.vmax = vmm.vmin THEN CAST(1.0 AS DOUBLE)
       |         ELSE (vtop.vscore - vmm.vmin) / (vmm.vmax - vmm.vmin) END AS vnorm
       |  FROM btop FULL OUTER JOIN vtop ON btop.doc_id = vtop.id
       |  CROSS JOIN tmm CROSS JOIN vmm),
       |scoredf AS (SELECT doc_id, tnorm, vnorm,
       |    $a * tnorm + $oneA * vnorm AS fused FROM fused),
       |ranked AS (SELECT doc_id, fused, tnorm, vnorm,
       |  row_number() OVER (ORDER BY fused DESC, doc_id ASC) AS rnk FROM scoredf)
       |SELECT doc_id, CAST(rnk AS INTEGER) AS rank, fused, tnorm, vnorm
       |FROM ranked WHERE rnk <= $k""".stripMargin
  }
}
