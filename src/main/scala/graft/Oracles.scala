package graft

import graft.functions.{VectorFunctions => VF}

/** The DuckDB oracle SQL for every [[SparkEntry.queries]] entry — the
  * driver's correctness contract (`CORRECTNESS_r{N}.json` is the
  * hash-compare of each query's parquet dump against these statements run
  * by DuckDB over the same fixtures). Split out of SparkEntry so the
  * engine entries read as code, not as a SQL archive; the GENERATED
  * oracles below are rendered from the SAME constants the engine queries
  * consume ([[SparkEntry.Bm25Queries]], [[SparkEntry.q101Rules]],
  * [[graft.operators.Redaction.piiRules]], [[VF.randomPlanes]]), so the
  * two sides cannot drift.
  *
  * Determinism rules (see SparkEntry's scaladoc): integer-cents money
  * sums, single-IEEE-op divisions, fully tie-broken LIMITs, portable
  * md5-prefix hashes.
  */
private[graft] object Oracles {
  /** q28's oracle, generated: the SRP planes are a pure function of the
    * seed, so they embed in the SQL as double-array literals and DuckDB
    * replays bucketing, multi-probe, and ranking exactly. */
  private def q28OracleSql: String = {
    val planes = VF.randomPlanes(6, 64, 42L)
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_inner_product(v, ${p.mkString("[", ", ", "]")}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n  + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT vec_id, v, $bucket AS bucket FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM b WHERE vec_id < 5),
       |pr AS (SELECT query_id, qv,
       |  unnest([qb, xor(qb,1), xor(qb,2), xor(qb,4), xor(qb,8), xor(qb,16), xor(qb,32)]) AS bucket
       |  FROM q),
       |cand AS (SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id,
       |    CASE WHEN sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(c.v, c.v)) = 0
       |      THEN 0.0
       |      ELSE list_inner_product(p.qv, c.v) /
       |        (sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(c.v, c.v))) END AS cos
       |  FROM pr p JOIN b c ON c.bucket = p.bucket AND c.vec_id <> p.query_id)
       |SELECT query_id, neighbor_id, rnk FROM (
       |  SELECT query_id, neighbor_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk
       |  FROM cand) WHERE rnk <= 10""".stripMargin
  }

  /** q25's oracle, generated the same way as [[q28OracleSql]]: the SRP
    * planes embed as double-array literals, DuckDB replays the bucketed
    * self-join and the exact cosine gate. */
  private def q25OracleSql: String = {
    val planes = VF.randomPlanes(8, 64, 42L)
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_inner_product(v, ${p.mkString("[", ", ", "]")}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n  + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT vec_id, v, $bucket AS bucket FROM e),
       |p AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       |        list_inner_product(a.v, b2.v) AS dp,
       |        sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b2.v, b2.v)) AS denom
       |      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
       |SELECT id_a, id_b,
       |  CASE WHEN denom = 0 THEN 0.0 ELSE dp / denom END AS cosine
       |FROM p WHERE CASE WHEN denom = 0 THEN 0.0 ELSE dp / denom END >= 0.35
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** The IVF-flat retrieval (q49's oracle) with an optional corpus-side
    * candidate predicate — `TRUE` is q49/q120 verbatim; q139 passes the
    * deleted-set exclusion (the index minus tombstoned rows; centroids
    * and cell assignments are build-time and deletion-invariant, so only
    * the candidate set shrinks). `queryPred` picks the query slice
    * (q145 streams a different one through the same retrieval). Also
    * the retrieval core of q62. */
  private def ivfFlatRetrievalSql(candPred: String,
      queryPred: String = "vec_id < 5"): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |ctr AS (SELECT v AS cv,
      |          ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS idx
      |        FROM e
      |        QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8),
      |asg AS (SELECT e.vec_id, e.v, c.idx,
      |          list_inner_product(e.v, e.v)
      |            - 2.0 * list_inner_product(e.v, c.cv)
      |            + list_inner_product(c.cv, c.cv) AS d
      |        FROM e CROSS JOIN ctr c),
      |cell AS (SELECT vec_id, v, idx AS cell FROM asg
      |         QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, idx) = 1),
      |pr AS (SELECT vec_id AS query_id, v AS qv, idx AS cell FROM asg
      |       WHERE $queryPred
      |       QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, idx) <= 2),
      |cand AS (SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id,
      |    CASE WHEN sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(c.v, c.v)) = 0
      |      THEN 0.0
      |      ELSE list_inner_product(p.qv, c.v) /
      |        (sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(c.v, c.v))) END AS cos
      |  FROM pr p JOIN cell c ON c.cell = p.cell AND c.vec_id <> p.query_id
      |    AND $candPred)
      |SELECT query_id, neighbor_id, rnk FROM (
      |  SELECT query_id, neighbor_id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk
      |  FROM cand) WHERE rnk <= 10""".stripMargin

  private val q49OracleSql: String = ivfFlatRetrievalSql("TRUE")

  /** q121's oracle — q49's retrieval with the quantizer FROZEN on the
    * standing (md5-hash < cccc) 80%: centroids come from that subset
    * only, every vector (standing + appended batch) is assigned under
    * them, the probe runs over the union — exactly what
    * build → append → probe produces over the artifact. */
  /** q121/q122's IVF probe oracle with an optional CANDIDATE-side
    * predicate — "TRUE" is the plain artifact probe; q158 passes the
    * tombstoned-vector exclusion (the standing index minus deleted
    * vec_ids after the pressure fold — queries and cell geometry are
    * untouched, only index membership shrinks). */
  private def q121OracleSqlWith(candPred: String): String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |st AS (SELECT * FROM e
      |       WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) < 'cccc'),
      |ctr AS (SELECT v AS cv,
      |          ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS idx
      |        FROM st
      |        QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8),
      |asg AS (SELECT e.vec_id, e.v, c.idx,
      |          list_inner_product(e.v, e.v)
      |            - 2.0 * list_inner_product(e.v, c.cv)
      |            + list_inner_product(c.cv, c.cv) AS d
      |        FROM e CROSS JOIN ctr c),
      |cell AS (SELECT vec_id, v, idx AS cell FROM asg
      |         QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, idx) = 1),
      |pr AS (SELECT vec_id AS query_id, v AS qv, idx AS cell FROM asg
      |       WHERE vec_id < 5
      |       QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, idx) <= 2),
      |cand AS (SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id,
      |    CASE WHEN sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(c.v, c.v)) = 0
      |      THEN 0.0
      |      ELSE list_inner_product(p.qv, c.v) /
      |        (sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(c.v, c.v))) END AS cos
      |  FROM pr p JOIN cell c ON c.cell = p.cell AND c.vec_id <> p.query_id
      |  WHERE CAND_PRED)
      |SELECT query_id, neighbor_id, rnk FROM (
      |  SELECT query_id, neighbor_id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk
      |  FROM cand) WHERE rnk <= 10""".stripMargin
      .replace("CAND_PRED", candPred)

  private val q121OracleSql: String = q121OracleSqlWith("TRUE")

  /** q109's incremental admission with an optional INDEX-side predicate
    * — `TRUE` is q109 verbatim; q140 passes the tombstoned-doc exclusion
    * (the standing index minus deleted doc_ids: only the new-vs-index
    * probe changes — the survivor self-dedup is among new docs only).
    * q48's banding CTEs split new/index by the id-hash prefix;
    * new-vs-index match, survivor self-pairs, recursive components,
    * admitted = unmatched survivor that is its component's min (or
    * unpaired). */
  private def incrementalAdmitSql(indexPred: String): String =
    s"""WITH RECURSIVE d0 AS (SELECT doc_id, text,
      |              substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) >= 'cccc' AS isnew
      |            FROM documents),
      |t1 AS (SELECT doc_id, isnew, string_split_regex(lower(trim(text)), '\\s+') AS t
      |       FROM d0 WHERE trim(COALESCE(text, '')) <> ''),
      |sh AS (SELECT doc_id, isnew, list_distinct(list_transform(
      |         generate_series(1, greatest(len(t) - 2, 1)),
      |         i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM t1),
      |mh AS (SELECT s.doc_id, s.isnew, r.seed,
      |         MIN(md5(CAST(r.seed AS VARCHAR) || ':' || u.sv)) AS m
      |       FROM sh s, UNNEST(s.shingles) AS u(sv), range(8) AS r(seed)
      |       GROUP BY s.doc_id, s.isnew, r.seed),
      |bk AS (SELECT doc_id, isnew, seed // 2 AS band,
      |         string_agg(m, '|' ORDER BY seed) AS bkey
      |       FROM mh GROUP BY doc_id, isnew, seed // 2),
      |xc AS (SELECT DISTINCT n.doc_id AS id_n, o.doc_id AS id_o
      |       FROM bk n JOIN bk o ON n.band = o.band AND n.bkey = o.bkey
      |       WHERE n.isnew AND NOT o.isnew AND $indexPred),
      |matched AS (SELECT DISTINCT c.id_n FROM xc c
      |      JOIN sh sa ON sa.doc_id = c.id_n
      |      JOIN sh sb ON sb.doc_id = c.id_o
      |      WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
      |            CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles)))
      |              AS DOUBLE) >= 0.4),
      |sv AS (SELECT doc_id FROM sh WHERE isnew
      |       AND doc_id NOT IN (SELECT id_n FROM matched)),
      |c2 AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |       FROM bk a JOIN bk b ON a.band = b.band AND a.bkey = b.bkey
      |         AND a.doc_id < b.doc_id
      |       WHERE a.doc_id IN (SELECT doc_id FROM sv)
      |         AND b.doc_id IN (SELECT doc_id FROM sv)),
      |p AS (SELECT c.id_a, c.id_b FROM c2 c
      |      JOIN sh sa ON sa.doc_id = c.id_a
      |      JOIN sh sb ON sb.doc_id = c.id_b
      |      WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
      |            CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles)))
      |              AS DOUBLE) >= 0.4),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM p
      |          UNION SELECT id_b, id_a FROM p),
      |reach(id, r) AS (SELECT src, src FROM edges
      |  UNION SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
      |comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id)
      |SELECT sv.doc_id FROM sv LEFT JOIN comp ON comp.id = sv.doc_id
      |WHERE comp.id IS NULL OR comp.comp = sv.doc_id
      |ORDER BY doc_id""".stripMargin

  /** q62's oracle: the q49 retrieval subquery joined to document
    * metadata (DuckDB allows WITH inside a derived table). */
  private def q62OracleSql: String =
    s"""SELECT a.query_id, a.rnk, a.neighbor_id, d.lang,
       |  CAST(d.n_chars AS BIGINT) AS n_chars
       |FROM (
       |$q49OracleSql
       |) a JOIN documents d ON d.doc_id = a.neighbor_id
       |ORDER BY a.query_id, a.rnk""".stripMargin

  /** q59's oracle, generated: q49's cell assignment composed with q57's
    * PQ scoring, restricted to probed-cell candidate pairs. The 8-way
    * pivots and left-associated sums are emitted programmatically — the
    * associativity MUST mirror pqTopK's explicit `+` chain. */
  private def q59OracleSql: String = q59AdcCore(10)

  /** q129's two Lloyd training rounds as a reusable CTE chain over `e`
    * (the raw embeddings view), ending in `ctr2` — the TRAINED coarse
    * quantizer (cv, idx), drop-in wherever [[hashCoarseCte]]'s ctr8
    * plugs in. Shared by q133 (trained + flat probe) and q137 (trained +
    * PQ probe) so the training replay can never drift between them. */
  private val lloydRoundsCtes: String =
    """ctr0 AS (SELECT v AS cv,
      |           ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS idx
      |         FROM e
      |         QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8),
      |asg0 AS (SELECT e.vec_id, e.v, c.idx,
      |           list_inner_product(e.v, e.v)
      |             - 2.0 * list_inner_product(e.v, c.cv)
      |             + list_inner_product(c.cv, c.cv) AS d
      |         FROM e CROSS JOIN ctr0 c),
      |cell0 AS (SELECT vec_id, v, idx AS cell FROM asg0
      |          QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, idx) = 1),
      |sums0 AS (SELECT cell, r.i AS pos0,
      |            SUM(CAST(floor(v[r.i + 1] * 1000000.0) AS BIGINT)) AS s,
      |            COUNT(*) AS n
      |          FROM cell0, range(64) AS r(i) GROUP BY 1, 2),
      |c1 AS (SELECT cell,
      |         list(CAST(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS DOUBLE)
      |              / 1000000.0 ORDER BY pos0) AS cv
      |       FROM sums0 GROUP BY cell),
      |ctr1 AS (SELECT s.idx, COALESCE(c.cv, s.cv) AS cv
      |         FROM ctr0 s LEFT JOIN c1 c ON c.cell = s.idx),
      |asg1 AS (SELECT e.vec_id, e.v, c.idx,
      |           list_inner_product(e.v, e.v)
      |             - 2.0 * list_inner_product(e.v, c.cv)
      |             + list_inner_product(c.cv, c.cv) AS d
      |         FROM e CROSS JOIN ctr1 c),
      |cell1 AS (SELECT vec_id, v, idx AS cell FROM asg1
      |          QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, idx) = 1),
      |sums1 AS (SELECT cell, r.i AS pos0,
      |            SUM(CAST(floor(v[r.i + 1] * 1000000.0) AS BIGINT)) AS s,
      |            COUNT(*) AS n
      |          FROM cell1, range(64) AS r(i) GROUP BY 1, 2),
      |ctr2 AS (SELECT cell AS idx,
      |           list(CAST(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS DOUBLE)
      |                / 1000000.0 ORDER BY pos0) AS cv
      |         FROM sums1 GROUP BY cell)""".stripMargin

  /** q141's per-subspace codebook training as a CTE chain over `e`:
    * [[lloydRoundsCtes]]' two quantized Lloyd rounds run independently
    * per (subspace j, codeword) — seeds are the 16 hash-picked vectors
    * SLICED per subspace (exactly pqCodebooks' untrained pick, which is
    * what the trainer refines), assignment argmin ties to the lower
    * code, means are the same fixed-point integer aggregation, empty
    * cells keep the previous codeword. Ends in `pcw2 (j, code, scv)` —
    * the trained codebook table [[adcCoreBooksSql]] consumes. Mirrors
    * Similarity.lloydTrainSubspaces at (m=8, codewords=16, rounds=2,
    * scale=1e6). */
  private val perSubspaceLloydCtes: String =
    """ctrB AS (SELECT v AS cv,
      |           ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cidx
      |         FROM e
      |         QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 16),
      |subB AS (SELECT CAST(r.j AS INTEGER) AS j FROM range(8) AS r(j)),
      |pcw0 AS (SELECT s.j, c.cidx AS code, c.cv[(s.j*8+1):(s.j*8+8)] AS scv
      |         FROM ctrB c CROSS JOIN subB s),
      |pasg0 AS (SELECT e.vec_id, c.j, c.code,
      |            list_inner_product(e.v[(c.j*8+1):(c.j*8+8)], e.v[(c.j*8+1):(c.j*8+8)])
      |              - 2.0 * list_inner_product(e.v[(c.j*8+1):(c.j*8+8)], c.scv)
      |              + list_inner_product(c.scv, c.scv) AS d
      |          FROM e CROSS JOIN pcw0 c),
      |pcode0 AS (SELECT vec_id, j, code FROM pasg0
      |           QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) = 1),
      |psum0 AS (SELECT p.j, p.code, r.i AS pos0,
      |            SUM(CAST(floor(e.v[p.j*8 + r.i + 1] * 1000000.0) AS BIGINT)) AS s,
      |            COUNT(*) AS n
      |          FROM pcode0 p JOIN e ON e.vec_id = p.vec_id, range(8) AS r(i)
      |          GROUP BY 1, 2, 3),
      |pc1 AS (SELECT j, code,
      |          list(CAST(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS DOUBLE)
      |               / 1000000.0 ORDER BY pos0) AS scv
      |        FROM psum0 GROUP BY j, code),
      |pcw1 AS (SELECT s0.j, s0.code, COALESCE(c.scv, s0.scv) AS scv
      |         FROM pcw0 s0 LEFT JOIN pc1 c ON c.j = s0.j AND c.code = s0.code),
      |pasg1 AS (SELECT e.vec_id, c.j, c.code,
      |            list_inner_product(e.v[(c.j*8+1):(c.j*8+8)], e.v[(c.j*8+1):(c.j*8+8)])
      |              - 2.0 * list_inner_product(e.v[(c.j*8+1):(c.j*8+8)], c.scv)
      |              + list_inner_product(c.scv, c.scv) AS d
      |          FROM e CROSS JOIN pcw1 c),
      |pcode1 AS (SELECT vec_id, j, code FROM pasg1
      |           QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) = 1),
      |psum1 AS (SELECT p.j, p.code, r.i AS pos0,
      |            SUM(CAST(floor(e.v[p.j*8 + r.i + 1] * 1000000.0) AS BIGINT)) AS s,
      |            COUNT(*) AS n
      |          FROM pcode1 p JOIN e ON e.vec_id = p.vec_id, range(8) AS r(i)
      |          GROUP BY 1, 2, 3),
      |pcw2 AS (SELECT j, code,
      |           list(CAST(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS DOUBLE)
      |                / 1000000.0 ORDER BY pos0) AS scv
      |         FROM psum1 GROUP BY j, code)""".stripMargin

  /** The ADC-ranked IVF-PQ retrieval over a CTE-supplied codebook TABLE
    * `(j, code, scv)` — [[q59AdcCore]]'s shape with the codebooks read
    * from `bookName` instead of sliced out of the hash-picked full
    * vectors. The corpus encode, query lut and codeword-norm table all
    * join the same book table, so trained codebooks plug in wherever the
    * hash pick did; the pivot/sum chains keep the exact left-associated
    * IEEE order the engine's adcLookupSum emits. */
  private def adcCoreBooksSql(limit: Int, coarseName: String,
      coarseCtes: String, bookName: String, bookCtes: String): String = {
    val sPivot = (0 until 8).map(j =>
      s"MAX(CASE WHEN l.j = $j THEN l.ip END) AS s$j").mkString(",\n         ")
    val nPivot = (0 until 8).map(j =>
      s"MAX(CASE WHEN cn.j = $j THEN cn.nsq END) AS n$j").mkString(",\n         ")
    val sSum = (1 until 8).foldLeft("s0")((acc, j) => s"($acc + s$j)")
    val nSum = (1 until 8).foldLeft("n0")((acc, j) => s"($acc + n$j)")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |$coarseCtes,
       |asgc AS (SELECT e.vec_id, c.idx,
       |           list_inner_product(e.v, e.v) - 2.0 * list_inner_product(e.v, c.cv)
       |             + list_inner_product(c.cv, c.cv) AS d
       |         FROM e CROSS JOIN $coarseName c),
       |cellv AS (SELECT vec_id, idx AS cell FROM asgc
       |          QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, idx) = 1),
       |pr AS (SELECT vec_id AS query_id, idx AS cell FROM asgc WHERE vec_id < 5
       |       QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, idx) <= 2),
       |$bookCtes,
       |asg AS (SELECT e.vec_id, c.j, c.code,
       |          list_inner_product(e.v[(c.j*8+1):(c.j*8+8)], e.v[(c.j*8+1):(c.j*8+8)])
       |            - 2.0 * list_inner_product(e.v[(c.j*8+1):(c.j*8+8)], c.scv)
       |            + list_inner_product(c.scv, c.scv) AS d
       |        FROM e CROSS JOIN $bookName c),
       |codes AS (SELECT vec_id, j, code FROM asg
       |          QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |lut AS (SELECT q.query_id, c.j, c.code AS cidx,
       |          list_inner_product(q.qv[(c.j*8+1):(c.j*8+8)], c.scv) AS ip
       |        FROM q CROSS JOIN $bookName c),
       |cn AS (SELECT c.j, c.code AS cidx,
       |         list_inner_product(c.scv, c.scv) AS nsq
       |       FROM $bookName c),
       |cand AS (SELECT DISTINCT p.query_id, cv2.vec_id
       |         FROM pr p JOIN cellv cv2 ON cv2.cell = p.cell AND cv2.vec_id <> p.query_id),
       |sc AS (SELECT ca.query_id, ca.vec_id AS neighbor_id,
       |         $sPivot,
       |         $nPivot
       |       FROM cand ca
       |       JOIN codes cd ON cd.vec_id = ca.vec_id
       |       JOIN lut l ON l.query_id = ca.query_id AND l.j = cd.j AND l.cidx = cd.code
       |       JOIN cn ON cn.j = cd.j AND cn.cidx = cd.code
       |       GROUP BY 1, 2),
       |qn AS (SELECT query_id, sqrt(list_inner_product(qv, qv)) AS qnorm FROM q)
       |SELECT query_id, neighbor_id, rnk FROM (
       |  SELECT sc.query_id, sc.neighbor_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY sc.query_id
       |      ORDER BY CASE WHEN qn.qnorm * sqrt($nSum) = 0 THEN 0.0
       |        ELSE $sSum / (qn.qnorm * sqrt($nSum)) END DESC,
       |        sc.neighbor_id) AS INTEGER) AS rnk
       |  FROM sc JOIN qn ON qn.query_id = sc.query_id) WHERE rnk <= $limit""".stripMargin
  }

  /** The hash-seeded 8-cell coarse quantizer CTE (q49's ctr, named) —
    * the default coarse stage of the ADC core; [[lloydRoundsCtes]]' ctr2
    * is the TRAINED drop-in (both expose (cv, idx)). */
  private val hashCoarseCte: String =
    """ctr8 AS (SELECT v AS cv,
      |           ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS idx
      |         FROM e
      |         QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8)""".stripMargin

  /** The ADC-ranked IVF-PQ retrieval as a reusable generator: top `limit`
    * candidates per query by ADC cosine. q59 takes it at k=10 directly;
    * q72 takes it at refine·k=20 and re-ranks by exact cosine. */
  private def q59AdcCore(limit: Int, coarseName: String = "ctr8",
      coarseCtes: String = hashCoarseCte): String = {
    val sPivot = (0 until 8).map(j =>
      s"MAX(CASE WHEN l.j = $j THEN l.ip END) AS s$j").mkString(",\n         ")
    val nPivot = (0 until 8).map(j =>
      s"MAX(CASE WHEN cn.j = $j THEN cn.nsq END) AS n$j").mkString(",\n         ")
    val sSum = (1 until 8).foldLeft("s0")((acc, j) => s"($acc + s$j)")
    val nSum = (1 until 8).foldLeft("n0")((acc, j) => s"($acc + n$j)")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |$coarseCtes,
       |asgc AS (SELECT e.vec_id, c.idx,
       |           list_inner_product(e.v, e.v) - 2.0 * list_inner_product(e.v, c.cv)
       |             + list_inner_product(c.cv, c.cv) AS d
       |         FROM e CROSS JOIN $coarseName c),
       |cellv AS (SELECT vec_id, idx AS cell FROM asgc
       |          QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, idx) = 1),
       |pr AS (SELECT vec_id AS query_id, idx AS cell FROM asgc WHERE vec_id < 5
       |       QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, idx) <= 2),
       |ctr AS (SELECT v AS cv,
       |          ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cidx
       |        FROM e
       |        QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 16),
       |sub AS (SELECT CAST(r.j AS INTEGER) AS j FROM range(8) AS r(j)),
       |asg AS (SELECT e.vec_id, s.j, c.cidx,
       |          list_inner_product(e.v[(s.j*8+1):(s.j*8+8)], e.v[(s.j*8+1):(s.j*8+8)])
       |            - 2.0 * list_inner_product(e.v[(s.j*8+1):(s.j*8+8)], c.cv[(s.j*8+1):(s.j*8+8)])
       |            + list_inner_product(c.cv[(s.j*8+1):(s.j*8+8)], c.cv[(s.j*8+1):(s.j*8+8)]) AS d
       |        FROM e CROSS JOIN sub s CROSS JOIN ctr c),
       |codes AS (SELECT vec_id, j, cidx AS code FROM asg
       |          QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, cidx) = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |lut AS (SELECT q.query_id, s.j, c.cidx,
       |          list_inner_product(q.qv[(s.j*8+1):(s.j*8+8)], c.cv[(s.j*8+1):(s.j*8+8)]) AS ip
       |        FROM q CROSS JOIN sub s CROSS JOIN ctr c),
       |cn AS (SELECT s.j, c.cidx,
       |         list_inner_product(c.cv[(s.j*8+1):(s.j*8+8)], c.cv[(s.j*8+1):(s.j*8+8)]) AS nsq
       |       FROM sub s CROSS JOIN ctr c),
       |cand AS (SELECT DISTINCT p.query_id, cv2.vec_id
       |         FROM pr p JOIN cellv cv2 ON cv2.cell = p.cell AND cv2.vec_id <> p.query_id),
       |sc AS (SELECT ca.query_id, ca.vec_id AS neighbor_id,
       |         $sPivot,
       |         $nPivot
       |       FROM cand ca
       |       JOIN codes cd ON cd.vec_id = ca.vec_id
       |       JOIN lut l ON l.query_id = ca.query_id AND l.j = cd.j AND l.cidx = cd.code
       |       JOIN cn ON cn.j = cd.j AND cn.cidx = cd.code
       |       GROUP BY 1, 2),
       |qn AS (SELECT query_id, sqrt(list_inner_product(qv, qv)) AS qnorm FROM q)
       |SELECT query_id, neighbor_id, rnk FROM (
       |  SELECT sc.query_id, sc.neighbor_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY sc.query_id
       |      ORDER BY CASE WHEN qn.qnorm * sqrt($nSum) = 0 THEN 0.0
       |        ELSE $sSum / (qn.qnorm * sqrt($nSum)) END DESC,
       |        sc.neighbor_id) AS INTEGER) AS rnk
       |  FROM sc JOIN qn ON qn.query_id = sc.query_id) WHERE rnk <= $limit""".stripMargin
  }

  /** q72's oracle: q59's ADC core at limit 20 (= refine·k), wrapped in
    * the exact-cosine re-rank — the second retrieval stage replayed over
    * the raw embeddings (DuckDB allows WITH inside a derived table). */
  private def q72OracleSql: String =
    s"""SELECT query_id, neighbor_id, rnk FROM (
       |  SELECT a.query_id, a.neighbor_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY a.query_id
       |      ORDER BY CASE WHEN sqrt(list_inner_product(q.v, q.v))
       |          * sqrt(list_inner_product(n.v, n.v)) = 0 THEN 0.0
       |        ELSE list_inner_product(q.v, n.v) /
       |          (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(n.v, n.v)))
       |        END DESC, a.neighbor_id) AS INTEGER) AS rnk
       |  FROM (
       |${q59AdcCore(20)}
       |  ) a
       |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) q
       |    ON q.vec_id = a.query_id
       |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) n
       |    ON n.vec_id = a.neighbor_id
       |) WHERE rnk <= 10""".stripMargin

  /** q73's oracle, generated from the SAME `SparkEntry.Bm25Queries` constant as the
    * engine entry: per-term tf columns, one corpus-stats row, and the
    * identical left-associated score chain — every float op is
    * correctly-rounded (+,−,×,÷ on doubles; constants written `0.5e0` so
    * DuckDB parses them as DOUBLE, not DECIMAL), so scores match
    * bit-for-bit and the ranking hash-checks. */
  /** q96's oracle, GENERATED from Redaction.piiRules — the scrub fold
    * and per-rule counts are rendered from the same (tag, pattern) list
    * the engine applies, so the two sides can never drift. Patterns are
    * the dialect-portable subset (no lookaround/backrefs, ASCII classes)
    * where Java regex and RE2 agree; DuckDB needs the explicit 'g'
    * flag Spark's regexp_replace implies. */
  private def q96OracleSql: String = {
    val rules = operators.Redaction.piiRules
    val scrub = rules.foldLeft("raw") { case (acc, (tag, pat)) =>
      s"regexp_replace($acc, '$pat', '<$tag>', 'g')"
    }
    val counts = rules.map { case (tag, pat) =>
      s"CAST(len(regexp_extract_all(raw, '$pat')) AS BIGINT) AS n_${tag.toLowerCase}"
    }.mkString(",\n  ")
    s"""WITH d AS (SELECT doc_id,
       |  COALESCE(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)
       |  || '@mail.example ph 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |  || ' ip 10.2.0.' || CAST(doc_id % 250 AS VARCHAR)
       |  || CASE WHEN doc_id % 3 = 0 THEN ' ssn 987-65-4320' ELSE '' END
       |  || CASE WHEN doc_id % 5 = 0 THEN ' card 4111 1111 1111 1111' ELSE '' END AS raw
       |FROM documents)
       |SELECT doc_id, md5($scrub) AS clean_md5,
       |  $counts
       |FROM d ORDER BY doc_id""".stripMargin
  }

  /** q99's oracle, generated: the same per-dimension min/max
    * quantization and the Morton key's 32 bit-terms unrolled from the
    * same loop Layout.zKey unrolls. */
  private def q99OracleSql: String = {
    val terms = (0 until 16).map(i =>
      s"(((qx >> $i) & 1) << ${2 * i}) + (((qy >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""WITH b AS (SELECT CAST(l_partkey AS BIGINT) AS x,
       |             CAST(l_suppkey AS BIGINT) AS y FROM lineitem),
       |st AS (SELECT MIN(x) AS xlo, MAX(x) AS xhi,
       |         MIN(y) AS ylo, MAX(y) AS yhi FROM b),
       |qv AS (SELECT x, y,
       |        ((x - st.xlo) * 65536) // (st.xhi - st.xlo + 1) AS qx,
       |        ((y - st.ylo) * 65536) // (st.yhi - st.ylo + 1) AS qy
       |      FROM b, st),
       |z AS (SELECT x, y, CAST($terms AS BIGINT) AS zk FROM qv)
       |SELECT CAST((zk * 64) // 4294967296 AS BIGINT) AS bucket,
       |  COUNT(*) AS n, MIN(x) AS min_x, MAX(x) AS max_x,
       |  MIN(y) AS min_y, MAX(y) AS max_y
       |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  /** q113's oracle, generated like q99's but for the 3-dim key: bit i of
    * dimension j lands at key position 3i+j (the same i·d+j loop
    * Layout.zKeyN unrolls), each dimension quantized by its own min/max
    * to the 10-bit range. */
  private def q113OracleSql: String = {
    val bits = 10
    val terms = (0 until bits).flatMap(i => (0 until 3).map(j =>
      s"(((q$j >> $i) & 1) << ${3 * i + j})")).mkString(" + ")
    s"""WITH b AS (SELECT CAST(l_partkey AS BIGINT) AS v0,
       |             CAST(l_suppkey AS BIGINT) AS v1,
       |             CAST(l_quantity AS BIGINT) AS v2 FROM lineitem),
       |st AS (SELECT MIN(v0) AS lo0, MAX(v0) AS hi0,
       |         MIN(v1) AS lo1, MAX(v1) AS hi1,
       |         MIN(v2) AS lo2, MAX(v2) AS hi2 FROM b),
       |qv AS (SELECT v0, v1, v2,
       |        ((v0 - st.lo0) * ${1L << bits}) // (st.hi0 - st.lo0 + 1) AS q0,
       |        ((v1 - st.lo1) * ${1L << bits}) // (st.hi1 - st.lo1 + 1) AS q1,
       |        ((v2 - st.lo2) * ${1L << bits}) // (st.hi2 - st.lo2 + 1) AS q2
       |      FROM b, st),
       |z AS (SELECT v0, v1, v2, CAST($terms AS BIGINT) AS zk FROM qv)
       |SELECT CAST((zk * 64) // ${1L << (3 * bits)} AS BIGINT) AS bucket,
       |  COUNT(*) AS n, MIN(v0) AS min_partkey, MAX(v0) AS max_partkey,
       |  MIN(v1) AS min_suppkey, MAX(v1) AS max_suppkey,
       |  MIN(v2) AS min_qty, MAX(v2) AS max_qty
       |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  /** q101's oracle, generated from SparkEntry.q101Rules: q84's chained list_reduce
    * CTEs with the trained best-pair subqueries replaced by the literal
    * rules — the inference half of the trainer oracle. */
  private def q101OracleSql: String = {
    val sb = new StringBuilder
    sb.append(
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |           FROM documents WHERE trim(COALESCE(text, '')) <> ''),
        |tok AS (SELECT doc_id, u.i AS pos, t[u.i] AS word
        |        FROM d, UNNEST(generate_series(1, len(t))) AS u(i)),
        |w AS (SELECT word, COUNT(*) AS freq FROM tok GROUP BY 1),
        |e0 AS (SELECT word, array_to_string(list_transform(
        |         generate_series(1, len(word)),
        |         i -> substr(word, CAST(i AS INTEGER), 1)), ' ') AS enc FROM w)""".stripMargin)
    SparkEntry.q101Rules.zipWithIndex.foreach { case ((l, r), idx) =>
      val i = idx + 1
      sb.append(
        s""",
           |e$i AS (SELECT word, list_reduce(string_split(enc, ' '),
           |         (acc, z) -> CASE
           |           WHEN acc = '$l' AND z = '$r' THEN '$l$r'
           |           WHEN ends_with(acc, ' ' || '$l') AND z = '$r'
           |             THEN substr(acc, 1, CAST(len(acc) - ${l.length} AS INTEGER))
           |                  || '$l$r'
           |           ELSE acc || ' ' || z END) AS enc
           |       FROM e${i - 1})""".stripMargin)
    }
    sb.append(
      s""",
         |ec AS (SELECT word, enc, len(string_split(enc, ' ')) AS n_sym
         |       FROM e${SparkEntry.q101Rules.size}),
         |j AS (SELECT tok.doc_id, tok.pos, ec.enc, ec.n_sym
         |      FROM tok JOIN ec USING (word))
         |SELECT j.doc_id, COUNT(*) AS n_tok,
         |  CAST(SUM(j.n_sym) AS BIGINT) AS n_sym,
         |  md5(string_agg(j.enc, ' ' ORDER BY j.pos)) AS enc_md5
         |FROM j GROUP BY j.doc_id ORDER BY j.doc_id""".stripMargin)
    sb.toString
  }

  /** q84's oracle, generated: `rounds` chained (pair-count → best-pair →
    * list_reduce re-encode) CTE blocks over the distinct-word frame,
    * then the per-doc rollup plus the merge table as a scalar-subquery
    * constant. Assumes the corpus supports `rounds` merges with
    * cnt >= 2 — no longer a silent assumption: Bpe.trainRounds RAISES
    * if the corpus saturates early, so a shorter merge table can never
    * masquerade as a hash mismatch. */
  /** `includeRules = false` drops the merge-table constant column —
    * q136's shape: the same training replay, but the engine side holds
    * the rules in the tokenizer ARTIFACT rather than a result column. */
  private def q84OracleSql(rounds: Int,
      includeRules: Boolean = true): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |           FROM documents WHERE trim(COALESCE(text, '')) <> ''),
        |tok AS (SELECT doc_id, u.i AS pos, t[u.i] AS word
        |        FROM d, UNNEST(generate_series(1, len(t))) AS u(i)),
        |w AS (SELECT word, COUNT(*) AS freq FROM tok GROUP BY 1),
        |e0 AS (SELECT word, freq, array_to_string(list_transform(
        |         generate_series(1, len(word)),
        |         i -> substr(word, CAST(i AS INTEGER), 1)), ' ') AS enc FROM w)""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(
        s""",
           |p$r AS (SELECT s.syms[CAST(u.i AS INTEGER)] AS l,
           |         s.syms[CAST(u.i AS INTEGER) + 1] AS r, SUM(s.freq) AS cnt
           |       FROM (SELECT string_split(enc, ' ') AS syms, freq FROM e${r - 1}) s,
           |         UNNEST(generate_series(1, len(s.syms) - 1)) AS u(i)
           |       GROUP BY 1, 2),
           |b$r AS (SELECT l, r, CAST(cnt AS BIGINT) AS cnt FROM p$r
           |        ORDER BY cnt DESC, l, r LIMIT 1),
           |e$r AS (SELECT x.word, x.freq, list_reduce(string_split(x.enc, ' '),
           |         (acc, z) -> CASE
           |           WHEN acc = b$r.l AND z = b$r.r THEN b$r.l || b$r.r
           |           WHEN ends_with(acc, ' ' || b$r.l) AND z = b$r.r
           |             THEN substr(acc, 1, CAST(len(acc) - len(b$r.l) AS INTEGER))
           |                  || b$r.l || b$r.r
           |           ELSE acc || ' ' || z END) AS enc
           |       FROM e${r - 1} x CROSS JOIN b$r)""".stripMargin)
    }
    val rulesExpr = (1 to rounds)
      .map(r => s"b$r.l || '+' || b$r.r || ':' || CAST(b$r.cnt AS VARCHAR)")
      .mkString(" || ',' || ")
    val rulesFrom = (1 to rounds).map(r => s"b$r").mkString(", ")
    val rulesCol =
      if (includeRules) s""",
         |  (SELECT $rulesExpr FROM $rulesFrom) AS rules""".stripMargin
      else ""
    sb.append(
      s""",
         |ec AS (SELECT word, enc, len(string_split(enc, ' ')) AS n_sym FROM e$rounds),
         |j AS (SELECT tok.doc_id, tok.pos, ec.enc, ec.n_sym
         |      FROM tok JOIN ec USING (word))
         |SELECT j.doc_id, COUNT(*) AS n_tok, CAST(SUM(j.n_sym) AS BIGINT) AS n_sym,
         |  md5(string_agg(j.enc, ' ' ORDER BY j.pos)) AS enc_md5$rulesCol
         |FROM j GROUP BY j.doc_id ORDER BY j.doc_id""".stripMargin)
    sb.toString
  }

  private def q73OracleSql: String =
    bm25OracleCore(10) + "\nORDER BY query_id, rnk"

  /** The BM25 retrieval as a reusable generator (top `limit` per query) —
    * q73 takes it directly; q75 embeds it as the lexical arm of the RRF
    * fusion. */
  private def bm25OracleCore(limit: Int): String = {
    val terms = SparkEntry.Bm25Queries.flatMap(_._2).distinct.sorted
    val ti = terms.zipWithIndex.toMap
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(toks, x -> x = '$t')) AS tf_$i" }.mkString(",\n       |  ")
    val dfCols = terms.indices.map(i =>
      s"SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i")
      .mkString(",\n       |  ")
    val dfSel = terms.indices.map(i => s"st.df_$i").mkString(", ")
    def scoreSql(ts: Seq[String]): String = ts.map { t =>
      val i = ti(t)
      s"(CASE WHEN tf_$i = 0 THEN CAST(0.0 AS DOUBLE) ELSE " +
        s"((n - df_$i + 0.5e0) / (df_$i + 0.5e0)) * " +
        s"(CAST(22 * tf_$i * avgl AS DOUBLE) / " +
        s"CAST(10 * avgl * tf_$i + 3 * avgl + 9 * len AS DOUBLE)) END)"
    }.reduceLeft((a, b) => s"($a + $b)")
    val unions = SparkEntry.Bm25Queries.map { case (qid, ts) =>
      s"SELECT doc_id, $qid AS query_id, ${scoreSql(ts)} AS score FROM sc"
    }.mkString("\n       |  UNION ALL ")
    s"""WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |           FROM documents WHERE trim(COALESCE(text, '')) <> ''),
       |t AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS len,
       |  $tfCols
       |  FROM d),
       |st AS (SELECT COUNT(*) AS n, SUM(len) AS sumlen,
       |  $dfCols
       |  FROM t),
       |sc AS (SELECT t.*, st.n,
       |         CAST(floor(CAST(st.sumlen AS DOUBLE) / st.n) AS BIGINT) AS avgl,
       |         $dfSel
       |       FROM t CROSS JOIN st),
       |q AS ($unions)
       |SELECT query_id, doc_id, rnk FROM (
       |  SELECT query_id, doc_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS INTEGER) AS rnk
       |  FROM q) WHERE rnk <= $limit""".stripMargin
  }

  /** q75's oracle: the BM25 core at 20 (lexical arm), an exact-cosine
    * top-20 (vector arm, mirroring bruteForceTopK's score expression),
    * and the RRF combination — every term a correctly-rounded double
    * division in fixed sum order, so the fused ranking hash-checks. */
  private def q75OracleSql: String =
    s"""WITH ba AS (
       |${bm25OracleCore(20)}
       |),
       |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |qv AS (SELECT vec_id AS query_id, v FROM ev WHERE vec_id BETWEEN 1 AND 3),
       |sc2 AS (SELECT q.query_id, e.vec_id AS doc_id,
       |          CASE WHEN sqrt(list_inner_product(q.v, q.v))
       |              * sqrt(list_inner_product(e.v, e.v)) = 0
       |            THEN CAST(0.0 AS DOUBLE)
       |            ELSE list_inner_product(q.v, e.v) /
       |              (sqrt(list_inner_product(q.v, q.v))
       |               * sqrt(list_inner_product(e.v, e.v))) END AS cos
       |        FROM qv q JOIN ev e ON e.vec_id <> q.query_id),
       |bv AS (SELECT query_id, doc_id,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |           ORDER BY cos DESC, doc_id) AS INTEGER) AS rnk
       |       FROM sc2 QUALIFY rnk <= 20),
       |fu AS (SELECT query_id, doc_id,
       |         (COALESCE(1.0e0 / (60 + a.rnk), CAST(0.0 AS DOUBLE))
       |          + COALESCE(1.0e0 / (60 + b.rnk), CAST(0.0 AS DOUBLE))) AS score
       |       FROM ba a FULL OUTER JOIN bv b USING (query_id, doc_id))
       |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rnk FROM (
       |  SELECT query_id, doc_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS INTEGER) AS rnk
       |  FROM fu) WHERE rnk <= 10
       |ORDER BY query_id, rnk""".stripMargin

  /** The q43 pair-graph transitive closure as a reusable CTE prefix —
    * shared by q43 (min-label propagation), q51 (star contraction) and
    * q58 (keep-best representative), which all reproduce the same
    * recursive-CTE fixpoint and differ only in the final select. */
  private val dedupClosureCtes: String =
    """WITH RECURSIVE
      |d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      |      FROM documents WHERE trim(text) <> ''),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |         generate_series(1, greatest(len(t) - 2, 1)),
      |         i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM d),
      |mh AS (SELECT s.doc_id, r.seed,
      |         MIN(md5(CAST(r.seed AS VARCHAR) || ':' || u.sv)) AS m
      |       FROM sh s, UNNEST(s.shingles) AS u(sv), range(8) AS r(seed)
      |       GROUP BY s.doc_id, r.seed),
      |bs AS (SELECT seed, m FROM mh GROUP BY seed, m HAVING COUNT(*) <= 30),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |         FROM mh a JOIN mh b
      |           ON a.seed = b.seed AND a.m = b.m AND a.doc_id < b.doc_id
      |         JOIN bs ON bs.seed = a.seed AND bs.m = a.m),
      |p AS (SELECT c.id_a, c.id_b
      |      FROM cand c
      |      JOIN sh sa ON sa.doc_id = c.id_a
      |      JOIN sh sb ON sb.doc_id = c.id_b
      |      WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
      |            CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE)
      |              >= 0.4),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM p
      |          UNION SELECT id_b, id_a FROM p),
      |reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst)""".stripMargin

  private val dedupComponentsOracle: String = dedupClosureCtes +
    "\nSELECT id, MIN(r) AS comp FROM reach GROUP BY id ORDER BY id"

  /** q132's oracle — the dataset card composed from the q130 scoring
    * CTEs (same shared weight constant), the q98 KMV estimator per
    * source, and plain volume aggregates. */
  /** q116's two-round streaming-admission replay as a CTE chain
    * (ending in adm1/adm2, the per-round admitted sets) — shared by
    * the q116 oracle and q143's admitted-card composition so the two
    * replays cannot drift. Plain string: no interpolation, keeps the
    * regex escapes verbatim. */
  /** The q116 two-batch streaming-admission CTE chain. `standingPred`
    * filters the STANDING index side (stage 0) — "TRUE" is q116/q143
    * verbatim; q157 passes the tombstoned-doc exclusion so the oracle
    * models the standing tree AFTER the pressure fold physically
    * removed the deleted docs' signatures. */
  private def streamingAdmissionCtes(standingPred: String): String =
    """d0 AS (SELECT doc_id, text,
      |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN
      |           (CASE WHEN STANDING_PRED THEN 0 ELSE -1 END)
      |         WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS stage
      |  FROM documents),
      |t1 AS (SELECT doc_id, stage, string_split_regex(lower(trim(text)), '\s+') AS t
      |       FROM d0 WHERE trim(COALESCE(text, '')) <> '' AND stage >= 0),
      |sh AS (SELECT doc_id, stage, list_distinct(list_transform(
      |         generate_series(1, greatest(len(t) - 2, 1)),
      |         i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM t1),
      |mh AS (SELECT s.doc_id, s.stage, r.seed,
      |         MIN(md5(CAST(r.seed AS VARCHAR) || ':' || u.sv)) AS m
      |       FROM sh s, UNNEST(s.shingles) AS u(sv), range(8) AS r(seed)
      |       GROUP BY s.doc_id, s.stage, r.seed),
      |bk AS (SELECT doc_id, stage, seed // 2 AS band,
      |         string_agg(m, '|' ORDER BY seed) AS bkey
      |       FROM mh GROUP BY doc_id, stage, seed // 2),
      |m1 AS (SELECT DISTINCT c.id_n FROM
      |        (SELECT DISTINCT n.doc_id AS id_n, o.doc_id AS id_o
      |         FROM bk n JOIN bk o ON n.band = o.band AND n.bkey = o.bkey
      |         WHERE n.stage = 1 AND o.stage = 0) c
      |       JOIN sh sa ON sa.doc_id = c.id_n
      |       JOIN sh sb ON sb.doc_id = c.id_o
      |       WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
      |             CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles)))
      |               AS DOUBLE) >= 0.4),
      |sv1 AS (SELECT doc_id FROM sh WHERE stage = 1
      |        AND doc_id NOT IN (SELECT id_n FROM m1)),
      |c1 AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |       FROM bk a JOIN bk b ON a.band = b.band AND a.bkey = b.bkey
      |         AND a.doc_id < b.doc_id
      |       WHERE a.doc_id IN (SELECT doc_id FROM sv1)
      |         AND b.doc_id IN (SELECT doc_id FROM sv1)),
      |p1 AS (SELECT c.id_a, c.id_b FROM c1 c
      |       JOIN sh sa ON sa.doc_id = c.id_a
      |       JOIN sh sb ON sb.doc_id = c.id_b
      |       WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
      |             CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles)))
      |               AS DOUBLE) >= 0.4),
      |e1 AS (SELECT id_a AS src, id_b AS dst FROM p1
      |       UNION SELECT id_b, id_a FROM p1),
      |reach1(id, r) AS (SELECT src, src FROM e1
      |  UNION SELECT e.src, r.r FROM e1 e JOIN reach1 r ON r.id = e.dst),
      |comp1 AS (SELECT id, MIN(r) AS comp FROM reach1 GROUP BY id),
      |adm1 AS (SELECT sv1.doc_id FROM sv1 LEFT JOIN comp1 ON comp1.id = sv1.doc_id
      |         WHERE comp1.id IS NULL OR comp1.comp = sv1.doc_id),
      |ix2 AS (SELECT doc_id FROM sh WHERE stage = 0
      |        UNION ALL SELECT doc_id FROM adm1),
      |m2 AS (SELECT DISTINCT c.id_n FROM
      |        (SELECT DISTINCT n.doc_id AS id_n, o.doc_id AS id_o
      |         FROM bk n JOIN bk o ON n.band = o.band AND n.bkey = o.bkey
      |         WHERE n.stage = 2
      |           AND o.doc_id IN (SELECT doc_id FROM ix2)) c
      |       JOIN sh sa ON sa.doc_id = c.id_n
      |       JOIN sh sb ON sb.doc_id = c.id_o
      |       WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
      |             CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles)))
      |               AS DOUBLE) >= 0.4),
      |sv2 AS (SELECT doc_id FROM sh WHERE stage = 2
      |        AND doc_id NOT IN (SELECT id_n FROM m2)),
      |c2 AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |       FROM bk a JOIN bk b ON a.band = b.band AND a.bkey = b.bkey
      |         AND a.doc_id < b.doc_id
      |       WHERE a.doc_id IN (SELECT doc_id FROM sv2)
      |         AND b.doc_id IN (SELECT doc_id FROM sv2)),
      |p2 AS (SELECT c.id_a, c.id_b FROM c2 c
      |       JOIN sh sa ON sa.doc_id = c.id_a
      |       JOIN sh sb ON sb.doc_id = c.id_b
      |       WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
      |             CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles)))
      |               AS DOUBLE) >= 0.4),
      |e2 AS (SELECT id_a AS src, id_b AS dst FROM p2
      |       UNION SELECT id_b, id_a FROM p2),
      |reach2(id, r) AS (SELECT src, src FROM e2
      |  UNION SELECT e.src, r.r FROM e2 e JOIN reach2 r ON r.id = e.dst),
      |comp2 AS (SELECT id, MIN(r) AS comp FROM reach2 GROUP BY id),
      |adm2 AS (SELECT sv2.doc_id FROM sv2 LEFT JOIN comp2 ON comp2.id = sv2.doc_id
      |         WHERE comp2.id IS NULL OR comp2.comp = sv2.doc_id)""".stripMargin
      .replace("STANDING_PRED", standingPred)

  /** The dataset-card CTE chain over `docFrom` (any relation exposing
    * documents' four card columns) + its final select — split so q143
    * can point the SAME card at the admitted subset (`documents JOIN
    * admitted USING (doc_id)`) behind the q116 admission chain. CTE
    * names are card-prefixed (cd/csh/cu/cb/rr) so they never collide
    * with the admission CTEs they compose with. */
  private def cardCtes(docFrom: String): String = {
    val w = SparkEntry.q130Weights.mkString("[", ", ", "]")
    def bucket(salt: Int, g: String): String =
      s"CAST(('0x' || substr(md5('$salt:' || $g), 1, 15))::UBIGINT % 1024 AS INT) + 1"
    s"""cd AS (SELECT doc_id, source, n_chars,
       |    CASE WHEN trim(COALESCE(text, '')) = '' THEN CAST([] AS VARCHAR[])
       |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
       |  FROM $docFrom),
       |csh AS (SELECT doc_id, t,
       |    CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
       |         ELSE list_distinct(list_transform(
       |           generate_series(1, greatest(len(t) - 1, 1)),
       |           i -> array_to_string(t[i:i+1], ' '))) END AS bi
       |  FROM cd),
       |wt AS (SELECT $w AS w),
       |cu AS (SELECT doc_id, SUM(w[${bucket(0, "tk")}]) AS s
       |      FROM csh, wt, UNNEST(csh.t) AS x(tk) GROUP BY doc_id),
       |cb AS (SELECT doc_id, SUM(w[${bucket(1, "g")}]) AS s
       |      FROM csh, wt, UNNEST(csh.bi) AS y(g) GROUP BY doc_id),
       |score AS (SELECT csh.doc_id,
       |    COALESCE(cu.s, 0) + COALESCE(cb.s, 0) AS sc
       |  FROM csh LEFT JOIN cu USING (doc_id) LEFT JOIN cb USING (doc_id)),
       |base AS (SELECT source, COUNT(*) AS docs,
       |    CAST(SUM(n_chars) AS BIGINT) AS chars,
       |    CAST(SUM(len(t)) AS BIGINT) AS tokens
       |  FROM cd GROUP BY 1),
       |hv AS (SELECT DISTINCT source AS grp,
       |    CAST(('0x' || substr(md5(w2), 1, 15))::UBIGINT AS BIGINT) AS h
       |  FROM cd, UNNEST(cd.t) AS z(w2)),
       |rr AS (SELECT grp, h,
       |        ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn,
       |        COUNT(*) OVER (PARTITION BY grp) AS nd FROM hv),
       |est AS (SELECT grp,
       |    CASE WHEN MAX(nd) < 64 THEN CAST(MAX(nd) AS BIGINT)
       |      ELSE CAST((CAST(63 AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT))
       |        // CAST(MAX(CASE WHEN rn = 64 THEN h END) AS HUGEINT) AS BIGINT) END
       |      AS est_distinct_tokens
       |  FROM rr GROUP BY grp),
       |gate AS (SELECT cd.source,
       |    CAST(SUM(s.sc) AS BIGINT) AS model_score_micros,
       |    CAST(COUNT(*) FILTER (WHERE s.sc >= 0) AS BIGINT) AS kept_docs
       |  FROM cd JOIN score s USING (doc_id) GROUP BY 1)""".stripMargin
  }

  private val cardTail: String =
    """SELECT base.source, docs, chars, tokens,
      |  est.est_distinct_tokens, gate.model_score_micros, gate.kept_docs
      |FROM base LEFT JOIN est ON est.grp = base.source
      |LEFT JOIN gate ON gate.source = base.source
      |ORDER BY base.source""".stripMargin

  private def q132OracleSql: String =
    s"WITH ${cardCtes("documents")}\n$cardTail"

  /** q130's oracle — generated with the stand-in weight table rendered
    * as a list literal (q28's planes discipline); the md5-salted bucket
    * arithmetic mirrors [[graft.operators.Sketch.cmsPos]] and every sum
    * is integer. */
  private def q130OracleSql: String = {
    val w = SparkEntry.q130Weights.mkString("[", ", ", "]")
    def bucket(salt: Int, g: String): String =
      s"CAST(('0x' || substr(md5('$salt:' || $g), 1, 15))::UBIGINT % 1024 AS INT) + 1"
    s"""WITH d AS (SELECT doc_id,
       |    CASE WHEN trim(COALESCE(text, '')) = '' THEN CAST([] AS VARCHAR[])
       |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
       |  FROM documents),
       |sh AS (SELECT doc_id, t,
       |    CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
       |         ELSE list_distinct(list_transform(
       |           generate_series(1, greatest(len(t) - 1, 1)),
       |           i -> array_to_string(t[i:i+1], ' '))) END AS bi
       |  FROM d),
       |wt AS (SELECT $w AS w),
       |u AS (SELECT doc_id, SUM(w[${bucket(0, "tk")}]) AS s
       |      FROM sh, wt, UNNEST(sh.t) AS x(tk) GROUP BY doc_id),
       |b AS (SELECT doc_id, SUM(w[${bucket(1, "g")}]) AS s
       |      FROM sh, wt, UNNEST(sh.bi) AS y(g) GROUP BY doc_id)
       |SELECT sh.doc_id,
       |  CAST(len(sh.t) + len(sh.bi) AS BIGINT) AS n_feats,
       |  CAST(COALESCE(u.s, 0) + COALESCE(b.s, 0) AS BIGINT) AS score_micros,
       |  (COALESCE(u.s, 0) + COALESCE(b.s, 0)) >= 0 AS kept
       |FROM sh LEFT JOIN u USING (doc_id) LEFT JOIN b USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** q128's oracle — the two-round STREAMING SEMANTIC admission replayed
    * in SQL: stage 0 = the standing 80% (md5 split, q121's), stages 1/2
    * the two mod-time-ordered micro-batches; centroids from stage 0
    * ONLY (the frozen quantizer), every vector assigned under them; per
    * round, batch-vs-index cell-blocked cosine matches, then
    * within-batch pairs → recursive min-label closure → min-id
    * representatives; round 2's index includes round 1's admissions.
    * The cosine condition is interpolated once (exactly q127's IEEE
    * tree), so the two sides cannot drift. */
  private def q128OracleSql: String = {
    def cos(a: String, b: String): String =
      s"CASE WHEN sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b)) = 0 " +
        s"THEN 0.0 ELSE list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) " +
        s"* sqrt(list_inner_product($b, $b))) END"
    s"""WITH RECURSIVE
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |        CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) < 'cccc' THEN 0
       |             WHEN vec_id % 2 = 0 THEN 1 ELSE 2 END AS stage
       |      FROM embeddings),
       |ctr AS (SELECT v AS cv,
       |          ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS idx
       |        FROM e WHERE stage = 0
       |        QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8),
       |asg AS (SELECT e.vec_id, e.stage, e.v, c.idx,
       |          list_inner_product(e.v, e.v)
       |            - 2.0 * list_inner_product(e.v, c.cv)
       |            + list_inner_product(c.cv, c.cv) AS d
       |        FROM e CROSS JOIN ctr c),
       |cell AS (SELECT vec_id, stage, v, idx AS cell FROM asg
       |         QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, idx) = 1),
       |m1 AS (SELECT DISTINCT n.vec_id FROM cell n JOIN cell o ON n.cell = o.cell
       |       WHERE n.stage = 1 AND o.stage = 0 AND ${cos("n.v", "o.v")} >= 0.35),
       |sv1 AS (SELECT vec_id FROM cell WHERE stage = 1
       |        AND vec_id NOT IN (SELECT vec_id FROM m1)),
       |p1 AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |       FROM cell a JOIN cell b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |       WHERE a.vec_id IN (SELECT vec_id FROM sv1)
       |         AND b.vec_id IN (SELECT vec_id FROM sv1)
       |         AND ${cos("a.v", "b.v")} >= 0.35),
       |e1 AS (SELECT id_a AS src, id_b AS dst FROM p1
       |       UNION SELECT id_b, id_a FROM p1),
       |reach1(id, r) AS (SELECT src, src FROM e1
       |  UNION SELECT e2.src, r.r FROM e1 e2 JOIN reach1 r ON r.id = e2.dst),
       |comp1 AS (SELECT id, MIN(r) AS comp FROM reach1 GROUP BY id),
       |adm1 AS (SELECT sv1.vec_id FROM sv1 LEFT JOIN comp1 ON comp1.id = sv1.vec_id
       |         WHERE comp1.id IS NULL OR comp1.comp = sv1.vec_id),
       |ix2 AS (SELECT vec_id FROM cell WHERE stage = 0
       |        UNION ALL SELECT vec_id FROM adm1),
       |m2 AS (SELECT DISTINCT n.vec_id FROM cell n JOIN cell o ON n.cell = o.cell
       |       WHERE n.stage = 2 AND o.vec_id IN (SELECT vec_id FROM ix2)
       |         AND ${cos("n.v", "o.v")} >= 0.35),
       |sv2 AS (SELECT vec_id FROM cell WHERE stage = 2
       |        AND vec_id NOT IN (SELECT vec_id FROM m2)),
       |p2 AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |       FROM cell a JOIN cell b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |       WHERE a.vec_id IN (SELECT vec_id FROM sv2)
       |         AND b.vec_id IN (SELECT vec_id FROM sv2)
       |         AND ${cos("a.v", "b.v")} >= 0.35),
       |e2x AS (SELECT id_a AS src, id_b AS dst FROM p2
       |        UNION SELECT id_b, id_a FROM p2),
       |reach2(id, r) AS (SELECT src, src FROM e2x
       |  UNION SELECT e3.src, r.r FROM e2x e3 JOIN reach2 r ON r.id = e3.dst),
       |comp2 AS (SELECT id, MIN(r) AS comp FROM reach2 GROUP BY id),
       |adm2 AS (SELECT sv2.vec_id FROM sv2 LEFT JOIN comp2 ON comp2.id = sv2.vec_id
       |         WHERE comp2.id IS NULL OR comp2.comp = sv2.vec_id)
       |SELECT vec_id FROM adm1 UNION ALL SELECT vec_id FROM adm2
       |ORDER BY vec_id""".stripMargin
  }

  private val keepBestOracle: String = dedupClosureCtes +
    """,
      |comps AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id)
      |SELECT comp, keep_id, score FROM (
      |  SELECT c.comp, d0.doc_id AS keep_id,
      |    CAST(d0.n_chars AS BIGINT) AS score,
      |    ROW_NUMBER() OVER (PARTITION BY c.comp
      |      ORDER BY d0.n_chars DESC, d0.doc_id ASC) AS rn
      |  FROM comps c JOIN documents d0 ON d0.doc_id = c.id)
      |WHERE rn = 1 ORDER BY comp""".stripMargin

  /** q119's oracle, generated like [[q28OracleSql]] (same planes, same
    * multi-probe bucketing): the SRP approximate top-10 and the
    * brute-force ground truth replayed side by side, folded to the
    * per-query integer (truth, hits) recall report. */
  private def q119OracleSql: String = {
    val planes = VF.randomPlanes(6, 64, 42L)
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_inner_product(v, ${p.mkString("[", ", ", "]")}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n  + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |gt AS (SELECT query_id, neighbor_id FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rnk
       |  FROM e q JOIN e c ON c.vec_id <> q.vec_id WHERE q.vec_id < 5)
       |  WHERE rnk <= 10),
       |b AS (SELECT vec_id, v, $bucket AS bucket FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM b WHERE vec_id < 5),
       |pr AS (SELECT query_id, qv,
       |  unnest([qb, xor(qb,1), xor(qb,2), xor(qb,4), xor(qb,8), xor(qb,16), xor(qb,32)]) AS bucket
       |  FROM q),
       |cand AS (SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id,
       |    CASE WHEN sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(c.v, c.v)) = 0
       |      THEN 0.0
       |      ELSE list_inner_product(p.qv, c.v) /
       |        (sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(c.v, c.v))) END AS cos
       |  FROM pr p JOIN b c ON c.bucket = p.bucket AND c.vec_id <> p.query_id),
       |ap AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM cand) WHERE rnk <= 10)
       |SELECT gt.query_id,
       |  CAST(COUNT(*) AS BIGINT) AS truth,
       |  CAST(COUNT(*) FILTER (WHERE ap.neighbor_id IS NOT NULL) AS BIGINT) AS hits
       |FROM gt LEFT JOIN ap USING (query_id, neighbor_id)
       |GROUP BY 1 ORDER BY query_id""".stripMargin
  }

  /** q123's oracle, generated: the 16x64 projection planes embed as
    * double-array literals (the q28 pattern), the reduced-space exact
    * retrieval replays against the full-space ground truth, folded to
    * the per-query (truth, hits) recall report. */
  private def q123OracleSql: String = {
    val planes = VF.randomPlanes(16, 64, 7L)
    val proj = planes.map(p =>
      s"list_inner_product(v, ${p.mkString("[", ", ", "]")})")
      .mkString("[", ",\n   ", "]")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |gt AS (SELECT query_id, neighbor_id FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rnk
       |  FROM e q JOIN e c ON c.vec_id <> q.vec_id WHERE q.vec_id < 5)
       |  WHERE rnk <= 10),
       |red AS (SELECT vec_id, $proj AS r FROM e),
       |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CASE WHEN sqrt(list_inner_product(q.r, q.r)) * sqrt(list_inner_product(c.r, c.r)) = 0
       |      THEN 0.0
       |      ELSE list_inner_product(q.r, c.r) /
       |        (sqrt(list_inner_product(q.r, q.r)) * sqrt(list_inner_product(c.r, c.r))) END AS cos
       |  FROM red q JOIN red c ON c.vec_id <> q.vec_id WHERE q.vec_id < 5),
       |ap AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM sc) WHERE rnk <= 10)
       |SELECT gt.query_id,
       |  CAST(COUNT(*) AS BIGINT) AS truth,
       |  CAST(COUNT(*) FILTER (WHERE ap.neighbor_id IS NOT NULL) AS BIGINT) AS hits
       |FROM gt LEFT JOIN ap USING (query_id, neighbor_id)
       |GROUP BY 1 ORDER BY query_id""".stripMargin
  }

  /** q144's oracle (shared with q146: artifact-backed scoring is a
    * lossless persistence of the fit, so the selection output is
    * identical) — see the map entry comment for the replay shape. */
  private val q151OracleSql: String =
    """WITH e AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
      |             (x, i) -> struct_pack(i := i, x := x)) AS s
      |           FROM embeddings
      |           WHERE embedding IS NOT NULL AND len(embedding) > 0),
      |p AS (SELECT a.u.i - 1 AS i, a.u.x AS xi, b.u.i - 1 AS j, b.u.x AS xj
      |      FROM e, UNNEST(e.s) AS a(u), UNNEST(e.s) AS b(u))
      |SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
      |  CAST(SUM(CAST(floor(xi * xj * 1e6) AS BIGINT)) AS BIGINT) AS g_q
      |FROM p GROUP BY 1, 2 ORDER BY i, j""".stripMargin

  private val q144OracleSql: String =
      """WITH d AS (SELECT doc_id, lang,
        |    CASE WHEN trim(COALESCE(text, '')) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(lower(trim(text)), '\s+') END AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, lang, t,
        |    CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(
        |           generate_series(1, greatest(len(t) - 1, 1)),
        |           i -> array_to_string(t[i:i+1], ' '))) END AS bi
        |  FROM d),
        |fu AS (SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5('0:' || tk), 1, 15))::UBIGINT % 1024 AS BIGINT) AS b
        |  FROM sh, UNNEST(sh.t) AS x(tk)),
        |fb AS (SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5('1:' || g), 1, 15))::UBIGINT % 1024 AS BIGINT) AS b
        |  FROM sh, UNNEST(sh.bi) AS y(g)),
        |tu AS (SELECT b, COUNT(*) AS c FROM fu WHERE lang = 'en' GROUP BY b),
        |ru AS (SELECT b, COUNT(*) AS c FROM fu GROUP BY b),
        |tb AS (SELECT b, COUNT(*) AS c FROM fb WHERE lang = 'en' GROUP BY b),
        |rb AS (SELECT b, COUNT(*) AS c FROM fb GROUP BY b),
        |tot AS (SELECT (SELECT COUNT(*) FROM fu WHERE lang = 'en') AS tut,
        |               (SELECT COUNT(*) FROM fu) AS rut,
        |               (SELECT COUNT(*) FROM fb WHERE lang = 'en') AS tbt,
        |               (SELECT COUNT(*) FROM fb) AS rbt),
        |dom AS (SELECT unnest(generate_series(0, 1023)) AS b),
        |lu AS (SELECT dom.b,
        |    CAST(floor(1e6 * ln(((COALESCE(tu.c, 0) + 1.0) * (tot.rut + 1024))
        |      / ((COALESCE(ru.c, 0) + 1.0) * (tot.tut + 1024))) + 0.5) AS BIGINT) AS lam
        |  FROM dom CROSS JOIN tot
        |  LEFT JOIN tu ON tu.b = dom.b LEFT JOIN ru ON ru.b = dom.b),
        |lb AS (SELECT dom.b,
        |    CAST(floor(1e6 * ln(((COALESCE(tb.c, 0) + 1.0) * (tot.rbt + 1024))
        |      / ((COALESCE(rb.c, 0) + 1.0) * (tot.tbt + 1024))) + 0.5) AS BIGINT) AS lam
        |  FROM dom CROSS JOIN tot
        |  LEFT JOIN tb ON tb.b = dom.b LEFT JOIN rb ON rb.b = dom.b),
        |su AS (SELECT fu.doc_id, SUM(lu.lam) AS s FROM fu
        |       JOIN lu ON lu.b = fu.b GROUP BY fu.doc_id),
        |sb AS (SELECT fb.doc_id, SUM(lb.lam) AS s FROM fb
        |       JOIN lb ON lb.b = fb.b GROUP BY fb.doc_id),
        |scored AS (SELECT sh.doc_id,
        |    CAST(len(sh.t) + len(sh.bi) AS BIGINT) AS n_feats,
        |    CAST(COALESCE(su.s, 0) + COALESCE(sb.s, 0) AS BIGINT) AS weight_micros
        |  FROM sh LEFT JOIN su USING (doc_id) LEFT JOIN sb USING (doc_id))
        |SELECT doc_id, n_feats, weight_micros,
        |  weight_micros + CAST(floor(1e6 * (-ln(-ln(
        |    (CAST(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 12))::UBIGINT AS DOUBLE)
        |      + 0.5) / 281474976710656.0))) + 0.5) AS BIGINT) AS key_micros
        |FROM scored
        |QUALIFY ROW_NUMBER() OVER (ORDER BY key_micros DESC, doc_id) <= 120
        |ORDER BY key_micros DESC, doc_id""".stripMargin

  /** q156's scoped-selection replay (gate → exact dedup → scoped pairs
    * → components → min-id representatives → per-source exact quota),
    * parameterized at its two composition seams: `prefixCtes` injects
    * CTEs before `d0` (q164's contamination screen) and `d0Where`
    * narrows the input slice (q164's decontaminated candidates). q156
    * passes both empty — verbatim its original text. */
  private def scopedSelectionSql(prefixCtes: String, d0Where: String): String =
    s"""WITH RECURSIVE
       |${prefixCtes}d0 AS (SELECT doc_id, source, COALESCE(text, '') AS text
       |       FROM documents$d0Where),
       |f AS (SELECT doc_id, source, text,
       |  CASE WHEN trim(text) = '' THEN 0
       |    ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END AS n_tok,
       |  CASE WHEN length(text) = 0 THEN 0.0
       |    ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
       |      / CAST(length(text) AS DOUBLE) END AS punct,
       |  CASE WHEN trim(text) = '' THEN 0.0 ELSE
       |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |      x -> list_contains(['the','and','of','to','a','in','is','it','you','that'], x))) AS DOUBLE)
       |    / CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS DOUBLE) END AS stopratio
       |  FROM d0),
       |qual AS (SELECT doc_id, source, text FROM f
       |  WHERE floor((least(CAST(n_tok AS DOUBLE) / 64.0, 1.0)
       |             + least(stopratio * 4.0, 1.0)
       |             + greatest(1.0 - punct * 4.0, 0.0)) / 3.0 * 1e6) / 1e6 >= 0.5),
       |ex AS (SELECT doc_id, source, text FROM qual
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
       |t1 AS (SELECT doc_id, source, string_split_regex(lower(trim(text)), '\\s+') AS t
       |       FROM ex WHERE trim(text) <> ''),
       |sh AS (SELECT doc_id, source, list_distinct(list_transform(
       |         generate_series(1, greatest(len(t) - 2, 1)),
       |         i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM t1),
       |mh AS (SELECT s.doc_id, s.source, r.seed,
       |         MIN(md5(CAST(r.seed AS VARCHAR) || ':' || u.sv)) AS m
       |       FROM sh s, UNNEST(s.shingles) AS u(sv), range(8) AS r(seed)
       |       GROUP BY s.doc_id, s.source, r.seed),
       |bs AS (SELECT source, seed, m FROM mh
       |       GROUP BY source, seed, m HAVING COUNT(*) <= 30),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM mh a JOIN mh b
       |           ON a.source = b.source AND a.seed = b.seed AND a.m = b.m
       |           AND a.doc_id < b.doc_id
       |         JOIN bs ON bs.source = a.source AND bs.seed = a.seed AND bs.m = a.m),
       |p AS (SELECT c.id_a, c.id_b
       |      FROM cand c
       |      JOIN sh sa ON sa.doc_id = c.id_a
       |      JOIN sh sb ON sb.doc_id = c.id_b
       |      WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
       |            CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE)
       |              >= 0.4),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM p
       |          UNION SELECT id_b, id_a FROM p),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
       |comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
       |surv AS (SELECT e.doc_id, e.source FROM ex e
       |         LEFT JOIN comp c ON e.doc_id = c.id
       |         WHERE c.id IS NULL OR c.comp = e.doc_id)
       |SELECT source, doc_id, CAST(rk AS BIGINT) AS rk FROM (
       |  SELECT source, doc_id, ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |  FROM surv)
       |WHERE rk <= 10 ORDER BY source, rk""".stripMargin

  /** q163's oracle, generated AT ACCESS TIME: the whitening basis the
    * query run itself fitted ([[SparkEntry.pcaModels]] — Verify runs
    * every query BEFORE dumping oracle_sql.json) renders as double-array
    * literals into the q123-shaped projection, and the whitened IVF
    * build→probe replays as the q49 CTE chain over the projected
    * vectors next to the raw-space one. The basis enters as a rendered
    * ARTIFACT, not a SQL re-derivation — its own correctness is pinned
    * upstream (q151/q154 hash-check the integer moments; PcaSpec pins
    * the deterministic eigensolve), so this oracle checks the whiten →
    * build → probe chain GIVEN the basis. Placeholder when no model has
    * been fitted in this process (the entry is then never compared). */
  /** The whitened-projection DuckDB expression over a `v` DOUBLE[]
    * column, rendered from the fitted basis — shared by every oracle
    * that replays [[graft.operators.Pca.whiten]] (q163, q165). */
  private def whitenedProjSql(m: graft.operators.Pca.PcaModel): String =
    m.components.lazyZip(m.eigenvalues).map { (w, ev) =>
      val off = m.means.lazyZip(w).map(_ * _).sum
      val inv = 1.0 / math.sqrt(ev)
      s"(list_inner_product(v, ${w.mkString("[", ", ", "]")}) - $off) * $inv"
    }.mkString("[", ",\n   ", "]")

  /** q165's oracle: q121's frozen-quantizer ingest-probe chain run over
    * the WHITENED projection (basis literals rendered at dump time —
    * the q163 discipline; the fit itself is pinned by q151/q154 and
    * PcaSpec). Generated by rewriting the chain's corpus CTE to the
    * projected one, so the retrieval text can never drift from
    * q121/q122/q158's. */
  /** The fitted whitening model this dump's parquet was produced under,
    * or None when no whitened query ran in this process (the oracle is
    * then a never-compared placeholder). Verify fits models for exactly
    * ONE fixture dir; a JVM that fitted several (multi-SF verify/bench
    * run) cannot know which basis the dumped parquet used, so fail
    * loudly instead of silently picking the lexicographically-first
    * dir's basis and producing a spurious mismatch. */
  private def dumpPcaModel: Option[graft.operators.Pca.PcaModel] = {
    val models = SparkEntry.pcaModels
    require(models.size <= 1,
      s"oracle dump ambiguous: PCA models fitted for ${models.keys.toSeq.sorted.mkString(", ")} — " +
        "dump oracles from a JVM that ran queries against exactly one fixture dir")
    models.values.headOption
  }

  private def q165OracleSql: String =
    dumpPcaModel match {
      case None =>
        "SELECT 0 AS query_id, 0 AS neighbor_id, 0 AS rnk WHERE FALSE"
      case Some(m) =>
        val head = "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
        val whitenedHead =
          s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |e AS (SELECT vec_id, ${whitenedProjSql(m)} AS v FROM e0),""".stripMargin
        val sql = q121OracleSql.replace(head, whitenedHead)
        require(sql != q121OracleSql,
          "q165 oracle generation failed to rewrite the corpus CTE")
        sql
    }

  private def q163OracleSql: String =
    dumpPcaModel match {
      case None =>
        "SELECT 'unfitted' AS variant, 0 AS query_id, 0 AS truth, 0 AS hits WHERE FALSE"
      case Some(m) =>
        val proj = whitenedProjSql(m)
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |gt AS (SELECT query_id, neighbor_id FROM (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
           |      ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rnk
           |  FROM e q JOIN e c ON c.vec_id <> q.vec_id WHERE q.vec_id < 5)
           |  WHERE rnk <= 10),
           |red AS (SELECT vec_id, $proj AS r FROM e),
           |ctrw AS (SELECT r AS cv,
           |          ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS idx
           |        FROM red
           |        QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8),
           |asgw AS (SELECT red.vec_id, red.r, c.idx,
           |          list_inner_product(red.r, red.r)
           |            - 2.0 * list_inner_product(red.r, c.cv)
           |            + list_inner_product(c.cv, c.cv) AS d
           |        FROM red CROSS JOIN ctrw c),
           |cellw AS (SELECT vec_id, r, idx AS cell FROM asgw
           |         QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, idx) = 1),
           |prw AS (SELECT vec_id AS query_id, r AS qv, idx AS cell FROM asgw
           |       WHERE vec_id < 5
           |       QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, idx) <= 2),
           |candw AS (SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id,
           |    CASE WHEN sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(c.r, c.r)) = 0
           |      THEN 0.0
           |      ELSE list_inner_product(p.qv, c.r) /
           |        (sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(c.r, c.r))) END AS cos
           |  FROM prw p JOIN cellw c ON c.cell = p.cell AND c.vec_id <> p.query_id),
           |apw AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
           |  FROM candw) WHERE rnk <= 10),
           |ctrr AS (SELECT v AS cv,
           |          ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS idx
           |        FROM e
           |        QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8),
           |asgr AS (SELECT e.vec_id, e.v, c.idx,
           |          list_inner_product(e.v, e.v)
           |            - 2.0 * list_inner_product(e.v, c.cv)
           |            + list_inner_product(c.cv, c.cv) AS d
           |        FROM e CROSS JOIN ctrr c),
           |cellr AS (SELECT vec_id, v, idx AS cell FROM asgr
           |         QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, idx) = 1),
           |prr AS (SELECT vec_id AS query_id, v AS qv, idx AS cell FROM asgr
           |       WHERE vec_id < 5
           |       QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, idx) <= 2),
           |candr AS (SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id,
           |    CASE WHEN sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(c.v, c.v)) = 0
           |      THEN 0.0
           |      ELSE list_inner_product(p.qv, c.v) /
           |        (sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(c.v, c.v))) END AS cos
           |  FROM prr p JOIN cellr c ON c.cell = p.cell AND c.vec_id <> p.query_id),
           |apr AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
           |  FROM candr) WHERE rnk <= 10)
           |SELECT 'whitened' AS variant, gt.query_id,
           |  CAST(COUNT(*) AS BIGINT) AS truth,
           |  CAST(COUNT(*) FILTER (WHERE apw.neighbor_id IS NOT NULL) AS BIGINT) AS hits
           |FROM gt LEFT JOIN apw USING (query_id, neighbor_id)
           |GROUP BY 1, 2
           |UNION ALL
           |SELECT 'raw' AS variant, gt.query_id,
           |  CAST(COUNT(*) AS BIGINT) AS truth,
           |  CAST(COUNT(*) FILTER (WHERE apr.neighbor_id IS NOT NULL) AS BIGINT) AS hits
           |FROM gt LEFT JOIN apr USING (query_id, neighbor_id)
           |GROUP BY 1, 2
           |ORDER BY variant, query_id""".stripMargin
    }

  /** DuckDB 1.0 inlines every non-recursive CTE at each reference site,
    * so a shared CTE chain is re-evaluated once per downstream mention —
    * the q116 admission replay feeds five oracles, and q143 fans the
    * 6-branch card CTEs out over it, multiplying the whole
    * shingle/minhash/closure chain (judge-timed at 795 s for q143 alone
    * at sf0.01). `AS MATERIALIZED` pins each named CTE to one
    * evaluation: q116 24.9 s → 0.3 s locally, row-for-row identical.
    * The rewrite is safe to apply globally because every plain CTE head
    * here is the bare `name AS (` form — recursive and VALUES CTEs use
    * the `name(cols) AS (` form whose identifier is followed by `)`,
    * not ` AS (`, and `UNNEST(..) AS uv(sv)` aliases put the identifier
    * AFTER the AS — so the pattern below matches CTE heads and nothing
    * else (audited over the full dumped oracle surface; the one other
    * shape, a named `WINDOW w AS (...)` clause, is excluded by a
    * scanner, not a lookbehind — a lookbehind only covered the FIRST
    * definition, and a future comma-separated
    * `WINDOW w1 AS (...), w2 AS (...)` clause would have had its second
    * definition rewritten into invalid SQL; [[windowDefNameStarts]]
    * walks every definition of every WINDOW clause through balanced
    * parens, and OraclesMaterializeSpec pins the multi-window shape).
    * One more exclusion: a name DEFINED TWICE in one statement (a
    * nested `WITH` shadowing an outer CTE of the same name, q142's
    * shape) stays inlined — DuckDB hoists materialized CTEs and rejects
    * the resulting duplicate alias, while inlined shadowing is fine. */
  private val CteHead = """(\w+) AS \(""".r

  /** Start offsets of every window-definition NAME in every
    * `WINDOW w1 AS (...), w2 AS (...)` clause of `sqlText`: from each
    * `WINDOW` keyword, walk the comma-separated `name AS (balanced)`
    * list, recording each name's position. These positions must never
    * be rewritten by [[materialize]] — `w AS MATERIALIZED (...)` is not
    * window-clause syntax. */
  private def windowDefNameStarts(sqlText: String): Set[Int] = {
    val starts = scala.collection.mutable.Set[Int]()
    val W = """(?i)\bWINDOW\s+""".r
    val Head = """^(\w+)\s+AS\s*\(""".r
    for (w <- W.findAllMatchIn(sqlText)) {
      var i = w.end
      var continue = true
      while (continue) {
        continue = false
        Head.findFirstMatchIn(sqlText.substring(i)).foreach { h =>
          starts += i
          // skip this definition's balanced parens, treating
          // single-quoted literals, double-quoted identifiers and
          // `--` line comments as opaque: a paren inside any of them
          // (e.g. ORDER BY split_part(x, '(', 1)) would otherwise
          // desynchronize the walk, miss the next definition's name,
          // and let materialize() rewrite it into invalid
          // `w2 AS MATERIALIZED (` SQL. ''/"" are SQL's escaped
          // quotes — two literals/identifiers back-to-back parse
          // identically, so plain toggling handles them.
          var depth = 1
          var k = i + h.end
          var inStr = false
          var inId = false
          while (k < sqlText.length && depth > 0) {
            val ch = sqlText.charAt(k)
            if (inStr) { if (ch == '\'') inStr = false }
            else if (inId) { if (ch == '"') inId = false }
            else if (ch == '\'') inStr = true
            else if (ch == '"') inId = true
            else if (ch == '-' && k + 1 < sqlText.length &&
                sqlText.charAt(k + 1) == '-') {
              while (k < sqlText.length && sqlText.charAt(k) != '\n') k += 1
            }
            else if (ch == '(') depth += 1
            else if (ch == ')') depth -= 1
            k += 1
          }
          // a comma (possibly newline-separated) continues the list
          var j = k
          while (j < sqlText.length && sqlText.charAt(j).isWhitespace) j += 1
          if (j < sqlText.length && sqlText.charAt(j) == ',') {
            i = j + 1
            while (i < sqlText.length && sqlText.charAt(i).isWhitespace)
              i += 1
            continue = true
          }
        }
      }
    }
    starts.toSet
  }

  private[graft] def materialize(sqlText: String): String = {
    val windowNames = windowDefNameStarts(sqlText)
    val heads = CteHead.findAllMatchIn(sqlText).toSeq
      .filterNot(m => windowNames(m.start))
    val counts = heads.groupBy(_.group(1)).view.mapValues(_.size).toMap
    val sb = new java.lang.StringBuilder
    var last = 0
    for (m <- heads if counts(m.group(1)) == 1) {
      sb.append(sqlText, last, m.start)
      sb.append(m.group(1)).append(" AS MATERIALIZED (")
      last = m.end
    }
    sb.append(sqlText, last, sqlText.length)
    sb.toString
  }

  def sql: Map[String, String] =
    rawSql.map { case (name, text) => name -> materialize(text) }

  private def rawSql: Map[String, String] = Map(
    "q28_ann_srp" -> q28OracleSql,
    "q163_whitened_ann_serve" -> q163OracleSql,
    "q165_whitened_stream_ingest" -> q165OracleSql,
    "q25_neardup_embedding" -> q25OracleSql,
    "q33_ann_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ctr0 AS (SELECT v AS cv,
        |           ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS idx
        |         FROM e
        |         QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8),
        |asg0 AS (SELECT e.vec_id, e.v, c.idx,
        |           list_inner_product(e.v, e.v)
        |             - 2.0 * list_inner_product(e.v, c.cv)
        |             + list_inner_product(c.cv, c.cv) AS d
        |         FROM e CROSS JOIN ctr0 c),
        |cell0 AS (SELECT vec_id, v, idx AS cell FROM asg0
        |          QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, idx) = 1),
        |sums AS (SELECT cell, r.i AS dim,
        |           SUM(CAST(floor(v[r.i + 1] * 1000000.0) AS BIGINT)) AS s,
        |           COUNT(*) AS n
        |         FROM cell0, range(64) AS r(i) GROUP BY cell, r.i),
        |mean AS (SELECT cell AS idx,
        |           list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 ORDER BY dim) AS cv
        |         FROM sums GROUP BY cell),
        |ctr AS (SELECT c0.idx, COALESCE(m.cv, c0.cv) AS cv
        |        FROM ctr0 c0 LEFT JOIN mean m ON m.idx = c0.idx),
        |asg AS (SELECT e.vec_id, e.v, c.idx,
        |          list_inner_product(e.v, e.v)
        |            - 2.0 * list_inner_product(e.v, c.cv)
        |            + list_inner_product(c.cv, c.cv) AS d
        |        FROM e CROSS JOIN ctr c),
        |cell AS (SELECT vec_id, v, idx AS cell FROM asg
        |         QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, idx) = 1),
        |pr AS (SELECT vec_id AS query_id, v AS qv, idx AS cell FROM asg
        |       WHERE vec_id < 5
        |       QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, idx) <= 2),
        |cand AS (SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id,
        |    CASE WHEN sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(c.v, c.v)) = 0
        |      THEN 0.0
        |      ELSE list_inner_product(p.qv, c.v) /
        |        (sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(c.v, c.v))) END AS cos
        |  FROM pr p JOIN cell c ON c.cell = p.cell AND c.vec_id <> p.query_id)
        |SELECT query_id, neighbor_id, rnk FROM (
        |  SELECT query_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk
        |  FROM cand) WHERE rnk <= 10""".stripMargin,
    "q49_ann_ivf_flat" -> q49OracleSql,
    "q24_neardup_simhash" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |           FROM documents WHERE trim(COALESCE(text, '')) <> ''),
        |th AS (SELECT doc_id, ('0x' || substr(md5(t.tok), 1, 8))::UBIGINT AS h
        |       FROM d, UNNEST(d.toks) AS t(tok)),
        |bits AS (SELECT doc_id, b.b AS bit,
        |           SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS c
        |         FROM th, range(32) AS b(b)
        |         GROUP BY doc_id, b.b),
        |sig AS (SELECT doc_id,
        |          CAST(SUM(CASE WHEN c > 0 THEN 1::UBIGINT << bit ELSE 0 END) AS BIGINT) AS s
        |        FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.s, b.s)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "q01_top_deck_types" ->
      """SELECT p.p_brand AS deck_type, COUNT(*) AS uses,
        |  CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS wins,
        |  100.0 * SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) / NULLIF(CAST(COUNT(*) AS DOUBLE), 0) AS win_rate
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |GROUP BY 1 ORDER BY uses DESC, deck_type LIMIT 30""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN CAST(l_quantity AS INTEGER) > 40 THEN 'win'
        |       WHEN CAST(l_quantity AS INTEGER) < 40 THEN 'loss' ELSE 'draw' END AS result,
        |  l_extendedprice * (1.0 - l_discount) AS revenue
        |FROM lineitem WHERE l_quantity >= 30 AND l_returnflag IN ('R','A')""".stripMargin,
    "q03_customer_summary" ->
      """SELECT c.c_custkey, c.c_name, c.c_acctbal,
        |  CAST(COUNT(o.o_orderkey) AS BIGINT) AS orders_seen
        |FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |GROUP BY 1,2,3 ORDER BY c.c_acctbal DESC, c.c_custkey LIMIT 50""".stripMargin,
    "q04_semi_topn" ->
      """WITH top_c AS (SELECT c_custkey FROM customer
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 100)
        |SELECT o_orderpriority, COUNT(*) AS uses,
        |  CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders WHERE o_custkey IN (SELECT c_custkey FROM top_c)
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q05_matchup_matrix" ->
      """WITH base AS (
        |  SELECT n.n_name AS side_a, c.c_mktsegment AS side_b,
        |         o.o_totalprice > 150000.0 AS a_won
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |both_dirs AS (
        |  SELECT side_a AS deck_type, side_b AS opp_deck_type, a_won AS won FROM base
        |  UNION ALL
        |  SELECT side_b, side_a, NOT a_won FROM base)
        |SELECT deck_type, opp_deck_type, COUNT(*) AS uses,
        |  CAST(SUM(CASE WHEN won THEN 1 ELSE 0 END) AS BIGINT) AS wins
        |FROM both_dirs GROUP BY 1,2""".stripMargin,
    "q06_top_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk
        |  FROM orders) WHERE rnk <= 3""".stripMargin,
    "q07_dedup_exact" ->
      """SELECT md5(CAST(text AS VARCHAR)) AS content_hash,
        |  MIN(doc_id) AS keep_id, COUNT(*) AS copies
        |FROM documents GROUP BY 1""".stripMargin,
    "q08_word_frequencies" ->
      """SELECT w AS word, COUNT(*) AS uses,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs
        |FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |      FROM documents WHERE trim(text) <> '')
        |WHERE length(w) >= 4
        |GROUP BY 1 ORDER BY uses DESC, word LIMIT 50""".stripMargin,
    "q09_archetype_cascade" ->
      """SELECT CASE
        |    WHEN p_type LIKE '%COPPER%' THEN 'Siege'
        |    WHEN p_size <= 10 THEN 'Bait'
        |    WHEN p_retailprice < 1200.0 THEN 'Cycle'
        |    WHEN p_type LIKE '%BRASS%' THEN 'Bridge Spam'
        |    WHEN p_size >= 40 THEN 'Beatdown'
        |    ELSE 'Hybrid' END AS deck_type,
        |  COUNT(*) AS uses,
        |  CAST(SUM(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM part GROUP BY 1 ORDER BY deck_type""".stripMargin,
    "q10_tag_normalize" ->
      """SELECT c_custkey, CASE WHEN UPPER(TRIM(c_name)) = '' THEN ''
        |  WHEN UPPER(TRIM(c_name)) LIKE '#%' THEN UPPER(TRIM(c_name))
        |  ELSE '#' || UPPER(TRIM(c_name)) END AS player_tag
        |FROM customer""".stripMargin,
    "q11_top_parts" ->
      """SELECT p.p_name AS card_name, COUNT(*) AS appearances
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |GROUP BY 1 ORDER BY appearances DESC, card_name LIMIT 50""".stripMargin,
    "q12_scalar_totals" ->
      """SELECT COUNT(*) AS total_orders,
        |  CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END), 0) AS BIGINT) AS open_orders,
        |  CAST(COALESCE(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)), 0) AS BIGINT) AS total_cents
        |FROM orders""".stripMargin,
    "q13_having_leaderboard" ->
      """SELECT l_partkey, COUNT(*) AS uses,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS wins,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS win_rate
        |FROM lineitem GROUP BY 1 HAVING COUNT(*) >= 5
        |ORDER BY win_rate DESC, l_partkey LIMIT 10""".stripMargin,
    "q14_distinct_labels" ->
      "SELECT DISTINCT o_orderpriority AS label FROM orders ORDER BY label",
    "q15_signature_hash" ->
      """SELECT r_name, signature, md5(signature) AS sig_hash FROM (
        |  SELECT r.r_name,
        |    array_to_string(list_sort(list(n.n_name)), '|') AS signature
        |  FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |  GROUP BY r.r_name) ORDER BY r_name""".stripMargin,
    "q16_anti_orphans" ->
      """SELECT c_nationkey, COUNT(*) AS n_customers
        |FROM customer c WHERE NOT EXISTS
        |  (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY 1 ORDER BY c_nationkey""".stripMargin,
    "q17_token_stats" ->
      """SELECT lang, COUNT(*) AS docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |  MIN(n_tok) AS min_tokens, MAX(n_tok) AS max_tokens,
        |  CAST(SUM(n_tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_tokens
        |FROM (SELECT lang, CASE WHEN trim(text) = '' THEN 0
        |        ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS n_tok
        |      FROM documents)
        |GROUP BY 1 ORDER BY lang""".stripMargin,
    "q18_doc_quality" ->
      """WITH d AS (SELECT doc_id, COALESCE(text, '') AS text
        |           FROM documents)
        |SELECT doc_id,
        |  CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS n_subtokens,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |    ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
        |      / CAST(length(text) AS DOUBLE) END AS punct_ratio,
        |  CASE WHEN trim(text) = '' THEN 0.0 ELSE
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> list_contains(['the','and','of','to','a','in','is','it','you','that'], x))) AS DOUBLE)
        |    / CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) END AS stopword_ratio
        |FROM d""".stripMargin,
    "q19_minhash_fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE trim(text) <> ''),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 1)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS shingles
        |  FROM toks),
        |mh AS (
        |  SELECT s.doc_id, r.seed,
        |    MIN(md5(CAST(r.seed AS VARCHAR) || ':' || u.sv)) AS m
        |  FROM sh s, UNNEST(s.shingles) AS u(sv), range(8) AS r(seed)
        |  GROUP BY s.doc_id, r.seed)
        |SELECT doc_id,
        |  md5(array_to_string(list(m ORDER BY seed), '|')) AS fingerprint
        |FROM mh GROUP BY doc_id""".stripMargin,
    "q20_knn_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, rnk FROM (
        |  SELECT query_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk
        |  FROM scored) WHERE rnk <= 10""".stripMargin,
    "q21_event_windows" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour, event_type,
        |  COUNT(*) AS events, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
        |FROM events GROUP BY 1,2 ORDER BY hour, event_type""".stripMargin,
    "q22_event_dedup_count" ->
      """SELECT COUNT(*) AS total,
        |  CAST(COUNT(DISTINCT (user_id, event_type))
        |    FILTER (WHERE user_id IS NOT NULL AND event_type IS NOT NULL) AS BIGINT)
        |    AS distinct_user_type
        |FROM events""".stripMargin,
    "q23_neardup_minhash" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |           FROM documents WHERE trim(text) <> ''),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |         generate_series(1, greatest(len(t) - 2, 1)),
        |         i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM d),
        |mh AS (SELECT s.doc_id, r.seed,
        |         MIN(md5(CAST(r.seed AS VARCHAR) || ':' || u.sv)) AS m
        |       FROM sh s, UNNEST(s.shingles) AS u(sv), range(8) AS r(seed)
        |       GROUP BY s.doc_id, r.seed),
        |bs AS (SELECT seed, m FROM mh GROUP BY seed, m HAVING COUNT(*) <= 30),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM mh a JOIN mh b
        |           ON a.seed = b.seed AND a.m = b.m AND a.doc_id < b.doc_id
        |         JOIN bs ON bs.seed = a.seed AND bs.m = a.m),
        |j AS (SELECT c.id_a, c.id_b,
        |        CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE)
        |          AS jaccard
        |      FROM cand c
        |      JOIN sh sa ON sa.doc_id = c.id_a
        |      JOIN sh sb ON sb.doc_id = c.id_b)
        |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    // q88: q23's pair pipeline + the hex-prefix split label hashed from
    // each side's id (same md5 idiom as q41's split oracle)
    "q88_split_leakage" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |           FROM documents WHERE trim(text) <> ''),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |         generate_series(1, greatest(len(t) - 2, 1)),
        |         i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM d),
        |mh AS (SELECT s.doc_id, r.seed,
        |         MIN(md5(CAST(r.seed AS VARCHAR) || ':' || u.sv)) AS m
        |       FROM sh s, UNNEST(s.shingles) AS u(sv), range(8) AS r(seed)
        |       GROUP BY s.doc_id, r.seed),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM mh a JOIN mh b
        |           ON a.seed = b.seed AND a.m = b.m AND a.doc_id < b.doc_id),
        |j AS (SELECT c.id_a, c.id_b,
        |        CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE)
        |          AS jaccard
        |      FROM cand c
        |      JOIN sh sa ON sa.doc_id = c.id_a
        |      JOIN sh sb ON sb.doc_id = c.id_b),
        |lbl AS (SELECT id_a, id_b, jaccard,
        |          CASE WHEN substr(md5(CAST(id_a AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
        |               WHEN substr(md5(CAST(id_a AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
        |               ELSE 'test' END AS split_a,
        |          CASE WHEN substr(md5(CAST(id_b AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
        |               WHEN substr(md5(CAST(id_b AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
        |               ELSE 'test' END AS split_b
        |        FROM j WHERE jaccard >= 0.4)
        |SELECT id_a, id_b, jaccard, split_a, split_b,
        |  split_a <> split_b AS leak
        |FROM lbl ORDER BY id_a, id_b""".stripMargin,
    "q26_language_id" ->
      """WITH d AS (SELECT lang, trim(COALESCE(text, '')) = '' AS empty,
        |             string_split_regex(lower(trim(COALESCE(text, ''))), '\s+') AS toks
        |           FROM documents),
        |h AS (SELECT lang,
        |  CASE WHEN empty THEN 0 ELSE len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','it','you','that'], x))) END AS h_en,
        |  CASE WHEN empty THEN 0 ELSE len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','ich','zu','mit'], x))) END AS h_de,
        |  CASE WHEN empty THEN 0 ELSE len(list_filter(toks, x -> list_contains(['le','la','les','et','est','pas','un','une','je','dans'], x))) END AS h_fr,
        |  CASE WHEN empty THEN 0 ELSE len(list_filter(toks, x -> list_contains(['el','la','los','las','es','no','un','una','yo','en'], x))) END AS h_es,
        |  CASE WHEN empty THEN 0 ELSE len(list_filter(toks, x -> list_contains(['的','是','不','了','在','我','有','他','这','中'], x))) END AS h_zh
        |FROM d),
        |g AS (SELECT lang, h_en, h_de, h_fr, h_es, h_zh,
        |        greatest(h_en, h_de, h_fr, h_es, h_zh) AS best FROM h)
        |SELECT CASE WHEN best = 0 THEN 'und'
        |            WHEN h_zh = best THEN 'zh' WHEN h_fr = best THEN 'fr'
        |            WHEN h_es = best THEN 'es' WHEN h_en = best THEN 'en'
        |            ELSE 'de' END AS lang_pred,
        |  lang, COUNT(*) AS docs
        |FROM g GROUP BY 1, 2 ORDER BY lang_pred, lang""".stripMargin,
    "q27_quality_score" ->
      """WITH d AS (SELECT doc_id, COALESCE(text, '') AS text FROM documents),
        |f AS (SELECT doc_id,
        |  CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS n_tok,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |    ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
        |      / CAST(length(text) AS DOUBLE) END AS punct,
        |  CASE WHEN trim(text) = '' THEN 0.0 ELSE
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> list_contains(['the','and','of','to','a','in','is','it','you','that'], x))) AS DOUBLE)
        |    / CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) END AS stopratio
        |FROM d)
        |SELECT doc_id,
        |  floor((least(CAST(n_tok AS DOUBLE) / 64.0, 1.0)
        |       + least(stopratio * 4.0, 1.0)
        |       + greatest(1.0 - punct * 4.0, 0.0)) / 3.0 * 1e6) / 1e6 AS quality
        |FROM f ORDER BY doc_id""".stripMargin,
    "q29_streaming_windows" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour, event_type,
        |  COUNT(*) AS events,
        |  CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q74_streaming_file_sink" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour, event_type,
        |  COUNT(*) AS events,
        |  CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    // q86: the duplicated feed deduped back to single delivery — the
    // oracle is the plain batch rollup, identical to q74's
    "q86_streaming_dedup" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour, event_type,
        |  COUNT(*) AS events,
        |  CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q30_multimodal_features" ->
      """SELECT doc_id,
        |  CAST(COALESCE(octet_length(encode(text)), 0) AS BIGINT) AS n_bytes,
        |  CAST(64 + COALESCE(octet_length(encode(text)), 0) % 64 AS INTEGER) AS width,
        |  CAST(64 + (COALESCE(octet_length(encode(text)), 0) // 64) % 64 AS INTEGER) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q31_sessionization" ->
      """WITH e AS (SELECT user_id, event_id, ts,
        |             CAST(floor(epoch(ts)) AS BIGINT) AS secs
        |           FROM events WHERE user_id IS NOT NULL),
        |g AS (SELECT user_id, event_id, ts, secs,
        |        CASE WHEN lag(ts) OVER w IS NULL
        |               OR secs - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, secs,
        |        CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |      FROM g)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(secs) AS start_ts, MAX(secs) AS end_ts
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin,
    "q32_rollup_totals" ->
      """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COALESCE(o_orderstatus, 'ALL') AS status,
        |  COUNT(*) AS orders,
        |  CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        |ORDER BY priority, status""".stripMargin,
    "q34_json_extract" ->
      """SELECT event_type,
        |  COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS with_k,
        |  CAST(COALESCE(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)), 0) AS BIGINT) AS k_total,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q35_rank_ties" ->
      """WITH g AS (SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
        |           FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, l_quantity, cnt,
        |  CAST(RANK() OVER w AS BIGINT) AS rnk,
        |  CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk
        |FROM g WINDOW w AS (PARTITION BY l_returnflag ORDER BY cnt DESC, l_quantity)
        |ORDER BY l_returnflag, rnk, l_quantity""".stripMargin,
    "q36_cube_totals" ->
      """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COALESCE(o_orderstatus, 'ALL') AS status, COUNT(*) AS orders
        |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
        |ORDER BY priority, status""".stripMargin,
    "q37_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |           FROM documents WHERE trim(text) <> ''),
        |sh3 AS (SELECT doc_id, list_distinct(list_transform(
        |          generate_series(1, greatest(len(t) - 2, 1)),
        |          i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM d),
        |sh2 AS (SELECT doc_id, list_distinct(list_transform(
        |          generate_series(1, greatest(len(t) - 1, 1)),
        |          i -> array_to_string(t[i:i+1], ' '))) AS shingles FROM d),
        |mh AS (SELECT s.doc_id, r.seed,
        |         MIN(md5(CAST(r.seed AS VARCHAR) || ':' || u.sv)) AS m
        |       FROM sh3 s, UNNEST(s.shingles) AS u(sv), range(8) AS r(seed)
        |       GROUP BY s.doc_id, r.seed),
        |p AS (SELECT doc_id,
        |        MAX(CASE WHEN seed=0 THEN m END) AS m0, MAX(CASE WHEN seed=1 THEN m END) AS m1,
        |        MAX(CASE WHEN seed=2 THEN m END) AS m2, MAX(CASE WHEN seed=3 THEN m END) AS m3,
        |        MAX(CASE WHEN seed=4 THEN m END) AS m4, MAX(CASE WHEN seed=5 THEN m END) AS m5,
        |        MAX(CASE WHEN seed=6 THEN m END) AS m6, MAX(CASE WHEN seed=7 THEN m END) AS m7
        |      FROM mh GROUP BY doc_id),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM p a JOIN p b ON a.doc_id < b.doc_id
        |          AND ((a.m0 = b.m0 AND a.m1 = b.m1) OR (a.m2 = b.m2 AND a.m3 = b.m3)
        |            OR (a.m4 = b.m4 AND a.m5 = b.m5) OR (a.m6 = b.m6 AND a.m7 = b.m7))),
        |j AS (SELECT c.id_a, c.id_b,
        |        CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE)
        |          AS jaccard
        |      FROM cand c
        |      JOIN sh2 sa ON sa.doc_id = c.id_a
        |      JOIN sh2 sb ON sb.doc_id = c.id_b)
        |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,
    "q38_session_window" ->
      """WITH e AS (SELECT user_id, event_id,
        |             epoch_ns(ts) // 1000 AS us,
        |             CAST(floor(epoch(ts)) AS BIGINT) AS secs
        |           FROM events WHERE user_id IS NOT NULL),
        |g AS (SELECT user_id, secs, us, event_id,
        |        CASE WHEN lag(us) OVER w IS NULL
        |               OR us - lag(us) OVER w >= 1800000000
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT user_id, secs,
        |        SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS UNBOUNDED PRECEDING) AS session_id
        |      FROM g)
        |SELECT user_id, MIN(secs) AS start_ts, MAX(secs) AS end_ts,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, start_ts""".stripMargin,
    "q39_asof_orders" ->
      """WITH daily AS (
        |  SELECT o_custkey, o_orderdate,
        |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS day_cents
        |  FROM orders GROUP BY 1, 2),
        |e AS (SELECT event_id, user_id, ts FROM events WHERE user_id IS NOT NULL)
        |SELECT e.event_id, e.user_id,
        |  CAST(floor(epoch(d.o_orderdate)) AS BIGINT) AS order_secs,
        |  d.day_cents
        |FROM e ASOF LEFT JOIN daily d
        |  ON e.user_id = d.o_custkey AND e.ts >= d.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    "q40_quantiles" ->
      """WITH r AS (SELECT l_returnflag, l_quantity AS v,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  MAX(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN v END) AS p25,
        |  MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN v END) AS p50,
        |  MAX(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT) THEN v END) AS p75,
        |  MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN v END) AS p90,
        |  COUNT(*) AS n
        |FROM r GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "q41_sample_split" ->
      """WITH s AS (
        |  SELECT lang, n_chars, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h
        |  FROM documents
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
        |SELECT lang,
        |  CASE WHEN h < '4ccc' THEN 'train'
        |       WHEN h < '6666' THEN 'val' ELSE 'test' END AS split,
        |  COUNT(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM s GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,
    "q42_pivot_status" ->
      """SELECT o_orderpriority AS priority,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O",
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS "P"
        |FROM orders GROUP BY 1 ORDER BY priority""".stripMargin,
    "q43_dedup_components" -> dedupComponentsOracle,
    // q51 computes the SAME labels with star contraction — same oracle
    "q51_dedup_components_star" -> dedupComponentsOracle,
    "q58_keep_best" -> keepBestOracle,
    "q59_ann_ivf_pq" -> q59OracleSql,
    "q62_semantic_enrich" -> q62OracleSql,
    "q63_rolling_window" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
        |             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |           FROM events WHERE user_id IS NOT NULL)
        |SELECT user_id, event_id, us,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(SUM(cents) OVER w AS BIGINT) AS cents_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, us, event_id""".stripMargin,
    "q69_first_last" ->
      """SELECT DISTINCT o_custkey,
        |  CAST(floor(epoch(first_value(o_orderdate) OVER w)) AS BIGINT) AS first_secs,
        |  first_value(o_orderstatus) OVER w AS first_status,
        |  CAST(floor(epoch(last_value(o_orderdate) OVER w)) AS BIGINT) AS last_secs,
        |  last_value(o_orderstatus) OVER w AS last_status
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey""".stripMargin,
    "q68_mixture_sample" ->
      """WITH tot AS (SELECT lang, CAST(SUM(n_chars) AS DOUBLE) AS t
        |             FROM documents GROUP BY 1),
        |w(lang, wt) AS (VALUES ('en', 0.4), ('de', 0.15), ('es', 0.15),
        |                ('fr', 0.15), ('zh', 0.15)),
        |r AS (SELECT w.lang,
        |        LEAST(1000000, CAST(floor(
        |          60000.0 * CAST(w.wt AS DOUBLE) / tot.t * 1000000.0) AS BIGINT)) AS thr
        |      FROM w JOIN tot USING (lang)),
        |k AS (SELECT d.lang, d.n_chars
        |      FROM documents d JOIN r ON r.lang = d.lang
        |      WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::UBIGINT
        |        % 1000000 < r.thr)
        |SELECT lang, COUNT(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM k GROUP BY 1 ORDER BY lang""".stripMargin,
    "q70_dup_ngrams_ceiling" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |           FROM documents WHERE trim(COALESCE(text, '')) <> ''),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |         generate_series(1, greatest(len(t) - 2, 1)),
        |         i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM d),
        |g AS (SELECT doc_id, u.sv AS gram FROM sh, UNNEST(sh.shingles) AS u(sv)),
        |dfc AS (SELECT gram, COUNT(*) AS docs_with FROM g GROUP BY gram),
        |s AS (SELECT g.doc_id,
        |        COUNT(*) FILTER (WHERE dfc.docs_with <= 10) AS total,
        |        COUNT(*) FILTER (WHERE dfc.docs_with BETWEEN 2 AND 10) AS shared
        |      FROM g JOIN dfc USING (gram) GROUP BY 1)
        |SELECT doc_id, CAST(shared AS BIGINT) AS shared,
        |  CAST(total AS BIGINT) AS total,
        |  CASE WHEN total = 0 THEN 0.0
        |    ELSE floor(CAST(shared AS DOUBLE) / total * 1e6) / 1e6 END AS dup_frac
        |FROM s ORDER BY doc_id""".stripMargin,
    "q71_sequence_pack" ->
      """WITH d AS (SELECT doc_id,
        |             CASE WHEN trim(COALESCE(text, '')) = '' THEN 0
        |               ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
        |           FROM documents),
        |f AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |        md5(CAST(doc_id AS VARCHAR)) AS key,
        |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
        |          % 4 AS BIGINT) AS shard
        |      FROM d WHERE n_tokens > 0),
        |c AS (SELECT doc_id, n_tokens, shard,
        |        COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY key, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |      FROM f),
        |t AS (SELECT shard, (SUM(n_tokens) + 511) // 512 AS nseq
        |      FROM f GROUP BY shard),
        |b AS (SELECT shard,
        |        COALESCE(SUM(nseq) OVER (ORDER BY shard
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
        |      FROM t)
        |SELECT c.doc_id, c.n_tokens, c.shard,
        |  CAST(b.base + c.cum // 512 AS BIGINT) AS seq_id,
        |  CAST(c.cum % 512 AS BIGINT) AS seq_off
        |FROM c JOIN b USING (shard) ORDER BY c.doc_id""".stripMargin,
    // q82: q71's layout CTEs + the slice explode — one row per sequence a
    // doc touches, [token_from, token_to) in doc coords, seq_from the
    // in-sequence start offset
    "q82_packed_slices" ->
      """WITH d AS (SELECT doc_id,
        |             CASE WHEN trim(COALESCE(text, '')) = '' THEN 0
        |               ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
        |           FROM documents),
        |f AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |        md5(CAST(doc_id AS VARCHAR)) AS key,
        |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
        |          % 4 AS BIGINT) AS shard
        |      FROM d WHERE n_tokens > 0),
        |c AS (SELECT doc_id, n_tokens, shard,
        |        COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY key, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |      FROM f),
        |t AS (SELECT shard, (SUM(n_tokens) + 511) // 512 AS nseq
        |      FROM f GROUP BY shard),
        |b AS (SELECT shard,
        |        COALESCE(SUM(nseq) OVER (ORDER BY shard
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
        |      FROM t),
        |k AS (SELECT c.doc_id, c.n_tokens, c.shard, c.cum, b.base, u.k AS k
        |      FROM c JOIN b USING (shard),
        |        UNNEST(generate_series(CAST(c.cum // 512 AS BIGINT),
        |          CAST((c.cum + c.n_tokens - 1) // 512 AS BIGINT))) AS u(k))
        |SELECT doc_id, n_tokens, shard,
        |  CAST(base + k AS BIGINT) AS seq_id,
        |  CAST(greatest(k * 512 - cum, 0) AS BIGINT) AS token_from,
        |  CAST(least((k + 1) * 512 - cum, n_tokens) AS BIGINT) AS token_to,
        |  CAST(greatest(cum - k * 512, 0) AS BIGINT) AS seq_from
        |FROM k ORDER BY seq_id, seq_from""".stripMargin,
    "q72_ann_ivf_pq_refined" -> q72OracleSql,
    "q73_bm25_search" -> q73OracleSql,
    "q75_hybrid_rrf" -> q75OracleSql,
    "q76_top_fraction" ->
      """WITH k AS (SELECT lang, n_chars FROM documents
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id) * 1000000
        |    <= COUNT(*) OVER (PARTITION BY lang) * 250000)
        |SELECT lang, COUNT(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  CAST(MIN(n_chars) AS BIGINT) AS min_chars
        |FROM k GROUP BY 1 ORDER BY lang""".stripMargin,
    "q77_boilerplate_strip" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |           FROM documents WHERE trim(COALESCE(text, '')) <> ''),
        |seg AS (SELECT doc_id, unnest(list_transform(
        |          generate_series(0, CAST(ceil(len(t) / 3.0) AS INT) - 1),
        |          p -> {'pos': p, 'seg': array_to_string(t[p*3+1:p*3+3], ' ')})) AS s
        |        FROM d),
        |s2 AS (SELECT doc_id, s.pos AS pos, s.seg AS seg FROM seg),
        |bp AS (SELECT seg FROM (SELECT seg, COUNT(DISTINCT doc_id) AS df
        |                        FROM s2 GROUP BY seg) WHERE df > 2),
        |j AS (SELECT s2.doc_id, s2.pos, s2.seg, bp.seg IS NOT NULL AS is_bp
        |      FROM s2 LEFT JOIN bp ON s2.seg = bp.seg)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_seg,
        |  CAST(COUNT(*) FILTER (WHERE is_bp) AS BIGINT) AS n_dropped,
        |  md5(COALESCE(string_agg(seg, ' ' ORDER BY pos)
        |    FILTER (WHERE NOT is_bp), '')) AS clean_md5
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q78_vocab_encode" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |           FROM documents WHERE trim(COALESCE(text, '')) <> ''),
        |tok AS (SELECT doc_id,
        |          unnest(list_transform(t, (x, i) -> {'pos': i, 'tok': x})) AS s
        |        FROM d),
        |t2 AS (SELECT doc_id, s.pos AS pos, s.tok AS token FROM tok),
        |cnts AS (SELECT token, COUNT(*) AS cnt FROM t2 GROUP BY token),
        |vocab AS (SELECT token, id FROM (
        |    SELECT token, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS id
        |    FROM cnts) WHERE id <= 24),
        |e AS (SELECT t2.doc_id, t2.pos, COALESCE(vocab.id, 0) AS token_id
        |      FROM t2 LEFT JOIN vocab USING (token))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |  CAST(COUNT(*) FILTER (WHERE token_id = 0) AS BIGINT) AS n_oov,
        |  CAST(SUM(pos * token_id) AS BIGINT) AS enc_sum
        |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q79: over-range groups (n·max|v| past the engine's exact bound
    // 1012333499 = √MaxLong/3) take the SAME fixed-tree double test the
    // engine applies — identical IEEE op sequence, so the flags hash-match.
    // The guard itself is exact integer (m > bound // n), mirroring
    // Anomaly.flagOutliers' margin-free-at-the-bound fix.
    "q79_group_outliers" ->
      """WITH r AS (SELECT event_type AS grp, event_id AS row_id,
        |             CAST(floor(value * 100) AS BIGINT) AS v FROM events),
        |st AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(v) AS BIGINT) AS s,
        |         CAST(SUM(v * v) AS BIGINT) AS q,
        |         CAST(MAX(ABS(v)) AS BIGINT) AS m FROM r GROUP BY grp)
        |SELECT r.grp, r.row_id, r.v, st.n, st.s
        |FROM r JOIN st USING (grp)
        |WHERE CASE
        |  WHEN st.m > 1012333499 // st.n
        |  THEN (CAST(st.n AS DOUBLE) * CAST(r.v AS DOUBLE) - CAST(st.s AS DOUBLE))
        |       * (CAST(st.n AS DOUBLE) * CAST(r.v AS DOUBLE) - CAST(st.s AS DOUBLE))
        |     > 9.0 * (CAST(st.q AS DOUBLE) * CAST(st.n AS DOUBLE)
        |              - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE))
        |  ELSE (st.n * r.v - st.s) * (st.n * r.v - st.s)
        |     > 9 * (st.q * st.n - st.s * st.s) END
        |ORDER BY grp, row_id""".stripMargin,
    "q80_scd_history" ->
      """WITH r AS (SELECT user_id AS k, epoch_us(ts) AS t, event_id AS tb,
        |             event_type AS attr
        |           FROM events WHERE user_id IS NOT NULL),
        |c AS (SELECT k, t, tb, attr,
        |        CASE WHEN ROW_NUMBER() OVER w = 1
        |               OR LAG(attr) OVER w IS DISTINCT FROM attr
        |          THEN 1 ELSE 0 END AS chg
        |      FROM r WINDOW w AS (PARTITION BY k ORDER BY t, tb)),
        |v AS (SELECT k, t, attr,
        |        SUM(chg) OVER (PARTITION BY k ORDER BY t, tb
        |          ROWS UNBOUNDED PRECEDING) AS ver
        |      FROM c),
        |g AS (SELECT k, ver, MIN(attr) AS attr, MIN(t) AS effective_from,
        |        COUNT(*) AS n_events FROM v GROUP BY k, ver)
        |SELECT k AS user_id, attr AS event_type, CAST(ver AS BIGINT) AS ver,
        |  CAST(effective_from AS BIGINT) AS eff_from,
        |  CAST(LEAD(effective_from) OVER (PARTITION BY k ORDER BY ver)
        |    AS BIGINT) AS eff_to,
        |  CAST(n_events AS BIGINT) AS n_events
        |FROM g ORDER BY user_id, ver""".stripMargin,
    // q81: positional 3-grams -> docfreq>=2 -> covered-position union ->
    // gaps-and-islands span count -> string_agg reassembly; md5('') for
    // fully-removed docs on both engines
    "q81_span_removal" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |           FROM documents WHERE trim(COALESCE(text, '')) <> ''),
        |g AS (SELECT doc_id, u.i AS pos, array_to_string(t[u.i:u.i+2], ' ') AS gram
        |      FROM d, UNNEST(generate_series(1, len(t) - 2)) AS u(i)),
        |dup AS (SELECT gram FROM g GROUP BY gram
        |        HAVING COUNT(DISTINCT doc_id) >= 2),
        |rp AS (SELECT DISTINCT g.doc_id, u.p AS pos
        |       FROM g JOIN dup USING (gram),
        |            UNNEST(generate_series(g.pos, g.pos + 2)) AS u(p)),
        |sp AS (SELECT doc_id, COUNT(*) AS n_removed,
        |         SUM(CASE WHEN prev IS NULL OR pos > prev + 1 THEN 1 ELSE 0 END) AS n_spans
        |       FROM (SELECT doc_id, pos,
        |               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |             FROM rp) GROUP BY doc_id),
        |tok AS (SELECT doc_id, u.i AS pos, t[u.i] AS token
        |        FROM d, UNNEST(generate_series(1, len(t))) AS u(i)),
        |kept AS (SELECT tok.doc_id, COUNT(*) AS n_tokens,
        |           md5(COALESCE(string_agg(
        |             CASE WHEN rp.pos IS NULL THEN tok.token END,
        |             ' ' ORDER BY tok.pos), '')) AS clean_md5
        |         FROM tok LEFT JOIN rp USING (doc_id, pos) GROUP BY tok.doc_id)
        |SELECT kept.doc_id, CAST(kept.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(sp.n_removed, 0) AS BIGINT) AS n_removed,
        |  CAST(COALESCE(sp.n_spans, 0) AS BIGINT) AS n_spans,
        |  kept.clean_md5
        |FROM kept LEFT JOIN sp USING (doc_id) ORDER BY doc_id""".stripMargin,
    // q83: char symbols -> weighted pair counts -> (cnt DESC, l, r) rule
    // -> list_reduce greedy merge (the ends_with guard checks the LAST
    // symbol exactly, mirroring the engine's fold) -> per-doc rollup
    "q83_bpe_merge" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |           FROM documents WHERE trim(COALESCE(text, '')) <> ''),
        |tok AS (SELECT doc_id, u.i AS pos, t[u.i] AS word
        |        FROM d, UNNEST(generate_series(1, len(t))) AS u(i)),
        |w AS (SELECT word, COUNT(*) AS freq FROM tok GROUP BY 1),
        |p AS (SELECT substr(word, CAST(u.i AS INTEGER), 1) AS l,
        |        substr(word, CAST(u.i AS INTEGER) + 1, 1) AS r, SUM(freq) AS cnt
        |      FROM w, UNNEST(generate_series(1, len(word) - 1)) AS u(i)
        |      GROUP BY 1, 2),
        |best AS (SELECT l, r, CAST(cnt AS BIGINT) AS cnt FROM p
        |         ORDER BY cnt DESC, l, r LIMIT 1),
        |e AS (SELECT w.word, list_reduce(
        |        list_transform(generate_series(1, len(w.word)),
        |          i -> substr(w.word, CAST(i AS INTEGER), 1)),
        |        (acc, x) -> CASE
        |          WHEN acc = best.l AND x = best.r THEN best.l || best.r
        |          WHEN ends_with(acc, ' ' || best.l) AND x = best.r
        |            THEN substr(acc, 1, CAST(len(acc) - len(best.l) AS INTEGER))
        |                 || best.l || best.r
        |          ELSE acc || ' ' || x END) AS enc
        |      FROM w CROSS JOIN best),
        |ec AS (SELECT word, enc, len(string_split(enc, ' ')) AS n_sym FROM e),
        |j AS (SELECT tok.doc_id, tok.pos, ec.enc, ec.n_sym
        |      FROM tok JOIN ec USING (word))
        |SELECT j.doc_id, COUNT(*) AS n_tok, CAST(SUM(j.n_sym) AS BIGINT) AS n_sym,
        |  md5(string_agg(j.enc, ' ' ORDER BY j.pos)) AS enc_md5,
        |  MIN(best.l) AS pair_left, MIN(best.r) AS pair_right,
        |  CAST(MIN(best.cnt) AS BIGINT) AS pair_count
        |FROM j CROSS JOIN best GROUP BY j.doc_id ORDER BY j.doc_id""".stripMargin,
    "q84_bpe_train" -> q84OracleSql(3),
    // q136: train → write artifact → reload → encode ≡ the training
    // replay itself (the rules live in the artifact, not a column)
    "q136_tokenizer_encode" -> q84OracleSql(3, includeRules = false),
    // q87: same row string (chr(1) null sentinel, chr(2) separator) and
    // ppm fold as the engine; SUM is commutative so row order is free
    // q89: same fixed quantizer tree ((x−lo)·255/(hi−lo), floor, clamp)
    // over per-dim corpus stats; float→double casts exact on both engines
    "q89_sq8_encode" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding,
        |             x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings WHERE embedding IS NOT NULL),
        |u AS (SELECT vec_id, CAST(g.i - 1 AS INTEGER) AS pos, v[g.i] AS x
        |      FROM e, UNNEST(generate_series(1, len(v))) AS g(i)),
        |st AS (SELECT pos, MIN(x) AS lo, MAX(x) AS hi FROM u GROUP BY pos)
        |SELECT u.vec_id, u.pos,
        |  CAST(CASE WHEN st.hi = st.lo THEN 0
        |    ELSE least(floor((u.x - st.lo) * 255.0 / (st.hi - st.lo)), 255)
        |    END AS BIGINT) AS code
        |FROM u JOIN st USING (pos) ORDER BY vec_id, pos""".stripMargin,
    // q93: same lag-based chain debounce; 600 s = 6e8 micros
    "q93_debounce" ->
      """WITH r AS (SELECT user_id, event_type, epoch_us(ts) AS tus, event_id,
        |             LAG(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |               ORDER BY epoch_us(ts), event_id) AS prev
        |           FROM events WHERE user_id IS NOT NULL)
        |SELECT user_id, event_type, tus, event_id FROM r
        |WHERE prev IS NULL OR tus - prev > 600000000
        |ORDER BY user_id, event_type, tus, event_id""".stripMargin,
    // q94: the conditional-min chain, one CTE per stage
    "q94_funnel" ->
      """WITH b AS (SELECT user_id AS k, event_type AS kind, epoch_us(ts) AS tus
        |           FROM events WHERE user_id IS NOT NULL),
        |s0 AS (SELECT k, MIN(CASE WHEN kind = 'signup' THEN tus END) AS t0
        |       FROM b GROUP BY k),
        |s1 AS (SELECT b.k, MIN(s0.t0) AS t0,
        |         MIN(CASE WHEN b.kind = 'click' AND b.tus > s0.t0 THEN b.tus END) AS t1
        |       FROM b JOIN s0 USING (k) GROUP BY b.k),
        |s2 AS (SELECT b.k, MIN(s1.t0) AS t0, MIN(s1.t1) AS t1,
        |         MIN(CASE WHEN b.kind = 'purchase' AND b.tus > s1.t1 THEN b.tus END) AS t2
        |       FROM b JOIN s1 USING (k) GROUP BY b.k)
        |SELECT 1 AS stage, 'signup' AS kind, COUNT(t0) AS n_keys FROM s2
        |UNION ALL SELECT 2, 'click', COUNT(t1) FROM s2
        |UNION ALL SELECT 3, 'purchase', COUNT(t2) FROM s2
        |ORDER BY stage""".stripMargin,
    // q95: day periods by integer micro-epoch div; "offset" quoted
    // (DuckDB keyword)
    "q95_retention" ->
      """WITH a AS (SELECT DISTINCT user_id AS k,
        |             epoch_us(ts) // 86400000000 AS period
        |           FROM events WHERE user_id IS NOT NULL),
        |f AS (SELECT k, MIN(period) AS cohort FROM a GROUP BY k)
        |SELECT CAST(f.cohort AS BIGINT) AS cohort,
        |  CAST(a.period - f.cohort AS BIGINT) AS "offset",
        |  COUNT(*) AS n_keys
        |FROM a JOIN f USING (k) GROUP BY 1, 2 ORDER BY cohort, "offset"""".stripMargin,
    // q91: same integer midpoint key as the engine; "rank" quoted (DuckDB
    // reserves the bare word)
    "q91_interleave_order" ->
      """WITH r AS (SELECT doc_id AS id, lang AS stratum,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY lang) AS s
        |  FROM documents)
        |SELECT id, stratum, CAST(rk AS BIGINT) AS "rank",
        |  CAST(((2 * rk - 1) * 1000000000) // (2 * s) AS BIGINT) AS okey
        |FROM r ORDER BY okey, stratum, "rank"""".stripMargin,
    // q92: power-of-two bucket = len(bin(n)) on both engines; md5-ordered
    // cuts every 32 rows; per-batch padding accounting
    "q92_length_batches" ->
      """WITH d AS (SELECT doc_id,
        |             CASE WHEN trim(COALESCE(text, '')) = '' THEN 0
        |               ELSE len(string_split_regex(trim(text), '\s+')) END AS n
        |           FROM documents),
        |f AS (SELECT doc_id, CAST(n AS BIGINT) AS n,
        |        md5(CAST(doc_id AS VARCHAR)) AS h FROM d WHERE n > 0),
        |r AS (SELECT CAST(len(bin(n)) AS INTEGER) AS bucket, n,
        |        ROW_NUMBER() OVER (PARTITION BY len(bin(n))
        |          ORDER BY h, doc_id) AS rn
        |      FROM f),
        |g AS (SELECT bucket, (rn - 1) // 32 AS batch_id, n FROM r)
        |SELECT bucket, CAST(batch_id AS BIGINT) AS batch_id,
        |  COUNT(*) AS n_docs, CAST(MAX(n) AS BIGINT) AS max_units,
        |  CAST(SUM(n) AS BIGINT) AS sum_units,
        |  CAST(COUNT(*) * MAX(n) - SUM(n) AS BIGINT) AS padding
        |FROM g GROUP BY 1, 2 ORDER BY bucket, batch_id""".stripMargin,
    // q90: q89's code CTE + midpoint decode + q20's cosine ranking
    "q90_sq8_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding,
        |             x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings WHERE embedding IS NOT NULL),
        |u AS (SELECT vec_id, CAST(g.i - 1 AS INTEGER) AS pos, v[g.i] AS x
        |      FROM e, UNNEST(generate_series(1, len(v))) AS g(i)),
        |st AS (SELECT pos, MIN(x) AS lo, MAX(x) AS hi FROM u GROUP BY pos),
        |rc AS (SELECT u.vec_id,
        |         list(st.lo + (CAST(CASE WHEN st.hi = st.lo THEN 0
        |             ELSE least(floor((u.x - st.lo) * 255.0 / (st.hi - st.lo)), 255)
        |             END AS DOUBLE) + 0.5) * (st.hi - st.lo) / 256.0
        |           ORDER BY u.pos) AS rv
        |       FROM u JOIN st USING (pos) GROUP BY u.vec_id),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, rc.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.qv, rc.rv) AS cos
        |  FROM rc, q WHERE rc.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, rnk FROM (
        |  SELECT query_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk
        |  FROM scored) WHERE rnk <= 10""".stripMargin,
    "q87_dataset_checksum" ->
      """SELECT source AS grp, COUNT(*) AS n_rows,
        |  CAST(SUM(('0x' || substr(md5(
        |      COALESCE(CAST(doc_id AS VARCHAR), chr(1)) || chr(2) ||
        |      COALESCE(text, chr(1)) || chr(2) ||
        |      COALESCE(lang, chr(1)) || chr(2) ||
        |      COALESCE(source, chr(1)) || chr(2) ||
        |      COALESCE(CAST(n_chars AS VARCHAR), chr(1))
        |    ), 1, 15))::UBIGINT % 1000000) AS BIGINT) AS checksum
        |FROM documents GROUP BY 1 ORDER BY grp""".stripMargin,
    "q85_exact_quota" ->
      """SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT lang, doc_id, ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 50 ORDER BY lang, rk""".stripMargin,
    "q66_not_in_nulls" ->
      """WITH nn AS (SELECT COUNT(*) AS n FROM orders
        |            WHERE o_custkey NOT IN
        |              (SELECT c_custkey FROM customer WHERE c_acctbal < 0)),
        |wn AS (SELECT COUNT(*) AS n FROM orders
        |       WHERE o_custkey NOT IN
        |         (SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END
        |          FROM customer))
        |SELECT 'null_free' AS variant, n FROM nn
        |UNION ALL SELECT 'with_null', n FROM wn
        |ORDER BY variant""".stripMargin,
    "q67_calendar" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS q,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM orders GROUP BY 1, 2 ORDER BY y, q""".stripMargin,
    "q65_exists_sql" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q64_set_ops" ->
      """WITH u AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |l AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'),
        |c AS (SELECT o_custkey, 'both' AS set_class FROM (SELECT * FROM u INTERSECT SELECT * FROM l)
        |      UNION ALL
        |      SELECT o_custkey, 'urgent_only' FROM (SELECT * FROM u EXCEPT SELECT * FROM l))
        |SELECT set_class, COUNT(*) AS customers,
        |  CAST(SUM(o_custkey) AS BIGINT) AS custkey_sum
        |FROM c GROUP BY 1 ORDER BY set_class""".stripMargin,
    "q60_profile" ->
      """SELECT 'o_custkey' AS col_name, COUNT(o_custkey) AS non_nulls,
        |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
        |  COUNT(DISTINCT o_custkey) AS distincts FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', COUNT(o_orderstatus),
        |  CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT o_orderstatus) FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', COUNT(o_orderpriority),
        |  CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT o_orderpriority) FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', COUNT(o_totalprice),
        |  CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT o_totalprice) FROM orders
        |ORDER BY col_name""".stripMargin,
    "q61_snapshot_diff" ->
      """WITH o AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 0),
        |n AS (SELECT * REPLACE (
        |        CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
        |             ELSE o_totalprice END AS o_totalprice)
        |      FROM orders WHERE o_orderkey % 5 <> 0),
        |d AS (SELECT CASE
        |        WHEN o.o_orderkey IS NULL THEN 'added'
        |        WHEN n.o_orderkey IS NULL THEN 'removed'
        |        WHEN NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey
        |          AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
        |          AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
        |          AND o.o_orderdate IS NOT DISTINCT FROM n.o_orderdate
        |          AND o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority)
        |          THEN 'changed'
        |      END AS change_type
        |      FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
        |SELECT change_type, COUNT(*) AS n FROM d
        |WHERE change_type IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
    "q52_repetition" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |           FROM documents WHERE trim(COALESCE(text, '')) <> ''),
        |f AS (SELECT doc_id, len(t) AS n,
        |        list_max(list_transform(list_distinct(t),
        |          d2 -> len(list_filter(t, x -> x = d2)))) AS topn,
        |        greatest(len(t) - 1, 1) AS tot2,
        |        len(list_distinct(list_transform(
        |          generate_series(1, greatest(len(t) - 1, 1)),
        |          i -> array_to_string(t[i:i+1], ' ')))) AS dist2
        |      FROM d)
        |SELECT doc_id,
        |  floor(CAST(topn AS DOUBLE) / n * 1e6) / 1e6 AS top_token_frac,
        |  floor(CAST(tot2 - dist2 AS DOUBLE) / tot2 * 1e6) / 1e6 AS dup_bigram_frac
        |FROM f ORDER BY doc_id""".stripMargin,
    "q53_contamination" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |           FROM documents WHERE trim(text) <> ''),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |         generate_series(1, greatest(len(t) - 2, 1)),
        |         i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM d),
        |b AS (SELECT DISTINCT u.sv AS gram FROM sh, UNNEST(sh.shingles) AS u(sv)
        |      WHERE doc_id % 97 = 0),
        |c AS (SELECT doc_id, shingles FROM sh WHERE doc_id % 97 <> 0),
        |m AS (SELECT c.doc_id, COUNT(*) AS matched
        |      FROM c, UNNEST(c.shingles) AS u(sv)
        |      WHERE u.sv IN (SELECT gram FROM b) GROUP BY 1)
        |SELECT c.doc_id, COALESCE(m.matched, 0) AS matched,
        |  CAST(len(c.shingles) AS BIGINT) AS total,
        |  COALESCE(m.matched, 0) * 2 >= len(c.shingles) AS contaminated
        |FROM c LEFT JOIN m USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q54_tfidf_keywords" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |           FROM documents WHERE trim(COALESCE(text, '')) <> ''),
        |tok AS (SELECT doc_id, u.term FROM d, UNNEST(d.t) AS u(term)),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |        ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |          ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rnk
        |      FROM tf JOIN df USING (term))
        |SELECT doc_id, term, tf, df, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "q55_dup_ngrams" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |           FROM documents WHERE trim(COALESCE(text, '')) <> ''),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |         generate_series(1, greatest(len(t) - 2, 1)),
        |         i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM d),
        |g AS (SELECT doc_id, u.sv AS gram FROM sh, UNNEST(sh.shingles) AS u(sv)),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
        |s AS (SELECT g.doc_id, COUNT(*) AS shared
        |      FROM g JOIN dup USING (gram) GROUP BY 1)
        |SELECT sh.doc_id, CAST(COALESCE(s.shared, 0) AS BIGINT) AS shared,
        |  CAST(len(sh.shingles) AS BIGINT) AS total,
        |  floor(CAST(COALESCE(s.shared, 0) AS DOUBLE)
        |    / len(sh.shingles) * 1e6) / 1e6 AS dup_frac
        |FROM sh LEFT JOIN s USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q56_label_centroids" ->
      """WITH e AS (SELECT label, list_transform(embedding,
        |             (x, i) -> struct_pack(i := i,
        |               q := CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT))) AS qs
        |           FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL),
        |u AS (SELECT label, u.s.i AS pos, u.s.q AS q FROM e, UNNEST(e.qs) AS u(s))
        |SELECT label, CAST(pos AS INTEGER) AS pos,
        |  CAST(floor(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS centroid_q
        |FROM u GROUP BY 1, 2 ORDER BY label, pos""".stripMargin,
    // q57: the PQ path replayed in SQL — same hash-chosen codeword pick as
    // q49's ctr, sliced per subspace; argmin codes tie to the lower index;
    // the ADC sum is pivoted into 8 columns and added LEFT-ASSOCIATED so
    // the float total is bit-identical to the Spark expression chain
    "q57_ann_pq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ctr AS (SELECT v AS cv,
        |          ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cidx
        |        FROM e
        |        QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 16),
        |sub AS (SELECT CAST(r.j AS INTEGER) AS j FROM range(8) AS r(j)),
        |asg AS (SELECT e.vec_id, s.j, c.cidx,
        |          list_inner_product(e.v[(s.j*8+1):(s.j*8+8)], e.v[(s.j*8+1):(s.j*8+8)])
        |            - 2.0 * list_inner_product(e.v[(s.j*8+1):(s.j*8+8)], c.cv[(s.j*8+1):(s.j*8+8)])
        |            + list_inner_product(c.cv[(s.j*8+1):(s.j*8+8)], c.cv[(s.j*8+1):(s.j*8+8)]) AS d
        |        FROM e CROSS JOIN sub s CROSS JOIN ctr c),
        |codes AS (SELECT vec_id, j, cidx AS code FROM asg
        |          QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, cidx) = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |lut AS (SELECT q.query_id, s.j, c.cidx,
        |          list_inner_product(q.qv[(s.j*8+1):(s.j*8+8)], c.cv[(s.j*8+1):(s.j*8+8)]) AS ip
        |        FROM q CROSS JOIN sub s CROSS JOIN ctr c),
        |cn AS (SELECT s.j, c.cidx,
        |         list_inner_product(c.cv[(s.j*8+1):(s.j*8+8)], c.cv[(s.j*8+1):(s.j*8+8)]) AS nsq
        |       FROM sub s CROSS JOIN ctr c),
        |sc AS (SELECT l.query_id, cd.vec_id AS neighbor_id,
        |         MAX(CASE WHEN l.j = 0 THEN l.ip END) AS s0,
        |         MAX(CASE WHEN l.j = 1 THEN l.ip END) AS s1,
        |         MAX(CASE WHEN l.j = 2 THEN l.ip END) AS s2,
        |         MAX(CASE WHEN l.j = 3 THEN l.ip END) AS s3,
        |         MAX(CASE WHEN l.j = 4 THEN l.ip END) AS s4,
        |         MAX(CASE WHEN l.j = 5 THEN l.ip END) AS s5,
        |         MAX(CASE WHEN l.j = 6 THEN l.ip END) AS s6,
        |         MAX(CASE WHEN l.j = 7 THEN l.ip END) AS s7,
        |         MAX(CASE WHEN cn.j = 0 THEN cn.nsq END) AS n0,
        |         MAX(CASE WHEN cn.j = 1 THEN cn.nsq END) AS n1,
        |         MAX(CASE WHEN cn.j = 2 THEN cn.nsq END) AS n2,
        |         MAX(CASE WHEN cn.j = 3 THEN cn.nsq END) AS n3,
        |         MAX(CASE WHEN cn.j = 4 THEN cn.nsq END) AS n4,
        |         MAX(CASE WHEN cn.j = 5 THEN cn.nsq END) AS n5,
        |         MAX(CASE WHEN cn.j = 6 THEN cn.nsq END) AS n6,
        |         MAX(CASE WHEN cn.j = 7 THEN cn.nsq END) AS n7
        |       FROM codes cd
        |       JOIN lut l ON l.j = cd.j AND l.cidx = cd.code
        |       JOIN cn ON cn.j = cd.j AND cn.cidx = cd.code
        |       GROUP BY 1, 2),
        |qn AS (SELECT query_id, sqrt(list_inner_product(qv, qv)) AS qnorm FROM q)
        |SELECT query_id, neighbor_id, rnk FROM (
        |  SELECT sc.query_id, sc.neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY sc.query_id
        |      ORDER BY CASE WHEN qn.qnorm
        |          * sqrt(((((((n0 + n1) + n2) + n3) + n4) + n5) + n6) + n7) = 0 THEN 0.0
        |        ELSE (((((((s0 + s1) + s2) + s3) + s4) + s5) + s6) + s7)
        |          / (qn.qnorm * sqrt(((((((n0 + n1) + n2) + n3) + n4) + n5) + n6) + n7)) END DESC,
        |        sc.neighbor_id) AS INTEGER) AS rnk
        |  FROM sc JOIN qn ON qn.query_id = sc.query_id
        |  WHERE sc.neighbor_id <> sc.query_id) WHERE rnk <= 10""".stripMargin,
    "q44_stratified_sample" ->
      """SELECT lang, COUNT(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |  CASE lang WHEN 'en' THEN '2000' WHEN 'de' THEN 'c000'
        |            WHEN 'fr' THEN 'c000' ELSE '6000' END
        |GROUP BY 1 ORDER BY lang""".stripMargin,
    "q45_interval_join" ->
      """WITH v AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
        |           FROM events WHERE event_type = 'view' AND user_id IS NOT NULL),
        |c AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
        |      FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
        |p AS (SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
        |      FROM v JOIN c ON v.user_id = c.user_id
        |        AND c.us >= v.us AND c.us <= v.us + 600000000)
        |SELECT user_id, COUNT(*) AS n_pairs,
        |  CAST(SUM(view_id + click_id) AS BIGINT) AS id_sum
        |FROM p GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q46_nation_revenue" ->
      """SELECT n.n_name, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100 + 0.5)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE c.c_nationkey = s.s_nationkey
        |GROUP BY 1 ORDER BY revenue_cents DESC, n_name""".stripMargin,
    "q47_below_avg_quantity" ->
      """WITH pa AS (
        |  SELECT l_partkey AS pk,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS avg_q
        |  FROM lineitem GROUP BY 1)
        |SELECT COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM lineitem l JOIN pa ON l.l_partkey = pa.pk
        |WHERE l.l_quantity < 0.2 * pa.avg_q""".stripMargin,
    "q50_disjunctive_filter" ->
      """SELECT COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100 + 0.5)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE ((p.p_brand = 'Brand#12' AND l.l_quantity BETWEEN 1 AND 11 AND p.p_size <= 5)
        |    OR (p.p_brand = 'Brand#23' AND l.l_quantity BETWEEN 10 AND 20 AND p.p_size <= 10)
        |    OR (p.p_brand = 'Brand#34' AND l.l_quantity BETWEEN 20 AND 30 AND p.p_size <= 15))
        |  AND l.l_returnflag IN ('R', 'A')""".stripMargin,
    "q48_corpus_clean" ->
      """WITH RECURSIVE
        |d0 AS (SELECT doc_id, lang, n_chars, COALESCE(text, '') AS text
        |       FROM documents),
        |f AS (SELECT doc_id, lang, n_chars, text,
        |  CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS n_tok,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |    ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
        |      / CAST(length(text) AS DOUBLE) END AS punct,
        |  CASE WHEN trim(text) = '' THEN 0.0 ELSE
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> list_contains(['the','and','of','to','a','in','is','it','you','that'], x))) AS DOUBLE)
        |    / CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) END AS stopratio
        |  FROM d0),
        |qual AS (SELECT doc_id, lang, n_chars, text FROM f
        |  WHERE floor((least(CAST(n_tok AS DOUBLE) / 64.0, 1.0)
        |             + least(stopratio * 4.0, 1.0)
        |             + greatest(1.0 - punct * 4.0, 0.0)) / 3.0 * 1e6) / 1e6 >= 0.5),
        |ex AS (SELECT doc_id, lang, n_chars, text FROM qual
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
        |t1 AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |       FROM ex WHERE trim(text) <> ''),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |         generate_series(1, greatest(len(t) - 2, 1)),
        |         i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM t1),
        |mh AS (SELECT s.doc_id, r.seed,
        |         MIN(md5(CAST(r.seed AS VARCHAR) || ':' || u.sv)) AS m
        |       FROM sh s, UNNEST(s.shingles) AS u(sv), range(8) AS r(seed)
        |       GROUP BY s.doc_id, r.seed),
        |bk AS (SELECT doc_id, seed // 2 AS band,
        |         string_agg(m, '|' ORDER BY seed) AS bkey
        |       FROM mh GROUP BY doc_id, seed // 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bk a JOIN bk b
        |           ON a.band = b.band AND a.bkey = b.bkey
        |           AND a.doc_id < b.doc_id),
        |p AS (SELECT c.id_a, c.id_b FROM cand c
        |      JOIN sh sa ON sa.doc_id = c.id_a
        |      JOIN sh sb ON sb.doc_id = c.id_b
        |      WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
        |            CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE)
        |              >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
        |comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
        |surv AS (SELECT e.doc_id, e.lang, e.n_chars FROM ex e
        |         LEFT JOIN comp c ON e.doc_id = c.id
        |         WHERE c.id IS NULL OR c.comp = e.doc_id),
        |samp AS (SELECT * FROM surv
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |    CASE lang WHEN 'en' THEN '8000' ELSE 'g' END)
        |SELECT lang, COUNT(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM samp GROUP BY 1 ORDER BY lang""".stripMargin,
    // q96: generated from Redaction.piiRules (engine and oracle share
    // the pattern list)
    "q96_pii_redaction" -> q96OracleSql,
    // q97: positional 3-gram 60-bit hashes, sliding MIN over w=4, distinct
    // per doc, docfreq-capped self-join on the fingerprint
    "q97_winnowing_pairs" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |           FROM documents WHERE trim(COALESCE(text, '')) <> ''),
        |g AS (SELECT doc_id, CAST(u.i AS INTEGER) AS pos,
        |        CAST(('0x' || substr(md5(array_to_string(
        |          t[CAST(u.i AS INTEGER):CAST(u.i + 2 AS INTEGER)], ' ')), 1, 15))::UBIGINT
        |          AS BIGINT) AS h
        |      FROM d, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
        |      WHERE len(t) >= 3),
        |m AS (SELECT doc_id, MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp FROM g),
        |f AS (SELECT DISTINCT doc_id, fp FROM m),
        |kept AS (SELECT fp FROM f GROUP BY fp HAVING COUNT(*) <= 100),
        |fk AS (SELECT f.doc_id, f.fp FROM f JOIN kept USING (fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        |FROM fk a JOIN fk b USING (fp)
        |WHERE a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q98: the k=64 smallest distinct 60-bit hashes per group via
    // ROW_NUMBER over DISTINCT; estimate in HUGEINT ((k−1)·2⁶⁰ // h_k)
    // mirroring the engine's DECIMAL div
    "q98_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT event_type AS grp,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT
        |      AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (SELECT grp, h,
        |        ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn,
        |        COUNT(*) OVER (PARTITION BY grp) AS nd
        |      FROM h)
        |SELECT grp, CAST(LEAST(MAX(nd), 64) AS BIGINT) AS n_kept,
        |  MAX(CASE WHEN rn = LEAST(nd, 64) THEN h END) AS kth_hash,
        |  CASE WHEN MAX(nd) < 64 THEN CAST(MAX(nd) AS BIGINT)
        |    ELSE CAST((CAST(63 AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT))
        |      // CAST(MAX(CASE WHEN rn = 64 THEN h END) AS HUGEINT) AS BIGINT) END
        |    AS est_distinct
        |FROM r GROUP BY grp ORDER BY grp""".stripMargin,
    // q99: generated 32-term Morton key (same unrolled loop as the engine)
    "q99_zorder_layout" -> q99OracleSql,
    // q113: 3-dim Morton key, generated from the same i·d+j bit loop
    // (l_quantity is integral-valued double, so Spark's truncating cast
    // and DuckDB's rounding cast agree)
    "q113_zorder_3d" -> q113OracleSql,
    // q100: the batch form of the streaming interval join — inner
    // stream-stream joins reproduce it exactly on a bounded replay
    "q100_stream_stream_join" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
        |           FROM events WHERE user_id IS NOT NULL),
        |a AS (SELECT user_id, event_id AS first_id, us FROM e
        |      WHERE event_type = 'view'),
        |b AS (SELECT user_id, event_id AS then_id, us AS cus FROM e
        |      WHERE event_type = 'click')
        |SELECT a.user_id AS user_id, a.first_id, b.then_id
        |FROM a JOIN b ON a.user_id = b.user_id
        |  AND b.cus >= a.us AND b.cus <= a.us + 600000000
        |ORDER BY a.user_id, first_id, then_id""".stripMargin,
    // q101: generated from SparkEntry.q101Rules (engine and oracle share the table)
    "q101_bpe_encode" -> q101OracleSql,
    // q102: the batch form of the stream-static enrichment — left join
    // to the same literal dimension, hourly rollup by category
    "q102_stream_static_enrich" ->
      """WITH dim(event_type, category) AS (VALUES
        |  ('view', 'engagement'), ('click', 'engagement'),
        |  ('signup', 'acquisition'), ('purchase', 'commerce'),
        |  ('error', 'ops'))
        |SELECT CAST(epoch(date_trunc('hour', e.ts)) AS BIGINT) AS hour,
        |  dim.category, COUNT(*) AS events
        |FROM events e LEFT JOIN dim USING (event_type)
        |GROUP BY 1, 2 ORDER BY hour, category""".stripMargin,
    // q103: batch LEFT join — the sentinel-advanced watermark decides
    // every real row, so unmatched views emit their NULL exactly once
    "q103_stream_outer_join" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
        |           FROM events WHERE user_id IS NOT NULL),
        |a AS (SELECT user_id, event_id AS first_id, us FROM e
        |      WHERE event_type = 'view'),
        |b AS (SELECT user_id, event_id AS then_id, us AS cus FROM e
        |      WHERE event_type = 'click')
        |SELECT a.user_id AS user_id, a.first_id, b.then_id
        |FROM a LEFT JOIN b ON a.user_id = b.user_id
        |  AND b.cus >= a.us AND b.cus <= a.us + 600000000
        |ORDER BY a.user_id, first_id, then_id""".stripMargin,
    // q104: the standing rollup after the full replay = the batch rollup
    "q104_incremental_rollup" ->
      """SELECT event_type, COUNT(*) AS events,
        |  CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS value_cents
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    // q105: char slices = byte slices (fixture text is pure ASCII —
    // verified octet_length = length); generate_series stride 4
    // q105: the oracle slices CHARS while the engine slices BYTES — only
    // equivalent on ASCII text, so the frame_md5 expression guards
    // strlen = length (byte length = char length) per row, in the output
    // expression where the optimizer cannot prune it: a non-ASCII fixture
    // fails with a message instead of a silent hash mismatch
    "q105_frame_sample" ->
      """WITH f AS (SELECT doc_id, text, length(text) // 64 AS nf
        |           FROM documents WHERE text IS NOT NULL AND length(text) >= 64)
        |SELECT f.doc_id AS id, CAST(u.i AS BIGINT) AS frame_idx,
        |  CAST(u.i * 64 AS BIGINT) AS byte_from,
        |  CAST(u.i * 64 + 64 AS BIGINT) AS byte_to,
        |  md5(CASE WHEN strlen(f.text) = length(f.text)
        |        THEN substr(f.text, CAST(u.i * 64 + 1 AS INTEGER), 64)
        |        ELSE error('q105 oracle requires ASCII text (char slice <> byte slice): doc ' || f.doc_id) END)
        |    AS frame_md5
        |FROM f, UNNEST(generate_series(0, nf - 1, 4)) AS u(i)
        |ORDER BY id, frame_idx""".stripMargin,
    // q106: same (hash60(doc) + pos) % stride arithmetic; string_agg
    // skips the NULL interior-masked tokens, ORDER BY pos pins the order
    "q106_span_corruption" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |           FROM documents WHERE trim(COALESCE(text, '')) <> ''),
        |tok AS (SELECT doc_id, u.i - 1 AS pos, t[u.i] AS word,
        |          (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
        |             AS BIGINT) + (u.i - 1)) % 16 AS m
        |        FROM d, UNNEST(generate_series(1, len(t))) AS u(i)),
        |e AS (SELECT doc_id, pos,
        |        CASE WHEN m >= 3 THEN word
        |             WHEN m = 0 OR pos = 0 THEN '<extra_id>' END AS out,
        |        CASE WHEN m < 3 THEN 1 ELSE 0 END AS masked,
        |        CASE WHEN m = 0 OR (pos = 0 AND m < 3) THEN 1 ELSE 0 END AS span
        |      FROM tok)
        |SELECT doc_id, COUNT(*) AS n_tok,
        |  CAST(SUM(masked) AS BIGINT) AS n_masked,
        |  CAST(SUM(span) AS BIGINT) AS n_spans,
        |  md5(string_agg(out, ' ' ORDER BY pos)) AS masked_md5
        |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q107: len(bin(n)) = bit length on both engines (the q92 idiom)
    "q107_unigram_surprisal" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |           FROM documents WHERE trim(COALESCE(text, '')) <> ''),
        |tok AS (SELECT doc_id, t[u.i] AS word
        |        FROM d, UNNEST(generate_series(1, len(t))) AS u(i)),
        |f AS (SELECT word, COUNT(*) AS fr FROM tok GROUP BY 1),
        |n AS (SELECT SUM(fr) AS tot FROM f),
        |sc AS (SELECT f.word,
        |         CAST(len(bin(n.tot)) - len(bin(f.fr)) AS BIGINT) AS bits
        |       FROM f, n)
        |SELECT tok.doc_id, COUNT(*) AS n_tok,
        |  CAST(SUM(sc.bits) AS BIGINT) AS bits,
        |  CAST((SUM(sc.bits) * 100) // COUNT(*) AS BIGINT) AS bits_per_tok_x100
        |FROM tok JOIN sc USING (word)
        |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin,
    // q108: same rank + modular-offset arithmetic; rank via the plain
    // window (oracle-side only — the engine shards it)
    "q108_modular_negatives" ->
      """WITH r AS (SELECT doc_id AS id, lang AS stratum,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY lang) AS s
        |  FROM documents),
        |p AS (SELECT id, stratum, rk, s, CAST(u.j AS BIGINT) AS j
        |      FROM r, UNNEST(generate_series(1, 3)) AS u(j)),
        |n AS (SELECT id, stratum, j,
        |        ((rk - 1 + (j * s) // 4) % s) + 1 AS nrank
        |      FROM p)
        |SELECT n.id, n.stratum, n.j, r2.id AS neg_id
        |FROM n JOIN r r2 ON r2.stratum = n.stratum AND r2.rk = n.nrank
        |WHERE r2.id <> n.id
        |ORDER BY n.stratum, n.id, n.j""".stripMargin,
    // q109: q48's banding CTEs split new/index by the id-hash prefix;
    // new-vs-index match, survivor self-pairs, recursive components,
    // admitted = unmatched survivor that is its component's min (or
    // unpaired)
    "q109_incremental_admit" -> incrementalAdmitSql("TRUE"),
    // q139: q120's artifact probe AFTER deleteFromAnnIndex tombstoned
    // vec_id % 10 = 7 (replayed twice — idempotent): the oracle is the
    // index rebuilt WITHOUT those rows under the same frozen quantizer —
    // centroids and cell assignments are build-time state, so only the
    // candidate set shrinks
    "q139_index_delete_probe" ->
      ivfFlatRetrievalSql("(c.vec_id % 10) <> 7"),
    // q140: q109's incremental admission AFTER deleteFromNearDupIndex
    // tombstoned standing doc_id % 5 = 2 (replayed twice): the index
    // side of the probe loses those docs — a new doc whose only matches
    // were deleted now admits — while the survivor self-dedup among new
    // docs is untouched
    "q140_neardup_delete_admit" ->
      incrementalAdmitSql("(o.doc_id % 5) <> 2"),
    // q110: chunk count 1 + ceil(max(0, n−32)/24); DuckDB list slice is
    // 1-based inclusive, so chunk i spans t[i*24+1 : min(i*24+32, n)]
    "q110_overlapping_chunks" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |           FROM documents WHERE trim(COALESCE(text, '')) <> ''),
        |c AS (SELECT doc_id, t, len(t) AS n,
        |        (greatest(len(t) - 32, 0) + 23) // 24 AS last
        |      FROM d)
        |SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_id,
        |  CAST(u.i * 24 AS BIGINT) AS tok_from,
        |  CAST(least(u.i * 24 + 32, n) AS BIGINT) AS tok_to,
        |  CAST(least(u.i * 24 + 32, n) - u.i * 24 AS BIGINT) AS n_tok,
        |  md5(array_to_string(
        |    t[CAST(u.i * 24 + 1 AS INTEGER):CAST(least(u.i * 24 + 32, n) AS INTEGER)],
        |    ' ')) AS chunk_md5
        |FROM c, UNNEST(generate_series(0, last)) AS u(i)
        |ORDER BY doc_id, chunk_id""".stripMargin,
    // q111: the DIRECT whole-group KMV (q98's oracle) — the engine's
    // sharded+merged sketch must equal it bit-for-bit (mergeability law)
    "q111_kmv_merged_shards" ->
      """WITH h AS (SELECT DISTINCT event_type AS grp,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT
        |      AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (SELECT grp, h,
        |        ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn,
        |        COUNT(*) OVER (PARTITION BY grp) AS nd
        |      FROM h)
        |SELECT grp, CAST(LEAST(MAX(nd), 64) AS BIGINT) AS n_kept,
        |  MAX(CASE WHEN rn = LEAST(nd, 64) THEN h END) AS kth_hash,
        |  CASE WHEN MAX(nd) < 64 THEN CAST(MAX(nd) AS BIGINT)
        |    ELSE CAST((CAST(63 AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT))
        |      // CAST(MAX(CASE WHEN rn = 64 THEN h END) AS HUGEINT) AS BIGINT) END
        |    AS est_distinct
        |FROM r GROUP BY grp ORDER BY grp""".stripMargin,
    // q112: q48's clean chain (through samp, carrying text) feeding q71's
    // pack CTEs and q91's interleave CTE, joined per surviving doc
    "q112_clean_pack_interleave" ->
      """WITH RECURSIVE
        |d0 AS (SELECT doc_id, lang, n_chars, COALESCE(text, '') AS text
        |       FROM documents),
        |f AS (SELECT doc_id, lang, n_chars, text,
        |  CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS n_tok,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |    ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
        |      / CAST(length(text) AS DOUBLE) END AS punct,
        |  CASE WHEN trim(text) = '' THEN 0.0 ELSE
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> list_contains(['the','and','of','to','a','in','is','it','you','that'], x))) AS DOUBLE)
        |    / CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) END AS stopratio
        |  FROM d0),
        |qual AS (SELECT doc_id, lang, n_chars, text FROM f
        |  WHERE floor((least(CAST(n_tok AS DOUBLE) / 64.0, 1.0)
        |             + least(stopratio * 4.0, 1.0)
        |             + greatest(1.0 - punct * 4.0, 0.0)) / 3.0 * 1e6) / 1e6 >= 0.5),
        |ex AS (SELECT doc_id, lang, n_chars, text FROM qual
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
        |t1 AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |       FROM ex WHERE trim(text) <> ''),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |         generate_series(1, greatest(len(t) - 2, 1)),
        |         i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM t1),
        |mh AS (SELECT s.doc_id, r.seed,
        |         MIN(md5(CAST(r.seed AS VARCHAR) || ':' || u.sv)) AS m
        |       FROM sh s, UNNEST(s.shingles) AS u(sv), range(8) AS r(seed)
        |       GROUP BY s.doc_id, r.seed),
        |bk AS (SELECT doc_id, seed // 2 AS band,
        |         string_agg(m, '|' ORDER BY seed) AS bkey
        |       FROM mh GROUP BY doc_id, seed // 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bk a JOIN bk b
        |           ON a.band = b.band AND a.bkey = b.bkey
        |           AND a.doc_id < b.doc_id),
        |p AS (SELECT c.id_a, c.id_b FROM cand c
        |      JOIN sh sa ON sa.doc_id = c.id_a
        |      JOIN sh sb ON sb.doc_id = c.id_b
        |      WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
        |            CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE)
        |              >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
        |comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
        |surv AS (SELECT e.doc_id, e.lang, e.text FROM ex e
        |         LEFT JOIN comp c ON e.doc_id = c.id
        |         WHERE c.id IS NULL OR c.comp = e.doc_id),
        |samp AS (SELECT * FROM surv
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |    CASE lang WHEN 'en' THEN '8000' ELSE 'g' END),
        |pd AS (SELECT doc_id,
        |         CASE WHEN trim(COALESCE(text, '')) = '' THEN 0
        |           ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
        |       FROM samp),
        |pf AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |        md5(CAST(doc_id AS VARCHAR)) AS key,
        |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
        |          % 4 AS BIGINT) AS shard
        |      FROM pd WHERE n_tokens > 0),
        |pc AS (SELECT doc_id, n_tokens, shard,
        |        COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY key, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |      FROM pf),
        |pt AS (SELECT shard, (SUM(n_tokens) + 511) // 512 AS nseq
        |      FROM pf GROUP BY shard),
        |pb AS (SELECT shard,
        |        COALESCE(SUM(nseq) OVER (ORDER BY shard
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
        |      FROM pt),
        |pk AS (SELECT pc.doc_id, pc.n_tokens, pc.shard,
        |        CAST(pb.base + pc.cum // 512 AS BIGINT) AS seq_id,
        |        CAST(pc.cum % 512 AS BIGINT) AS seq_off
        |      FROM pc JOIN pb USING (shard)),
        |r AS (SELECT doc_id AS id, lang AS stratum,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY lang) AS s
        |  FROM samp)
        |SELECT r.id, r.stratum, CAST(r.rk AS BIGINT) AS "rank",
        |  CAST(((2 * rk - 1) * 1000000000) // (2 * s) AS BIGINT) AS okey,
        |  pk.n_tokens, pk.shard, pk.seq_id, pk.seq_off
        |FROM r LEFT JOIN pk ON pk.doc_id = r.id
        |ORDER BY okey, stratum, "rank"""".stripMargin,
    // q117: KMV set algebra — per-type k=64 sketches (q98's CTEs), union
    // sketch per pair from sketch state only, integer intersection/union
    // estimators ((k−1)·2⁶⁰ // kth in HUGEINT, est_inter = ni·eu // nk)
    "q117_sketch_overlap" ->
      """WITH h AS (SELECT DISTINCT event_type AS grp,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT
        |      AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn
        |      FROM h),
        |sk AS (SELECT grp, h FROM r WHERE rn <= 64),
        |g AS (SELECT DISTINCT grp FROM sk),
        |pr AS (SELECT a.grp AS ga, b.grp AS gb FROM g a JOIN g b ON a.grp < b.grp),
        |uh AS (SELECT DISTINCT pr.ga, pr.gb, s.h
        |       FROM pr JOIN sk s ON s.grp = pr.ga OR s.grp = pr.gb),
        |ur AS (SELECT ga, gb, h,
        |        ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
        |      FROM uh),
        |uk AS (SELECT ga, gb, h FROM ur WHERE rn <= 64),
        |agg AS (SELECT ga, gb, COUNT(*) AS nu, MAX(h) AS kth FROM uk GROUP BY ga, gb),
        |ix AS (SELECT pr.ga, pr.gb, COUNT(*) AS ni
        |       FROM pr
        |       JOIN sk sa ON sa.grp = pr.ga
        |       JOIN sk sb ON sb.grp = pr.gb AND sb.h = sa.h
        |       JOIN agg ON agg.ga = pr.ga AND agg.gb = pr.gb
        |       WHERE sa.h <= agg.kth
        |       GROUP BY pr.ga, pr.gb),
        |est AS (SELECT agg.ga, agg.gb, agg.nu, agg.kth,
        |         COALESCE(ix.ni, 0) AS ni,
        |         CASE WHEN agg.nu < 64 THEN CAST(agg.nu AS BIGINT)
        |           ELSE CAST((CAST(63 AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT))
        |             // CAST(agg.kth AS HUGEINT) AS BIGINT) END AS eu
        |       FROM agg LEFT JOIN ix ON ix.ga = agg.ga AND ix.gb = agg.gb)
        |SELECT ga AS grp_a, gb AS grp_b,
        |  CAST(nu AS BIGINT) AS n_union_kept, kth AS union_kth,
        |  CAST(ni AS BIGINT) AS inter_topk, eu AS est_union,
        |  CAST((CAST(ni AS HUGEINT) * CAST(eu AS HUGEINT))
        |    // CAST(LEAST(nu, 64) AS HUGEINT) AS BIGINT) AS est_inter
        |FROM est ORDER BY grp_a, grp_b""".stripMargin,
    // q116: q109's admission CTEs replayed TWICE against a growing index
    // (stage 0 = standing corpus, stage 1 = first micro-batch, stage 2 =
    // second; stage 2 probes standing ∪ stage-1 admissions — the
    // fold-back invariant of the streaming ingest loop)
    "q116_streaming_admission" ->
      s"""WITH RECURSIVE ${streamingAdmissionCtes("TRUE")},
        |admitted AS (SELECT doc_id FROM adm1 UNION ALL SELECT doc_id FROM adm2)
        |SELECT doc_id FROM admitted
        |ORDER BY doc_id""".stripMargin,
    // q115: q48's banding CTEs (8 seeds, 2 rows/band, ordered string_agg
    // band keys) built per SIDE of the source split, candidates from the
    // cross-table band equi-join, exact-Jaccard verification
    "q115_fuzzy_join" ->
      """WITH dl AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |            FROM documents WHERE trim(text) <> '' AND length(source) = 4),
        |dr AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |       FROM documents WHERE trim(text) <> '' AND length(source) = 5),
        |shl AS (SELECT doc_id, list_distinct(list_transform(
        |          generate_series(1, greatest(len(t) - 2, 1)),
        |          i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM dl),
        |shr AS (SELECT doc_id, list_distinct(list_transform(
        |          generate_series(1, greatest(len(t) - 2, 1)),
        |          i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM dr),
        |mhl AS (SELECT s.doc_id, r.seed,
        |          MIN(md5(CAST(r.seed AS VARCHAR) || ':' || u.sv)) AS m
        |        FROM shl s, UNNEST(s.shingles) AS u(sv), range(8) AS r(seed)
        |        GROUP BY s.doc_id, r.seed),
        |mhr AS (SELECT s.doc_id, r.seed,
        |          MIN(md5(CAST(r.seed AS VARCHAR) || ':' || u.sv)) AS m
        |        FROM shr s, UNNEST(s.shingles) AS u(sv), range(8) AS r(seed)
        |        GROUP BY s.doc_id, r.seed),
        |bkl AS (SELECT doc_id, seed // 2 AS band,
        |          string_agg(m, '|' ORDER BY seed) AS bkey
        |        FROM mhl GROUP BY doc_id, seed // 2),
        |bkr AS (SELECT doc_id, seed // 2 AS band,
        |          string_agg(m, '|' ORDER BY seed) AS bkey
        |        FROM mhr GROUP BY doc_id, seed // 2),
        |cand AS (SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
        |         FROM bkl l JOIN bkr r
        |           ON l.band = r.band AND l.bkey = r.bkey),
        |j AS (SELECT c.left_id, c.right_id,
        |        CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE)
        |          AS jaccard
        |      FROM cand c
        |      JOIN shl sa ON sa.doc_id = c.left_id
        |      JOIN shr sb ON sb.doc_id = c.right_id)
        |SELECT left_id, right_id, jaccard FROM j WHERE jaccard >= 0.4
        |ORDER BY left_id, right_id""".stripMargin,
    // q114: q48's gate/exact-dedup/components/sample chain with the
    // minhash candidate CTEs swapped for q97's winnowing fingerprint CTEs
    "q114_clean_winnowing" ->
      """WITH RECURSIVE
        |d0 AS (SELECT doc_id, lang, n_chars, COALESCE(text, '') AS text
        |       FROM documents),
        |f AS (SELECT doc_id, lang, n_chars, text,
        |  CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS n_tok,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |    ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
        |      / CAST(length(text) AS DOUBLE) END AS punct,
        |  CASE WHEN trim(text) = '' THEN 0.0 ELSE
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> list_contains(['the','and','of','to','a','in','is','it','you','that'], x))) AS DOUBLE)
        |    / CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) END AS stopratio
        |  FROM d0),
        |qual AS (SELECT doc_id, lang, n_chars, text FROM f
        |  WHERE floor((least(CAST(n_tok AS DOUBLE) / 64.0, 1.0)
        |             + least(stopratio * 4.0, 1.0)
        |             + greatest(1.0 - punct * 4.0, 0.0)) / 3.0 * 1e6) / 1e6 >= 0.5),
        |ex AS (SELECT doc_id, lang, n_chars, text FROM qual
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
        |t1 AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |       FROM ex WHERE trim(text) <> ''),
        |g AS (SELECT doc_id, CAST(u.i AS INTEGER) AS pos,
        |        CAST(('0x' || substr(md5(array_to_string(
        |          t[CAST(u.i AS INTEGER):CAST(u.i + 2 AS INTEGER)], ' ')), 1, 15))::UBIGINT
        |          AS BIGINT) AS h
        |      FROM t1, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
        |      WHERE len(t) >= 3),
        |m AS (SELECT doc_id, MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp FROM g),
        |fd AS (SELECT DISTINCT doc_id, fp FROM m),
        |kept AS (SELECT fp FROM fd GROUP BY fp HAVING COUNT(*) <= 100),
        |fk AS (SELECT fd.doc_id, fd.fp FROM fd JOIN kept USING (fp)),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |      FROM fk a JOIN fk b USING (fp)
        |      WHERE a.doc_id < b.doc_id
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
        |comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
        |surv AS (SELECT e.doc_id, e.lang, e.n_chars FROM ex e
        |         LEFT JOIN comp c ON e.doc_id = c.id
        |         WHERE c.id IS NULL OR c.comp = e.doc_id),
        |samp AS (SELECT * FROM surv
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |    CASE lang WHEN 'en' THEN '8000' ELSE 'g' END)
        |SELECT lang, COUNT(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM samp GROUP BY 1 ORDER BY lang""".stripMargin,
    // q118: temperature mixture — all-integer threshold replay: floor-sqrt
    // weights over integer char totals, integer normalizer, HUGEINT
    // floor-division for the ppm thresholds (the exactness contract in
    // Sampling.temperatureMixture's scaladoc: no order-dependent float
    // summation anywhere)
    "q118_temperature_mix" ->
      """WITH tot AS (SELECT source AS s, CAST(SUM(n_chars) AS BIGINT) AS t
        |             FROM documents GROUP BY 1 HAVING SUM(n_chars) > 0),
        |w AS (SELECT s, t,
        |        CAST(floor(sqrt(CAST(t AS DOUBLE))) AS BIGINT) AS wt FROM tot),
        |n AS (SELECT CAST(SUM(wt) AS HUGEINT) AS norm FROM w),
        |thr AS (SELECT s, LEAST(1000000,
        |          CAST(CAST(300000 AS HUGEINT) * 1000000 * wt
        |            // (CAST(t AS HUGEINT) * norm) AS BIGINT)) AS thr
        |        FROM w, n),
        |k AS (SELECT d.source, d.n_chars
        |      FROM documents d JOIN thr ON thr.s = d.source
        |      WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::UBIGINT
        |        % 1000000 < thr.thr)
        |SELECT source, COUNT(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM k GROUP BY 1 ORDER BY source""".stripMargin,
    "q119_ann_recall" -> q119OracleSql,
    // q120: the artifact probe must equal the direct IVF-flat answer —
    // its oracle IS q49's (build→write→reload→probe ≡ compute)
    "q120_ann_index_probe" -> q49OracleSql,
    // q134: the IVF-PQ artifact probe ≡ the direct q59 computation (the
    // compressed counterpart of q120 ≡ q49) — same generated oracle
    "q134_pq_index_probe" -> q59OracleSql,
    // q137: the FULLY-TRAINED compressed serving stack — q129's Lloyd
    // rounds produce the coarse quantizer (ctr2), the PQ codes compress
    // under it, and the artifact probe ADC-ranks over the probed cells;
    // the ADC core's coarse stage is swapped from hash seeds to the
    // trained centroids, everything else identical to q59/q134
    "q137_trained_pq_probe" -> q59AdcCore(10, "ctr2", lloydRoundsCtes),
    // q141: the fully-trained compressed stack with BOTH quantizers
    // data-fitted — the coarse CTE is the shared Lloyd-round chain
    // (q129/q133/q137's) and the codebooks are the per-subspace trained
    // table, so train-coarse → train-books → compress → probe replays
    // as one SQL chain
    "q141_fully_trained_pq_probe" ->
      adcCoreBooksSql(10, "ctr2", lloydRoundsCtes,
        "pcw2", perSubspaceLloydCtes),
    // q142: the compression stack's recall as a MEASURED table — the
    // exact ground truth (q20's retrieval) folded against both IVF-PQ
    // artifact probes (hash books = q134's, trained-coarse = q137's) as
    // derived tables, q119's (variant, query_id, truth, hits) shape
    "q142_compressed_recall" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |gt AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rnk
         |  FROM e q JOIN e c ON c.vec_id <> q.vec_id WHERE q.vec_id < 5)
         |  WHERE rnk <= 10)
         |SELECT variant, query_id, truth, hits FROM (
         |SELECT 'hash' AS variant, gt.query_id,
         |  CAST(COUNT(*) AS BIGINT) AS truth,
         |  CAST(COUNT(*) FILTER (WHERE ap.neighbor_id IS NOT NULL) AS BIGINT) AS hits
         |FROM gt LEFT JOIN (
         |${q59AdcCore(10)}
         |) ap USING (query_id, neighbor_id)
         |GROUP BY 2
         |UNION ALL
         |SELECT 'trained' AS variant, gt.query_id,
         |  CAST(COUNT(*) AS BIGINT) AS truth,
         |  CAST(COUNT(*) FILTER (WHERE ap.neighbor_id IS NOT NULL) AS BIGINT) AS hits
         |FROM gt LEFT JOIN (
         |${q59AdcCore(10, "ctr2", lloydRoundsCtes)}
         |) ap USING (query_id, neighbor_id)
         |GROUP BY 2)
         |ORDER BY variant, query_id""".stripMargin,
    // q143: the dataset card folded over ONLY the streaming-admitted
    // corpus, per batch — the q116 admission chain composes with the
    // q132 card CTEs restricted to the admitted ids; streaming
    // admission + streaming card ≡ this one batch SQL
    "q143_admitted_card" ->
      s"""WITH RECURSIVE ${streamingAdmissionCtes("TRUE")},
         |admitted AS (SELECT doc_id FROM adm1 UNION ALL SELECT doc_id FROM adm2),
         |${cardCtes("documents JOIN admitted USING (doc_id)")}
         |$cardTail""".stripMargin,
    // q144: DSIR importance-resampled selection replayed in SQL —
    // hashed-n-gram bucket counts for target (lang='en') and raw (all
    // docs), add-one-smoothed log-ratio λ per bucket rounded ONCE to
    // micros (the engine's IEEE-mirrored expression tree), exact long
    // weight sums per doc, seeded Gumbel keys, deterministic top-120.
    // Feature map = q130's (unigram bag salt 0, distinct bigrams salt 1)
    "q144_dsir_selection" -> q144OracleSql,
    // q146: artifact-backed selection ≡ direct computation (the models
    // are a lossless persistence of the fit) — q144's oracle verbatim,
    // the q120 ≡ q49 discipline for the selection stack
    "q146_dsir_artifact_selection" -> q144OracleSql,
    // q150: the streamed raw-model fold is exact (additive integer
    // counts over disjoint micro-batches), so streamed-fit selection ≡
    // the one-pass batch fit — q144's oracle unchanged
    "q150_streaming_dsir_model" -> q144OracleSql,
    // q147: cluster-balanced diversity sample — q133's trained-centroid
    // assignment CTEs (ctr2 = the two quantized Lloyd rounds) give the
    // strata; the quota window is q85's md5-rank pick per cell
    "q147_cluster_balanced_sample" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |$lloydRoundsCtes,
        |asg AS (SELECT e.vec_id, c.idx,
        |          list_inner_product(e.v, e.v)
        |            - 2.0 * list_inner_product(e.v, c.cv)
        |            + list_inner_product(c.cv, c.cv) AS d
        |        FROM e CROSS JOIN ctr2 c),
        |cellf AS (SELECT vec_id, idx AS cell FROM asg
        |          QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, idx) = 1)
        |SELECT CAST(cell AS INTEGER) AS cell, vec_id, CAST(rk AS BIGINT) AS rk
        |FROM (SELECT cell, vec_id,
        |        ROW_NUMBER() OVER (PARTITION BY cell
        |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
        |      FROM cellf)
        |WHERE rk <= 10 ORDER BY cell, rk""".stripMargin,
    // q145: streaming probe ≡ batch retrieval (probing is stateless and
    // per-query independent) — q49's retrieval SQL over the streamed
    // query slice
    "q145_streaming_ann_probe" ->
      ivfFlatRetrievalSql("TRUE", "vec_id >= 5 AND vec_id < 15"),
    "q121_ann_index_append" -> q121OracleSql,
    // q138: ingest → COMPACT → probe ≡ the batch append (compaction
    // folds the streamed table without changing one probe result) —
    // same oracle as the append and streaming-ingest paths
    "q138_compacted_index_probe" -> q121OracleSql,
    // q148: the generational pointer-root lifecycle lands the same
    // admitted set as q140's plain-dir delete (publish→delete→compact→
    // prune→probe — pointer root ≡ concrete generation at every verb,
    // and the physical fold changes no probe result)
    "q148_generation_lifecycle" ->
      incrementalAdmitSql("(o.doc_id % 5) <> 2"),
    // q149: same chain on the ANN artifact — q139's oracle (the index
    // rebuilt without the deleted rows under the same frozen quantizer)
    "q149_ann_generation_lifecycle" ->
      ivfFlatRetrievalSql("(c.vec_id % 10) <> 7"),
    // q122: streaming ingest lands the same final index state as q121's
    // batch append — same oracle (streaming ≡ batch, hash-checked)
    "q122_streaming_ann_ingest" -> q121OracleSql,
    "q123_reduced_ann_recall" -> q123OracleSql,
    // q124: Count-Min heavy hitters — cells and point estimates rebuilt
    // from the same md5-salted row hashes (r || ':' || item), min over
    // the 4 rows; est_cnt >= exact_cnt is the one-sided CMS guarantee
    "q124_cms_heavy_hitters" ->
      """WITH tok AS (SELECT w FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |    FROM documents WHERE trim(text) <> '') WHERE length(w) >= 4),
        |cells AS (SELECT g.r,
        |    CAST(('0x' || substr(md5(CAST(g.r AS VARCHAR) || ':' || w), 1, 15))::UBIGINT
        |      % 256 AS BIGINT) AS c,
        |    COUNT(*) AS cnt
        |  FROM tok CROSS JOIN UNNEST([0, 1, 2, 3]) AS g(r) GROUP BY 1, 2),
        |top AS (SELECT w AS word, COUNT(*) AS exact_cnt FROM tok
        |        GROUP BY 1 ORDER BY exact_cnt DESC, word LIMIT 20),
        |est AS (SELECT t.word, MIN(cl.cnt) AS est_cnt
        |  FROM top t CROSS JOIN UNNEST([0, 1, 2, 3]) AS g(r)
        |  JOIN cells cl ON cl.r = g.r AND cl.c =
        |    CAST(('0x' || substr(md5(CAST(g.r AS VARCHAR) || ':' || t.word), 1, 15))::UBIGINT
        |      % 256 AS BIGINT)
        |  GROUP BY 1)
        |SELECT t.word, t.exact_cnt, e.est_cnt
        |FROM top t JOIN est e USING (word)
        |ORDER BY exact_cnt DESC, word""".stripMargin,
    // q125: streaming CMS ≡ batch CMS — the standing sketch merged over
    // 3 micro-batches must equal the direct batch sketch of all events
    // (CMS additivity), so the oracle computes the batch sketch and the
    // same top-10 point queries
    "q125_streaming_heavy_hitters" ->
      """WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS u FROM events
        |            WHERE user_id IS NOT NULL),
        |cells AS (SELECT g.r,
        |    CAST(('0x' || substr(md5(CAST(g.r AS VARCHAR) || ':' || u), 1, 15))::UBIGINT
        |      % 512 AS BIGINT) AS c,
        |    COUNT(*) AS cnt
        |  FROM ev CROSS JOIN UNNEST([0, 1, 2, 3]) AS g(r) GROUP BY 1, 2),
        |top AS (SELECT u AS uid, COUNT(*) AS exact_cnt FROM ev
        |        GROUP BY 1 ORDER BY exact_cnt DESC, uid LIMIT 10),
        |est AS (SELECT t.uid, MIN(cl.cnt) AS est_cnt
        |  FROM top t CROSS JOIN UNNEST([0, 1, 2, 3]) AS g(r)
        |  JOIN cells cl ON cl.r = g.r AND cl.c =
        |    CAST(('0x' || substr(md5(CAST(g.r AS VARCHAR) || ':' || t.uid), 1, 15))::UBIGINT
        |      % 512 AS BIGINT)
        |  GROUP BY 1)
        |SELECT t.uid, t.exact_cnt, e.est_cnt
        |FROM top t JOIN est e USING (uid)
        |ORDER BY exact_cnt DESC, uid""".stripMargin,
    // q126: Bloom pre-screen vs exact contamination — bit positions
    // rebuilt from the same salted md5 idiom (j || ':' || gram) % 2048;
    // a gram "maybe" matches iff all 3 positions are set (COUNT = 3
    // against the distinct position set); bloom_matched >= matched
    "q126_bloom_contamination" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |           FROM documents WHERE trim(text) <> ''),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |         generate_series(1, greatest(len(t) - 2, 1)),
        |         i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM d),
        |b AS (SELECT DISTINCT u.sv AS gram FROM sh, UNNEST(sh.shingles) AS u(sv)
        |      WHERE doc_id % 97 = 0),
        |pos AS (SELECT DISTINCT
        |    CAST(('0x' || substr(md5(CAST(g.j AS VARCHAR) || ':' || gram), 1, 15))::UBIGINT
        |      % 2048 AS BIGINT) AS p
        |  FROM b CROSS JOIN UNNEST([0, 1, 2]) AS g(j)),
        |c AS (SELECT doc_id, shingles FROM sh WHERE doc_id % 97 <> 0),
        |cg AS (SELECT doc_id, u.sv AS gram FROM c, UNNEST(c.shingles) AS u(sv)),
        |bm AS (SELECT cg.doc_id, cg.gram
        |  FROM cg CROSS JOIN UNNEST([0, 1, 2]) AS g(j)
        |  JOIN pos ON pos.p =
        |    CAST(('0x' || substr(md5(CAST(g.j AS VARCHAR) || ':' || cg.gram), 1, 15))::UBIGINT
        |      % 2048 AS BIGINT)
        |  GROUP BY 1, 2 HAVING COUNT(*) = 3),
        |bmc AS (SELECT doc_id, COUNT(*) AS bloom_matched FROM bm GROUP BY 1),
        |m AS (SELECT doc_id, COUNT(*) AS matched FROM cg
        |      WHERE gram IN (SELECT gram FROM b) GROUP BY 1)
        |SELECT c.doc_id, COALESCE(m.matched, 0) AS matched,
        |  COALESCE(bmc.bloom_matched, 0) AS bloom_matched,
        |  CAST(len(c.shingles) AS BIGINT) AS total
        |FROM c LEFT JOIN m USING (doc_id) LEFT JOIN bmc USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // q127: SemDeDup — hash-chosen centroids (q49's ctr CTE at 64),
    // argmin cell assignment, within-cell exact-cosine pairs, recursive
    // min-label closure (q43's reach pattern)
    "q127_semantic_dedup" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ctr AS (SELECT v AS cv,
        |          ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS idx
        |        FROM e
        |        QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 64),
        |asg AS (SELECT e.vec_id, e.v, c.idx,
        |          list_inner_product(e.v, e.v)
        |            - 2.0 * list_inner_product(e.v, c.cv)
        |            + list_inner_product(c.cv, c.cv) AS d
        |        FROM e CROSS JOIN ctr c),
        |cell AS (SELECT vec_id, v, idx AS cell FROM asg
        |         QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, idx) = 1),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |      FROM cell a JOIN cell b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |      WHERE CASE WHEN sqrt(list_inner_product(a.v, a.v))
        |                      * sqrt(list_inner_product(b.v, b.v)) = 0 THEN 0.0
        |            ELSE list_inner_product(a.v, b.v) /
        |              (sqrt(list_inner_product(a.v, a.v))
        |                * sqrt(list_inner_product(b.v, b.v))) END >= 0.35),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e2.src, r.r FROM edges e2 JOIN reach r ON r.id = e2.dst)
        |SELECT id, MIN(r) AS comp FROM reach GROUP BY id ORDER BY id""".stripMargin,
    "q128_streaming_semantic_admission" -> q128OracleSql,
    // q129: two chained Lloyd rounds — hash seeds (q33's ctr0), argmin
    // assignment, q56's integer-quantized means, floor-of-double-division
    // next centroids (portable where integral div truncates negatives)
    // with empty-cell seed fallback, then the second round's means
    // q131: banded recall vs exact all-pairs ground truth on the audit
    // slice — same banding CTEs as the q43 family (r=1, df<=30), truth
    // from the quadratic verified join the banding replaces
    // q132: the dataset card — q130's scoring CTEs + q98's KMV per
    // source + volume aggregates, one row per source
    "q132_dataset_card" -> q132OracleSql,
    // q135: the streaming card's final state ≡ the batch card (every
    // leg additive or KMV-mergeable) — same generated oracle
    "q135_streaming_dataset_card" -> q132OracleSql,
    // the slice bound + quota are SparkEntry's shared constants (the
    // engine's exactNPerStratum call reads the same two values) — note
    // the asymmetric edge: on a fixture where the hash gate yields fewer
    // than the quota, the engine RAISES (exactNPerStratum's
    // under-provision guard) while this LIMIT would silently return a
    // shorter sample; mirrored constants keep the two sides from
    // drifting into that divergence by edit
    "q131_dedup_recall" ->
      s"""WITH sel AS (SELECT doc_id, text FROM documents
        |       WHERE trim(text) <> ''
        |         AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '${SparkEntry.Q131PrefilterBound}'
        |       ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
        |       LIMIT ${SparkEntry.Q131AuditN}),
        |d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        |      FROM sel),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |         generate_series(1, greatest(len(t) - 2, 1)),
        |         i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM d),
        |tp AS (SELECT a.doc_id AS ia, b.doc_id AS ib
        |       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |       WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |             CAST(len(list_distinct(list_concat(a.shingles, b.shingles)))
        |               AS DOUBLE) >= 0.4),
        |mh AS (SELECT s.doc_id, r.seed,
        |         MIN(md5(CAST(r.seed AS VARCHAR) || ':' || u.sv)) AS m
        |       FROM sh s, UNNEST(s.shingles) AS u(sv), range(8) AS r(seed)
        |       GROUP BY s.doc_id, r.seed),
        |bs AS (SELECT seed, m FROM mh GROUP BY seed, m HAVING COUNT(*) <= 30),
        |cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
        |         FROM mh a JOIN mh b
        |           ON a.seed = b.seed AND a.m = b.m AND a.doc_id < b.doc_id
        |         JOIN bs ON bs.seed = a.seed AND bs.m = a.m),
        |bp AS (SELECT c.ia, c.ib FROM cand c
        |       JOIN sh sa ON sa.doc_id = c.ia
        |       JOIN sh sb ON sb.doc_id = c.ib
        |       WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
        |             CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles)))
        |               AS DOUBLE) >= 0.4)
        |SELECT (SELECT COUNT(*) FROM tp) AS truth_pairs,
        |       (SELECT COUNT(*) FROM bp) AS banded_pairs,
        |       (SELECT COUNT(*) FROM tp) - (SELECT COUNT(*) FROM bp) AS missed""".stripMargin,
    // q130: the hashed linear quality model replayed in SQL — the
    // weight vector rendered as a list literal from the SAME constant
    // the engine folds over (SparkEntry.q130Weights); unigram bag sums
    // every token instance, bigrams are distinct windows; all-integer,
    // so the model score hash-checks exactly
    "q130_model_quality_gate" -> q130OracleSql,
    // q129 reads its result off the SHARED Lloyd-round chain (sums1;
    // the chain's trailing ctr2 CTE is simply unused here) — one
    // constant feeds q129/q133/q137, so the training replay cannot
    // drift between the trainer's own check and its compositions
    "q129_kmeans_train" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |$lloydRoundsCtes
        |SELECT CAST(cell AS INTEGER) AS cell, CAST(pos0 + 1 AS INTEGER) AS pos,
        |  CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS centroid_q, n
        |FROM sums1 ORDER BY cell, pos""".stripMargin,
    // q133: train → build → probe — q129's two Lloyd-round CTEs produce
    // the trained quantizer (ctr2 = final quantized means, centroid_q /
    // 1e6 per component — exact integers under 2^53, so the division is
    // the same single IEEE op both sides), then q49's probe shape runs
    // under it; the artifact probe hash-checks against the direct
    // composition
    "q133_trained_index_probe" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |$lloydRoundsCtes,
        |asg AS (SELECT e.vec_id, e.v, c.idx,
        |          list_inner_product(e.v, e.v)
        |            - 2.0 * list_inner_product(e.v, c.cv)
        |            + list_inner_product(c.cv, c.cv) AS d
        |        FROM e CROSS JOIN ctr2 c),
        |cell AS (SELECT vec_id, v, idx AS cell FROM asg
        |         QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, idx) = 1),
        |pr AS (SELECT vec_id AS query_id, v AS qv, idx AS cell FROM asg
        |       WHERE vec_id < 5
        |       QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, idx) <= 2),
        |cand AS (SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id,
        |    CASE WHEN sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(c.v, c.v)) = 0
        |      THEN 0.0
        |      ELSE list_inner_product(p.qv, c.v) /
        |        (sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(c.v, c.v))) END AS cos
        |  FROM pr p JOIN cell c ON c.cell = p.cell AND c.vec_id <> p.query_id)
        |SELECT query_id, neighbor_id, rnk FROM (
        |  SELECT query_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk
        |  FROM cand) WHERE rnk <= 10""".stripMargin,
    // q151: the PCA co-moment pass replayed pairwise — every per-row
    // product is ONE IEEE multiply + floor to micros (identical in any
    // engine), so the aggregated longs are exact whatever the sum order
    "q151_pca_comoment" -> q151OracleSql,
    // q152: q23's MinHash replay with `source` carried through — bucket
    // ceiling grouped per (source, band), candidates joined within source
    "q152_scoped_neardup" ->
      """WITH d AS (SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS t
        |           FROM documents WHERE trim(text) <> ''),
        |sh AS (SELECT doc_id, source, list_distinct(list_transform(
        |         generate_series(1, greatest(len(t) - 2, 1)),
        |         i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM d),
        |mh AS (SELECT s.doc_id, s.source, r.seed,
        |         MIN(md5(CAST(r.seed AS VARCHAR) || ':' || u.sv)) AS m
        |       FROM sh s, UNNEST(s.shingles) AS u(sv), range(8) AS r(seed)
        |       GROUP BY s.doc_id, s.source, r.seed),
        |bs AS (SELECT source, seed, m FROM mh
        |       GROUP BY source, seed, m HAVING COUNT(*) <= 30),
        |cand AS (SELECT DISTINCT a.source, a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM mh a JOIN mh b
        |           ON a.source = b.source AND a.seed = b.seed AND a.m = b.m
        |           AND a.doc_id < b.doc_id
        |         JOIN bs ON bs.source = a.source AND bs.seed = a.seed AND bs.m = a.m),
        |j AS (SELECT c.source, c.id_a, c.id_b,
        |        CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE)
        |          AS jaccard
        |      FROM cand c
        |      JOIN sh sa ON sa.doc_id = c.id_a
        |      JOIN sh sb ON sb.doc_id = c.id_b)
        |SELECT source, id_a, id_b, jaccard FROM j WHERE jaccard >= 0.4
        |ORDER BY source, id_a, id_b""".stripMargin,
    // q153: the lifecycle report derived from the protocol's contract —
    // generation names are the publish counter, gen-1 keeps the takedown
    // batch it absorbed, the compacted gen-2 holds the pointer and no
    // tombstones; the tombstone load replays the engine's delete predicate
    "q153_artifact_describe" ->
      """WITH del AS (SELECT COUNT(*) AS n FROM documents
        |             WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
        |               AND doc_id % 5 = 2)
        |SELECT * FROM (
        |  SELECT 'pointer' AS layout, 'gen-1' AS generation,
        |         FALSE AS is_current, CAST(n AS BIGINT) AS tombstone_rows,
        |         CAST(0 AS BIGINT) AS batch_subdirs
        |  FROM del
        |  UNION ALL
        |  SELECT 'pointer', 'gen-2', TRUE, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |) ORDER BY generation""".stripMargin,
    // q154: the streamed moment fold is exact (additive integer cells
    // over disjoint batches), so the oracle is q151's one-pass SQL
    "q154_streaming_pca_moments" -> q151OracleSql,
    // q155: q152's scoped pair replay chained into the q43/q58 closure +
    // keep-best CTEs — components computed over the scoped edge set only
    "q155_scoped_dedup_survivors" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS t
        |      FROM documents WHERE trim(text) <> ''),
        |sh AS (SELECT doc_id, source, list_distinct(list_transform(
        |         generate_series(1, greatest(len(t) - 2, 1)),
        |         i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM d),
        |mh AS (SELECT s.doc_id, s.source, r.seed,
        |         MIN(md5(CAST(r.seed AS VARCHAR) || ':' || u.sv)) AS m
        |       FROM sh s, UNNEST(s.shingles) AS u(sv), range(8) AS r(seed)
        |       GROUP BY s.doc_id, s.source, r.seed),
        |bs AS (SELECT source, seed, m FROM mh
        |       GROUP BY source, seed, m HAVING COUNT(*) <= 30),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM mh a JOIN mh b
        |           ON a.source = b.source AND a.seed = b.seed AND a.m = b.m
        |           AND a.doc_id < b.doc_id
        |         JOIN bs ON bs.source = a.source AND bs.seed = a.seed AND bs.m = a.m),
        |p AS (SELECT c.id_a, c.id_b
        |      FROM cand c
        |      JOIN sh sa ON sa.doc_id = c.id_a
        |      JOIN sh sb ON sb.doc_id = c.id_b
        |      WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
        |            CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE)
        |              >= 0.4),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
        |comps AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id)
        |SELECT source, comp, keep_id, score FROM (
        |  SELECT d0.source, c.comp, d0.doc_id AS keep_id,
        |    CAST(d0.n_chars AS BIGINT) AS score,
        |    ROW_NUMBER() OVER (PARTITION BY c.comp
        |      ORDER BY d0.n_chars DESC, d0.doc_id ASC) AS rn
        |  FROM comps c JOIN documents d0 ON d0.doc_id = c.id)
        |WHERE rn = 1 ORDER BY comp""".stripMargin,
    // q156: q48's gate→exact-dedup prefix, q152/q155's scoped pair
    // replay over the gated survivors, min-id representatives, then the
    // q85 exact-quota tail per source
    "q156_scoped_corpus_selection" -> scopedSelectionSql("", ""),
    // q164: q156's selection over the DECONTAMINATED candidate set —
    // the benchmark slice (doc_id % 97 = 0) is the gram source, the
    // exact trigram screen (q53's arithmetic) drops confirmed-
    // contaminated candidates before the chain, and benchmark rows stay
    // out of selection (eval data, not training input). The engine's
    // Bloom pre-screen has no false negatives, so the exact replay IS
    // the composed output.
    "q164_decontaminated_selection" -> scopedSelectionSql(
      """braw AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS t
        |         FROM documents
        |         WHERE doc_id % 97 = 0 AND trim(COALESCE(text, '')) <> ''),
        |bg AS (SELECT DISTINCT u.sv AS gram FROM
        |        (SELECT list_distinct(list_transform(
        |           generate_series(1, greatest(len(t) - 2, 1)),
        |           i -> array_to_string(t[i:i+2], ' '))) AS shingles
        |         FROM braw) b,
        |        UNNEST(b.shingles) AS u(sv)),
        |craw AS (SELECT doc_id, list_distinct(list_transform(
        |           generate_series(1, greatest(len(t) - 2, 1)),
        |           i -> array_to_string(t[i:i+2], ' '))) AS shingles
        |         FROM (SELECT doc_id,
        |                 string_split_regex(lower(trim(text)), '\s+') AS t
        |               FROM documents
        |               WHERE doc_id % 97 <> 0
        |                 AND trim(COALESCE(text, '')) <> '')),
        |cm AS (SELECT craw.doc_id, COUNT(*) AS matched
        |       FROM craw, UNNEST(craw.shingles) AS u(sv)
        |       WHERE u.sv IN (SELECT gram FROM bg) GROUP BY 1),
        |bad AS (SELECT craw.doc_id FROM craw LEFT JOIN cm USING (doc_id)
        |        WHERE COALESCE(cm.matched, 0) * 2 >= len(craw.shingles)),
        |""".stripMargin,
      """ WHERE doc_id % 97 <> 0
        |         AND doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin),
    // q157: q116's sequential two-batch admission chain with the
    // standing side filtered to the post-fold tree — doc_id%5=2 of the
    // standing corpus was tombstoned and the tombstone-pressure fold
    // (20% load > θ=0.1) physically removed it before the first batch
    "q157_pressure_admission" ->
      s"""WITH RECURSIVE ${streamingAdmissionCtes("doc_id % 5 <> 2")},
        |admitted AS (SELECT doc_id FROM adm1 UNION ALL SELECT doc_id FROM adm2)
        |SELECT doc_id FROM admitted
        |ORDER BY doc_id""".stripMargin,
    // q158: q122's ingest-then-probe with the standing side's deleted
    // tenth (vec_id%10=7) excluded from the candidate set — the ANN
    // pressure fold physically removed those assignment rows before the
    // first batch; centroids (cell geometry) and queries are untouched
    "q158_ann_pressure_ingest" -> q121OracleSqlWith(
      "NOT (substr(md5(CAST(c.vec_id AS VARCHAR)), 1, 4) < 'cccc' " +
        "AND c.vec_id % 10 = 7)"),
    // q159: the sequential two-batch per-source quota admission is
    // exactly one global window — batch a (even new ids) lands first,
    // so the admitted order per source is (doc_id % 2, doc_id)
    "q159_streaming_quota" ->
      """SELECT source, doc_id, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY doc_id % 2, doc_id) AS rk
        |  FROM documents
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) >= 'cccc')
        |WHERE rk <= 3 ORDER BY source, rk""".stripMargin,
    // q160: the q116 admission chain's per-batch admitted sets pushed
    // through one global per-source quota window — batch a's admissions
    // (adm1) precede batch b's (adm2), doc_id-ascending within each
    "q160_dedup_quota_ingest" ->
      s"""WITH RECURSIVE ${streamingAdmissionCtes("TRUE")},
        |a1 AS (SELECT d.doc_id, d.source, 0 AS b
        |       FROM documents d JOIN adm1 USING (doc_id)),
        |a2 AS (SELECT d.doc_id, d.source, 1 AS b
        |       FROM documents d JOIN adm2 USING (doc_id)),
        |u AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
        |SELECT source, doc_id, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT source, doc_id, ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY b, doc_id) AS rk
        |  FROM u)
        |WHERE rk <= 3 ORDER BY source, rk""".stripMargin,
    // q166: q160's admitted set minus the q164-style contaminated set
    // (the screen is a per-row predicate, so per-batch screening equals
    // one global exclusion), then the same per-source quota window.
    // Candidates are the ADMITTED docs verbatim — an arriving benchmark
    // doc (doc_id % 97 = 0 in the landing) self-matches and drops.
    "q166_decontaminated_quota_ingest" ->
      s"""WITH RECURSIVE ${streamingAdmissionCtes("TRUE")},
        |a1 AS (SELECT d.doc_id, d.source, 0 AS b
        |       FROM documents d JOIN adm1 USING (doc_id)),
        |a2 AS (SELECT d.doc_id, d.source, 1 AS b
        |       FROM documents d JOIN adm2 USING (doc_id)),
        |u AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2),
        |braw AS (SELECT string_split_regex(lower(trim(text)), '\\s+') AS t
        |         FROM documents
        |         WHERE doc_id % 97 = 0 AND trim(COALESCE(text, '')) <> ''),
        |bg AS (SELECT DISTINCT uv.sv AS gram FROM
        |        (SELECT list_distinct(list_transform(
        |           generate_series(1, greatest(len(t) - 2, 1)),
        |           i -> array_to_string(t[i:i+2], ' '))) AS shingles
        |         FROM braw) bb,
        |        UNNEST(bb.shingles) AS uv(sv)),
        |craw AS (SELECT doc_id, list_distinct(list_transform(
        |           generate_series(1, greatest(len(t) - 2, 1)),
        |           i -> array_to_string(t[i:i+2], ' '))) AS shingles
        |         FROM (SELECT d.doc_id,
        |                 string_split_regex(lower(trim(d.text)), '\\s+') AS t
        |               FROM documents d JOIN u USING (doc_id)
        |               WHERE trim(COALESCE(d.text, '')) <> '')),
        |cm AS (SELECT craw.doc_id, COUNT(*) AS matched
        |       FROM craw, UNNEST(craw.shingles) AS uv(sv)
        |       WHERE uv.sv IN (SELECT gram FROM bg) GROUP BY 1),
        |bad AS (SELECT craw.doc_id FROM craw LEFT JOIN cm USING (doc_id)
        |        WHERE COALESCE(cm.matched, 0) * 2 >= len(craw.shingles))
        |SELECT source, doc_id, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT source, doc_id, ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY b, doc_id) AS rk
        |  FROM u WHERE doc_id NOT IN (SELECT doc_id FROM bad))
        |WHERE rk <= 3 ORDER BY source, rk""".stripMargin,
    // q161: a leaderboard is batch-order-invariant — the streamed board
    // equals the global per-source top-2 by (n_chars desc, doc_id asc)
    "q161_streaming_topn" ->
      """SELECT source, doc_id, CAST(n_chars AS BIGINT) AS score FROM (
        |  SELECT source, doc_id, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM documents
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) >= 'cccc')
        |WHERE rn <= 2 ORDER BY source, doc_id""".stripMargin,
    // q162: the per-source top-2 over the ADMITTED set — the admission
    // chain decides membership, the leaderboard is order-invariant
    "q162_dedup_topn_ingest" ->
      s"""WITH RECURSIVE ${streamingAdmissionCtes("TRUE")},
        |admitted AS (SELECT doc_id FROM adm1 UNION ALL SELECT doc_id FROM adm2)
        |SELECT source, doc_id, CAST(n_chars AS BIGINT) AS score FROM (
        |  SELECT d.source, d.doc_id, d.n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY d.source
        |      ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
        |  FROM documents d JOIN admitted USING (doc_id))
        |WHERE rn <= 2 ORDER BY source, doc_id""".stripMargin
  )
}
