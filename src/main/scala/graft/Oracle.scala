package graft

import graft.ops.Det.{sqlAvg2, sqlSum2}

/** DuckDB oracle SQL, one entry per oracle-checkable key in
  * `SparkEntry.queries` (SURVEY.md §2). Written against bare table names;
  * the driver registers each parquet file under its table name.
  *
  * Determinism rules applied to every statement (SURVEY.md §7.5):
  * total ORDER BY over a unique key, decimal-exact sums rounded to 2dp
  * (see [[graft.ops.Det]]), timestamps truncated/cast where derived,
  * explicit NULLS FIRST to match Spark's asc-nulls-first default.
  */
object Oracle {

  /** Shared trigram-shingle CTE chain (toks → tri0 → df-capped tri →
    * per-doc sizes), mirroring `TextOps.shingles` + `capShingleDf`; the
    * df-cap interpolates [[graft.ops.TextOps.MaxShingleDf]] so the two
    * engines cannot drift. Used by text_ngram_jaccard and
    * dedup_cluster_canonical. */
  /** Uncapped trigram shingles (toks → tri0), mirroring
    * `TextOps.shingles` — the input of the hash-based dedup family
    * (minhash / fingerprint), which runs on the raw shingle set. */
  private val Tri0Ctes =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t
                 FROM documents),
         tri0 AS (SELECT doc_id,
                        unnest(list_distinct(list_transform(
                          range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
                 FROM toks)"""

  private val NgramCtes =
    s"""$Tri0Ctes,
         tri AS (SELECT * FROM tri0 WHERE g IN (
                   SELECT g FROM tri0 GROUP BY g
                   HAVING count(*) <= ${graft.ops.TextOps.MaxShingleDf})),
         sz AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY 1)"""

  /** Shared positional-shingle maximal-run CTE chain for the exact
    * substring dedup pair, mirroring `TextOps.substringRuns`:
    * k=[[graft.ops.TextOps.SubstrShingle]]-token positional shingles →
    * occurrence cap → cross-doc position pairs → maximal same-diagonal
    * runs (rownum-difference grouping). Ends in
    * `sruns(a_id, b_id, diag, a_start, span_tokens)`. */
  private def SubstrRunCtes: String = {
    val k = graft.ops.TextOps.SubstrShingle
    s"""sd AS (SELECT doc_id, string_split(text, ' ') AS t
               FROM documents),
         ssh AS MATERIALIZED (
           SELECT doc_id, i AS pos,
                  md5(array_to_string(
                    list_slice(t, i, i + ${k - 1}), ' ')) AS fp
           FROM sd, unnest(range(1, len(t) - ${k - 2})) AS u(i)),
         scap AS (SELECT * FROM ssh WHERE fp IN (
                    SELECT fp FROM ssh GROUP BY fp
                    HAVING count(*) <= ${graft.ops.TextOps.SubstrMaxOcc})),
         spr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.pos AS pa,
                        a.pos - b.pos AS diag
                 FROM scap a JOIN scap b USING (fp)
                 WHERE a.doc_id < b.doc_id),
         srn AS (SELECT a_id, b_id, diag, pa,
                        pa - row_number() OVER (
                          PARTITION BY a_id, b_id, diag
                          ORDER BY pa) AS grp
                 FROM spr),
         sruns AS (SELECT a_id, b_id, diag,
                          CAST(min(pa) AS BIGINT) AS a_start,
                          CAST(count(*) + ${k - 1} AS BIGINT)
                            AS span_tokens
                   FROM srn GROUP BY 1, 2, 3, grp)"""
  }

  /** The engine-neutral 60-bit hash `TextOps.md5Hash60`, DuckDB side:
    * first 15 hex chars of md5 read as a BIGINT. */
  private def md5Hash60Sql(x: String): String =
    s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"

  /** 16+16-bit Morton interleave of integer columns `x`/`y`, mirroring
    * `SetOps.sortZorderCluster`'s 32 shift/mask exprs term for term. */
  private def zorderSql(x: String, y: String): String =
    (0 until 16).flatMap(i => Seq(
      s"((($x >> $i) & 1) << ${2 * i})",
      s"((($y >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")

  /** Shared random-hyperplane LSH candidate-pair CTE chain (the
    * `VectorLsh` sign matrix embedded as literals), ending in
    * `lp(a_id, b_id, cos_sim)` — the distinct banded candidates with
    * verified rounded cosine. Used by embed_pair_sim_lsh and
    * dedup_embed_cosine. */
  private lazy val LshPairCtes: String = {
    import graft.functions.VectorLsh
    val bandExprs = (0 until VectorLsh.Bands).map { k =>
      val bits = (0 until VectorLsh.RowsPerBand).map { r =>
        val b = k * VectorLsh.RowsPerBand + r
        s"(CASE WHEN list_sum(list_transform(range(1, 65), " +
          s"i -> v[i] * (${VectorLsh.signsSqlLiteral(b)})[i])) > 0 " +
          s"THEN ${1 << r} ELSE 0 END)"
      }.mkString(" + ")
      s"$bits AS band_$k"
    }.mkString(", ")
    val bandUnion = (0 until VectorLsh.Bands).map(k =>
      s"SELECT vec_id, v, nrm, $k AS band_id, band_$k AS band_val " +
        "FROM sig").mkString(" UNION ALL ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
         en AS (SELECT vec_id, v,
                       sqrt(list_sum(list_transform(range(1, 65),
                         i -> v[i] * v[i]))) AS nrm
                FROM e),
         sig AS (SELECT vec_id, v, nrm, $bandExprs FROM en),
         bands AS ($bandUnion),
         lp AS (SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id,
                  ROUND(list_sum(list_transform(range(1, 65),
                          i -> x.v[i] * y.v[i]))
                    / (x.nrm * y.nrm), 3) AS cos_sim
           FROM bands x JOIN bands y
             ON x.band_id = y.band_id AND x.band_val = y.band_val
              AND x.vec_id < y.vec_id)"""
  }

  /** Unrolled fixed-point PageRank: one CTE per iteration replaying
    * [[graft.ops.GraphOps.pagerankRounds]]' integer arithmetic at
    * w = 1 with the teleport on every vertex
    * ([[graft.ops.GraphOps.pagerankExactOn]]).
    * DuckDB `//` floors and Spark `div` truncates — identical on the
    * strictly positive ranks/degrees here; SUM(BIGINT) is HUGEINT in
    * DuckDB, hence the explicit casts back to BIGINT. */
  private def pagerankExactSql(iters: Int): String = {
    val base = s"""WITH $EdgesCte,
         ded AS (SELECT DISTINCT src, dst FROM edges),
         outdeg AS (SELECT src, count(*) AS od FROM ded GROUP BY src),
         verts AS (SELECT DISTINCT id FROM
           (SELECT src AS id FROM ded UNION SELECT dst FROM ded)),
         r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM verts)"""
    val steps = (1 to iters).map { i =>
      s""",
         r$i AS (SELECT v.id,
                   CAST(150000 + (COALESCE(m.s, 0) * 85) // 100
                     AS BIGINT) AS r
                 FROM verts v LEFT JOIN (
                   SELECT d.dst AS id, CAST(SUM(c.r // o.od) AS BIGINT) AS s
                   FROM r${i - 1} c
                   JOIN outdeg o ON c.id = o.src
                   JOIN ded d ON d.src = c.id
                   GROUP BY d.dst) m ON m.id = v.id)"""
    }.mkString
    base + steps +
      s"""
         SELECT id, r AS rank_micro FROM r$iters
         ORDER BY rank_micro DESC, id LIMIT 50"""
  }

  /** Unrolled weighted fixed-point PageRank, replaying
    * [[graft.ops.GraphOps.pagerankWeightedExactOn]], the
    * [[graft.ops.GraphOps.pagerankRounds]] core over per-(src,dst)
    * multiplicity weights: per-edge contribution `(r * w) // wt` (wt =
    * the source's out-weight, one truncation per edge, exactly Spark's
    * `div`), then the damped integer update. */
  private def pagerankWeightedExactSql(iters: Int): String = {
    val base = s"""WITH $EdgesCte,
         we AS (SELECT src, dst, count(*) AS w FROM edges
                GROUP BY src, dst),
         wout AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wt FROM we
                  GROUP BY src),
         verts AS (SELECT DISTINCT id FROM
           (SELECT src AS id FROM we UNION SELECT dst FROM we)),
         r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM verts)"""
    val steps = (1 to iters).map { i =>
      s""",
         r$i AS (SELECT v.id,
                   CAST(150000 + (COALESCE(m.s, 0) * 85) // 100
                     AS BIGINT) AS r
                 FROM verts v LEFT JOIN (
                   SELECT e.dst AS id,
                          CAST(SUM((c.r * e.w) // o.wt) AS BIGINT) AS s
                   FROM r${i - 1} c
                   JOIN wout o ON c.id = o.src
                   JOIN we e ON e.src = c.id
                   GROUP BY e.dst) m ON m.id = v.id)"""
    }.mkString
    base + steps +
      s"""
         SELECT id, r AS rank_micro FROM r$iters
         ORDER BY rank_micro DESC, id LIMIT 50"""
  }

  /** Unrolled BFS path counting, replaying
    * [[graft.ops.GraphOps.graphPathCount]]: per layer, new vertices
    * get the sum of predecessor counts; visited set = all prior
    * layers. */
  private def pathCountSql(layers: Int): String = {
    val steps = (1 to layers).map { k =>
      val visited = (0 until k)
        .map(j => s"SELECT id FROM l$j").mkString(" UNION ")
      s""",
         l$k AS (SELECT u.dst AS id, CAST(SUM(l.paths) AS BIGINT)
                   AS paths
                 FROM und u JOIN l${k - 1} l ON u.src = l.id
                 WHERE u.dst NOT IN ($visited)
                 GROUP BY u.dst)"""
    }.mkString
    val selects = (0 to layers)
      .map(k => s"SELECT id, $k AS dist, paths FROM l$k")
      .mkString(" UNION ALL ")
    s"""WITH $EdgesCte,
         ded AS (SELECT DISTINCT src, dst FROM edges),
         und AS (SELECT src, dst FROM ded
                 UNION ALL SELECT dst, src FROM ded),
         l0 AS (SELECT CAST(3000000000001 AS BIGINT) AS id,
                       CAST(1 AS BIGINT) AS paths)$steps
         $selects ORDER BY dist, id"""
  }

  /** Unrolled landmark-sampled Brandes betweenness, replaying
    * [[graft.ops.GraphOps.graphBetweenness]]: per landmark, the
    * pathCountSql forward layers (sigma = sum of predecessor sigmas)
    * then the backward dependency sweep in the same exact micro-unit
    * integer arithmetic — `(sigma_v * (1000000 + delta_w)) // sigma_w`
    * per DAG successor, summed (DuckDB `//` == Spark `div` on the
    * strictly positive sigmas). */
  private def betweennessSql(depth: Int, landmarks: Seq[Long]): String = {
    def lm(tag: String, src: Long): String = {
      val fw = (1 to depth).map { k =>
        val visited = (0 until k)
          .map(j => s"SELECT id FROM ${tag}_l$j").mkString(" UNION ")
        s""",
         ${tag}_l$k AS (SELECT u.dst AS id,
                   CAST(SUM(l.paths) AS BIGINT) AS paths
                 FROM und u JOIN ${tag}_l${k - 1} l ON u.src = l.id
                 WHERE u.dst NOT IN ($visited)
                 GROUP BY u.dst)"""
      }.mkString
      val bw = ((depth - 1) to 1 by -1).map { k =>
        s""",
         ${tag}_d$k AS (SELECT l.id,
                   CAST(COALESCE(SUM(
                     (l.paths * (1000000 + t.d)) // t.paths), 0)
                     AS BIGINT) AS d
                 FROM ${tag}_l$k l LEFT JOIN (
                   SELECT u.src AS sid, lw.paths, dw.d
                   FROM und u
                   JOIN ${tag}_l${k + 1} lw ON lw.id = u.dst
                   JOIN ${tag}_d${k + 1} dw ON dw.id = u.dst) t
                   ON t.sid = l.id
                 GROUP BY l.id)"""
      }.mkString
      s""",
         ${tag}_l0 AS (SELECT CAST($src AS BIGINT) AS id,
                       CAST(1 AS BIGINT) AS paths)$fw,
         ${tag}_d$depth AS (SELECT id, CAST(0 AS BIGINT) AS d
                            FROM ${tag}_l$depth)$bw"""
    }
    val ctes = landmarks.zipWithIndex
      .map { case (s, i) => lm(s"lm$i", s) }.mkString
    val selects = landmarks.indices.flatMap { i =>
      (1 to depth).map(k => s"SELECT id, d FROM lm${i}_d$k")
    }.mkString(" UNION ALL ")
    s"""WITH $EdgesCte,
         ded AS (SELECT DISTINCT src, dst FROM edges),
         und AS (SELECT src, dst FROM ded
                 UNION ALL SELECT dst, src FROM ded)$ctes
         SELECT id, CAST(SUM(d) AS BIGINT) AS bc_micro
         FROM ($selects) GROUP BY id
         ORDER BY bc_micro DESC, id LIMIT 50"""
  }

  /** Unrolled landmark EDGE betweenness, replaying
    * [[graft.ops.GraphOps.graphEdgeBetweenness]]: the identical
    * forward σ-layers and backward vertex deltas as [[betweennessSql]]
    * plus per-layer edge-term CTEs (σ_v·(1e6+δ_w) // σ_w for each tree
    * edge), canonicalized and summed across landmarks. */
  private def edgeBetweennessCtes(depth: Int,
      landmarks: Seq[Long]): (String, String) = {
    def lm(tag: String, src: Long): String = {
      val fw = (1 to depth).map { k =>
        val visited = (0 until k)
          .map(j => s"SELECT id FROM ${tag}_l$j").mkString(" UNION ")
        s""",
         ${tag}_l$k AS (SELECT u.dst AS id,
                   CAST(SUM(l.paths) AS BIGINT) AS paths
                 FROM und u JOIN ${tag}_l${k - 1} l ON u.src = l.id
                 WHERE u.dst NOT IN ($visited)
                 GROUP BY u.dst)"""
      }.mkString
      val bw = ((depth - 1) to 1 by -1).map { k =>
        s""",
         ${tag}_d$k AS (SELECT l.id,
                   CAST(COALESCE(SUM(
                     (l.paths * (1000000 + t.d)) // t.paths), 0)
                     AS BIGINT) AS d
                 FROM ${tag}_l$k l LEFT JOIN (
                   SELECT u.src AS sid, lw.paths, dw.d
                   FROM und u
                   JOIN ${tag}_l${k + 1} lw ON lw.id = u.dst
                   JOIN ${tag}_d${k + 1} dw ON dw.id = u.dst) t
                   ON t.sid = l.id
                 GROUP BY l.id)"""
      }.mkString
      val ew = ((depth - 1) to 0 by -1).map { k =>
        s""",
         ${tag}_e$k AS (SELECT l.id AS v, t.w,
                   CAST((l.paths * (1000000 + t.d)) // t.pw AS BIGINT)
                     AS term
                 FROM ${tag}_l$k l JOIN (
                   SELECT u.src AS sid, u.dst AS w,
                          lw.paths AS pw, dw.d
                   FROM und u
                   JOIN ${tag}_l${k + 1} lw ON lw.id = u.dst
                   JOIN ${tag}_d${k + 1} dw ON dw.id = u.dst) t
                   ON t.sid = l.id)"""
      }.mkString
      s""",
         ${tag}_l0 AS (SELECT CAST($src AS BIGINT) AS id,
                       CAST(1 AS BIGINT) AS paths)$fw,
         ${tag}_d$depth AS (SELECT id, CAST(0 AS BIGINT) AS d
                            FROM ${tag}_l$depth)$bw$ew"""
    }
    val ctes = landmarks.zipWithIndex
      .map { case (s, i) => lm(s"em$i", s) }.mkString
    val selects = landmarks.indices.flatMap { i =>
      (0 until depth).map(k => s"SELECT v, w, term FROM em${i}_e$k")
    }.mkString(" UNION ALL ")
    (ctes, selects)
  }

  private def edgeBetweennessSql(depth: Int,
      landmarks: Seq[Long]): String = {
    val (ctes, selects) = edgeBetweennessCtes(depth, landmarks)
    s"""WITH $EdgesCte,
         ded AS (SELECT DISTINCT src, dst FROM edges),
         und AS (SELECT src, dst FROM ded
                 UNION ALL SELECT dst, src FROM ded)$ctes
         SELECT least(v, w) AS a, greatest(v, w) AS b,
                CAST(SUM(term) AS BIGINT) AS ebc_micro
         FROM ($selects) GROUP BY 1, 2
         ORDER BY ebc_micro DESC, a, b LIMIT 50"""
  }

  /** Girvan–Newman cut replay for
    * [[graft.ops.GraphOps.graphGirvanNewmanCut]]: the shared
    * edge-betweenness CTEs, top-10 cut set, and the seed-component
    * closure (the bounded single-seed shape of the
    * connected-components oracle) over the full and the cut graph. */
  private def girvanNewmanSql(depth: Int,
      landmarks: Seq[Long]): String = {
    val (ctes, selects) = edgeBetweennessCtes(depth, landmarks)
    s"""WITH RECURSIVE $EdgesCte,
         ded AS (SELECT DISTINCT src, dst FROM edges),
         und AS (SELECT src, dst FROM ded
                 UNION ALL SELECT dst, src FROM ded)$ctes,
         ebc AS MATERIALIZED (
           SELECT least(v, w) AS a, greatest(v, w) AS b
           FROM (SELECT v, w, CAST(SUM(term) AS BIGINT) AS e
                 FROM ($selects) GROUP BY 1, 2
                 ORDER BY e DESC, least(v, w), greatest(v, w)
                 LIMIT 10)),
         kept AS MATERIALIZED (
           SELECT d.src, d.dst FROM ded d LEFT JOIN ebc
             ON least(d.src, d.dst) = ebc.a
             AND greatest(d.src, d.dst) = ebc.b
           WHERE ebc.a IS NULL),
         undk AS (SELECT src, dst FROM kept
                  UNION ALL SELECT dst, src FROM kept),
         compb(id) AS (
           SELECT CAST(1000000000000 AS BIGINT)
           UNION
           SELECT u.dst FROM und u JOIN compb c ON u.src = c.id),
         compa(id) AS (
           SELECT CAST(1000000000000 AS BIGINT)
           UNION
           SELECT u.dst FROM undk u JOIN compa c ON u.src = c.id)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM ebc)
                  AS n_cut_edges,
                (SELECT CAST(count(*) AS BIGINT) FROM compb)
                  AS size_before,
                (SELECT CAST(count(*) AS BIGINT) FROM compa)
                  AS size_after,
                (SELECT CAST(count(*) AS BIGINT) FROM compb)
                - (SELECT CAST(count(*) AS BIGINT) FROM compa)
                  AS detached"""
  }

  /** Unrolled landmark harmonic closeness, replaying
    * [[graft.ops.GraphOps.graphClosenessHarmonic]]: dist-only BFS
    * layers per landmark, reciprocal-distance micro-units
    * (1000000 // k) summed per vertex. */
  /** Per-landmark dist-only BFS layer CTEs (`<tag>_l0..l<depth>`) over
    * the `und` CTE — shared by the closeness and reach-profile
    * oracles. */
  private def landmarkBfsCtes(tag: String, src: Long,
      depth: Int): String = {
    val fw = (1 to depth).map { k =>
      val visited = (0 until k)
        .map(j => s"SELECT id FROM ${tag}_l$j").mkString(" UNION ")
      s""",
         ${tag}_l$k AS (SELECT DISTINCT u.dst AS id
                 FROM und u JOIN ${tag}_l${k - 1} l ON u.src = l.id
                 WHERE u.dst NOT IN ($visited))"""
    }.mkString
    s""",
         ${tag}_l0 AS (SELECT CAST($src AS BIGINT) AS id)$fw"""
  }

  private def closenessSql(depth: Int, landmarks: Seq[Long]): String = {
    val ctes = landmarks.zipWithIndex
      .map { case (s, i) => landmarkBfsCtes(s"cl$i", s, depth) }.mkString
    val selects = landmarks.indices.flatMap { i =>
      (1 to depth).map(k =>
        s"SELECT id, CAST(${1000000L / k} AS BIGINT) AS hc " +
          s"FROM cl${i}_l$k")
    }.mkString(" UNION ALL ")
    s"""WITH $EdgesCte,
         ded AS (SELECT DISTINCT src, dst FROM edges),
         und AS (SELECT src, dst FROM ded
                 UNION ALL SELECT dst, src FROM ded)$ctes
         SELECT id, CAST(SUM(hc) AS BIGINT) AS hc_micro
         FROM ($selects) GROUP BY id
         ORDER BY hc_micro DESC, id LIMIT 50"""
  }

  /** Unrolled reach profile, replaying
    * [[graft.ops.GraphOps.graphReachProfile]]: per landmark and BFS
    * depth, the count of vertices FIRST reached at that depth (same
    * dist-only layer CTEs as the closeness oracle). */
  private def reachProfileSql(depth: Int, landmarks: Seq[Long]): String = {
    val ctes = landmarks.zipWithIndex
      .map { case (s, i) => landmarkBfsCtes(s"rp$i", s, depth) }.mkString
    val selects = landmarks.zipWithIndex.flatMap { case (s, i) =>
      (1 to depth).map(k =>
        s"SELECT CAST($s AS BIGINT) AS lm, $k AS dist, " +
          s"count(*) AS n_reached FROM rp${i}_l$k")
    }.mkString(" UNION ALL ")
    s"""WITH $EdgesCte,
         ded AS (SELECT DISTINCT src, dst FROM edges),
         und AS (SELECT src, dst FROM ded
                 UNION ALL SELECT dst, src FROM ded)$ctes
         SELECT lm, CAST(dist AS INT) AS dist, n_reached
         FROM ($selects) ORDER BY lm, dist"""
  }

  /** Unrolled landmark eccentricity + diameter lower bound, replaying
    * [[graft.ops.GraphOps.graphEccentricity]] (same dist-only layer
    * CTEs as the closeness oracle): per landmark the deepest non-empty
    * layer and reached count; diameter_lb = max over landmarks. */
  private def eccentricitySql(depth: Int, landmarks: Seq[Long]): String = {
    val ctes = landmarks.zipWithIndex
      .map { case (s, i) => landmarkBfsCtes(s"ec$i", s, depth) }.mkString
    val selects = landmarks.zipWithIndex.flatMap { case (s, i) =>
      (1 to depth).map(k =>
        s"SELECT CAST($s AS BIGINT) AS lm, $k AS dist FROM ec${i}_l$k")
    }.mkString(" UNION ALL ")
    s"""WITH $EdgesCte,
         ded AS (SELECT DISTINCT src, dst FROM edges),
         und AS (SELECT src, dst FROM ded
                 UNION ALL SELECT dst, src FROM ded)$ctes,
         per AS (SELECT lm, CAST(MAX(dist) AS INT) AS ecc_bounded,
                        count(*) AS n_reached
                 FROM ($selects) GROUP BY lm),
         dm AS (SELECT MAX(ecc_bounded) AS diameter_lb FROM per)
         SELECT lm, ecc_bounded, n_reached, diameter_lb
         FROM per CROSS JOIN dm ORDER BY lm"""
  }

  /** Unrolled Borůvka MSF, replaying
    * [[graft.ops.GraphOps.graphMsfBoruvka]] round for round: per
    * round, each component's minimum incident cross edge under the
    * canonical physical-edge total order (w, min end, max end)
    * (row_number partitioned by the a-side component), forest
    * accumulated with UNION (distinct), and the
    * component relabel replayed as a recursive-CTE min-reach over the
    * picked COMPONENT pairs only — the same contracted-graph
    * contraction the Spark side delegates to minLabelComponents.
    * Converged tail rounds pick nothing and change nothing, matching
    * the Spark loop's early exit. NOTE (DuckDB 1.0.0): inside a WITH
    * RECURSIVE clause, bare UNION in a NON-recursive CTE silently
    * loses its distinct semantics (duplicates survive — minimal
    * repro: `WITH RECURSIVE r(..) .., f AS (SELECT 1 UNION SELECT 1)
    * SELECT count(*) FROM f` → 2), so every dedup here is an
    * explicit SELECT DISTINCT over UNION ALL. */
  private def msfSql: String = {
    val mod = ops.GraphOps.MsfPartMod
    val rounds = ops.GraphOps.MsfRounds
    val sup = GraphModel.SupplierOff
    val part = GraphModel.PartOff
    val roundCtes = (1 to rounds).map { r =>
      val pf = s"f${r - 1}"
      val pl = s"lab${r - 1}"
      s""",
         x$r AS MATERIALIZED (
                SELECT la.c AS ca, lb.c AS cb, und.w,
                       least(und.a, und.b) AS u,
                       greatest(und.a, und.b) AS v,
                       row_number() OVER (PARTITION BY la.c
                                          ORDER BY und.w,
                                            least(und.a, und.b),
                                            greatest(und.a, und.b))
                         AS rn
                FROM und JOIN $pl la ON la.id = und.a
                         JOIN $pl lb ON lb.id = und.b
                WHERE la.c <> lb.c),
         f$r AS MATERIALIZED (
                SELECT DISTINCT u, v, w FROM (
                  SELECT u, v, w FROM $pf
                  UNION ALL
                  SELECT u, v, w FROM x$r WHERE rn = 1)),
         cp$r AS (SELECT DISTINCT least(ca, cb) AS s, greatest(ca, cb) AS d
                  FROM x$r WHERE rn = 1),
         cu$r AS (SELECT s, d FROM cp$r UNION ALL SELECT d, s FROM cp$r),
         reach$r(s, d) AS (
           SELECT c, c FROM (SELECT DISTINCT c FROM $pl)
           UNION
           SELECT rr.s, u2.d FROM reach$r rr JOIN cu$r u2 ON u2.s = rr.d),
         cc$r AS MATERIALIZED (
                SELECT s AS oldc, min(d) AS newc FROM reach$r GROUP BY 1),
         lab$r AS MATERIALIZED (
                SELECT l.id, cc.newc AS c
                FROM $pl l JOIN cc$r cc ON cc.oldc = l.c)"""
    }.mkString
    s"""WITH RECURSIVE
         base AS (SELECT l_suppkey AS s, l_partkey AS p,
                         CAST(round(l_extendedprice * 100) AS BIGINT) AS c
                  FROM lineitem WHERE l_partkey % $mod = 0),
         ew AS MATERIALIZED (
                SELECT CAST($sup + s AS BIGINT) AS u,
                       CAST($part + p AS BIGINT) AS v, min(c) AS w
                FROM base GROUP BY 1, 2),
         und AS MATERIALIZED (
                SELECT u AS a, v AS b, w FROM ew
                UNION ALL SELECT v, u, w FROM ew),
         lab0 AS (SELECT id, id AS c FROM
                    (SELECT DISTINCT id FROM (SELECT u AS id FROM ew
                                              UNION ALL SELECT v FROM ew))),
         f0 AS (SELECT u, v, w FROM ew WHERE 1 = 0)$roundCtes
         SELECT u, v, w AS w_cents FROM f$rounds ORDER BY u, v"""
  }

  /** Contract-then-close SCC, replaying
    * [[graft.ops.GraphOps.graphScc]]: basket cycles + brand-hub
    * one-way edges; weak components of the cycle frame contracted to
    * supernodes (recursive CTE — each weak component of a union of
    * directed cycles is strongly connected), doubling closure + mutual
    * pairs on the contracted attachment graph only, labels lifted
    * back, min-member-id census of the non-singleton components. */
  /** The shared SCC WITH-body through `slab` (c → super label),
    * replaying [[graft.ops.GraphOps.sccLifted]] — used by both the
    * census ([[sccSql]]) and the condensation ([[condensationSql]]).
    * `pin` dedups via DISTINCT-over-UNION-ALL, not bare UNION (the
    * DuckDB 1.0.0 WITH RECURSIVE bug documented at [[msfSql]] —
    * duplicate pins would double att's edge multiplicities, which the
    * condensation COUNTS). */
  private def sccCommonCtes: String = {
    val mod = ops.GraphOps.SccOrderMod
    val doubling = (1 to ops.GraphOps.SccDoubleRounds).map { i =>
      s""",
         r$i AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
                   SELECT src, dst FROM r${i - 1}
                   UNION ALL
                   SELECT a.src, b.dst
                   FROM r${i - 1} a JOIN r${i - 1} b ON a.dst = b.src))"""
    }.mkString
    val rN = s"r${ops.GraphOps.SccDoubleRounds}"
    s"""WITH RECURSIVE
         b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                   FROM lineitem WHERE l_orderkey % $mod = 0),
         nxt AS (SELECT o, p,
                        lead(p) OVER (PARTITION BY o ORDER BY p) AS np,
                        min(p) OVER (PARTITION BY o) AS fp FROM b),
         cyc AS MATERIALIZED (
                 SELECT DISTINCT p AS src, COALESCE(np, fp) AS dst
                 FROM nxt WHERE COALESCE(np, fp) <> p),
         pin AS (SELECT DISTINCT p FROM (SELECT src AS p FROM cyc
                                         UNION ALL SELECT dst FROM cyc)),
         wb AS (SELECT pin.p, pr.p_brand
                FROM pin JOIN part pr ON pr.p_partkey = pin.p),
         hub AS (SELECT p_brand, min(p) AS hub FROM wb GROUP BY 1),
         att AS (SELECT h.hub AS src, w.p AS dst
                 FROM wb w JOIN hub h ON h.p_brand = w.p_brand
                 WHERE h.hub <> w.p),
         undc AS (SELECT src AS a, dst AS b FROM cyc
                  UNION ALL SELECT dst, src FROM cyc),
         reach(src, dst) AS (
           SELECT p, p FROM pin
           UNION
           SELECT r.src, u.b FROM reach r JOIN undc u ON u.a = r.dst),
         comp AS MATERIALIZED (
                 SELECT src AS p, min(dst) AS c FROM reach GROUP BY src),
         r0 AS MATERIALIZED (
                 SELECT DISTINCT ch.c AS src, cm.c AS dst
                 FROM att JOIN comp ch ON ch.p = att.src
                          JOIN comp cm ON cm.p = att.dst
                 WHERE ch.c <> cm.c)$doubling,
         mutual AS (SELECT f.src AS u, f.dst AS v
                    FROM $rN f JOIN $rN g
                      ON f.src = g.dst AND f.dst = g.src),
         slab AS (SELECT u AS c, min(v) AS sc FROM (
                    SELECT u, v FROM mutual
                    UNION ALL SELECT DISTINCT c, c FROM comp) GROUP BY u)"""
  }

  private def sccSql: String =
    sccCommonCtes + s"""
         SELECT min(comp.p) AS scc_id, count(*) AS n_members
         FROM comp JOIN slab ON slab.c = comp.c
         GROUP BY slab.sc HAVING count(*) >= 2
         ORDER BY n_members DESC, scc_id"""

  /** Condensation DAG on top of the shared SCC chain, replaying
    * [[graft.ops.GraphOps.graphCondensation]]: per-part scc label =
    * min member id of its super label, original edges (cyc ∪ att,
    * multiplicity kept) mapped through the labels, cross-SCC counted. */
  private def condensationSql: String =
    sccCommonCtes + s""",
         lab AS (SELECT comp.p, slab.sc
                 FROM comp JOIN slab ON slab.c = comp.c),
         nodes AS (SELECT sc, min(p) AS scc_id, count(*) AS n_members
                   FROM lab GROUP BY sc),
         idlab AS (SELECT lab.p, nodes.scc_id
                   FROM lab JOIN nodes USING (sc)),
         alledges AS (SELECT src, dst FROM cyc
                      UNION ALL SELECT src, dst FROM att),
         adj AS (SELECT a.scc_id AS ssrc, b.scc_id AS sdst,
                        count(*) AS ne
                 FROM alledges e JOIN idlab a ON a.p = e.src
                                 JOIN idlab b ON b.p = e.dst
                 WHERE a.scc_id <> b.scc_id
                 GROUP BY 1, 2)
         SELECT scc_id, n_members, sdst AS succ_scc,
                CAST(COALESCE(ne, 0) AS BIGINT) AS n_edges
         FROM nodes LEFT JOIN adj ON scc_id = ssrc
         ORDER BY scc_id, succ_scc NULLS FIRST"""

  /** Topological layers of the condensation DAG, replaying
    * [[graft.ops.GraphOps.graphCondensationLayers]]: the shared SCC
    * chain, the DEDUPLICATED condensation adjacency, then bounded
    * max-plus rounds (layer = longest condensation path from a
    * source). */
  private def condensationLayersSql(rounds: Int): String = {
    val steps = (1 to rounds).map { k =>
      s""",
         cl$k AS MATERIALIZED (SELECT scc_id, max(l) AS l FROM (
                   SELECT scc_id, l FROM cl${k - 1}
                   UNION ALL
                   SELECT d.sdst, x.l + 1
                   FROM dadj d JOIN cl${k - 1} x ON x.scc_id = d.ssrc)
                 GROUP BY scc_id)"""
    }.mkString
    sccCommonCtes + s""",
         lab AS (SELECT comp.p, slab.sc
                 FROM comp JOIN slab ON slab.c = comp.c),
         nodes AS MATERIALIZED (
                   SELECT sc, min(p) AS scc_id, count(*) AS n_members
                   FROM lab GROUP BY sc),
         idlab AS MATERIALIZED (
                   SELECT lab.p, nodes.scc_id
                   FROM lab JOIN nodes USING (sc)),
         alledges AS (SELECT src, dst FROM cyc
                      UNION ALL SELECT src, dst FROM att),
         dadj AS MATERIALIZED (
                 SELECT DISTINCT a.scc_id AS ssrc, b.scc_id AS sdst
                 FROM alledges e JOIN idlab a ON a.p = e.src
                                 JOIN idlab b ON b.p = e.dst
                 WHERE a.scc_id <> b.scc_id),
         cl0 AS (SELECT scc_id, 0 AS l FROM nodes)$steps
         SELECT n.scc_id, n.n_members, CAST(c.l AS INT) AS layer
         FROM nodes n JOIN cl$rounds c USING (scc_id)
         ORDER BY n.scc_id"""
  }

  /** Unrolled within-horizon mean BFS distance per landmark, replaying
    * [[graft.ops.GraphOps.graphAvgPathLength]] (same dist-only layer
    * CTEs as the closeness oracle). */
  private def avgPathSql(depth: Int, landmarks: Seq[Long]): String = {
    val ctes = landmarks.zipWithIndex
      .map { case (s, i) => landmarkBfsCtes(s"ap$i", s, depth) }.mkString
    val selects = landmarks.zipWithIndex.flatMap { case (s, i) =>
      (1 to depth).map(k =>
        s"SELECT CAST($s AS BIGINT) AS lm, " +
          s"CAST($k AS BIGINT) AS dist FROM ap${i}_l$k")
    }.mkString(" UNION ALL ")
    s"""WITH $EdgesCte,
         ded AS (SELECT DISTINCT src, dst FROM edges),
         und AS (SELECT src, dst FROM ded
                 UNION ALL SELECT dst, src FROM ded)$ctes
         SELECT lm, count(*) AS n_reached,
                CAST(SUM(dist) AS BIGINT) AS sum_dist,
                CAST((1000000 * CAST(SUM(dist) AS BIGINT)) // count(*)
                  AS BIGINT) AS mean_micro
         FROM ($selects) GROUP BY lm ORDER BY lm"""
  }

  /** Unrolled k-truss peel, replaying
    * [[graft.ops.GraphXAlgos.graphKtruss]]: per round, edge support
    * from the canonical triangle enumeration credited to all three
    * sides, sub-(k−2) edges dropped, census emitted. */
  private def ktrussSql(k: Int, rounds: Int): String = {
    val base =
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                    FROM lineitem),
         ranked AS (SELECT ok, pk, row_number() OVER (
                      PARTITION BY ok ORDER BY pk) AS rn FROM li),
         capped AS (SELECT ok, pk FROM ranked WHERE rn <= 32),
         e0 AS MATERIALIZED (SELECT DISTINCT a.pk AS src, b.pk AS dst
                FROM capped a JOIN capped b
                  ON a.ok = b.ok AND a.pk < b.pk)"""
    // each round references the previous round's CTEs 3+ times;
    // without MATERIALIZED, DuckDB re-inlines the whole chain per
    // reference (3^rounds plan blowup → OOM at sf0.01)
    val steps = (1 to rounds).map { r =>
      s""",
         t$r AS MATERIALIZED (
                 SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
                 FROM e${r - 1} e1
                 JOIN e${r - 1} e2 ON e1.src = e2.src
                   AND e1.dst < e2.dst
                 JOIN e${r - 1} e3 ON e3.src = e1.dst
                   AND e3.dst = e2.dst),
         sup$r AS MATERIALIZED (
                   SELECT src, dst, count(*) AS sup FROM (
                     SELECT x AS src, y AS dst FROM t$r
                     UNION ALL SELECT x, z FROM t$r
                     UNION ALL SELECT y, z FROM t$r) GROUP BY 1, 2),
         sc$r AS MATERIALIZED (
                  SELECT e.src, e.dst, COALESCE(s.sup, 0) AS sup
                  FROM e${r - 1} e LEFT JOIN sup$r s
                    ON s.src = e.src AND s.dst = e.dst),
         e$r AS MATERIALIZED (
                 SELECT src, dst FROM sc$r WHERE sup >= ${k - 2}),
         st$r AS (SELECT $r AS round,
                         count(*) FILTER (sup < ${k - 2}) AS n_removed,
                         count(*) FILTER (sup >= ${k - 2})
                           AS n_remaining
                  FROM sc$r)"""
    }.mkString
    val selects = (1 to rounds)
      .map(r => s"SELECT * FROM st$r").mkString(" UNION ALL ")
    base + steps + s"""
         SELECT round, n_removed, n_remaining FROM ($selects)
         ORDER BY round"""
  }

  /** Unrolled k-core peeling, replaying
    * [[graft.ops.GraphOps.graphKcore]]: per round, degrees over the
    * remaining subgraph, sub-k vertices dropped, edges restricted to
    * survivors; output is the per-round peel census. */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s""",
         d$r AS MATERIALIZED (
                 SELECT v.id, COALESCE(dd.d, 0) AS d
                 FROM v${r - 1} v LEFT JOIN (
                   SELECT src AS id, count(*) AS d FROM e${r - 1}
                   GROUP BY src) dd ON dd.id = v.id),
         v$r AS MATERIALIZED (SELECT id FROM d$r WHERE d >= $k),
         e$r AS MATERIALIZED (
                 SELECT e.src, e.dst FROM e${r - 1} e
                 JOIN v$r a ON e.src = a.id
                 JOIN v$r b ON e.dst = b.id),
         s$r AS (SELECT $r AS round,
                        count(*) FILTER (d < $k) AS n_removed,
                        count(*) FILTER (d >= $k) AS n_remaining
                 FROM d$r)"""
    }.mkString
    val selects = (1 to rounds)
      .map(r => s"SELECT * FROM s$r").mkString(" UNION ALL ")
    s"""WITH $EdgesCte,
         ded AS (SELECT DISTINCT src, dst FROM edges),
         e0 AS MATERIALIZED (SELECT src, dst FROM ded
                UNION ALL SELECT dst, src FROM ded),
         v0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM e0)$steps
         SELECT round, n_removed, n_remaining FROM ($selects)
         ORDER BY round"""
  }

  /** Unrolled h-index coreness iteration, replaying
    * [[graft.ops.GraphOps.corenessOn]]: per round, each vertex takes
    * the H-index of its neighbors' values (rank the neighbor values
    * descending, H = max over i of min(i, v_i)), clamped nonincreasing
    * from the degree. */
  private def corenessSql(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s""",
         h$r AS (SELECT src, max(LEAST(rn, cn)) AS h FROM (
                   SELECT e.src, c.c AS cn,
                          row_number() OVER (PARTITION BY e.src
                                             ORDER BY c.c DESC) AS rn
                   FROM e0 e JOIN c${r - 1} c ON c.id = e.dst)
                 GROUP BY src),
         c$r AS MATERIALIZED (
                 SELECT c.id, LEAST(c.c, COALESCE(h.h, 0)) AS c
                 FROM c${r - 1} c LEFT JOIN h$r h ON h.src = c.id)"""
    }.mkString
    s"""WITH $EdgesCte,
         ded AS (SELECT DISTINCT src, dst FROM edges),
         e0 AS MATERIALIZED (SELECT src, dst FROM ded
                UNION ALL SELECT dst, src FROM ded),
         c0 AS MATERIALIZED (
                 SELECT src AS id, count(*) AS c FROM e0
                 GROUP BY src)$steps
         SELECT id, c AS coreness FROM c$rounds ORDER BY id"""
  }

  /** Deterministic random walks, replaying
    * [[graft.ops.GraphOps.graphRandomWalk]]: per step, argmin of the
    * engine-neutral md5Hash60 over (walk id, step, candidate), dst
    * tie-break. */
  private def randomWalkSql(steps: Int): String = {
    def stepCte(t: Int, fromExpr: String) = {
      val key = s"CAST(walk_id AS VARCHAR) || ':$t:' || " +
        "CAST(d.dst AS VARCHAR)"
      s"""s$t AS (SELECT walk_id, dst AS v$t FROM (
             SELECT f.walk_id AS walk_id, d.dst,
                    row_number() OVER (PARTITION BY f.walk_id
                      ORDER BY ${md5Hash60Sql(key)}, d.dst) AS rn
             FROM $fromExpr JOIN ded d ON d.src = f.cur) t
           WHERE rn = 1)"""
    }
    val chain = (1 to steps).map { t =>
      val from =
        if (t == 1) "(SELECT walk_id, walk_id AS cur FROM starts) f"
        else s"(SELECT walk_id, v${t - 1} AS cur FROM s${t - 1}) f"
      stepCte(t, from)
    }.mkString(",\n         ")
    val joins = (1 to steps)
      .map(t => s"LEFT JOIN s$t USING (walk_id)").mkString(" ")
    val cols = (1 to steps).map(t => s"v$t").mkString(", ")
    s"""WITH $EdgesCte,
         ded AS (SELECT DISTINCT src, dst FROM edges),
         starts AS (SELECT DISTINCT 6000000000000 + o_orderkey
                      AS walk_id FROM orders),
         $chain
         SELECT walk_id, $cols FROM starts $joins
         ORDER BY walk_id"""
  }

  /** Unrolled node2vec biased walk CTE chain, replaying
    * [[graft.ops.GraphOps.graphNode2vecWalk]]: step 1 uniform
    * min-hash, later steps the cumulative-weight draw over
    * (return/adjacent/far) milli classes. Ends in
    * `walks(walk_id, v1..vN)`; shared by the walk key and the
    * walk-embedding key. */
  private def node2vecWalkCtes(steps: Int): String = {
    def biasedCte(t: Int, fromExpr: String) = {
      val key = s"CAST(c.walk_id AS VARCHAR) || ':$t'"
      s"""s$t AS MATERIALIZED (
           SELECT walk_id, dst AS v$t FROM (
             SELECT c.walk_id, c.dst, c.w,
                    sum(c.w) OVER (PARTITION BY c.walk_id
                      ORDER BY c.dst) AS cum,
                    sum(c.w) OVER (PARTITION BY c.walk_id) AS tw,
                    ${md5Hash60Sql(key)} AS h
             FROM (SELECT f.walk_id, f.prev, d.dst,
                          CASE WHEN d.dst = f.prev
                                 THEN ${graft.ops.GraphOps.N2vReturnW}
                               WHEN a.is_adj IS NOT NULL
                                 THEN ${graft.ops.GraphOps.N2vNeighborW}
                               ELSE ${graft.ops.GraphOps.N2vFarW}
                          END AS w
                   FROM $fromExpr JOIN ded d ON d.src = f.cur
                   LEFT JOIN (SELECT src AS prev, dst, 1 AS is_adj
                              FROM ded) a
                     ON a.prev = f.prev AND a.dst = d.dst) c) x
           WHERE cum - w <= h % tw AND h % tw < cum)"""
    }
    val s1key = "CAST(walk_id AS VARCHAR) || ':1:' || " +
      "CAST(d.dst AS VARCHAR)"
    val s1 =
      s"""s1 AS MATERIALIZED (
           SELECT walk_id, walk_id AS prev, dst AS v1 FROM (
             SELECT f.walk_id AS walk_id, d.dst,
                    row_number() OVER (PARTITION BY f.walk_id
                      ORDER BY ${md5Hash60Sql(s1key)}, d.dst) AS rn
             FROM (SELECT walk_id, walk_id AS cur FROM starts) f
             JOIN ded d ON d.src = f.cur) t
           WHERE rn = 1)"""
    val later = (2 to steps).map { t =>
      val from =
        if (t == 2)
          "(SELECT walk_id, walk_id AS prev, v1 AS cur FROM s1) f"
        else
          s"""(SELECT s1.walk_id, s${t - 2}.v${t - 2} AS prev,
                s${t - 1}.v${t - 1} AS cur
               FROM s1 JOIN s${t - 1} USING (walk_id)
               ${if (t - 2 >= 2) s"JOIN s${t - 2} USING (walk_id)"
                 else ""}) f"""
      biasedCte(t, from)
    }.mkString(",\n         ")
    val joins = (1 to steps)
      .map(t => s"LEFT JOIN (SELECT walk_id, v$t FROM s$t) t$t" +
        " USING (walk_id)").mkString(" ")
    val cols = (1 to steps).map(t => s"v$t").mkString(", ")
    s"""$EdgesCte,
         ded AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
         starts AS (SELECT DISTINCT 6000000000000 + o_orderkey
                      AS walk_id FROM orders),
         $s1,
         $later,
         walks AS (SELECT walk_id, $cols FROM starts $joins)"""
  }

  /** Full node2vec walk statement (walk table, ordered). */
  private def node2vecWalkSql(steps: Int): String =
    s"""WITH ${node2vecWalkCtes(steps)}
         SELECT walk_id, ${(1 to steps).map(t => s"v$t").mkString(", ")}
         FROM walks ORDER BY walk_id"""

  /** Walks → vectors, replaying [[graft.ops.VectorOps.graphWalkEmbed]]:
    * skip-gram pairs (window ±2) over the walk table, the exact
    * integer rational association score
    * score_micro = (1e6·nvc·t) // (nv·nc) kept where the lift ratio
    * exceeds 1, signed md5-parity random projection to
    * [[graft.ops.VectorOps.WalkEmbedDims]] dims. No transcendental on
    * the hashed surface — HUGEINT arithmetic matches Spark's
    * DECIMAL(38,0) `div` exactly (all operands positive, so floor
    * and truncating division agree). */
  private def walkEmbedSql(steps: Int): String = {
    val dimExprs = (0 until graft.ops.VectorOps.WalkEmbedDims).map { j =>
      val key = s"'graft-rp:' || CAST(c AS VARCHAR) || ':$j'"
      s"CAST(sum(CASE WHEN ${md5Hash60Sql(key)} % 2 = 0 " +
        s"THEN score_micro ELSE -score_micro END) AS BIGINT)" +
        s" AS d${"%02d".format(j)}"
    }.mkString(",\n                ")
    val seq = (1 to steps).map(t => s"v$t").mkString(", ")
    s"""WITH ${node2vecWalkCtes(steps)},
         wseq AS (SELECT [walk_id, $seq] AS s FROM walks),
         pr0 AS MATERIALIZED (
           SELECT s[i] AS a, s[j] AS b
           FROM wseq, unnest(range(1, ${steps + 2})) u(i),
                unnest(range(1, ${steps + 2})) w(j)
           WHERE j > i AND j <= i + 2
             AND s[i] IS NOT NULL AND s[j] IS NOT NULL),
         pc AS (SELECT a AS v, b AS c FROM pr0
                UNION ALL SELECT b, a FROM pr0),
         nvc AS MATERIALIZED (
           SELECT v, c, count(*) AS nvc FROM pc GROUP BY 1, 2),
         nv AS (SELECT v, sum(nvc) AS nv FROM nvc GROUP BY 1),
         ncx AS (SELECT c, sum(nvc) AS nc FROM nvc GROUP BY 1),
         tt AS (SELECT sum(nvc) AS t FROM nvc),
         sc AS (SELECT v, c,
                       (CAST(nvc AS HUGEINT) * 1000000 * t)
                         // (CAST(nv AS HUGEINT) * nc) AS score_micro
                FROM nvc JOIN nv USING (v) JOIN ncx USING (c)
                CROSS JOIN tt)
         SELECT v AS id,
                $dimExprs
         FROM sc WHERE score_micro > 1000000 GROUP BY v ORDER BY id"""
  }

  /** Unrolled exact-integer HITS, replaying
    * [[graft.ops.GraphOps.hitsExactOn]]: hub⁰ = 1, per round
    * auth = Σ in-hub then hub = Σ out-auth, no normalization (the
    * float-free variant that makes HITS oracle-able). */
  private def hitsExactSql(iters: Int): String = {
    val base = s"""WITH $EdgesCte,
         ded AS (SELECT DISTINCT src, dst FROM edges),
         verts AS (SELECT DISTINCT id FROM
           (SELECT src AS id FROM ded UNION SELECT dst FROM ded)),
         h0 AS (SELECT id, CAST(1 AS BIGINT) AS h FROM verts)"""
    val steps = (1 to iters).map { i =>
      s""",
         a$i AS (SELECT v.id, CAST(COALESCE(m.s, 0) AS BIGINT) AS a
                 FROM verts v LEFT JOIN (
                   SELECT d.dst AS id, SUM(c.h) AS s
                   FROM h${i - 1} c JOIN ded d ON d.src = c.id
                   GROUP BY d.dst) m ON m.id = v.id),
         h$i AS (SELECT v.id, CAST(COALESCE(m.s, 0) AS BIGINT) AS h
                 FROM verts v LEFT JOIN (
                   SELECT d.src AS id, SUM(c.a) AS s
                   FROM a$i c JOIN ded d ON d.dst = c.id
                   GROUP BY d.src) m ON m.id = v.id)"""
    }.mkString
    base + steps +
      s"""
         SELECT a.id, a.a AS auth, h.h AS hub
         FROM a$iters a JOIN h$iters h ON a.id = h.id
         ORDER BY auth DESC, a.id LIMIT 50"""
  }

  /** Unrolled Lloyd k-means ANN, replaying
    * [[graft.ops.VectorOps.embedAnnKmeans]]: deterministic init (8
    * smallest vec_ids), per-iteration argmax assignment on the ROUNDED
    * cosine (tie → smallest cid) + decimal-exact mean update with
    * empty-cluster carry-forward, then nprobe=2 bucket choice and
    * brute force within the probed buckets. The two cosine float
    * shapes mirror the Spark side: `cosine()` = dot/sqrt(prod) for
    * assignment + bucket choice, dot/(sqrt·sqrt) for the final
    * similarity. */
  private def kmDot(a: String, b: String) =
    s"list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i]))"
  private def kmCos(a: String, b: String) =
    s"${kmDot(a, b)} / sqrt(${kmDot(a, a)} * ${kmDot(b, b)})"

  /** Argmax-rounded-cosine assignment CTE against centroid table
    * `cents` (min-cid tie-break) — the SQL replay of
    * `VectorOps.assignToCentroids`, parameterized on the input rows. */
  private def kmAssignCte(name: String, cents: String,
      from: String = "e"): String =
    s"""$name AS (SELECT vec_id, v, cid FROM (
           SELECT $from.vec_id, $from.v, $cents.cid,
                  row_number() OVER (PARTITION BY $from.vec_id
                    ORDER BY ROUND(${kmCos(s"$from.v", s"$cents.c")}, 6) DESC,
                             $cents.cid) AS rk
           FROM $from, $cents) t WHERE rk = 1)"""

  /** Shared unrolled Lloyd training chain replaying
    * `VectorOps.kmeansQuantizer` (deterministic seed, decimal-exact
    * means, empty-cluster carry-forward), ending in codebook CTE
    * `c<iters>`. Used by the ann-kmeans/persisted and delta-assign
    * oracles. */
  private def kmeansTrainCtes(k: Int, iters: Int): String = {
    val base = s"""WITH e AS (SELECT vec_id,
                    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT)
                  AS cid, v AS c
                FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $k) s)"""
    val steps = (1 to iters).map { i =>
      s""",
         ${kmAssignCte(s"a$i", s"c${i - 1}")},
         u$i AS (SELECT cid, list(m ORDER BY pos) AS c FROM (
                   SELECT cid, i AS pos,
                          CAST(SUM(CAST(v[i] AS DECIMAL(27,10)))
                            AS DOUBLE) / COUNT(*) AS m
                   FROM a$i, range(1, 65) r(i) GROUP BY cid, i) t
                 GROUP BY cid),
         c$i AS (SELECT c${i - 1}.cid, COALESCE(u$i.c, c${i - 1}.c) AS c
                 FROM c${i - 1} LEFT JOIN u$i ON u$i.cid = c${i - 1}.cid)"""
    }.mkString
    base + steps
  }

  private def annKmeansSql(k: Int, iters: Int): String = {
    def dot = kmDot _
    def cos = kmCos _
    def assign(name: String, cents: String) = kmAssignCte(name, cents)
    kmeansTrainCtes(k, iters) + s""",
         probe AS (SELECT v AS pv FROM e WHERE vec_id = 0),
         bk AS (SELECT cid FROM (
                  SELECT c$iters.cid,
                         ROUND(${cos(s"c$iters.c", "pv")}, 6) AS csim
                  FROM c$iters, probe) t
                ORDER BY csim DESC, cid LIMIT 2),
         ${assign("af", s"c$iters")}
         SELECT vec_id, cid, cos_sim FROM (
           SELECT af.vec_id, af.cid,
                  ROUND(${dot("af.v", "pv")}
                    / (sqrt(${dot("af.v", "af.v")})
                     * sqrt(${dot("pv", "pv")})), 4) AS cos_sim
           FROM af JOIN bk USING (cid), probe) t
         ORDER BY cos_sim DESC, vec_id LIMIT 10"""
  }

  /** Per-round Lloyd convergence trace, replaying
    * [[graft.ops.VectorOps.embedKmeansConvergence]]: the shared
    * training chain plus a sim-KEEPING assignment CTE per round
    * (identical argmax/tie-break, the rounded cosine retained), mean
    * cohesion via the silhouette decimal-mean device, moved counts by
    * joining consecutive assignments. */
  private def kmeansConvergenceSql(k: Int, iters: Int): String = {
    val assigns = (1 to iters).map { i =>
      s""",
         s$i AS (SELECT vec_id, cid, sim FROM (
           SELECT e.vec_id, c${i - 1}.cid,
                  ROUND(${kmCos("e.v", s"c${i - 1}.c")}, 6) AS sim,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY ROUND(${kmCos("e.v", s"c${i - 1}.c")}, 6)
                      DESC, c${i - 1}.cid) AS rk
           FROM e, c${i - 1}) t WHERE rk = 1),
         m$i AS (SELECT CAST($i AS BIGINT) AS round,
                  CAST(count(*) AS BIGINT) AS n_vectors,
                  ROUND(CAST(SUM(CAST(sim AS DECIMAL(27,10)))
                      AS DOUBLE) / COUNT(*) + 1e-9, 6) AS mean_cos
                 FROM s$i)"""
    }.mkString
    val rows = (1 to iters).map { i =>
      val moved =
        if (i == 1) "CAST(NULL AS BIGINT)"
        else s"""(SELECT CAST(SUM(CASE WHEN s$i.cid <> s${i - 1}.cid
                   THEN 1 ELSE 0 END) AS BIGINT)
                  FROM s$i JOIN s${i - 1} USING (vec_id))"""
      s"SELECT round, n_vectors, mean_cos, $moved AS n_moved FROM m$i"
    }.mkString("\n         UNION ALL ")
    kmeansTrainCtes(k, iters) + assigns +
      s"\n         $rows\n         ORDER BY round"
  }

  /** Centroid-based silhouette on top of the unrolled Lloyd chain,
    * replaying [[graft.ops.VectorOps.embedSilhouette]]: rounded-cosine
    * distances to all k trained centroids ranked per vector
    * (sim DESC, cid tie-break), a = own (rank 1), b = nearest other
    * (rank 2), s = (b − a)/max(a, b) rounded 6dp, decimal-exact mean
    * per cluster. */
  private def silhouetteSql(k: Int, iters: Int): String =
    kmeansTrainCtes(k, iters) + s""",
         sims AS (SELECT e.vec_id, c$iters.cid,
                         ROUND(${kmCos("e.v", s"c$iters.c")}, 6) AS sim,
                         row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY ROUND(${kmCos("e.v", s"c$iters.c")},
                                          6) DESC,
                                    c$iters.cid) AS rn
                  FROM e, c$iters),
         own AS (SELECT vec_id, cid, 1 - sim AS a FROM sims WHERE rn = 1),
         sec AS (SELECT vec_id, 1 - sim AS b FROM sims WHERE rn = 2),
         s AS (SELECT own.vec_id, own.cid,
                      CASE WHEN greatest(a, b) = 0 THEN 0.0
                           ELSE ROUND((b - a) / greatest(a, b), 6)
                      END AS sil
               FROM own JOIN sec USING (vec_id))
         SELECT cid, count(*) AS n_members,
                ROUND(CAST(SUM(CAST(sil AS DECIMAL(27,10))) AS DOUBLE)
                  / COUNT(*) + 1e-9, 6) AS mean_silhouette
         FROM s GROUP BY cid ORDER BY cid"""

  /** Unrolled product quantization, replaying
    * [[graft.ops.VectorOps.embedQuantizePq]] subspace for subspace:
    * deterministic seed (K smallest vec_ids), rounded sequential-sum
    * L2² assignment with smallest-cid tie-break, one decimal-exact
    * Lloyd update with empty-cluster carry-forward, final codes +
    * decimal-summed reconstruction error. */
  private def pqD2Sql(subDim: Int)(a: String, b: String) =
    s"""ROUND(list_sum(list_transform(range(1, ${subDim + 1}),
          i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), 6)"""

  /** Shared PQ CTE chain (subspaces → seed codebook → one Lloyd round
    * → final assignment a1 against the trained codebook c1), used by
    * both the quantize and the ADC-search oracles. */
  private def pqCtes(m: Int, k: Int): String = {
    val subDim = 64 / m
    val d2 = pqD2Sql(subDim) _
    def assign(name: String, cents: String) =
      s"""$name AS (SELECT vec_id, sub, subv, dist, cid FROM (
             SELECT s.vec_id, s.sub, s.subv, c.cid,
                    ${d2("s.subv", "c.centroid")} AS dist,
                    row_number() OVER (PARTITION BY s.vec_id, s.sub
                      ORDER BY ${d2("s.subv", "c.centroid")}, c.cid)
                      AS rn
             FROM subs s JOIN $cents c ON s.sub = c.sub) t
           WHERE rn = 1)"""
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
         subs AS (SELECT vec_id, sub,
                         list_transform(range(1, ${subDim + 1}),
                           i -> v[sub * $subDim + i]) AS subv
                  FROM e, range(0, $m) r(sub)),
         seeds AS (SELECT vec_id,
                     CAST(row_number() OVER (ORDER BY vec_id) AS INT)
                       AS cid
                   FROM (SELECT vec_id FROM e
                         ORDER BY vec_id LIMIT $k) t),
         c0 AS (SELECT sub, cid, subv AS centroid
                FROM subs JOIN seeds USING (vec_id)),
         ${assign("a0", "c0")},
         u0 AS (SELECT sub, cid, list(m ORDER BY pos) AS centroid
                FROM (
                  SELECT sub, cid, i AS pos,
                         CAST(SUM(CAST(subv[i] AS DECIMAL(27,10)))
                           AS DOUBLE) / COUNT(*) AS m
                  FROM a0, range(1, ${subDim + 1}) r(i)
                  GROUP BY sub, cid, i) t
                GROUP BY sub, cid),
         c1 AS (SELECT c0.sub, c0.cid,
                       COALESCE(u0.centroid, c0.centroid) AS centroid
                FROM c0 LEFT JOIN u0
                  ON u0.sub = c0.sub AND u0.cid = c0.cid),
         ${assign("a1", "c1")}"""
  }

  /** Unrolled IVF-PQ, replaying
    * [[graft.ops.VectorOps.embedIvfPqSearch]]: the shared kmeans
    * coarse chain (c3) + full-corpus assignment, residual vectors,
    * a residual-prefixed PQ chain (seed → one Lloyd round → final
    * codes), nprobe=2 cells, per-cell query-residual ADC tables, and
    * the decimal-summed lookup distances. */
  private def ivfPqSearchSql(k: Int, iters: Int, m: Int,
      pk: Int): String = {
    val subDim = 64 / m
    val d2 = pqD2Sql(subDim) _
    def rAssign(name: String, cents: String) =
      s"""$name AS (SELECT vec_id, sub, subv, dist, cid FROM (
             SELECT s.vec_id, s.sub, s.subv, c.cid,
                    ${d2("s.subv", "c.centroid")} AS dist,
                    row_number() OVER (PARTITION BY s.vec_id, s.sub
                      ORDER BY ${d2("s.subv", "c.centroid")}, c.cid)
                      AS rn
             FROM rsubs s JOIN $cents c ON s.sub = c.sub) t
           WHERE rn = 1)"""
    kmeansTrainCtes(k, iters) + s""",
         ${kmAssignCte("kasg", s"c$iters")},
         res AS (SELECT a.vec_id,
                        list_transform(range(1, 65),
                          i -> a.v[i] - c$iters.c[i]) AS v
                 FROM kasg a JOIN c$iters ON a.cid = c$iters.cid),
         rsubs AS (SELECT vec_id, sub,
                          list_transform(range(1, ${subDim + 1}),
                            i -> v[sub * $subDim + i]) AS subv
                   FROM res, range(0, $m) r(sub)),
         rseeds AS (SELECT vec_id,
                      CAST(row_number() OVER (ORDER BY vec_id) AS INT)
                        AS cid
                    FROM (SELECT vec_id FROM res
                          ORDER BY vec_id LIMIT $pk) t),
         rc0 AS (SELECT sub, cid, subv AS centroid
                 FROM rsubs JOIN rseeds USING (vec_id)),
         ${rAssign("ra0", "rc0")},
         ru0 AS (SELECT sub, cid, list(m ORDER BY pos) AS centroid
                 FROM (
                   SELECT sub, cid, i AS pos,
                          CAST(SUM(CAST(subv[i] AS DECIMAL(27,10)))
                            AS DOUBLE) / COUNT(*) AS m
                   FROM ra0, range(1, ${subDim + 1}) r(i)
                   GROUP BY sub, cid, i) t
                 GROUP BY sub, cid),
         rc1 AS (SELECT rc0.sub, rc0.cid,
                        COALESCE(ru0.centroid, rc0.centroid) AS centroid
                 FROM rc0 LEFT JOIN ru0
                   ON ru0.sub = rc0.sub AND ru0.cid = rc0.cid),
         ${rAssign("ra1", "rc1")},
         probe AS (SELECT v AS pv FROM e WHERE vec_id = 0),
         bk AS (SELECT cid AS cell FROM (
                  SELECT c$iters.cid,
                         ROUND(${kmCos(s"c$iters.c", "pv")}, 6) AS csim
                  FROM c$iters, probe) t
                ORDER BY csim DESC, cid LIMIT 2),
         qsub AS (SELECT bk.cell, sub,
                         list_transform(range(1, ${subDim + 1}),
                           i -> pv[sub * $subDim + i]
                                - c$iters.c[sub * $subDim + i]) AS qsubv
                  FROM bk, c$iters, probe, range(0, $m) r(sub)
                  WHERE c$iters.cid = bk.cell),
         lut AS (SELECT q.cell, q.sub, c.cid AS code,
                        ${d2("q.qsubv", "c.centroid")} AS d
                 FROM qsub q JOIN rc1 c ON c.sub = q.sub),
         members AS (SELECT kasg.vec_id, kasg.cid AS cell
                     FROM kasg JOIN bk ON bk.cell = kasg.cid)
         SELECT m2.vec_id, m2.cell,
                CAST(SUM(CAST(l.d AS DECIMAL(18,6))) AS DOUBLE)
                  AS adc_dist
         FROM ra1 a
         JOIN members m2 ON m2.vec_id = a.vec_id
         JOIN lut l ON l.cell = m2.cell AND l.sub = a.sub
                   AND l.code = a.cid
         GROUP BY m2.vec_id, m2.cell
         ORDER BY adc_dist, m2.vec_id LIMIT 10"""
  }

  private def quantizePqSql(m: Int, k: Int): String =
    s"""WITH ${pqCtes(m, k)}
         SELECT vec_id,
                string_agg(CAST(cid AS VARCHAR), '' ORDER BY sub)
                  AS code,
                CAST(SUM(CAST(dist AS DECIMAL(18,6))) AS DOUBLE)
                  AS recon_err
         FROM a1 GROUP BY vec_id ORDER BY vec_id"""

  /** ADC search over the PQ codes, replaying
    * [[graft.ops.VectorOps.embedSearchPqAdc]]: probe distance table
    * (M×K rounded L2² entries) summed decimal-exactly through each
    * vector's code. */
  private def searchPqAdcSql(m: Int, k: Int): String =
    s"""WITH ${pqCtes(m, k)},
         probe AS (SELECT sub, subv AS psubv FROM subs WHERE vec_id = 0),
         dtable AS (SELECT c.sub, c.cid,
                           ${pqD2Sql(64 / m)("p.psubv", "c.centroid")}
                             AS d
                    FROM c1 c JOIN probe p ON p.sub = c.sub)
         SELECT vec_id,
                CAST(SUM(CAST(d AS DECIMAL(18,6))) AS DOUBLE)
                  AS adc_dist
         FROM a1 JOIN dtable USING (sub, cid)
         GROUP BY vec_id ORDER BY adc_dist, vec_id LIMIT 10"""

  /** Unrolled personalized PageRank: same integer iteration as
    * [[pagerankExactSql]] with the teleport term restricted to the
    * BUILDING-customer source set (replaying
    * [[graft.ops.GraphOps.pagerankPersonalizedOn]], the
    * [[graft.ops.GraphOps.pagerankRounds]] core at w = 1). */
  private def pagerankPersonalizedSql(iters: Int): String = {
    val base = s"""WITH $EdgesCte,
         ded AS (SELECT DISTINCT src, dst FROM edges),
         outdeg AS (SELECT src, count(*) AS od FROM ded GROUP BY src),
         verts AS (SELECT DISTINCT id FROM
           (SELECT src AS id FROM ded UNION SELECT dst FROM ded)),
         srcs AS (SELECT DISTINCT 3000000000000 + c_custkey AS id
                  FROM customer WHERE c_mktsegment = 'BUILDING'),
         vt AS (SELECT v.id,
                       CAST(CASE WHEN s.id IS NOT NULL THEN 150000
                            ELSE 0 END AS BIGINT) AS tp
                FROM verts v LEFT JOIN srcs s ON s.id = v.id),
         r0 AS (SELECT id, CAST(CASE WHEN tp > 0 THEN 1000000
                  ELSE 0 END AS BIGINT) AS r FROM vt)"""
    val steps = (1 to iters).map { i =>
      s""",
         r$i AS (SELECT v.id,
                   CAST(v.tp + (COALESCE(m.s, 0) * 85) // 100
                     AS BIGINT) AS r
                 FROM vt v LEFT JOIN (
                   SELECT d.dst AS id, CAST(SUM(c.r // o.od) AS BIGINT) AS s
                   FROM r${i - 1} c
                   JOIN outdeg o ON c.id = o.src
                   JOIN ded d ON d.src = c.id
                   GROUP BY d.dst) m ON m.id = v.id)"""
    }.mkString
    base + steps +
      s"""
         SELECT id, r AS rank_micro FROM r$iters
         ORDER BY rank_micro DESC, id LIMIT 50"""
  }

  /** Unrolled deterministic label propagation mirroring
    * [[graft.ops.GraphOps.lpaExactOn]]: per round, each vertex adopts
    * its neighbors' most frequent label (row_number tie-break on
    * smallest label — the total order the Spark side uses too). */
  /** The shared LPA CTE chain (ends at `l$iters(id, label)`), reused
    * by the lpa_exact oracle and the community-stats oracle. `mat`
    * emits every CTE `AS MATERIALIZED`: DuckDB inlines plain CTEs once
    * per reference, so chains whose rounds reference the previous
    * round's CTE several times (Louvain: 4×/round over 3 rounds)
    * explode the scan tree past the fd limit — materialization
    * collapses each CTE to a single evaluation. */
  private def lpaCtes(iters: Int, mat: Boolean = false): String = {
    val M = if (mat) "MATERIALIZED " else ""
    val edges =
      if (mat) EdgesCte.replaceFirst("edges AS \\(", "edges AS MATERIALIZED (")
      else EdgesCte
    val base = s"""WITH $edges,
         ded AS $M(SELECT DISTINCT src, dst FROM edges),
         und AS $M(SELECT src AS v, dst AS n FROM ded
                 UNION ALL SELECT dst, src FROM ded),
         verts AS $M(SELECT DISTINCT id FROM
           (SELECT src AS id FROM ded UNION SELECT dst FROM ded)),
         l0 AS $M(SELECT id, id AS label FROM verts)"""
    val steps = (1 to iters).map { i =>
      s""",
         l$i AS $M(SELECT vv.id, COALESCE(p.newlab, vv.id) AS label
                 FROM verts vv LEFT JOIN (
                   SELECT v, label AS newlab FROM (
                     SELECT u.v, l.label, count(*) AS c,
                            row_number() OVER (PARTITION BY u.v
                              ORDER BY count(*) DESC, l.label) AS rk
                     FROM und u JOIN l${i - 1} l ON u.n = l.id
                     GROUP BY u.v, l.label) t
                   WHERE rk = 1) p ON p.v = vv.id)"""
    }.mkString
    base + steps
  }

  private def lpaExactSql(iters: Int): String =
    lpaCtes(iters) +
      s"""
         SELECT label, count(*) AS size FROM l$iters
         GROUP BY label ORDER BY label"""

  /** Community quality stats over the final LPA labels, replaying
    * [[graft.ops.GraphOps.graphCommunityStats]]: per community, the
    * member count, internal edges (both endpoints inside) and cut
    * edges (counted once per endpoint side). */
  private def communityStatsSql(iters: Int): String =
    // mat: the closer references l$iters three times
    lpaCtes(iters, mat = true) +
      s""",
         le AS (SELECT ls.label AS src_lab, ld.label AS dst_lab
                FROM ded
                JOIN l$iters ls ON ls.id = ded.src
                JOIN l$iters ld ON ld.id = ded.dst),
         sizes AS (SELECT label, count(*) AS size FROM l$iters
                   GROUP BY label),
         intra AS (SELECT src_lab AS label, count(*) AS n_internal
                   FROM le WHERE src_lab = dst_lab GROUP BY 1),
         cut AS (SELECT label, count(*) AS n_cut FROM (
                   SELECT src_lab AS label FROM le
                   WHERE src_lab <> dst_lab
                   UNION ALL
                   SELECT dst_lab FROM le WHERE src_lab <> dst_lab)
                 GROUP BY 1)
         SELECT s.label, s.size,
                COALESCE(i.n_internal, 0) AS n_internal,
                COALESCE(c.n_cut, 0) AS n_cut
         FROM sizes s
         LEFT JOIN intra i ON i.label = s.label
         LEFT JOIN cut c ON c.label = s.label
         ORDER BY s.label"""

  /** Canonical shortest-path witnesses, replaying
    * [[graft.ops.GraphOps.graphShortestPathTrace]]: min-hop BFS layers,
    * min-id predecessor per layered vertex, paths rebuilt root-out one
    * layer at a time. */
  private def pathTraceSql(depth: Int): String = {
    val base = s"""WITH RECURSIVE $EdgesCte,
         reach(id, hop) AS (
           SELECT CAST(1000000000000 AS BIGINT), 0
           UNION ALL
           SELECT e.src, r.hop + 1
           FROM edges e JOIN reach r ON e.dst = r.id
           WHERE r.hop < $depth
         ),
         lay AS (SELECT id, CAST(min(hop) AS INT) AS hop FROM reach
                 GROUP BY id),
         pred AS (SELECT l.id, l.hop, min(e.dst) AS pred
                  FROM lay l
                  JOIN edges e ON e.src = l.id
                  JOIN lay lp ON lp.id = e.dst AND lp.hop = l.hop - 1
                  WHERE l.hop > 0 GROUP BY l.id, l.hop),
         p0 AS (SELECT id, hop, [id] AS path FROM lay WHERE hop = 0)"""
    val steps = (1 to depth).map { i =>
      s""",
         p$i AS (SELECT pr.id, pr.hop,
                        list_prepend(pr.id, p.path) AS path
                 FROM pred pr JOIN p${i - 1} p ON pr.pred = p.id
                 WHERE pr.hop = $i)"""
    }.mkString
    val union = (0 to depth).map(i => s"SELECT * FROM p$i")
      .mkString(" UNION ALL ")
    base + steps + s"""
         SELECT id, hop,
                array_to_string(list_transform(path,
                  x -> CAST(x AS VARCHAR)), '->') AS path_str
         FROM ($union) ORDER BY hop, id"""
  }

  /** Modularity of the LPA communities, replaying
    * [[graft.ops.GraphOps.graphModularity]] in HUGEINT (the Spark side
    * uses DECIMAL(38,0) — both are exact): q_micro is the floor
    * quotient via the remainder-subtraction identity, so the adjusted
    * numerator divides exactly and `//` convention cannot matter. */
  private def modularitySql(iters: Int): String =
    lpaCtes(iters) +
      s""",
         deg AS (SELECT id, count(*) AS d FROM
                   (SELECT src AS id FROM ded
                    UNION ALL SELECT dst FROM ded)
                 GROUP BY id),
         dc AS (SELECT l.label, CAST(SUM(g.d) AS HUGEINT) AS dcv
                FROM deg g JOIN l$iters l ON l.id = g.id GROUP BY 1),
         parts AS (SELECT CAST(SUM(dcv * dcv) AS HUGEINT) AS sum_dc2,
                          count(*) AS n_communities FROM dc),
         intra AS (SELECT CAST(count(*) AS HUGEINT) AS sum_intra
                   FROM ded JOIN l$iters a ON a.id = ded.src
                   JOIN l$iters b ON b.id = ded.dst
                   WHERE a.label = b.label),
         mr AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM ded),
         nd AS (SELECT m, n_communities, sum_intra, sum_dc2,
                       1000000 * (4 * m * sum_intra - sum_dc2) AS num,
                       4 * m * m AS den
                FROM mr, parts, intra)
         SELECT CAST(m AS BIGINT) AS n_edges, n_communities,
                CAST(sum_intra AS BIGINT) AS sum_intra,
                CAST(sum_dc2 AS BIGINT) AS sum_dc2,
                CAST(CASE WHEN den = 0 THEN NULL
                  ELSE (num - ((num % den + den) % den)) // den END
                  AS BIGINT) AS q_micro
         FROM nd"""

  /** Replays [[graft.ops.GraphOps.communityMergeOn]] (the weighted
    * scorer [[graft.ops.GraphOps.communityMergeChk]] at w = 1, so e_ab,
    * d and m are counts) over the shared LPA labels: pair deltas
    * ΔQ = (4·m·e_ab − 2·d_a·d_b)/(4m²) in exact
    * micro-units (same remainder-subtraction floor division as
    * modularity), per-community best partner by (delta DESC, partner
    * ASC), mutual-best + positive-delta acceptance. */
  private def communityMergeSql(iters: Int): String =
    // mat: the closer references l$iters four times and ded three —
    // DuckDB would inline the whole LPA subtree per reference
    lpaCtes(iters, mat = true) +
      s""",
         deg AS (SELECT id, count(*) AS d FROM
                   (SELECT src AS id FROM ded
                    UNION ALL SELECT dst FROM ded)
                 GROUP BY id),
         dc AS (SELECT l.label, CAST(SUM(g.d) AS HUGEINT) AS dcv
                FROM deg g JOIN l$iters l ON l.id = g.id GROUP BY 1),
         mr AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM ded),
         prs AS (SELECT least(a.label, b.label) AS la,
                        greatest(a.label, b.label) AS lb,
                        count(*) AS e_ab
                 FROM ded JOIN l$iters a ON a.id = ded.src
                 JOIN l$iters b ON b.id = ded.dst
                 WHERE a.label <> b.label GROUP BY 1, 2),
         scored AS (SELECT la, lb, e_ab,
                      CAST(CASE WHEN den = 0 THEN NULL
                        ELSE (num - ((num % den + den) % den)) // den END
                        AS BIGINT) AS delta_micro
                    FROM (SELECT la, lb, e_ab,
                            1000000 * (4 * m * CAST(e_ab AS HUGEINT)
                              - 2 * x.dcv * y.dcv) AS num,
                            4 * m * m AS den
                          FROM prs JOIN dc x ON x.label = prs.la
                          JOIN dc y ON y.label = prs.lb
                          CROSS JOIN mr)),
         cand AS (SELECT la AS label, lb AS partner, e_ab, delta_micro
                  FROM scored
                  UNION ALL
                  SELECT lb, la, e_ab, delta_micro FROM scored),
         best AS (SELECT label, partner, e_ab, delta_micro FROM (
                    SELECT *, row_number() OVER (PARTITION BY label
                      ORDER BY delta_micro DESC, partner) AS rk
                    FROM cand) WHERE rk = 1)
         SELECT b.label, b.partner, b.e_ab, b.delta_micro,
                COALESCE(p.partner = b.label
                         AND b.delta_micro > 0, false) AS accepted
         FROM best b LEFT JOIN best p ON p.label = b.partner
         ORDER BY b.label"""

  /** Unrolled iterated Louvain replaying
    * [[graft.ops.GraphOps.louvainLabels]]: per round the
    * communityMergeSql scoring (pair ΔQ in exact micro-units,
    * per-community best partner by (delta DESC, partner ASC), mutual
    * positive acceptance) followed by the min-label contraction of the
    * accepted matching, seeded by the shared LPA chain. */
  /** Shared base for the Louvain oracles: the materialized LPA chain
    * plus degree/edge-count frames and `g0` = the seed labeling. */
  private def louvainBaseSql(iters: Int): String =
    lpaCtes(iters, mat = true) + s""",
         deg AS MATERIALIZED (SELECT id, count(*) AS d FROM
                   (SELECT src AS id FROM ded
                    UNION ALL SELECT dst FROM ded)
                 GROUP BY id),
         mr AS MATERIALIZED (SELECT CAST(count(*) AS HUGEINT) AS m
                             FROM ded),
         g0 AS MATERIALIZED (SELECT id, label FROM l$iters)"""

  /** One mutual-best merge-and-contract round: reads label CTE
    * `$prev(id, label)`, emits `$cur(id, label)`; helper CTEs are
    * namespaced by `$cur`. */
  private def louvainMergeRoundSql(prev: String, cur: String): String =
    s""",
         dc_$cur AS MATERIALIZED (
                  SELECT l.label, CAST(SUM(g.d) AS HUGEINT) AS dcv
                  FROM deg g JOIN $prev l ON l.id = g.id GROUP BY 1),
         prs_$cur AS MATERIALIZED (
                   SELECT least(a.label, b.label) AS la,
                          greatest(a.label, b.label) AS lb,
                          count(*) AS e_ab
                   FROM ded JOIN $prev a ON a.id = ded.src
                   JOIN $prev b ON b.id = ded.dst
                   WHERE a.label <> b.label GROUP BY 1, 2),
         sc_$cur AS MATERIALIZED (
                  SELECT la, lb, e_ab,
                    CAST(CASE WHEN den = 0 THEN NULL
                      ELSE (num - ((num % den + den) % den)) // den END
                      AS BIGINT) AS delta_micro
                  FROM (SELECT la, lb, e_ab,
                          1000000 * (4 * m * CAST(e_ab AS HUGEINT)
                            - 2 * x.dcv * y.dcv) AS num,
                          4 * m * m AS den
                        FROM prs_$cur JOIN dc_$cur x ON x.label = prs_$cur.la
                        JOIN dc_$cur y ON y.label = prs_$cur.lb
                        CROSS JOIN mr)),
         cd_$cur AS MATERIALIZED (
                  SELECT la AS label, lb AS partner, delta_micro
                  FROM sc_$cur
                  UNION ALL SELECT lb, la, delta_micro FROM sc_$cur),
         bs_$cur AS MATERIALIZED (
                  SELECT label, partner, delta_micro FROM (
                    SELECT *, row_number() OVER (PARTITION BY label
                      ORDER BY delta_micro DESC, partner) AS rk
                    FROM cd_$cur) WHERE rk = 1),
         ac_$cur AS MATERIALIZED (
                  SELECT b.label, least(b.label, b.partner) AS newlab
                  FROM bs_$cur b JOIN bs_$cur p ON p.label = b.partner
                  WHERE p.partner = b.label AND b.delta_micro > 0),
         $cur AS MATERIALIZED (
                 SELECT g.id, COALESCE(a.newlab, g.label) AS label
                 FROM $prev g LEFT JOIN ac_$cur a ON a.label = g.label)"""

  /** One per-node move round replaying
    * [[graft.ops.GraphOps.louvainMoveLabels]]: per vertex the best
    * positive ΔQ(i, a→b) move (ties → smallest target), accepted only
    * when it is the top (ΔQ DESC, id ASC) priority in BOTH touched
    * communities. Reads `$prev(id, label)`, emits `$cur(id, label)`. */
  private def louvainMoveRoundSql(prev: String, cur: String): String =
    s""",
         dc_$cur AS MATERIALIZED (
                  SELECT l.label, CAST(SUM(g.d) AS HUGEINT) AS dcv
                  FROM deg g JOIN $prev l ON l.id = g.id GROUP BY 1),
         nk_$cur AS MATERIALIZED (
                  SELECT u.v AS id, l.label AS nl, count(*) AS k
                  FROM und u JOIN $prev l ON l.id = u.n GROUP BY 1, 2),
         st_$cur AS MATERIALIZED (
                  SELECT g.id, g.label AS a, d.d,
                         COALESCE(o.k, 0) AS k_own
                  FROM $prev g JOIN deg d ON d.id = g.id
                  LEFT JOIN nk_$cur o ON o.id = g.id
                                     AND o.nl = g.label),
         cnd_$cur AS MATERIALIZED (
                  SELECT id, a, b,
                    CAST(CASE WHEN den = 0 THEN NULL
                      ELSE (num - ((num % den + den) % den)) // den END
                      AS BIGINT) AS delta_micro
                  FROM (SELECT s.id, s.a, n.nl AS b,
                          1000000 * (4 * m
                              * CAST(n.k - s.k_own AS HUGEINT)
                            - 2 * CAST(s.d AS HUGEINT)
                              * (db.dcv - da.dcv
                                 + CAST(s.d AS HUGEINT))) AS num,
                          4 * m * m AS den
                        FROM st_$cur s
                        JOIN nk_$cur n ON n.id = s.id AND n.nl <> s.a
                        JOIN dc_$cur da ON da.label = s.a
                        JOIN dc_$cur db ON db.label = n.nl
                        CROSS JOIN mr)),
         bt_$cur AS MATERIALIZED (
                  SELECT id, a, b, delta_micro FROM (
                    SELECT *, row_number() OVER (PARTITION BY id
                      ORDER BY delta_micro DESC, b) AS rk
                    FROM cnd_$cur)
                  WHERE rk = 1 AND delta_micro > 0),
         ex_$cur AS MATERIALIZED (
                  SELECT a AS c, id, delta_micro FROM bt_$cur
                  UNION ALL SELECT b, id, delta_micro FROM bt_$cur),
         wn_$cur AS MATERIALIZED (
                  SELECT id FROM (
                    SELECT id FROM (
                      SELECT c, id, row_number() OVER (PARTITION BY c
                        ORDER BY delta_micro DESC, id) AS rk
                      FROM ex_$cur) WHERE rk = 1)
                  GROUP BY id HAVING count(*) = 2),
         ac_$cur AS MATERIALIZED (
                  SELECT b.id, b.b FROM bt_$cur b
                  JOIN wn_$cur w ON w.id = b.id),
         $cur AS MATERIALIZED (
                 SELECT g.id, COALESCE(a.b, g.label) AS label
                 FROM $prev g LEFT JOIN ac_$cur a ON a.id = g.id)"""

  private def louvainSql(iters: Int, rounds: Int): String = {
    val steps = (1 to rounds).map(r =>
      louvainMergeRoundSql(s"g${r - 1}", s"g$r")).mkString
    louvainBaseSql(iters) + steps + s"""
         SELECT label, count(*) AS size FROM g$rounds
         GROUP BY label ORDER BY label"""
  }

  /** Leiden-style connectivity audit replaying
    * [[graft.ops.GraphOps.graphCommunityRefine]]: the shared Louvain
    * chain, within-community edges, exact components via recursive
    * min-reachable closure (bounded by community size — within-edges
    * never cross labels), per-community part census. */
  private def communityRefineSql(iters: Int, rounds: Int): String = {
    val steps = (1 to rounds).map(r =>
      louvainMergeRoundSql(s"g${r - 1}", s"g$r")).mkString
    (louvainBaseSql(iters) + steps + s""",
         win AS MATERIALIZED (
                 SELECT ded.src, ded.dst FROM ded
                 JOIN g$rounds a ON a.id = ded.src
                 JOIN g$rounds b ON b.id = ded.dst
                 WHERE a.label = b.label),
         wund AS MATERIALIZED (
                 SELECT src AS a, dst AS b FROM win
                 UNION ALL SELECT dst, src FROM win),
         reach(src, dst) AS (
           SELECT id, id FROM g$rounds
           UNION
           SELECT r.src, u.b FROM reach r JOIN wund u ON u.a = r.dst),
         parts AS MATERIALIZED (
                 SELECT src AS id, min(dst) AS cluster
                 FROM reach GROUP BY src)
         SELECT g.label, count(*) AS n_nodes,
                count(DISTINCT p.cluster) AS n_parts,
                (count(DISTINCT p.cluster) > 1) AS is_split
         FROM parts p JOIN g$rounds g ON g.id = p.id
         GROUP BY 1 ORDER BY g.label""")
      .replaceFirst("WITH ", "WITH RECURSIVE ")
  }

  /** Leiden replay of [[graft.ops.GraphOps.graphLeiden]]: the shared
    * Louvain chain, within-community components (the refine split,
    * same recursive closure as [[communityRefineSql]]), each part
    * re-seeded under its min member id, then the same unrolled
    * mutual-best merge rounds over the repaired labeling. */
  private def leidenSql(iters: Int, rounds: Int): String = {
    val steps = (1 to rounds).map(r =>
      louvainMergeRoundSql(s"g${r - 1}", s"g$r")).mkString
    val resteps = (1 to rounds).map(r =>
      louvainMergeRoundSql(s"r${r - 1}", s"r$r")).mkString
    (louvainBaseSql(iters) + steps + s""",
         win AS MATERIALIZED (
                 SELECT ded.src, ded.dst FROM ded
                 JOIN g$rounds a ON a.id = ded.src
                 JOIN g$rounds b ON b.id = ded.dst
                 WHERE a.label = b.label),
         wund AS MATERIALIZED (
                 SELECT src AS a, dst AS b FROM win
                 UNION ALL SELECT dst, src FROM win),
         reach(src, dst) AS (
           SELECT id, id FROM g$rounds
           UNION
           SELECT r.src, u.b FROM reach r JOIN wund u ON u.a = r.dst),
         r0 AS MATERIALIZED (
                 SELECT src AS id, min(dst) AS label
                 FROM reach GROUP BY src)""" + resteps + s"""
         SELECT label, count(*) AS size FROM r$rounds
         GROUP BY label ORDER BY label""")
      .replaceFirst("WITH ", "WITH RECURSIVE ")
  }

  /** Exact-integer Rand index replaying
    * [[graft.ops.GraphOps.graphPartitionAgreement]]: the shared LPA
    * chain and the unrolled Louvain merge rounds, contingency cells,
    * pair sums, floor-div micro Rand index. */
  private def partitionAgreementSql(iters: Int, rounds: Int): String = {
    val steps = (1 to rounds).map(r =>
      louvainMergeRoundSql(s"g${r - 1}", s"g$r")).mkString
    louvainBaseSql(iters) + steps + s""",
         ct AS MATERIALIZED (
                 SELECT l.id, l.label AS la, g.label AS lb
                 FROM l$iters l JOIN g$rounds g ON g.id = l.id),
         cells AS (SELECT la, lb, CAST(count(*) AS HUGEINT) AS c
                   FROM ct GROUP BY 1, 2),
         rs AS (SELECT la, CAST(count(*) AS HUGEINT) AS c
                FROM ct GROUP BY 1),
         cs AS (SELECT lb, CAST(count(*) AS HUGEINT) AS c
                FROM ct GROUP BY 1),
         agg AS (SELECT
                   (SELECT CAST(count(*) AS HUGEINT) FROM ct) AS n,
                   (SELECT SUM(c * (c - 1) // 2) FROM cells) AS sij,
                   (SELECT SUM(c * (c - 1) // 2) FROM rs) AS si,
                   (SELECT SUM(c * (c - 1) // 2) FROM cs) AS sj,
                   (SELECT CAST(count(*) AS BIGINT) FROM rs) AS ka,
                   (SELECT CAST(count(*) AS BIGINT) FROM cs) AS kb)
         SELECT CAST(n AS BIGINT) AS n_items,
                ka AS n_comms_lpa, kb AS n_comms_louvain,
                CAST(sij AS BIGINT) AS pairs_both_together,
                CAST(CASE WHEN den = 0 THEN NULL
                  ELSE (num - ((num % den + den) % den)) // den END
                  AS BIGINT) AS rand_micro
         FROM (SELECT n, sij, si, sj, ka, kb,
                 1000000 * (sij + (n * (n - 1) // 2 - si - sj + sij))
                   AS num,
                 n * (n - 1) // 2 AS den
               FROM agg)"""
  }

  /** Weighted Louvain replaying
    * [[graft.ops.GraphOps.graphLouvainWeighted]]: canonicalized
    * multiplicity-weighted edges, weighted degrees, and the same
    * unrolled mutual-best merge rounds with every count replaced by a
    * weight sum. */
  private def louvainWeightedSql(iters: Int, rounds: Int): String = {
    val base = lpaCtes(iters, mat = true) + s""",
         wded AS MATERIALIZED (
                 SELECT least(src, dst) AS src, greatest(src, dst)
                          AS dst,
                        CAST(count(*) AS BIGINT) AS w
                 FROM edges GROUP BY 1, 2),
         wdeg AS MATERIALIZED (
                 SELECT id, CAST(SUM(w) AS HUGEINT) AS d FROM (
                   SELECT src AS id, w FROM wded
                   UNION ALL SELECT dst, w FROM wded)
                 GROUP BY id),
         mrw AS MATERIALIZED (SELECT CAST(SUM(w) AS HUGEINT) AS m
                              FROM wded),
         h0 AS MATERIALIZED (SELECT id, label FROM l$iters)"""
    val steps = (1 to rounds).map { r =>
      s""",
         dcw$r AS MATERIALIZED (
                  SELECT l.label, CAST(SUM(g.d) AS HUGEINT) AS dcv
                  FROM wdeg g JOIN h${r - 1} l ON l.id = g.id
                  GROUP BY 1),
         prw$r AS MATERIALIZED (
                   SELECT least(a.label, b.label) AS la,
                          greatest(a.label, b.label) AS lb,
                          CAST(SUM(wded.w) AS HUGEINT) AS w_ab
                   FROM wded JOIN h${r - 1} a ON a.id = wded.src
                   JOIN h${r - 1} b ON b.id = wded.dst
                   WHERE a.label <> b.label GROUP BY 1, 2),
         scw$r AS MATERIALIZED (
                  SELECT la, lb,
                    CAST(CASE WHEN den = 0 THEN NULL
                      ELSE (num - ((num % den + den) % den)) // den END
                      AS BIGINT) AS delta_micro
                  FROM (SELECT la, lb,
                          1000000 * (4 * m * w_ab
                            - 2 * x.dcv * y.dcv) AS num,
                          4 * m * m AS den
                        FROM prw$r JOIN dcw$r x ON x.label = prw$r.la
                        JOIN dcw$r y ON y.label = prw$r.lb
                        CROSS JOIN mrw)),
         cdw$r AS MATERIALIZED (
                  SELECT la AS label, lb AS partner, delta_micro
                  FROM scw$r
                  UNION ALL SELECT lb, la, delta_micro FROM scw$r),
         bsw$r AS MATERIALIZED (
                  SELECT label, partner, delta_micro FROM (
                    SELECT *, row_number() OVER (PARTITION BY label
                      ORDER BY delta_micro DESC, partner) AS rk
                    FROM cdw$r) WHERE rk = 1),
         acw$r AS MATERIALIZED (
                  SELECT b.label, least(b.label, b.partner) AS newlab
                  FROM bsw$r b JOIN bsw$r p ON p.label = b.partner
                  WHERE p.partner = b.label AND b.delta_micro > 0),
         h$r AS MATERIALIZED (
                 SELECT g.id, COALESCE(a.newlab, g.label) AS label
                 FROM h${r - 1} g LEFT JOIN acw$r a ON a.label = g.label)"""
    }.mkString
    base + steps + s"""
         SELECT label, count(*) AS size FROM h$rounds
         GROUP BY label ORDER BY label"""
  }

  /** Two-phase Louvain replaying
    * [[graft.ops.GraphOps.graphLouvainMove]]: per-node move rounds,
    * then the mutual-best merge rounds, seeded by the shared LPA
    * chain. */
  private def louvainMoveSql(iters: Int, moveRounds: Int,
      mergeRounds: Int): String = {
    val moves = (1 to moveRounds).map(r =>
      louvainMoveRoundSql(if (r == 1) "g0" else s"mv${r - 1}", s"mv$r"))
      .mkString
    val merges = (1 to mergeRounds).map(r =>
      louvainMergeRoundSql(if (r == 1) s"mv$moveRounds" else s"h${r - 1}",
        s"h$r")).mkString
    louvainBaseSql(iters) + moves + merges + s"""
         SELECT label, count(*) AS size FROM h$mergeRounds
         GROUP BY label ORDER BY label"""
  }

  /** Unrolled BPE merge training replaying
    * [[graft.ops.TextOps.corpusBpeMerges]]: word-frequency dict, char
    * symbolization, per round adjacent-pair counts → (cnt DESC, x, y)
    * winner → greedy left-to-right fused re-symbolization via
    * list_reduce (the same fold as the Spark side's aggregate HOF). */
  private def bpeMergesSql(rounds: Int): String = {
    val union = (1 to rounds).map(r =>
      s"SELECT $r AS round, x, y, cnt FROM t$r").mkString(" UNION ALL ")
    bpeCtes(rounds) + s"""
         SELECT CAST(round AS INT) AS round, x AS left_sym,
                y AS right_sym, x || y AS merged, cnt AS pair_count
         FROM ($union) ORDER BY round"""
  }

  /** The shared unrolled BPE training chain (ends at `s$rounds(w, wc,
    * syms)` = the fully-merged word symbolization and `t$r` = round
    * r's winning pair), reused by the merge-table oracle and the
    * encode oracle. */
  private def bpeCtes(rounds: Int): String = {
    val base = s"""WITH w0 AS (
           SELECT w, CAST(count(*) AS BIGINT) AS wc
           FROM (SELECT unnest(string_split(text, ' ')) AS w
                 FROM documents)
           WHERE regexp_matches(w, '^[a-z]+$$')
           GROUP BY w),
         s0 AS (SELECT w, wc,
                       array_to_string(list_transform(
                         range(1, length(w) + 1),
                         i -> substring(w, i, 1)), '|') AS syms
                FROM w0)"""
    val steps = (1 to rounds).map { r =>
      s""",
         p$r AS (SELECT p.x AS x, p.y AS y,
                        CAST(SUM(wc) AS BIGINT) AS cnt FROM (
                   SELECT wc, unnest(list_transform(
                     range(1, len(string_split(syms, '|'))),
                     i -> struct_pack(
                       x := string_split(syms, '|')[i],
                       y := string_split(syms, '|')[i + 1]))) AS p
                   FROM s${r - 1}
                   WHERE len(string_split(syms, '|')) >= 2)
                 GROUP BY 1, 2),
         t$r AS (SELECT x, y, cnt FROM p$r
                 ORDER BY cnt DESC, x, y LIMIT 1),
         s$r AS (SELECT w, wc,
                   list_reduce(string_split(syms, '|'), (acc, s) ->
                     CASE WHEN (acc = x OR ends_with(acc, '|' || x))
                               AND s = y
                          THEN substring(acc, 1,
                                 length(acc) - length(x)) || x || y
                          ELSE acc || '|' || s END) AS syms
                 FROM s${r - 1} CROSS JOIN t$r)"""
    }.mkString
    base + steps
  }

  /** Unigram-LM tokenizer trainer replaying
    * [[graft.ops.TextOps.corpusUnigramPrune]]: seeded substring vocab,
    * exact nano-unit piece costs, the per-word Viterbi DP unrolled to
    * [[graft.ops.TextOps.UnigramMaxWordLen]] positions with
    * (cost, len, piece) tie-breaks, backpointer walk, usage-ranked
    * prune. */
  private def unigramPruneSql: String = {
    import graft.ops.TextOps.{UnigramKeepTopK, UnigramMaxPieceLen,
      UnigramMaxWordLen, UnigramSeedTopK}
    val L = UnigramMaxWordLen
    val P = UnigramMaxPieceLen
    val bs = (1 to L).map { p =>
      val arms = (1 to math.min(P, p)).map { l =>
        s"""SELECT cv.w, b.cost + cv.cost_nano AS cost, cv.l, cv.piece
            FROM ucv cv JOIN ub${p - l} b USING (w)
            WHERE cv.p = $p AND cv.l = $l"""
      }.mkString("\n            UNION ALL\n            ")
      s"""ub$p AS MATERIALIZED (
           SELECT w, cost, l AS bl, piece AS bp FROM (
             SELECT a.*, row_number() OVER (PARTITION BY a.w
               ORDER BY a.cost, a.l, a.piece) AS rn
             FROM ($arms) a) t
           WHERE rn = 1)"""
    }.mkString(",\n         ")
    val baUnion = (1 to L)
      .map(p => s"SELECT w, $p AS pos, bl, bp FROM ub$p")
      .mkString("\n                UNION ALL ")
    val walks = (1 to L).map { s =>
      s"""us$s AS (SELECT r.w, r.wc,
             CASE WHEN a.bl IS NULL THEN r.pos
                  ELSE r.pos - a.bl END AS pos,
             CASE WHEN a.bp IS NULL THEN r.path
                  ELSE r.path || [a.bp] END AS path
           FROM us${s - 1} r LEFT JOIN uba a
             ON a.w = r.w AND a.pos = r.pos)"""
    }.mkString(",\n         ")
    s"""WITH uw AS MATERIALIZED (
           SELECT w, CAST(count(*) AS BIGINT) AS wc
           FROM (SELECT unnest(string_split(text, ' ')) AS w
                 FROM documents) t
           WHERE regexp_matches(w, '^[a-z]{1,$L}$$')
           GROUP BY w),
         ucand AS MATERIALIZED (
           SELECT w, wc, i, l, substr(w, i, l) AS piece
           FROM uw, unnest(range(1, length(w) + 1)) u(i),
                unnest(range(1, ${P + 1})) v(l)
           WHERE i + l - 1 <= length(w)),
         ufreq AS MATERIALIZED (
           SELECT piece, CAST(sum(wc) AS BIGINT) AS freq
           FROM ucand GROUP BY 1),
         useed AS (SELECT piece, freq FROM ufreq
                   WHERE length(piece) = 1
                   UNION ALL
                   SELECT piece, freq FROM (
                     SELECT piece, freq, row_number() OVER (
                       ORDER BY freq DESC, piece) AS rn
                     FROM ufreq WHERE length(piece) > 1) t
                   WHERE rn <= $UnigramSeedTopK),
         utot AS (SELECT sum(freq) AS tot FROM useed),
         ucost AS MATERIALIZED (
           SELECT piece, freq,
                  CAST(CAST(CAST(-ROUND(ln(CAST(freq AS DOUBLE) / tot)
                    + 1e-12, 9) AS DECIMAL(18,9)) AS DECIMAL(28,9))
                    * 1000000000 AS BIGINT) AS cost_nano
           FROM useed CROSS JOIN utot),
         ucv AS MATERIALIZED (
           SELECT c.w, c.i + c.l - 1 AS p, c.l, c.piece, k.cost_nano
           FROM ucand c JOIN ucost k USING (piece)),
         ub0 AS (SELECT w, CAST(0 AS BIGINT) AS cost FROM uw),
         $bs,
         uba AS MATERIALIZED (
                $baUnion),
         us0 AS (SELECT w, wc, length(w) AS pos,
                        CAST([] AS VARCHAR[]) AS path FROM uw),
         $walks,
         uuse AS (SELECT piece, CAST(sum(wc) AS BIGINT) AS usage
                  FROM (SELECT wc, unnest(path) AS piece FROM us$L) t
                  GROUP BY 1),
         uout AS MATERIALIZED (
           SELECT k.piece, length(k.piece) AS piece_len,
                  k.freq AS freq_w, COALESCE(u.usage, 0) AS usage
           FROM ucost k LEFT JOIN uuse u USING (piece)),
         urk AS (SELECT piece, row_number() OVER (
                   ORDER BY usage DESC, piece) AS rn
                 FROM uout WHERE piece_len > 1)
         SELECT o.piece, o.piece_len, o.freq_w, o.usage,
                (o.piece_len = 1 OR r.rn <= $UnigramKeepTopK) AS kept
         FROM uout o LEFT JOIN urk r USING (piece)
         ORDER BY usage DESC, o.piece"""
  }

  /** Temperature-scaled mixture weights replaying
    * [[graft.ops.TextOps.corpusMixTemperature]]: corrected integer
    * sqrt of n·1e12, floor-div permille at T=2 and T=1. */
  private def mixTemperatureSql: String =
    """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                  FROM documents GROUP BY source),
         s AS (SELECT source, n_docs,
                      CAST(n_docs AS HUGEINT) * 1000000000000 AS x,
                      CAST(FLOOR(SQRT(CAST(CAST(n_docs AS HUGEINT)
                        * 1000000000000 AS DOUBLE))) AS BIGINT) AS s0
               FROM c),
         w AS (SELECT source, n_docs,
                      CASE WHEN CAST(s0 + 1 AS HUGEINT) * (s0 + 1) <= x
                           THEN s0 + 1
                           WHEN CAST(s0 AS HUGEINT) * s0 > x THEN s0 - 1
                           ELSE s0 END
                        AS w_micro
               FROM s),
         t AS (SELECT CAST(SUM(w_micro) AS HUGEINT) AS tw,
                      CAST(SUM(n_docs) AS HUGEINT) AS tn FROM w),
         k AS (SELECT source, n_docs, w_micro,
                      1000 * CAST(w_micro AS HUGEINT) AS wk,
                      1000 * CAST(n_docs AS HUGEINT) AS nk, tw, tn
               FROM w CROSS JOIN t)
         SELECT source, n_docs, w_micro,
                CAST((wk - ((wk % tw + tw) % tw)) // tw AS BIGINT)
                  AS permille_t2,
                CAST((nk - ((nk % tn + tn) % tn)) // tn AS BIGINT)
                  AS permille_t1
         FROM k ORDER BY source"""

  /** Trained-vocab census replaying
    * [[graft.ops.TextOps.corpusBpeVocab]]: symbols of the final
    * symbolization weighted by word frequency, top-K by
    * (count DESC, symbol). */
  private def bpeVocabSql(rounds: Int, topK: Int): String =
    bpeCtes(rounds) + s""",
         vs AS (SELECT unnest(string_split(syms, '|')) AS sym, wc
                FROM s$rounds)
         SELECT sym, CAST(length(sym) AS INT) AS sym_len,
                CAST(SUM(wc) AS BIGINT) AS n_occurrences,
                CAST(count(*) AS BIGINT) AS n_words
         FROM vs GROUP BY sym
         ORDER BY n_occurrences DESC, sym LIMIT $topK"""

  /** Per-source BPE token census replaying
    * [[graft.ops.TextOps.corpusBpeEncode]]: the trained chain's final
    * symbolization joined back to every whitespace token, OOV tokens
    * charged one token each. */
  /** Per-language fertility over the same trained vocab as
    * [[bpeEncodeSql]] — tokens per word and chars per token in exact
    * milli. */
  private def bpeFertilitySql(rounds: Int): String =
    bpeCtes(rounds) + s""",
         enc AS (SELECT w, CAST(len(string_split(syms, '|')) AS BIGINT)
                          AS n_sym
                 FROM s$rounds),
         dw AS (SELECT * FROM (
                  SELECT lang, unnest(string_split(text, ' ')) AS w
                  FROM documents)
                WHERE length(w) > 0),
         g AS (SELECT lang,
                CAST(count(*) AS BIGINT) AS n_words,
                CAST(SUM(COALESCE(e.n_sym, 1)) AS BIGINT) AS n_tokens,
                CAST(SUM(length(w)) AS BIGINT) AS n_chars
               FROM dw LEFT JOIN enc e USING (w)
               GROUP BY lang)
         SELECT lang, n_words, n_tokens,
                (1000 * n_tokens) // n_words AS fertility_milli,
                (1000 * n_chars) // n_tokens AS chars_per_token_milli
         FROM g ORDER BY lang"""

  private def bpeEncodeSql(rounds: Int): String =
    bpeCtes(rounds) + s""",
         enc AS (SELECT w, CAST(len(string_split(syms, '|')) AS BIGINT)
                          AS n_sym
                 FROM s$rounds),
         dw AS (SELECT * FROM (
                  SELECT doc_id, source,
                         unnest(string_split(text, ' ')) AS w
                  FROM documents)
                WHERE length(w) > 0)
         SELECT source,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                CAST(count(*) AS BIGINT) AS n_words,
                CAST(SUM(CASE WHEN e.n_sym IS NOT NULL THEN 1 ELSE 0
                         END) AS BIGINT) AS n_encodable,
                CAST(SUM(COALESCE(e.n_sym, 1)) AS BIGINT) AS n_tokens,
                CAST(SUM(length(w)) AS BIGINT) AS n_chars
         FROM dw LEFT JOIN enc e USING (w)
         GROUP BY source ORDER BY source"""

  /** Unrolled multi-landmark min-plus relaxation replaying
    * [[graft.ops.GraphOps.shortestPathsWeightedMultiOn]]: micro-unit
    * edge lengths (1e6 // multiplicity, floor == truncate on positive
    * operands), state keyed (lm, id), one min-merge CTE per bounded
    * round. The frontier pruning on the Spark side is a pure
    * optimization — the min over ≤rounds-edge paths is identical. */
  private def spWeightedMultiSql(rounds: Int): String = {
    val lms = (0L until 5L).map(graft.GraphModel.RegionOff + _)
      .mkString(", ")
    val base = s"""WITH $EdgesCte,
         wed AS (SELECT src, dst,
                        CAST(1000000 // count(*) AS BIGINT) AS len
                 FROM edges GROUP BY src, dst),
         d0 AS (SELECT lm, lm AS id, CAST(0 AS BIGINT) AS d
                FROM (SELECT unnest([$lms]) AS lm))"""
    val steps = (1 to rounds).map { i =>
      s""",
         d$i AS MATERIALIZED (SELECT lm, id, min(d) AS d FROM (
                   SELECT lm, id, d FROM d${i - 1}
                   UNION ALL
                   SELECT r.lm, e.src, r.d + e.len
                   FROM wed e JOIN d${i - 1} r ON e.dst = r.id)
                 GROUP BY lm, id)"""
    }.mkString
    base + steps + s"""
         SELECT lm, id, d AS wdist_micro FROM d$rounds
         ORDER BY lm, id"""
  }

  /** Unrolled exact-integer power iteration replaying
    * [[graft.ops.VectorOps.embedPcaPower]]: floor(x·1e6) micro cells,
    * per round s = E·v then u = Eᵀ·s in HUGEINT, deterministic
    * (u·1e6) floor-div max|u| renormalization. */
  private def pcaPowerSql(rounds: Int): String =
    pcaCtes(rounds) + s"""
         SELECT CAST(pos AS INT) AS pos, CAST(vm AS BIGINT)
                AS loading_micro
         FROM v$rounds ORDER BY pos"""

  /** Per-label projection census replaying
    * [[graft.ops.VectorOps.embedPcaProject]]: every vector dotted
    * against the trained direction, micro-rescaled by the same
    * remainder-subtraction floor division, then per-label
    * min/max/floor-mean. */
  private def pcaProjectSql(rounds: Int): String =
    pcaCtes(rounds) + s""",
         pl AS MATERIALIZED (
           SELECT e.vec_id, e.label, p.i - 1 AS pos,
                  CAST(floor(CAST(e.embedding[p.i] AS DOUBLE) * 1000000)
                       AS BIGINT) AS em
           FROM embeddings e
           CROSS JOIN (SELECT unnest(range(1, 65)) AS i) p),
         pr AS MATERIALIZED (
           SELECT vec_id, label,
                  CAST((s - ((s % 1000000 + 1000000) % 1000000))
                       // 1000000 AS BIGINT) AS pm
           FROM (SELECT c.vec_id, c.label, SUM(c.em * v.vm) AS s
                 FROM pl c JOIN v$rounds v ON v.pos = c.pos
                 GROUP BY 1, 2))
         SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
                min(pm) AS proj_min, max(pm) AS proj_max,
                CAST((SUM(pm) - ((SUM(pm) % count(*) + count(*))
                     % count(*))) // count(*) AS BIGINT) AS proj_mean
         FROM pr GROUP BY label ORDER BY label"""

  /** The shared unrolled power-iteration chain (ends at
    * `v$rounds(pos, vm)` = the trained direction), reused by the
    * loading oracle and the projection oracle. */
  private def pcaCtes(rounds: Int): String = {
    val base = s"""WITH cells AS MATERIALIZED (
           SELECT vec_id, p.i - 1 AS pos,
                  CAST(floor(CAST(embedding[p.i] AS DOUBLE) * 1000000)
                       AS BIGINT) AS em
           FROM embeddings
           CROSS JOIN (SELECT unnest(range(1, 65)) AS i) p),
         v0 AS (SELECT unnest(range(0, 64)) AS pos,
                       CAST(1000000 AS HUGEINT) AS vm)"""
    val steps = (1 to rounds).map { k =>
      s""",
         s$k AS MATERIALIZED (
                 SELECT c.vec_id, CAST(SUM(c.em * v.vm) AS HUGEINT) AS s
                 FROM cells c JOIN v${k - 1} v ON v.pos = c.pos
                 GROUP BY 1),
         u$k AS MATERIALIZED (
                 SELECT c.pos, SUM(CAST(c.em AS HUGEINT) * s.s) AS u
                 FROM cells c JOIN s$k s ON s.vec_id = c.vec_id
                 GROUP BY 1),
         m$k AS MATERIALIZED (SELECT max(abs(u)) AS mx FROM u$k),
         v$k AS MATERIALIZED (
                 SELECT pos,
                        CASE WHEN den = 0 THEN NULL
                          ELSE (num - ((num % den + den) % den)) // den
                        END AS vm
                 FROM (SELECT pos, u * 1000000 AS num, mx AS den
                       FROM u$k CROSS JOIN m$k))"""
    }.mkString
    base + steps
  }

  /** Weighted eccentricity + diameter lower bound replaying
    * [[graft.ops.GraphOps.graphEccentricityWeighted]] over the shared
    * min-plus chain. */
  private def wEccentricitySql(rounds: Int): String = {
    val lms = (0L until 5L).map(graft.GraphModel.RegionOff + _)
      .mkString(", ")
    val base = s"""WITH $EdgesCte,
         wed AS MATERIALIZED (SELECT src, dst,
                        CAST(1000000 // count(*) AS BIGINT) AS len
                 FROM edges GROUP BY src, dst),
         d0 AS (SELECT lm, lm AS id, CAST(0 AS BIGINT) AS d
                FROM (SELECT unnest([$lms]) AS lm))"""
    val steps = (1 to rounds).map { i =>
      s""",
         d$i AS MATERIALIZED (SELECT lm, id, min(d) AS d FROM (
                   SELECT lm, id, d FROM d${i - 1}
                   UNION ALL
                   SELECT r.lm, e.src, r.d + e.len
                   FROM wed e JOIN d${i - 1} r ON e.dst = r.id)
                 GROUP BY lm, id)"""
    }.mkString
    base + steps + s""",
         per AS (SELECT lm, max(d) AS ecc_micro,
                        CAST(count(*) AS BIGINT) AS n_reached
                 FROM d$rounds GROUP BY lm),
         dm AS (SELECT max(ecc_micro) AS diameter_lb_micro FROM per)
         SELECT lm, ecc_micro, n_reached, diameter_lb_micro
         FROM per CROSS JOIN dm ORDER BY lm"""
  }

  /** Weighted harmonic closeness replaying
    * [[graft.ops.GraphOps.graphClosenessWeighted]]: the shared
    * min-plus distance chain, then per-vertex reciprocal sums. */
  private def wClosenessSql(rounds: Int): String = {
    val lms = (0L until 5L).map(graft.GraphModel.RegionOff + _)
      .mkString(", ")
    val base = s"""WITH $EdgesCte,
         wed AS MATERIALIZED (SELECT src, dst,
                        CAST(1000000 // count(*) AS BIGINT) AS len
                 FROM edges GROUP BY src, dst),
         d0 AS (SELECT lm, lm AS id, CAST(0 AS BIGINT) AS d
                FROM (SELECT unnest([$lms]) AS lm))"""
    val steps = (1 to rounds).map { i =>
      s""",
         d$i AS MATERIALIZED (SELECT lm, id, min(d) AS d FROM (
                   SELECT lm, id, d FROM d${i - 1}
                   UNION ALL
                   SELECT r.lm, e.src, r.d + e.len
                   FROM wed e JOIN d${i - 1} r ON e.dst = r.id)
                 GROUP BY lm, id)"""
    }.mkString
    base + steps + s"""
         SELECT id, CAST(SUM(1000000000000 // d) AS BIGINT)
                  AS hcw_micro,
                CAST(count(*) AS BIGINT) AS n_reached
         FROM d$rounds WHERE d > 0
         GROUP BY id ORDER BY hcw_micro DESC, id LIMIT 50"""
  }

  /** Unrolled weighted Brandes replaying
    * [[graft.ops.GraphOps.betweennessWeightedMulti]]: the min-plus
    * distance chain, the shortest-path DAG (d(src) = len + d(dst)),
    * max-edge-depth layers by max-plus rounds, sigma by increasing
    * layer, dependency `(sigma_v·(1e6+delta_w)) // sigma_w` by
    * decreasing layer, then the per-vertex landmark sum, top-50. */
  private def wBetweennessSql(rounds: Int): String = {
    val lms = (0L until 5L).map(graft.GraphModel.RegionOff + _)
      .mkString(", ")
    val base = s"""WITH $EdgesCte,
         wed AS MATERIALIZED (SELECT src, dst,
                        CAST(1000000 // count(*) AS BIGINT) AS len
                 FROM edges GROUP BY src, dst),
         d0 AS (SELECT lm, lm AS id, CAST(0 AS BIGINT) AS d
                FROM (SELECT unnest([$lms]) AS lm))"""
    val dsteps = (1 to rounds).map { i =>
      s""",
         d$i AS MATERIALIZED (SELECT lm, id, min(d) AS d FROM (
                   SELECT lm, id, d FROM d${i - 1}
                   UNION ALL
                   SELECT r.lm, e.src, r.d + e.len
                   FROM wed e JOIN d${i - 1} r ON e.dst = r.id)
                 GROUP BY lm, id)"""
    }.mkString
    val dag = s""",
         dag AS MATERIALIZED (
                 SELECT s.lm, e.src, e.dst
                 FROM wed e
                 JOIN d$rounds t ON t.id = e.dst
                 JOIN d$rounds s ON s.lm = t.lm AND s.id = e.src
                 WHERE s.d = t.d + e.len),
         lv0 AS (SELECT lm, lm AS id, 0 AS l
                 FROM (SELECT unnest([$lms]) AS lm))"""
    val lsteps = (1 to rounds).map { k =>
      s""",
         lv$k AS MATERIALIZED (SELECT lm, id, max(l) AS l FROM (
                   SELECT lm, id, l FROM lv${k - 1}
                   UNION ALL
                   SELECT g.lm, g.src, x.l + 1
                   FROM dag g JOIN lv${k - 1} x
                     ON x.lm = g.lm AND x.id = g.dst)
                 GROUP BY lm, id)"""
    }.mkString
    val sg0 = s""",
         sg0 AS (SELECT lm, lm AS id, CAST(1 AS BIGINT) AS sigma
                 FROM (SELECT unnest([$lms]) AS lm))"""
    val ssteps = (1 to rounds).map { k =>
      s""",
         sg$k AS MATERIALIZED (
                 SELECT lm, id, sigma FROM sg${k - 1}
                 UNION ALL
                 SELECT g.lm, g.src,
                        CAST(SUM(s.sigma) AS BIGINT) AS sigma
                 FROM dag g
                 JOIN sg${k - 1} s ON s.lm = g.lm AND s.id = g.dst
                 JOIN lv$rounds x ON x.lm = g.lm AND x.id = g.src
                   AND x.l = $k
                 GROUP BY g.lm, g.src)"""
    }.mkString
    val dl0 = s""",
         dl$rounds AS MATERIALIZED (
                 SELECT lm, id, CAST(0 AS BIGINT) AS delta
                 FROM lv$rounds WHERE l = $rounds)"""
    val dlsteps = ((rounds - 1) to 1 by -1).map { k =>
      s""",
         dl$k AS MATERIALIZED (
                 SELECT lm, id, delta FROM dl${k + 1}
                 UNION ALL
                 SELECT v.lm, v.id, COALESCE(c.delta, 0) AS delta
                 FROM (SELECT lm, id FROM lv$rounds WHERE l = $k) v
                 LEFT JOIN (
                   SELECT g.lm, g.dst AS id,
                          CAST(SUM((sv.sigma * (1000000 + dw.delta))
                                   // sw.sigma) AS BIGINT) AS delta
                   FROM dag g
                   JOIN dl${k + 1} dw ON dw.lm = g.lm AND dw.id = g.src
                   JOIN sg$rounds sw ON sw.lm = g.lm AND sw.id = g.src
                   JOIN sg$rounds sv ON sv.lm = g.lm AND sv.id = g.dst
                   GROUP BY g.lm, g.dst) c
                   ON c.lm = v.lm AND c.id = v.id)"""
    }.mkString
    base + dsteps + dag + lsteps + sg0 + ssteps + dl0 + dlsteps + s"""
         SELECT id, CAST(SUM(delta) AS BIGINT) AS bcw_micro
         FROM dl1 GROUP BY id
         ORDER BY bcw_micro DESC, id LIMIT 50"""
  }

  /** Unrolled earliest-arrival DP replaying
    * [[graft.ops.GraphOps.graphTemporalReach]]: capped part-mediated
    * influence edges, then per round min-arrival relaxation under the
    * non-decreasing-date constraint. */
  private def temporalReachSql(rounds: Int): String = {
    val base =
      """WITH buys AS (SELECT l_partkey AS pk, o_custkey AS ck,
                            min(CAST(o_orderdate AS DATE)) AS d
                     FROM lineitem
                     JOIN orders ON l_orderkey = o_orderkey
                     GROUP BY 1, 2),
         cap AS (SELECT pk, ck, d FROM (
                   SELECT pk, ck, d, row_number() OVER (
                     PARTITION BY pk ORDER BY d, ck) AS rk FROM buys)
                 WHERE rk <= 8),
         tedges AS (SELECT a.ck AS src, b.ck AS dst,
                           min(b.d) AS active_on
                    FROM cap a JOIN cap b
                      ON a.pk = b.pk AND a.d < b.d
                    GROUP BY 1, 2),
         r0 AS (SELECT CAST(1 AS BIGINT) AS id,
                       DATE '1992-01-01' AS arr)"""
    val steps = (1 to rounds).map { i =>
      s""",
         r$i AS (SELECT id, min(arr) AS arr FROM (
                   SELECT id, arr FROM r${i - 1}
                   UNION ALL
                   SELECT e.dst, e.active_on FROM tedges e
                   JOIN r${i - 1} r ON e.src = r.id
                     AND e.active_on >= r.arr)
                 GROUP BY id)"""
    }.mkString
    base + steps +
      s"""
         SELECT id, arr FROM r$rounds ORDER BY arr, id"""
  }

  /** Batch replay of the click→purchase attribution join, shared by
    * the memory-sink and parquet-file-sink stream-stream join
    * registrations (same watermarked join, different sink). */
  private val ssJoinSql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type, value,
                          date_trunc('second', ts) AS ts_sec
                   FROM events),
       c AS (SELECT user_id, event_id AS click_id, ts_sec AS click_ts
             FROM ev WHERE event_type = 'click'),
       p AS (SELECT user_id, event_id AS purchase_id,
                    ts_sec AS purchase_ts, value
             FROM ev WHERE event_type = 'purchase')
       SELECT c.user_id, click_id, click_ts, purchase_id, purchase_ts,
              value
       FROM c JOIN p ON c.user_id = p.user_id
         AND purchase_ts >= click_ts
         AND purchase_ts <= click_ts + INTERVAL 1 HOUR
       ORDER BY c.user_id, click_id, purchase_id"""

  /** Batch replay of the CDC last-write-wins view: argmax per user
    * over the (ts_sec, event_id) total order — shared by the
    * memory-sink and parquet-upsert-log registrations (same maintained
    * state, different sink). */
  private val cdcLatestSql: String =
    """WITH ev AS (SELECT user_id, event_id,
                          date_trunc('second', ts) AS ts_sec, value
                   FROM events),
       r AS (SELECT *,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY ts_sec DESC, event_id DESC) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n_updates
             FROM ev)
       SELECT user_id, event_id AS last_event_id, ts_sec AS last_ts,
              value AS last_value, n_updates
       FROM r WHERE rn = 1 ORDER BY user_id"""

  /** Edge-table CTE mirroring [[graft.GraphModel.edges]] (namespaced
    * vertex ids = kindOffset + naturalKey). */
  /** The derived vertex table (GraphModel.vertices): namespaced ids,
    * kind tag, display name. */
  private val VertsCte =
    """verts AS (
         SELECT 1000000000000 + r_regionkey AS id, 'region' AS kind,
                r_name AS name FROM region
         UNION ALL
         SELECT 2000000000000 + n_nationkey, 'nation', n_name FROM nation
         UNION ALL
         SELECT 3000000000000 + c_custkey, 'customer', c_name
         FROM customer
         UNION ALL
         SELECT 4000000000000 + s_suppkey, 'supplier', s_name
         FROM supplier
         UNION ALL
         SELECT 5000000000000 + p_partkey, 'part', p_name FROM part
         UNION ALL
         SELECT 6000000000000 + o_orderkey, 'order',
                CAST(o_orderkey AS VARCHAR) FROM orders
       )"""

  /** Shared basket CTE chain for the mining family, mirroring
    * `Mining.frequentBasketItems`: distinct (order, part) → basket-size
    * cap → a-priori item-support prune. Ends in `opf(o, p)`. */
  private val BasketCtes =
    s"""op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
               FROM lineitem),
         okb AS (SELECT o FROM op GROUP BY o
                 HAVING count(*) <= ${ops.Mining.MaxBasket}),
         opc AS (SELECT op.o, op.p FROM op JOIN okb USING (o)),
         freq AS (SELECT p FROM opc GROUP BY p
                  HAVING count(*) >= ${ops.Mining.MinSupport}),
         opf AS (SELECT opc.o, opc.p FROM opc JOIN freq USING (p))"""

  private val EdgesCte =
    """edges AS (
         SELECT 2000000000000 + n_nationkey AS src,
                1000000000000 + n_regionkey AS dst, 'IN' AS rel FROM nation
         UNION ALL
         SELECT 3000000000000 + c_custkey,
                2000000000000 + c_nationkey, 'IN' FROM customer
         UNION ALL
         SELECT 4000000000000 + s_suppkey,
                2000000000000 + s_nationkey, 'IN' FROM supplier
         UNION ALL
         SELECT 6000000000000 + o_orderkey,
                3000000000000 + o_custkey, 'BY' FROM orders
         UNION ALL
         SELECT 6000000000000 + l_orderkey,
                5000000000000 + l_partkey, 'HAS' FROM lineitem
         UNION ALL
         SELECT 6000000000000 + l_orderkey,
                4000000000000 + l_suppkey, 'FROM' FROM lineitem
       )"""

  /** Exact brute-force cosine top-10 — shared by its own entry and the
    * recall-eval composition below. */
  private val EmbedCosineTopkSql =
    """WITH e AS (SELECT vec_id, label,
                          CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        en AS (SELECT vec_id, label, v,
                      sqrt(list_sum(list_transform(range(1, 65),
                        i -> v[i] * v[i]))) AS nrm FROM e),
        p AS (SELECT v AS pv, nrm AS pnrm FROM en WHERE vec_id = 0)
        SELECT vec_id, label,
               ROUND(list_sum(list_transform(range(1, 65),
                       i -> v[i] * pv[i])) / (nrm * pnrm), 4) AS cos_sim
        FROM en CROSS JOIN p
        ORDER BY cos_sim DESC, vec_id LIMIT 10"""

  /** Matryoshka coarse(16-dim)-then-rerank(full) pipeline replaying
    * [[graft.ops.VectorOps.embedMatryoshkaTopk]] — shared by the
    * registered key and its recall census. */
  private val EmbedMatryoshkaSql =
    """WITH e AS (SELECT vec_id, label,
                         CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       en AS (SELECT vec_id, label, v,
                     sqrt(list_sum(list_transform(range(1, 65),
                       i -> v[i] * v[i]))) AS nrm FROM e),
       p AS (SELECT v AS pv, nrm AS pn FROM en WHERE vec_id = 0),
       coarse AS (SELECT vec_id, label, v, nrm, pv, pn,
                    ROUND(list_sum(list_transform(range(1, 17),
                      i -> v[i] * pv[i])), 4) AS coarse_score
                  FROM en CROSS JOIN p
                  ORDER BY coarse_score DESC, vec_id LIMIT 50)
       SELECT vec_id, label, coarse_score,
              ROUND(list_sum(list_transform(range(1, 65),
                      i -> v[i] * pv[i])) / (nrm * pn), 4) AS cos_sim
       FROM coarse ORDER BY cos_sim DESC, vec_id LIMIT 10"""

  /** Partitioned-NSW beam search replaying
    * [[graft.ops.VectorOps.embedAnnNsw]]: md5-deterministic shards,
    * per-shard 6-NN layer-0 graph on the rounded cosine, unrolled
    * [[graft.ops.VectorOps.NswHops]] expand→score→top-beam rounds from
    * the min-id entry, cross-shard top-10 merge. The cosine float
    * shape mirrors the Spark side exactly: dot / (nrm_a · nrm_b) with
    * per-vector nrm = sqrt(dot(v,v)). */
  private lazy val EmbedAnnNswSql: String = {
    import graft.ops.VectorOps.{NswShards, NswDegree, NswBeam, NswHops}
    val shardKey = md5Hash60Sql("'graft-nsw:' || CAST(vec_id AS VARCHAR)")
    def simTo(av: String, an: String, bv: String, bn: String) =
      s"ROUND(list_sum(list_transform(range(1, 65), " +
        s"i -> $av[i] * $bv[i])) / ($an * $bn), 4)"
    val hops = (1 to NswHops).map { h =>
      val prev = s"b${h - 1}"
      s"""c$h AS (SELECT DISTINCT shard, vec_id FROM (
              SELECT shard, vec_id FROM $prev
              UNION ALL
              SELECT g.shard, g.dst AS vec_id
              FROM $prev JOIN nsw_g g
                ON $prev.shard = g.shard AND $prev.vec_id = g.src)),
         b$h AS (SELECT shard, vec_id, sim FROM (
              SELECT c.shard, c.vec_id,
                     ${simTo("en.v", "en.nrm", "p.pv", "p.pn")} AS sim,
                     row_number() OVER (PARTITION BY c.shard
                       ORDER BY ${simTo("en.v", "en.nrm", "p.pv", "p.pn")}
                         DESC, c.vec_id) AS rn
              FROM c$h c JOIN nsw_en en
                ON c.shard = en.shard AND c.vec_id = en.vec_id
              CROSS JOIN p) t
            WHERE rn <= $NswBeam)"""
    }.mkString(",\n         ")
    s"""WITH nsw_e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
         nsw_en AS MATERIALIZED (
           SELECT vec_id, v,
                  sqrt(list_sum(list_transform(range(1, 65),
                    i -> v[i] * v[i]))) AS nrm,
                  $shardKey % $NswShards AS shard
           FROM nsw_e),
         nsw_g AS MATERIALIZED (
           SELECT shard, src, dst FROM (
             SELECT a.shard, a.vec_id AS src, b.vec_id AS dst,
                    row_number() OVER (PARTITION BY a.shard, a.vec_id
                      ORDER BY ${simTo("a.v", "a.nrm", "b.v", "b.nrm")}
                        DESC, b.vec_id) AS rn
             FROM nsw_en a JOIN nsw_en b
               ON a.shard = b.shard AND a.vec_id <> b.vec_id) t
           WHERE rn <= $NswDegree),
         p AS (SELECT v AS pv, nrm AS pn FROM nsw_en WHERE vec_id = 0),
         b0 AS (SELECT s.shard, s.vec_id,
                       ${simTo("en.v", "en.nrm", "p.pv", "p.pn")} AS sim
                FROM (SELECT shard, min(vec_id) AS vec_id
                      FROM nsw_en GROUP BY 1) s
                JOIN nsw_en en
                  ON s.shard = en.shard AND s.vec_id = en.vec_id
                CROSS JOIN p),
         $hops
         SELECT vec_id, shard, sim AS cos_sim
         FROM b$NswHops
         ORDER BY cos_sim DESC, vec_id LIMIT 10"""
  }

  /** Two-layer HNSW replay: layer-1 graph over the md5-promoted
    * quarter, a narrow routing beam from the layer-1 entry, then the
    * layer-0 beam seeded by the routed beam — [[EmbedAnnNswSql]]'s
    * chain with the descent bolted on. */
  private lazy val EmbedAnnHnswSql: String = {
    import graft.ops.VectorOps.{NswShards, NswDegree, NswBeam, NswHops,
      HnswL1Mod, HnswL1Beam}
    val shardKey = md5Hash60Sql("'graft-nsw:' || CAST(vec_id AS VARCHAR)")
    val lvlKey = md5Hash60Sql("'graft-hnsw:' || CAST(vec_id AS VARCHAR)")
    def simTo(av: String, an: String, bv: String, bn: String) =
      s"ROUND(list_sum(list_transform(range(1, 65), " +
        s"i -> $av[i] * $bv[i])) / ($an * $bn), 4)"
    def hops(pfx: String, graph: String, beam: Int) =
      (1 to NswHops).map { h =>
        val prev = s"$pfx${h - 1}"
        s"""${pfx}c$h AS (SELECT DISTINCT shard, vec_id FROM (
                SELECT shard, vec_id FROM $prev
                UNION ALL
                SELECT g.shard, g.dst AS vec_id
                FROM $prev JOIN $graph g
                  ON $prev.shard = g.shard AND $prev.vec_id = g.src)),
           $pfx$h AS (SELECT shard, vec_id, sim FROM (
                SELECT c.shard, c.vec_id,
                       ${simTo("en.v", "en.nrm", "p.pv", "p.pn")} AS sim,
                       row_number() OVER (PARTITION BY c.shard
                         ORDER BY ${simTo("en.v", "en.nrm",
                           "p.pv", "p.pn")} DESC, c.vec_id) AS rn
                FROM ${pfx}c$h c JOIN nsw_en en
                  ON c.shard = en.shard AND c.vec_id = en.vec_id
                CROSS JOIN p) t
              WHERE rn <= $beam)"""
      }.mkString(",\n         ")
    s"""WITH nsw_e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
         nsw_en AS MATERIALIZED (
           SELECT vec_id, v,
                  sqrt(list_sum(list_transform(range(1, 65),
                    i -> v[i] * v[i]))) AS nrm,
                  $shardKey % $NswShards AS shard
           FROM nsw_e),
         nsw_g AS MATERIALIZED (
           SELECT shard, src, dst FROM (
             SELECT a.shard, a.vec_id AS src, b.vec_id AS dst,
                    row_number() OVER (PARTITION BY a.shard, a.vec_id
                      ORDER BY ${simTo("a.v", "a.nrm", "b.v", "b.nrm")}
                        DESC, b.vec_id) AS rn
             FROM nsw_en a JOIN nsw_en b
               ON a.shard = b.shard AND a.vec_id <> b.vec_id) t
           WHERE rn <= $NswDegree),
         l1 AS (SELECT * FROM nsw_en
                WHERE $lvlKey % $HnswL1Mod = 0),
         g1 AS MATERIALIZED (
           SELECT shard, src, dst FROM (
             SELECT a.shard, a.vec_id AS src, b.vec_id AS dst,
                    row_number() OVER (PARTITION BY a.shard, a.vec_id
                      ORDER BY ${simTo("a.v", "a.nrm", "b.v", "b.nrm")}
                        DESC, b.vec_id) AS rn
             FROM l1 a JOIN l1 b
               ON a.shard = b.shard AND a.vec_id <> b.vec_id) t
           WHERE rn <= $NswDegree),
         p AS (SELECT v AS pv, nrm AS pn FROM nsw_en WHERE vec_id = 0),
         ent AS (SELECT al.shard,
                        COALESCE(l.vec_id, al.vec_id) AS vec_id
                 FROM (SELECT shard, min(vec_id) AS vec_id
                       FROM nsw_en GROUP BY 1) al
                 LEFT JOIN (SELECT shard, min(vec_id) AS vec_id
                            FROM l1 GROUP BY 1) l
                   ON al.shard = l.shard),
         a0 AS (SELECT e.shard, e.vec_id,
                       ${simTo("en.v", "en.nrm", "p.pv", "p.pn")} AS sim
                FROM ent e JOIN nsw_en en
                  ON e.shard = en.shard AND e.vec_id = en.vec_id
                CROSS JOIN p),
         ${hops("a", "g1", HnswL1Beam)},
         b0 AS (SELECT shard, vec_id, sim FROM a$NswHops),
         ${hops("b", "nsw_g", NswBeam)}
         SELECT vec_id, shard, sim AS cos_sim
         FROM b$NswHops
         ORDER BY cos_sim DESC, vec_id LIMIT 10"""
  }

  /** Shared CTE chain replaying [[graft.ops.VectorOps]]' NSW DELTA
    * splice: base graph over vec_id % 5 ≠ NswDeltaMod, forward k-NN of
    * the delta batch against the base, and the backlink re-trim — ends
    * with `nd_delta`, `nd_g0`, `nd_fwd`, `nd_spl` (all (shard, src,
    * dst, sim)). Used by embed_index_nsw_delta and
    * embed_recall_nsw_delta. */
  private lazy val NswDeltaCtes: String = {
    import graft.ops.VectorOps.{NswShards, NswDegree, NswDeltaMod}
    val shardKey = md5Hash60Sql("'graft-nsw:' || CAST(vec_id AS VARCHAR)")
    def simTo(av: String, an: String, bv: String, bn: String) =
      s"ROUND(list_sum(list_transform(range(1, 65), " +
        s"i -> $av[i] * $bv[i])) / ($an * $bn), 4)"
    def knn(srcRel: String) =
      s"""SELECT shard, src, dst, sim FROM (
             SELECT a.shard, a.vec_id AS src, b.vec_id AS dst,
                    ${simTo("a.v", "a.nrm", "b.v", "b.nrm")} AS sim,
                    row_number() OVER (PARTITION BY a.shard, a.vec_id
                      ORDER BY ${simTo("a.v", "a.nrm", "b.v", "b.nrm")}
                        DESC, b.vec_id) AS rn
             FROM $srcRel a JOIN nd_base b
               ON a.shard = b.shard AND a.vec_id <> b.vec_id) t
           WHERE rn <= $NswDegree"""
    s"""nsw_e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
        nsw_en AS MATERIALIZED (
          SELECT vec_id, v,
                 sqrt(list_sum(list_transform(range(1, 65),
                   i -> v[i] * v[i]))) AS nrm,
                 $shardKey % $NswShards AS shard
          FROM nsw_e),
        nd_base AS (SELECT * FROM nsw_en
                    WHERE vec_id % 5 <> $NswDeltaMod),
        nd_delta AS (SELECT * FROM nsw_en
                     WHERE vec_id % 5 = $NswDeltaMod),
        nd_g0 AS MATERIALIZED (${knn("nd_base")}),
        nd_fwd AS MATERIALIZED (${knn("nd_delta")}),
        nd_spl AS MATERIALIZED (
          SELECT shard, src, dst, sim FROM (
            SELECT shard, src, dst, sim,
                   row_number() OVER (PARTITION BY shard, src
                     ORDER BY sim DESC, dst) AS rn
            FROM (SELECT shard, src, dst, sim FROM nd_g0
                  UNION ALL
                  SELECT shard, dst AS src, src AS dst, sim
                  FROM nd_fwd) u) t
          WHERE rn <= $NswDegree)"""
  }

  /** Layer-1 half of the HNSW delta splice, appended to
    * [[NswDeltaCtes]]: the base layer-1 graph among base∩level-1
    * members, forward k-NN of the level-1 arrivals, and the backlink
    * re-trim — ends with `h1_delta`, `h1_fwd`, `h1_spl`. */
  private lazy val HnswDeltaL1Ctes: String = {
    import graft.ops.VectorOps.{NswDegree, HnswL1Mod, NswDeltaMod}
    val lvlKey = md5Hash60Sql("'graft-hnsw:' || CAST(vec_id AS VARCHAR)")
    def simTo(av: String, an: String, bv: String, bn: String) =
      s"ROUND(list_sum(list_transform(range(1, 65), " +
        s"i -> $av[i] * $bv[i])) / ($an * $bn), 4)"
    def knn(srcRel: String) =
      s"""SELECT shard, src, dst, sim FROM (
             SELECT a.shard, a.vec_id AS src, b.vec_id AS dst,
                    ${simTo("a.v", "a.nrm", "b.v", "b.nrm")} AS sim,
                    row_number() OVER (PARTITION BY a.shard, a.vec_id
                      ORDER BY ${simTo("a.v", "a.nrm", "b.v", "b.nrm")}
                        DESC, b.vec_id) AS rn
             FROM $srcRel a JOIN h1_base b
               ON a.shard = b.shard AND a.vec_id <> b.vec_id) t
           WHERE rn <= $NswDegree"""
    s"""h1 AS (SELECT * FROM nsw_en WHERE $lvlKey % $HnswL1Mod = 0),
        h1_base AS (SELECT * FROM h1 WHERE vec_id % 5 <> $NswDeltaMod),
        h1_delta AS (SELECT * FROM h1 WHERE vec_id % 5 = $NswDeltaMod),
        h1_g0 AS MATERIALIZED (${knn("h1_base")}),
        h1_fwd AS MATERIALIZED (${knn("h1_delta")}),
        h1_spl AS MATERIALIZED (
          SELECT shard, src, dst, sim FROM (
            SELECT shard, src, dst, sim,
                   row_number() OVER (PARTITION BY shard, src
                     ORDER BY sim DESC, dst) AS rn
            FROM (SELECT shard, src, dst, sim FROM h1_g0
                  UNION ALL
                  SELECT shard, dst AS src, src AS dst, sim
                  FROM h1_fwd) u) t
          WHERE rn <= $NswDegree)"""
  }

  /** HNSW descent replay over the POST-INSERT two-layer graph:
    * layer-1 routing beam over the spliced upper graph, then the
    * layer-0 beam over the spliced base + forward delta edges. */
  private lazy val EmbedAnnHnswDeltaSql: String = {
    import graft.ops.VectorOps.{NswBeam, NswHops, HnswL1Beam}
    def simTo(av: String, an: String, bv: String, bn: String) =
      s"ROUND(list_sum(list_transform(range(1, 65), " +
        s"i -> $av[i] * $bv[i])) / ($an * $bn), 4)"
    def hops(pfx: String, graph: String, beam: Int) =
      (1 to NswHops).map { h =>
        val prev = s"$pfx${h - 1}"
        s"""${pfx}c$h AS (SELECT DISTINCT shard, vec_id FROM (
                SELECT shard, vec_id FROM $prev
                UNION ALL
                SELECT g.shard, g.dst AS vec_id
                FROM $prev JOIN $graph g
                  ON $prev.shard = g.shard AND $prev.vec_id = g.src)),
           $pfx$h AS (SELECT shard, vec_id, sim FROM (
                SELECT c.shard, c.vec_id,
                       ${simTo("en.v", "en.nrm", "p.pv", "p.pn")} AS sim,
                       row_number() OVER (PARTITION BY c.shard
                         ORDER BY ${simTo("en.v", "en.nrm",
                           "p.pv", "p.pn")} DESC, c.vec_id) AS rn
                FROM ${pfx}c$h c JOIN nsw_en en
                  ON c.shard = en.shard AND c.vec_id = en.vec_id
                CROSS JOIN p) t
              WHERE rn <= $beam)"""
      }.mkString(",\n         ")
    s"""WITH $NswDeltaCtes,
         $HnswDeltaL1Ctes,
         e0 AS MATERIALIZED (
           SELECT shard, src, dst FROM nd_spl
           UNION ALL SELECT shard, src, dst FROM nd_fwd),
         e1 AS MATERIALIZED (
           SELECT shard, src, dst FROM h1_spl
           UNION ALL SELECT shard, src, dst FROM h1_fwd),
         p AS (SELECT v AS pv, nrm AS pn FROM nsw_en WHERE vec_id = 0),
         ent AS (SELECT al.shard,
                        COALESCE(l.vec_id, al.vec_id) AS vec_id
                 FROM (SELECT shard, min(vec_id) AS vec_id
                       FROM nsw_en GROUP BY 1) al
                 LEFT JOIN (SELECT shard, min(vec_id) AS vec_id
                            FROM h1 GROUP BY 1) l
                   ON al.shard = l.shard),
         a0 AS (SELECT e.shard, e.vec_id,
                       ${simTo("en.v", "en.nrm", "p.pv", "p.pn")} AS sim
                FROM ent e JOIN nsw_en en
                  ON e.shard = en.shard AND e.vec_id = en.vec_id
                CROSS JOIN p),
         ${hops("a", "e1", HnswL1Beam)},
         b0 AS (SELECT shard, vec_id, sim FROM a$NswHops),
         ${hops("b", "e0", NswBeam)}
         SELECT vec_id, shard, sim AS cos_sim
         FROM b$NswHops
         ORDER BY cos_sim DESC, vec_id LIMIT 10"""
  }

  /** Beam search replay over the POST-INSERT delta graph — identical
    * hop unroll to [[EmbedAnnNswSql]] but walking `nd_pg` (spliced
    * base adjacency ∪ forward delta edges) with entry points over the
    * full post-insert vertex set. */
  private lazy val EmbedAnnNswDeltaSql: String = {
    import graft.ops.VectorOps.{NswBeam, NswHops}
    def simTo(av: String, an: String, bv: String, bn: String) =
      s"ROUND(list_sum(list_transform(range(1, 65), " +
        s"i -> $av[i] * $bv[i])) / ($an * $bn), 4)"
    val hops = (1 to NswHops).map { h =>
      val prev = s"b${h - 1}"
      s"""c$h AS (SELECT DISTINCT shard, vec_id FROM (
              SELECT shard, vec_id FROM $prev
              UNION ALL
              SELECT g.shard, g.dst AS vec_id
              FROM $prev JOIN nd_pg g
                ON $prev.shard = g.shard AND $prev.vec_id = g.src)),
         b$h AS (SELECT shard, vec_id, sim FROM (
              SELECT c.shard, c.vec_id,
                     ${simTo("en.v", "en.nrm", "p.pv", "p.pn")} AS sim,
                     row_number() OVER (PARTITION BY c.shard
                       ORDER BY ${simTo("en.v", "en.nrm", "p.pv", "p.pn")}
                         DESC, c.vec_id) AS rn
              FROM c$h c JOIN nsw_en en
                ON c.shard = en.shard AND c.vec_id = en.vec_id
              CROSS JOIN p) t
            WHERE rn <= $NswBeam)"""
    }.mkString(",\n         ")
    s"""WITH $NswDeltaCtes,
         nd_pg AS MATERIALIZED (
           SELECT shard, src, dst FROM nd_spl
           UNION ALL
           SELECT shard, src, dst FROM nd_fwd),
         p AS (SELECT v AS pv, nrm AS pn FROM nsw_en WHERE vec_id = 0),
         b0 AS (SELECT s.shard, s.vec_id,
                       ${simTo("en.v", "en.nrm", "p.pv", "p.pn")} AS sim
                FROM (SELECT shard, min(vec_id) AS vec_id
                      FROM nsw_en GROUP BY 1) s
                JOIN nsw_en en
                  ON s.shard = en.shard AND s.vec_id = en.vec_id
                CROSS JOIN p),
         $hops
         SELECT vec_id, shard, sim AS cos_sim
         FROM b$NswHops
         ORDER BY cos_sim DESC, vec_id LIMIT 10"""
  }

  /** Shared BM25 CTE chain replaying [[graft.ops.TextOps.bm25MicroOf]]
    * term for term — the k1/b constants and the fixed query interpolate
    * from TextOps so the two engines cannot drift, and per-term scores
    * are micro-rounded BEFORE the cross-term sum (exact BIGINT
    * addition, no float fold order). Ends in `bm(doc_id, bm25_micro,
    * n_terms_hit)`. Used by text_bm25_topk and retrieval_hybrid_rrf. */
  private lazy val Bm25Ctes: String = {
    import graft.ops.TextOps._
    val q = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""btk AS (SELECT doc_id, tok FROM (SELECT doc_id,
                  unnest(string_split(text, ' ')) AS tok FROM documents)
                WHERE len(tok) > 0),
         bdl AS (SELECT doc_id, count(*) AS dl FROM btk GROUP BY 1),
         bst AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                        count(*) AS n_docs FROM bdl),
         btf AS (SELECT doc_id, tok, count(*) AS tf FROM btk
                 WHERE tok IN ($q) GROUP BY 1, 2),
         bdf AS (SELECT tok, count(*) AS df FROM btf GROUP BY 1),
         bsc AS (SELECT doc_id,
                   CAST(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                        * (tf * $Bm25K1p1)
                        / (tf + $Bm25K1
                           * ($Bm25OneMinusB + $Bm25B * dl / avgdl))
                        * 1000000.0) AS BIGINT) AS s_micro
                 FROM btf JOIN bdf USING (tok) JOIN bdl USING (doc_id)
                 CROSS JOIN bst),
         bm AS (SELECT doc_id, CAST(sum(s_micro) AS BIGINT) AS bm25_micro,
                       count(*) AS n_terms_hit FROM bsc GROUP BY 1)"""
  }

  /** Unrolled MMR greedy picks replaying
    * [[graft.ops.VectorOps.embedMmrRerank]]: top-20 candidate pool by
    * micro-rounded probe cosine, then K rounds of (7·sim_q −
    * 3·max-sim-to-selected) floorDiv 10, each pick the (score DESC,
    * id) top-1 over the remaining pool. */
  private def mmrRerankSql(picks: Int): String = {
    val dotExpr = (a: String, b: String, na: String, nb: String) =>
      s"""CAST(ROUND(list_sum(list_transform(range(1, 65),
            i -> $a[i] * $b[i])) / ($na * $nb) * 1000000) AS BIGINT)"""
    val base = s"""WITH e AS (SELECT vec_id,
                          CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
         en AS (SELECT vec_id, v,
                       sqrt(list_sum(list_transform(range(1, 65),
                         i -> v[i] * v[i]))) AS nrm FROM e),
         p AS (SELECT v AS pv, nrm AS pnrm FROM en WHERE vec_id = 0),
         pool AS MATERIALIZED (
                 SELECT vec_id, v, nrm,
                        ${dotExpr("v", "pv", "nrm", "pnrm")} AS sq
                 FROM en CROSS JOIN p WHERE vec_id <> 0
                 ORDER BY sq DESC, vec_id LIMIT 20),
         s1 AS MATERIALIZED (
                 SELECT vec_id, v, nrm, sq, 1 AS rank,
                        CAST((7 * sq - ((7 * sq % 10 + 10) % 10)) // 10
                          AS BIGINT) AS score_micro
                 FROM pool ORDER BY score_micro DESC, vec_id LIMIT 1),
         sel1 AS (SELECT * FROM s1)"""
    val steps = (2 to picks).map { k =>
      s""",
         ms$k AS MATERIALIZED (
                 SELECT c.vec_id,
                        max(${dotExpr("c.v", "s.v", "c.nrm", "s.nrm")})
                          AS ms
                 FROM pool c JOIN sel${k - 1} s ON true
                 WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${k - 1})
                 GROUP BY c.vec_id),
         s$k AS MATERIALIZED (
                 SELECT vec_id, v, nrm, sq, $k AS rank,
                        CAST((raw - ((raw % 10 + 10) % 10)) // 10
                          AS BIGINT) AS score_micro
                 FROM (SELECT c.vec_id, c.v, c.nrm, c.sq,
                              7 * c.sq - 3 * m.ms AS raw
                       FROM pool c JOIN ms$k m ON m.vec_id = c.vec_id)
                 ORDER BY score_micro DESC, vec_id LIMIT 1),
         sel$k AS (SELECT * FROM sel${k - 1}
                   UNION ALL SELECT * FROM s$k)"""
    }.mkString
    base + steps + s"""
         SELECT CAST(rank AS INT) AS rank, vec_id,
                sq AS sim_q_micro, score_micro
         FROM sel$picks ORDER BY rank"""
  }

  /** INT8 scalar-quantization replay (per-dimension absmax scale +
    * floor-half-up codes), mirroring `VectorOps.int8Codes` — shared by
    * the quantize census and the int8 recall eval. Ends in
    * `q(vec_id, v, q8)` and `am(amax)`. */
  private val Int8Ctes =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
        ex AS (SELECT vec_id, i, v[i] AS x FROM e, range(1, 65) r(i)),
        am0 AS (SELECT i, max(abs(x)) AS a FROM ex GROUP BY i),
        am AS (SELECT list(a ORDER BY i) AS amax FROM am0),
        q AS (SELECT vec_id, v,
                     list_transform(range(1, 65), i ->
                       CASE WHEN amax[i] = 0
                            THEN CAST(0 AS BIGINT)
                            ELSE CAST(floor(127 * v[i] / amax[i] + 0.5)
                                      AS BIGINT) END) AS q8
              FROM e CROSS JOIN am)"""

  /** IVF replay (centroid build, nprobe cut, both float shapes) —
    * shared by its own entry and the recall-eval composition below. */
  private val EmbedAnnIvfSql = annIvfSql(3)

  /** The IVF replay with a caller-chosen nprobe — mirrors
    * [[graft.ops.VectorOps.annIvf]]; shared by the registered
    * nprobe=3 key and the tuning-sweep oracle. */
  private def annIvfSql(nprobe: Int): String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        cells AS (SELECT label, i AS pos, v[i] AS cv
                  FROM e, range(1, 65) r(i)),
        means AS (SELECT label, pos,
                         CAST(SUM(CAST(cv AS DECIMAL(27,10))) AS DOUBLE)
                           / COUNT(*) AS mean_v
                  FROM cells GROUP BY label, pos),
        cent AS (SELECT label, list(mean_v ORDER BY pos) AS c
                 FROM means GROUP BY label),
        probe AS (SELECT v AS pv FROM e WHERE vec_id = 0),
        nb AS (SELECT label FROM (
                 SELECT cent.label,
                        ROUND(list_sum(list_transform(range(1, 65),
                                i -> c[i] * pv[i]))
                          / sqrt(list_sum(list_transform(range(1, 65),
                                   i -> c[i] * c[i]))
                               * list_sum(list_transform(range(1, 65),
                                   i -> pv[i] * pv[i]))), 6) AS cs
                 FROM cent, probe)
               ORDER BY cs DESC, label LIMIT $nprobe)
        SELECT vec_id, label, cos_sim FROM (
          SELECT e.vec_id, e.label,
                 ROUND(list_sum(list_transform(range(1, 65),
                         i -> e.v[i] * pv[i]))
                   / (sqrt(list_sum(list_transform(range(1, 65),
                             i -> e.v[i] * e.v[i])))
                    * sqrt(list_sum(list_transform(range(1, 65),
                             i -> pv[i] * pv[i])))), 4) AS cos_sim
          FROM e JOIN nb ON e.label = nb.label, probe)
        ORDER BY cos_sim DESC, vec_id LIMIT 10"""

  /** Shared 1-bit code replay (floor-micro cells, per-dim truncating
    * mean threshold, shifted-sum packing into two BIGINT words) —
    * mirrors [[graft.ops.VectorOps.binaryCodes]]; shared by the
    * quantize and hamming-recall entries. */
  private val BinaryCodesCtes =
    """cells AS MATERIALIZED (
          SELECT e.vec_id, e.label, p.i - 1 AS pos,
                 CAST(floor(CAST(e.embedding[p.i] AS DOUBLE) * 1000000)
                   AS BIGINT) AS em
          FROM embeddings e
          CROSS JOIN (SELECT unnest(range(1, 65)) AS i) p),
        mu AS (SELECT pos, CAST(sum(em) // count(*) AS BIGINT) AS mu
               FROM cells GROUP BY 1),
        bits AS (SELECT vec_id, label, pos,
                        CASE WHEN em > mu THEN CAST(1 AS BIGINT)
                             ELSE CAST(0 AS BIGINT) END AS bit
                 FROM cells JOIN mu USING (pos)),
        codes AS MATERIALIZED (
          SELECT vec_id, label,
                 CAST(sum(CASE WHEN pos < 32 THEN bit << pos
                               ELSE 0 END) AS BIGINT) AS code_lo,
                 CAST(sum(CASE WHEN pos >= 32 THEN bit << (pos - 32)
                               ELSE 0 END) AS BIGINT) AS code_hi,
                 CAST(sum(bit) AS BIGINT) AS n_ones
          FROM bits GROUP BY 1, 2)"""

  val sql: Map[String, String] = Map(
    // lineitem has no unique key (dup (l_orderkey,l_linenumber) pairs) →
    // ORDER BY ALL output columns, matching the Spark side's totalOrder.
    "scan_dim_table" ->
      "SELECT * FROM region ORDER BY r_regionkey",

    "scan_parquet" ->
      "SELECT * FROM lineitem ORDER BY ALL",

    "scan_projection" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         ORDER BY ALL""",

    "scan_pruned_filter" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
         WHERE l_shipdate < TIMESTAMP '1996-01-01'
         ORDER BY ALL""",

    // the Spark side CSV/JSON round-trips the table through a temp
    // copy; the oracle checks round-trip fidelity against the original
    "scan_csv_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
         ORDER BY n_nationkey""",

    "scan_json_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, text FROM documents
         ORDER BY doc_id""",

    "scan_orc_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders ORDER BY o_orderkey""",

    // line-oriented text carries no ids — the census IS the contract
    "scan_text_roundtrip" ->
      """SELECT count(*) AS n_lines,
                CAST(sum(length(text)) AS BIGINT) AS total_chars,
                min(length(text)) AS min_chars,
                max(length(text)) AS max_chars,
                count(DISTINCT text) AS n_distinct
         FROM documents""",

    // the partitioned round-trip prunes to lang='en' directories; the
    // oracle is the equivalent plain filter on the originals
    "scan_partitioned_pruned" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE lang = 'en' ORDER BY doc_id""",

    // DPP is a plan property (runtime partition pruning) — the result
    // must equal the plain dim-filtered join
    "join_dpp_pruned" ->
      """WITH dim AS (SELECT DISTINCT lang,
                             CASE WHEN lang IN ('en', 'de')
                                  THEN 'major' ELSE 'minor' END AS tier
                      FROM documents)
         SELECT d.lang, m.tier, count(*) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM documents d JOIN dim m USING (lang)
         WHERE m.tier = 'major'
         GROUP BY 1, 2 ORDER BY d.lang""",

    // bucketing is a layout/plan property — the result must equal the
    // plain join byte for byte
    "join_bucketed_colocated" ->
      s"""SELECT o_orderstatus, count(*) AS n_lines,
                 ${sqlSum2("l_extendedprice")} AS sum_price
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY 1 ORDER BY 1""",

    "filter_predicate" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
         FROM lineitem
         WHERE (l_quantity BETWEEN 10 AND 20 OR l_returnflag IN ('A','R'))
           AND NOT (l_discount > 0.05) AND l_linestatus = 'F'
         ORDER BY ALL""",

    "filter_like_regexp" ->
      """SELECT p_partkey, p_name, p_brand, p_type FROM part
         WHERE p_name LIKE '%widget%'
           AND regexp_matches(p_type, '^(ECONOMY|PROMO)$')
         ORDER BY p_partkey""",

    "filter_null_semantics" ->
      """SELECT o.o_orderkey,
                (t.tp IS NULL) AS was_pending,
                (t.tp IS NOT NULL) AS matched,
                (t.tp IS NOT DISTINCT FROM o.o_totalprice) AS price_eq_nullsafe
         FROM orders o
         LEFT JOIN (SELECT o_orderkey AS ok, o_totalprice AS tp
                    FROM orders WHERE o_orderstatus <> 'P') t
           ON o.o_orderkey = t.ok
         ORDER BY o.o_orderkey""",

    "project_case_when" ->
      """SELECT o_orderkey,
                CASE WHEN o_totalprice < 50000 THEN 'small'
                     WHEN o_totalprice < 200000 THEN 'medium'
                     WHEN o_orderstatus = 'F' THEN 'large_final'
                     ELSE 'large_open' END AS bucket
         FROM orders ORDER BY o_orderkey""",

    // the SQL-text front-end exhibit: same query, no views
    "sql_query_interface" ->
      s"""SELECT n_name, o_orderpriority,
                 count(*) AS n_orders,
                 ${sqlSum2("o_totalprice")} AS revenue
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON n_nationkey = c_nationkey
          GROUP BY n_name, o_orderpriority
          ORDER BY n_name, o_orderpriority""",

    // replays Relational.sqlStarTopk — returned-item revenue top-20,
    // revenue decimal-exact, ties broken by custkey for a
    // deterministic LIMIT
    "sql_star_topk" ->
      """SELECT c_custkey, c_name, n_name, count(*) AS n_items,
                CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(1 - l_discount AS DECIMAL(12,2))), 2) AS DOUBLE)
                  AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-04-01'
         GROUP BY c_custkey, c_name, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20""",

    "graph_traverse_3hop_agg" ->
      s"""SELECT r_name, n_name, count(*) AS n_orders,
                 ${sqlSum2("o_totalprice")} AS revenue
          FROM region
          JOIN nation ON n_regionkey = r_regionkey
          JOIN customer ON c_nationkey = n_nationkey
          JOIN orders ON o_custkey = c_custkey
          GROUP BY r_name, n_name
          ORDER BY r_name, n_name""",

    // §2.3 joins
    "join_broadcast" ->
      """SELECT o_orderkey, c_name, c_mktsegment, o_totalprice
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""",

    "join_shuffle_sortmerge" ->
      s"""SELECT o_orderstatus, count(*) AS n_lines,
                 ${sqlSum2("l_extendedprice")} AS sum_price
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "join_left_outer" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         ORDER BY c_custkey, o_orderkey NULLS FIRST""",

    "join_full_outer" ->
      """SELECT COALESCE(nk_c, nk_s) AS nationkey, n_cust, n_supp
         FROM (SELECT c_nationkey AS nk_c, count(*) AS n_cust
               FROM customer GROUP BY 1) c
         FULL JOIN (SELECT s_nationkey AS nk_s, count(*) AS n_supp
                    FROM supplier GROUP BY 1) s ON nk_c = nk_s
         ORDER BY nationkey""",

    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",

    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
         ORDER BY c_custkey""",

    "join_theta_range" ->
      s"""SELECT bracket, count(*) AS n_lines,
                 ${sqlSum2("l_extendedprice")} AS sum_price
          FROM lineitem
          JOIN (VALUES ('low', 0.0, 15.0), ('mid', 15.0, 35.0),
                       ('high', 35.0, 51.0)) b(bracket, lo, hi)
            ON l_quantity >= lo AND l_quantity < hi
          GROUP BY bracket ORDER BY bracket""",

    // the bucketed variant must produce the IDENTICAL result to the
    // plain theta join — the buckets are a join-strategy detail the
    // exact re-filter erases, so the oracle is the same range join
    // replays Relational.joinLateralTopk — DuckDB runs the same
    // LATERAL text natively
    "join_lateral_topk" ->
      """SELECT c.c_custkey, t.o_orderkey, t.price_cents
         FROM customer c
         JOIN LATERAL (
           SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT)
                    AS price_cents
           FROM orders
           WHERE o_custkey = c.c_custkey
           ORDER BY price_cents DESC, o_orderkey
           LIMIT 2) t ON true
         ORDER BY c.c_custkey, t.price_cents DESC, t.o_orderkey""",

    "join_range_bucketed" ->
      s"""SELECT bracket, count(*) AS n_lines,
                 ${sqlSum2("l_extendedprice")} AS sum_price
          FROM lineitem
          JOIN (VALUES ('low', 0.0, 15.0), ('mid', 15.0, 35.0),
                       ('high', 35.0, 51.0)) b(bracket, lo, hi)
            ON l_quantity >= lo AND l_quantity < hi
          GROUP BY bracket ORDER BY bracket""",

    "join_asof" ->
      """SELECT p.event_id AS p_id, p.user_id AS p_user,
                v.ts_sec AS prior_ts
         FROM (SELECT event_id, user_id, date_trunc('second', ts) AS ts_sec
               FROM events WHERE event_type = 'purchase') p
         ASOF JOIN (SELECT user_id, date_trunc('second', ts) AS ts_sec
                    FROM events
                    WHERE event_type IN ('signup','view')) v
           ON p.user_id = v.user_id AND p.ts_sec >= v.ts_sec
         ORDER BY p_id""",

    // replays Joins.joinAsofTolerance: backward as-of bounded by the
    // staleness window, LEFT semantics with a matched flag
    "join_asof_tolerance" ->
      s"""WITH p AS (SELECT event_id AS p_id, user_id AS p_user,
                            date_trunc('second', ts) AS p_ts
                     FROM events WHERE event_type = 'purchase'),
          v AS (SELECT user_id AS v_user,
                       date_trunc('second', ts) AS v_ts
                FROM events WHERE event_type IN ('signup','view'))
          SELECT p_id, p_user, max(v_ts) AS prior_ts,
                 CAST(CASE WHEN max(v_ts) IS NOT NULL THEN 1 ELSE 0 END
                   AS BIGINT) AS matched
          FROM p LEFT JOIN v
            ON p_user = v_user AND v_ts <= p_ts
               AND v_ts >= p_ts -
                 INTERVAL ${graft.ops.Joins.AsofToleranceSec} SECOND
          GROUP BY p_id, p_user ORDER BY p_id""",

    // replays Joins.joinAsofForward: earliest at-or-after candidate,
    // left semantics with matched flag
    "join_asof_forward" ->
      """WITH p AS (SELECT event_id AS p_id, user_id AS p_user,
                           date_trunc('second', ts) AS p_ts
                    FROM events WHERE event_type = 'purchase'),
         v AS (SELECT user_id AS v_user,
                      date_trunc('second', ts) AS v_ts
               FROM events WHERE event_type IN ('signup','view'))
         SELECT p_id, p_user, min(v_ts) AS next_ts,
                CAST(CASE WHEN min(v_ts) IS NOT NULL THEN 1 ELSE 0 END
                  AS BIGINT) AS matched
         FROM p LEFT JOIN v
           ON p_user = v_user AND v_ts >= p_ts
         GROUP BY p_id, p_user ORDER BY p_id""",

    // replays Joins.joinAsofNearest: nearest by (|gap|, v_ts) total
    // order — tie breaks to the earlier candidate in both engines
    "join_asof_nearest" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
                            date_trunc('second', ts) AS ts_sec
                     FROM events),
         p AS (SELECT event_id AS p_id, user_id AS p_user,
                      ts_sec AS p_ts
               FROM ev WHERE event_type = 'purchase'),
         v AS (SELECT user_id AS v_user, ts_sec AS v_ts
               FROM ev WHERE event_type IN ('signup', 'view')),
         j AS (SELECT p_id, p_user, v_ts,
                      CAST(date_diff('second', p_ts, v_ts) AS BIGINT)
                        AS gap_sec
               FROM p JOIN v ON p_user = v_user)
         SELECT p_id, p_user, nearest_ts, gap_sec FROM (
           SELECT p_id, p_user, v_ts AS nearest_ts, gap_sec,
                  row_number() OVER (PARTITION BY p_id
                    ORDER BY abs(gap_sec), v_ts) AS rk
           FROM j)
         WHERE rk = 1 ORDER BY p_id""",

    // replays Joins.joinIntervalOverlap: user-day activity spans vs
    // busy purchase hours, day equi-key + exact overlap predicate
    "join_interval_overlap" ->
      s"""WITH ev AS (SELECT user_id, event_type,
                             date_trunc('second', ts) AS ts_sec
                      FROM events),
         spans AS (SELECT user_id, CAST(ts_sec AS DATE) AS d,
                          min(ts_sec) AS s_start, max(ts_sec) AS s_end
                   FROM ev GROUP BY 1, 2),
         busy AS (SELECT CAST(h_start AS DATE) AS d, h_start,
                         h_start + INTERVAL 1 HOUR AS h_end
                  FROM (SELECT date_trunc('hour', ts_sec) AS h_start,
                               count(*) AS n
                        FROM ev WHERE event_type = 'purchase'
                        GROUP BY 1)
                  WHERE n >= ${graft.ops.Joins.BusyHourMinPurchases})
         SELECT s.user_id, s.d, count(*) AS n_busy_hours,
                min(b.h_start) AS first_busy
         FROM spans s JOIN busy b ON s.d = b.d
           AND s.s_start < b.h_end AND b.h_start <= s.s_end
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "join_cross_limited" ->
      """SELECT r_regionkey, r_name, n_nationkey, n_name
         FROM region CROSS JOIN nation
         ORDER BY r_regionkey, n_nationkey""",

    // §2.4 aggregations
    "agg_hash_groupby" ->
      s"""SELECT l_returnflag, l_linestatus,
                 ${sqlSum2("l_quantity")} AS sum_qty,
                 ${sqlSum2("l_extendedprice")} AS sum_base_price,
                 CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * CAST(1 - l_discount AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_disc_price,
                 CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * CAST(1 - l_discount AS DECIMAL(12,2))
                   * CAST(1 + l_tax AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_charge,
                 ${sqlAvg2("l_quantity")} AS avg_qty,
                 ${sqlAvg2("l_extendedprice")} AS avg_price,
                 ${sqlAvg2("l_discount")} AS avg_disc,
                 count(*) AS count_order
          FROM lineitem
          GROUP BY l_returnflag, l_linestatus
          ORDER BY l_returnflag, l_linestatus""",

    // replays Aggregations.aggBitmapDistinct — OR-aggregated 32-bit
    // chunks, distinct = sum of popcounts, exact twin side by side
    // roaring container-layout census: exact counts + the array/bitmap
    // container switch at the real 4096 threshold, all-integer
    "agg_bitmap_roaring" ->
      """WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
         c AS (SELECT event_type, user_id // 65536 AS cont,
                      count(*) AS card
               FROM d GROUP BY 1, 2),
         k AS (SELECT event_type, CAST(count(*) * 8 AS BIGINT)
                        AS chunk_bytes
               FROM (SELECT DISTINCT event_type, user_id // 32 AS bkt
                     FROM d) GROUP BY 1),
         r AS (SELECT event_type,
                      CAST(sum(card) AS BIGINT) AS n_users,
                      CAST(count(*) AS BIGINT) AS n_containers,
                      CAST(sum(CASE WHEN card <= 4096 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_array_containers,
                      CAST(count(*)
                        - sum(CASE WHEN card <= 4096 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_bitmap_containers,
                      CAST(sum(CASE WHEN card <= 4096 THEN card * 2
                               ELSE 8192 END) AS BIGINT) AS roaring_bytes
               FROM c GROUP BY 1)
         SELECT event_type, n_users, n_containers, n_array_containers,
                n_bitmap_containers, roaring_bytes, chunk_bytes,
                (1000 * roaring_bytes) // chunk_bytes
                  AS permille_vs_chunks
         FROM r JOIN k USING (event_type) ORDER BY event_type""",

    "agg_bitmap_distinct" ->
      """WITH ch AS (SELECT event_type, user_id // 32 AS bkt,
                  bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT))
                    AS bits
           FROM events GROUP BY 1, 2),
         bm AS (SELECT event_type,
                       CAST(sum(bit_count(bits)) AS BIGINT)
                         AS n_users_bitmap,
                       CAST(count(*) AS BIGINT) AS n_chunks
                FROM ch GROUP BY 1),
         ex AS (SELECT event_type,
                       count(DISTINCT user_id) AS n_users_exact
                FROM events GROUP BY 1)
         SELECT event_type, n_users_bitmap, n_users_exact, n_chunks,
                n_users_bitmap = n_users_exact AS agree
         FROM bm JOIN ex USING (event_type)
         ORDER BY event_type""",

    "agg_count_distinct" ->
      """SELECT l_returnflag,
                count(DISTINCT l_partkey) AS n_parts,
                count(DISTINCT l_suppkey) AS n_supps,
                count(*) AS n_lines
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "agg_rollup" ->
      s"""SELECT r_name, n_name,
                 CAST(GROUPING(r_name) AS INT) AS g_region,
                 CAST(GROUPING(n_name) AS INT) AS g_nation,
                 count(*) AS n_cust,
                 ${sqlSum2("c_acctbal")} AS sum_bal
          FROM region
          JOIN nation ON n_regionkey = r_regionkey
          JOIN customer ON c_nationkey = n_nationkey
          GROUP BY ROLLUP(r_name, n_name)
          ORDER BY g_region, g_nation,
                   r_name NULLS FIRST, n_name NULLS FIRST""",

    "agg_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority,
                 CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
                 CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
                 count(*) AS n_orders,
                 ${sqlSum2("o_totalprice")} AS sum_price
          FROM orders
          GROUP BY CUBE(o_orderstatus, o_orderpriority)
          ORDER BY g_status, g_prio,
                   o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",

    "agg_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
                CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
                CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
                count(*) AS n_orders
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY g_status, g_prio,
                  o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",

    "agg_min_max_by" ->
      """WITH ranked AS (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
           FROM orders)
         SELECT a.o_custkey, a.o_orderkey AS best_order,
                a.o_totalprice AS best_price, b.o_orderkey AS worst_order
         FROM ranked a
         JOIN ranked b ON a.o_custkey = b.o_custkey
         WHERE a.rmax = 1 AND b.rmin = 1
         ORDER BY a.o_custkey""",

    "agg_collect_sorted" ->
      """SELECT o_custkey, array_to_string(
           list(o_orderkey ORDER BY o_orderkey), ',') AS order_keys
         FROM orders WHERE o_orderstatus = 'P'
         GROUP BY o_custkey ORDER BY o_custkey""",

    "agg_filtered" ->
      """SELECT o_orderpriority,
                count(*) FILTER (o_orderstatus = 'F') AS n_finished,
                count(*) FILTER (o_totalprice > 200000) AS n_large,
                CAST(ROUND(SUM(CAST(CASE WHEN o_orderstatus = 'O'
                  THEN o_totalprice ELSE 0.0 END AS DECIMAL(18,4))), 2)
                  AS DOUBLE) AS open_revenue
         FROM orders GROUP BY 1 ORDER BY o_orderpriority""",

    "agg_string_concat" ->
      """SELECT o_custkey,
                string_agg(CAST(o_orderkey AS VARCHAR), ','
                  ORDER BY CAST(o_orderkey AS VARCHAR)) AS order_csv
         FROM orders WHERE o_orderstatus = 'P'
         GROUP BY 1 ORDER BY o_custkey""",

    "agg_histogram" ->
      """SELECT CAST(FLOOR(o_totalprice / 25000) * 25000 AS BIGINT)
                  AS bucket_lo,
                count(*) AS n_orders
         FROM orders GROUP BY 1 ORDER BY bucket_lo""",

    // deterministic mode: highest count, smallest value on ties —
    // row_number replays Spark's max(struct(c, -qty)) argmax exactly
    "agg_mode" ->
      """WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS c
                    FROM lineitem GROUP BY 1, 2),
         r AS (SELECT l_returnflag, l_quantity, c,
                      row_number() OVER (PARTITION BY l_returnflag
                        ORDER BY c DESC, l_quantity ASC) AS rn
               FROM c)
         SELECT l_returnflag, l_quantity AS mode_qty, c AS mode_count
         FROM r WHERE rn = 1 ORDER BY l_returnflag""",

    // replays VecSumMicroAggregator: floor(x·1e6) BIGINT micro-units
    // (float widened to double BEFORE the multiply, like the Scala
    // side), exact integer sums per label
    "agg_custom_vecsum_exact" ->
      """SELECT label,
                CAST(SUM(CAST(floor(CAST(embedding[1] AS DOUBLE)
                  * 1000000) AS BIGINT)) AS BIGINT) AS first_dim_micro,
                CAST(SUM(list_sum(list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000000)
                    AS BIGINT)))) AS BIGINT) AS sum_all_micro
         FROM embeddings GROUP BY label ORDER BY label""",

    "scalar_bitwise" ->
      """SELECT o_orderkey,
                o_orderkey & 255 AS and_255,
                o_orderkey | 4096 AS or_4096,
                xor(o_orderkey, 43690) AS xor_aaaa,
                o_orderkey << 3 AS shl3,
                o_orderkey >> 2 AS shr2,
                CAST(bit_count(o_orderkey) AS INT) AS popcount
         FROM orders ORDER BY o_orderkey""",

    "scalar_regex" ->
      """SELECT p_partkey,
                regexp_extract(p_name, '^(\w+) (\w+)$', 1) AS adjective,
                regexp_extract(p_name, '^(\w+) (\w+)$', 2) AS noun,
                regexp_replace(p_type, '[AEIOU]', '_', 'g') AS type_masked,
                CAST(len(regexp_split_to_array(p_name, '[aeiou]')) - 1
                  AS BIGINT) AS n_vowels
         FROM part ORDER BY p_partkey""",

    // §2.4bis statistical aggregates / reshaping / sampling
    "agg_stats_moments" ->
      """WITH m AS (
           SELECT l_returnflag, count(*) AS n,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sx,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sy,
                  CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sxx,
                  CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS syy,
                  CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sxy
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, n,
                ROUND((sxx - sx * sx / n) / (n - 1), 4) AS var_qty,
                ROUND(sqrt((sxx - sx * sx / n) / (n - 1)), 4) AS stddev_qty,
                ROUND((sxy - sx * sy / n) / (n - 1), 4) AS covar_qp,
                ROUND((n * sxy - sx * sy)
                      / (sqrt(n * sxx - sx * sx)
                       * sqrt(n * syy - sy * sy)), 6) AS corr_qp
         FROM m ORDER BY l_returnflag""",

    // replays Stats.aggSkewKurtosis — same decimal power sums, central
    // moments in identical double shape, m2^1.5 as m2·sqrt(m2)
    "agg_skew_kurtosis" ->
      """WITH m AS (
           SELECT l_returnflag, count(*) AS n,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(30,4)))
                    AS DOUBLE) AS s1,
                  CAST(SUM(CAST(l_quantity * l_quantity
                    AS DECIMAL(30,4))) AS DOUBLE) AS s2,
                  CAST(SUM(CAST(l_quantity * l_quantity * l_quantity
                    AS DECIMAL(30,4))) AS DOUBLE) AS s3,
                  CAST(SUM(CAST(l_quantity * l_quantity * l_quantity
                    * l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS s4
           FROM lineitem GROUP BY 1),
         c AS (SELECT l_returnflag, n, s1 / n AS mu, s1, s2, s3, s4
               FROM m),
         mm AS (SELECT l_returnflag, n,
                       s2 / n - mu * mu AS m2,
                       s3 / n - 3.0 * mu * (s2 / n)
                         + 2.0 * mu * mu * mu AS m3,
                       s4 / n - 4.0 * mu * (s3 / n)
                         + 6.0 * mu * mu * (s2 / n)
                         - 3.0 * mu * mu * mu * mu AS m4
                FROM c)
         SELECT l_returnflag, n,
                ROUND(m3 / (m2 * sqrt(m2)), 6) AS skewness,
                ROUND(m4 / (m2 * m2) - 3.0, 6) AS kurtosis_excess
         FROM mm ORDER BY l_returnflag""",

    // replays Stats.aggWeightedMedian — the RANGE (default) cumulative
    // frame sums peer rows together, making the threshold row
    // independent of tie order
    "agg_weighted_median" ->
      """WITH li AS (SELECT l_returnflag,
                CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
                CAST(round(l_quantity) AS BIGINT) AS qty
              FROM lineitem),
         c AS (SELECT l_returnflag, cents,
                      SUM(qty) OVER (PARTITION BY l_returnflag
                                     ORDER BY cents) AS cw,
                      SUM(qty) OVER (PARTITION BY l_returnflag) AS tot
               FROM li)
         SELECT l_returnflag,
                CAST(min(cents) AS BIGINT) AS weighted_median_cents,
                CAST(min(tot) AS BIGINT) AS total_qty
         FROM c WHERE cw * 2 >= tot
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    // replays Stats.aggGiniImpurity — all-integer micro impurity of
    // the per-nation priority mix; `//` and Spark's `div` both
    // truncate toward zero
    "agg_gini_impurity" ->
      """WITH c AS (SELECT n_name, o_orderpriority, count(*) AS c
                    FROM orders
                    JOIN customer ON o_custkey = c_custkey
                    JOIN nation ON c_nationkey = n_nationkey
                    GROUP BY 1, 2)
         SELECT n_name, CAST(SUM(c) AS BIGINT) AS n_orders,
                count(*) AS n_classes,
                CAST((1000000 * (SUM(c) * SUM(c) - SUM(c * c)))
                  // (SUM(c) * SUM(c)) AS BIGINT) AS gini_micro
         FROM c GROUP BY n_name ORDER BY n_name""",

    // replays TimeSeries.eventsInterArrival: keyed lag gaps, then
    // exact quantiles off the per-type distinct-gap histogram
    // discrete churn hazard over per-user purchase lifetimes in weeks:
    // d/n per bucket exact, at-risk via a descending cumulative window
    "events_churn_hazard" ->
      """WITH life AS (SELECT user_id,
                (CAST(epoch(date_trunc('second', max(ts))) AS BIGINT)
                 - CAST(epoch(date_trunc('second', min(ts))) AS BIGINT))
                  // 604800 AS week
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
         byw AS (SELECT week, count(*) AS n_churned
                 FROM life GROUP BY 1),
         r AS (SELECT week, n_churned,
                 CAST(SUM(n_churned) OVER (ORDER BY week DESC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_risk
               FROM byw)
         SELECT week, n_at_risk, CAST(n_churned AS BIGINT) AS n_churned,
                (1000 * n_churned) // n_at_risk AS hazard_permille
         FROM r ORDER BY week""",

    "events_inter_arrival" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
                           date_trunc('second', ts) AS ts_sec
                    FROM events),
         g AS (SELECT event_type,
                      CAST(epoch(ts_sec) AS BIGINT)
                        - CAST(epoch(prev) AS BIGINT) AS gap_s
               FROM (SELECT *, lag(ts_sec) OVER
                       (PARTITION BY user_id, event_type
                        ORDER BY ts_sec, event_id) AS prev
                     FROM e)
               WHERE prev IS NOT NULL),
         c AS (SELECT event_type, gap_s, count(*) AS c
               FROM g GROUP BY 1, 2),
         r AS (SELECT event_type, gap_s, c,
                      CAST(sum(c) OVER (PARTITION BY event_type
                        ORDER BY gap_s
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS cum,
                      CAST(sum(c) OVER (PARTITION BY event_type)
                        AS BIGINT) AS n
               FROM c)
         SELECT event_type, max(n) AS n_gaps,
                min(CASE WHEN cum >= (n + 1) // 2 THEN gap_s END)
                  AS median_gap_s,
                min(CASE WHEN cum >= (9 * (n - 1)) // 10 + 1
                  THEN gap_s END) AS p90_gap_s,
                min(gap_s) AS min_gap_s, max(gap_s) AS max_gap_s
         FROM r GROUP BY 1 ORDER BY event_type""",

    // replays TimeSeries.timeseriesDrawdown: cumulative-max window
    // over the cents series, per-user peak-to-trough reduce
    "timeseries_drawdown" ->
      """WITH p AS (SELECT user_id, event_id,
                           date_trunc('second', ts) AS ts_sec,
                           CAST(round(value * 100) AS BIGINT) AS cents
                    FROM events WHERE event_type = 'purchase'),
         r AS (SELECT user_id, cents,
                      max(cents) OVER (PARTITION BY user_id
                        ORDER BY ts_sec, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS peak
               FROM p)
         SELECT user_id, count(*) AS n_purchases,
                max(cents) AS peak_cents,
                max(peak - cents) AS max_drawdown_cents
         FROM r GROUP BY 1 ORDER BY user_id""",

    // replays TimeSeries.eventsAbLift: salted-hash variant, exact
    // floor-mean-cents conversion, pooled two-proportion z in micro
    "events_ab_lift" ->
      s"""WITH u AS (SELECT user_id,
                 CAST(sum(CAST(round(value * 100) AS BIGINT))
                   // count(*) AS BIGINT) AS mean_cents
               FROM events WHERE event_type = 'purchase' GROUP BY 1),
         uv AS (SELECT user_id,
                       CAST(mean_cents >= 5000 AS BIGINT) AS conv,
                       ${md5Hash60Sql(
                         "'graft-ab:' || CAST(user_id AS VARCHAR)")}
                         % 2 AS v
                FROM u),
         ag AS (SELECT v, count(*) AS n, CAST(sum(conv) AS BIGINT) AS c
                FROM uv GROUP BY 1),
         av AS (SELECT n AS n_a, c AS c_a FROM ag WHERE v = 0),
         bv AS (SELECT n AS n_b, c AS c_b FROM ag WHERE v = 1)
         SELECT n_a, c_a, n_b, c_b,
                CAST((1000 * c_a) // n_a AS BIGINT) AS rate_a_permille,
                CAST((1000 * c_b) // n_b AS BIGINT) AS rate_b_permille,
                CAST(round((c_a / n_a - c_b / n_b)
                  / sqrt((c_a + c_b) / (n_a + n_b)
                       * (1.0 - (c_a + c_b) / (n_a + n_b))
                       * (1.0 / n_a + 1.0 / n_b))
                  * 1000000.0) AS BIGINT) AS z_micro
         FROM av CROSS JOIN bv""",

    // replays Stats.statsKsTest — exact cross-multiplied integer KS
    // distance over the merged value support, argmax by (D, value)
    "stats_ks_test" ->
      """WITH h AS (SELECT n_chars,
                  CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
                  CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
                    AS BIGINT) AS b
           FROM documents WHERE source IN ('src0', 'src1')
           GROUP BY 1),
         t AS (SELECT CAST(sum(a) AS BIGINT) AS n_a,
                      CAST(sum(b) AS BIGINT) AS n_b FROM h),
         c AS (SELECT n_chars,
                      CAST(sum(a) OVER w AS BIGINT) AS ca,
                      CAST(sum(b) OVER w AS BIGINT) AS cb
               FROM h WINDOW w AS (ORDER BY n_chars
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         d AS (SELECT n_chars, n_a, n_b,
                      abs(ca * n_b - cb * n_a) AS d_num
               FROM c CROSS JOIN t
               ORDER BY d_num DESC, n_chars LIMIT 1)
         SELECT n_a, n_b, n_chars AS d_at, d_num,
                CAST((1000 * d_num) // (n_a * n_b) AS BIGINT)
                  AS ks_permille
         FROM d""",

    // replays Stats.statsMannWhitney — per-value histograms, then
    // 2·U1 from the histogram cross join (ties at single credit,
    // greater at double), AUC in exact micro
    "stats_mannwhitney" ->
      """WITH d AS (SELECT source,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS v
           FROM documents WHERE source IN ('src0', 'src1')),
         h AS (SELECT source, v, count(*) AS c FROM d GROUP BY 1, 2),
         ha AS (SELECT v AS va, c AS ca FROM h WHERE source = 'src0'),
         hb AS (SELECT v AS vb, c AS cb FROM h WHERE source = 'src1'),
         u AS (SELECT CAST(COALESCE(sum(
                  CASE WHEN va > vb THEN 2 * ca * cb
                       WHEN va = vb THEN ca * cb
                       ELSE 0 END), 0) AS BIGINT) AS u1_x2
               FROM ha CROSS JOIN hb),
         n AS (SELECT CAST((SELECT sum(ca) FROM ha) AS BIGINT) AS n_a,
                      CAST((SELECT sum(cb) FROM hb) AS BIGINT) AS n_b)
         SELECT n_a, n_b, u1_x2,
                CAST(2 * n_a * n_b - u1_x2 AS BIGINT) AS u2_x2,
                CAST((1000000 * u1_x2) // (2 * n_a * n_b) AS BIGINT)
                  AS auc_micro
         FROM u CROSS JOIN n""",

    // replays Stats.statsGiniLorenz — per-nation sorted-rank Gini over
    // customer lifetime spend (zero-order customers in at 0); Σ i·x
    // needs HUGEINT/DECIMAL headroom on both engines
    "stats_gini_lorenz" ->
      """WITH sp AS (SELECT o_custkey,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS x
               FROM orders GROUP BY 1),
         per AS (SELECT n_name, c_custkey, COALESCE(x, 0) AS x
                 FROM customer
                 LEFT JOIN sp ON o_custkey = c_custkey
                 JOIN nation ON c_nationkey = n_nationkey),
         r AS (SELECT n_name, x,
                      CAST(row_number() OVER (PARTITION BY n_name
                        ORDER BY x, c_custkey) AS BIGINT) AS i
               FROM per),
         a AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_cust,
                      CAST(sum(x) AS BIGINT) AS total_cents,
                      sum(i * x) AS six
               FROM r GROUP BY 1)
         SELECT n_name, n_cust, total_cents,
                CAST((1000000 * (2 * six - (n_cust + 1) * total_cents))
                     // (n_cust * total_cents) AS BIGINT) AS gini_micro
         FROM a ORDER BY n_name""",

    // replays Stats.statsQqTable — nearest-rank deciles per source,
    // rank-addressed off the per-source sorted window
    "stats_qq_table" ->
      """WITH d AS (SELECT source, n_chars, doc_id,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
                  CAST(count(*) OVER (PARTITION BY source)
                    AS BIGINT) AS n
           FROM documents WHERE source IN ('src0', 'src1')),
         dec AS (SELECT s.decile, d.source, d.n_chars
                 FROM d CROSS JOIN
                   (SELECT unnest(range(1, 10)) AS decile) s
                 WHERE d.rn = (s.decile * d.n + 9) // 10),
         a AS (SELECT decile, n_chars AS q_a FROM dec
               WHERE source = 'src0'),
         b AS (SELECT decile, n_chars AS q_b FROM dec
               WHERE source = 'src1')
         SELECT decile, q_a, q_b, q_a - q_b AS qq_diff
         FROM a JOIN b USING (decile) ORDER BY decile""",

    // replays Stats.statsBenford — leading cents digit, exact micro
    // shares, identically-shaped log10 reference
    "stats_benford" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice
                      * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT)
                      AS digit
                    FROM orders),
         c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
         SELECT digit, n,
                CAST((1000000 * n) // total AS BIGINT) AS obs_micro,
                CAST(round(ln(1.0 + 1.0 / digit) / ln(10.0)
                  * 1000000.0) AS BIGINT) AS benford_micro
         FROM c CROSS JOIN t ORDER BY digit""",

    // replays TimeSeries.eventsDauWau — user-day distinct frame, 7-day
    // range join against the day spine, per-day distinct census
    "events_dau_wau" ->
      """WITH ud AS (SELECT DISTINCT user_id,
                       CAST(date_diff('day', DATE '1970-01-01',
                         date_trunc('day', ts)) AS BIGINT) AS day
                     FROM events),
         dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
         spine AS (SELECT DISTINCT day AS d FROM ud),
         wau AS (SELECT d, count(DISTINCT user_id) AS wau
                 FROM spine JOIN ud
                   ON ud.day BETWEEN spine.d - 6 AND spine.d
                 GROUP BY 1)
         SELECT day, dau, wau,
                CAST((1000 * dau) // wau AS BIGINT)
                  AS stickiness_permille
         FROM dau JOIN wau ON d = day ORDER BY day""",

    // replays Stats.statsEntropy — per-(source, lang) −p·ln p terms
    // micro-rounded before the exact per-source BIGINT sum
    "stats_entropy" ->
      """WITH cl AS (SELECT source, lang, count(*) AS c
                     FROM documents GROUP BY 1, 2),
         cn AS (SELECT source, lang, c,
                       CAST(sum(c) OVER (PARTITION BY source)
                         AS BIGINT) AS n
                FROM cl),
         tm AS (SELECT source, n,
                       CAST(round(-(c / n) * ln(c / n) * 1000000.0)
                         AS BIGINT) AS t_micro
                FROM cn)
         SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
                count(*) AS n_langs,
                CAST(sum(t_micro) AS BIGINT) AS entropy_micro
         FROM tm GROUP BY 1 ORDER BY source""",

    // replays TimeSeries.eventsCohortLtv — Monday-week cohorts off the
    // first event of any type, purchase cents per (cohort, age-week),
    // running sum over the aggregated triangle, per-member ltv by
    // truncating div
    "events_cohort_ltv" ->
      """WITH ev AS (SELECT user_id, event_type, value,
                  CAST(date_trunc('week', ts) AS DATE) AS wk
           FROM events),
         coh AS MATERIALIZED (
           SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY 1),
         sizes AS (SELECT cohort_week,
                          CAST(count(*) AS BIGINT) AS cohort_users
                   FROM coh GROUP BY 1),
         cells AS (SELECT cohort_week,
                          CAST(date_diff('day', cohort_week, wk) // 7
                            AS INT) AS age_week,
                          CAST(count(DISTINCT ev.user_id) AS BIGINT)
                            AS n_buyers,
                          CAST(sum(CAST(round(value * 100) AS BIGINT))
                            AS BIGINT) AS rev_cents
                   FROM ev JOIN coh ON ev.user_id = coh.user_id
                   WHERE event_type = 'purchase'
                   GROUP BY 1, 2),
         cum AS (SELECT *, CAST(sum(rev_cents) OVER (
                     PARTITION BY cohort_week ORDER BY age_week)
                   AS BIGINT) AS cum_rev_cents
                 FROM cells)
         SELECT cohort_week, age_week, cohort_users, n_buyers,
                rev_cents, cum_rev_cents,
                CAST(cum_rev_cents // cohort_users AS BIGINT)
                  AS ltv_cents_per_user
         FROM cum JOIN sizes USING (cohort_week)
         ORDER BY cohort_week, age_week""",

    // replays VectorOps.embedDimVariance — floor(x·1e6) micro cells,
    // exact population variance by one truncating division
    "embed_dim_variance" ->
      """WITH cells AS (
           SELECT p.i - 1 AS pos,
                  CAST(floor(CAST(embedding[p.i] AS DOUBLE) * 1000000)
                    AS BIGINT) AS em
           FROM embeddings
           CROSS JOIN (SELECT unnest(range(1, 65)) AS i) p),
         a AS (SELECT pos, CAST(count(*) AS BIGINT) AS n,
                      sum(em) AS s1, sum(em * em) AS s2,
                      CAST(min(em) AS BIGINT) AS min_micro,
                      CAST(max(em) AS BIGINT) AS max_micro
               FROM cells GROUP BY 1)
         SELECT CAST(pos AS INT) AS pos, n,
                CAST(s1 // n AS BIGINT) AS mean_micro,
                CAST((n * s2 - s1 * s1) // (n * n) AS BIGINT)
                  AS var_micro2,
                min_micro, max_micro
         FROM a ORDER BY pos""",

    // replays Stats.statsChi2 — full R×C grid (absent combos at
    // obs = 0), expected in exact centi via integer div, per-cell
    // contributions micro-rounded before the exact BIGINT total
    // replays Stats.statsCramersV — same grid ingredients as the chi2
    // oracle, effect size via one rounded sqrt
    "stats_cramers_v" ->
      """WITH o AS (SELECT lang, source, count(*) AS o
                    FROM documents GROUP BY 1, 2),
         rr AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r
                FROM o GROUP BY 1),
         cc AS (SELECT source, CAST(sum(o) AS BIGINT) AS c
                FROM o GROUP BY 1),
         nn AS (SELECT (SELECT CAST(sum(r) AS BIGINT) FROM rr) AS n,
                       (SELECT CAST(count(*) AS BIGINT) FROM rr) AS nr,
                       (SELECT CAST(count(*) AS BIGINT) FROM cc) AS nc),
         cells AS (SELECT COALESCE(o.o, 0) AS obs,
                          CAST(rr.r AS DOUBLE) * cc.c / nn.n AS e,
                          nn.n, least(nn.nr - 1, nn.nc - 1) AS dof_min
                   FROM rr CROSS JOIN cc
                   LEFT JOIN o ON o.lang = rr.lang
                              AND o.source = cc.source
                   CROSS JOIN nn),
         agg AS (SELECT CAST(sum(CAST(round((obs - e) * (obs - e) / e
                          * 1000000.0) AS BIGINT)) AS BIGINT)
                          AS chi2_micro,
                        CAST(max(n) AS BIGINT) AS n,
                        CAST(max(dof_min) AS BIGINT) AS dof_min
                 FROM cells)
         SELECT n, dof_min, chi2_micro,
                CAST(round(sqrt(chi2_micro / 1000000.0
                  / (n * dof_min)) * 1000000.0) AS BIGINT)
                  AS cramers_v_micro
         FROM agg""",

    "stats_chi2" ->
      """WITH o AS (SELECT lang, source, count(*) AS o
                    FROM documents GROUP BY 1, 2),
         rr AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r
                FROM o GROUP BY 1),
         cgrp AS (SELECT source, CAST(sum(o) AS BIGINT) AS c
                  FROM o GROUP BY 1),
         nn AS (SELECT CAST(sum(r) AS BIGINT) AS n, count(*) AS nr
                FROM rr),
         ncc AS (SELECT count(*) AS nc FROM cgrp),
         cells AS (SELECT lang, source, r, c, COALESCE(o, 0) AS obs
                   FROM rr CROSS JOIN cgrp
                   LEFT JOIN o USING (lang, source)),
         sc AS (SELECT lang, source, obs, r, c, n, nr, nc,
                       CAST(r AS DOUBLE) * c / n AS e
                FROM cells CROSS JOIN nn CROSS JOIN ncc),
         sm AS (SELECT *, CAST(round((obs - e) * (obs - e) / e
                    * 1000000.0) AS BIGINT) AS contrib_micro
                FROM sc),
         tt AS (SELECT CAST(sum(contrib_micro) AS BIGINT) AS chi2_micro
                FROM sm)
         SELECT lang, source, obs AS observed,
                CAST((r * c * 100) // n AS BIGINT) AS expected_centi,
                contrib_micro, chi2_micro,
                (nr - 1) * (nc - 1) AS dof
         FROM sm CROSS JOIN tt ORDER BY lang, source""",

    // replays Stats.statsLinreg — integer OLS over the pre-reduced
    // (brand, year-index) frame; the intercept reuses the
    // already-truncated slope so both engines round identically
    // replays Stats.statsTheilSen — pairwise slopes off the same
    // (brand, year) frame as the OLS oracle, lower median
    // rank-addressed per brand
    "stats_theil_sen" ->
      """WITH yearly AS MATERIALIZED (
           SELECT p_brand, CAST(year(o_orderdate) - 1995 AS BIGINT) AS x,
                  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS y
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN part ON l_partkey = p_partkey
           GROUP BY 1, 2),
         sl AS (SELECT a.p_brand, a.x AS xa, b.x AS xb,
                       CAST((1000 * (b.y - a.y)) // (b.x - a.x)
                         AS BIGINT) AS slope_milli
                FROM yearly a JOIN yearly b
                  ON a.p_brand = b.p_brand AND a.x < b.x),
         r AS (SELECT p_brand, slope_milli,
                      row_number() OVER (PARTITION BY p_brand
                        ORDER BY slope_milli, xa, xb) AS rk,
                      CAST(count(*) OVER (PARTITION BY p_brand)
                        AS BIGINT) AS np
               FROM sl)
         SELECT p_brand, np AS n_pairs,
                slope_milli AS ts_slope_milli
         FROM r WHERE rk = (np + 1) // 2
         ORDER BY p_brand""",

    // replays Stats.statsBootstrapCi — Poissonized bootstrap with the
    // md5Hash60 micro draw; cutoffs mirror Stats.BootCuts literally
    "stats_bootstrap_ci" ->
      s"""WITH o AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         r AS (SELECT o_orderkey, cents, b
               FROM o CROSS JOIN (SELECT unnest(range(1, 17)) AS b)),
         u AS (SELECT b, cents,
                      ${md5Hash60Sql("'graft-boot:' || CAST(b AS VARCHAR)" +
                        " || ':' || CAST(o_orderkey AS VARCHAR)")}
                        % 1000000 AS u
               FROM r),
         w AS (SELECT b, cents,
                      CASE WHEN u < 367879 THEN 0
                           WHEN u < 735759 THEN 1
                           WHEN u < 919699 THEN 2
                           WHEN u < 981012 THEN 3
                           ELSE 4 END AS w
               FROM u),
         m AS (SELECT b, CAST(sum(w * cents) // nullif(sum(w), 0)
                  AS BIGINT) AS mean_cents
               FROM w GROUP BY b),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n_orders,
                      CAST(sum(cents) // count(*) AS BIGINT)
                        AS mean_cents
               FROM o)
         SELECT n_orders, s.mean_cents,
                CAST(count(*) AS BIGINT) AS n_replicates,
                CAST(min(m.mean_cents) AS BIGINT) AS boot_lo_cents,
                CAST(max(m.mean_cents) AS BIGINT) AS boot_hi_cents
         FROM s, m GROUP BY 1, 2""",

    // replays Stats.statsAnova — per-group power sums, micro-quantized
    // SSB/SSW terms, F as a final integral division (HUGEINT headroom)
    "stats_anova" ->
      """WITH g AS (SELECT lang, CAST(count(*) AS HUGEINT) AS ng,
                  CAST(sum(n_chars) AS HUGEINT) AS s1,
                  CAST(sum(n_chars * n_chars) AS HUGEINT) AS s2
           FROM documents GROUP BY 1),
         t AS (SELECT ng, s1, s2,
                      (1000000 * s1 * s1) // ng AS b_micro,
                      (1000000 * (ng * s2 - s1 * s1)) // ng AS w_micro
               FROM g),
         a AS (SELECT CAST(sum(ng) AS HUGEINT) AS n,
                      CAST(count(*) AS HUGEINT) AS k,
                      CAST(sum(s1) AS HUGEINT) AS s1t,
                      CAST(sum(b_micro) AS HUGEINT) AS bsum,
                      CAST(sum(w_micro) AS HUGEINT) AS ssw
               FROM t)
         SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
                CAST(bsum - (1000000 * s1t * s1t) // n AS BIGINT)
                  AS ssb_micro,
                CAST(ssw AS BIGINT) AS ssw_micro,
                CAST((1000000 * (bsum - (1000000 * s1t * s1t) // n)
                      * (n - k)) // (ssw * (k - 1)) AS BIGINT)
                  AS f_micro
         FROM a""",

    // paired Wilcoxon signed-rank on the CUPED period split: doubled
    // average ranks of |d|, exact tie-corrected 12*var, 2-sigma flag
    // by one integer cross-multiply
    "stats_wilcoxon_signed" ->
      """WITH u AS (SELECT user_id,
                CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                         THEN CAST(round(value * 100) AS BIGINT)
                         ELSE 0 END)
                     - SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS d
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
         dd AS (SELECT d, abs(d) AS ad FROM u WHERE d <> 0),
         rk AS (SELECT d,
                  CAST(2 * rank() OVER (ORDER BY ad)
                       + count(*) OVER (PARTITION BY ad) - 1
                    AS BIGINT) AS r2
                FROM dd),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_pos,
                 CAST(SUM(CASE WHEN d > 0 THEN r2 ELSE 0 END)
                   AS BIGINT) AS t2_plus
               FROM rk),
         tc AS (SELECT CAST(COALESCE(SUM(t * t * t - t), 0) AS BIGINT)
                  AS tcorr
                FROM (SELECT ad, count(*) AS t FROM dd GROUP BY 1) g),
         v AS (SELECT n, n_pos, t2_plus,
                 (n * (n + 1)) // 2 AS mu2,
                 2 * n * (n + 1) * (2 * n + 1) - tcorr AS var12
               FROM m CROSS JOIN tc)
         SELECT n, n_pos, t2_plus, mu2, var12,
                12 * (t2_plus - mu2) * (t2_plus - mu2) >= 4 * var12
                  AS is_significant
         FROM v""",

    // Brown-Forsythe Levene: the anova pipeline on |x - group median|
    // with the exact rank-addressed lower median in cents
    "stats_levene_bf" ->
      """WITH x AS (SELECT o_orderstatus AS g,
                CAST(round(o_totalprice) AS BIGINT) AS x
              FROM orders),
         rk AS (SELECT g, x,
                  CAST(row_number() OVER (PARTITION BY g ORDER BY x)
                    AS BIGINT) AS rn,
                  CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
                FROM x),
         med AS (SELECT g, x AS med FROM rk WHERE rn = (n + 1) // 2),
         z AS (SELECT x.g, abs(x.x - med.med) AS z
               FROM x JOIN med ON x.g = med.g),
         grp AS (SELECT g, CAST(count(*) AS HUGEINT) AS ng,
                  CAST(sum(z) AS HUGEINT) AS s1,
                  CAST(sum(z * z) AS HUGEINT) AS s2
                 FROM z GROUP BY 1),
         t AS (SELECT ng, s1, s2,
                      (1000 * s1 * s1) // ng AS b_milli,
                      (1000 * (ng * s2 - s1 * s1)) // ng AS w_milli
               FROM grp),
         a AS (SELECT CAST(sum(ng) AS HUGEINT) AS n,
                      CAST(count(*) AS HUGEINT) AS k,
                      CAST(sum(s1) AS HUGEINT) AS s1t,
                      CAST(sum(b_milli) AS HUGEINT) AS bsum,
                      CAST(sum(w_milli) AS HUGEINT) AS ssw
               FROM t)
         SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
                CAST(bsum - (1000 * s1t * s1t) // n AS BIGINT)
                  AS ssb_milli,
                CAST(ssw AS BIGINT) AS ssw_milli,
                CAST((1000 * (bsum - (1000 * s1t * s1t) // n)
                      * (n - k)) // (ssw * (k - 1)) AS BIGINT)
                  AS f_milli
         FROM a""",

    "stats_linreg" ->
      """WITH yearly AS (
           SELECT p_brand, CAST(year(o_orderdate) - 1995 AS BIGINT) AS x,
                  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS y
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN part ON l_partkey = p_partkey
           GROUP BY 1, 2),
         s AS (SELECT p_brand, count(*) AS n,
                      CAST(SUM(x) AS BIGINT) AS sx,
                      CAST(SUM(y) AS BIGINT) AS sy,
                      CAST(SUM(x * x) AS BIGINT) AS sxx,
                      CAST(SUM(x * y) AS BIGINT) AS sxy
               FROM yearly GROUP BY 1)
         SELECT p_brand, n,
                CAST((1000 * (n * sxy - sx * sy))
                  // nullif(n * sxx - sx * sx, 0) AS BIGINT) AS slope_milli,
                CAST((1000 * sy - CAST((1000 * (n * sxy - sx * sy))
                    // nullif(n * sxx - sx * sx, 0) AS BIGINT) * sx)
                  // n AS BIGINT) AS intercept_milli
         FROM s ORDER BY p_brand""",

    "agg_percentile" ->
      """SELECT l_returnflag,
                ROUND(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
                ROUND(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
                ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "pivot_wide" ->
      """SELECT o_orderpriority,
                count(*) FILTER (o_orderstatus = 'F') AS n_f,
                count(*) FILTER (o_orderstatus = 'O') AS n_o,
                count(*) FILTER (o_orderstatus = 'P') AS n_p
         FROM orders GROUP BY 1 ORDER BY o_orderpriority""",

    "unpivot_long" ->
      """SELECT p_partkey, 'p_retailprice' AS measure,
                p_retailprice AS value FROM part
         UNION ALL
         SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
         ORDER BY p_partkey, measure""",

    "sample_systematic" ->
      s"""SELECT l_returnflag, count(*) AS n_sampled,
                 ${sqlSum2("l_extendedprice")} AS sum_price
          FROM lineitem
          WHERE l_orderkey % 10 = 0 AND l_linenumber = 1
          GROUP BY 1 ORDER BY l_returnflag""",

    // replays Relational.tableSnapshotDiff — full-outer key diff of
    // the through-1995 and through-1996 revenue snapshots, classified
    // and censused with exact DECIMAL(18,4) deltas
    "table_snapshot_diff" ->
      """WITH a AS (SELECT o_custkey AS k,
                  sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev_a,
                  count(*) AS n_a
                FROM orders
                WHERE o_orderdate < TIMESTAMP '1996-01-01' GROUP BY 1),
          b AS (SELECT o_custkey AS k,
                  sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev_b,
                  count(*) AS n_b
                FROM orders
                WHERE o_orderdate < TIMESTAMP '1997-01-01' GROUP BY 1),
          j AS (SELECT CASE WHEN n_a IS NULL THEN 'added'
                            WHEN n_b IS NULL THEN 'removed'
                            WHEN rev_a = rev_b AND n_a = n_b
                              THEN 'unchanged'
                            ELSE 'changed' END AS diff_class,
                       COALESCE(rev_b, 0) - COALESCE(rev_a, 0) AS delta
                FROM a FULL JOIN b ON a.k = b.k)
          SELECT diff_class, count(*) AS n_keys,
                 CAST(ROUND(sum(delta), 2) AS DOUBLE) AS delta_total
          FROM j GROUP BY 1 ORDER BY diff_class""",

    // replays Relational.sqlRecursiveReach — the same WITH RECURSIVE
    // reversed tree-BFS, depth-bounded in the recursion
    "sql_recursive_reach" ->
      s"""WITH RECURSIVE $EdgesCte,
          reach AS (
            SELECT CAST(${graft.GraphModel.RegionOff} + r_regionkey
                     AS BIGINT) AS region,
                   CAST(${graft.GraphModel.RegionOff} + r_regionkey
                     AS BIGINT) AS id,
                   0 AS depth
            FROM region
            UNION ALL
            SELECT r.region, e.src, r.depth + 1
            FROM reach r JOIN edges e ON e.dst = r.id
            WHERE r.depth < 3)
          SELECT region, CAST(depth AS INT) AS depth,
                 count(DISTINCT id) AS n_vertices
          FROM reach GROUP BY region, depth
          ORDER BY region, depth""",

    // replays Sources.scanSchemaEvolution — the oracle reads the
    // source rows directly: the 1995 batch lacks the priority column,
    // so every row of it is NULL under the merged schema
    "scan_schema_evolution" ->
      """WITH o AS (SELECT year(o_orderdate) AS y,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                FROM orders WHERE year(o_orderdate) IN (1995, 1996))
          SELECT CAST(y AS INT) AS batch,
                 count(*) AS n_rows,
                 CAST(CASE WHEN y = 1995 THEN count(*) ELSE 0 END
                   AS BIGINT) AS n_null_priority,
                 CAST(sum(cents) AS BIGINT) AS sum_cents
          FROM o GROUP BY y ORDER BY batch""",

    // replays TimeSeries.eventsCupedLift — exact HUGEINT moments,
    // remainder-subtraction floor divisions, quantized θ reused for
    // every downstream number (identical integers both engines)
    "events_cuped_lift" -> {
      def fd(num: String, den: String): String =
        s"""CASE WHEN ($den) = 0 THEN NULL
            ELSE CAST((($num) - (((($num) % ($den)) + ($den))
              % ($den))) // ($den) AS BIGINT) END"""
      s"""WITH u AS (SELECT user_id,
                 sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                     THEN CAST(round(value * 100) AS BIGINT)
                     ELSE 0 END) AS x,
                 sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                     THEN CAST(round(value * 100) AS BIGINT)
                     ELSE 0 END) AS y
               FROM events WHERE event_type = 'purchase' GROUP BY 1),
          per AS (SELECT ${md5Hash60Sql(
            "'graft-ab:' || CAST(user_id AS VARCHAR)")} % 2 AS v,
                 CAST(x AS HUGEINT) AS x, CAST(y AS HUGEINT) AS y
               FROM u),
          m AS (SELECT v, CAST(count(*) AS HUGEINT) AS n,
                  sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
                  sum(x * y) AS sxy, sum(y * y) AS syy
                FROM per GROUP BY 1),
          a AS (SELECT n AS n_a, sx AS sx_a, sy AS sy_a, sxx AS sxx_a,
                       sxy AS sxy_a, syy AS syy_a FROM m WHERE v = 0),
          b AS (SELECT n AS n_b, sx AS sx_b, sy AS sy_b, sxx AS sxx_b,
                       sxy AS sxy_b, syy AS syy_b FROM m WHERE v = 1),
          j AS (SELECT *, n_a + n_b AS nn, sx_a + sx_b AS sxp,
                       sy_a + sy_b AS syp FROM a CROSS JOIN b),
          k AS (SELECT *,
                  nn * (sxy_a + sxy_b) - sxp * syp AS aa,
                  nn * (sxx_a + sxx_b) - sxp * sxp AS bb,
                  nn * (syy_a + syy_b) - syp * syp AS dy
                FROM j),
          t AS (SELECT *,
                  CAST(${fd("1000000 * aa", "bb")} AS HUGEINT) AS th
                FROM k)
          SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                 CAST(th AS BIGINT) AS theta_micro,
                 ${fd("1000000 * sy_a", "n_a")} AS mean_y_a_micro,
                 ${fd("1000000 * sy_b", "n_b")} AS mean_y_b_micro,
                 ${fd("1000000 * sy_a * nn - th * (sx_a * nn - sxp * n_a)",
                   "n_a * nn")} AS mean_yadj_a_micro,
                 ${fd("1000000 * sy_b * nn - th * (sx_b * nn - sxp * n_b)",
                   "n_b * nn")} AS mean_yadj_b_micro,
                 ${fd("1000 * (1000000000000 * dy - 2000000 * th * aa" +
                   " + th * th * bb)", "1000000000000 * dy")}
                   AS varratio_permille
          FROM t"""
    },

    // replays Stats.statsPsiDrift — pooled exact-cents equal-width
    // bins, Laplace-smoothed shares, per-term floor(x·1e6 + 0.5)
    // micro rounding (bit-deterministic; terms provably ≥ 0)
    "stats_psi_drift" ->
      """WITH o AS (SELECT year(o_orderdate) AS y,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                FROM orders
                WHERE year(o_orderdate) IN (1995, 1996)),
          rng AS (SELECT min(cents) AS lo, max(cents) AS hi FROM o),
          c AS (SELECT (cents - lo) * 10 // (hi - lo + 1) AS bin,
                  sum(CASE WHEN y = 1995 THEN 1 ELSE 0 END) AS n_a,
                  sum(CASE WHEN y = 1996 THEN 1 ELSE 0 END) AS n_b
                FROM o CROSS JOIN rng GROUP BY 1),
          t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM c),
          bins AS (SELECT unnest(range(0, 10)) AS bin),
          f AS (SELECT bin, COALESCE(n_a, 0) AS n_a,
                       COALESCE(n_b, 0) AS n_b,
                       (COALESCE(n_a, 0) + 1) / (ta + 10) AS p,
                       (COALESCE(n_b, 0) + 1) / (tb + 10) AS q
                FROM bins LEFT JOIN c USING (bin) CROSS JOIN t)
          SELECT bin, CAST(n_a AS BIGINT) AS n_a,
                 CAST(n_b AS BIGINT) AS n_b,
                 CAST(floor(p * 1000000 + 0.5) AS BIGINT) AS p_micro,
                 CAST(floor(q * 1000000 + 0.5) AS BIGINT) AS q_micro,
                 CAST(floor((p - q) * ln(p / q) * 1000000 + 0.5)
                   AS BIGINT) AS term_micro
          FROM f ORDER BY bin""",

    // replays Stats.sampleReservoirGroup — the oracle runs the
    // UNSALTED single-window form; the Spark side's two-phase salted
    // cut agrees because a global top-k is invariant to pre-trimming
    // each salt bucket past its own top-k
    "sample_reservoir_group" ->
      s"""WITH pri AS (SELECT source, doc_id,
                 ${md5Hash60Sql("'rsv:' || CAST(doc_id AS VARCHAR)")}
                   AS prio
               FROM documents),
          r AS (SELECT source, doc_id, prio,
                  row_number() OVER (PARTITION BY source
                    ORDER BY prio, doc_id) AS rk
                FROM pri)
          SELECT source, rk, doc_id, prio FROM r
          WHERE rk <= 8 ORDER BY source, rk""",

    "join_skew_salted" ->
      s"""SELECT label, count(*) AS n_orders,
                 ${sqlSum2("o_totalprice")} AS sum_price
          FROM orders
          JOIN (VALUES ('F', 'finished'), ('O', 'open'),
                       ('P', 'pending')) d(status, label)
            ON o_orderstatus = status
          GROUP BY label ORDER BY label""",

    "profile_table" -> {
      def prof(c: String, norm: String) =
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
                 count(CASE WHEN $norm IS NULL THEN 1 END) AS n_nulls,
                 count(DISTINCT $norm) AS n_distinct,
                 CAST(min($norm) AS VARCHAR) AS min_val,
                 CAST(max($norm) AS VARCHAR) AS max_val
          FROM lineitem"""
      s"""${prof("l_orderkey", "l_orderkey")}
          UNION ALL ${prof("l_returnflag", "l_returnflag")}
          UNION ALL ${prof("l_shipdate", "CAST(l_shipdate AS DATE)")}
          ORDER BY column_name"""
    },

    // footer-stat aggregate (Spark answers it from parquet metadata;
    // DuckDB recomputes from rows — equality IS the exactness proof)
    "scan_agg_pushdown" ->
      """SELECT count(*) AS n_rows,
                min(l_orderkey) AS min_orderkey,
                max(l_orderkey) AS max_orderkey,
                min(l_quantity) AS min_qty,
                max(l_quantity) AS max_qty
         FROM lineitem""",

    // power analysis: K_micro = floor((z_0.025 + z_0.20)^2 * 1e6) =
    // 7848878 shared verbatim with the Spark side; exact HUGEINT
    // ceiling division
    "stats_power_sample_size" ->
      """WITH m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                           CAST(SUM(CAST(round(value * 100) AS BIGINT))
                             AS HUGEINT) AS s1,
                           CAST(SUM(CAST(round(value * 100) AS BIGINT)
                             * CAST(round(value * 100) AS BIGINT))
                             AS HUGEINT) AS s2
                    FROM events WHERE event_type = 'purchase'),
         d AS (SELECT n, s1, s2,
                      CAST(s1 // n AS BIGINT) AS mean_cents,
                      CAST(s1 // (20 * n) AS BIGINT) AS delta_cents
               FROM m)
         SELECT CAST(n AS BIGINT) AS n_obs, mean_cents, delta_cents,
                CAST((2 * 7848878 * (n * s2 - s1 * s1)
                      + (1000000 * n * n * delta_cents * delta_cents)
                      - 1)
                  // (1000000 * n * n * delta_cents * delta_cents)
                  AS BIGINT) AS n_required_per_arm
         FROM d""",

    // derandomized permutation test: 64 md5-salted relabelings, the
    // extreme call one HUGEINT cross-multiply per relabeling
    "stats_permutation_test" ->
      s"""WITH u AS (SELECT user_id,
                 CAST(SUM(CAST(round(value * 100) AS BIGINT))
                   AS BIGINT) AS x
               FROM events WHERE event_type = 'purchase' GROUP BY 1),
         ob AS (SELECT ${md5Hash60Sql(
                  "'graft-ab:' || CAST(user_id AS VARCHAR)")}
                  % 2 AS v, x
                FROM u),
         oa AS (SELECT
                  CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END)
                    AS HUGEINT) AS n_a,
                  CAST(SUM(CASE WHEN v = 0 THEN x ELSE 0 END)
                    AS HUGEINT) AS s1_a,
                  CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END)
                    AS HUGEINT) AS n_b,
                  CAST(SUM(CASE WHEN v = 1 THEN x ELSE 0 END)
                    AS HUGEINT) AS s1_b
                FROM ob),
         od AS (SELECT abs(s1_a * n_b - s1_b * n_a) AS d_obs,
                       n_a * n_b AS w_obs,
                       CAST(s1_a // n_a AS BIGINT) AS mean_a_cents,
                       CAST(s1_b // n_b AS BIGINT) AS mean_b_cents
                FROM oa),
         pv AS (SELECT b, x,
                  ${md5Hash60Sql("'graft-perm:' || CAST(b AS VARCHAR)" +
                    " || ':' || CAST(user_id AS VARCHAR)")} % 2 AS v
                FROM u, range(0, ${graft.ops.Stats.PermTestB}) AS rb(b)),
         pa AS (SELECT b,
                  CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END)
                    AS HUGEINT) AS n_a,
                  CAST(SUM(CASE WHEN v = 0 THEN x ELSE 0 END)
                    AS HUGEINT) AS s1_a,
                  CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END)
                    AS HUGEINT) AS n_b,
                  CAST(SUM(CASE WHEN v = 1 THEN x ELSE 0 END)
                    AS HUGEINT) AS s1_b
                FROM pv GROUP BY 1),
         pd AS (SELECT b, abs(s1_a * n_b - s1_b * n_a) AS delta,
                       n_a * n_b AS w
                FROM pa),
         ex AS (SELECT CAST(count(*) AS BIGINT) AS n_perms,
                  CAST(SUM(CASE WHEN delta * w_obs >= d_obs * w
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
                FROM pd CROSS JOIN od)
         SELECT n_perms, n_extreme,
                (1000 * n_extreme) // n_perms AS p_permille,
                mean_a_cents, mean_b_cents
         FROM ex CROSS JOIN od""",

    // Cohen's d as exact d²-milli over the same per-arm HUGEINT
    // moments; magnitude bands read off integer thresholds
    "stats_cohens_d" ->
      s"""WITH u AS (SELECT user_id,
                 CAST(SUM(CAST(round(value * 100) AS BIGINT))
                   AS BIGINT) AS x
               FROM events WHERE event_type = 'purchase' GROUP BY 1),
         uv AS (SELECT ${md5Hash60Sql(
                  "'graft-ab:' || CAST(user_id AS VARCHAR)")}
                  % 2 AS v, x
                FROM u),
         m AS (SELECT v, CAST(count(*) AS HUGEINT) AS n,
                      CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s1,
                      CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2
               FROM uv GROUP BY 1),
         av AS (SELECT n AS n_a, s1 AS s1_a, s2 AS s2_a FROM m
                WHERE v = 0),
         bv AS (SELECT n AS n_b, s1 AS s1_b, s2 AS s2_b FROM m
                WHERE v = 1),
         c AS (SELECT n_a, n_b, s1_a, s1_b,
                 CAST((1000 * (s1_a * n_b - s1_b * n_a)
                         * (s1_a * n_b - s1_b * n_a)
                         * (n_a + n_b - 2))
                   // (n_a * n_b
                       * ((n_a * s2_a - s1_a * s1_a) * n_b
                          + (n_b * s2_b - s1_b * s1_b) * n_a))
                   AS BIGINT) AS d2_milli
               FROM av CROSS JOIN bv)
         SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                CAST(s1_a // n_a AS BIGINT) AS mean_a_cents,
                CAST(s1_b // n_b AS BIGINT) AS mean_b_cents,
                d2_milli,
                CASE WHEN d2_milli >= 640 THEN 'large'
                     WHEN d2_milli >= 250 THEN 'medium'
                     WHEN d2_milli >= 40 THEN 'small'
                     ELSE 'negligible' END AS magnitude
         FROM c""",

    // Cohen's kappa over the 2x2 rater confusion matrix: one exact
    // rational 1000*(n*S - E) // (n^2 - E) in HUGEINT, S = agreement,
    // E = marginal chance mass — same integer-flag discipline
    "stats_cohens_kappa" ->
      s"""WITH r AS (SELECT (n_chars >= 200) AS a,
                 (n_chars >= 4 * len(string_split(text, ' '))
                  AND n_chars <= 8 * len(string_split(text, ' '))) AS b
               FROM documents),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END)
                   AS BIGINT) AS n11,
                 CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
                   AS BIGINT) AS n10,
                 CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
                   AS BIGINT) AS n01,
                 CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
                   AS BIGINT) AS n00
               FROM r)
         SELECT n, n11, n10, n01, n00,
                (1000 * (n11 + n00)) // n AS po_permille,
                CAST((1000 * (CAST(n AS HUGEINT) * (n11 + n00)
                        - ((n11 + n10) * (n11 + n01)
                           + (n01 + n00) * (n10 + n00))))
                  // (CAST(n AS HUGEINT) * n
                      - ((n11 + n10) * (n11 + n01)
                         + (n01 + n00) * (n10 + n00)))
                  AS BIGINT) AS kappa_permille
         FROM m""",

    // Matthews correlation over the same 2x2 rater confusion matrix:
    // exact HUGEINT numerator, single sqrt ratio, NULL on a zero
    // marginal (both engines)
    // exact two-predictor OLS via Cramer's rule on the day grid:
    // x1 = days since the 1995-01-01 corpus epoch, x2 = weekend flag
    // (duckdb dayofweek is 0=Sun..6=Sat; Spark's is 1=Sun..7=Sat),
    // every determinant an exact HUGEINT, betas by truncating div
    "stats_ols_two" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS y
               FROM orders GROUP BY 1),
         g AS (SELECT CAST(datediff('day', DATE '1995-01-01', day)
                   AS BIGINT) AS x1,
                 CASE WHEN dayofweek(day) IN (0, 6) THEN 1
                      ELSE 0 END AS x2,
                 y
               FROM daily),
         m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                 CAST(SUM(CAST(x1 AS HUGEINT)) AS HUGEINT) AS sx1,
                 CAST(SUM(CAST(x2 AS HUGEINT)) AS HUGEINT) AS sx2,
                 CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
                 CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS s12,
                 CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
                 CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
                 CAST(SUM(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS s1y,
                 CAST(SUM(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS s2y
               FROM g),
         d AS (SELECT CAST(n AS BIGINT) AS n_days,
                 (n * (s11 * s22 - s12 * s12)
                  - sx1 * (sx1 * s22 - s12 * sx2)
                  + sx2 * (sx1 * s12 - s11 * sx2)) AS det,
                 (sy * (s11 * s22 - s12 * s12)
                  - sx1 * (s1y * s22 - s12 * s2y)
                  + sx2 * (s1y * s12 - s11 * s2y)) AS d0,
                 (n * (s1y * s22 - s12 * s2y)
                  - sy * (sx1 * s22 - s12 * sx2)
                  + sx2 * (sx1 * s2y - s1y * sx2)) AS d1,
                 (n * (s11 * s2y - s1y * s12)
                  - sx1 * (sx1 * s2y - s1y * sx2)
                  + sy * (sx1 * s12 - s11 * sx2)) AS d2
               FROM m)
         SELECT n_days,
                CAST((1000 * d0) // det AS BIGINT) AS beta0_milli,
                CAST((1000 * d1) // det AS BIGINT) AS beta1_milli,
                CAST((1000 * d2) // det AS BIGINT) AS beta2_milli
         FROM d""",

    // Mood's median test: pooled lower median by global rank, 2x2
    // arm x above/<= census, chi2 exact via one HUGEINT rational and
    // the 1e6*n*(ad-bc)^2 >= 3841459*M cross-multiplied call
    "stats_mood_median" ->
      s"""WITH u AS (SELECT user_id,
                 CAST(SUM(CAST(round(value * 100) AS BIGINT))
                   AS BIGINT) AS x
               FROM events WHERE event_type = 'purchase' GROUP BY 1),
         uv AS (SELECT user_id, x, ${md5Hash60Sql(
                  "'graft-ab:' || CAST(user_id AS VARCHAR)")}
                  % 2 AS v
                FROM u),
         r AS (SELECT x, row_number() OVER (ORDER BY x, user_id) AS rn
               FROM uv),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM uv),
         med AS (SELECT r.x AS median_cents FROM r CROSS JOIN t
                 WHERE r.rn = (t.n + 1) // 2),
         c AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 med.median_cents,
                 CAST(SUM(CASE WHEN v = 0 AND x <= median_cents
                          THEN 1 ELSE 0 END) AS BIGINT) AS n00,
                 CAST(SUM(CASE WHEN v = 0 AND x > median_cents
                          THEN 1 ELSE 0 END) AS BIGINT) AS n01,
                 CAST(SUM(CASE WHEN v = 1 AND x <= median_cents
                          THEN 1 ELSE 0 END) AS BIGINT) AS n10,
                 CAST(SUM(CASE WHEN v = 1 AND x > median_cents
                          THEN 1 ELSE 0 END) AS BIGINT) AS n11
               FROM uv CROSS JOIN med GROUP BY 2),
         k AS (SELECT *,
                 CAST(n00 AS HUGEINT) * n11
                   - CAST(n01 AS HUGEINT) * n10 AS dd,
                 CAST(n00 + n01 AS HUGEINT) * (n10 + n11)
                   * (n00 + n10) * (n01 + n11) AS marg
               FROM c)
         SELECT n, median_cents, n00, n01, n10, n11,
                CASE WHEN marg = 0 THEN NULL
                     ELSE CAST((1000 * CAST(n AS HUGEINT) * dd * dd)
                       // marg AS BIGINT) END AS chi2_milli,
                CASE WHEN marg = 0 THEN NULL
                     ELSE (1000000 * CAST(n AS HUGEINT) * dd * dd)
                       >= 3841459 * marg END AS is_significant
         FROM k""",

    // 10%-trimmed mean of per-customer spend: rank = row_number over
    // (s, custkey), drop n//10 from each side, truncating-division
    // means (replays Ranks.shardedRank's global order exactly)
    "stats_trimmed_mean" ->
      """WITH s AS (SELECT o_custkey,
                 CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS s
               FROM orders GROUP BY 1),
         r AS (SELECT s, row_number() OVER (ORDER BY s, o_custkey)
                   AS rn
               FROM s),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(SUM(s) AS BIGINT) AS tot
               FROM s)
         SELECT t.n, t.n // 10 AS k_dropped,
                CAST(count(*) AS BIGINT) AS n_kept,
                CAST(t.tot // t.n AS BIGINT) AS mean_cents,
                CAST(SUM(r.s) // count(*) AS BIGINT)
                  AS trimmed_mean_cents
         FROM r CROSS JOIN t
         WHERE r.rn > t.n // 10 AND r.rn <= t.n - t.n // 10
         GROUP BY t.n, t.tot""",

    // Tukey-fence census per nation: percentile_disc-rank quartiles
    // (value at rank ceil(q*n)), cross-multiplied integer fences
    "stats_iqr_outliers" ->
      """WITH s AS (SELECT o_custkey,
                 CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS s
               FROM orders GROUP BY 1),
         sc AS (SELECT s.o_custkey, s.s, c.c_nationkey
                FROM s JOIN customer c ON c.c_custkey = s.o_custkey),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY c_nationkey
                                    ORDER BY s, o_custkey) AS rn,
                 count(*) OVER (PARTITION BY c_nationkey) AS n
               FROM sc),
         q AS (SELECT c_nationkey, CAST(MAX(n) AS BIGINT) AS n,
                 MIN(CASE WHEN rn = (n + 3) // 4 THEN s END) AS q1,
                 MIN(CASE WHEN rn = (3 * n + 3) // 4 THEN s END) AS q3
               FROM r GROUP BY 1),
         cen AS (SELECT sc.c_nationkey, q.n, q.q1, q.q3,
                   CAST(SUM(CASE WHEN sc.s * 2 > 5 * q.q3 - 3 * q.q1
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
                   CAST(SUM(CASE WHEN sc.s * 2 < 5 * q.q1 - 3 * q.q3
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_low
                 FROM sc JOIN q USING (c_nationkey)
                 GROUP BY 1, 2, 3, 4)
         SELECT nn.n_name, cen.n, q1 AS q1_cents, q3 AS q3_cents,
                n_low, n_high
         FROM cen JOIN nation nn ON nn.n_nationkey = cen.c_nationkey
         ORDER BY nn.n_name""",

    // HHI of customer-spend concentration per nation: exact ppm with
    // HUGEINT square-sum / squared-total headroom
    "stats_hhi" ->
      """WITH s AS (SELECT o_custkey,
                 CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS s
               FROM orders GROUP BY 1),
         n AS (SELECT c.c_nationkey,
                 CAST(count(*) AS BIGINT) AS n_customers,
                 CAST(SUM(CAST(s AS HUGEINT)) AS HUGEINT) AS tot,
                 SUM(CAST(s AS HUGEINT) * s) AS s2,
                 CAST(MAX(s) AS HUGEINT) AS mx
               FROM s JOIN customer c ON c.c_custkey = s.o_custkey
               GROUP BY 1)
         SELECT nn.n_name, n.n_customers,
                CAST((1000000 * s2) // (tot * tot) AS BIGINT) AS hhi_ppm,
                CAST((1000000 * mx) // tot AS BIGINT) AS top_share_ppm
         FROM n JOIN nation nn ON nn.n_nationkey = n.c_nationkey
         ORDER BY nn.n_name""",

    "stats_matthews_corr" ->
      s"""WITH r AS (SELECT (n_chars >= 200) AS a,
                 (n_chars >= 4 * len(string_split(text, ' '))
                  AND n_chars <= 8 * len(string_split(text, ' '))) AS b
               FROM documents),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END)
                   AS BIGINT) AS n11,
                 CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
                   AS BIGINT) AS n10,
                 CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
                   AS BIGINT) AS n01,
                 CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
                   AS BIGINT) AS n00
               FROM r),
         mn AS (SELECT *, CAST(CAST(n11 AS HUGEINT) * n00
                    - CAST(n10 AS HUGEINT) * n01 AS BIGINT) AS mcc_num
                FROM m)
         SELECT n, n11, n10, n01, n00, mcc_num,
                CASE WHEN n11 + n10 = 0 OR n11 + n01 = 0
                       OR n00 + n10 = 0 OR n00 + n01 = 0 THEN NULL
                     ELSE ROUND(CAST(mcc_num AS DOUBLE)
                       / sqrt(CAST(n11 + n10 AS DOUBLE)
                         * CAST(n11 + n01 AS DOUBLE)
                         * CAST(n00 + n10 AS DOUBLE)
                         * CAST(n00 + n01 AS DOUBLE)), 6) END AS mcc
         FROM mn""",

    // Kendall tau-b on the bucketed (length, tokens) grid: exact
    // HUGEINT concordant/discordant cell-pair masses + marginal tie
    // corrections; the single float is the final sqrt ratio (the
    // spearman discipline), rounded 6dp
    "stats_kendall_tau" ->
      s"""WITH cells AS (SELECT
                 n_chars // ${graft.ops.Stats.KendallBxWidth} AS bx,
                 CAST(len(string_split(text, ' ')) AS BIGINT)
                   // ${graft.ops.Stats.KendallByWidth} AS by,
                 CAST(count(*) AS HUGEINT) AS c
               FROM documents GROUP BY 1, 2),
         cd AS (SELECT
                 COALESCE(SUM(CASE WHEN a.by < b.by
                   THEN a.c * b.c END), 0) AS conc,
                 COALESCE(SUM(CASE WHEN a.by > b.by
                   THEN a.c * b.c END), 0) AS disc
               FROM cells a JOIN cells b ON a.bx < b.bx),
         nn AS (SELECT CAST(SUM(c) AS HUGEINT) AS n FROM cells),
         tx AS (SELECT COALESCE(SUM(t * (t - 1)), 0) AS tx2 FROM
                 (SELECT CAST(SUM(c) AS HUGEINT) AS t FROM cells
                  GROUP BY bx)),
         ty AS (SELECT COALESCE(SUM(t * (t - 1)), 0) AS ty2 FROM
                 (SELECT CAST(SUM(c) AS HUGEINT) AS t FROM cells
                  GROUP BY by))
         SELECT CAST(n AS BIGINT) AS n,
                CAST(conc AS BIGINT) AS concordant,
                CAST(disc AS BIGINT) AS discordant,
                ROUND(CAST(conc - disc AS DOUBLE) * 2.0
                  / sqrt(CAST(n * (n - 1) - tx2 AS DOUBLE)
                    * CAST(n * (n - 1) - ty2 AS DOUBLE)), 6) AS tau
         FROM cd CROSS JOIN nn CROSS JOIN tx CROSS JOIN ty""",

    // Benjamini-Hochberg over the per-event-type family of
    // derandomized permutation tests: one shared (type, b, arm) agg,
    // then the step-up on the K-row grid in exact integers
    "stats_fdr_bh" ->
      s"""WITH u AS (SELECT user_id, event_type,
                 CAST(count(*) AS BIGINT) AS x
               FROM events GROUP BY 1, 2),
         ob AS (SELECT event_type, ${md5Hash60Sql(
                  "'graft-ab:' || CAST(user_id AS VARCHAR)")}
                  % 2 AS v, x
                FROM u),
         oa AS (SELECT event_type,
                  CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END)
                    AS HUGEINT) AS n_a,
                  CAST(SUM(CASE WHEN v = 0 THEN x ELSE 0 END)
                    AS HUGEINT) AS s1_a,
                  CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END)
                    AS HUGEINT) AS n_b,
                  CAST(SUM(CASE WHEN v = 1 THEN x ELSE 0 END)
                    AS HUGEINT) AS s1_b
                FROM ob GROUP BY 1),
         od AS (SELECT event_type,
                       abs(s1_a * n_b - s1_b * n_a) AS d_obs,
                       n_a * n_b AS w_obs
                FROM oa),
         pv AS (SELECT event_type, b, x,
                  ${md5Hash60Sql("'graft-fdr:' || CAST(b AS VARCHAR)" +
                    " || ':' || CAST(user_id AS VARCHAR)")} % 2 AS v
                FROM u, range(0, ${graft.ops.Stats.FdrB}) AS rb(b)),
         pa AS (SELECT event_type, b,
                  CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END)
                    AS HUGEINT) AS n_a,
                  CAST(SUM(CASE WHEN v = 0 THEN x ELSE 0 END)
                    AS HUGEINT) AS s1_a,
                  CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END)
                    AS HUGEINT) AS n_b,
                  CAST(SUM(CASE WHEN v = 1 THEN x ELSE 0 END)
                    AS HUGEINT) AS s1_b
                FROM pv GROUP BY 1, 2),
         pd AS (SELECT event_type,
                       abs(s1_a * n_b - s1_b * n_a) AS delta,
                       n_a * n_b AS w
                FROM pa),
         px AS (SELECT pd.event_type,
                  CAST(count(*) AS BIGINT) AS n_perms,
                  CAST(SUM(CASE WHEN delta * w_obs >= d_obs * w
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
                FROM pd JOIN od ON pd.event_type = od.event_type
                GROUP BY 1),
         p AS (SELECT event_type,
                 (1000 * n_extreme) // n_perms AS p_permille
               FROM px),
         rk AS (SELECT event_type, p_permille,
                  CAST(row_number() OVER
                    (ORDER BY p_permille, event_type) AS BIGINT)
                    AS rank_asc,
                  CAST(count(*) OVER () AS BIGINT) AS k
                FROM p),
         mp AS (SELECT *, max(CASE WHEN p_permille * k <= 50 * rank_asc
                       THEN rank_asc END) OVER () AS max_pass
                FROM rk)
         SELECT event_type, p_permille, rank_asc,
                (50 * rank_asc) // k AS bh_threshold_permille,
                COALESCE(rank_asc <= max_pass, FALSE)
                  AS is_significant
         FROM mp ORDER BY rank_asc""",

    // Welch's t² as one exact integer rational over per-arm HUGEINT
    // moments; the |t| >= 2 flag decided on the rational, never a float
    "stats_ttest_welch" ->
      s"""WITH u AS (SELECT user_id,
                 CAST(SUM(CAST(round(value * 100) AS BIGINT))
                   AS BIGINT) AS x
               FROM events WHERE event_type = 'purchase' GROUP BY 1),
         uv AS (SELECT ${md5Hash60Sql(
                  "'graft-ab:' || CAST(user_id AS VARCHAR)")}
                  % 2 AS v, x
                FROM u),
         m AS (SELECT v, CAST(count(*) AS HUGEINT) AS n,
                      CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s1,
                      CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2
               FROM uv GROUP BY 1),
         av AS (SELECT n AS n_a, s1 AS s1_a, s2 AS s2_a FROM m
                WHERE v = 0),
         bv AS (SELECT n AS n_b, s1 AS s1_b, s2 AS s2_b FROM m
                WHERE v = 1),
         c AS (SELECT *, (s1_a * n_b - s1_b * n_a) AS df,
                      (n_a * s2_a - s1_a * s1_a) AS va,
                      (n_b * s2_b - s1_b * s1_b) AS vb
               FROM av CROSS JOIN bv),
         t AS (SELECT n_a, n_b, s1_a, s1_b,
                      CAST((1000 * df * df * (n_a - 1) * (n_b - 1))
                        // (va * n_b * n_b * (n_b - 1)
                            + vb * n_a * n_a * (n_a - 1))
                        AS BIGINT) AS t2_milli
               FROM c)
         SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                CAST(s1_a // n_a AS BIGINT) AS mean_a_cents,
                CAST(s1_b // n_b AS BIGINT) AS mean_b_cents,
                t2_milli, t2_milli >= 4000 AS is_significant
         FROM t""",

    // Spearman via doubled average ranks (exact integer tie handling),
    // Pearson on the ranks with the final guarded sqrt division only
    "stats_spearman" ->
      """WITH spend AS (SELECT o_custkey,
                               CAST(SUM(CAST(round(o_totalprice * 100)
                                 AS BIGINT)) AS BIGINT) AS y
                        FROM orders GROUP BY 1),
         pairs AS (SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS x, y
                   FROM customer JOIN spend ON c_custkey = o_custkey),
         ranked AS (SELECT
             2 * rank() OVER (ORDER BY x)
               + count(*) OVER (PARTITION BY x) - 1 AS rx,
             2 * rank() OVER (ORDER BY y)
               + count(*) OVER (PARTITION BY y) - 1 AS ry
           FROM pairs),
         m AS (SELECT count(*) AS n,
                      CAST(SUM(CAST(rx AS HUGEINT)) AS HUGEINT) AS sx,
                      CAST(SUM(CAST(ry AS HUGEINT)) AS HUGEINT) AS sy,
                      CAST(SUM(CAST(rx AS HUGEINT) * rx) AS HUGEINT)
                        AS sxx,
                      CAST(SUM(CAST(ry AS HUGEINT) * ry) AS HUGEINT)
                        AS syy,
                      CAST(SUM(CAST(rx AS HUGEINT) * ry) AS HUGEINT)
                        AS sxy
               FROM ranked)
         SELECT n,
                ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                  / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS rho
         FROM m""",

    // key-skew census: max-to-mean frequency ratio per shuffle key
    "profile_key_skew" -> {
      def skew(name: String, table: String, key: String) =
        s"""SELECT '$name' AS key_name,
                 CAST(sum(c) AS BIGINT) AS n_rows,
                 CAST(count(*) AS BIGINT) AS n_distinct,
                 CAST(max(c) AS BIGINT) AS max_freq,
                 (1000 * max(c) * count(*)) // CAST(sum(c) AS BIGINT)
                   AS skew_permille
          FROM (SELECT $key AS k, count(*) AS c FROM $table GROUP BY 1)"""
      s"""${skew("events.user_id", "events", "user_id")}
          UNION ALL ${skew("lineitem.l_orderkey", "lineitem",
            "l_orderkey")}
          UNION ALL ${skew("lineitem.l_partkey", "lineitem",
            "l_partkey")}
          UNION ALL ${skew("orders.o_custkey", "orders", "o_custkey")}
          ORDER BY key_name"""
    },

    // §2.3bis subqueries + recursive CTE
    "subquery_scalar" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice > (
           SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                  / COUNT(*) FROM orders)
         ORDER BY o_orderkey""",

    "subquery_in" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer
         WHERE c_nationkey IN (
           SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
         ORDER BY c_custkey""",

    "subquery_correlated" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
         WHERE o_totalprice > (
           SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,4)))
                       AS DOUBLE) / COUNT(*)
           FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
         ORDER BY o_orderkey""",

    "graph_reach_recursive" ->
      s"""WITH RECURSIVE $EdgesCte,
          reach(id, hop) AS (
            SELECT CAST(1000000000000 AS BIGINT), 0
            UNION ALL
            SELECT e.src, r.hop + 1
            FROM edges e JOIN reach r ON e.dst = r.id
            WHERE r.hop < 3
          )
          SELECT id, CAST(min(hop) AS INT) AS hop FROM reach
          GROUP BY id ORDER BY hop, id""",

    // §2.5 windows
    "window_rank" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
                rank() OVER w AS price_rank,
                dense_rank() OVER w AS price_dense_rank
         FROM orders
         WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC)
         ORDER BY o_orderstatus, price_rank, o_orderkey""",

    "window_topk_per_group" ->
      """SELECT * FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
           FROM orders) t
         WHERE rn <= 3
         ORDER BY o_custkey, rn""",

    "window_lag_lead" ->
      """SELECT user_id, event_id, ts_sec,
                lag(ts_sec, 1) OVER w AS prev_ts,
                lead(ts_sec, 1) OVER w AS next_ts,
                CAST(date_diff('second', lag(ts_sec, 1) OVER w, ts_sec)
                     AS BIGINT) AS gap_sec
         FROM (SELECT user_id, event_id,
                      date_trunc('second', ts) AS ts_sec FROM events) e
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
         ORDER BY user_id, ts_sec, event_id""",

    "window_running_sum" ->
      """SELECT o_custkey, o_orderkey,
                CAST(o_orderdate AS DATE) AS order_date,
                CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                  OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  2) AS DOUBLE) AS cum_revenue
         FROM orders
         ORDER BY o_custkey, o_orderkey""",

    "window_moving_avg" ->
      """SELECT o_custkey, o_orderkey,
                CAST(o_orderdate AS DATE) AS order_date,
                CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2)
                  AS DOUBLE) AS order_value,
                ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                        OVER w AS DOUBLE)
                      / COUNT(*) OVER w + 1e-9, 2) AS ma7
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY o_custkey, o_orderkey""",

    "window_range_frame" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
                count(*) OVER (PARTITION BY o_orderstatus
                  ORDER BY o_totalprice
                  RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
                  AS n_within_1000
         FROM orders
         ORDER BY o_orderkey""",

    // batch sessionization: lag-flag + running sum = session id; the
    // strictly-greater 30-min gap matches the streaming session_window
    "window_sessionize" ->
      """WITH ev AS (SELECT user_id, event_id,
                            date_trunc('second', ts) AS ts_sec
                     FROM events),
         flg AS (SELECT user_id, event_id, ts_sec,
                   CASE WHEN lag(ts_sec) OVER w IS NULL
                          OR ts_sec - lag(ts_sec) OVER w
                             > INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_s
                 FROM ev WINDOW w AS (PARTITION BY user_id
                                      ORDER BY ts_sec, event_id)),
         s AS (SELECT user_id, ts_sec,
                 CAST(SUM(new_s) OVER (PARTITION BY user_id
                   ORDER BY ts_sec, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
               FROM flg)
         SELECT user_id, session_id, count(*) AS n_events,
                min(ts_sec) AS session_start,
                max(ts_sec) AS session_end
         FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""",

    "window_ntile_percent" ->
      """SELECT o_orderkey, o_orderstatus,
                ntile(4) OVER w AS quartile,
                ROUND(percent_rank() OVER w, 6) AS pct_rank,
                ROUND(cume_dist() OVER w, 6) AS cume
         FROM orders
         WINDOW w AS (PARTITION BY o_orderstatus
                      ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderkey""",

    // replays Windows.windowCountDistinct — DuckDB spells the moving
    // distinct count natively; Spark's size(collect_set() OVER) is the
    // same frame over the same total order
    "window_count_distinct" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_partkey,
                l_shipdate,
                count(DISTINCT p_brand) OVER (
                  PARTITION BY l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber,
                           l_partkey
                  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
                  AS distinct_brands_10
         FROM lineitem JOIN part ON l_partkey = p_partkey
         ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber,
                  l_partkey""",

    // replays Windows.windowFirstLast — the explicit full frame on
    // last_value/nth_value is the point (default running frame would
    // read "current row" for last_value)
    "window_first_last" ->
      """WITH li AS (SELECT l_suppkey, l_orderkey, l_linenumber,
                l_partkey, l_shipdate,
                CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
              FROM lineitem)
         SELECT l_suppkey, l_orderkey, l_linenumber, l_partkey,
                l_shipdate, cents,
                first_value(cents) OVER (w ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS first_cents,
                last_value(cents) OVER (w ROWS BETWEEN UNBOUNDED
                  PRECEDING AND UNBOUNDED FOLLOWING) AS last_cents,
                nth_value(cents, 2) OVER (w ROWS BETWEEN UNBOUNDED
                  PRECEDING AND UNBOUNDED FOLLOWING) AS second_cents
         FROM li
         WINDOW w AS (PARTITION BY l_suppkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber,
                               l_partkey)
         ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber,
                  l_partkey""",

    // §2.6 sorts / limits / set ops
    "sort_multikey" ->
      """SELECT o_orderkey, nullif(o_orderstatus, 'P') AS status_nn,
                o_orderpriority, o_totalprice
         FROM orders
         ORDER BY status_nn DESC NULLS FIRST, o_orderpriority ASC,
                  o_orderkey DESC""",

    "limit_topk_global" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",

    "set_union_all" ->
      """SELECT 'customer' AS kind, c_custkey AS id, c_name AS name,
                c_acctbal AS acctbal FROM customer
         UNION ALL
         SELECT 'supplier', s_suppkey, s_name, s_acctbal FROM supplier
         ORDER BY kind, id""",

    "set_union_distinct" ->
      """SELECT c_nationkey AS nationkey FROM customer
         UNION
         SELECT s_nationkey FROM supplier
         ORDER BY nationkey""",

    "set_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
         INTERSECT
         SELECT s_nationkey FROM supplier
         ORDER BY nationkey""",

    "set_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
         EXCEPT
         SELECT s_nationkey FROM supplier
         ORDER BY nationkey""",

    // day = floor(epoch seconds / 86400); DuckDB's date_diff('day')
    // counts midnight crossings from the epoch, identical for the
    // corpus's positive timestamps (session TZ = UTC in both engines)
    "sort_zorder_cluster" ->
      s"""WITH xy AS (
            SELECT o_custkey,
                   date_diff('day', TIMESTAMP '1970-01-01', o_orderdate)
                     AS day,
                   (o_custkey & 65535) AS x,
                   (date_diff('day', TIMESTAMP '1970-01-01', o_orderdate)
                     & 65535) AS y
            FROM orders),
          z AS (SELECT o_custkey, day,
                       (${zorderSql("x", "y")}) AS zval
                FROM xy)
          SELECT CAST(zval // 65536 AS BIGINT) AS zbucket,
                 count(*) AS n,
                 min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
                 min(day) AS min_day, max(day) AS max_day
          FROM z GROUP BY 1 ORDER BY zbucket""",

    // §2.7 scalar functions
    "scalar_string" ->
      """SELECT p_partkey,
                upper(p_name) AS name_up,
                lower(p_brand) AS brand_lo,
                substr(p_name, 1, 5) AS name_pfx,
                CAST(length(p_name) AS BIGINT) AS name_len,
                concat_ws('|', p_brand, p_type) AS brand_type,
                trim('  ' || p_type || '  ') AS type_trim,
                array_to_string(string_split(p_name, ' '), '|') AS name_toks
         FROM part ORDER BY p_partkey""",

    "scalar_date" ->
      """SELECT o_orderkey,
                CAST(year(o_orderdate) AS BIGINT) AS o_year,
                CAST(month(o_orderdate) AS BIGINT) AS o_month,
                CAST(day(o_orderdate) AS BIGINT) AS o_day,
                date_trunc('month', o_orderdate) AS month_start,
                CAST(date_diff('day', DATE '1995-01-01',
                     CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_95,
                last_day(CAST(o_orderdate AS DATE)) AS month_end
         FROM orders ORDER BY o_orderkey""",

    "scalar_math" ->
      """SELECT o_orderkey,
                ROUND(o_totalprice, 1) AS price_r1,
                ROUND(abs(o_totalprice - 100000), 2) AS abs_diff,
                ROUND(pow(o_totalprice / 100000, 2), 6) AS pow2,
                ROUND(ln(o_totalprice), 6) AS ln_price,
                ROUND(sqrt(o_totalprice), 6) AS sqrt_price,
                CAST(sign(o_totalprice - 100000) AS DOUBLE) AS sign_diff,
                o_orderkey // 7 AS div7,
                o_orderkey % 7 AS mod7
         FROM orders ORDER BY o_orderkey""",

    "scalar_hash" ->
      """SELECT doc_id,
                sha256(text) AS sha_text,
                md5(text) AS md5_text,
                sha256(source || '#' || text) AS sha_salted
         FROM documents ORDER BY doc_id""",

    "array_basic" ->
      """SELECT vec_id,
                CAST(len(embedding) AS BIGINT) AS dim,
                array_to_string(list_transform(list_slice(embedding, 1, 4),
                  x -> CAST(round(CAST(x AS DOUBLE) * 10000000) AS BIGINT)),
                  ',') AS head4,
                array_to_string(list_transform(
                  list_sort(list_slice(embedding, 1, 4)),
                  x -> CAST(round(CAST(x AS DOUBLE) * 10000000) AS BIGINT)),
                  ',') AS head4_sorted,
                embedding[1] AS first_val
         FROM embeddings ORDER BY vec_id""",

    "array_higher_order" ->
      """SELECT e.vec_id,
                ROUND(list_sum(list_transform(range(1, 65),
                  i -> CAST(e.embedding AS DOUBLE[])[i]
                     * CAST(p.embedding AS DOUBLE[])[i])), 4) AS dot,
                CAST(len(list_filter(CAST(e.embedding AS DOUBLE[]),
                  x -> x > 0)) AS BIGINT) AS n_pos
         FROM embeddings e
         CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) p
         ORDER BY e.vec_id""",

    "map_ops" ->
      """SELECT event_id,
                CAST(props->>'k' AS BIGINT) AS k_val,
                CAST(len(json_keys(props)) AS BIGINT) AS n_keys,
                array_to_string(list_sort(json_keys(props)), ',') AS keys_csv
         FROM events ORDER BY event_id""",

    "json_extract" ->
      """SELECT event_id,
                CAST(props->>'k' AS BIGINT) AS k_val,
                props->>'k' AS k_str,
                (props->>'missing') IS NULL AS no_such_key
         FROM events ORDER BY event_id""",

    "udf_scalar" ->
      """SELECT o_orderkey,
                CAST(list_sum(list_transform(
                  range(1, length(CAST(o_orderkey AS VARCHAR)) + 1),
                  i -> CAST(substr(CAST(o_orderkey AS VARCHAR), i, 1)
                            AS BIGINT))) AS BIGINT) AS digit_sum
         FROM orders ORDER BY o_orderkey""",

    "udtf_explode" ->
      """SELECT doc_id, t.u.pos AS pos, t.u.tok AS tok FROM (
           SELECT doc_id, unnest(list_transform(string_split(text, ' '),
                  (x, i) -> struct_pack(pos := CAST(i - 1 AS BIGINT),
                                        tok := x))) AS u
           FROM documents) t
         ORDER BY doc_id, pos""",

    // §2.9 graph (edge-table ops; GraphX algos are oracle=no)
    "graph_build_edges" ->
      s"""WITH $EdgesCte
          SELECT src, dst, rel FROM edges ORDER BY ALL""",

    "graph_degree" ->
      s"""WITH $EdgesCte,
          outd AS (SELECT src AS id_o, count(*) AS out_deg
                   FROM edges GROUP BY 1),
          ind  AS (SELECT dst AS id_i, count(*) AS in_deg
                   FROM edges GROUP BY 1)
          SELECT COALESCE(id_o, id_i) AS id,
                 COALESCE(out_deg, 0) AS out_deg,
                 COALESCE(in_deg, 0) AS in_deg,
                 COALESCE(out_deg, 0) + COALESCE(in_deg, 0) AS total_deg
          FROM outd FULL JOIN ind ON id_o = id_i
          ORDER BY id""",

    // log2 bucket via binary-string length — exact on both engines
    // replays GraphOps.graphAvgNeighborDegree over the dedup
    // undirected frame (the k-core family's degree convention)
    "graph_avg_neighbor_degree" ->
      s"""WITH $EdgesCte,
          ded AS (SELECT DISTINCT src, dst FROM edges),
          und AS (SELECT src, dst FROM ded
                  UNION ALL SELECT dst, src FROM ded),
          deg AS (SELECT src, count(*) AS d FROM und GROUP BY 1)
          SELECT u.src AS id, count(*) AS deg,
                 CAST((1000 * SUM(g.d)) // count(*) AS BIGINT)
                   AS avg_nb_deg_permille
          FROM und u JOIN deg g ON g.src = u.dst
          GROUP BY u.src ORDER BY id""",

    "graph_degree_histogram" ->
      s"""WITH $EdgesCte,
          outd AS (SELECT src AS id_o, count(*) AS out_deg
                   FROM edges GROUP BY 1),
          ind  AS (SELECT dst AS id_i, count(*) AS in_deg
                   FROM edges GROUP BY 1),
          deg AS (SELECT COALESCE(out_deg, 0) + COALESCE(in_deg, 0)
                    AS total_deg
                  FROM outd FULL JOIN ind ON id_o = id_i)
          SELECT CAST(1 << (length(bin(total_deg)) - 1) AS BIGINT)
                   AS bucket_lo,
                 count(*) AS n_vertices
          FROM deg GROUP BY 1 ORDER BY bucket_lo""",

    // degree gini off the degree-histogram cells (the length-gini
    // tie-group average-rank identity — all-integer numerator)
    "graph_degree_gini" ->
      s"""WITH $EdgesCte,
          outd AS (SELECT src AS id_o, count(*) AS out_deg
                   FROM edges GROUP BY 1),
          ind  AS (SELECT dst AS id_i, count(*) AS in_deg
                   FROM edges GROUP BY 1),
          deg AS (SELECT CAST(COALESCE(out_deg, 0)
                    + COALESCE(in_deg, 0) AS BIGINT) AS d
                  FROM outd FULL JOIN ind ON id_o = id_i),
          cells AS (SELECT d, CAST(count(*) AS BIGINT) AS c
                    FROM deg GROUP BY 1),
          pc AS (SELECT d, c,
                   COALESCE(SUM(c) OVER (ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS prev
                 FROM cells),
          ns AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(CAST(c AS HUGEINT) * d) AS HUGEINT) AS sx
                 FROM cells),
          g AS (SELECT ns.n, ns.sx,
                  SUM(CAST(pc.c AS HUGEINT) * pc.d
                      * (2 * pc.prev + pc.c - ns.n)) AS num
                FROM pc CROSS JOIN ns GROUP BY 1, 2)
          SELECT n AS n_vertices,
                 CAST((1000 * sx) // n AS BIGINT) AS mean_deg_milli,
                 CAST((1000 * num) // (n * sx) AS BIGINT)
                   AS gini_permille
          FROM g""",

    "graph_neighbors_1hop" ->
      s"""WITH $EdgesCte
          SELECT src, dst, rel FROM edges
          JOIN (SELECT 3000000000000 + c_custkey AS seed_id FROM customer
                WHERE c_acctbal > 9000) s ON src = seed_id
          ORDER BY src, dst, rel""",

    "graph_traverse_2hop" ->
      s"""WITH $EdgesCte
          SELECT e1.dst AS region_id, e1.src AS nation_id,
                 e2.src AS customer_id
          FROM edges e1
          JOIN edges e2 ON e2.dst = e1.src
          WHERE e1.rel = 'IN' AND e1.src // 1000000000000 = 2
            AND e2.rel = 'IN' AND e2.src // 1000000000000 = 3
          ORDER BY region_id, nation_id, customer_id""",

    "graph_pattern_motif" ->
      """SELECT c_custkey, s_suppkey, c_nationkey AS nationkey,
                count(*) AS n_links
         FROM customer
         JOIN supplier ON c_nationkey = s_nationkey
         JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey AND l_suppkey = s_suppkey
         GROUP BY c_custkey, s_suppkey, c_nationkey
         ORDER BY c_custkey, s_suppkey""",

    "graph_subgraph" ->
      s"""WITH $EdgesCte,
          vs AS (SELECT 3000000000000 + c_custkey AS id FROM customer
                 WHERE c_acctbal > 5000
                 UNION ALL
                 SELECT 2000000000000 + n_nationkey FROM nation
                 WHERE n_regionkey <= 1)
          SELECT src, dst, rel FROM edges
          JOIN (SELECT id AS sid FROM vs) a ON src = sid
          JOIN (SELECT id AS did FROM vs) b ON dst = did
          ORDER BY src, dst, rel""",

    "graph_bfs_khop" ->
      s"""WITH $EdgesCte,
          s  AS (SELECT CAST(1000000000000 AS BIGINT) AS id),
          h1 AS (SELECT DISTINCT e.src AS id FROM edges e
                 JOIN s ON e.dst = s.id),
          h2 AS (SELECT DISTINCT e.src AS id FROM edges e
                 JOIN h1 ON e.dst = h1.id
                 WHERE e.src NOT IN (SELECT id FROM s UNION ALL
                                     SELECT id FROM h1)),
          h3 AS (SELECT DISTINCT e.src AS id FROM edges e
                 JOIN h2 ON e.dst = h2.id
                 WHERE e.src NOT IN (SELECT id FROM s UNION ALL
                                     SELECT id FROM h1 UNION ALL
                                     SELECT id FROM h2))
          SELECT id, 0 AS hop FROM s
          UNION ALL SELECT id, 1 FROM h1
          UNION ALL SELECT id, 2 FROM h2
          UNION ALL SELECT id, 3 FROM h3
          ORDER BY hop, id""",

    // 2-hop undirected ego set of customer #1, then the induced edges
    // (both endpoints in the set) — unrolled mirror of the Spark
    // frontier expansion + double semi-join induction
    "graph_ego_network" ->
      s"""WITH $EdgesCte,
          und AS (SELECT src AS a, dst AS b FROM edges
                  UNION ALL SELECT dst, src FROM edges),
          s AS (SELECT CAST(3000000000001 AS BIGINT) AS id),
          h1 AS (SELECT DISTINCT und.b AS id FROM und
                 JOIN s ON und.a = s.id
                 WHERE und.b NOT IN (SELECT id FROM s)),
          h2 AS (SELECT DISTINCT und.b AS id FROM und
                 JOIN h1 ON und.a = h1.id
                 WHERE und.b NOT IN (SELECT id FROM s UNION ALL
                                     SELECT id FROM h1)),
          ego AS (SELECT id FROM s UNION ALL SELECT id FROM h1
                  UNION ALL SELECT id FROM h2)
          SELECT DISTINCT src, dst, rel FROM edges
          WHERE src IN (SELECT id FROM ego)
            AND dst IN (SELECT id FROM ego)
          ORDER BY rel, src, dst""",

    "graph_shortest_paths" ->
      s"""WITH RECURSIVE $EdgesCte,
          reach(id, dist) AS (
            SELECT CAST(1000000000000 AS BIGINT), 0
            UNION
            SELECT e.src, r.dist + 1
            FROM edges e JOIN reach r ON e.dst = r.id
            WHERE r.dist < 6
          )
          SELECT id, CAST(min(dist) AS INT) AS dist_to_region0 FROM reach
          GROUP BY id ORDER BY dist_to_region0, id""",

    // NOTE: single-source undirected BFS from the min vertex — this
    // oracle intentionally asserts the one-component structure of THIS
    // graph (GraphSpec pins the same invariant): if the edge model ever
    // produces multiple components, the Spark op emits one row per
    // component and this one-row oracle must be generalized.
    "graph_connected_components" ->
      s"""WITH RECURSIVE $EdgesCte,
          und AS (SELECT src AS a, dst AS b FROM edges
                  UNION ALL SELECT dst, src FROM edges),
          comp(id) AS (
            SELECT CAST(1000000000000 AS BIGINT)
            UNION
            SELECT u.b FROM und u JOIN comp c ON u.a = c.id
          )
          SELECT min(id) AS component, count(*) AS size FROM comp
          ORDER BY size DESC, component""",

    // motif DSL exhibits — hand-written SQL equivalents of the compiled
    // patterns (MotifDsl.compile output columns are alphabetical)
    "motif_chain_2hop" ->
      s"""WITH $EdgesCte
          SELECT e1.dst AS c, e2.dst AS n, e1.src AS o
          FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
          WHERE e1.rel = 'BY' AND e2.rel = 'IN'
          ORDER BY c, n, o""",

    "motif_vee_shared_nation" ->
      s"""WITH $EdgesCte
          SELECT e1.src AS c, e1.dst AS n, e2.src AS s
          FROM edges e1 JOIN edges e2 ON e1.dst = e2.dst
          WHERE e1.rel = 'IN' AND e2.rel = 'IN'
            AND e1.src BETWEEN 3000000000000 AND 3999999999999
            AND e2.src >= 4000000000000
          ORDER BY c, n, s""",

    "motif_varlen_reach" ->
      s"""WITH $EdgesCte,
          ine AS (SELECT src, dst FROM edges WHERE rel = 'IN')
          SELECT DISTINCT x, y FROM (
            SELECT src AS x, dst AS y FROM ine
            UNION ALL
            SELECT a.src, b.dst FROM ine a JOIN ine b ON a.dst = b.src)
          ORDER BY x, y""",

    // WHERE-extension exhibit: the compiled pattern + property
    // predicate collapses to this relational query
    "motif_where_filter" ->
      """SELECT 3000000000000 + c_custkey AS c,
                2000000000000 + c_nationkey AS n,
                6000000000000 + o_orderkey AS o
         FROM customer
         JOIN nation ON n_nationkey = c_nationkey
         JOIN orders ON o_custkey = c_custkey
         WHERE n_name = 'NATION_7'
         ORDER BY c, n, o""",

    "motif_return_agg" ->
      """SELECT 2000000000000 + c_nationkey AS n,
                count(*) AS count_o
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY n""",

    // the !-term compiles to an anti join: 2-hop IN paths whose head
    // has no incoming BY edge (= the supplier legs on this corpus)
    // property RETURN: the n.name projection resolves through the
    // vertex bag, which for nation ids is the nation table itself
    "motif_return_property" ->
      """SELECT n_name, count(*) AS count_o
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON n_nationkey = c_nationkey
         GROUP BY 1 ORDER BY n_name""",

    "motif_negation" ->
      s"""WITH $EdgesCte,
          hop AS (SELECT a.src AS s, a.dst AS n, b.dst AS r
                  FROM edges a JOIN edges b
                    ON a.dst = b.src AND a.rel = 'IN' AND b.rel = 'IN')
          SELECT n, r, s FROM hop
          WHERE NOT EXISTS (SELECT 1 FROM edges e
                            WHERE e.rel = 'BY' AND e.dst = hop.s)
          ORDER BY n, r, s""",

    // the ?-term compiles to a left-outer join: all customers, orders
    // null-extended (NULLS FIRST matches Spark's asc default)
    "motif_optional" ->
      """SELECT 3000000000000 + c_custkey AS c,
                2000000000000 + c_nationkey AS n,
                6000000000000 + o_orderkey AS o
         FROM customer LEFT JOIN orders ON o_custkey = c_custkey
         ORDER BY c, n, o NULLS FIRST""",

    // edge-binding exhibits: the [r:HAS] term carries lineitem's edge
    // props (qty, cents, returnflag) — the compiled plan collapses to
    // these relational queries. Money is integer cents; lineitem legs
    // have no unique key, hence ORDER BY ALL.
    "motif_edge_filter" ->
      s"""SELECT ${GraphModel.CustomerOff} + o_custkey AS c,
                 ${GraphModel.OrderOff} + l_orderkey AS o,
                 ${GraphModel.PartOff} + l_partkey AS p,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS r_amt_c,
                 CAST(l_quantity AS BIGINT) AS r_qty,
                 l_returnflag AS r_status
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE CAST(l_quantity AS BIGINT) >= 45
          ORDER BY ALL""",

    "motif_edge_return" ->
      """SELECT l_returnflag AS r_status, count(*) AS count_o
         FROM lineitem GROUP BY 1 ORDER BY r_status""",

    "graph_delete_edges" ->
      s"""WITH $EdgesCte,
          ded AS (SELECT DISTINCT src, dst, rel FROM edges),
          tomb AS (SELECT 6000000000000 + o_orderkey AS src,
                          3000000000000 + o_custkey AS dst, 'BY' AS rel
                   FROM orders WHERE o_orderstatus = 'P'),
          kept AS (SELECT d.* FROM ded d
                   WHERE NOT EXISTS (SELECT 1 FROM tomb t
                     WHERE t.src = d.src AND t.dst = d.dst
                       AND t.rel = d.rel)),
          b AS (SELECT rel, count(*) AS n_before FROM ded GROUP BY rel),
          a AS (SELECT rel, count(*) AS n_after FROM kept GROUP BY rel)
          SELECT b.rel, n_before,
                 n_before - COALESCE(n_after, 0) AS n_removed,
                 COALESCE(n_after, 0) AS n_after
          FROM b LEFT JOIN a ON a.rel = b.rel
          ORDER BY b.rel""",

    // unrolled 5-iteration chain of GraphOps.pagerankRounds' integer
    // arithmetic at w = 1: BIGINT micro-unit ranks, `//` == Spark's `div` on
    // positive operands, exact order-independent sums
    "graph_pagerank_exact" -> pagerankExactSql(5),

    "graph_pagerank_weighted_exact" -> pagerankWeightedExactSql(5),

    "graph_pagerank_personalized" -> pagerankPersonalizedSql(5),

    // unrolled 3-round deterministic LPA (see lpaExactSql)
    "graph_lpa_exact" -> lpaExactSql(3),

    "graph_community_stats" -> communityStatsSql(3),

    // conductance = cut / (2*internal + cut) in exact permille over
    // the same stats replay; positive-integer floor division on both
    // engines, NULL for a community with no incident edges at all
    "graph_community_conductance" ->
      s"""SELECT label, size, n_internal, n_cut,
          CAST(CASE WHEN 2 * n_internal + n_cut = 0 THEN NULL
               ELSE (1000 * n_cut) // (2 * n_internal + n_cut)
               END AS BIGINT) AS conductance_permille
          FROM (${communityStatsSql(3)})
          ORDER BY label""",
    "graph_modularity" -> modularitySql(3),
    "graph_community_merge" -> communityMergeSql(3),
    "graph_louvain" -> louvainSql(3, 3),
    "graph_leiden" -> leidenSql(3, 3),
    "graph_community_refine" -> communityRefineSql(3, 3),
    "graph_louvain_move" -> louvainMoveSql(3, 2, 3),
    "graph_louvain_weighted" -> louvainWeightedSql(3, 3),
    "graph_partition_agreement" -> partitionAgreementSql(3, 3),
    "corpus_bpe_merges" -> bpeMergesSql(6),
    "corpus_bpe_encode" -> bpeEncodeSql(6),
    "corpus_fertility_lang" -> bpeFertilitySql(6),

    // naive one-doc-per-sequence truncation/padding waste at the fixed
    // context length — exact integers, the packing motivation table
    "corpus_truncation_waste" -> {
      val l = graft.ops.TextOps.TruncContextLen
      s"""WITH t AS (SELECT source,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
              FROM documents),
         g AS (SELECT source, count(*) AS n_docs,
                CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
                CAST(SUM(CASE WHEN n_tok > $l THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_trunc_docs,
                CAST(SUM(greatest(n_tok - $l, 0)) AS BIGINT)
                  AS tokens_lost,
                CAST(SUM(greatest($l - n_tok, 0)) AS BIGINT)
                  AS pad_tokens
               FROM t GROUP BY 1)
         SELECT source, n_docs, n_tokens, n_trunc_docs, tokens_lost,
                pad_tokens,
                (1000 * (tokens_lost + pad_tokens)) // (n_docs * $l)
                  AS waste_permille
         FROM g ORDER BY source"""
    },
    "corpus_bpe_vocab" ->
      bpeVocabSql(6, ops.TextOps.BpeVocabTopK),
    "corpus_unigram_prune" -> unigramPruneSql,
    "graph_shortest_paths_weighted_multi" -> spWeightedMultiSql(4),

    // replays GraphOps.graphAssortativity: symmetrized edge-end degree
    // pairs make Pearson's r a pure rational — exact micro-units via
    // the same remainder-subtraction floor division
    // replays GraphOps.graphReciprocity — semi join of the dedup edge
    // frame against its own swap, exact permille
    "graph_reciprocity" ->
      s"""WITH $EdgesCte,
         ded AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
         rec AS (SELECT d.src, d.dst FROM ded d
                 WHERE EXISTS (SELECT 1 FROM ded r
                               WHERE r.src = d.dst AND r.dst = d.src))
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM ded) AS n_edges,
                (SELECT CAST(count(*) AS BIGINT) FROM rec)
                  AS n_reciprocal,
                CAST((1000 * (SELECT count(*) FROM rec))
                     // (SELECT count(*) FROM ded) AS BIGINT)
                  AS reciprocity_permille""",

    // replays GraphOps.graphDegreeCentralization — Freeman index off
    // the same ded/deg frames as assortativity, HUGEINT headroom
    "graph_degree_centralization" ->
      s"""WITH $EdgesCte,
         ded AS (SELECT DISTINCT src, dst FROM edges),
         deg AS (SELECT id, count(*) AS d FROM
                   (SELECT src AS id FROM ded
                    UNION ALL SELECT dst FROM ded)
                 GROUP BY id),
         m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                      CAST(max(d) AS HUGEINT) AS dmax,
                      CAST(sum(d) AS HUGEINT) AS sd FROM deg)
         SELECT CAST(n AS BIGINT) AS n_vertices,
                CAST(dmax AS BIGINT) AS max_degree,
                CAST(n * dmax - sd AS BIGINT) AS deg_gap_sum,
                CAST((1000000 * (n * dmax - sd))
                     // ((n - 1) * (n - 2)) AS BIGINT) AS central_micro
         FROM m""",

    "graph_assortativity" ->
      s"""WITH $EdgesCte,
         ded AS (SELECT DISTINCT src, dst FROM edges),
         deg AS (SELECT id, count(*) AS d FROM
                   (SELECT src AS id FROM ded
                    UNION ALL SELECT dst FROM ded)
                 GROUP BY id),
         ends AS (SELECT a.d AS dx, b.d AS dy
                  FROM ded JOIN deg a ON a.id = ded.src
                           JOIN deg b ON b.id = ded.dst),
         sym AS (SELECT dx AS x, dy AS y FROM ends
                 UNION ALL SELECT dy, dx FROM ends),
         m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                      CAST(SUM(x) AS HUGEINT) AS sx,
                      CAST(SUM(x * y) AS HUGEINT) AS sxy,
                      CAST(SUM(x * x) AS HUGEINT) AS sxx FROM sym),
         nd AS (SELECT n, sx, sxy, sxx,
                       1000000 * (n * sxy - sx * sx) AS num,
                       n * sxx - sx * sx AS den FROM m)
         SELECT CAST(n AS BIGINT) AS n_ends,
                CAST(sx AS BIGINT) AS sum_deg,
                CAST(sxy AS BIGINT) AS sum_xy,
                CAST(sxx AS BIGINT) AS sum_x2,
                CAST(CASE WHEN den = 0 THEN NULL
                  ELSE (num - ((num % den + den) % den)) // den END
                  AS BIGINT) AS r_micro
         FROM nd""",
    // replays GraphOps.graphRichClub: two histograms on the shared
    // degree-value axis + one strictly-greater suffix-sum window
    "graph_rich_club" ->
      s"""WITH $EdgesCte,
         ded AS (SELECT DISTINCT src, dst FROM edges),
         deg AS (SELECT id, count(*) AS d FROM
                   (SELECT src AS id FROM ded
                    UNION ALL SELECT dst FROM ded)
                 GROUP BY id),
         em AS (SELECT least(a.d, b.d) AS d, count(*) AS g
                FROM ded JOIN deg a ON a.id = ded.src
                         JOIN deg b ON b.id = ded.dst
                GROUP BY 1),
         hd AS (SELECT d, count(*) AS h FROM deg GROUP BY 1),
         j AS (SELECT hd.d AS k, h, COALESCE(g, 0) AS g
               FROM hd LEFT JOIN em ON em.d = hd.d),
         s AS (SELECT k,
                      COALESCE(CAST(sum(h) OVER w AS BIGINT), 0) AS n_k,
                      COALESCE(CAST(sum(g) OVER w AS BIGINT), 0) AS e_k
               FROM j WINDOW w AS (ORDER BY k DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         SELECT k, n_k, e_k,
                CAST((2000 * e_k) // nullif(n_k * (n_k - 1), 0)
                  AS BIGINT) AS phi_permille
         FROM s ORDER BY k""",

    "graph_shortest_path_trace" -> pathTraceSql(3),
    "graph_temporal_reach" -> temporalReachSql(3),

    "graph_hits_exact" -> hitsExactSql(2),

    "graph_random_walk" -> randomWalkSql(3),
    "graph_node2vec_walk" -> node2vecWalkSql(3),
    "graph_walk_embed" -> walkEmbedSql(3),

    // replays GraphOps.graphWarmCaches: each shared session cache's
    // row count is a graph invariant — dedup/undirected edge counts,
    // the edge-incident vertex census (the LPA seed and the Louvain
    // labeling both carry one row per vertex), the canonical triangle
    // enumeration, the capped brand-event frame
    "graph_warm_caches" ->
      s"""WITH $EdgesCte,
         ded AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
         verts AS (SELECT DISTINCT v FROM
                     (SELECT src AS v FROM ded
                      UNION ALL SELECT dst FROM ded)),
         li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem),
         ranked AS (SELECT ok, pk, row_number() OVER (
                      PARTITION BY ok ORDER BY pk) AS rn FROM li),
         capped AS (SELECT ok, pk FROM ranked WHERE rn <= 32),
         e AS MATERIALIZED (
           SELECT DISTINCT a.pk AS src, b.pk AS dst
           FROM capped a JOIN capped b
             ON a.ok = b.ok AND a.pk < b.pk),
         tri AS (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
                 FROM e e1
                 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
                 JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
         ocap AS (SELECT o_orderkey, o_custkey, o_orderdate FROM (
                    SELECT o_orderkey, o_custkey, o_orderdate,
                           row_number() OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey) AS rn
                    FROM orders)
                  WHERE rn <= ${ops.Mining.MaxSeqOrders}),
         ob AS (SELECT DISTINCT o_custkey AS cust, o_orderkey AS ok,
                       o_orderdate AS od, p_brand AS brand
                FROM ocap
                JOIN lineitem ON o_orderkey = l_orderkey
                JOIN part ON l_partkey = p_partkey)
         SELECT cache, n_rows FROM (
           SELECT 'dedup_edges' AS cache,
                  CAST(count(*) AS BIGINT) AS n_rows FROM ded
           UNION ALL
           SELECT 'und_edges', CAST(2 * count(*) AS BIGINT) FROM ded
           UNION ALL
           SELECT 'und_edges_by_dst', CAST(2 * count(*) AS BIGINT)
           FROM ded
           UNION ALL
           SELECT 'und_degrees', CAST(count(*) AS BIGINT) FROM verts
           UNION ALL
           SELECT 'dedup_verts', CAST(count(*) AS BIGINT) FROM verts
           UNION ALL
           SELECT 'lpa_labels', CAST(count(*) AS BIGINT) FROM verts
           UNION ALL
           SELECT 'louvain_labels', CAST(count(*) AS BIGINT) FROM verts
           UNION ALL
           SELECT 'within_parts', CAST(count(*) AS BIGINT) FROM verts
           UNION ALL
           SELECT 'triangles', CAST(count(*) AS BIGINT) FROM tri
           UNION ALL
           SELECT 'seq_brand_events', CAST(count(*) AS BIGINT) FROM ob)
         ORDER BY cache""",

    // Katz: exact directed path counts p_t, attenuated once per TERM
    // (1000*p_t) // 2^t with beta = 1/2, T = 3 — engine-exact BIGINTs
    "graph_katz_centrality" ->
      s"""WITH $EdgesCte,
         ded AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
         verts AS (SELECT DISTINCT id FROM
           (SELECT src AS id FROM ded UNION SELECT dst FROM ded)),
         p0 AS (SELECT id, CAST(1 AS BIGINT) AS p FROM verts),
         p1 AS (SELECT v.id, CAST(COALESCE(m.s, 0) AS BIGINT) AS p
                FROM verts v LEFT JOIN (
                  SELECT d.dst AS id, SUM(c.p) AS s
                  FROM p0 c JOIN ded d ON d.src = c.id
                  GROUP BY d.dst) m ON m.id = v.id),
         p2 AS (SELECT v.id, CAST(COALESCE(m.s, 0) AS BIGINT) AS p
                FROM verts v LEFT JOIN (
                  SELECT d.dst AS id, SUM(c.p) AS s
                  FROM p1 c JOIN ded d ON d.src = c.id
                  GROUP BY d.dst) m ON m.id = v.id),
         p3 AS (SELECT v.id, CAST(COALESCE(m.s, 0) AS BIGINT) AS p
                FROM verts v LEFT JOIN (
                  SELECT d.dst AS id, SUM(c.p) AS s
                  FROM p2 c JOIN ded d ON d.src = c.id
                  GROUP BY d.dst) m ON m.id = v.id)
         SELECT p1.id,
                (1000 * p1.p) // 2 + (1000 * p2.p) // 4
                  + (1000 * p3.p) // 8 AS katz_milli
         FROM p1 JOIN p2 ON p1.id = p2.id JOIN p3 ON p1.id = p3.id
         -- symmetric zero-drop (r13 advice): the Spark side never
         -- emits zero-reach vertices (its sparse t1 stream IS the
         -- in-degree >= 1 set, and p1 >= 1 implies katz >= 500), so
         -- the oracle drops the same rows STRUCTURALLY instead of
         -- relying on the ">= 50 in-linked vertices" invariant to
         -- keep the zero tail out of the top-50
         WHERE p1.p >= 1
         ORDER BY katz_milli DESC, p1.id LIMIT 50""",

    "graph_path_count" -> pathCountSql(3),

    // replays GraphOps.graphEigenvectorCentrality: 3 power-iteration
    // rounds over the undirected dedup graph, HUGEINT sums, per-round
    // micro renormalization by the round max via exact floor division
    // (positive integers — both engines truncate identically)
    "graph_eigenvector_centrality" ->
      s"""WITH $EdgesCte,
         ded AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
         und AS MATERIALIZED (
           SELECT src, dst FROM ded
           UNION ALL SELECT dst, src FROM ded),
         v0 AS (SELECT DISTINCT src AS id,
                       CAST(1000000 AS HUGEINT) AS v FROM und),
         u1 AS (SELECT u.dst AS id, SUM(c.v) AS s
                FROM und u JOIN v0 c ON u.src = c.id GROUP BY u.dst),
         v1 AS (SELECT id, (1000000 * s)
                  // (SELECT MAX(s) FROM u1) AS v FROM u1),
         u2 AS (SELECT u.dst AS id, SUM(c.v) AS s
                FROM und u JOIN v1 c ON u.src = c.id GROUP BY u.dst),
         v2 AS (SELECT id, (1000000 * s)
                  // (SELECT MAX(s) FROM u2) AS v FROM u2),
         u3 AS (SELECT u.dst AS id, SUM(c.v) AS s
                FROM und u JOIN v2 c ON u.src = c.id GROUP BY u.dst),
         v3 AS (SELECT id, (1000000 * s)
                  // (SELECT MAX(s) FROM u3) AS v FROM u3)
         SELECT id, CAST(v AS BIGINT) AS eig_micro FROM v3
         ORDER BY eig_micro DESC, id LIMIT 50""",

    "graph_betweenness" ->
      betweennessSql(3, Seq(3000000000001L, 4000000000001L)),
    "graph_edge_betweenness" ->
      edgeBetweennessSql(3, Seq(3000000000001L, 4000000000001L)),
    "graph_girvan_newman_cut" ->
      girvanNewmanSql(3, Seq(3000000000001L, 4000000000001L)),

    "graph_betweenness_weighted" -> wBetweennessSql(4),
    "graph_closeness_weighted" -> wClosenessSql(4),
    "graph_eccentricity_weighted" -> wEccentricitySql(4),

    "graph_closeness_harmonic" ->
      closenessSql(3, Seq(3000000000001L, 4000000000001L,
        2000000000001L, 6000000000001L)),

    "graph_reach_profile" ->
      reachProfileSql(3, Seq(3000000000001L, 4000000000001L,
        2000000000001L, 6000000000001L)),

    // replays GraphOps.graphEffectiveDiameter — one keyed window over
    // the wrapped reach-profile replay, 90%-of-horizon depth
    "graph_effective_diameter" ->
      s"""WITH prof AS (SELECT * FROM (${reachProfileSql(3,
            Seq(3000000000001L, 4000000000001L, 2000000000001L,
              6000000000001L))})),
          c AS (SELECT lm, dist, n_reached,
                       sum(n_reached) OVER (PARTITION BY lm
                         ORDER BY dist) AS cum,
                       sum(n_reached) OVER (PARTITION BY lm) AS total
                FROM prof)
          SELECT lm, CAST(min(dist) AS INT) AS eff_diam_90,
                 CAST(max(total) AS BIGINT) AS total_reached
          FROM c WHERE cum * 10 >= total * 9
          GROUP BY lm ORDER BY lm""",

    "graph_kcore" -> kcoreSql(3, 4),

    "graph_coreness" -> corenessSql(graft.ops.GraphOps.CorenessRounds),
    "graph_ktruss" -> ktrussSql(4, 3),

    "graph_avg_path_length" ->
      avgPathSql(3, Seq(3000000000001L, 4000000000001L,
        2000000000001L, 6000000000001L)),

    // same capped per-order expansion as the triangle replay, but
    // keeping multiplicity: weight = number of co-ordering orders
    "graph_bipartite_project" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         ranked AS (SELECT ok, pk, row_number() OVER (
                      PARTITION BY ok ORDER BY pk) AS rn FROM li),
         capped AS (SELECT ok, pk FROM ranked WHERE rn <= 32)
         SELECT a.pk AS src, b.pk AS dst, count(*) AS weight
         FROM capped a JOIN capped b
           ON a.ok = b.ok AND a.pk < b.pk
         GROUP BY 1, 2 ORDER BY src, dst""",

    // replays GraphXAlgos.butterflyCount: the bipartite-projection
    // pair weights, C(cn, 2) butterflies per pair, top-10
    "graph_butterfly_count" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         ranked AS (SELECT ok, pk, row_number() OVER (
                      PARTITION BY ok ORDER BY pk) AS rn FROM li),
         capped AS (SELECT ok, pk FROM ranked WHERE rn <= 32),
         cn AS (SELECT a.pk AS a, b.pk AS b, count(*) AS cn
                FROM capped a JOIN capped b
                  ON a.ok = b.ok AND a.pk < b.pk
                GROUP BY 1, 2)
         SELECT a, b, cn,
                CAST(cn * (cn - 1) // 2 AS BIGINT) AS pair_butterflies
         FROM cn WHERE cn >= 2
         ORDER BY pair_butterflies DESC, a, b LIMIT 10""",

    // replays GraphXAlgos.graphLocalBridges — same capped projection +
    // canonical triangle enumeration; bridges = edges with no triangle
    // support (span > 2); CTEs materialized (multi-referenced)
    "graph_local_bridges" ->
      """WITH li AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         ranked AS (SELECT ok, pk, row_number() OVER (
                      PARTITION BY ok ORDER BY pk) AS rn FROM li),
         capped AS MATERIALIZED (
           SELECT ok, pk FROM ranked WHERE rn <= 32),
         e AS MATERIALIZED (
           SELECT DISTINCT a.pk AS src, b.pk AS dst
           FROM capped a JOIN capped b
             ON a.ok = b.ok AND a.pk < b.pk),
         tri AS MATERIALIZED (
           SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
           FROM e e1
           JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
           JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
         sup AS MATERIALIZED (
           SELECT src, dst, count(*) AS sup FROM (
             SELECT x AS src, y AS dst FROM tri
             UNION ALL SELECT x, z FROM tri
             UNION ALL SELECT y, z FROM tri) GROUP BY 1, 2),
         und AS (SELECT src, dst FROM e
                 UNION ALL SELECT dst, src FROM e),
         deg AS MATERIALIZED (
           SELECT src AS id, CAST(count(*) AS BIGINT) AS d
           FROM und GROUP BY 1),
         se AS MATERIALIZED (
           SELECT e.src, e.dst,
                  CAST(COALESCE(sup.sup, 0) AS BIGINT) AS sup
           FROM e
           LEFT JOIN sup ON e.src = sup.src AND e.dst = sup.dst),
         cen AS (SELECT
             (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
             (SELECT CAST(count(*) AS BIGINT) FROM se WHERE sup = 0)
               AS n_bridges)
         SELECT se.src, se.dst, se.sup, se.sup = 0 AS is_bridge,
                ds.d AS deg_src, dd.d AS deg_dst,
                n_edges, n_bridges
         FROM se JOIN deg ds ON ds.id = se.src
                 JOIN deg dd ON dd.id = se.dst
                 CROSS JOIN cen
         ORDER BY se.sup, se.src, se.dst LIMIT 50""",

    // replays GraphOps.graphNationMixing — supplier→customer trade
    // edges per lineitem, nation×nation cell census with exact
    // permille shares
    "graph_nation_mixing" ->
      """WITH cells AS (
           SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                  CAST(count(*) AS BIGINT) AS n_edges
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation cn ON c_nationkey = cn.n_nationkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation sn ON s_nationkey = sn.n_nationkey
           GROUP BY 1, 2),
         t AS (SELECT CAST(sum(n_edges) AS BIGINT) AS tot FROM cells)
         SELECT supp_nation, cust_nation, n_edges,
                CAST((1000 * n_edges) // tot AS BIGINT)
                  AS share_permille,
                supp_nation = cust_nation AS same_nation
         FROM cells CROSS JOIN t
         ORDER BY supp_nation, cust_nation""",

    // replays GraphXAlgos.copurchasePairs exactly: per order the 32
    // smallest distinct parts (row_number == sorted-slice cap), ordered
    // pairs, dedup; then canonical x<y<z triangle enumeration and the
    // per-vertex histogram (vertices = edge endpoints, zero-triangle
    // vertices included, as Graph.fromEdges + triangleCount yields)
    "graph_triangle_count" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         ranked AS (SELECT ok, pk, row_number() OVER (
                      PARTITION BY ok ORDER BY pk) AS rn FROM li),
         capped AS (SELECT ok, pk FROM ranked WHERE rn <= 32),
         e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
               FROM capped a JOIN capped b
                 ON a.ok = b.ok AND a.pk < b.pk),
         tri AS (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
                 FROM e e1
                 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
                 JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
         verts AS (SELECT DISTINCT v FROM
                     (SELECT src AS v FROM e UNION SELECT dst FROM e)),
         tc AS (SELECT v, count(*) AS n FROM (
                  SELECT x AS v FROM tri UNION ALL
                  SELECT y FROM tri UNION ALL
                  SELECT z FROM tri) GROUP BY v)
         SELECT COALESCE(n, 0) AS n_triangles, count(*) AS n_vertices
         FROM verts LEFT JOIN tc ON verts.v = tc.v
         GROUP BY 1 ORDER BY 1""",

    // same capped replay; per-vertex triangle credit to all three
    // corners, lc = (2000·tri) div (d·(d−1)), (lc, tri, id) total order
    "graph_local_clustering" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         ranked AS (SELECT ok, pk, row_number() OVER (
                      PARTITION BY ok ORDER BY pk) AS rn FROM li),
         capped AS (SELECT ok, pk FROM ranked WHERE rn <= 32),
         e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
               FROM capped a JOIN capped b
                 ON a.ok = b.ok AND a.pk < b.pk),
         und AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
         deg AS (SELECT src AS id, count(*) AS d FROM und GROUP BY 1),
         tri AS (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
                 FROM e e1
                 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
                 JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
         pv AS (SELECT v AS id, count(*) AS n_tri FROM (
                  SELECT x AS v FROM tri UNION ALL
                  SELECT y FROM tri UNION ALL
                  SELECT z FROM tri) GROUP BY 1)
         SELECT id, d, n_tri, lc_permille FROM (
           SELECT g.id, g.d,
                  CAST(COALESCE(pv.n_tri, 0) AS BIGINT) AS n_tri,
                  CAST((2000 * COALESCE(pv.n_tri, 0))
                    // (g.d * (g.d - 1)) AS BIGINT) AS lc_permille
           FROM deg g LEFT JOIN pv ON pv.id = g.id
           WHERE g.d >= 2)
         ORDER BY lc_permille DESC, n_tri DESC, id LIMIT 50""",

    // same capped co-purchase replay; triangles counted once via the
    // canonical x<y<z join, wedges from undirected degrees
    "graph_clustering_coeff" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         ranked AS (SELECT ok, pk, row_number() OVER (
                      PARTITION BY ok ORDER BY pk) AS rn FROM li),
         capped AS (SELECT ok, pk FROM ranked WHERE rn <= 32),
         e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
               FROM capped a JOIN capped b
                 ON a.ok = b.ok AND a.pk < b.pk),
         und AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
         w AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
               FROM (SELECT src, count(*) AS d FROM und GROUP BY 1)),
         tri AS (SELECT count(*) AS n_triangles
                 FROM e e1
                 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
                 JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
         SELECT n_triangles, n_wedges,
                CAST((3 * n_triangles * 1000) // n_wedges AS BIGINT)
                  AS coeff_permille
         FROM tri, w""",

    // same capped co-purchase replay as the triangle oracle, then
    // common neighbors through degree-capped middles, existing edges
    // excluded
    "graph_link_predict" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         ranked AS (SELECT ok, pk, row_number() OVER (
                      PARTITION BY ok ORDER BY pk) AS rn FROM li),
         capped AS (SELECT ok, pk FROM ranked WHERE rn <= 32),
         e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
               FROM capped a JOIN capped b
                 ON a.ok = b.ok AND a.pk < b.pk),
         und AS (SELECT src, dst FROM e
                 UNION ALL SELECT dst, src FROM e),
         deg AS (SELECT src AS n, count(*) AS deg FROM und GROUP BY 1),
         f AS (SELECT und.src AS a, und.dst AS n FROM und
               JOIN deg ON deg.n = und.dst
               WHERE deg <= ${graft.ops.GraphXAlgos.MaxLinkDegree}),
         cands AS (SELECT f1.a AS a, f2.a AS b, count(*) AS cn
                   FROM f f1 JOIN f f2 ON f1.n = f2.n AND f1.a < f2.a
                   GROUP BY 1, 2)
         SELECT a, b, cn FROM cands c
         WHERE NOT EXISTS (SELECT 1 FROM e
                           WHERE e.src = c.a AND e.dst = c.b)
         ORDER BY cn DESC, a, b LIMIT 50""",

    // replays GraphXAlgos.adamicAdar — same capped co-purchase chain,
    // per-neighbor 1e6/ln(deg) micro-rounded before the exact sum
    "graph_adamic_adar" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         ranked AS (SELECT ok, pk, row_number() OVER (
                      PARTITION BY ok ORDER BY pk) AS rn FROM li),
         capped AS (SELECT ok, pk FROM ranked WHERE rn <= 32),
         e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
               FROM capped a JOIN capped b
                 ON a.ok = b.ok AND a.pk < b.pk),
         und AS (SELECT src, dst FROM e
                 UNION ALL SELECT dst, src FROM e),
         deg AS (SELECT src AS n, count(*) AS deg FROM und GROUP BY 1),
         f AS (SELECT und.src AS a, und.dst AS n, deg.deg AS nd
               FROM und JOIN deg ON deg.n = und.dst
               WHERE deg.deg <= ${graft.ops.GraphXAlgos.MaxLinkDegree})
         SELECT f1.a AS a, f2.a AS b, count(*) AS cn,
                CAST(SUM(CAST(round(1000000.0 / ln(f1.nd)) AS BIGINT))
                  AS BIGINT) AS aa_micro
         FROM f f1 JOIN f f2 ON f1.n = f2.n AND f1.a < f2.a
         GROUP BY 1, 2
         ORDER BY aa_micro DESC, a, b LIMIT 50""",

    // same capped co-purchase replay; Jaccard permille + resource
    // allocation micro in exact integer arithmetic (// == div)
    "graph_node_similarity" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         ranked AS (SELECT ok, pk, row_number() OVER (
                      PARTITION BY ok ORDER BY pk) AS rn FROM li),
         capped AS (SELECT ok, pk FROM ranked WHERE rn <= 32),
         e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
               FROM capped a JOIN capped b
                 ON a.ok = b.ok AND a.pk < b.pk),
         und AS (SELECT src, dst FROM e
                 UNION ALL SELECT dst, src FROM e),
         deg AS (SELECT src AS n, count(*) AS deg FROM und GROUP BY 1),
         f AS (SELECT und.src AS a, und.dst AS n, deg.deg AS nd
               FROM und JOIN deg ON deg.n = und.dst
               WHERE deg.deg <= ${graft.ops.GraphXAlgos.MaxLinkDegree}),
         cands AS (SELECT f1.a AS a, f2.a AS b, count(*) AS cn,
                          CAST(SUM(1000000 // f1.nd) AS BIGINT)
                            AS ra_micro
                   FROM f f1 JOIN f f2 ON f1.n = f2.n AND f1.a < f2.a
                   GROUP BY 1, 2)
         SELECT a, b, cn,
                CAST((1000 * cn) // (da.deg + db.deg - cn) AS BIGINT)
                  AS jaccard_permille,
                ra_micro
         FROM cands
         JOIN deg da ON da.n = a
         JOIN deg db ON db.n = b
         ORDER BY jaccard_permille DESC, a, b LIMIT 50""",

    "graph_shortest_paths_weighted" ->
      s"""WITH RECURSIVE $EdgesCte,
          wedges AS (SELECT src, dst,
                            CAST(1.0 AS DOUBLE) / count(*) AS len
                     FROM edges GROUP BY src, dst),
          reach(id, dist) AS (
            SELECT CAST(1000000000000 AS BIGINT), CAST(0 AS DOUBLE)
            UNION
            SELECT e.src, r.dist + e.len
            FROM wedges e JOIN reach r ON e.dst = r.id
            WHERE r.dist < 10
          )
          SELECT id, ROUND(min(dist) + 1e-9, 6) AS wdist FROM reach
          GROUP BY id ORDER BY wdist, id""",

    "graph_upsert_edges" ->
      s"""WITH $EdgesCte,
          urgent AS (SELECT 6000000000000 + o_orderkey AS src,
                            3000000000000 + o_custkey AS dst
                     FROM orders WHERE o_orderpriority = '1-URGENT'),
          delta AS (SELECT src, dst, 'BY' AS rel FROM urgent
                    UNION ALL
                    SELECT src, dst, 'URGENT' FROM urgent),
          merged AS (SELECT src, dst, rel, min(is_new) AS is_new FROM (
                       SELECT src, dst, rel, 0 AS is_new FROM edges
                       UNION ALL
                       SELECT src, dst, rel, 1 FROM delta)
                     GROUP BY src, dst, rel)
          SELECT rel,
                 count(*) FILTER (is_new = 0) AS n_before,
                 count(*) FILTER (is_new = 1) AS n_added,
                 count(*) AS n_after
          FROM merged GROUP BY rel ORDER BY rel""",

    // replays GraphOps.graphUpsertVertices: version-1 vertex table,
    // delta = delinquent-customer renames (v2) + ranked segment
    // inserts (v2), last-write-wins per id on version (arg_max ==
    // Spark's max(struct(version, …)) when versions are unique per id)
    "graph_upsert_vertices" ->
      s"""WITH $VertsCte,
          existing AS (SELECT id, kind, name,
                              CAST(1 AS BIGINT) AS version FROM verts),
          upd AS (SELECT 3000000000000 + c_custkey AS id,
                         'customer' AS kind,
                         'DELINQUENT:' || c_name AS name,
                         CAST(2 AS BIGINT) AS version
                  FROM customer WHERE c_acctbal < 0),
          ins AS (SELECT 7000000000000
                           + row_number() OVER (ORDER BY name) AS id,
                         'segment' AS kind, name,
                         CAST(2 AS BIGINT) AS version
                  FROM (SELECT DISTINCT c_mktsegment AS name
                        FROM customer)),
          merged AS (SELECT id, arg_max(kind, version) AS kind,
                            arg_max(name, version) AS name,
                            max(version) AS version,
                            count(*) AS n_versions
                     FROM (SELECT * FROM existing
                           UNION ALL SELECT * FROM upd
                           UNION ALL SELECT * FROM ins)
                     GROUP BY id)
          SELECT id, kind, name, version,
                 CASE WHEN n_versions = 2 THEN 1 ELSE 0 END AS was_update
          FROM merged WHERE version = 2 ORDER BY id""",

    // the point lookup collapses to the one customer-table probe the
    // pruned union plan performs
    "graph_vertex_lookup" ->
      """SELECT 3000000000000 + c_custkey AS id, 'customer' AS kind,
                c_name AS name
         FROM customer WHERE c_name = 'Customer#000000042'
         ORDER BY id""",

    // replays GraphOps.graphEdgeAsof: dedup v1 edge set + v2 delta
    // (URGENT inserts alive=1, pending-BY tombstones alive=0), LWW
    // liveness read per edge key at each version cut (arg_max is
    // deterministic: versions unique per key after the insert-wins
    // dedup), per-rel census of the delta-touched keys
    "graph_edge_asof" ->
      s"""WITH $EdgesCte,
          v1 AS (SELECT src, dst, rel, CAST(1 AS BIGINT) AS version,
                        1 AS alive
                 FROM (SELECT DISTINCT src, dst, rel FROM edges)),
          ins AS (SELECT 6000000000000 + o_orderkey AS src,
                         3000000000000 + o_custkey AS dst,
                         'URGENT' AS rel, CAST(2 AS BIGINT) AS version,
                         1 AS alive
                  FROM orders WHERE o_orderpriority = '1-URGENT'),
          tomb AS (SELECT 6000000000000 + o_orderkey AS src,
                          3000000000000 + o_custkey AS dst, 'BY' AS rel,
                          CAST(2 AS BIGINT) AS version, 0 AS alive
                   FROM orders WHERE o_orderstatus = 'P'),
          delta AS (SELECT src, dst, rel, version, max(alive) AS alive
                    FROM (SELECT * FROM ins UNION ALL SELECT * FROM tomb)
                    GROUP BY 1, 2, 3, 4),
          h AS (SELECT * FROM v1 UNION ALL SELECT * FROM delta),
          a1 AS (SELECT src, dst, rel, arg_max(alive, version) AS alive
                 FROM h WHERE version <= 1 GROUP BY 1, 2, 3),
          a2 AS (SELECT src, dst, rel, arg_max(alive, version) AS alive
                 FROM h WHERE version <= 2 GROUP BY 1, 2, 3),
          t AS (SELECT DISTINCT src, dst, rel FROM delta)
          SELECT t.rel, count(*) AS n_touched,
                 count(*) FILTER (COALESCE(a1.alive, 0) = 1) AS alive_v1,
                 count(*) FILTER (a2.alive = 1) AS alive_v2
          FROM t
          LEFT JOIN a1 ON a1.src = t.src AND a1.dst = t.dst
                      AND a1.rel = t.rel
          JOIN a2 ON a2.src = t.src AND a2.dst = t.dst AND a2.rel = t.rel
          GROUP BY t.rel ORDER BY t.rel""",

    // replays GraphOps.graphVertexAsof: the same version-2 delta as
    // the upsert key, read back through two LWW version cuts
    "graph_vertex_asof" ->
      s"""WITH $VertsCte,
          existing AS (SELECT id, name,
                              CAST(1 AS BIGINT) AS version FROM verts),
          upd AS (SELECT 3000000000000 + c_custkey AS id,
                         'DELINQUENT:' || c_name AS name,
                         CAST(2 AS BIGINT) AS version
                  FROM customer WHERE c_acctbal < 0),
          ins AS (SELECT 7000000000000
                           + row_number() OVER (ORDER BY name) AS id,
                         name, CAST(2 AS BIGINT) AS version
                  FROM (SELECT DISTINCT c_mktsegment AS name
                        FROM customer)),
          delta AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
          h AS (SELECT * FROM existing UNION ALL SELECT * FROM delta),
          asof1 AS (SELECT id, arg_max(name, version) AS name FROM h
                    WHERE version <= 1 GROUP BY id),
          asof2 AS (SELECT id, arg_max(name, version) AS name FROM h
                    WHERE version <= 2 GROUP BY id)
          SELECT t.id, COALESCE(a1.name, '<absent>') AS name_v1,
                 a2.name AS name_v2
          FROM (SELECT DISTINCT id FROM delta) t
          LEFT JOIN asof1 a1 ON a1.id = t.id
          JOIN asof2 a2 ON a2.id = t.id
          ORDER BY t.id""",

    // §2.10 LLM-pipeline ops (oracle=yes subset)
    "dedup_exact" ->
      """SELECT sha256(text) AS content_hash, count(*) AS n_copies,
                min(doc_id) AS keep_id
         FROM documents GROUP BY 1 ORDER BY keep_id""",

    // replays TextOps.dedupSubstringExact: positional 8-token shingle
    // fingerprints, occurrence-capped fp join, maximal same-diagonal
    // runs via the rownum-difference grouping
    "dedup_substring_exact" ->
      s"""WITH $SubstrRunCtes
         SELECT a_id, b_id, a_start, a_start - diag AS b_start,
                span_tokens
         FROM sruns ORDER BY a_id, b_id, a_start, b_start""",

    // replays TextOps.dedupSubstringCensus: both endpoints of every
    // pair-span as intervals, union-merged per document by the
    // running-max sweep, joined to token counts
    "dedup_substring_census" ->
      s"""WITH $SubstrRunCtes,
         iv AS (SELECT a_id AS doc_id, a_start AS st,
                       a_start + span_tokens - 1 AS en FROM sruns
                UNION ALL
                SELECT b_id, a_start - diag,
                       a_start - diag + span_tokens - 1 FROM sruns),
         mg AS (SELECT doc_id, st, en,
                       max(en) OVER (PARTITION BY doc_id ORDER BY st, en
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS prev_max
                FROM iv),
         op AS (SELECT doc_id, st, en,
                       CASE WHEN st > prev_max THEN 1 ELSE 0 END AS opens
                FROM mg),
         gr AS (SELECT doc_id, st, en,
                       sum(opens) OVER (PARTITION BY doc_id
                         ORDER BY st, en) AS grp
                FROM op),
         cov AS (SELECT doc_id, grp, max(en) - min(st) + 1 AS cov
                 FROM gr GROUP BY 1, 2),
         pc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                       CAST(sum(cov) AS BIGINT) AS dup_tokens
                FROM cov GROUP BY 1),
         tok AS (SELECT doc_id,
                        CAST(len(string_split(text, ' ')) AS BIGINT)
                          AS n_tokens
                 FROM documents)
         SELECT p.doc_id, n_spans, dup_tokens, n_tokens,
                (1000 * dup_tokens) // n_tokens AS dup_permille
         FROM pc p JOIN tok USING (doc_id) ORDER BY doc_id""",

    // replays TextOps.corpusSourceOverlap: the near-minhash verified
    // pair chain (identical to dedup_near_minhash), censused by the
    // canonicalized source pair — "which sources copy from each other"
    // threshold sweep over the bounded LSH candidate slice: exact
    // integer-milli Jaccard per candidate, five cuts on a fixed spine
    "dedup_minhash_sweep" ->
      s"""WITH $Tri0Ctes,
         hb AS (SELECT doc_id, g,
                       ${md5Hash60Sql("g")} % ${graft.ops.TextOps.MinhashP}
                         AS hb
                FROM tri0),
         h AS (SELECT doc_id, g, i,
                      (1000003 * (2*i + 1) * hb + 777767777 * (i + 1))
                        % ${graft.ops.TextOps.MinhashP} AS hv
               FROM hb, range(0, 16) AS ri(i)),
         minh AS (SELECT doc_id, i, min(hv) AS mh
                  FROM h GROUP BY doc_id, i),
         sig AS (SELECT doc_id, list(mh ORDER BY i) AS s
                 FROM minh GROUP BY doc_id),
         bands AS (SELECT doc_id, b,
                          s[2*b+1] || ',' || s[2*b+2] AS bk
                   FROM sig, range(0, 8) AS rb(b)),
         bok AS (SELECT bands.* FROM bands
                 JOIN (SELECT b, bk FROM bands GROUP BY b, bk
                       HAVING count(*) <= ${graft.ops.TextOps.MaxLshBucket})
                   c USING (b, bk)),
         cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
                  FROM bok x JOIN bok y
                    ON x.b = y.b AND x.bk = y.bk
                   AND x.doc_id < y.doc_id),
         ints AS (SELECT c.a_id, c.b_id, count(*) AS inter
                  FROM cand c
                  JOIN tri0 a ON a.doc_id = c.a_id
                  JOIN tri0 b ON b.doc_id = c.b_id AND b.g = a.g
                  GROUP BY 1, 2),
         sz0 AS (SELECT doc_id, count(*) AS n FROM tri0 GROUP BY 1),
         jm AS (SELECT i.a_id, i.b_id,
                       (1000 * inter) // (sa.n + sb.n - inter)
                         AS j_milli
                FROM ints i JOIN sz0 sa ON sa.doc_id = i.a_id
                            JOIN sz0 sb ON sb.doc_id = i.b_id),
         th AS (SELECT CAST(unnest([300, 400, 500, 600, 700])
                  AS BIGINT) AS threshold_milli),
         px AS (SELECT threshold_milli, a_id, b_id
                FROM th JOIN jm ON j_milli >= threshold_milli),
         np AS (SELECT threshold_milli, count(*) AS n_pairs
                FROM px GROUP BY 1),
         nd AS (SELECT threshold_milli, count(DISTINCT d) AS n_docs
                FROM (SELECT threshold_milli, a_id AS d FROM px
                      UNION ALL
                      SELECT threshold_milli, b_id AS d FROM px)
                GROUP BY 1)
         SELECT t.threshold_milli,
                CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
                CAST(COALESCE(n_docs, 0) AS BIGINT) AS n_docs
         FROM th t LEFT JOIN np USING (threshold_milli)
                   LEFT JOIN nd USING (threshold_milli)
         ORDER BY t.threshold_milli""",

    // near-dup rate by source: the verified-pair chain (identical to
    // dedup_near_minhash), exploded to distinct member docs, then a
    // doc-keyed left join + per-source permille
    "dedup_source_rate" ->
      s"""WITH $Tri0Ctes,
         hb AS (SELECT doc_id, g,
                       ${md5Hash60Sql("g")} % ${graft.ops.TextOps.MinhashP}
                         AS hb
                FROM tri0),
         h AS (SELECT doc_id, g, i,
                      (1000003 * (2*i + 1) * hb + 777767777 * (i + 1))
                        % ${graft.ops.TextOps.MinhashP} AS hv
               FROM hb, range(0, 16) AS ri(i)),
         minh AS (SELECT doc_id, i, min(hv) AS mh
                  FROM h GROUP BY doc_id, i),
         sig AS (SELECT doc_id, list(mh ORDER BY i) AS s
                 FROM minh GROUP BY doc_id),
         bands AS (SELECT doc_id, b,
                          s[2*b+1] || ',' || s[2*b+2] AS bk
                   FROM sig, range(0, 8) AS rb(b)),
         bok AS (SELECT bands.* FROM bands
                 JOIN (SELECT b, bk FROM bands GROUP BY b, bk
                       HAVING count(*) <= ${graft.ops.TextOps.MaxLshBucket})
                   c USING (b, bk)),
         cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
                  FROM bok x JOIN bok y
                    ON x.b = y.b AND x.bk = y.bk
                   AND x.doc_id < y.doc_id),
         ints AS (SELECT c.a_id, c.b_id, count(*) AS inter
                  FROM cand c
                  JOIN tri0 a ON a.doc_id = c.a_id
                  JOIN tri0 b ON b.doc_id = c.b_id AND b.g = a.g
                  GROUP BY 1, 2),
         sz0 AS (SELECT doc_id, count(*) AS n FROM tri0 GROUP BY 1),
         jp AS (SELECT a_id, b_id FROM (
                  SELECT a_id, b_id,
                         ROUND(CAST(inter AS DOUBLE)
                               / (sa.n + sb.n - inter), 3) AS jaccard
                  FROM ints
                  JOIN sz0 sa ON sa.doc_id = a_id
                  JOIN sz0 sb ON sb.doc_id = b_id)
                WHERE jaccard >= 0.5),
         nid AS (SELECT DISTINCT doc_id FROM (
                  SELECT a_id AS doc_id FROM jp
                  UNION ALL SELECT b_id AS doc_id FROM jp)),
         r AS (SELECT d.source, count(*) AS n_docs,
                      CAST(SUM(CASE WHEN n.doc_id IS NOT NULL THEN 1
                        ELSE 0 END) AS BIGINT) AS n_near_docs
               FROM documents d LEFT JOIN nid n ON d.doc_id = n.doc_id
               GROUP BY 1)
         SELECT source, n_docs, n_near_docs,
                (1000 * n_near_docs) // n_docs AS near_permille
         FROM r ORDER BY source""",

    // cross-source matrix over the SAME verified-pair chain as
    // dedup_source_rate: unordered (least, greatest) source cells,
    // exact permille share of all verified pairs
    "dedup_cross_source_matrix" ->
      s"""WITH $Tri0Ctes,
         hb AS (SELECT doc_id, g,
                       ${md5Hash60Sql("g")} % ${graft.ops.TextOps.MinhashP}
                         AS hb
                FROM tri0),
         h AS (SELECT doc_id, g, i,
                      (1000003 * (2*i + 1) * hb + 777767777 * (i + 1))
                        % ${graft.ops.TextOps.MinhashP} AS hv
               FROM hb, range(0, 16) AS ri(i)),
         minh AS (SELECT doc_id, i, min(hv) AS mh
                  FROM h GROUP BY doc_id, i),
         sig AS (SELECT doc_id, list(mh ORDER BY i) AS s
                 FROM minh GROUP BY doc_id),
         bands AS (SELECT doc_id, b,
                          s[2*b+1] || ',' || s[2*b+2] AS bk
                   FROM sig, range(0, 8) AS rb(b)),
         bok AS (SELECT bands.* FROM bands
                 JOIN (SELECT b, bk FROM bands GROUP BY b, bk
                       HAVING count(*) <= ${graft.ops.TextOps.MaxLshBucket})
                   c USING (b, bk)),
         cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
                  FROM bok x JOIN bok y
                    ON x.b = y.b AND x.bk = y.bk
                   AND x.doc_id < y.doc_id),
         ints AS (SELECT c.a_id, c.b_id, count(*) AS inter
                  FROM cand c
                  JOIN tri0 a ON a.doc_id = c.a_id
                  JOIN tri0 b ON b.doc_id = c.b_id AND b.g = a.g
                  GROUP BY 1, 2),
         sz0 AS (SELECT doc_id, count(*) AS n FROM tri0 GROUP BY 1),
         jp AS (SELECT a_id, b_id FROM (
                  SELECT a_id, b_id,
                         ROUND(CAST(inter AS DOUBLE)
                               / (sa.n + sb.n - inter), 3) AS jaccard
                  FROM ints
                  JOIN sz0 sa ON sa.doc_id = a_id
                  JOIN sz0 sb ON sb.doc_id = b_id)
                WHERE jaccard >= 0.5),
         sp AS (SELECT LEAST(da.source, db.source) AS source_a,
                       GREATEST(da.source, db.source) AS source_b
                FROM jp
                JOIN documents da ON da.doc_id = jp.a_id
                JOIN documents db ON db.doc_id = jp.b_id),
         m AS (SELECT source_a, source_b,
                      CAST(count(*) AS BIGINT) AS n_pairs
               FROM sp GROUP BY 1, 2),
         t AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS tot FROM m)
         SELECT source_a, source_b, n_pairs,
                (1000 * n_pairs) // t.tot AS share_permille
         FROM m CROSS JOIN t ORDER BY 1, 2""",

    // (source, lang) token-share governance grid with the over-cap flag
    "corpus_mix_report" ->
      """WITH g AS (SELECT source, lang, count(*) AS n_docs,
                CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                  AS n_tokens
              FROM documents GROUP BY 1, 2),
         t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM g)
         SELECT source, lang, n_docs, n_tokens,
                (1000 * n_tokens) // tot AS share_permille,
                (1000 * n_tokens) // tot > 300 AS over_cap
         FROM g CROSS JOIN t ORDER BY source, lang""",

    "corpus_source_overlap" ->
      s"""WITH $Tri0Ctes,
         hb AS (SELECT doc_id, g,
                       ${md5Hash60Sql("g")} % ${graft.ops.TextOps.MinhashP}
                         AS hb
                FROM tri0),
         h AS (SELECT doc_id, g, i,
                      (1000003 * (2*i + 1) * hb + 777767777 * (i + 1))
                        % ${graft.ops.TextOps.MinhashP} AS hv
               FROM hb, range(0, 16) AS ri(i)),
         minh AS (SELECT doc_id, i, min(hv) AS mh
                  FROM h GROUP BY doc_id, i),
         sig AS (SELECT doc_id, list(mh ORDER BY i) AS s
                 FROM minh GROUP BY doc_id),
         bands AS (SELECT doc_id, b,
                          s[2*b+1] || ',' || s[2*b+2] AS bk
                   FROM sig, range(0, 8) AS rb(b)),
         bok AS (SELECT bands.* FROM bands
                 JOIN (SELECT b, bk FROM bands GROUP BY b, bk
                       HAVING count(*) <= ${graft.ops.TextOps.MaxLshBucket})
                   c USING (b, bk)),
         cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
                  FROM bok x JOIN bok y
                    ON x.b = y.b AND x.bk = y.bk
                   AND x.doc_id < y.doc_id),
         ints AS (SELECT c.a_id, c.b_id, count(*) AS inter
                  FROM cand c
                  JOIN tri0 a ON a.doc_id = c.a_id
                  JOIN tri0 b ON b.doc_id = c.b_id AND b.g = a.g
                  GROUP BY 1, 2),
         sz0 AS (SELECT doc_id, count(*) AS n FROM tri0 GROUP BY 1),
         jp AS (SELECT a_id, b_id FROM (
                  SELECT a_id, b_id,
                         ROUND(CAST(inter AS DOUBLE)
                               / (sa.n + sb.n - inter), 3) AS jaccard
                  FROM ints
                  JOIN sz0 sa ON sa.doc_id = a_id
                  JOIN sz0 sb ON sb.doc_id = b_id)
                WHERE jaccard >= 0.5),
         sp AS (SELECT least(da.source, db.source) AS src_a,
                       greatest(da.source, db.source) AS src_b
                FROM jp JOIN documents da ON da.doc_id = jp.a_id
                        JOIN documents db ON db.doc_id = jp.b_id)
         SELECT src_a, src_b, count(*) AS n_pairs,
                (src_a = src_b) AS within_source
         FROM sp GROUP BY 1, 2 ORDER BY src_a, src_b""",

    // replays TextOps.corpusSplitLeakage: the same verified-pair
    // chain, salted-hash permille split, 3-row spine census
    "corpus_split_leakage" ->
      s"""WITH $Tri0Ctes,
         hb AS (SELECT doc_id, g,
                       ${md5Hash60Sql("g")} % ${graft.ops.TextOps.MinhashP}
                         AS hb
                FROM tri0),
         h AS (SELECT doc_id, g, i,
                      (1000003 * (2*i + 1) * hb + 777767777 * (i + 1))
                        % ${graft.ops.TextOps.MinhashP} AS hv
               FROM hb, range(0, 16) AS ri(i)),
         minh AS (SELECT doc_id, i, min(hv) AS mh
                  FROM h GROUP BY doc_id, i),
         sig AS (SELECT doc_id, list(mh ORDER BY i) AS s
                 FROM minh GROUP BY doc_id),
         bands AS (SELECT doc_id, b,
                          s[2*b+1] || ',' || s[2*b+2] AS bk
                   FROM sig, range(0, 8) AS rb(b)),
         bok AS (SELECT bands.* FROM bands
                 JOIN (SELECT b, bk FROM bands GROUP BY b, bk
                       HAVING count(*) <= ${graft.ops.TextOps.MaxLshBucket})
                   c USING (b, bk)),
         cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
                  FROM bok x JOIN bok y
                    ON x.b = y.b AND x.bk = y.bk
                   AND x.doc_id < y.doc_id),
         ints AS (SELECT c.a_id, c.b_id, count(*) AS inter
                  FROM cand c
                  JOIN tri0 a ON a.doc_id = c.a_id
                  JOIN tri0 b ON b.doc_id = c.b_id AND b.g = a.g
                  GROUP BY 1, 2),
         sz0 AS (SELECT doc_id, count(*) AS n FROM tri0 GROUP BY 1),
         jp AS (SELECT a_id, b_id FROM (
                  SELECT a_id, b_id,
                         ROUND(CAST(inter AS DOUBLE)
                               / (sa.n + sb.n - inter), 3) AS jaccard
                  FROM ints
                  JOIN sz0 sa ON sa.doc_id = a_id
                  JOIN sz0 sb ON sb.doc_id = b_id)
                WHERE jaccard >= 0.5),
         sp AS (SELECT doc_id,
                       CASE WHEN ${md5Hash60Sql(
                         "'graft-split:' || CAST(doc_id AS VARCHAR)")}
                              % 1000 < 900
                            THEN 'train' ELSE 'val' END AS split
                FROM documents),
         cls AS (SELECT CASE WHEN sa.split = sb.split THEN sa.split
                             ELSE 'leak' END AS pair_class
                 FROM jp JOIN sp sa ON sa.doc_id = jp.a_id
                         JOIN sp sb ON sb.doc_id = jp.b_id),
         cen AS (SELECT pair_class, count(*) AS n_pairs
                 FROM cls GROUP BY 1),
         tot AS (SELECT split AS pair_class, count(*) AS n_docs
                 FROM sp GROUP BY 1),
         spn AS (SELECT unnest(['train', 'val', 'leak']) AS pair_class)
         SELECT s.pair_class, COALESCE(n_pairs, 0) AS n_pairs,
                COALESCE(n_docs, 0) AS n_docs
         FROM spn s LEFT JOIN cen USING (pair_class)
                    LEFT JOIN tot USING (pair_class)
         ORDER BY pair_class""",

    // Replays TextOps.dedupNearMinhash bit-for-bit: 16 affine-derived
    // md5Hash60 minima per doc, 8 bands of 2 comma-joined into the band
    // key, bucket cap, candidate self-join, exact-Jaccard ≥ 0.5 verify
    // over the same uncapped shingle sets. The affine family
    // (minhashA(i)·h + minhashB(i)) mod MinhashP is inlined with i from
    // range(0,16); all products stay inside BIGINT by construction.
    "dedup_near_minhash" ->
      s"""WITH $Tri0Ctes,
         hb AS (SELECT doc_id, g,
                       ${md5Hash60Sql("g")} % ${graft.ops.TextOps.MinhashP}
                         AS hb
                FROM tri0),
         h AS (SELECT doc_id, g, i,
                      (1000003 * (2*i + 1) * hb + 777767777 * (i + 1))
                        % ${graft.ops.TextOps.MinhashP} AS hv
               FROM hb, range(0, 16) AS ri(i)),
         minh AS (SELECT doc_id, i, min(hv) AS mh
                  FROM h GROUP BY doc_id, i),
         sig AS (SELECT doc_id, list(mh ORDER BY i) AS s
                 FROM minh GROUP BY doc_id),
         bands AS (SELECT doc_id, b,
                          s[2*b+1] || ',' || s[2*b+2] AS bk
                   FROM sig, range(0, 8) AS rb(b)),
         bok AS (SELECT bands.* FROM bands
                 JOIN (SELECT b, bk FROM bands GROUP BY b, bk
                       HAVING count(*) <= ${graft.ops.TextOps.MaxLshBucket})
                   c USING (b, bk)),
         cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
                  FROM bok x JOIN bok y
                    ON x.b = y.b AND x.bk = y.bk
                   AND x.doc_id < y.doc_id),
         ints AS (SELECT c.a_id, c.b_id, count(*) AS inter
                  FROM cand c
                  JOIN tri0 a ON a.doc_id = c.a_id
                  JOIN tri0 b ON b.doc_id = c.b_id AND b.g = a.g
                  GROUP BY 1, 2),
         sz0 AS (SELECT doc_id, count(*) AS n FROM tri0 GROUP BY 1)
         SELECT * FROM (
           SELECT a_id, b_id,
                  ROUND(CAST(inter AS DOUBLE)
                        / (sa.n + sb.n - inter), 3) AS jaccard
           FROM ints
           JOIN sz0 sa ON sa.doc_id = a_id
           JOIN sz0 sb ON sb.doc_id = b_id)
         WHERE jaccard >= 0.5
         ORDER BY a_id, b_id""",

    // replays TextOps.dedupMinhashEval: the near-minhash CTE chain,
    // then estimate (agreeing minima / 16) vs exact Jaccard in integer
    // permille per candidate pair
    "dedup_minhash_eval" ->
      s"""WITH $Tri0Ctes,
         hb AS (SELECT doc_id, g,
                       ${md5Hash60Sql("g")} % ${graft.ops.TextOps.MinhashP}
                         AS hb
                FROM tri0),
         h AS (SELECT doc_id, g, i,
                      (1000003 * (2*i + 1) * hb + 777767777 * (i + 1))
                        % ${graft.ops.TextOps.MinhashP} AS hv
               FROM hb, range(0, 16) AS ri(i)),
         minh AS (SELECT doc_id, i, min(hv) AS mh
                  FROM h GROUP BY doc_id, i),
         sig AS (SELECT doc_id, list(mh ORDER BY i) AS s
                 FROM minh GROUP BY doc_id),
         bands AS (SELECT doc_id, b,
                          s[2*b+1] || ',' || s[2*b+2] AS bk
                   FROM sig, range(0, 8) AS rb(b)),
         bok AS (SELECT bands.* FROM bands
                 JOIN (SELECT b, bk FROM bands GROUP BY b, bk
                       HAVING count(*) <= ${graft.ops.TextOps.MaxLshBucket})
                   c USING (b, bk)),
         cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
                  FROM bok x JOIN bok y
                    ON x.b = y.b AND x.bk = y.bk
                   AND x.doc_id < y.doc_id),
         est AS (SELECT c.a_id, c.b_id,
                        CAST(sum(CASE WHEN ma.mh = mb.mh
                          THEN 1 ELSE 0 END) AS BIGINT) AS matches
                 FROM cand c
                 JOIN minh ma ON ma.doc_id = c.a_id
                 JOIN minh mb ON mb.doc_id = c.b_id AND mb.i = ma.i
                 GROUP BY 1, 2),
         ints AS (SELECT c.a_id, c.b_id, count(*) AS inter
                  FROM cand c
                  JOIN tri0 a ON a.doc_id = c.a_id
                  JOIN tri0 b ON b.doc_id = c.b_id AND b.g = a.g
                  GROUP BY 1, 2),
         sz0 AS (SELECT doc_id, count(*) AS n FROM tri0 GROUP BY 1)
         SELECT e.a_id, e.b_id,
                CAST(matches * 1000 // 16 AS BIGINT) AS est_permille,
                CAST(COALESCE(inter, 0) * 1000
                  // (sa.n + sb.n - COALESCE(inter, 0)) AS BIGINT)
                  AS exact_permille,
                CAST(abs(matches * 1000 // 16
                  - COALESCE(inter, 0) * 1000
                    // (sa.n + sb.n - COALESCE(inter, 0))) AS BIGINT)
                  AS err_permille
         FROM est e
         LEFT JOIN ints USING (a_id, b_id)
         JOIN sz0 sa ON sa.doc_id = e.a_id
         JOIN sz0 sb ON sb.doc_id = e.b_id
         ORDER BY e.a_id, e.b_id""",

    // replays TextOps.dedupEditDistance: the near-minhash candidate
    // chain (same banding, same bucket cap), then built-in levenshtein
    // over the EditPrefix-char prefixes with permille similarity of
    // the longer prefix (// floors = Spark div on the nonneg operands)
    "dedup_edit_distance" ->
      s"""WITH $Tri0Ctes,
         hb AS (SELECT doc_id, g,
                       ${md5Hash60Sql("g")} % ${graft.ops.TextOps.MinhashP}
                         AS hb
                FROM tri0),
         h AS (SELECT doc_id, g, i,
                      (1000003 * (2*i + 1) * hb + 777767777 * (i + 1))
                        % ${graft.ops.TextOps.MinhashP} AS hv
               FROM hb, range(0, 16) AS ri(i)),
         minh AS (SELECT doc_id, i, min(hv) AS mh
                  FROM h GROUP BY doc_id, i),
         sig AS (SELECT doc_id, list(mh ORDER BY i) AS s
                 FROM minh GROUP BY doc_id),
         bands AS (SELECT doc_id, b,
                          s[2*b+1] || ',' || s[2*b+2] AS bk
                   FROM sig, range(0, 8) AS rb(b)),
         bok AS (SELECT bands.* FROM bands
                 JOIN (SELECT b, bk FROM bands GROUP BY b, bk
                       HAVING count(*) <= ${graft.ops.TextOps.MaxLshBucket})
                   c USING (b, bk)),
         cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
                  FROM bok x JOIN bok y
                    ON x.b = y.b AND x.bk = y.bk
                   AND x.doc_id < y.doc_id),
         pfx AS (SELECT doc_id,
                        substr(text, 1, ${graft.ops.TextOps.EditPrefix})
                          AS p,
                        LEAST(length(text),
                              ${graft.ops.TextOps.EditPrefix}) AS plen
                 FROM documents)
         SELECT a_id, b_id,
                CAST(levenshtein(pa.p, pb.p) AS BIGINT) AS edit_dist,
                CAST(1000 - (1000 * levenshtein(pa.p, pb.p))
                  // GREATEST(pa.plen, pb.plen) AS BIGINT)
                  AS edit_sim_permille
         FROM cand
         JOIN pfx pa ON pa.doc_id = a_id
         JOIN pfx pb ON pb.doc_id = b_id
         ORDER BY a_id, b_id""",

    // replays TextOps.corpusRejectionSample: length-band acceptance
    // thresholds + the engine-neutral md5Hash60 acceptance draw
    "corpus_rejection_sample" ->
      s"""WITH k AS (
           SELECT doc_id, lang, n_chars,
                  CAST(CASE ${graft.ops.TextOps.RejectBands.map { case (lo, p) =>
                         s"WHEN n_chars >= $lo THEN $p" }.mkString(" ")}
                            ELSE ${graft.ops.TextOps.RejectBaseP} END
                    AS BIGINT) AS accept_permille,
                  ${md5Hash60Sql(
                    "'graft-reject:' || CAST(doc_id AS VARCHAR)")} % 1000
                    AS u
           FROM documents)
         SELECT doc_id, lang, n_chars, accept_permille
         FROM k WHERE u < accept_permille ORDER BY doc_id""",

    // Replays TextOps.dedupSimhash: md5Hash60 per token, 60 bit votes,
    // signature reassembly, 4 exact 15-bit chunk buckets, hamming ≤ 3.
    "dedup_simhash" ->
      s"""WITH toks AS (SELECT doc_id,
                              unnest(string_split(text, ' ')) AS tok
                       FROM documents),
         th AS (SELECT doc_id, ${md5Hash60Sql("tok")} AS h FROM toks),
         votes AS (SELECT doc_id, j,
                          sum(CASE WHEN ((h >> j) & 1) = 1
                              THEN 1 ELSE -1 END) AS s
                   FROM th, range(0, 60) AS rj(j)
                   GROUP BY doc_id, j),
         sig AS (SELECT doc_id,
                        CAST(sum(CASE WHEN s > 0
                          THEN (CAST(1 AS BIGINT) << j)
                          ELSE 0 END) AS BIGINT) AS simhash
                 FROM votes GROUP BY doc_id),
         chunks AS (SELECT doc_id, simhash, c,
                           (simhash >> (15 * c)) & 32767 AS cv
                    FROM sig, range(0, 4) AS rc(c)),
         cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
                         x.simhash AS sa, y.simhash AS sb
                  FROM chunks x JOIN chunks y
                    ON x.c = y.c AND x.cv = y.cv
                   AND x.doc_id < y.doc_id)
         SELECT a_id, b_id, hamming FROM (
           SELECT a_id, b_id,
                  CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
           FROM cand)
         WHERE hamming <= 3
         ORDER BY a_id, b_id""",

    "text_fingerprint" ->
      s"""WITH $Tri0Ctes
         SELECT doc_id, min(${md5Hash60Sql("g")}) AS fingerprint
         FROM tri0 GROUP BY doc_id ORDER BY doc_id""",

    "dedup_cluster_canonical" ->
      s"""WITH RECURSIVE $NgramCtes,
         raw AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                        count(*) AS inter
                 FROM tri a JOIN tri b
                   ON a.g = b.g AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
         jp AS (SELECT a_id, b_id FROM (
                  SELECT a_id, b_id,
                         ROUND(CAST(inter AS DOUBLE)
                               / (sa.n + sb.n - inter), 3) AS j
                  FROM raw
                  JOIN sz sa ON sa.doc_id = a_id
                  JOIN sz sb ON sb.doc_id = b_id)
                WHERE j >= 0.5),
         und AS (SELECT a_id AS a, b_id AS b FROM jp
                 UNION ALL SELECT b_id, a_id FROM jp),
         reach(src, dst) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.dst
         )
         SELECT src AS doc_id, min(dst) AS cluster,
                (min(dst) = src) AS is_canonical
         FROM reach GROUP BY src ORDER BY doc_id""",

    // dedup impact in tokens: the same recursive cluster chain, joined
    // to per-doc token counts, censused per source
    "corpus_dedup_impact" ->
      s"""WITH RECURSIVE $NgramCtes,
         raw AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                        count(*) AS inter
                 FROM tri a JOIN tri b
                   ON a.g = b.g AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
         jp AS (SELECT a_id, b_id FROM (
                  SELECT a_id, b_id,
                         ROUND(CAST(inter AS DOUBLE)
                               / (sa.n + sb.n - inter), 3) AS j
                  FROM raw
                  JOIN sz sa ON sa.doc_id = a_id
                  JOIN sz sb ON sb.doc_id = b_id)
                WHERE j >= 0.5),
         und AS (SELECT a_id AS a, b_id AS b FROM jp
                 UNION ALL SELECT b_id, a_id FROM jp),
         reach(src, dst) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.dst
         ),
         cl AS (SELECT src AS doc_id, min(dst) AS cluster
                FROM reach GROUP BY src),
         tk AS (SELECT doc_id, source,
                       CAST(len(string_split(text, ' ')) AS BIGINT)
                         AS n_tok
                FROM documents)
         SELECT source, count(*) AS n_docs,
                CAST(SUM(CASE WHEN cluster <> tk.doc_id THEN 1 ELSE 0
                         END) AS BIGINT) AS n_removed_docs,
                CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
                CAST(SUM(CASE WHEN cluster <> tk.doc_id THEN n_tok
                         ELSE 0 END) AS BIGINT) AS tokens_removed,
                (1000 * CAST(SUM(CASE WHEN cluster <> tk.doc_id
                         THEN n_tok ELSE 0 END) AS BIGINT))
                  // CAST(SUM(n_tok) AS BIGINT) AS removed_permille
         FROM tk JOIN cl ON tk.doc_id = cl.doc_id
         GROUP BY 1 ORDER BY source""",

    // cluster SIZE census over the same recursive transitive closure:
    // per size s, how many clusters and documents
    "dedup_cluster_sizes" ->
      s"""WITH RECURSIVE $NgramCtes,
         raw AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                        count(*) AS inter
                 FROM tri a JOIN tri b
                   ON a.g = b.g AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
         jp AS (SELECT a_id, b_id FROM (
                  SELECT a_id, b_id,
                         ROUND(CAST(inter AS DOUBLE)
                               / (sa.n + sb.n - inter), 3) AS j
                  FROM raw
                  JOIN sz sa ON sa.doc_id = a_id
                  JOIN sz sb ON sb.doc_id = b_id)
                WHERE j >= 0.5),
         und AS (SELECT a_id AS a, b_id AS b FROM jp
                 UNION ALL SELECT b_id, a_id FROM jp),
         reach(src, dst) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.dst
         ),
         cl AS (SELECT src AS doc_id, min(dst) AS cluster
                FROM reach GROUP BY src),
         cs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS s
                FROM cl GROUP BY 1)
         SELECT s AS cluster_size, CAST(count(*) AS BIGINT)
                  AS n_clusters,
                CAST(SUM(s) AS BIGINT) AS n_docs
         FROM cs GROUP BY 1 ORDER BY cluster_size""",

    // quality-band x canonical-status cross-tab over the same
    // recursive cluster chain + the curriculum q_permille CTE
    "corpus_quality_vs_dedup" ->
      s"""WITH RECURSIVE $NgramCtes,
         raw AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                        count(*) AS inter
                 FROM tri a JOIN tri b
                   ON a.g = b.g AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
         jp AS (SELECT a_id, b_id FROM (
                  SELECT a_id, b_id,
                         ROUND(CAST(inter AS DOUBLE)
                               / (sa.n + sb.n - inter), 3) AS j
                  FROM raw
                  JOIN sz sa ON sa.doc_id = a_id
                  JOIN sz sb ON sb.doc_id = b_id)
                WHERE j >= 0.5),
         und AS (SELECT a_id AS a, b_id AS b FROM jp
                 UNION ALL SELECT b_id, a_id FROM jp),
         reach(src, dst) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.dst
         ),
         cl AS (SELECT src AS doc_id, min(dst) AS cluster
                FROM reach GROUP BY src),
         sc AS (SELECT doc_id,
                      CAST(len(t) AS BIGINT) AS n_tokens,
                      CAST(len(list_filter(t, x -> list_contains(
                        ['the','a','of','to','and','in','is','it'], x)))
                        AS BIGINT) AS n_stop
               FROM (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents) d),
         q AS (SELECT doc_id,
                      (1000 * (n_tokens - n_stop)) // (n_tokens + 1)
                        AS q
               FROM sc),
         bands AS (SELECT q.q // 100 AS q_band,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(SUM(CASE WHEN cl.cluster <> cl.doc_id
                              THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_removed_docs
                   FROM q JOIN cl ON q.doc_id = cl.doc_id
                   GROUP BY 1)
         SELECT q_band, n_docs, n_removed_docs,
                (1000 * n_removed_docs) // n_docs AS removed_permille
         FROM bands ORDER BY q_band""",

    "text_ngram_jaccard" ->
      s"""WITH $NgramCtes,
         pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                          count(*) AS inter
                   FROM tri a JOIN tri b
                     ON a.g = b.g AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT * FROM (
           SELECT a_id, b_id,
                  ROUND(CAST(inter AS DOUBLE)
                        / (sa.n + sb.n - inter), 3) AS jaccard
           FROM pairs
           JOIN sz sa ON sa.doc_id = a_id
           JOIN sz sb ON sb.doc_id = b_id)
         WHERE jaccard >= 0.05
         ORDER BY a_id, b_id""",

    "text_ngram_containment" ->
      s"""WITH $NgramCtes,
         pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                          count(*) AS inter
                   FROM tri a JOIN tri b
                     ON a.g = b.g AND a.doc_id <> b.doc_id
                   GROUP BY 1, 2)
         SELECT * FROM (
           SELECT a_id, b_id,
                  ROUND(CAST(inter AS DOUBLE) / sa.n, 3) AS containment
           FROM pairs JOIN sz sa ON sa.doc_id = a_id)
         WHERE containment >= 0.5
         ORDER BY a_id, b_id""",

    "text_tokenize_tf" ->
      """SELECT lang, tok, count(*) AS cnt FROM (
           SELECT lang, unnest(string_split(text, ' ')) AS tok
           FROM documents) t
         GROUP BY lang, tok ORDER BY lang, tok""",

    // Zipf census: rank + cumulative permille over the unique-keyed
    // (cnt DESC, tok) total order (RANGE==ROWS when the key is unique)
    // replays TextOps.textHapaxRatio — (lang, token) counts then the
    // per-language hapax census
    "text_hapax_ratio" ->
      """WITH c AS (SELECT lang, tok, count(*) AS c FROM (
                      SELECT lang, unnest(string_split(text, ' ')) AS tok
                      FROM documents)
                    GROUP BY 1, 2)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_types,
                CAST(sum(c) AS BIGINT) AS n_tokens,
                CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hapax,
                CAST((1000 * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END))
                     // count(*) AS BIGINT) AS hapax_type_permille,
                CAST((1000 * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END))
                     // sum(c) AS BIGINT) AS hapax_token_permille
         FROM c GROUP BY lang ORDER BY lang""",

    "text_vocab_zipf" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
                       FROM documents),
         c AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
         t AS (SELECT sum(cnt) AS t_total FROM c)
         SELECT tok, cnt,
                row_number() OVER (ORDER BY cnt DESC, tok) AS zipf_rank,
                CAST((sum(cnt) OVER (ORDER BY cnt DESC, tok) * 1000)
                     // t_total AS BIGINT) AS cum_permille
         FROM c, t ORDER BY zipf_rank""",

    // deterministic sharded shuffle: salted-md5 key, hex-nibble shard,
    // within-shard rank — instr on the hex alphabet on both engines
    "corpus_shuffle_deterministic" ->
      """WITH keyed AS (
           SELECT doc_id, lang, source,
                  md5('graft-shuffle:' || CAST(doc_id AS VARCHAR))
                    AS skey
           FROM documents),
         sh AS (SELECT *,
                  CAST(instr('0123456789abcdef', substring(skey, 1, 1))
                       - 1 AS INT) AS shard_id
                FROM keyed)
         SELECT shard_id,
                CAST(row_number() OVER (PARTITION BY shard_id
                  ORDER BY skey, doc_id) AS BIGINT) AS shard_rank,
                doc_id, lang, source
         FROM sh ORDER BY shard_id, shard_rank""",

    "text_tfidf_topk" ->
      """WITH toks AS (SELECT doc_id, source,
                              unnest(string_split(text, ' ')) AS tok
                       FROM documents),
         tf AS (SELECT source, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         df AS (SELECT tok, count(*) AS df FROM
                  (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY 1),
         tot AS (SELECT count(*) AS d_total FROM documents),
         scored AS (SELECT source, tf.tok AS tok,
                           ROUND(tf * ln(CAST(d_total + 1 AS DOUBLE)
                                         / (df + 1)), 6) AS tfidf
                    FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN tot)
         SELECT source, tok, tfidf, rk FROM (
           SELECT *, CAST(row_number() OVER (PARTITION BY source
                     ORDER BY tfidf DESC, tok) AS INT) AS rk
           FROM scored) r
         WHERE rk <= 3 ORDER BY source, rk""",

    "text_bm25_topk" ->
      s"""WITH $Bm25Ctes
          SELECT doc_id, bm25_micro, n_terms_hit FROM bm
          ORDER BY bm25_micro DESC, doc_id LIMIT 10""",

    // RRF fusion of the BM25 leg and the dense cosine leg: each leg's
    // top-100 pool ranked independently, full-outer joined, fused as
    // exact-integer 1e6 // (60 + rank) per present leg
    "retrieval_hybrid_rrf" ->
      s"""WITH $Bm25Ctes,
          lexp AS (SELECT doc_id, CAST(row_number() OVER
                     (ORDER BY bm25_micro DESC, doc_id) AS INT) AS rank_lex
                   FROM (SELECT * FROM bm WHERE doc_id <> 0
                         ORDER BY bm25_micro DESC, doc_id
                         LIMIT ${graft.ops.VectorOps.RrfPoolK})),
          he AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
          hen AS (SELECT vec_id, v,
                         sqrt(list_sum(list_transform(range(1, 65),
                           i -> v[i] * v[i]))) AS nrm FROM he),
          hp AS (SELECT v AS pv, nrm AS pnrm FROM hen WHERE vec_id = 0),
          semp AS (SELECT doc_id, CAST(row_number() OVER
                     (ORDER BY cos_micro DESC, doc_id) AS INT) AS rank_sem
                   FROM (SELECT vec_id AS doc_id,
                           CAST(ROUND(list_sum(list_transform(range(1, 65),
                             i -> v[i] * pv[i])) / (nrm * pnrm) * 1000000)
                             AS BIGINT) AS cos_micro
                         FROM hen CROSS JOIN hp WHERE vec_id <> 0
                         ORDER BY cos_micro DESC, doc_id
                         LIMIT ${graft.ops.VectorOps.RrfPoolK}))
          SELECT doc_id, rank_lex, rank_sem,
                 COALESCE(CAST(1000000 // (${graft.ops.VectorOps.RrfC}
                     + rank_lex) AS BIGINT), 0)
                 + COALESCE(CAST(1000000 // (${graft.ops.VectorOps.RrfC}
                     + rank_sem) AS BIGINT), 0) AS rrf_micro
          FROM lexp FULL OUTER JOIN semp USING (doc_id)
          ORDER BY rrf_micro DESC, doc_id LIMIT 10""",

    // replays TextOps.corpusTokenHistogram — power-of-two token-count
    // buckets via binary-string length (the degree-histogram idiom)
    "corpus_token_histogram" ->
      """SELECT source,
                CAST(1 << (length(bin(len(string_split(text, ' '))))
                  - 1) AS BIGINT) AS bucket_lo,
                count(*) AS n_docs
         FROM documents GROUP BY 1, 2 ORDER BY source, bucket_lo""",

    // replays TextOps.corpusGopherFilters — per-doc exact-integer rule
    // verdicts (token count band, mean-token-length micro band, short
    // fraction, stopword hits), then the per-source failure census
    "corpus_gopher_filters" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS toks
                    FROM documents),
         f AS (SELECT source,
                      CAST(len(toks) AS BIGINT) AS n_tok,
                      CAST(list_sum(list_transform(toks,
                        x -> CAST(len(x) AS BIGINT))) AS BIGINT)
                        AS sum_len,
                      CAST(len(list_filter(toks, x -> len(x) <= 2))
                        AS BIGINT) AS n_short,
                      CAST(len(list_filter(toks, x -> list_contains(
                          ['the', 'a', 'of', 'to', 'and', 'in',
                           'is', 'it'], x))) AS BIGINT) AS n_stop
               FROM t),
         v AS (SELECT source,
                      (n_tok >= 25 AND n_tok <= 500) AS r_count,
                      ((1000000 * sum_len) // n_tok >= 3900000 AND
                       (1000000 * sum_len) // n_tok <= 5000000)
                        AS r_mtl,
                      ((1000 * n_short) // n_tok <= 300) AS r_short,
                      (n_stop >= 2) AS r_stop
               FROM f)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN NOT r_count THEN 1 ELSE 0 END)
                  AS BIGINT) AS fail_count,
                CAST(sum(CASE WHEN NOT r_mtl THEN 1 ELSE 0 END)
                  AS BIGINT) AS fail_mtl,
                CAST(sum(CASE WHEN NOT r_short THEN 1 ELSE 0 END)
                  AS BIGINT) AS fail_short,
                CAST(sum(CASE WHEN NOT r_stop THEN 1 ELSE 0 END)
                  AS BIGINT) AS fail_stop,
                CAST(sum(CASE WHEN r_count AND r_mtl AND r_short
                  AND r_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
                CAST((1000 * sum(CASE WHEN r_count AND r_mtl
                  AND r_short AND r_stop THEN 1 ELSE 0 END))
                  // count(*) AS BIGINT) AS pass_permille
         FROM v GROUP BY source ORDER BY source""",

    "text_lang_stats" ->
      s"""SELECT lang, count(*) AS n_docs,
                 ${sqlAvg2("n_chars")} AS avg_chars,
                 count(DISTINCT source) AS n_sources
          FROM documents GROUP BY lang ORDER BY lang""",

    // Replays TextOps.textLangId: ln scores rounded to 9dp (with the
    // same 1e-12 epsilon) then summed as exact DECIMAL(18,9); argmax =
    // max_by(l, struct(total, l)) = row_number ordered (total DESC,
    // l DESC).
    "text_lang_id" ->
      """WITH toks AS (SELECT doc_id, lang,
                             unnest(string_split(text, ' ')) AS tok
                      FROM documents),
         perlang AS (SELECT lang AS l, tok, count(*) AS c_lt
                     FROM toks GROUP BY 1, 2),
         lt AS (SELECT l, CAST(sum(c_lt) AS BIGINT) AS c_l
                FROM perlang GROUP BY l),
         tt AS (SELECT tok, count(*) AS c_t FROM toks GROUP BY tok),
         g AS (SELECT count(*) AS c_all FROM toks),
         scores AS (SELECT l, perlang.tok AS tok,
                           CAST(ROUND(ln((CAST(c_lt AS DOUBLE) / c_l)
                             / (CAST(c_t AS DOUBLE) / c_all)) + 1e-12, 9)
                             AS DECIMAL(18,9)) AS score
                    FROM perlang JOIN lt USING (l)
                    JOIN tt ON perlang.tok = tt.tok CROSS JOIN g),
         ds AS (SELECT doc_id, lang, l, SUM(score) AS total
                FROM toks JOIN scores ON toks.tok = scores.tok
                GROUP BY 1, 2, 3)
         SELECT doc_id, lang, predicted, correct FROM (
           SELECT doc_id, lang, l AS predicted, (l = lang) AS correct,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY total DESC, l DESC) AS rk
           FROM ds) t
         WHERE rk = 1 ORDER BY doc_id""",

    // same detector chain, censused as the declared x detected
    // confusion matrix
    "corpus_lang_confusion" ->
      """WITH toks AS (SELECT doc_id, lang,
                             unnest(string_split(text, ' ')) AS tok
                      FROM documents),
         perlang AS (SELECT lang AS l, tok, count(*) AS c_lt
                     FROM toks GROUP BY 1, 2),
         lt AS (SELECT l, CAST(sum(c_lt) AS BIGINT) AS c_l
                FROM perlang GROUP BY l),
         tt AS (SELECT tok, count(*) AS c_t FROM toks GROUP BY tok),
         g AS (SELECT count(*) AS c_all FROM toks),
         scores AS (SELECT l, perlang.tok AS tok,
                           CAST(ROUND(ln((CAST(c_lt AS DOUBLE) / c_l)
                             / (CAST(c_t AS DOUBLE) / c_all)) + 1e-12, 9)
                             AS DECIMAL(18,9)) AS score
                    FROM perlang JOIN lt USING (l)
                    JOIN tt ON perlang.tok = tt.tok CROSS JOIN g),
         ds AS (SELECT doc_id, lang, l, SUM(score) AS total
                FROM toks JOIN scores ON toks.tok = scores.tok
                GROUP BY 1, 2, 3)
         SELECT lang AS lang_true, predicted AS lang_pred,
                CAST(count(*) AS BIGINT) AS n_docs
         FROM (
           SELECT doc_id, lang, l AS predicted,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY total DESC, l DESC) AS rk
           FROM ds) t
         WHERE rk = 1 GROUP BY 1, 2 ORDER BY lang_true, lang_pred""",

    // curriculum: integer quality permille -> ntile(3) terciles over
    // the (q desc, doc_id) total order -> md5-shuffled in-phase rank
    "corpus_curriculum_plan" ->
      s"""WITH sc AS (SELECT doc_id,
                      CAST(len(t) AS BIGINT) AS n_tokens,
                      CAST(len(list_filter(t, x -> list_contains(
                        ['the','a','of','to','and','in','is','it'], x)))
                        AS BIGINT) AS n_stop
               FROM (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents) d),
         q AS (SELECT doc_id,
                      (1000 * (n_tokens - n_stop)) // (n_tokens + 1)
                        AS q_permille
               FROM sc),
         ph AS (SELECT doc_id, q_permille,
                       CAST(ntile(3) OVER (ORDER BY q_permille DESC,
                         doc_id) AS BIGINT) AS phase
                FROM q)
         SELECT doc_id, q_permille, phase,
                CAST(row_number() OVER (PARTITION BY phase
                  ORDER BY ${md5Hash60Sql(
                    "'graft-curr:' || CAST(doc_id AS VARCHAR)")},
                    doc_id) AS BIGINT) AS pos_in_phase
         FROM ph ORDER BY phase, pos_in_phase""",

    // Pareto concentration: top-k cut at ceil(n*p/100), permille share
    "events_value_concentration" ->
      """WITH per AS (SELECT user_id,
                        CAST(SUM(CAST(round(value * 100) AS BIGINT))
                          AS BIGINT) AS v
                      FROM events WHERE event_type = 'purchase'
                      GROUP BY 1),
         ranked AS (SELECT v,
                      CAST(row_number() OVER (ORDER BY v DESC, user_id)
                        AS BIGINT) AS rk,
                      CAST(SUM(v) OVER (ORDER BY v DESC, user_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                    FROM per),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                        CAST(SUM(v) AS BIGINT) AS t FROM ranked)
         SELECT p AS top_pct, rk AS n_users_top,
                (1000 * cum) // t AS value_permille
         FROM ranked CROSS JOIN tot
         CROSS JOIN (SELECT unnest([1, 5, 10]) AS p) ps
         WHERE rk = (n * p + 99) // 100
         ORDER BY top_pct""",

    "text_quality_score" ->
      """SELECT doc_id, n_tokens, n_stop, avg_tok_len, n_chars,
                ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 3) AS stop_ratio,
                ROUND(CAST(n_tokens - n_stop AS DOUBLE)
                      / (n_tokens + 1), 4) AS quality
         FROM (SELECT doc_id,
                      CAST(len(t) AS BIGINT) AS n_tokens,
                      CAST(len(list_filter(t, x -> list_contains(
                        ['the','a','of','to','and','in','is','it'], x)))
                        AS BIGINT) AS n_stop,
                      ROUND(CAST(list_sum(list_transform(t,
                        x -> length(x))) AS DOUBLE) / len(t), 3)
                        AS avg_tok_len,
                      n_chars
               FROM (SELECT doc_id, string_split(text, ' ') AS t, n_chars
                     FROM documents) d) s
         ORDER BY doc_id""",

    "text_token_count" ->
      """SELECT doc_id,
                CAST(len(t) AS BIGINT) AS ws_tokens,
                CAST(list_sum(list_transform(t,
                  x -> CAST(ceil(length(x) / 4.0) AS BIGINT)))
                  AS BIGINT) AS bpe_est,
                CAST(length(text) AS BIGINT) AS n_chars
         FROM (SELECT doc_id, string_split(text, ' ') AS t, text
               FROM documents) d
         ORDER BY doc_id""",

    // replays TextOps.corpusNgramLm: adjacent-pair expansion (1-based
    // list indexing), keyed counts, exact permille conditionals
    "corpus_ngram_lm" ->
      """WITH d AS (SELECT string_split(text, ' ') AS t FROM documents
                    WHERE len(string_split(text, ' ')) >= 2),
         bi AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM
                (SELECT t, unnest(range(1, len(t))) AS i FROM d)),
         c AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY 1, 2),
         p AS (SELECT w1, count(*) AS prefix_n FROM bi GROUP BY 1)
         SELECT c.w1, c.w2, c.c, p.prefix_n,
                CAST(c.c * 1000 // p.prefix_n AS BIGINT) AS p_permille
         FROM c JOIN p USING (w1)
         WHERE c.c >= 3
         ORDER BY c.c DESC, c.w1, c.w2 LIMIT 200""",

    // per-source char-class split: each class counted as length minus
    // the class-stripped length ('g' flag: duckdb regexp_replace is
    // first-match-only by default, Spark's replaces all)
    "text_char_class_profile" ->
      """WITH d AS (SELECT source,
                 CAST(length(text) AS BIGINT) AS nc,
                 CAST(length(text) - length(regexp_replace(text,
                   '[a-z]', '', 'g')) AS BIGINT) AS l,
                 CAST(length(text) - length(regexp_replace(text,
                   '[0-9]', '', 'g')) AS BIGINT) AS dg,
                 CAST(length(text) - length(regexp_replace(text,
                   '[ ]', '', 'g')) AS BIGINT) AS sp
               FROM documents),
         a AS (SELECT source, CAST(SUM(nc) AS BIGINT) AS n_chars,
                 CAST(SUM(l) AS BIGINT) AS letters,
                 CAST(SUM(dg) AS BIGINT) AS digits,
                 CAST(SUM(sp) AS BIGINT) AS spaces
               FROM d GROUP BY 1)
         SELECT source, n_chars,
                (1000 * letters) // n_chars AS letters_permille,
                (1000 * digits) // n_chars AS digits_permille,
                (1000 * spaces) // n_chars AS spaces_permille,
                (1000 * (n_chars - letters - digits - spaces))
                  // n_chars AS other_permille
         FROM a ORDER BY source""",

    // per-source length gini off the value-domain cells: tie-group
    // average-rank identity keeps the numerator all-integer
    "corpus_length_gini" ->
      """WITH cells AS (SELECT source, n_chars,
                 CAST(count(*) AS BIGINT) AS c
               FROM documents GROUP BY 1, 2),
         pc AS (SELECT source, n_chars, c,
                  COALESCE(SUM(c) OVER (PARTITION BY source
                    ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS prev
                FROM cells),
         ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n,
                  CAST(SUM(CAST(c AS HUGEINT) * n_chars) AS HUGEINT)
                    AS sx
                FROM cells GROUP BY 1),
         g AS (SELECT pc.source, ns.n, ns.sx,
                 SUM(CAST(pc.c AS HUGEINT) * pc.n_chars
                     * (2 * pc.prev + pc.c - ns.n)) AS num
               FROM pc JOIN ns USING (source) GROUP BY 1, 2, 3)
         SELECT source, n AS n_docs,
                CAST(sx // n AS BIGINT) AS mean_chars,
                CAST((1000 * num) // (n * sx) AS BIGINT)
                  AS gini_permille
         FROM g ORDER BY source""",

    // Heaps-law vocabulary growth: per token ONE min-first-doc agg,
    // then bounded censuses per sweep point (no x4 corpus re-scan)
    "corpus_vocab_growth" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
                    FROM documents),
         fd AS (SELECT tok, CAST(MIN(doc_id) AS BIGINT) AS fd FROM
                  (SELECT doc_id, unnest(t) AS tok FROM d)
                GROUP BY 1),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         ks AS (SELECT unnest([10, 25, 50, 100]) AS pct),
         v AS (SELECT ks.pct, CAST(count(*) AS BIGINT) AS vocab
               FROM fd CROSS JOIN n
               JOIN ks ON fd.fd * 100 < ks.pct * n.n
               GROUP BY 1),
         tk AS (SELECT ks.pct, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(SUM(len(t)) AS BIGINT) AS n_tokens
                FROM d CROSS JOIN n
                JOIN ks ON d.doc_id * 100 < ks.pct * n.n
                GROUP BY 1)
         SELECT CAST(v.pct AS BIGINT) AS pct, tk.n_docs, tk.n_tokens,
                v.vocab
         FROM v JOIN tk USING (pct) ORDER BY 1""",

    // per-source length deciles: percentile_disc boundaries off the
    // (source, n_chars) cell frame, 10*cum >= d*n cross-multiply
    "corpus_length_deciles" ->
      """WITH cells AS (SELECT source, n_chars,
                 CAST(count(*) AS BIGINT) AS c
               FROM documents GROUP BY 1, 2),
         cum AS (SELECT source, n_chars,
                   SUM(c) OVER (PARTITION BY source ORDER BY n_chars
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum
                 FROM cells),
         ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
                FROM cells GROUP BY 1),
         x AS (SELECT cum.source, cum.n_chars, cum.cum, ns.n, d.decile
               FROM cum JOIN ns USING (source)
               CROSS JOIN (SELECT unnest(range(1, 10)) AS decile) d
               WHERE cum.cum * 10 >= d.decile * ns.n)
         SELECT source, CAST(decile AS BIGINT) AS decile,
                CAST(MIN(n_chars) AS BIGINT) AS boundary_chars
         FROM x GROUP BY 1, 2 ORDER BY 1, 2""",

    // LM-table coverage sweep: share of total bigram mass captured by
    // the top-k rows of the (c desc, w1, w2)-ordered conditional table
    "corpus_lm_coverage_sweep" ->
      """WITH d AS (SELECT string_split(text, ' ') AS t FROM documents
                    WHERE len(string_split(text, ' ')) >= 2),
         bi AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM
                (SELECT t, unnest(range(1, len(t))) AS i FROM d)),
         c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
               FROM bi GROUP BY 1, 2),
         r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w1, w2)
                   AS rn
               FROM c),
         n AS (SELECT CAST(SUM(c) AS BIGINT) AS nb FROM c),
         ks AS (SELECT unnest([50, 100, 200]) AS k)
         SELECT CAST(ks.k AS BIGINT) AS k,
                CAST(SUM(r.c) AS BIGINT) AS covered,
                n.nb AS n_bigrams,
                (1000 * CAST(SUM(r.c) AS BIGINT)) // n.nb
                  AS coverage_permille
         FROM r JOIN ks ON r.rn <= ks.k CROSS JOIN n
         GROUP BY 1, 3 ORDER BY 1""",

    // PMI collocations ranked by the exact integer lift (log2 is
    // monotone, so no log ever forms); marginals and N derive from
    // the single (w1,w2) count frame
    "text_pmi_bigrams" ->
      """WITH d AS (SELECT string_split(text, ' ') AS t FROM documents
                    WHERE len(string_split(text, ' ')) >= 2),
         bi AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM
                (SELECT t, unnest(range(1, len(t))) AS i FROM d)),
         c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
               FROM bi GROUP BY 1, 2),
         n AS (SELECT CAST(SUM(c) AS HUGEINT) AS nb FROM c),
         cx AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cx
                FROM c GROUP BY 1),
         cy AS (SELECT w2, CAST(SUM(c) AS BIGINT) AS cy
                FROM c GROUP BY 1)
         SELECT c.w1, c.w2, c.c, cx.cx, cy.cy,
                CAST((1000000 * CAST(c.c AS HUGEINT) * n.nb)
                  // (CAST(cx.cx AS HUGEINT) * cy.cy) AS BIGINT)
                  AS lift_ppm
         FROM c JOIN cx USING (w1) JOIN cy USING (w2) CROSS JOIN n
         WHERE c.c >= 20
         ORDER BY lift_ppm DESC, c.w1, c.w2 LIMIT 30""",

    // replays TextOps.textBigramLogprob: per-distinct-bigram
    // -ln P(w2|w1) micro-rounded ONCE (the BM25 convention), per-doc
    // totals exact BIGINT sums
    "text_bigram_logprob" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
                    FROM documents
                    WHERE len(string_split(text, ' ')) >= 2),
         bi AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM
                (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM d)),
         cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_b
                FROM bi GROUP BY 1, 2),
         cw AS (SELECT w1, CAST(count(*) AS BIGINT) AS c_w
                FROM bi GROUP BY 1),
         sc AS (SELECT w1, w2,
                  CAST(round(1000000 * ln(CAST(c_w AS DOUBLE) / c_b))
                    AS BIGINT) AS nll_micro
                FROM cb JOIN cw USING (w1))
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                CAST(SUM(nll_micro) AS BIGINT) AS nll_total_micro,
                CAST(SUM(nll_micro) AS BIGINT) // count(*)
                  AS nll_avg_micro
         FROM bi JOIN sc USING (w1, w2)
         GROUP BY doc_id ORDER BY doc_id""",

    // replays TextOps.textOovRate: the same top-200 bigram LM as
    // corpus_ngram_lm, then per-document unseen-bigram permille
    "text_oov_rate" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
                    FROM documents
                    WHERE len(string_split(text, ' ')) >= 2),
         bi AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM
                (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM d)),
         c AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY 1, 2),
         p AS (SELECT w1, count(*) AS prefix_n FROM bi GROUP BY 1),
         lm AS (SELECT c.w1, c.w2 FROM c JOIN p USING (w1)
                WHERE c.c >= 3
                ORDER BY c.c DESC, c.w1, c.w2 LIMIT 200)
         SELECT b.doc_id, count(*) AS n_bigrams,
                (1000 * (count(*) - count(l.w1))) // count(*)
                  AS oov_permille
         FROM bi b LEFT JOIN lm l ON l.w1 = b.w1 AND l.w2 = b.w2
         GROUP BY b.doc_id ORDER BY b.doc_id""",

    // replays TextOps.corpusChunkOverlap: starts 0,48,96,… < n_tokens,
    // 64-token windows, trailing partial kept (1-based inclusive
    // list_slice = Spark's 1-based slice(start, length))
    "corpus_chunk_overlap" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
                    FROM documents),
         s AS (SELECT doc_id, t,
                      unnest(range(0, len(t), 48)) AS st FROM d)
         SELECT doc_id, st // 48 AS chunk_id,
                CAST(len(list_slice(t, st + 1, st + 64)) AS BIGINT)
                  AS n_tokens,
                array_to_string(list_slice(t, st + 1, st + 64), ' ')
                  AS chunk_text
         FROM s ORDER BY doc_id, chunk_id""",

    // replays TextOps.textWindowDupRate: the same 48-stride/64-token
    // windows, md5 fingerprints, shared = present in ≥2 distinct docs
    "text_window_dup_rate" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
                    FROM documents),
         s AS (SELECT doc_id, t,
                      unnest(range(0, len(t), 48)) AS st FROM d),
         ch AS (SELECT doc_id,
                       md5(array_to_string(
                         list_slice(t, st + 1, st + 64), ' ')) AS fp
                FROM s),
         shared AS (SELECT fp FROM ch GROUP BY fp
                    HAVING count(DISTINCT doc_id) >= 2)
         SELECT c.doc_id, count(*) AS n_windows,
                count(sh.fp) AS n_dup_windows,
                (1000 * count(sh.fp)) // count(*) AS dup_permille
         FROM ch c LEFT JOIN shared sh ON sh.fp = c.fp
         GROUP BY 1 ORDER BY 1""",

    "text_redact_pii" ->
      """SELECT event_id,
                substr(sha256('graft-pepper:' || CAST(user_id AS VARCHAR)),
                       1, 16) AS pseudo_uid,
                event_type,
                regexp_replace(props, '[0-9]+', '<NUM>', 'g')
                  AS props_redacted
         FROM events ORDER BY event_id""",

    "corpus_mix_temperature" -> mixTemperatureSql,

    // replays corpusMixWeighted: per-source permille rates off the
    // source index, engine-neutral md5Hash60 membership predicate
    "corpus_mix_weighted" ->
      s"""WITH rated AS (
           SELECT doc_id, source, lang,
                  CASE CAST(substr(source, 4) AS INT) % 4
                    WHEN 0 THEN 1000 WHEN 1 THEN 500 WHEN 2 THEN 250
                    ELSE 125 END AS rate_permille
           FROM documents)
         SELECT doc_id, source, lang, rate_permille FROM rated
         WHERE ${md5Hash60Sql(
             "'graft-mix:' || CAST(doc_id AS VARCHAR)")} % 1000
               < rate_permille
         ORDER BY doc_id""",

    // replays TextOps.corpusEpochPlan: same permille weight scheme as
    // corpus_mix_weighted, floor-allocated token budget, epochs in
    // micro-units (1e6 = one pass over the source)
    "corpus_epoch_plan" ->
      s"""WITH toks AS (SELECT source,
                  CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                    AS avail_tokens
           FROM documents GROUP BY 1),
         rated AS (SELECT source, avail_tokens,
                  CASE CAST(substr(source, 4) AS INT) % 4
                    WHEN 0 THEN 1000 WHEN 1 THEN 500 WHEN 2 THEN 250
                    ELSE 125 END AS rate_permille
           FROM toks),
         t AS (SELECT CAST(SUM(rate_permille) AS BIGINT) AS w_total
               FROM rated)
         SELECT source, rate_permille, avail_tokens,
                CAST((CAST(${graft.ops.TextOps.EpochPlanBudget}
                      AS BIGINT) * rate_permille) // w_total AS BIGINT)
                  AS target_tokens,
                CAST(((CAST(${graft.ops.TextOps.EpochPlanBudget}
                       AS BIGINT) * rate_permille) // w_total * 1000000)
                     // avail_tokens AS BIGINT) AS epochs_micro
         FROM rated CROSS JOIN t ORDER BY source""",

    "corpus_sample_stratified" ->
      """WITH keyed AS (
           SELECT doc_id, lang, source, n_chars,
                  md5('graft-sample:' || CAST(doc_id AS VARCHAR)) AS skey
           FROM documents),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY skey, doc_id) AS rn,
                 (count(*) OVER (PARTITION BY lang) * 2) // 10 AS quota
               FROM keyed)
         SELECT doc_id, lang, source, n_chars FROM r
         WHERE rn <= quota ORDER BY lang, doc_id""",

    "text_repetition_score" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
                    FROM documents),
         g AS (SELECT doc_id,
                      unnest(list_transform(range(1, len(t)),
                        i -> t[i] || ' ' || t[i+1])) AS gram
               FROM d WHERE len(t) >= 2),
         c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
         SELECT doc_id,
                CAST(sum(c) AS BIGINT) AS n_grams,
                count(*) AS n_distinct,
                ROUND(CAST(sum(c) - count(*) AS DOUBLE)
                      / CAST(sum(c) AS DOUBLE), 4) AS dup_frac,
                ROUND(CAST(max(c) AS DOUBLE)
                      / CAST(sum(c) AS DOUBLE), 4) AS top_frac
         FROM c GROUP BY doc_id ORDER BY doc_id""",

    // tri0 = the same distinct token-trigram shingles the Spark side
    // memoizes; benchmark corpus = source 'src0'
    "text_contamination_ngram" ->
      s"""WITH $Tri0Ctes,
          src AS (SELECT doc_id, source FROM documents),
          bench AS (SELECT DISTINCT g FROM tri0
                    JOIN src USING (doc_id) WHERE source = 'src0'),
          tgt AS (SELECT tri0.doc_id AS doc_id, g FROM tri0
                  JOIN src USING (doc_id) WHERE source <> 'src0')
          SELECT doc_id, count(*) AS n_grams,
                 CAST(sum(CASE WHEN bench.g IS NOT NULL
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
                 ROUND(CAST(sum(CASE WHEN bench.g IS NOT NULL
                                     THEN 1 ELSE 0 END) AS DOUBLE)
                       / count(*), 4) AS contam_frac
          FROM tgt LEFT JOIN bench ON tgt.g = bench.g
          GROUP BY doc_id ORDER BY doc_id""",

    // replays TextOps.textLmScore: the oov oracle's LM CTE chain, kept
    // probability-weighted (sum of p_permille over known bigrams)
    "text_lm_score" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
                    FROM documents
                    WHERE len(string_split(text, ' ')) >= 2),
         bi AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM
                (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM d)),
         c AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY 1, 2),
         p AS (SELECT w1, count(*) AS prefix_n FROM bi GROUP BY 1),
         lm AS (SELECT c.w1, c.w2,
                       CAST(c.c * 1000 // p.prefix_n AS BIGINT)
                         AS p_permille
                FROM c JOIN p USING (w1)
                WHERE c.c >= 3
                ORDER BY c.c DESC, c.w1, c.w2 LIMIT 200)
         SELECT b.doc_id, count(*) AS n_bigrams,
                CAST(count(l.p_permille) AS BIGINT) AS n_known,
                CASE WHEN count(l.p_permille) = 0 THEN CAST(0 AS BIGINT)
                     ELSE CAST(SUM(l.p_permille) // count(l.p_permille)
                               AS BIGINT) END AS lm_score_permille
         FROM bi b LEFT JOIN lm l ON l.w1 = b.w1 AND l.w2 = b.w2
         GROUP BY b.doc_id ORDER BY b.doc_id""",

    // replays TextOps.textNgramNovelty: first occurrence = min doc_id
    // per distinct 3-shingle
    "text_ngram_novelty" ->
      s"""WITH $Tri0Ctes,
          first AS (SELECT g, min(doc_id) AS first_doc
                    FROM tri0 GROUP BY g)
          SELECT t.doc_id, count(*) AS n_shingles,
                 CAST(SUM(CASE WHEN f.first_doc = t.doc_id
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                 CAST((1000 * SUM(CASE WHEN f.first_doc = t.doc_id
                                       THEN 1 ELSE 0 END)) // count(*)
                      AS BIGINT) AS novelty_permille
          FROM tri0 t JOIN first f USING (g)
          GROUP BY t.doc_id ORDER BY t.doc_id""",

    // replays TextOps.corpusDecontamFilter: the contamination oracle's
    // verdict, thresholded and rolled up per source; unshingleable
    // docs carry no evidence and are kept
    "corpus_decontam_filter" ->
      s"""WITH $Tri0Ctes,
          src AS (SELECT doc_id, source, n_chars FROM documents
                  WHERE source <> 'src0'),
          bench AS (SELECT DISTINCT g FROM tri0
                    JOIN (SELECT doc_id FROM documents
                          WHERE source = 'src0') b USING (doc_id)),
          tgt AS (SELECT tri0.doc_id AS doc_id, g FROM tri0
                  JOIN src USING (doc_id)),
          contam AS (SELECT doc_id,
                       (1000 * SUM(CASE WHEN bench.g IS NOT NULL
                                        THEN 1 ELSE 0 END)) // count(*)
                         AS cp
                     FROM tgt LEFT JOIN bench ON tgt.g = bench.g
                     GROUP BY doc_id)
          SELECT source, count(*) AS n_docs,
                 CAST(SUM(CASE WHEN COALESCE(cp, 0) >
                                    ${graft.ops.TextOps.ContamMaxPermille}
                               THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_removed,
                 CAST(SUM(CASE WHEN COALESCE(cp, 0) >
                                    ${graft.ops.TextOps.ContamMaxPermille}
                               THEN 0 ELSE n_chars END) AS BIGINT)
                   AS kept_chars
          FROM src LEFT JOIN contam USING (doc_id)
          GROUP BY source ORDER BY source""",

    "corpus_pack_sequences" ->
      s"""WITH d AS (SELECT doc_id, lang,
                          CAST(len(string_split(text, ' ')) AS BIGINT)
                            AS n_tok
                   FROM documents),
          c AS (SELECT doc_id, lang, n_tok,
                       sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING) AS cum
                FROM d)
          SELECT lang,
                 CAST((cum - n_tok) // ${graft.ops.TextOps.PackCapacity}
                      AS BIGINT) AS bin,
                 count(*) AS n_docs,
                 CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
                 min(doc_id) AS first_doc, max(doc_id) AS last_doc
          FROM c GROUP BY 1, 2 ORDER BY lang, bin""",

    // replays TextOps.corpusPackBestfit — per-shard (tokens DESC, id)
    // item list, first-fit-decreasing fold via list_reduce (acc seeds
    // itself from the first 1-element item, matching Spark's
    // empty-array aggregate init)
    "corpus_pack_bestfit" -> {
      val c = graft.ops.TextOps.PackCapacity
      s"""WITH it AS (SELECT doc_id,
                  md5('graft-shuffle:' || CAST(doc_id AS VARCHAR))
                    AS skey,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents),
          sh AS (SELECT CAST(strpos('0123456789abcdef',
                     substr(skey, 1, 1)) - 1 AS INT) AS shard_id,
                   doc_id, n_tok
                 FROM it),
          ag AS (SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
                        CAST(sum(n_tok) AS BIGINT) AS total_tokens,
                        list(n_tok ORDER BY n_tok DESC, doc_id) AS ns
                 FROM sh GROUP BY 1),
          ffd AS (SELECT shard_id, n_docs, total_tokens,
                    list_reduce(list_transform(ns, x -> [x]),
                      (acc, x) -> CASE
                        WHEN len(list_filter(acc,
                               b -> b + x[1] <= $c)) > 0
                        THEN list_transform(acc, (b, i) ->
                          CASE WHEN i = list_filter(
                                 range(1, len(acc) + 1),
                                 j -> acc[j] + x[1] <= $c)[1]
                               THEN b + x[1] ELSE b END)
                        ELSE list_append(acc, x[1]) END) AS bins
                  FROM ag)
          SELECT shard_id, n_docs, total_tokens,
                 CAST(len(bins) AS BIGINT) AS bins_ffd,
                 CAST((total_tokens + ${c - 1}) // $c AS BIGINT)
                   AS bins_lb,
                 CAST((1000 * (CAST(len(bins) AS BIGINT) * $c
                        - total_tokens))
                      // (CAST(len(bins) AS BIGINT) * $c) AS BIGINT)
                   AS waste_permille
          FROM ffd ORDER BY shard_id"""
    },

    // the three curation stages composed: quality band → exact dedup
    // (no-op on this dup-free corpus, but replayed identically) →
    // per-language packing
    "corpus_prepare_pipeline" ->
      s"""WITH d AS (SELECT doc_id, lang, text,
                          string_split(text, ' ') AS t FROM documents),
         s AS (SELECT doc_id, lang, text,
                      CAST(len(t) AS BIGINT) AS n_tokens,
                      CAST(len(list_filter(t, x -> list_contains(
                        ['the','a','of','to','and','in','is','it'], x)))
                        AS BIGINT) AS n_stop
               FROM d),
         q AS (SELECT doc_id, lang, text, n_tokens,
                      ROUND(CAST(n_tokens - n_stop AS DOUBLE)
                            / (n_tokens + 1), 4) AS quality
               FROM s),
         r AS (SELECT *, ROUND(percent_rank() OVER (PARTITION BY lang
                 ORDER BY quality, doc_id), 6) AS pr
               FROM q),
         banded AS (SELECT doc_id, lang, text, n_tokens FROM r
                    WHERE pr >= 0.1 AND pr <= 0.9),
         keep AS (SELECT min(doc_id) AS doc_id FROM banded
                  GROUP BY sha256(text)),
         deduped AS (SELECT b.doc_id, b.lang, b.n_tokens
                     FROM banded b JOIN keep USING (doc_id)),
         c AS (SELECT doc_id, lang, n_tokens,
                      sum(n_tokens) OVER (PARTITION BY lang
                        ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
               FROM deduped)
         SELECT lang,
                CAST((cum - n_tokens) // ${graft.ops.TextOps.PackCapacity}
                     AS BIGINT) AS bin,
                count(*) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         FROM c GROUP BY 1, 2 ORDER BY lang, bin""",

    "corpus_quality_band" ->
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS t
                    FROM documents),
         s AS (SELECT doc_id, lang,
                      CAST(len(t) AS BIGINT) AS n_tokens,
                      CAST(len(list_filter(t, x -> list_contains(
                        ['the','a','of','to','and','in','is','it'], x)))
                        AS BIGINT) AS n_stop
               FROM d),
         q AS (SELECT doc_id, lang,
                      ROUND(CAST(n_tokens - n_stop AS DOUBLE)
                            / (n_tokens + 1), 4) AS quality
               FROM s),
         r AS (SELECT doc_id, lang, quality,
                      ROUND(percent_rank() OVER (PARTITION BY lang
                        ORDER BY quality, doc_id), 6) AS pr
               FROM q)
         SELECT doc_id, lang, quality, pr FROM r
         WHERE pr >= 0.1 AND pr <= 0.9 ORDER BY lang, doc_id""",

    // replays embedKnnBatch: 20 broadcast probes, one corpus pass,
    // per-probe top-3 by rounded cosine with id tie-break
    "embed_knn_batch" ->
      """WITH e AS (SELECT vec_id,
                           CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         en AS (SELECT vec_id, v,
                       sqrt(list_sum(list_transform(range(1, 65),
                         i -> v[i] * v[i]))) AS nrm FROM e),
         p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn
               FROM en WHERE vec_id < 20),
         sims AS (SELECT p.probe_id, x.vec_id,
                         ROUND(list_sum(list_transform(range(1, 65),
                                 i -> x.v[i] * p.pv[i]))
                           / (x.nrm * p.pn), 4) AS cos_sim
                  FROM en x JOIN p ON x.vec_id <> p.probe_id),
         r AS (SELECT probe_id, vec_id, cos_sim,
                      CAST(row_number() OVER (PARTITION BY probe_id
                        ORDER BY cos_sim DESC, vec_id) AS INT) AS rn
               FROM sims)
         SELECT probe_id, vec_id, cos_sim, rn FROM r
         WHERE rn <= 3 ORDER BY probe_id, rn""",

    "embed_cosine_topk" -> EmbedCosineTopkSql,

    "embed_ann_nsw" -> EmbedAnnNswSql,

    // recall@10 of the partitioned-NSW beam search vs the exact top-10
    "embed_recall_nsw" ->
      s"""WITH exact AS (SELECT vec_id FROM ($EmbedCosineTopkSql)),
          ann AS (SELECT vec_id AS a_id FROM ($EmbedAnnNswSql))
          SELECT count(*) AS k, count(a_id) AS hits,
                 (count(a_id) * 1000) // count(*) AS recall_permille
          FROM exact LEFT JOIN ann ON vec_id = a_id""",

    "embed_ann_hnsw" -> EmbedAnnHnswSql,

    // recall@10 of the two-layer HNSW descent vs the exact top-10
    "embed_recall_hnsw" ->
      s"""WITH exact AS (SELECT vec_id FROM ($EmbedCosineTopkSql)),
          ann AS (SELECT vec_id AS a_id FROM ($EmbedAnnHnswSql))
          SELECT count(*) AS k, count(a_id) AS hits,
                 (count(a_id) * 1000) // count(*) AS recall_permille
          FROM exact LEFT JOIN ann ON vec_id = a_id""",

    // the NSW insert census: per shard, arrivals, forward edges,
    // backlink-spliced base vertices, and degree-bound evictions
    "embed_index_nsw_delta" ->
      s"""WITH $NswDeltaCtes
          SELECT a.shard,
                 CAST(n_new AS BIGINT) AS n_new,
                 CAST(COALESCE(n_fwd_edges, 0) AS BIGINT)
                   AS n_fwd_edges,
                 CAST(COALESCE(n_spliced, 0) AS BIGINT) AS n_spliced,
                 CAST(COALESCE(n_evicted, 0) AS BIGINT) AS n_evicted
          FROM (SELECT shard, count(*) AS n_new
                FROM nd_delta GROUP BY 1) a
          LEFT JOIN (SELECT shard, count(*) AS n_fwd_edges
                     FROM nd_fwd GROUP BY 1) b USING (shard)
          LEFT JOIN (SELECT shard, count(DISTINCT src) AS n_spliced
                     FROM nd_spl
                     WHERE dst % 5 = ${graft.ops.VectorOps.NswDeltaMod}
                     GROUP BY 1) c USING (shard)
          LEFT JOIN (SELECT g.shard, count(*) AS n_evicted
                     FROM nd_g0 g
                     WHERE NOT EXISTS (SELECT 1 FROM nd_spl s
                       WHERE s.shard = g.shard AND s.src = g.src
                         AND s.dst = g.dst)
                     GROUP BY 1) d USING (shard)
          ORDER BY a.shard""",

    // HNSW insert census: arrivals + level draws + per-layer forward
    // edges + upper-layer backlink splices, per shard
    "embed_index_hnsw_delta" ->
      s"""WITH $NswDeltaCtes,
          $HnswDeltaL1Ctes,
          dl AS (SELECT shard, vec_id,
                   ${md5Hash60Sql(
                     "'graft-hnsw:' || CAST(vec_id AS VARCHAR)")}
                     % ${graft.ops.VectorOps.HnswL1Mod} = 0 AS is_l1
                 FROM nd_delta),
          a AS (SELECT shard, count(*) AS n_new,
                  CAST(SUM(CASE WHEN is_l1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new_l1
                FROM dl GROUP BY 1),
          f0 AS (SELECT shard, count(*) AS n_fwd_l0 FROM nd_fwd
                 GROUP BY 1),
          f1 AS (SELECT shard, count(*) AS n_fwd_l1 FROM h1_fwd
                 GROUP BY 1),
          s1 AS (SELECT shard, count(DISTINCT src) AS n_spliced_l1
                 FROM h1_spl
                 WHERE dst % 5 = ${graft.ops.VectorOps.NswDeltaMod}
                 GROUP BY 1)
          SELECT a.shard, a.n_new, a.n_new_l1,
                 CAST(COALESCE(n_fwd_l0, 0) AS BIGINT) AS n_fwd_l0,
                 CAST(COALESCE(n_fwd_l1, 0) AS BIGINT) AS n_fwd_l1,
                 CAST(COALESCE(n_spliced_l1, 0) AS BIGINT)
                   AS n_spliced_l1
          FROM a LEFT JOIN f0 USING (shard)
                 LEFT JOIN f1 USING (shard)
                 LEFT JOIN s1 USING (shard)
          ORDER BY a.shard""",

    // recall@10 of the hierarchical descent over the post-insert
    // two-layer graph vs the exact top-10
    "embed_recall_hnsw_delta" ->
      s"""WITH exact AS (SELECT vec_id FROM ($EmbedCosineTopkSql)),
          ann AS (SELECT vec_id AS a_id FROM ($EmbedAnnHnswDeltaSql))
          SELECT count(*) AS k, count(a_id) AS hits,
                 (count(a_id) * 1000) // count(*) AS recall_permille
          FROM exact LEFT JOIN ann ON vec_id = a_id""",

    // recall@10 over the post-insert graph vs the exact top-10
    "embed_recall_nsw_delta" ->
      s"""WITH exact AS (SELECT vec_id FROM ($EmbedCosineTopkSql)),
          ann AS (SELECT vec_id AS a_id FROM ($EmbedAnnNswDeltaSql))
          SELECT count(*) AS k, count(a_id) AS hits,
                 (count(a_id) * 1000) // count(*) AS recall_permille
          FROM exact LEFT JOIN ann ON vec_id = a_id""",

    // recall@10 of the IVF path vs the exact top-10: both retrieval
    // plans replayed verbatim (the shared vals above), scored by a
    // k-row left join — integer permille so the metric is engine-exact
    "embed_recall_eval" ->
      s"""WITH exact AS (SELECT vec_id FROM ($EmbedCosineTopkSql)),
          ann AS (SELECT vec_id AS a_id FROM ($EmbedAnnIvfSql))
          SELECT count(*) AS k, count(a_id) AS hits,
                 (count(a_id) * 1000) // count(*) AS recall_permille
          FROM exact LEFT JOIN ann ON vec_id = a_id""",

    // the nprobe tuning curve: three IVF replays (nprobe 1..3) each
    // scored against the exact top-10 — recall monotone in nprobe
    "embed_ann_tuning" ->
      s"""WITH exact AS (SELECT vec_id FROM ($EmbedCosineTopkSql)),
          a1 AS (SELECT vec_id AS av FROM (${annIvfSql(1)})),
          a2 AS (SELECT vec_id AS av FROM (${annIvfSql(2)})),
          a3 AS (SELECT vec_id AS av FROM (${annIvfSql(3)}))
          SELECT * FROM (
            SELECT 1 AS nprobe, count(*) AS k, count(av) AS hits,
                   (count(av) * 1000) // count(*) AS recall_permille
            FROM exact LEFT JOIN a1 ON vec_id = av
            UNION ALL
            SELECT 2, count(*), count(av),
                   (count(av) * 1000) // count(*)
            FROM exact LEFT JOIN a2 ON vec_id = av
            UNION ALL
            SELECT 3, count(*), count(av),
                   (count(av) * 1000) // count(*)
            FROM exact LEFT JOIN a3 ON vec_id = av)
          ORDER BY nprobe""",

    // recall@10 of the PQ-ADC compressed path vs the exact top-10 —
    // same scoring join as embed_recall_eval over the ADC replay
    "embed_recall_pq" ->
      s"""WITH exact AS (SELECT vec_id FROM ($EmbedCosineTopkSql)),
          ann AS (SELECT vec_id AS a_id FROM (${searchPqAdcSql(
            graft.ops.VectorOps.PqM, graft.ops.VectorOps.PqK)}))
          SELECT count(*) AS k, count(a_id) AS hits,
                 (count(a_id) * 1000) // count(*) AS recall_permille
          FROM exact LEFT JOIN ann ON vec_id = a_id""",

    // replays VectorOps.embedQuantizeInt8: per-dimension absmax scale,
    // floor(y + 0.5) round-half-up codes (floor is bit-deterministic
    // cross-engine where round() on doubles is not), sequential-order
    // L2 reconstruction error
    "embed_quantize_int8" ->
      s"""WITH $Int8Ctes
         SELECT vec_id,
                array_to_string(list_transform(q8,
                  x -> CAST(x AS VARCHAR)), ',') AS q8,
                ROUND(sqrt(list_sum(list_transform(range(1, 65), i ->
                  (v[i] - q8[i] * amax[i] / 127.0)
                    * (v[i] - q8[i] * amax[i] / 127.0)))), 4)
                  AS recon_l2
         FROM q CROSS JOIN am ORDER BY vec_id""",

    // replays VectorOps.embedRecallInt8: all-integer code dot product
    // top-10 vs the exact cosine top-10
    "embed_recall_int8" ->
      s"""WITH $Int8Ctes,
          p AS (SELECT q8 AS pq8 FROM q WHERE vec_id = 0),
          i8 AS (SELECT vec_id,
                   CAST(list_sum(list_transform(range(1, 65),
                     i -> q8[i] * pq8[i])) AS BIGINT) AS dot_i8
                 FROM q CROSS JOIN p
                 ORDER BY dot_i8 DESC, vec_id LIMIT 10),
          exact AS (SELECT vec_id FROM ($EmbedCosineTopkSql)),
          ann AS (SELECT vec_id AS a_id FROM i8)
          SELECT count(*) AS k, count(a_id) AS hits,
                 (count(a_id) * 1000) // count(*) AS recall_permille
          FROM exact LEFT JOIN ann ON vec_id = a_id""",

    // replays VectorOps.embedQuantizeBinary — shared 1-bit code CTEs
    "embed_quantize_binary" ->
      s"""WITH $BinaryCodesCtes
          SELECT vec_id, label, code_lo, code_hi, n_ones
          FROM codes ORDER BY vec_id""",

    // replays VectorOps.embedRecallBinary — hamming = xor + popcount
    // over the two packed words, same overlap metric as the int8 eval
    "embed_recall_binary" ->
      s"""WITH $BinaryCodesCtes,
          p AS (SELECT code_lo AS plo, code_hi AS phi
                FROM codes WHERE vec_id = 0),
          hm AS (SELECT vec_id,
                   CAST(bit_count(xor(code_lo, plo))
                      + bit_count(xor(code_hi, phi)) AS BIGINT)
                     AS hamming
                 FROM codes CROSS JOIN p
                 ORDER BY hamming, vec_id LIMIT 10),
          exact AS (SELECT vec_id FROM ($EmbedCosineTopkSql)),
          ann AS (SELECT vec_id AS a_id FROM hm)
          SELECT count(*) AS k, count(a_id) AS hits,
                 (count(a_id) * 1000) // count(*) AS recall_permille
          FROM exact LEFT JOIN ann ON vec_id = a_id""",

    // replays VectorOps.embedRerankBinary — hamming shortlist of 50
    // over the packed 1-bit words, exact cosine rerank to top-10 (the
    // matryoshka two-stage shape with an XOR+popcount coarse pass)
    "embed_rerank_binary" ->
      s"""WITH $BinaryCodesCtes,
          p AS (SELECT code_lo AS plo, code_hi AS phi
                FROM codes WHERE vec_id = 0),
          sl AS (SELECT vec_id,
                   CAST(bit_count(xor(code_lo, plo))
                      + bit_count(xor(code_hi, phi)) AS BIGINT)
                     AS hamming
                 FROM codes CROSS JOIN p
                 ORDER BY hamming, vec_id LIMIT 50),
          ev AS (SELECT vec_id, label,
                        CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
          en AS (SELECT vec_id, label, v,
                        sqrt(list_sum(list_transform(range(1, 65),
                          i -> v[i] * v[i]))) AS nrm FROM ev),
          pe AS (SELECT v AS pv, nrm AS pn FROM en WHERE vec_id = 0)
          SELECT en.vec_id, label, hamming,
                 ROUND(list_sum(list_transform(range(1, 65),
                   i -> v[i] * pv[i])) / (nrm * pn), 4) AS cos_sim
          FROM en JOIN sl ON en.vec_id = sl.vec_id CROSS JOIN pe
          ORDER BY cos_sim DESC, en.vec_id LIMIT 10""",

    // matryoshka rerank: 16-dim prefix coarse cut, exact rerank —
    // both cuts on rounded scores with id tie-break
    "embed_matryoshka_topk" -> EmbedMatryoshkaSql,

    // recall@10 of the matryoshka coarse-then-rerank pipeline vs the
    // exact full-dim top-10 (the same census as every other family)
    "embed_recall_matryoshka" ->
      s"""WITH exact AS (SELECT vec_id FROM ($EmbedCosineTopkSql)),
          ann AS (SELECT vec_id AS a_id FROM ($EmbedMatryoshkaSql))
          SELECT count(*) AS k, count(a_id) AS hits,
                 (count(a_id) * 1000) // count(*) AS recall_permille
          FROM exact LEFT JOIN ann ON vec_id = a_id""",

    "embed_pair_sim_threshold" ->
      """WITH e AS (SELECT vec_id, label,
                           CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         en AS (SELECT vec_id, label, v,
                       sqrt(list_sum(list_transform(range(1, 65),
                         i -> v[i] * v[i]))) AS nrm FROM e)
         SELECT * FROM (
           SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS label,
                  ROUND(list_sum(list_transform(range(1, 65),
                          i -> a.v[i] * b.v[i]))
                        / (a.nrm * b.nrm), 3) AS cos_sim
           FROM en a JOIN en b
             ON a.label = b.label AND a.vec_id < b.vec_id) s
         WHERE cos_sim >= 0.3
         ORDER BY a_id, b_id""",

    // replays VectorOps.graphFeaturePropagate: the pair_sim_threshold
    // edge set made undirected + self-loops, floor(x·1e6) micro sums
    // per position, then the remainder-subtraction floor mean
    "graph_feature_propagate" ->
      """WITH e AS (SELECT vec_id, label,
                           CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         en AS (SELECT vec_id, label, v,
                       sqrt(list_sum(list_transform(range(1, 65),
                         i -> v[i] * v[i]))) AS nrm FROM e),
         pairs AS (SELECT * FROM (
             SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                    ROUND(list_sum(list_transform(range(1, 65),
                            i -> a.v[i] * b.v[i]))
                          / (a.nrm * b.nrm), 3) AS cos_sim
             FROM en a JOIN en b
               ON a.label = b.label AND a.vec_id < b.vec_id) s
           WHERE cos_sim >= 0.3),
         und AS (SELECT a_id AS id, b_id AS nb FROM pairs
                 UNION ALL SELECT b_id, a_id FROM pairs
                 UNION ALL SELECT vec_id, vec_id FROM e),
         q AS (SELECT vec_id, list_transform(v,
                 x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv FROM e),
         cells AS (SELECT u.id, i, q.qv[i] AS c
                   FROM und u JOIN q ON q.vec_id = u.nb,
                        range(1, 65) r(i)),
         sums AS (SELECT id, i, CAST(SUM(c) AS BIGINT) AS s
                  FROM cells GROUP BY id, i),
         cnt AS (SELECT id, count(*) AS n_neighbors FROM und
                 GROUP BY id),
         vecs AS (SELECT id, list(s ORDER BY i) AS sv
                  FROM sums GROUP BY id)
         SELECT v.id AS vec_id, c.n_neighbors,
                array_to_string(list_transform(sv,
                  x -> CAST(CAST((x - ((x % c.n_neighbors
                    + c.n_neighbors) % c.n_neighbors)) // c.n_neighbors
                    AS BIGINT) AS VARCHAR)), ',') AS prop_csv
         FROM vecs v JOIN cnt c ON c.id = v.id
         ORDER BY vec_id""",

    // generated from the SAME fixed-seed sign matrix as the Spark op
    // (graft.functions.VectorLsh) — approximate result, deterministic
    // cross-engine
    "embed_pair_sim_lsh" ->
      s"""WITH $LshPairCtes
         SELECT a_id, b_id, cos_sim FROM lp
         WHERE cos_sim >= 0.3
         ORDER BY a_id, b_id""",

    // cosine threshold sweep over the same LSH candidate slice: each
    // cut compares the 3dp-rounded cosine to the identical IEEE double
    "embed_cosine_sweep" ->
      s"""WITH $LshPairCtes,
         th AS (SELECT CAST(unnest([300, 400, 500, 600]) AS BIGINT)
                  AS threshold_milli),
         px AS (SELECT threshold_milli, a_id, b_id
                FROM th JOIN lp
                  ON cos_sim >= CAST(threshold_milli AS DOUBLE) / 1000.0),
         np AS (SELECT threshold_milli, count(*) AS n_pairs
                FROM px GROUP BY 1),
         nv AS (SELECT threshold_milli, count(DISTINCT d) AS n_vecs
                FROM (SELECT threshold_milli, a_id AS d FROM px
                      UNION ALL
                      SELECT threshold_milli, b_id AS d FROM px)
                GROUP BY 1)
         SELECT t.threshold_milli,
                CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
                CAST(COALESCE(n_vecs, 0) AS BIGINT) AS n_vecs
         FROM th t LEFT JOIN np USING (threshold_milli)
                   LEFT JOIN nv USING (threshold_milli)
         ORDER BY t.threshold_milli""",

    // LSH pair generation (same shared sign matrix) + exact transitive
    // closure + min-label election — replays VectorOps.dedupEmbedCosine
    // including GraphOps.minLabelComponents' fixed point.
    "dedup_embed_cosine" ->
      s"""WITH RECURSIVE $LshPairCtes,
         jp AS (SELECT a_id, b_id FROM lp
                WHERE cos_sim >= ${graft.ops.VectorOps.EmbedDedupThreshold}),
         und AS (SELECT a_id AS a, b_id AS b FROM jp
                 UNION ALL SELECT b_id, a_id FROM jp),
         reach(src, dst) AS (
           SELECT vec_id, vec_id FROM embeddings
           UNION
           SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.dst
         )
         SELECT src AS vec_id, min(dst) AS cluster,
                (min(dst) = src) AS is_canonical
         FROM reach GROUP BY src ORDER BY vec_id""",

    "embed_knn_per_label" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         cells AS (SELECT label, i AS pos, v[i] AS cv
                   FROM e, range(1, 65) r(i)),
         means AS (SELECT label, pos,
                          CAST(SUM(CAST(cv AS DECIMAL(27,10))) AS DOUBLE)
                            / COUNT(*) AS mean_v
                   FROM cells GROUP BY label, pos),
         cent AS (SELECT label, list(mean_v ORDER BY pos) AS c
                  FROM means GROUP BY label),
         scored AS (SELECT e.label, e.vec_id,
                ROUND(list_sum(list_transform(range(1, 65),
                        i -> e.v[i] * c.c[i]))
                  / sqrt(list_sum(list_transform(range(1, 65),
                           i -> e.v[i] * e.v[i]))
                       * list_sum(list_transform(range(1, 65),
                           i -> c.c[i] * c.c[i]))), 4) AS cos_sim
           FROM e JOIN cent c ON e.label = c.label)
         SELECT label, vec_id, cos_sim, rk FROM (
           SELECT label, vec_id, cos_sim,
                  row_number() OVER (PARTITION BY label
                    ORDER BY cos_sim DESC, vec_id) AS rk
           FROM scored) t
         WHERE rk <= 5
         ORDER BY label, rk""",

    // Replays VectorOps.embedAnnIvf exactly: label-centroid coarse
    // quantizer, nprobe=3 bucket choice on ROUND(dot/sqrt(prod), 6)
    // (the cosine() form), brute force within the probed buckets on
    // ROUND(dot/(sqrt·sqrt), 4) (the withNorm form) — the two float
    // shapes are deliberately distinct and must not be "simplified"
    // into each other.
    "embed_ann_kmeans" -> annKmeansSql(8, 3),
    "embed_silhouette" -> silhouetteSql(8, 3),
    "embed_kmeans_convergence" -> kmeansConvergenceSql(8, 3),
    "embed_pca_power" -> pcaPowerSql(ops.VectorOps.PcaRounds),
    "embed_mmr_rerank" -> mmrRerankSql(ops.VectorOps.MmrPicks),
    "embed_pca_project" -> pcaProjectSql(ops.VectorOps.PcaRounds),
    // the persisted-index path serves byte-identical results to the
    // in-session path (same codebook, same probe), so the same replay
    // checks both — what differs is the PLAN (no Lloyd iterations at
    // query time; PlanSpec asserts it)
    "embed_ann_persisted" -> annKmeansSql(8, 3),

    "embed_ivfpq_search" -> ivfPqSearchSql(8, 3, 8, 4),

    // replays VectorOps.embedIndexDeltaAssign: the same trained
    // codebook (chain shared with the ann-kmeans oracle), then the
    // new-batch filter and per-cell census
    "embed_index_delta_assign" ->
      (kmeansTrainCtes(8, 3) + s""",
         batch AS (SELECT vec_id, v FROM e WHERE vec_id % 5 = 2),
         ${kmAssignCte("asg", "c3", "batch")}
         SELECT cid, count(*) AS n_new, min(vec_id) AS min_vec_id,
                max(vec_id) AS max_vec_id
         FROM asg GROUP BY cid ORDER BY cid"""),

    "embed_quantize_pq" ->
      quantizePqSql(graft.ops.VectorOps.PqM, graft.ops.VectorOps.PqK),

    "embed_search_pq_adc" ->
      searchPqAdcSql(graft.ops.VectorOps.PqM, graft.ops.VectorOps.PqK),

    "embed_ann_ivf" -> EmbedAnnIvfSql,

    "embed_centroid_per_label" ->
      """WITH cells AS (
           SELECT label, t.u.pos AS pos, t.u.v AS v FROM (
             SELECT label, unnest(list_transform(
               CAST(embedding AS DOUBLE[]),
               (x, i) -> struct_pack(pos := i - 1, v := x))) AS u
             FROM embeddings) t),
         means AS (SELECT label, pos,
                          CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE)
                            / COUNT(*) AS mean_v
                   FROM cells GROUP BY 1, 2),
         norms AS (SELECT label,
                          ROUND(sqrt(CAST(SUM(CAST(mean_v * mean_v
                            AS DECIMAL(38,18))) AS DOUBLE)), 4)
                            AS centroid_norm
                   FROM means GROUP BY 1)
         SELECT n.label, centroid_norm, c.n_members
         FROM norms n
         JOIN (SELECT label, count(*) AS n_members
               FROM embeddings GROUP BY 1) c USING (label)
         ORDER BY label""",

    // replays VectorOps.embedOutlierTopk: decimal-exact centroids,
    // per-position micro terms summed exact, per-label top-3 farthest
    "embed_outlier_topk" ->
      """WITH cells AS (
           SELECT label, vec_id, t.u.pos AS pos, t.u.v AS x FROM (
             SELECT label, vec_id, unnest(list_transform(
               CAST(embedding AS DOUBLE[]),
               (x, i) -> struct_pack(pos := i - 1, v := x))) AS u
             FROM embeddings) t),
         means AS (SELECT label, pos,
                          CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE)
                            / COUNT(*) AS mean_v
                   FROM cells GROUP BY 1, 2),
         d2 AS (SELECT label, vec_id,
                       CAST(SUM(CAST(round((x - mean_v) * (x - mean_v)
                         * 1000000.0) AS BIGINT)) AS BIGINT)
                         AS dist2_micro
                FROM cells JOIN means USING (label, pos)
                GROUP BY 1, 2)
         SELECT label, rk, vec_id, dist2_micro FROM (
           SELECT *, CAST(row_number() OVER (PARTITION BY label
             ORDER BY dist2_micro DESC, vec_id) AS INT) AS rk
           FROM d2) r
         WHERE rk <= 3 ORDER BY label, rk""",

    // replays VectorOps.embedCentroidShift: vec_id-parity snapshot
    // halves, decimal-exact per-position centroids, rounded L2 shift
    "embed_centroid_shift" ->
      """WITH cells AS (
           SELECT label, vec_id % 2 AS half, t.u.pos AS pos, t.u.v AS v
           FROM (
             SELECT label, vec_id, unnest(list_transform(
               CAST(embedding AS DOUBLE[]),
               (x, i) -> struct_pack(pos := i - 1, v := x))) AS u
             FROM embeddings) t),
         means AS (SELECT label, half, pos,
                          CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE)
                            / COUNT(*) AS mean_v
                   FROM cells GROUP BY 1, 2, 3),
         a AS (SELECT label, pos, mean_v AS ma FROM means WHERE half = 0),
         b AS (SELECT label, pos, mean_v AS mb FROM means WHERE half = 1),
         shift AS (SELECT label,
                          ROUND(sqrt(CAST(SUM(CAST((ma - mb) * (ma - mb)
                            AS DECIMAL(38,18))) AS DOUBLE)), 4)
                            AS centroid_shift
                   FROM a JOIN b USING (label, pos) GROUP BY 1)
         SELECT s.label, centroid_shift, c.n_old, c.n_new
         FROM shift s
         JOIN (SELECT label,
                      count(*) FILTER (vec_id % 2 = 0) AS n_old,
                      count(*) FILTER (vec_id % 2 = 1) AS n_new
               FROM embeddings GROUP BY 1) c USING (label)
         ORDER BY label""",

    // §2.8 streaming batch analogs
    "stream_tumbling_window" ->
      s"""SELECT date_trunc('hour', ts) AS ws, event_type,
                 count(*) AS n_events, ${sqlSum2("value")} AS sum_value
          FROM events GROUP BY 1, 2 ORDER BY ws, event_type""",

    "stream_sliding_window" ->
      s"""WITH ev AS (SELECT date_trunc('second', ts) AS ts_sec, value
                      FROM events),
          x AS (SELECT time_bucket(INTERVAL '15 minutes', ts_sec)
                         - k * INTERVAL '15 minutes' AS ws, value
                FROM ev CROSS JOIN (SELECT unnest(range(0, 4)) AS k) ks)
          SELECT ws, count(*) AS n_events, ${sqlAvg2("value")} AS avg_value
          FROM x GROUP BY 1 ORDER BY ws""",

    "stream_session_window" ->
      s"""WITH ev AS (SELECT user_id, date_trunc('second', ts) AS ts_sec,
                             value FROM events),
          -- Spark session_window MERGES an event exactly gap after the
          -- previous one (verified empirically at sf0.1: the single
          -- exact-30-min gap stays one session) → strictly-greater here
          flagged AS (SELECT user_id, ts_sec, value,
            CASE WHEN lag(ts_sec) OVER w IS NULL
                   OR ts_sec - lag(ts_sec) OVER w > INTERVAL '30 minutes'
                 THEN 1 ELSE 0 END AS new_s
            FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec)),
          sess AS (SELECT user_id, ts_sec, value,
            SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_sec
                             ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged)
          SELECT user_id, min(ts_sec) AS session_start,
                 count(*) AS n_events, ${sqlSum2("value")} AS sum_value
          FROM sess GROUP BY user_id, sid
          ORDER BY user_id, session_start""",

    // session census over the same lag/cumsum sessionization; dur is
    // the real event span max(ts)-min(ts) (0 for single-event
    // sessions), NOT Spark's gap-inclusive session_window.end - start
    "events_session_stats" ->
      """WITH ev AS (SELECT user_id, date_trunc('second', ts) AS ts_sec
                     FROM events),
         flagged AS (SELECT user_id, ts_sec,
            CASE WHEN lag(ts_sec) OVER w IS NULL
                   OR ts_sec - lag(ts_sec) OVER w > INTERVAL '30 minutes'
                 THEN 1 ELSE 0 END AS new_s
            FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec)),
         sess AS (SELECT user_id, ts_sec,
            SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_sec
                             ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged),
         per AS (SELECT user_id, sid, count(*) AS n_events,
                        CAST(epoch(max(ts_sec)) - epoch(min(ts_sec))
                          AS BIGINT) AS dur_sec
                 FROM sess GROUP BY 1, 2),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions,
                        CAST(sum(n_events) AS BIGINT) AS n_events_total,
                        CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0
                          END) AS BIGINT) AS n_single,
                        CAST(sum(dur_sec) AS BIGINT) AS dur_total,
                        CAST(max(n_events) AS BIGINT) AS max_events
                 FROM per)
         SELECT n_sessions, n_events_total,
                (1000 * n_single) // n_sessions AS single_permille,
                (1000 * n_events_total) // n_sessions
                  AS mean_events_milli,
                dur_total // n_sessions AS mean_dur_sec,
                max_events
         FROM tot""",

    // the transformWithState run's final state = the batch per-user
    // purchase census, integers end to end
    "stream_tws_running" ->
      """SELECT user_id, count(*) AS n_purchases,
                CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS total_cents
         FROM events WHERE event_type = 'purchase'
         GROUP BY 1 ORDER BY user_id""",

    // same batch sessionization as stream_session_window — the stateful
    // flatMapGroupsWithState fold must converge to exactly this
    "stream_stateful_sessions" ->
      s"""WITH ev AS (SELECT user_id, date_trunc('second', ts) AS ts_sec,
                             value FROM events),
          flagged AS (SELECT user_id, ts_sec, value,
            CASE WHEN lag(ts_sec) OVER w IS NULL
                   OR ts_sec - lag(ts_sec) OVER w > INTERVAL '30 minutes'
                 THEN 1 ELSE 0 END AS new_s
            FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec)),
          sess AS (SELECT user_id, ts_sec, value,
            SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_sec
                             ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged)
          SELECT user_id, min(ts_sec) AS session_start,
                 count(*) AS n_events, ${sqlSum2("value")} AS sum_value
          FROM sess GROUP BY user_id, sid
          ORDER BY user_id, session_start""",

    "stream_dedup_watermark" ->
      """SELECT user_id, event_type, min(event_id) AS first_event,
                count(*) AS n_dupes
         FROM events GROUP BY 1, 2 ORDER BY user_id, event_type""",

    "stream_stateful_running" ->
      """SELECT user_id, event_id, date_trunc('second', ts) AS ts_sec,
                CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))) OVER (
                  PARTITION BY user_id
                  ORDER BY date_trunc('second', ts), event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  2) AS DOUBLE) AS running_total
         FROM events WHERE event_type = 'purchase'
         ORDER BY user_id, ts_sec, event_id""",

    "stream_static_join" ->
      """SELECT event_id, user_id, event_type, c_name, c_mktsegment
         FROM events JOIN customer ON user_id = c_custkey
         ORDER BY event_id""",

    // integer epoch-µs bucketing + make_timestamp keeps the whole chain
    // timezone-free (to_timestamp would produce TIMESTAMPTZ and bind
    // the result to the session zone); epoch_us // is floor division on
    // positives, matching Spark's unix_timestamp truncation
    // open/close replayed by row_number over the identical total order
    // (ts_sec, event_id) that min_by/max_by select on in Spark
    "timeseries_ohlc" ->
      """WITH ev AS (SELECT make_timestamp(
                       ((epoch_us(ts) // 1000000) // 900 * 900)
                         * 1000000) AS bucket_ts,
                     date_trunc('second', ts) AS ts_sec, event_id, value
                     FROM events WHERE event_type = 'purchase'),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY bucket_ts
                   ORDER BY ts_sec, event_id) AS rn_a,
                 row_number() OVER (PARTITION BY bucket_ts
                   ORDER BY ts_sec DESC, event_id DESC) AS rn_d
               FROM ev)
         SELECT bucket_ts, count(*) AS n_events,
                max(CASE WHEN rn_a = 1 THEN value END) AS open,
                max(value) AS high, min(value) AS low,
                max(CASE WHEN rn_d = 1 THEN value END) AS close
         FROM r GROUP BY bucket_ts ORDER BY bucket_ts""",

    // point-in-time probe of the SCD2 intervals (TimeSeries.Scd2AsofTs
    // mirrored literally): the one valid row per user as of T
    "scd2_asof_lookup" ->
      """WITH h AS (SELECT user_id, event_id,
                           date_trunc('second', ts) AS valid_from,
                           lead(date_trunc('second', ts), 1) OVER (
                             PARTITION BY user_id
                             ORDER BY date_trunc('second', ts), event_id)
                             AS valid_to,
                           value
                    FROM events)
         SELECT user_id, event_id, valid_from, value,
                valid_to IS NULL AS is_current
         FROM h
         WHERE valid_from <= TIMESTAMP '2024-01-16 00:00:00'
           AND (valid_to IS NULL
                OR valid_to > TIMESTAMP '2024-01-16 00:00:00')
         ORDER BY user_id""",

    // replays TimeSeries.scd2MergeIncremental — the merge's contract
    // IS rebuild equivalence, so the oracle is the full-range rebuild
    // (same SQL as scd2_history)
    "scd2_merge_incremental" ->
      """SELECT user_id, event_id,
                date_trunc('second', ts) AS valid_from,
                lead(date_trunc('second', ts), 1) OVER (
                  PARTITION BY user_id
                  ORDER BY date_trunc('second', ts), event_id) AS valid_to,
                value,
                lead(date_trunc('second', ts), 1) OVER (
                  PARTITION BY user_id
                  ORDER BY date_trunc('second', ts), event_id) IS NULL
                  AS is_current
         FROM events
         ORDER BY user_id, valid_from, event_id""",

    "scd2_history" ->
      """SELECT user_id, event_id,
                date_trunc('second', ts) AS valid_from,
                lead(date_trunc('second', ts), 1) OVER (
                  PARTITION BY user_id
                  ORDER BY date_trunc('second', ts), event_id) AS valid_to,
                value,
                lead(date_trunc('second', ts), 1) OVER (
                  PARTITION BY user_id
                  ORDER BY date_trunc('second', ts), event_id) IS NULL
                  AS is_current
         FROM events
         ORDER BY user_id, valid_from, event_id""",

    // the streaming state's final view = batch argmax per user over
    // the same (ts_sec, event_id) total order
    "stream_cdc_latest" -> cdcLatestSql,

    // same maintained state, committed through the parquet upsert log
    // — the final view must still equal the batch argmax
    "stream_cdc_parquet" -> cdcLatestSql,

    // cohort retention triangle: first-event day per user, distinct
    // active users per (cohort, day-offset) cell
    "events_retention_cohort" ->
      """WITH ev AS (SELECT user_id,
                            CAST(date_trunc('second', ts) AS DATE) AS d
                     FROM events),
         coh AS (SELECT user_id, min(d) AS cohort_day FROM ev
                 GROUP BY 1)
         SELECT cohort_day,
                CAST(date_diff('day', cohort_day, d) AS INT)
                  AS day_offset,
                count(DISTINCT ev.user_id) AS n_users
         FROM ev JOIN coh USING (user_id)
         GROUP BY 1, 2 ORDER BY cohort_day, day_offset""",

    // Markov transitions: lead over the per-user total order, counts
    // + integer-permille row probabilities (// == div, positive)
    // replays TimeSeries.eventsMarkovStationary — unrolled 8-round
    // quantized power iteration over the transition grid, uniform init
    "events_markov_stationary" ->
      """WITH e AS (SELECT user_id, event_id,
                  date_trunc('second', ts) AS ts_sec, event_type
           FROM events),
         tr AS MATERIALIZED (
           SELECT event_type, next_type, count(*) AS c FROM (
             SELECT event_type, lead(event_type, 1) OVER (
                      PARTITION BY user_id
                      ORDER BY ts_sec, event_id) AS next_type
             FROM e)
           WHERE next_type IS NOT NULL GROUP BY 1, 2),
         tot AS MATERIALIZED (
           SELECT event_type, CAST(sum(c) AS BIGINT) AS tot
           FROM tr GROUP BY 1),
         st AS MATERIALIZED (
           SELECT DISTINCT event_type FROM (
             SELECT event_type FROM tr
             UNION ALL SELECT next_type FROM tr)),
         kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM st),
         p0 AS (SELECT event_type, CAST(1000000 // k AS BIGINT) AS pi
                FROM st CROSS JOIN kk),
         q1 AS (SELECT tr.next_type AS event_type,
                  CAST(sum((p.pi * tr.c) // tot.tot) AS BIGINT) AS pi1
                FROM tr JOIN tot USING (event_type)
                JOIN p0 p USING (event_type)
                GROUP BY 1),
         p1 AS MATERIALIZED (
           SELECT st.event_type, COALESCE(q1.pi1, 0) AS pi
           FROM st LEFT JOIN q1 USING (event_type)),
         q2 AS (SELECT tr.next_type AS event_type,
                  CAST(sum((p.pi * tr.c) // tot.tot) AS BIGINT) AS pi1
                FROM tr JOIN tot USING (event_type)
                JOIN p1 p USING (event_type)
                GROUP BY 1),
         p2 AS MATERIALIZED (
           SELECT st.event_type, COALESCE(q2.pi1, 0) AS pi
           FROM st LEFT JOIN q2 USING (event_type)),
         q3 AS (SELECT tr.next_type AS event_type,
                  CAST(sum((p.pi * tr.c) // tot.tot) AS BIGINT) AS pi1
                FROM tr JOIN tot USING (event_type)
                JOIN p2 p USING (event_type)
                GROUP BY 1),
         p3 AS MATERIALIZED (
           SELECT st.event_type, COALESCE(q3.pi1, 0) AS pi
           FROM st LEFT JOIN q3 USING (event_type)),
         q4 AS (SELECT tr.next_type AS event_type,
                  CAST(sum((p.pi * tr.c) // tot.tot) AS BIGINT) AS pi1
                FROM tr JOIN tot USING (event_type)
                JOIN p3 p USING (event_type)
                GROUP BY 1),
         p4 AS MATERIALIZED (
           SELECT st.event_type, COALESCE(q4.pi1, 0) AS pi
           FROM st LEFT JOIN q4 USING (event_type)),
         q5 AS (SELECT tr.next_type AS event_type,
                  CAST(sum((p.pi * tr.c) // tot.tot) AS BIGINT) AS pi1
                FROM tr JOIN tot USING (event_type)
                JOIN p4 p USING (event_type)
                GROUP BY 1),
         p5 AS MATERIALIZED (
           SELECT st.event_type, COALESCE(q5.pi1, 0) AS pi
           FROM st LEFT JOIN q5 USING (event_type)),
         q6 AS (SELECT tr.next_type AS event_type,
                  CAST(sum((p.pi * tr.c) // tot.tot) AS BIGINT) AS pi1
                FROM tr JOIN tot USING (event_type)
                JOIN p5 p USING (event_type)
                GROUP BY 1),
         p6 AS MATERIALIZED (
           SELECT st.event_type, COALESCE(q6.pi1, 0) AS pi
           FROM st LEFT JOIN q6 USING (event_type)),
         q7 AS (SELECT tr.next_type AS event_type,
                  CAST(sum((p.pi * tr.c) // tot.tot) AS BIGINT) AS pi1
                FROM tr JOIN tot USING (event_type)
                JOIN p6 p USING (event_type)
                GROUP BY 1),
         p7 AS MATERIALIZED (
           SELECT st.event_type, COALESCE(q7.pi1, 0) AS pi
           FROM st LEFT JOIN q7 USING (event_type)),
         q8 AS (SELECT tr.next_type AS event_type,
                  CAST(sum((p.pi * tr.c) // tot.tot) AS BIGINT) AS pi1
                FROM tr JOIN tot USING (event_type)
                JOIN p7 p USING (event_type)
                GROUP BY 1),
         p8 AS MATERIALIZED (
           SELECT st.event_type, COALESCE(q8.pi1, 0) AS pi
           FROM st LEFT JOIN q8 USING (event_type))
         SELECT event_type, CAST(pi AS BIGINT) AS pi8_micro
         FROM p8 ORDER BY event_type""",

    // replays TimeSeries.eventsAbsorptionProb — unrolled 6-round
    // quantized fixed-point over the transition grid, purchase pinned
    // absorbing at 1e6
    "events_absorption_prob" ->
      """WITH e AS (SELECT user_id, event_id,
                  date_trunc('second', ts) AS ts_sec, event_type
           FROM events),
         tr AS MATERIALIZED (
           SELECT event_type, next_type, count(*) AS c FROM (
             SELECT event_type, lead(event_type, 1) OVER (
                      PARTITION BY user_id
                      ORDER BY ts_sec, event_id) AS next_type
             FROM e)
           WHERE next_type IS NOT NULL GROUP BY 1, 2),
         tot AS MATERIALIZED (
           SELECT event_type, CAST(sum(c) AS BIGINT) AS tot
           FROM tr GROUP BY 1),
         st AS MATERIALIZED (
           SELECT DISTINCT event_type FROM (
             SELECT event_type FROM tr
             UNION ALL SELECT next_type FROM tr)),
         a0 AS (SELECT event_type,
                       CASE WHEN event_type = 'purchase' THEN 1000000
                            ELSE 0 END AS a
                FROM st),
         s1 AS (SELECT tr.event_type,
                  CAST(sum(tr.c * p.a) // max(tot.tot) AS BIGINT) AS a1
                FROM tr JOIN tot USING (event_type)
                JOIN a0 p ON p.event_type = tr.next_type
                GROUP BY tr.event_type),
         a1 AS MATERIALIZED (
           SELECT st.event_type,
                  CASE WHEN st.event_type = 'purchase' THEN 1000000
                       ELSE COALESCE(s1.a1, 0) END AS a
           FROM st LEFT JOIN s1 USING (event_type)),
         s2 AS (SELECT tr.event_type,
                  CAST(sum(tr.c * p.a) // max(tot.tot) AS BIGINT) AS a1
                FROM tr JOIN tot USING (event_type)
                JOIN a1 p ON p.event_type = tr.next_type
                GROUP BY tr.event_type),
         a2 AS MATERIALIZED (
           SELECT st.event_type,
                  CASE WHEN st.event_type = 'purchase' THEN 1000000
                       ELSE COALESCE(s2.a1, 0) END AS a
           FROM st LEFT JOIN s2 USING (event_type)),
         s3 AS (SELECT tr.event_type,
                  CAST(sum(tr.c * p.a) // max(tot.tot) AS BIGINT) AS a1
                FROM tr JOIN tot USING (event_type)
                JOIN a2 p ON p.event_type = tr.next_type
                GROUP BY tr.event_type),
         a3 AS MATERIALIZED (
           SELECT st.event_type,
                  CASE WHEN st.event_type = 'purchase' THEN 1000000
                       ELSE COALESCE(s3.a1, 0) END AS a
           FROM st LEFT JOIN s3 USING (event_type)),
         s4 AS (SELECT tr.event_type,
                  CAST(sum(tr.c * p.a) // max(tot.tot) AS BIGINT) AS a1
                FROM tr JOIN tot USING (event_type)
                JOIN a3 p ON p.event_type = tr.next_type
                GROUP BY tr.event_type),
         a4 AS MATERIALIZED (
           SELECT st.event_type,
                  CASE WHEN st.event_type = 'purchase' THEN 1000000
                       ELSE COALESCE(s4.a1, 0) END AS a
           FROM st LEFT JOIN s4 USING (event_type)),
         s5 AS (SELECT tr.event_type,
                  CAST(sum(tr.c * p.a) // max(tot.tot) AS BIGINT) AS a1
                FROM tr JOIN tot USING (event_type)
                JOIN a4 p ON p.event_type = tr.next_type
                GROUP BY tr.event_type),
         a5 AS MATERIALIZED (
           SELECT st.event_type,
                  CASE WHEN st.event_type = 'purchase' THEN 1000000
                       ELSE COALESCE(s5.a1, 0) END AS a
           FROM st LEFT JOIN s5 USING (event_type)),
         s6 AS (SELECT tr.event_type,
                  CAST(sum(tr.c * p.a) // max(tot.tot) AS BIGINT) AS a1
                FROM tr JOIN tot USING (event_type)
                JOIN a5 p ON p.event_type = tr.next_type
                GROUP BY tr.event_type),
         a6 AS MATERIALIZED (
           SELECT st.event_type,
                  CASE WHEN st.event_type = 'purchase' THEN 1000000
                       ELSE COALESCE(s6.a1, 0) END AS a
           FROM st LEFT JOIN s6 USING (event_type))
         SELECT event_type, CAST(a AS BIGINT) AS absorb6_micro
         FROM a6 ORDER BY event_type""",

    "events_markov_transitions" ->
      """WITH ev AS (SELECT user_id, event_id,
                            date_trunc('second', ts) AS ts_sec,
                            event_type
                     FROM events),
         s AS (SELECT event_type,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts_sec, event_id) AS next_type
               FROM ev),
         tr AS (SELECT event_type, next_type, count(*) AS n FROM s
                WHERE next_type IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT event_type, sum(n) AS t FROM tr GROUP BY 1)
         SELECT tr.event_type, next_type, n,
                CAST((n * 1000) // t AS BIGINT) AS permille
         FROM tr JOIN tot USING (event_type)
         ORDER BY event_type, next_type""",

    // per-from-state Shannon entropy of the transition matrix rows:
    // the statsEntropy discipline (micro-rounded terms, BIGINT sum)
    "events_transition_entropy" ->
      """WITH ev AS (SELECT user_id, event_id,
                            date_trunc('second', ts) AS ts_sec,
                            event_type
                     FROM events),
         s AS (SELECT event_type,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts_sec, event_id) AS next_type
               FROM ev),
         tr AS (SELECT event_type, next_type, count(*) AS n FROM s
                WHERE next_type IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS t
                 FROM tr GROUP BY 1),
         terms AS (SELECT tr.event_type, t,
                     CAST(round(-(CAST(n AS DOUBLE) / t)
                       * log2(CAST(n AS DOUBLE) / t) * 1000000.0)
                       AS BIGINT) AS term_micro
                   FROM tr JOIN tot USING (event_type))
         SELECT event_type, max(t) AS n_transitions,
                count(*) AS n_next_states,
                CAST(sum(term_micro) AS BIGINT) AS entropy_bits_micro
         FROM terms GROUP BY 1 ORDER BY event_type""",

    // Mann-Kendall trend: grid-squared sign sum + the exact
    // tie-corrected 18*var(S); the 2-sigma call is one integer
    // cross-multiply
    // breakout = (n x - S1)^2 > 4 (n S2 - S1^2) over the trailing
    // 14-day window excluding the current day; HUGEINT moments
    "timeseries_bollinger_breakout" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS x
              FROM events GROUP BY 1, 2),
         wdw AS (SELECT event_type, day, x,
                  CAST(count(*) OVER w AS HUGEINT) AS nw,
                  SUM(CAST(x AS HUGEINT)) OVER w AS s1,
                  SUM(CAST(x AS HUGEINT) * x) OVER w AS s2
                 FROM daily
                 WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)),
         f AS (SELECT event_type, nw * x - s1 AS d,
                      nw * s2 - s1 * s1 AS v
               FROM wdw WHERE nw = 14),
         c AS (SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_days,
                 CAST(SUM(CASE WHEN d > 0 AND d * d > 4 * v
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
                 CAST(SUM(CASE WHEN d < 0 AND d * d > 4 * v
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_lo
               FROM f GROUP BY 1)
         SELECT event_type, n_days, n_hi, n_lo,
                (1000 * (n_hi + n_lo)) // n_days AS breakout_permille
         FROM c ORDER BY event_type""",

    "timeseries_mann_kendall" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS x
              FROM events GROUP BY 1, 2),
         s AS (SELECT a.event_type,
                 CAST(SUM(CASE WHEN b.x > a.x THEN 1
                          WHEN b.x < a.x THEN -1 ELSE 0 END)
                   AS BIGINT) AS s_stat
               FROM daily a JOIN daily b
                 ON a.event_type = b.event_type AND a.day < b.day
               GROUP BY 1),
         nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
                FROM daily GROUP BY 1),
         tc AS (SELECT event_type,
                  CAST(SUM(c * (c - 1) * (2 * c + 5)) AS BIGINT)
                    AS tcorr
                FROM (SELECT event_type, x, count(*) AS c
                      FROM daily GROUP BY 1, 2) t
                WHERE c > 1 GROUP BY 1),
         v AS (SELECT s.event_type, n_days, s_stat,
                 CAST(n_days * (n_days - 1) * (2 * n_days + 5)
                      - COALESCE(tcorr, 0) AS BIGINT) AS var18
               FROM s JOIN nn USING (event_type)
                      LEFT JOIN tc USING (event_type))
         SELECT event_type, n_days, s_stat, var18,
                18 * s_stat * s_stat >= 4 * var18 AS is_significant,
                CASE WHEN s_stat > 0 THEN 'up'
                     WHEN s_stat < 0 THEN 'down'
                     ELSE 'flat' END AS direction
         FROM v ORDER BY event_type""",

    // last-touch attribution: carry-forward over the per-user total
    // order (last_value IGNORE NULLS, strictly-prior frame), 7-day
    // lookback — mirrors the Spark window formulation exactly
    "events_attribution" ->
      """WITH ev AS (SELECT user_id, event_id,
                            date_trunc('second', ts) AS ts_sec,
                            event_type, value
                     FROM events),
         c AS (SELECT user_id, event_id, ts_sec, event_type, value,
                 last_value(CASE WHEN event_type IN ('click', 'view')
                            THEN ts_sec END IGNORE NULLS)
                   OVER w AS t_ts,
                 last_value(CASE WHEN event_type IN ('click', 'view')
                            THEN event_id END IGNORE NULLS)
                   OVER w AS t_id,
                 last_value(CASE WHEN event_type IN ('click', 'view')
                            THEN event_type END IGNORE NULLS)
                   OVER w AS t_type
               FROM ev
               WINDOW w AS (PARTITION BY user_id
                            ORDER BY ts_sec, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING))
         SELECT event_id AS conv_id, user_id, ts_sec AS conv_ts,
                t_id AS touch_id, t_type AS touch_type,
                date_diff('second', t_ts, ts_sec) AS gap_sec,
                value AS conv_value
         FROM c
         WHERE event_type = 'purchase' AND t_id IS NOT NULL
           AND date_diff('second', t_ts, ts_sec) <= 604800
         ORDER BY conv_id""",

    // binary-decay EWMA: micro-unit values, dyadic weights as floor
    // divisions (// == Spark div on the positive operands)
    "timeseries_ewma" ->
      ("""WITH p AS (SELECT user_id, event_id,
                           date_trunc('second', ts) AS ts_sec,
                           CAST(CAST(value AS DECIMAL(18,6)) * 1000000
                                AS BIGINT) AS v_micro
                    FROM events WHERE event_type = 'purchase')
         SELECT user_id, event_id, ts_sec, v_micro,
                """ +
        (0 to 7).map(k =>
          s"COALESCE(lag(v_micro, $k) OVER w, 0) // ${1L << (k + 1)}")
          .mkString(" + ") +
        """ AS ewma_micro
         FROM p
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
         ORDER BY user_id, ts_sec, event_id"""),

    // replays Windows.windowVolatility: exact integer trailing-5
    // population variance from the keyed moment-sum window
    // replays Windows.windowPctChange — keyed daily agg then lag on
    // the aggregated frame, truncating signed permille
    "window_pct_change" ->
      """WITH d AS (SELECT user_id,
                  CAST(date_trunc('day', ts) AS DATE) AS d,
                  CAST(sum(CAST(round(value * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
           FROM events WHERE event_type = 'purchase'
           GROUP BY 1, 2),
         l AS (SELECT user_id, d, rev_cents,
                      lag(rev_cents, 1) OVER (PARTITION BY user_id
                        ORDER BY d) AS prev_cents
               FROM d)
         SELECT user_id, d, rev_cents, prev_cents,
                CAST((1000 * (rev_cents - prev_cents))
                     // nullif(prev_cents, 0) AS BIGINT)
                  AS pct_change_permille
         FROM l ORDER BY user_id, d""",

    "window_volatility" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
                           CAST(date_diff('day', DATE '1970-01-01',
                             o_orderdate) AS BIGINT) AS x,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS y
                    FROM orders),
         s AS (SELECT o_custkey, o_orderkey,
                      count(*) OVER w AS n,
                      CAST(sum(y) OVER w AS BIGINT) AS sy,
                      CAST(sum(y * y) OVER w AS BIGINT) AS syy
               FROM o WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY x, o_orderkey
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
         SELECT o_custkey, o_orderkey, n,
                CAST((n * syy - sy * sy) // (n * n) AS BIGINT)
                  AS var_cents2
         FROM s ORDER BY o_custkey, o_orderkey""",

    // replays Windows.windowStreaks: break flag off NULL-safe lag
    // comparison, island id = running break sum, two keyed reduces
    "window_streaks" ->
      """WITH p AS (SELECT user_id, event_id,
                           date_trunc('second', ts) AS ts_sec,
                           CAST(round(value * 100) AS BIGINT) AS cents
                    FROM events WHERE event_type = 'purchase'),
         f AS (SELECT user_id, event_id, ts_sec, cents,
                      CASE WHEN cents > lag(cents) OVER
                        (PARTITION BY user_id ORDER BY ts_sec, event_id)
                        THEN 0 ELSE 1 END AS brk
               FROM p),
         i AS (SELECT user_id,
                      CAST(sum(brk) OVER (PARTITION BY user_id
                        ORDER BY ts_sec, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS isl
               FROM f),
         isle AS (SELECT user_id, isl, count(*) AS len
                  FROM i GROUP BY 1, 2)
         SELECT user_id, CAST(sum(len) AS BIGINT) AS n_purchases,
                max(len) AS longest_streak,
                count(*) AS n_streaks
         FROM isle GROUP BY 1 ORDER BY user_id""",

    // replays Windows.windowRollingSlope: exact integer OLS moment
    // sums over the trailing-5 keyed frame, milli slope by integer div
    "window_rolling_slope" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
                           CAST(date_diff('day', DATE '1970-01-01',
                             o_orderdate) AS BIGINT) AS x,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS y
                    FROM orders),
         s AS (SELECT o_custkey, o_orderkey,
                      count(*) OVER w AS n,
                      CAST(sum(x) OVER w AS BIGINT) AS sx,
                      CAST(sum(y) OVER w AS BIGINT) AS sy,
                      CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
                      CAST(sum(x * x) OVER w AS BIGINT) AS sxx
               FROM o WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY x, o_orderkey
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
         SELECT o_custkey, o_orderkey, n,
                CAST((1000 * (n * sxy - sx * sy))
                  // nullif(n * sxx - sx * sx, 0) AS BIGINT) AS slope_milli
         FROM s ORDER BY o_custkey, o_orderkey""",

    // replays Windows.windowRunningMedian: lower median of the
    // trailing-9 frame via list() OVER + list_sort
    "window_running_median" ->
      """WITH p AS (SELECT user_id, event_id,
                           date_trunc('second', ts) AS ts_sec,
                           CAST(CAST(value AS DECIMAL(18,6)) * 1000000
                                AS BIGINT) AS v_micro
                    FROM events WHERE event_type = 'purchase'),
         f AS (SELECT user_id, event_id, ts_sec, v_micro,
                      list_sort(list(v_micro) OVER w) AS fr
               FROM p
               WINDOW w AS (PARTITION BY user_id
                            ORDER BY ts_sec, event_id
                            ROWS BETWEEN 8 PRECEDING AND CURRENT ROW))
         SELECT user_id, event_id, ts_sec, v_micro,
                fr[CAST((len(fr) + 1) // 2 AS INT)] AS median_micro,
                CAST(len(fr) AS INT) AS n_frame
         FROM f ORDER BY user_id, ts_sec, event_id""",

    // Holt level+trend: the same lag frame as ewma, exact dyadic
    // weight pairs from TimeSeries.holtWeights, per-term
    // remainder-subtraction floor division (floor — not truncate —
    // because the trend weights go negative)
    "timeseries_holt" -> {
      val (wl, wb) = graft.ops.TimeSeries.holtWeights(8)
      def comb(ws: Seq[Long]): String = ws.zipWithIndex.map {
        case (wj, j) =>
          s"((l$j * $wj) - (((l$j * $wj) % 65536 + 65536) % 65536))" +
            " // 65536"
      }.mkString(" + ")
      """WITH p AS (SELECT user_id, event_id,
                           date_trunc('second', ts) AS ts_sec,
                           CAST(CAST(value AS DECIMAL(18,6)) * 1000000
                                AS BIGINT) AS v_micro
                    FROM events WHERE event_type = 'purchase'),
         lg AS (SELECT user_id, event_id, ts_sec, v_micro,
                """ +
        (0 to 7).map(k =>
          s"COALESCE(lag(v_micro, $k) OVER w, 0) AS l$k")
          .mkString(", ") +
        """ FROM p
           WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id))
         SELECT user_id, event_id, ts_sec, v_micro,
                """ +
        s"${comb(wl)} AS level_micro, ${comb(wb)} AS trend_micro, " +
        s"(${comb(wl)}) + (${comb(wb)}) AS forecast_micro" +
        """ FROM lg ORDER BY user_id, ts_sec, event_id"""
    },

    // replays TimeSeries.timeseriesForecastEval — the Holt chain, a
    // per-user lead, HUGEINT error sums, floor-div means + skill
    "timeseries_forecast_eval" -> {
      val (wl, wb) = graft.ops.TimeSeries.holtWeights(8)
      def comb(ws: Seq[Long]): String = ws.zipWithIndex.map {
        case (wj, j) =>
          s"((l$j * $wj) - (((l$j * $wj) % 65536 + 65536) % 65536))" +
            " // 65536"
      }.mkString(" + ")
      def fd(num: String, den: String): String =
        s"""CASE WHEN ($den) = 0 THEN NULL
            ELSE CAST((($num) - (((($num) % ($den)) + ($den))
              % ($den))) // ($den) AS BIGINT) END"""
      """WITH p AS (SELECT user_id, event_id,
                           date_trunc('second', ts) AS ts_sec,
                           CAST(CAST(value AS DECIMAL(18,6)) * 1000000
                                AS BIGINT) AS v_micro
                    FROM events WHERE event_type = 'purchase'),
         lg AS (SELECT user_id, event_id, ts_sec, v_micro,
                """ +
        (0 to 7).map(k =>
          s"COALESCE(lag(v_micro, $k) OVER w, 0) AS l$k")
          .mkString(", ") +
        """ FROM p
           WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)),
         h AS (SELECT user_id, event_id, ts_sec, v_micro,
                """ + s"(${comb(wl)}) + (${comb(wb)}) AS f" +
        """ FROM lg),
         e AS (SELECT f, v_micro AS cur,
                      lead(v_micro, 1) OVER (PARTITION BY user_id
                        ORDER BY ts_sec, event_id) AS nxt
               FROM h),
         g AS (SELECT CAST(f AS HUGEINT) AS f,
                      CAST(cur AS HUGEINT) AS cur,
                      CAST(nxt AS HUGEINT) AS nxt
               FROM e WHERE nxt IS NOT NULL),
         s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                      sum(abs(f - nxt)) AS ae,
                      sum(abs(cur - nxt)) AS nae,
                      sum(CASE WHEN abs(f) + abs(nxt) > 0
                          THEN CAST(1 AS HUGEINT) ELSE 0 END) AS ns,
                      sum(CASE WHEN abs(f) + abs(nxt) > 0
                          THEN (2000 * abs(f - nxt))
                            // (abs(f) + abs(nxt))
                          ELSE 0 END) AS st
               FROM g)
         SELECT CAST(n AS BIGINT) AS n_eval,
                """ + s"${fd("ae", "n")} AS mae_micro, " +
        s"${fd("nae", "n")} AS naive_mae_micro, " +
        s"${fd("st", "ns")} AS smape_permille, " +
        s"${fd("1000 * (nae - ae)", "nae")} AS skill_permille" +
        " FROM s"
    },

    // trailing-20 z-score: decimal-exact frame sums, identical double
    // division/sqrt, epsilon-rounded like Det.avg2
    "timeseries_anomaly" ->
      """WITH p AS (SELECT user_id, event_id,
                           date_trunc('second', ts) AS ts_sec, value
                    FROM events WHERE event_type = 'purchase'),
         f AS (SELECT user_id, event_id, ts_sec, value,
                 count(value) OVER w AS n,
                 CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w
                   AS DOUBLE) AS sx,
                 CAST(SUM(CAST(value * value AS DECIMAL(18,4))) OVER w
                   AS DOUBLE) AS sxx
               FROM p WINDOW w AS (PARTITION BY user_id
                 ORDER BY ts_sec, event_id
                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
         g AS (SELECT *, sx / n AS mean,
                      (sxx - sx * sx / n) / (n - 1) AS variance
               FROM f WHERE n >= 5),
         z AS (SELECT user_id, event_id, ts_sec, value,
                 ROUND((value - mean) / sqrt(variance) + 1e-9, 4) AS z
               FROM g WHERE variance > 0)
         SELECT user_id, event_id, ts_sec, value, z FROM z
         WHERE abs(z) >= 2 ORDER BY user_id, ts_sec, event_id""",

    "events_funnel_detect" ->
      s"""WITH ev AS (SELECT user_id, event_type,
                            epoch_us(ts) // 1000000 AS sec FROM events),
         v AS (SELECT user_id, min(sec) AS view_sec FROM ev
               WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT ev.user_id AS user_id, v.view_sec,
                      min(sec) AS click_sec
               FROM ev JOIN v ON ev.user_id = v.user_id
               WHERE event_type = 'click' AND sec >= view_sec
                 AND sec <= view_sec + ${graft.ops.TimeSeries.FunnelWindowSec}
               GROUP BY ev.user_id, v.view_sec),
         p AS (SELECT ev.user_id AS user_id, c.view_sec, c.click_sec,
                      min(sec) AS purchase_sec
               FROM ev JOIN c ON ev.user_id = c.user_id
               WHERE event_type = 'purchase' AND sec >= click_sec
                 AND sec <= click_sec + ${graft.ops.TimeSeries.FunnelWindowSec}
               GROUP BY ev.user_id, c.view_sec, c.click_sec)
         SELECT user_id, view_sec, click_sec, purchase_sec FROM p
         ORDER BY user_id""",

    // replays TimeSeries.eventsFunnelLatency: first view → first
    // strictly-later purchase, lower-median + nearest-rank p90 of the
    // exact integer latency seconds
    "events_funnel_latency" ->
      """WITH ev AS (SELECT user_id, event_type,
                            epoch_us(ts) // 1000000 AS sec FROM events),
         fv AS (SELECT user_id, min(sec) AS v_sec FROM ev
                WHERE event_type = 'view' GROUP BY user_id),
         fp AS (SELECT ev.user_id, fv.v_sec, min(sec) AS p_sec
                FROM ev JOIN fv ON ev.user_id = fv.user_id
                WHERE event_type = 'purchase' AND sec > v_sec
                GROUP BY ev.user_id, fv.v_sec),
         lat AS (SELECT p_sec - v_sec AS lat,
                        row_number() OVER (ORDER BY p_sec - v_sec) AS rn,
                        count(*) OVER () AS n
                 FROM fp)
         SELECT CAST(max(n) AS BIGINT) AS n_converted,
                CAST(max(CASE WHEN rn = (n + 1) // 2 THEN lat END)
                  AS BIGINT) AS median_s,
                CAST(max(CASE WHEN rn = (9 * (n - 1)) // 10 + 1 THEN lat
                  END) AS BIGINT) AS p90_s
         FROM lat""",

    // replays TimeSeries.eventsPatternMatch: per-user journey string
    // in the (ts_sec, event_id) total order, regex conversion test
    "events_pattern_match" ->
      """WITH ev AS (SELECT user_id,
                            date_trunc('second', ts) AS ts_sec,
                            event_id,
                            upper(substr(event_type, 1, 1)) AS ch
                     FROM events),
         j AS (SELECT user_id, count(*) AS n_events,
                      string_agg(ch, ''
                        ORDER BY ts_sec, event_id) AS journey
               FROM ev GROUP BY user_id)
         SELECT user_id, n_events, journey,
                regexp_matches(journey, 'V.*C.*P') AS converted,
                CAST(length(journey)
                  - length(replace(journey, 'P', '')) AS INT)
                  AS n_purchases
         FROM j ORDER BY user_id""",

    // replays TimeSeries.eventsJourneyTopk: the same journey build,
    // censused by 8-step prefix with full-journey conversion
    "events_journey_topk" ->
      s"""WITH ev AS (SELECT user_id,
                            date_trunc('second', ts) AS ts_sec,
                            event_id,
                            upper(substr(event_type, 1, 1)) AS ch
                     FROM events),
         j AS (SELECT user_id,
                      string_agg(ch, ''
                        ORDER BY ts_sec, event_id) AS journey
               FROM ev GROUP BY user_id),
         p AS (SELECT substr(journey, 1,
                        ${graft.ops.TimeSeries.JourneyPrefixLen})
                        AS prefix,
                      regexp_matches(journey, 'V.*C.*P') AS conv
               FROM j)
         SELECT prefix, CAST(count(*) AS BIGINT) AS n_users,
                CAST(SUM(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_converted
         FROM p GROUP BY prefix
         ORDER BY n_users DESC, prefix LIMIT 20""",

    // replays TimeSeries.eventsRfmSegment: ntile(4) over the same
    // deterministic total orders; recency anchored at the corpus's
    // last purchase date
    "events_rfm_segment" ->
      """WITH per AS (SELECT user_id,
                             max(CAST(ts AS DATE)) AS last_d,
                             count(*) AS frequency,
                             CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100
                               AS BIGINT) AS spend_c
                      FROM events WHERE event_type = 'purchase'
                      GROUP BY user_id),
         ref AS (SELECT max(last_d) AS ref_d FROM per),
         base AS (SELECT user_id,
                         CAST(date_diff('day', last_d, ref_d) AS INT)
                           AS recency_days,
                         frequency, spend_c
                  FROM per, ref),
         q AS (SELECT user_id, recency_days, frequency, spend_c,
                      CAST(ntile(4) OVER (
                        ORDER BY recency_days, user_id) AS INT) AS r_q,
                      CAST(ntile(4) OVER (
                        ORDER BY frequency DESC, user_id) AS INT) AS f_q,
                      CAST(ntile(4) OVER (
                        ORDER BY spend_c DESC, user_id) AS INT) AS m_q
               FROM base)
         SELECT user_id, recency_days, frequency, spend_c, r_q, f_q,
                m_q, CAST(r_q * 100 + f_q * 10 + m_q AS INT) AS rfm_code
         FROM q ORDER BY user_id""",

    // replays TimeSeries.timeseriesXcorr: zero-filled common spine,
    // exact integer moment sums per lag, double Pearson formula
    "timeseries_xcorr" ->
      """WITH counts AS (SELECT (epoch_us(ts) // 1000000) // 900 AS b,
                      SUM(CASE WHEN event_type = 'purchase'
                          THEN 1 ELSE 0 END) AS x,
                      SUM(CASE WHEN event_type = 'click'
                          THEN 1 ELSE 0 END) AS y
               FROM events
               WHERE event_type IN ('purchase', 'click')
               GROUP BY 1),
         bounds AS (SELECT min(b) AS b0, max(b) AS b1 FROM counts),
         spine AS (SELECT s.b, COALESCE(c.x, 0) AS x,
                          COALESCE(c.y, 0) AS y
                   FROM (SELECT unnest(generate_series(b0, b1)) AS b
                         FROM bounds) s
                   LEFT JOIN counts c ON c.b = s.b),
         lags AS (SELECT unnest(generate_series(-3, 3)) AS lag),
         pairs AS (SELECT l.lag, a.x, c.y AS yl
                   FROM spine a CROSS JOIN lags l
                   JOIN spine c ON c.b = a.b + l.lag),
         m AS (SELECT lag, count(*) AS n,
                      CAST(SUM(x) AS BIGINT) AS sx,
                      CAST(SUM(yl) AS BIGINT) AS sy,
                      CAST(SUM(x * yl) AS BIGINT) AS sxy,
                      CAST(SUM(x * x) AS BIGINT) AS sxx,
                      CAST(SUM(yl * yl) AS BIGINT) AS syy
               FROM pairs GROUP BY lag)
         SELECT lag, n,
                ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                  / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                     * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
                  AS r
         FROM m ORDER BY lag""",

    "timeseries_interpolate" ->
      """WITH agg AS (SELECT (epoch_us(ts) // 1000000) // 900
                        AS bucket_id,
                      count(*) AS n_events,
                      CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100
                        AS BIGINT) AS val_c
               FROM events WHERE event_type = 'purchase'
               GROUP BY 1),
         bounds AS (SELECT min(bucket_id) AS b0, max(bucket_id) AS b1
                    FROM agg),
         spine AS (SELECT unnest(generate_series(b0, b1)) AS bucket_id
                   FROM bounds),
         j AS (SELECT s.bucket_id,
                      COALESCE(a.n_events, 0) AS n_events, a.val_c,
                      last_value(a.val_c IGNORE NULLS) OVER wp AS pv,
                      last_value(CASE WHEN a.val_c IS NOT NULL
                          THEN s.bucket_id END IGNORE NULLS)
                        OVER wp AS pt,
                      first_value(a.val_c IGNORE NULLS) OVER wn AS nv,
                      first_value(CASE WHEN a.val_c IS NOT NULL
                          THEN s.bucket_id END IGNORE NULLS)
                        OVER wn AS nt
               FROM spine s
               LEFT JOIN agg a ON a.bucket_id = s.bucket_id
               WINDOW wp AS (ORDER BY s.bucket_id ROWS BETWEEN
                   UNBOUNDED PRECEDING AND CURRENT ROW),
                 wn AS (ORDER BY s.bucket_id ROWS BETWEEN
                   CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT make_timestamp(bucket_id * 900 * 1000000) AS bucket_ts,
                n_events,
                CASE WHEN val_c IS NOT NULL THEN val_c
                     WHEN pv IS NULL THEN nv
                     WHEN nv IS NULL THEN pv
                     ELSE pv + CAST(((nv - pv) * (bucket_id - pt)
                       - (((nv - pv) * (bucket_id - pt)) % (nt - pt)
                          + (nt - pt)) % (nt - pt))
                       // (nt - pt) AS BIGINT)
                END AS value_interp_c
         FROM j ORDER BY bucket_ts""",

    "timeseries_gapfill" ->
      s"""WITH ev AS (SELECT make_timestamp(
                        ((epoch_us(ts) // 1000000) // 900 * 900)
                          * 1000000) AS bucket_ts, value
                     FROM events WHERE event_type = 'purchase'),
         agg AS (SELECT bucket_ts, count(*) AS n_events,
                        ${sqlSum2("value")} AS sum_value
                 FROM ev GROUP BY bucket_ts),
         bounds AS (SELECT min(bucket_ts) AS b0, max(bucket_ts) AS b1
                    FROM agg),
         spine AS (SELECT unnest(generate_series(b0, b1,
                     INTERVAL 15 MINUTE)) AS bucket_ts FROM bounds)
         SELECT s.bucket_ts AS bucket_ts,
                COALESCE(a.n_events, 0) AS n_events,
                COALESCE(a.sum_value, 0.0) AS sum_value,
                last_value(a.sum_value IGNORE NULLS) OVER (
                  ORDER BY s.bucket_ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS ffill_value
         FROM spine s LEFT JOIN agg a ON a.bucket_ts = s.bucket_ts
         ORDER BY bucket_ts""",

    // the stream runs end-to-end in Spark (file source → checkpointed
    // sink); the oracle checks the committed output equals the batch
    // semantics of the same transform
    "stream_sink_parquet" ->
      """SELECT event_id, user_id, value FROM events
         WHERE event_type = 'purchase' ORDER BY event_id""",

    "stream_graph_degree" ->
      """SELECT user_id, count(*) AS out_degree,
                CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
                  AS sum_value
         FROM events GROUP BY user_id ORDER BY user_id""",

    // the parquet-upsert-log sibling maintains the same state; the
    // committed view equals the batch degree
    "stream_degree_parquet" ->
      """SELECT user_id, count(*) AS out_degree,
                CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
                  AS sum_value
         FROM events GROUP BY user_id ORDER BY user_id""",

    // replays streamRankIncremental's derived view over the maintained
    // (user, type) edge counts: damped one-hop bipartite rank in exact
    // micro-units (// == Spark div on positive operands)
    "stream_rank_incremental" ->
      """WITH s AS (SELECT user_id, event_type, count(*) AS n
                    FROM events GROUP BY 1, 2),
          t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS te
                FROM s GROUP BY 1)
          SELECT user_id,
                 CAST(150000 + SUM((850000 * n) // te) AS BIGINT)
                   AS rank_micro
          FROM s JOIN t USING (event_type)
          GROUP BY user_id ORDER BY user_id""",

    // replays Streaming.streamComponentsIncremental's final state:
    // exact transitive closure over the user↔clock-hour co-activity
    // bipartite graph, min-reachable-id label per user
    "stream_components_incremental" ->
      s"""WITH RECURSIVE e AS (
           SELECT DISTINCT user_id AS u,
                  ${graft.ops.Streaming.HourOff}
                    + CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
                      // 3600 AS h
           FROM events),
         und AS (SELECT u AS a, h AS b FROM e
                 UNION ALL SELECT h, u FROM e),
         reach(src, dst) AS (
           SELECT u, u FROM (SELECT DISTINCT u FROM e)
           UNION
           SELECT r.src, n.b FROM reach r JOIN und n ON n.a = r.dst
         )
         SELECT src AS user_id, min(dst) AS component
         FROM reach GROUP BY src ORDER BY user_id""",

    // the join runs as a true watermarked stream-stream join in Spark
    // (two file-source streams, append mode); once all input is
    // processed the inner join's emitted rows equal the batch interval
    // join, which is what this checks
    "stream_stream_join" -> ssJoinSql,

    // same watermarked join, committed through the checkpointed
    // parquet file sink — rows must still equal the batch join
    "stream_join_parquet" -> ssJoinSql,

    // replays MultimodalOps.multimodalSizeStats: UTF-8 octet length
    // replays the Spark text→binary cast; frames = ceil(len/32)
    // replays MultimodalOps.multimodalPayloadEntropy — per-blob symbol
    // histogram, per-term micro-rounded log2 entropy (the stats_entropy
    // idiom), rail flags
    "multimodal_payload_entropy" ->
      """WITH cells AS (
           SELECT doc_id AS media_id,
                  string_split(source, '_')[1] AS kind,
                  unnest(list_transform(range(1, len(text) + 1),
                    i -> substr(text, i, 1))) AS sym
           FROM documents),
         c AS (SELECT media_id, kind, sym, count(*) AS c
               FROM cells GROUP BY 1, 2, 3),
         n AS (SELECT media_id, kind, c,
                      CAST(sum(c) OVER (PARTITION BY media_id)
                        AS BIGINT) AS n
               FROM c),
         t AS (SELECT media_id, kind, n,
                      CAST(round(-(c / n) * log2(c / n) * 1000000.0)
                        AS BIGINT) AS t_micro
               FROM n)
         SELECT media_id, kind, CAST(max(n) AS BIGINT) AS n_bytes,
                count(*) AS n_symbols,
                CAST(sum(t_micro) AS BIGINT) AS entropy_bits_micro,
                CAST(sum(t_micro) AS BIGINT) < 500000 AS flag_low,
                CAST(sum(t_micro) AS BIGINT) > 7900000 AS flag_high
         FROM t GROUP BY 1, 2 ORDER BY media_id""",

    "multimodal_size_stats" ->
      s"""SELECT string_split(source, '_')[1] AS kind,
                count(*) AS n_media,
                CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
                MIN(octet_length(encode(text))) AS min_bytes,
                MAX(octet_length(encode(text))) AS max_bytes,
                CAST(SUM((octet_length(encode(text)) + ${ops.MultimodalOps.FrameBytes - 1})
                         // ${ops.MultimodalOps.FrameBytes}) AS BIGINT)
                  AS total_frames
         FROM documents GROUP BY 1 ORDER BY kind""",

    // replays MultimodalOps.multimodalShardPlan: offset-addressed
    // shard assignment from a per-kind exclusive running byte sum
    "multimodal_shard_plan" ->
      s"""WITH b AS (SELECT doc_id AS media_id,
                            string_split(source, '_')[1] AS kind,
                            CAST(octet_length(encode(text)) AS BIGINT)
                              AS byte_len
                     FROM documents),
         o AS (SELECT media_id, kind, byte_len,
                      COALESCE(CAST(sum(byte_len) OVER
                        (PARTITION BY kind ORDER BY media_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS BIGINT), 0) AS off
               FROM b)
         SELECT kind,
                CAST(off // ${ops.MultimodalOps.ShardBudgetBytes}
                  AS BIGINT) AS shard_id,
                count(*) AS n_blobs,
                CAST(sum(byte_len) AS BIGINT) AS shard_bytes,
                min(media_id) AS first_id, max(media_id) AS last_id
         FROM o GROUP BY 1, 2 ORDER BY kind, shard_id""",

    "multimodal_join" ->
      """WITH e AS (SELECT vec_id, label,
                           CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         en AS (SELECT vec_id, label, v,
                       sqrt(list_sum(list_transform(range(1, 65),
                         i -> v[i] * v[i]))) AS nrm FROM e),
         p AS (SELECT v AS pv, nrm AS pnrm FROM en WHERE vec_id = 0)
         SELECT doc_id, source, n_chars, label,
                ROUND(list_sum(list_transform(range(1, 65),
                        i -> v[i] * pv[i])) / (nrm * pnrm), 4) AS cos_sim
         FROM documents JOIN en ON doc_id = en.vec_id CROSS JOIN p
         WHERE lang = 'en'
         ORDER BY doc_id""",

    // replays Mining.mineFrequentPairs: distinct baskets → basket cap →
    // a-priori item prune → within-order pair count. The cap/support
    // constants interpolate the Scala ones so the engines cannot drift.
    "mine_frequent_pairs" ->
      s"""WITH $BasketCtes
         SELECT a.p AS part_a, b.p AS part_b,
                count(*) AS pair_support
         FROM opf a JOIN opf b ON a.o = b.o AND a.p < b.p
         GROUP BY 1, 2 HAVING count(*) >= ${ops.Mining.MinSupport}
         ORDER BY pair_support DESC, part_a, part_b""",

    // replays Mining.mineAssocRules: both directions of each frequent
    // pair scored with integer-permille confidence and lift (floor
    // division — DuckDB // = Spark div on these positives)
    "mine_assoc_rules" ->
      s"""WITH $BasketCtes,
         isup AS (SELECT p, count(*) AS isup FROM opf GROUP BY p),
         pairs AS (SELECT a.p AS pa, b.p AS pb, count(*) AS sup
                   FROM opf a JOIN opf b ON a.o = b.o AND a.p < b.p
                   GROUP BY 1, 2
                   HAVING count(*) >= ${ops.Mining.MinSupport}),
         directed AS (SELECT pa AS antecedent, pb AS consequent, sup
                      FROM pairs
                      UNION ALL
                      SELECT pb, pa, sup FROM pairs),
         n AS (SELECT count(DISTINCT o) AS n_orders FROM opf)
         SELECT antecedent, consequent, sup,
                CAST((1000 * sup) // ia.isup AS BIGINT) AS conf_permille,
                CAST((1000 * sup * n.n_orders) // (ia.isup * ic.isup)
                  AS BIGINT) AS lift_permille
         FROM directed d
         JOIN isup ia ON ia.p = d.antecedent
         JOIN isup ic ON ic.p = d.consequent
         CROSS JOIN n
         ORDER BY lift_permille DESC, conf_permille DESC,
                  antecedent, consequent""",

    // replays Mining.mineSeqPairs: earliest-MaxSeqOrders cap, distinct
    // (customer, order, brand) baskets, the strict temporal pair join,
    // distinct-customer support
    "mine_seq_pairs" ->
      s"""WITH capped AS (
           SELECT o_orderkey, o_custkey, o_orderdate FROM (
             SELECT o_orderkey, o_custkey, o_orderdate,
                    row_number() OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey)
                      AS rn
             FROM orders)
           WHERE rn <= ${ops.Mining.MaxSeqOrders}),
         ob AS (SELECT DISTINCT o_custkey AS cust, o_orderkey AS ok,
                       o_orderdate AS od, p_brand AS brand
                FROM capped
                JOIN lineitem ON o_orderkey = l_orderkey
                JOIN part ON l_partkey = p_partkey),
         pairs AS (SELECT DISTINCT a.cust, a.brand AS brand_a,
                          b.brand AS brand_b
                   FROM ob a JOIN ob b ON a.cust = b.cust
                    AND (a.od < b.od OR (a.od = b.od AND a.ok < b.ok))
                    AND a.brand <> b.brand)
         SELECT brand_a, brand_b, count(*) AS seq_support
         FROM pairs GROUP BY 1, 2
         HAVING count(*) >= ${ops.Mining.MinSupport}
         ORDER BY seq_support DESC, brand_a, brand_b""",

    // replays Mining.mineSeqTriples: the same capped event frame,
    // 3-leg ordered self-join, customer-distinct support, top-20
    "mine_seq_triples" ->
      s"""WITH capped AS (
           SELECT o_orderkey, o_custkey, o_orderdate FROM (
             SELECT o_orderkey, o_custkey, o_orderdate,
                    row_number() OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey)
                      AS rn
             FROM orders)
           WHERE rn <= ${ops.Mining.MaxSeqOrders}),
         ob AS (SELECT DISTINCT o_custkey AS cust, o_orderkey AS ok,
                       o_orderdate AS od, p_brand AS brand
                FROM capped
                JOIN lineitem ON o_orderkey = l_orderkey
                JOIN part ON l_partkey = p_partkey),
         tri AS (SELECT DISTINCT a.cust, a.brand AS brand_a,
                        b.brand AS brand_b, c.brand AS brand_c
                 FROM ob a
                 JOIN ob b ON a.cust = b.cust
                  AND (a.od < b.od OR (a.od = b.od AND a.ok < b.ok))
                 JOIN ob c ON b.cust = c.cust
                  AND (b.od < c.od OR (b.od = c.od AND b.ok < c.ok))
                 WHERE a.brand <> b.brand AND b.brand <> c.brand
                   AND a.brand <> c.brand)
         SELECT brand_a, brand_b, brand_c, count(*) AS seq_support
         FROM tri GROUP BY 1, 2, 3
         ORDER BY seq_support DESC, brand_a, brand_b, brand_c
         LIMIT 20""",

    // checks Mining.querySkyline via the INDEPENDENT dominance
    // definition (NOT EXISTS a same-brand dominator) — different
    // algorithm, same set, the strongest kind of oracle
    // replays Mining.mineOutlierMad — both medians are the LOWER
    // median (rank (n+1)//2 of the sorted multiset): tie-order
    // independent, no interpolation float anywhere
    "mine_outlier_mad" ->
      s"""WITH px AS (SELECT p_brand AS brand,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
               FROM lineitem JOIN part ON l_partkey = p_partkey),
          r1 AS (SELECT brand, cents,
                        row_number() OVER (PARTITION BY brand
                                           ORDER BY cents) AS rn,
                        count(*) OVER (PARTITION BY brand) AS n
                 FROM px),
          med AS (SELECT brand, cents AS med FROM r1
                  WHERE rn = (n + 1) // 2),
          dev AS (SELECT px.brand, cents, med,
                         abs(cents - med) AS d
                  FROM px JOIN med USING (brand)),
          r2 AS (SELECT brand, d,
                        row_number() OVER (PARTITION BY brand
                                           ORDER BY d) AS rn,
                        count(*) OVER (PARTITION BY brand) AS n
                 FROM dev),
          mad AS (SELECT brand, d AS mad FROM r2
                  WHERE rn = (n + 1) // 2)
          SELECT dev.brand, count(*) AS n,
                 CAST(min(med) AS BIGINT) AS median_cents,
                 CAST(min(mad.mad) AS BIGINT) AS mad_cents,
                 CAST(SUM(CASE WHEN d > ${graft.ops.Mining.MadK} * mad.mad
                               THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_outliers
          FROM dev JOIN mad USING (brand)
          GROUP BY dev.brand ORDER BY dev.brand""",

    "query_skyline" ->
      """SELECT p_brand, p_partkey, p_retailprice, p_size
         FROM part p
         WHERE NOT EXISTS (
           SELECT 1 FROM part q
           WHERE q.p_brand = p.p_brand
             AND q.p_retailprice <= p.p_retailprice
             AND q.p_size >= p.p_size
             AND (q.p_retailprice < p.p_retailprice
                  OR q.p_size > p.p_size))
         ORDER BY p_brand, p_retailprice, p_partkey""",

    // the Bloom probe is a pure pre-filter with no false negatives and
    // an exact semi-join behind it, so the result must equal the plain
    // semi-join — which is exactly what the oracle runs
    "join_bloom_filtered" ->
      """SELECT l_partkey, count(*) AS n_lines,
                CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(1 - l_discount AS DECIMAL(12,2))), 2) AS DOUBLE)
                  AS revenue
         FROM lineitem
         WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 50)
         GROUP BY 1 ORDER BY l_partkey""",

    // replays Mining.tableMergeScd1: the deterministic U/D/I change
    // feed rebuilt from the dimension, merged via one full-outer join
    "table_merge_scd1" ->
      """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
         changes AS (
           SELECT c_custkey AS k, c_name AS n,
                  CAST(CAST(c_acctbal AS DECIMAL(12,2)) + 100 AS DOUBLE)
                    AS b, 'U' AS op
           FROM base WHERE c_custkey % 10 = 3
           UNION ALL
           SELECT c_custkey, c_name, c_acctbal, 'D'
           FROM base WHERE c_custkey % 10 = 7
           UNION ALL
           SELECT c_custkey + 9000000, 'new-' || c_name, c_acctbal, 'I'
           FROM base WHERE c_custkey % 10 = 1)
         SELECT COALESCE(base.c_custkey, ch.k) AS custkey,
                COALESCE(ch.n, base.c_name) AS name,
                COALESCE(ch.b, base.c_acctbal) AS acctbal,
                CASE WHEN ch.op IS NULL THEN 'kept'
                     WHEN ch.op = 'U' THEN 'updated'
                     ELSE 'inserted' END AS action
         FROM base FULL OUTER JOIN changes ch ON base.c_custkey = ch.k
         WHERE COALESCE(ch.op, '') <> 'D'
         ORDER BY custkey""",

    "graph_eccentricity" ->
      eccentricitySql(3, Seq(3000000000001L, 4000000000001L,
        2000000000001L, 6000000000001L)),

    "graph_scc" -> sccSql,
    "graph_condensation" -> condensationSql,
    "graph_condensation_layers" ->
      condensationLayersSql(ops.GraphOps.CondLayerRounds),
    "graph_msf_boruvka" -> msfSql,

    // replays TimeSeries.timeseriesSeasonalDow; DuckDB dayofweek is
    // 0-based Sunday, Spark's is 1-based — hence the +1
    // U-shaped multi-touch attribution: exact permille credits by
    // position, remainder of the middle floor-split to the FIRST touch
    "events_attribution_position" ->
      """WITH ev AS (SELECT user_id, event_id,
                            date_trunc('second', ts) AS ts_sec,
                            event_type
                     FROM events),
         conv AS (SELECT user_id, event_id AS conv_id,
                         ts_sec AS conv_ts
                  FROM ev WHERE event_type = 'purchase'),
         touch AS (SELECT user_id, event_id AS touch_id,
                          ts_sec AS touch_ts,
                          event_type AS touch_type
                   FROM ev WHERE event_type IN ('click', 'view')),
         j AS (SELECT conv_id, touch_id, touch_ts, touch_type,
                      row_number() OVER (PARTITION BY conv_id
                        ORDER BY touch_ts, touch_id) AS pos,
                      count(*) OVER (PARTITION BY conv_id) AS k
               FROM conv JOIN touch USING (user_id)
               WHERE touch_ts < conv_ts
                 AND touch_ts >= conv_ts - INTERVAL 7 DAY)
         SELECT conv_id, touch_id, CAST(pos AS BIGINT) AS pos,
                CAST(k AS BIGINT) AS k, touch_type,
                CAST(CASE WHEN k = 1 THEN 1000
                     WHEN k = 2 THEN 500
                     WHEN pos = k THEN 400
                     WHEN pos = 1
                       THEN 400 + 200 - (200 // (k - 2)) * (k - 2)
                     ELSE 200 // (k - 2) END AS BIGINT)
                  AS credit_permille
         FROM j ORDER BY conv_id, pos""",

    // STL-style exact split at 7x scale: centered 7-day window sum
    // (full windows only), d7 = 7x - trend, dow floor-mean seasonal
    "timeseries_stl_decompose" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                               CAST(SUM(CAST(round(value * 100) AS BIGINT))
                                 AS BIGINT) AS x
                        FROM events GROUP BY 1, 2),
         g AS (SELECT event_type, day, x,
                      CAST(dayofweek(day) + 1 AS BIGINT) AS dow,
                      count(*) OVER w AS w_n,
                      CAST(SUM(x) OVER w AS BIGINT) AS trend7
               FROM daily
               WINDOW w AS (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         t AS (SELECT event_type, day, dow, x, trend7,
                      7 * x - trend7 AS d7
               FROM g WHERE w_n = 7),
         s AS (SELECT event_type, dow,
                      CAST(SUM(d7) AS BIGINT) // count(*) AS seas7
               FROM t GROUP BY 1, 2)
         SELECT t.event_type, t.day, t.x, t.trend7, t.d7, s.seas7,
                t.d7 - s.seas7 AS resid7
         FROM t JOIN s ON t.event_type = s.event_type AND t.dow = s.dow
         ORDER BY t.event_type, t.day""",

    // seasonally-adjusted anomaly: exact cross-multiplied |z| >= 2 on
    // the STL residuals — (n*r - m)^2 >= 4*(n*s2 - m^2), HUGEINT
    // log2-bucketed price histogram per order status: highest power
    // of two <= cents via bit length (no float log)
    "profile_price_histogram" ->
      """WITH cells AS (SELECT o_orderstatus,
                 CAST(1 << (length(bin(
                   CAST(round(o_totalprice * 100) AS BIGINT))) - 1)
                   AS BIGINT) AS bucket_lo,
                 CAST(count(*) AS BIGINT) AS n
               FROM orders GROUP BY 1, 2),
         tot AS (SELECT o_orderstatus, CAST(SUM(n) AS BIGINT) AS t
                 FROM cells GROUP BY 1)
         SELECT c.o_orderstatus, c.bucket_lo, c.n,
                (1000 * c.n) // t.t AS share_permille
         FROM cells c JOIN tot t USING (o_orderstatus)
         ORDER BY 1, 2""",

    // Poisson dispersion test: D = (n*S2 - C^2)/C exact rational,
    // the |D-(n-1)| >= 2*sqrt(2(n-1)) call squared to pure integers
    "stats_poisson_dispersion" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(count(*) AS BIGINT) AS c
               FROM events GROUP BY 1, 2),
         m AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
                 CAST(SUM(CAST(c AS HUGEINT)) AS HUGEINT) AS cc,
                 CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
               FROM daily GROUP BY 1)
         SELECT event_type, CAST(n AS BIGINT) AS n_days,
                CAST(cc AS BIGINT) AS n_events,
                CAST((1000 * cc) // n AS BIGINT) AS mean_milli,
                CAST((1000 * (n * s2 - cc * cc)) // cc AS BIGINT)
                  AS d_milli,
                ((n * s2 - cc * cc) > (n - 1) * cc)
                  AS is_overdispersed,
                (((n * s2 - cc * cc) - (n - 1) * cc)
                 * ((n * s2 - cc * cc) - (n - 1) * cc)
                 >= 8 * (n - 1) * cc * cc) AS is_significant
         FROM m ORDER BY event_type""",

    // new vs returning split per day off one min-first-day agg
    "events_new_vs_returning" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                     FROM events),
         fd AS (SELECT user_id, MIN(day) AS fday FROM ud GROUP BY 1),
         c AS (SELECT ud.day, CAST(count(*) AS BIGINT) AS n_active,
                 CAST(SUM(CASE WHEN ud.day = fd.fday THEN 1 ELSE 0
                          END) AS BIGINT) AS n_new
               FROM ud JOIN fd USING (user_id) GROUP BY 1)
         SELECT day, n_active, n_new,
                n_active - n_new AS n_returning,
                (1000 * n_new) // n_active AS new_permille
         FROM c ORDER BY day""",

    // session-depth histogram over the shared 30-minute sessionization
    "events_session_depth_histogram" ->
      """WITH ev AS (SELECT user_id, event_id,
                            date_trunc('second', ts) AS ts_sec
                     FROM events),
         flg AS (SELECT user_id, event_id, ts_sec,
                   CASE WHEN lag(ts_sec) OVER w IS NULL
                          OR ts_sec - lag(ts_sec) OVER w
                             > INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_s
                 FROM ev WINDOW w AS (PARTITION BY user_id
                                      ORDER BY ts_sec, event_id)),
         s AS (SELECT user_id, ts_sec,
                 CAST(SUM(new_s) OVER (PARTITION BY user_id
                   ORDER BY ts_sec, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
               FROM flg),
         ses AS (SELECT user_id, session_id,
                   CAST(count(*) AS BIGINT) AS n_events
                 FROM s GROUP BY 1, 2),
         h AS (SELECT n_events, CAST(count(*) AS BIGINT) AS n_sessions
               FROM ses GROUP BY 1),
         t AS (SELECT CAST(SUM(n_sessions) AS BIGINT) AS tot FROM h)
         SELECT n_events, n_sessions,
                (1000 * n_sessions) // t.tot AS share_permille
         FROM h CROSS JOIN t ORDER BY n_events""",

    // repeat-purchase rate per first-purchase week cohort
    "events_repeat_purchase_rate" ->
      """WITH u AS (SELECT user_id,
                 CAST(MIN(epoch(date_trunc('second', ts))) AS BIGINT)
                   AS f,
                 CAST(count(*) AS BIGINT) AS np
               FROM events WHERE event_type = 'purchase' GROUP BY 1),
         c AS (SELECT f // 604800 AS cohort_week,
                 CAST(count(*) AS BIGINT) AS n_buyers,
                 CAST(SUM(CASE WHEN np >= 2 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_repeat
               FROM u GROUP BY 1)
         SELECT cohort_week, n_buyers, n_repeat,
                (1000 * n_repeat) // n_buyers AS repeat_permille
         FROM c ORDER BY cohort_week""",

    // Wald-Wolfowitz runs test per event-type series: zero deltas
    // dropped, R = 1 + sign changes, z^2 exact via the
    // S = n*R - 2ab - n identity; degenerate series -> NULL
    "stats_runs_test" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(SUM(CAST(round(value * 100) AS BIGINT))
                   AS BIGINT) AS x
               FROM events GROUP BY 1, 2),
         d AS (SELECT event_type, day,
                 x - lag(x) OVER (PARTITION BY event_type
                                  ORDER BY day) AS d
               FROM daily),
         sg AS (SELECT event_type, day,
                  CASE WHEN d > 0 THEN 1 ELSE -1 END AS sgn
                FROM d WHERE d IS NOT NULL AND d <> 0),
         l AS (SELECT event_type, sgn,
                 lag(sgn) OVER (PARTITION BY event_type
                                ORDER BY day) AS prev
               FROM sg),
         r AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_up,
                 CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_down,
                 CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <> sgn
                          THEN 1 ELSE 0 END) + 1 AS BIGINT) AS runs
               FROM l GROUP BY 1),
         -- HUGEINT headroom (Spark: DECIMAL(38,0)) — S^2*(n-1) with
         -- |S| ~ n^2/2 passes int64 near n ~ 2500 days; BIGINT here
         -- would raise Out of Range while Spark wraps, diverging the
         -- failure modes (statsTtestWelch convention)
         rh AS (SELECT event_type, n, n_up, n_down, runs,
                  CAST(n AS HUGEINT) AS nH,
                  CAST(n_up AS HUGEINT) AS upH,
                  CAST(n_down AS HUGEINT) AS dnH,
                  CAST(runs AS HUGEINT) AS runsH
                FROM r)
         SELECT event_type, n, n_up, n_down, runs,
                CASE WHEN n_up = 0 OR n_down = 0
                       OR 2 * upH * dnH * (2 * upH * dnH - nH)
                          <= 0 THEN NULL
                     ELSE CAST((1000
                       * (nH * runsH - 2 * upH * dnH - nH)
                       * (nH * runsH - 2 * upH * dnH - nH) * (nH - 1))
                       // (2 * upH * dnH
                          * (2 * upH * dnH - nH)) AS BIGINT)
                END AS z2_milli,
                CASE WHEN n_up = 0 OR n_down = 0
                       OR 2 * upH * dnH * (2 * upH * dnH - nH)
                          <= 0 THEN NULL
                     ELSE (nH * runsH - 2 * upH * dnH - nH)
                       * (nH * runsH - 2 * upH * dnH - nH) * (nH - 1)
                       >= 4 * (2 * upH * dnH
                               * (2 * upH * dnH - nH))
                END AS is_significant
         FROM rh ORDER BY event_type""",

    // bounce-rate census per session-start day over the SAME
    // 30-minute sessionization as window_sessionize
    "events_bounce_rate" ->
      """WITH ev AS (SELECT user_id, event_id,
                            date_trunc('second', ts) AS ts_sec
                     FROM events),
         flg AS (SELECT user_id, event_id, ts_sec,
                   CASE WHEN lag(ts_sec) OVER w IS NULL
                          OR ts_sec - lag(ts_sec) OVER w
                             > INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_s
                 FROM ev WINDOW w AS (PARTITION BY user_id
                                      ORDER BY ts_sec, event_id)),
         s AS (SELECT user_id, ts_sec,
                 CAST(SUM(new_s) OVER (PARTITION BY user_id
                   ORDER BY ts_sec, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
               FROM flg),
         ses AS (SELECT user_id, session_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   min(ts_sec) AS session_start
                 FROM s GROUP BY 1, 2),
         byday AS (SELECT CAST(session_start AS DATE) AS day,
                     CAST(count(*) AS BIGINT) AS n_sessions,
                     CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0
                              END) AS BIGINT) AS n_bounce
                   FROM ses GROUP BY 1)
         SELECT day, n_sessions, n_bounce,
                (1000 * n_bounce) // n_sessions AS bounce_permille
         FROM byday ORDER BY day""",

    // hourly activity profile: exact permille share per (type, hour)
    // cell; peak = modal hour with earliest-hour tie-break
    "events_hourly_profile" ->
      """WITH cells AS (SELECT event_type,
                 CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
                 CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY 1, 2),
         tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS t
                 FROM cells GROUP BY 1),
         pk AS (SELECT event_type, hr AS peak_hr FROM (
                  SELECT event_type, hr, row_number() OVER (
                    PARTITION BY event_type ORDER BY n DESC, hr) AS r
                  FROM cells) WHERE r = 1)
         SELECT c.event_type, c.hr, c.n,
                (1000 * c.n) // t.t AS share_permille,
                (c.hr = pk.peak_hr) AS is_peak
         FROM cells c
         JOIN tot t USING (event_type)
         JOIN pk USING (event_type)
         ORDER BY 1, 2""",

    // 7/21-day SMA crossover census: 3*S7 > S21 integer compare,
    // crosses = relation flips vs the previous complete day
    "timeseries_sma_cross" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(SUM(CAST(round(value * 100) AS BIGINT))
                   AS BIGINT) AS x
               FROM events GROUP BY 1, 2),
         w AS (SELECT event_type, day,
                 count(*) OVER t21 AS n21,
                 CAST(SUM(x) OVER t7 AS BIGINT) AS s7,
                 CAST(SUM(x) OVER t21 AS BIGINT) AS s21
               FROM daily
               WINDOW t7 AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
               t21 AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)),
         f AS (SELECT event_type, day, (s7 * 3 > s21) AS above
               FROM w WHERE n21 = 21),
         l AS (SELECT event_type, above,
                 lag(above) OVER (PARTITION BY event_type
                                  ORDER BY day) AS prev
               FROM f)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
                CAST(SUM(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT)
                  AS days_above,
                CAST(SUM(CASE WHEN prev IS NOT NULL AND above
                              AND NOT prev THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_golden,
                CAST(SUM(CASE WHEN prev IS NOT NULL AND NOT above
                              AND prev THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_death
         FROM l GROUP BY 1 ORDER BY 1""",

    // 14-day SMA RSI per event-type daily-cents series: integer
    // permille, cross-multiplied overbought/oversold calls, NULL on a
    // flat window; the first day has no delta and the first 13 deltas
    // have no full history on either engine
    "timeseries_rsi" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(SUM(CAST(round(value * 100) AS BIGINT))
                   AS BIGINT) AS x
               FROM events GROUP BY 1, 2),
         d AS (SELECT event_type, day,
                 x - lag(x) OVER (PARTITION BY event_type
                                  ORDER BY day) AS d
               FROM daily),
         gl AS (SELECT event_type, day,
                  GREATEST(d, 0) AS g, GREATEST(-d, 0) AS l
                FROM d WHERE d IS NOT NULL),
         w AS (SELECT event_type, day,
                 count(*) OVER tw AS nw,
                 CAST(SUM(g) OVER tw AS BIGINT) AS gs,
                 CAST(SUM(l) OVER tw AS BIGINT) AS ls
               FROM gl WINDOW tw AS (PARTITION BY event_type
                 ORDER BY day
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT event_type, day,
                CASE WHEN gs + ls = 0 THEN NULL
                     ELSE (1000 * gs) // (gs + ls) END AS rsi_permille,
                CASE WHEN gs + ls = 0 THEN NULL
                     WHEN gs * 3 >= ls * 7 THEN 'overbought'
                     WHEN gs * 7 <= ls * 3 THEN 'oversold'
                     ELSE 'neutral' END AS state
         FROM w WHERE nw = 14
         ORDER BY event_type, day""",

    "timeseries_anomaly_seasonal" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                               CAST(SUM(CAST(round(value * 100) AS BIGINT))
                                 AS BIGINT) AS x
                        FROM events GROUP BY 1, 2),
         g AS (SELECT event_type, day, x,
                      CAST(dayofweek(day) + 1 AS BIGINT) AS dow,
                      count(*) OVER w AS w_n,
                      CAST(SUM(x) OVER w AS BIGINT) AS trend7
               FROM daily
               WINDOW w AS (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         t AS (SELECT event_type, day, dow, x, trend7,
                      7 * x - trend7 AS d7
               FROM g WHERE w_n = 7),
         s AS (SELECT event_type, dow,
                      CAST(SUM(d7) AS BIGINT) // count(*) AS seas7
               FROM t GROUP BY 1, 2),
         r AS (SELECT t.event_type, t.day, t.x,
                      t.d7 - s.seas7 AS resid7
               FROM t JOIN s ON t.event_type = s.event_type
                 AND t.dow = s.dow),
         mom AS (SELECT event_type,
                        CAST(count(*) AS HUGEINT) AS n,
                        CAST(SUM(CAST(resid7 AS HUGEINT)) AS HUGEINT)
                          AS m,
                        CAST(SUM(CAST(resid7 AS HUGEINT) * resid7)
                          AS HUGEINT) AS s2
                 FROM r GROUP BY 1)
         SELECT r.event_type, r.day, r.x, r.resid7,
                (n * r.resid7 - m) * (n * r.resid7 - m)
                  >= 4 * (n * s2 - m * m) AS is_anomaly
         FROM r JOIN mom ON r.event_type = mom.event_type
         ORDER BY r.event_type, r.day""",

    "timeseries_seasonal_dow" ->
      """WITH ev AS (SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
                            CAST(hour(ts) AS INT) AS hod,
                            CAST(round(value * 100) AS BIGINT) AS cents
                     FROM events),
         tot AS (SELECT count(*) AS n_total,
                        CAST(SUM(cents) AS BIGINT) AS sum_total FROM ev),
         b AS (SELECT 'dow' AS kind, dow AS bucket, count(*) AS n_events,
                      CAST(SUM(cents) AS BIGINT) AS sum_cents
               FROM ev GROUP BY 2
               UNION ALL
               SELECT 'hod', hod, count(*),
                      CAST(SUM(cents) AS BIGINT)
               FROM ev GROUP BY 2)
         SELECT kind, bucket, n_events, sum_cents,
                CAST((1000 * sum_cents * n_total)
                  // (sum_total * n_events) AS BIGINT) AS index_permille
         FROM b CROSS JOIN tot ORDER BY kind, bucket""",

    // replays TimeSeries.timeseriesCusum: per-day cent totals, the
    // cross-multiplied integer CUSUM S_t = n·prefix_t − t·total, and
    // the max-|S| changepoint with earliest-day tie-break
    "timeseries_cusum" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS x
              FROM events GROUP BY 1, 2),
         s AS (SELECT event_type, day,
                 CAST(row_number() OVER w AS BIGINT) AS t,
                 CAST(SUM(x) OVER w AS BIGINT) AS pre,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n,
                 CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT)
                   AS tot
               FROM daily
               WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         sc AS (SELECT event_type, day, n,
                       n * pre - t * tot AS sv FROM s),
         r AS (SELECT *, row_number() OVER (
                 PARTITION BY event_type ORDER BY abs(sv) DESC, day)
                 AS rn
               FROM sc)
         SELECT event_type, n AS n_days, day AS cp_day,
                CAST(abs(sv) AS BIGINT) AS cusum_stat,
                CASE WHEN sv < 0 THEN 'up' ELSE 'down' END AS direction
         FROM r WHERE rn = 1 ORDER BY event_type""",

    // rank-based Pettitt changepoint over the same daily grid: doubled
    // average ranks (2*rank + ties - 1), U_t = cum(R2) - t*(n+1),
    // argmax |U| over t < n — exact integers end to end
    "timeseries_pettitt" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS x
              FROM events GROUP BY 1, 2),
         rk AS (SELECT event_type, day,
                  CAST(2 * rank() OVER (PARTITION BY event_type
                         ORDER BY x)
                       + count(*) OVER (PARTITION BY event_type, x)
                       - 1 AS BIGINT) AS r2,
                  CAST(row_number() OVER w AS BIGINT) AS t,
                  CAST(count(*) OVER (PARTITION BY event_type)
                    AS BIGINT) AS n
                FROM daily
                WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         uv AS (SELECT event_type, day, n, t,
                  CAST(SUM(r2) OVER (PARTITION BY event_type
                         ORDER BY day ROWS UNBOUNDED PRECEDING)
                       - t * (n + 1) AS BIGINT) AS u
                FROM rk),
         r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                  ORDER BY abs(u) DESC, day) AS rn
               FROM uv WHERE t < n)
         SELECT event_type, n AS n_days, day AS cp_day,
                CAST(abs(u) AS BIGINT) AS k_stat,
                CASE WHEN u < 0 THEN 'up' ELSE 'down' END AS direction
         FROM r WHERE rn = 1 ORDER BY event_type""",

    // rolling 14-day purchase×click correlation as exact integer r²:
    // HUGEINT window moments over the zero-filled day spine
    "timeseries_rolling_r2" ->
      """WITH counts AS (SELECT CAST(ts AS DATE) AS day,
                CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                         ELSE 0 END) AS BIGINT) AS x,
                CAST(SUM(CASE WHEN event_type = 'click' THEN 1
                         ELSE 0 END) AS BIGINT) AS y
              FROM events WHERE event_type IN ('purchase', 'click')
              GROUP BY 1),
         spine AS (SELECT CAST(unnest(generate_series(
                     (SELECT min(day) FROM counts),
                     (SELECT max(day) FROM counts),
                     INTERVAL 1 DAY)) AS DATE) AS day),
         grid AS (SELECT s.day, COALESCE(c.x, 0) AS x,
                         COALESCE(c.y, 0) AS y
                  FROM spine s LEFT JOIN counts c ON s.day = c.day),
         m AS (SELECT day,
                 CAST(count(*) OVER w AS HUGEINT) AS nw,
                 CAST(SUM(x) OVER w AS HUGEINT) AS sx,
                 CAST(SUM(y) OVER w AS HUGEINT) AS sy,
                 CAST(SUM(x * y) OVER w AS HUGEINT) AS sxy,
                 CAST(SUM(x * x) OVER w AS HUGEINT) AS sxx,
                 CAST(SUM(y * y) OVER w AS HUGEINT) AS syy
               FROM grid
               WINDOW w AS (ORDER BY day
                            ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
         v AS (SELECT day, nw * sxy - sx * sy AS cov,
                      nw * sxx - sx * sx AS vx,
                      nw * syy - sy * sy AS vy
               FROM m WHERE nw = 14)
         SELECT day,
                CASE WHEN vx = 0 OR vy = 0 THEN NULL
                     ELSE CAST((1000 * cov * cov) // (vx * vy)
                       AS BIGINT) END AS r2_permille,
                CASE WHEN cov > 0 THEN 'pos' WHEN cov < 0 THEN 'neg'
                     ELSE 'zero' END AS direction
         FROM v ORDER BY day""",

    // replays TimeSeries.timeseriesAcf — lag() pairing over the same
    // daily cent series as the cusum key; exact BIGINT moments, float
    // only in the final guarded division (the xcorr discipline)
    "timeseries_acf" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS x
              FROM events GROUP BY 1, 2),
         lg AS (SELECT event_type, x,
                       lag(x, 1) OVER w AS x1, lag(x, 2) OVER w AS x2,
                       lag(x, 3) OVER w AS x3, lag(x, 4) OVER w AS x4,
                       lag(x, 5) OVER w AS x5
                FROM daily
                WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         pairs AS (
           SELECT event_type, CAST(1 AS BIGINT) AS lag, x, x1 AS y
           FROM lg WHERE x1 IS NOT NULL
           UNION ALL SELECT event_type, 2, x, x2 FROM lg
           WHERE x2 IS NOT NULL
           UNION ALL SELECT event_type, 3, x, x3 FROM lg
           WHERE x3 IS NOT NULL
           UNION ALL SELECT event_type, 4, x, x4 FROM lg
           WHERE x4 IS NOT NULL
           UNION ALL SELECT event_type, 5, x, x5 FROM lg
           WHERE x5 IS NOT NULL),
         m AS (SELECT event_type, lag, count(*) AS n,
                      CAST(SUM(x) AS BIGINT) AS sx,
                      CAST(SUM(y) AS BIGINT) AS sy,
                      CAST(SUM(x * y) AS BIGINT) AS sxy,
                      CAST(SUM(x * x) AS BIGINT) AS sxx,
                      CAST(SUM(y * y) AS BIGINT) AS syy
               FROM pairs GROUP BY 1, 2)
         SELECT event_type, lag, n,
                ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                  / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                     * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
                  AS acf
         FROM m ORDER BY event_type, lag""",

    // replays MultimodalOps.multimodalDedupChecksum; DuckDB md5 takes
    // VARCHAR and hashes its UTF-8 bytes — the same bytes Spark's
    // binary-cast md5 sees
    "multimodal_dedup_checksum" ->
      """SELECT string_split(source, '_')[1] AS kind,
                count(*) AS n_media,
                count(DISTINCT md5(text)) AS n_distinct,
                count(*) - count(DISTINCT md5(text)) AS n_dup_copies
         FROM documents GROUP BY 1 ORDER BY kind""",

    // replays MultimodalOps.multimodalMagicCensus: first-4-bytes hex
    // per blob, top-5 magics per modality
    // replays MultimodalOps.multimodalPhashDedup: the 16-bit hex-digit
    // frequency signature via length-replace counting, exact-collision
    // census, and the capped banded hamming-1..2 self-join
    "multimodal_phash_dedup" -> {
      val bits = (0 until 16).map { j =>
        val d = "0123456789ABCDEF"(j)
        s"""CASE WHEN 16 * (length(hx) - length(replace(hx, '$d', '')))
              > length(hx) THEN ${1L << j} ELSE 0 END"""
      }.mkString(" + ")
      s"""WITH hh AS (SELECT doc_id AS media_id,
                 string_split(source, '_')[1] AS kind,
                 hex(encode(text)) AS hx
               FROM documents),
         sig AS MATERIALIZED (SELECT media_id, kind,
                 CAST($bits AS BIGINT) AS phash FROM hh),
         census AS (SELECT kind, count(*) AS n_media,
                 count(DISTINCT phash) AS n_distinct_phash,
                 count(*) - count(DISTINCT phash) AS n_dup_copies
               FROM sig GROUP BY 1),
         bandrows AS (SELECT media_id, kind, phash, 1 AS band,
                 phash // 256 AS bv FROM sig
               UNION ALL
               SELECT media_id, kind, phash, 0 AS band,
                 phash % 256 AS bv FROM sig),
         capped AS (SELECT kind, band, bv, media_id, phash FROM (
                 SELECT *, row_number() OVER (
                   PARTITION BY kind, band, bv ORDER BY media_id) AS rn
                 FROM bandrows) t
               WHERE rn <= ${ops.MultimodalOps.PhashBandCap}),
         pr AS (SELECT DISTINCT x.kind, x.media_id AS ida,
                 y.media_id AS idb, x.phash AS pa, y.phash AS pb
               FROM capped x JOIN capped y
                 ON x.kind = y.kind AND x.band = y.band AND x.bv = y.bv
                AND x.media_id < y.media_id),
         np AS (SELECT kind, count(*) AS n_near_pairs FROM pr
               WHERE bit_count(xor(pa, pb)) BETWEEN 1 AND 2
               GROUP BY 1)
         SELECT c.kind, c.n_media,
                CAST(c.n_distinct_phash AS BIGINT) AS n_distinct_phash,
                CAST(c.n_dup_copies AS BIGINT) AS n_dup_copies,
                CAST(COALESCE(np.n_near_pairs, 0) AS BIGINT)
                  AS n_near_pairs
         FROM census c LEFT JOIN np USING (kind) ORDER BY c.kind"""
    },

    "multimodal_magic_census" ->
      """WITH m AS (SELECT string_split(source, '_')[1] AS kind,
                           substr(hex(encode(text)), 1, 8) AS magic_hex
                    FROM documents),
         c AS (SELECT kind, magic_hex,
                      CAST(count(*) AS BIGINT) AS n_media
               FROM m GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY kind
                 ORDER BY n_media DESC, magic_hex) AS rk FROM c)
         SELECT kind, magic_hex, n_media, CAST(rk AS INT) AS rk
         FROM r WHERE rk <= 5 ORDER BY kind, rk""",

    // replays MultimodalOps.multimodalFrameSample: 64-byte frames,
    // every 4th sampled, 8-byte head fingerprint — all byte math on
    // the hex image so both engines slice identically
    "multimodal_frame_sample" ->
      """WITH m AS (SELECT doc_id,
                           string_split(source, '_')[1] AS kind,
                           hex(encode(text)) AS hx,
                           CAST(octet_length(encode(text)) AS BIGINT)
                             // 64 AS n_frames
                    FROM documents),
          s AS (SELECT doc_id, kind, hx,
                       unnest(range(0, n_frames, 4)) AS frame_idx
                FROM m WHERE n_frames > 0)
          SELECT doc_id, kind, frame_idx,
                 CAST(frame_idx * 64 AS BIGINT) AS byte_off,
                 substr(hx, CAST(frame_idx * 128 + 1 AS INT), 16)
                   AS frame_head_hex
          FROM s ORDER BY doc_id, frame_idx""",

    // replays TextOps.dedupIncrementalLsh: the shared md5-affine
    // MinHash signature chain, bands split existing/new, bucket cap on
    // the EXISTING (indexed) side only, candidate probe, exact-Jaccard
    // verify, per-new-doc verdict
    "dedup_incremental_lsh" ->
      s"""WITH $Tri0Ctes,
         hb AS (SELECT doc_id, g,
                       ${md5Hash60Sql("g")} % ${graft.ops.TextOps.MinhashP}
                         AS hb
                FROM tri0),
         h AS (SELECT doc_id, g, i,
                      (1000003 * (2*i + 1) * hb + 777767777 * (i + 1))
                        % ${graft.ops.TextOps.MinhashP} AS hv
               FROM hb, range(0, 16) AS ri(i)),
         minh AS (SELECT doc_id, i, min(hv) AS mh
                  FROM h GROUP BY doc_id, i),
         sig AS (SELECT doc_id, list(mh ORDER BY i) AS s
                 FROM minh GROUP BY doc_id),
         bands AS (SELECT doc_id, b,
                          s[2*b+1] || ',' || s[2*b+2] AS bk
                   FROM sig, range(0, 8) AS rb(b)),
         ex AS (SELECT * FROM bands
                WHERE doc_id % ${graft.ops.TextOps.IncBatchMod}
                      <> ${graft.ops.TextOps.IncBatchRem}),
         exok AS (SELECT ex.* FROM ex
                  JOIN (SELECT b, bk FROM ex GROUP BY b, bk
                        HAVING count(*) <=
                          ${graft.ops.TextOps.MaxLshBucket}) c
                    USING (b, bk)),
         nw AS (SELECT * FROM bands
                WHERE doc_id % ${graft.ops.TextOps.IncBatchMod}
                      = ${graft.ops.TextOps.IncBatchRem}),
         cand AS (SELECT DISTINCT n.doc_id AS a_id, e.doc_id AS b_id
                  FROM nw n JOIN exok e ON n.b = e.b AND n.bk = e.bk),
         ints AS (SELECT c.a_id, c.b_id, count(*) AS inter
                  FROM cand c
                  JOIN tri0 a ON a.doc_id = c.a_id
                  JOIN tri0 b ON b.doc_id = c.b_id AND b.g = a.g
                  GROUP BY 1, 2),
         sz0 AS (SELECT doc_id, count(*) AS n FROM tri0 GROUP BY 1),
         dups AS (SELECT a_id, min(b_id) AS dup_of FROM (
                    SELECT i.a_id, i.b_id FROM ints i
                    JOIN sz0 sa ON sa.doc_id = i.a_id
                    JOIN sz0 sb ON sb.doc_id = i.b_id
                    WHERE ROUND(CAST(inter AS DOUBLE)
                            / (sa.n + sb.n - inter), 3) >= 0.5)
                  GROUP BY 1)
         SELECT d.doc_id,
                CASE WHEN dup_of IS NULL THEN 'new' ELSE 'dup' END
                  AS status,
                dup_of
         FROM documents d LEFT JOIN dups ON dups.a_id = d.doc_id
         WHERE d.doc_id % ${graft.ops.TextOps.IncBatchMod}
               = ${graft.ops.TextOps.IncBatchRem}
         ORDER BY d.doc_id"""
  )
}
