package graft.ops

import graft.{GraphModel, LocalGraph, SessionMemo, Tables}
import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.graphx.lib.{LabelPropagation, ShortestPaths}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField,
  StructType}
import scala.reflect.ClassTag

/** §2.9 iterative graph analytics via GraphX (SURVEY.md §4.3: the one
  * genuinely non-Catalyst execution path — Pregel supersteps).
  *
  * The float-iteration entries (PageRank variants, triangle count,
  * LPA) are oracle=no — iterative float math / algorithmic
  * nondeterminism is not SQL-expressible — and invariant-tested (rank
  * mass conservation, known component structure, triangle symmetry).
  * Connected components and both shortest-path variants ARE
  * DuckDB-oracled (recursive CTEs) since round 2. Determinism
  * measures: fixed iteration counts (never tolerance-convergence),
  * canonical edge direction before triangle counting, rounded rank
  * output.
  *
  * The DataFrame→RDD conversion happens only here, at the GraphX
  * boundary; results come back via createDataFrame so downstream stays
  * in Catalyst.
  */
object GraphXAlgos {

  /** PageRank, 10 fixed iterations, on the deduplicated directed graph
    * (the memoized [[GraphModel.graphxCached]] build; its vertex set is
    * exactly the edge-incident vertices, so the topology is independent
    * of unreferenced dimension rows). */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = GraphModel.graphxCached(spark, dir)
    val pr = g.staticPageRank(10, 0.15)
    collected(pr.vertices
      .map { case (id, rank) => (id, math.rint(rank * 1e6) / 1e6) }
      .toDF("id", "rank")
      .orderBy(col("rank").desc, col("id"))
      .limit(50), pr, g.vertices, g.edges)
  }

  /** `out` collected into a local relation ([[GraphOps.localFrame]]),
    * then [[releaseGraphs]]: for outputs of bounded size (a top-k, a
    * histogram). */
  private def collected(out: DataFrame, result: Graph[_, _],
      input: RDD[_]*): DataFrame = {
    val rows = out.collect()
    releaseGraphs(result, input: _*)
    GraphOps.localFrame(out.sparkSession, rows.toSeq, out.schema)
  }

  /** Unpersists the cached RDDs in the lineage of `result` but not of
    * `input` (the caller's graph or edges, maybe a session memo): what
    * the GraphX algorithm cached. Call it once `result`'s output is
    * collected or checkpointed. Blocking, so no block removal is still
    * in flight when the `ContextCleaner` reaches the same RDDs. */
  private def releaseGraphs(result: Graph[_, _], input: RDD[_]*): Unit = {
    def lineage(rs: Seq[RDD[_]], seen: Set[RDD[_]] = Set.empty): Set[RDD[_]] =
      rs.foldLeft(seen)((s, r) =>
        if (s(r)) s else lineage(r.dependencies.map(_.rdd), s + r))
    (lineage(Seq(result.vertices, result.edges)) -- lineage(input))
      .filter(_.getStorageLevel.isValid)
      .foreach(_.unpersist(blocking = true))
  }

  /** Connected components (undirected semantics — GraphX CC ignores
    * direction): component label = min vertex id, deterministic.
    * Output: component sizes, by size descending, then component.
    * Under the size gate a union-find over [[GraphModel.localGraphCached]]
    * ([[componentSizesLocal]]); above it GraphX's Pregel loop
    * ([[componentSizesGraphX]]). */
  def connectedComponents(spark: SparkSession, dir: String): DataFrame =
    GraphModel.localGraphCached(spark, dir) match {
      case Some(lg) => componentSizesLocal(spark, lg)
      case None =>
        componentSizesGraphX(spark, GraphModel.graphxCached(spark, dir))
    }

  private val componentSizesSchema = StructType(Seq(
    StructField("component", LongType, nullable = false),
    StructField("size", LongType, nullable = false)))

  /** [[connectedComponents]] on the driver: each vertex counts for its
    * component's least id. A [[GraphOps.localFrame]], so collecting it
    * runs no Spark job; it holds one row per component. */
  private[graft] def componentSizesLocal(spark: SparkSession,
      lg: LocalGraph): DataFrame = {
    val root = lg.components
    val size = new Array[Long](lg.size)
    root.foreach(r => size(r) += 1)
    val rows = lg.ids.indices.filter(size(_) > 0)
      .sortBy(r => (-size(r), r))
      .map(r => Row(lg.ids(r), size(r)))
    GraphOps.localFrame(spark, rows, componentSizesSchema)
  }

  /** [[connectedComponents]] by GraphX's `connectedComponents()`, one
    * row per component collected. */
  private[graft] def componentSizesGraphX[VD: ClassTag, ED: ClassTag](
      spark: SparkSession, g: Graph[VD, ED]): DataFrame = {
    import spark.implicits._
    val cc = g.connectedComponents()
    collected(cc.vertices
      .map { case (_, comp) => comp }
      .toDF("component")
      .groupBy(col("component")).agg(count(lit(1)).as("size"))
      .orderBy(col("size").desc, col("component")), cc, g.vertices, g.edges)
  }

  /** Per-order co-occurrence fanout cap: at most this many distinct
    * parts per order enter the pair expansion (DATAPROFILE.md: the
    * corpus max is 17 at sf0.1 / 13 at sf0.01 on the current draw, so
    * no order is truncated at any tested SF — the cap exists so one hot
    * key can never go quadratic: pairs per order ≤ C(32,2) = 496). */
  val MaxOrderFanout = 32

  /** Canonical (src < dst, deduplicated) co-purchase pairs from an
    * (ok, pk) projection. One groupBy shuffle, no self-join: each
    * order's distinct parts are collected (capped, sorted — the cap
    * keeps the N smallest keys, deterministically), then expanded to
    * ordered pairs with higher-order lambdas. At 100 TB the old
    * `li ⋈ li ON ok` self-join shuffles the fact table twice and a hot
    * order produces O(fanout²) join rows inside the join; this shape
    * shuffles once, combines map-side, and bounds per-key work. */
  def copurchasePairs(li: DataFrame): DataFrame =
    copurchasePairsMulti(li).distinct()

  /** Memoized persisted co-purchase projection over the lineitem
    * (ok, pk) frame — link prediction, node similarity, triangle
    * count and the clustering coefficient all consume the identical
    * pair list, so the capped expansion + distinct runs once per
    * (session, dir). */
  val copurchasePairsCached = SessionMemo { (spark, dir) =>
    copurchasePairs(Tables(spark, dir).lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")))
      .persist()
  }

  /** The same capped per-order pair expansion WITH multiplicity (one
    * row per co-ordering, not per distinct pair) — the input to both
    * the deduplicated projection above and the weighted projection. */
  def copurchasePairsMulti(li: DataFrame): DataFrame =
    li.groupBy(col("ok"))
      .agg(slice(sort_array(collect_set(col("pk"))), 1, MaxOrderFanout)
        .as("pks"))
      .select(explode(flatten(transform(col("pks"), (x, i) =>
        transform(slice(col("pks"), i + lit(2), size(col("pks"))),
          y => struct(x.as("src"), y.as("dst")))))).as("e"))
      .select(col("e.src"), col("e.dst"))

  /** BUTTERFLY (bipartite 4-cycle) census over the capped order–part
    * graph — the bipartite cohesion metric (two parts + two orders
    * both containing both parts = one butterfly; the bipartite
    * analogue of a triangle). Per part pair with cn ≥ 2 shared
    * orders, butterflies = C(cn, 2) exactly; top-10 by count. The
    * wedge surface is the SAME capped per-order pair expansion as the
    * projection ops (≤ C(32,2) pairs per order whatever the hub
    * order's true fanout), so the count never goes quadratic in
    * catalog size. */
  def butterflyCount(spark: SparkSession, dir: String): DataFrame =
    copurchasePairsMulti(Tables(spark, dir).lineitem
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= 2)
      .select(col("src").as("a"), col("dst").as("b"), col("cn"),
        expr("CAST(cn * (cn - 1) div 2 AS BIGINT)")
          .as("pair_butterflies"))
      .orderBy(col("pair_butterflies").desc, col("a"), col("b"))
      .limit(10)

  /** Memoized canonical triangle list (x < y < z, one row per
    * triangle) over the co-purchase projection — the 3-way self-join
    * of the bounded pair list. Four keys consume the identical
    * enumeration (per-vertex census [[triangleCount]], global
    * [[graphClusteringCoeff]], per-vertex [[graphLocalClustering]],
    * and [[graphKtruss]]'s first peel round), so it runs once per
    * (session, dir) and is eagerly materialized. This replaces the
    * earlier GraphX `triangleCount()` path, whose per-vertex neighbor
    * SETS are collected into memory and intersected per edge — the
    * measured dominant cost of the whole bench at sf0.1 (261 s vs
    * ~20 s for the join) and a per-vertex O(max-degree) memory shape
    * that a hub vertex breaks at 100 TB, where the join enumeration
    * is three co-partitioned shuffles on bounded keys. */
  val trianglesCached = SessionMemo { (spark, dir) =>
    trianglesPlan(spark, dir).localCheckpoint(true)
  }

  /** The un-checkpointed triangle plan — separate from the memoized
    * entry point so PlanSpec can assert hint-freedom on the live plan
    * (the cached frame is a truncated LogicalRDD). */
  private[graft] def trianglesPlan(spark: SparkSession, dir: String)
      : DataFrame = {
        // DEGREE-ORDERED enumeration by OUT-NEIGHBOR INTERSECTION:
        // orient every undirected edge from its (degree, id)-smaller
        // endpoint to the larger one — the orientation is acyclic and
        // every triangle has exactly one vertex with out-edges to the
        // other two, so per oriented edge (a, b) the closing third
        // corners are exactly N⁺(a) ∩ N⁺(b) and each triangle is
        // enumerated once. The r14 shape materialized the Σ C(outdeg,2)
        // wedge rows (~35M on the dense r15 draw) and sort-merge-
        // semi-joined them against the edge list — the sort of the
        // wedge stream dominated the whole warm-cache block (460
        // task-s). Intersecting per-vertex SORTED out-neighbor arrays
        // instead never materializes a wedge: two O(E)-row joins
        // attach the (outdeg-bounded, ≤ O(√m) by the orientation)
        // arrays to each edge and the intersection emits only actual
        // triangles (measured 30 task-s, same 1,884,488 triples).
        // Emitted triples are re-sorted to the canonical x<y<z ids, so
        // every consumer (and every oracle replay) is
        // orientation-blind.
        val pairs = copurchasePairsCached(spark, dir)
        val deg = pairs.select(col("src").as("id"))
          .unionByName(pairs.select(col("dst").as("id")))
          .groupBy(col("id")).agg(count(lit(1)).as("d"))
        // no broadcast hint on deg: it's an O(V) per-vertex table, over
        // the auto-broadcast threshold at 100 TB — let AQE choose (it
        // still picks broadcast at bench scale, where deg is tiny)
        val oriented = pairs
          .join(deg.select(col("id").as("src"),
            col("d").as("ds")), "src")
          .join(deg.select(col("id").as("dst"),
            col("d").as("dd")), "dst")
          .select(
            when(col("ds") < col("dd") ||
                (col("ds") === col("dd") && col("src") < col("dst")),
              struct(col("src").as("a"), col("dst").as("b")))
              .otherwise(struct(col("dst").as("a"),
                col("src").as("b"))).as("e"))
          .select(col("e.a"), col("e.b"))
        val nbrs = oriented.groupBy(col("a"))
          .agg(sort_array(collect_list(col("b"))).as("ns"))
        oriented
          .join(nbrs.select(col("a"), col("ns").as("na")), "a")
          .join(nbrs.select(col("a").as("b"), col("ns").as("nb")), "b")
          .select(col("a").as("v"), col("b").as("u"),
            explode(array_intersect(col("na"), col("nb"))).as("w"))
          .select(least(col("v"), col("u"), col("w")).as("x"),
            (col("v") + col("u") + col("w")
              - least(col("v"), col("u"), col("w"))
              - greatest(col("v"), col("u"), col("w"))).as("y"),
            greatest(col("v"), col("u"), col("w")).as("z"))
  }

  /** The weighted bipartite projection as a first-class registered
    * key — the order↔part two-mode graph collapsed onto parts, edge
    * weight = number of co-ordering orders (the affinity strength
    * every co-occurrence recommender ranks by). Same one-shuffle
    * capped expansion as [[copurchasePairs]]; the weight is one more
    * map-side-combinable keyed count, never a fact-table self-join. */
  def bipartiteProject(spark: SparkSession, dir: String): DataFrame =
    copurchasePairsMulti(Tables(spark, dir).lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("weight"))
      .orderBy(col("src"), col("dst"))

  /** Bounded-round k-truss peel (k = 4, 3 synchronous rounds) over the
    * capped co-purchase projection — the EDGE-cohesion census next to
    * the vertex-cohesion k-core: each round computes every edge's
    * support (triangles it closes, via the same canonical x<y<z
    * enumeration credited to all three sides) and drops edges below
    * k−2, tightening the remaining triangles. Per-round census output
    * (n_removed, n_remaining) like the k-core peel; all-integer and
    * engine-replayable because the edge set and peel order are
    * deterministic. Cost: the shared triangle enumeration once, then
    * rounds × (three semi-joins over the shrinking triangle list + a
    * keyed support agg); at 100 TB the truss peel runs on the capped
    * projection exactly like the triangle census. */
  def graphKtruss(spark: SparkSession, dir: String)
      : DataFrame = GraphOps.roundScope(small = false) { rs =>
    val K = 4
    val cur = copurchasePairsCached(spark, dir)
    var stats = Vector.empty[DataFrame]
    // Peeling only ever REMOVES edges, so the surviving triangle set
    // shrinks monotonically. r15: each round's survivors are computed
    // by anti-joining the triangle list against the edges REMOVED last
    // round — a tiny frame on this corpus (62k/22k/1.7k vs 1.1M kept
    // at sf0.1) and, peel being monotone, never larger than the edges
    // that eventually fall. The r14 shape semi-joined the full
    // SURVIVOR edge set instead, which sort-merge-sorted the ~1.9M-row
    // triangle list three times per round (measured 568 task-s; the
    // anti-join probes broadcast the removed set when it is provably
    // small — a count over the just-checkpointed frame — and fall back
    // to keyed shuffles above the gate, the louvain broadcast rule).
    var tri = trianglesCached(spark, dir)
    var removed: Option[DataFrame] = None
    var scored: DataFrame = null
    for (r <- 1 to 3) {
      removed match {
        case None =>
          // round 1: the only full-size support aggregation — every
          // triangle credits its three sides once
          val support = tri
            .select(col("x").as("src"), col("y").as("dst"))
            .unionByName(tri.select(col("x").as("src"),
              col("z").as("dst")))
            .unionByName(tri.select(col("y").as("src"),
              col("z").as("dst")))
            .groupBy(col("src"), col("dst"))
            .agg(count(lit(1)).as("sup"))
          scored = rs.chk(cur.join(support, Seq("src", "dst"), "left")
            .select(col("src"), col("dst"),
              coalesce(col("sup"), lit(0L)).as("sup")))
        case Some(rem) =>
          // later rounds are DELTA-sized (r15): support only ever
          // DECREASES, by exactly the dropped triangles' credits —
          // so instead of re-aggregating the 3x|tri| union, collect
          // the dropped set (triangles touching a removed edge, each
          // once via union+distinct), count its per-edge credits, and
          // subtract them from the surviving edges' scores
          val g: DataFrame => DataFrame =
            if (rem.count() <= 4000000L) broadcast _ else identity _
          val dropped = rs.chk(tri
            .join(g(rem.select(col("src").as("x"), col("dst").as("y"))),
              Seq("x", "y"), "left_semi")
            .unionByName(tri
              .join(g(rem.select(col("src").as("x"),
                col("dst").as("z"))), Seq("x", "z"), "left_semi"))
            .unionByName(tri
              .join(g(rem.select(col("src").as("y"),
                col("dst").as("z"))), Seq("y", "z"), "left_semi"))
            .distinct())
          tri = rs.chk(tri
            .join(g(rem.select(col("src").as("x"), col("dst").as("y"))),
              Seq("x", "y"), "left_anti")
            .join(g(rem.select(col("src").as("x"), col("dst").as("z"))),
              Seq("x", "z"), "left_anti")
            .join(g(rem.select(col("src").as("y"), col("dst").as("z"))),
              Seq("y", "z"), "left_anti"))
          val dec = dropped
            .select(col("x").as("src"), col("y").as("dst"))
            .unionByName(dropped.select(col("x").as("src"),
              col("z").as("dst")))
            .unionByName(dropped.select(col("y").as("src"),
              col("z").as("dst")))
            .groupBy(col("src"), col("dst"))
            .agg(count(lit(1)).as("dec"))
          scored = rs.chk(scored.filter(col("sup") >= K - 2)
            .join(dec, Seq("src", "dst"), "left")
            .select(col("src"), col("dst"),
              (col("sup") - coalesce(col("dec"), lit(0L))).as("sup")))
      }
      stats = stats :+ scored.agg(
        count_if(col("sup") < K - 2).as("n_removed"),
        count_if(col("sup") >= K - 2).as("n_remaining"))
        .select(lit(r).as("round"), col("n_removed"),
          col("n_remaining"))
      val rem = rs.chk(scored.filter(col("sup") < K - 2)
        .select(col("src"), col("dst")))
      removed = Some(rem)
    }
    // materialized before the scope releases the per-round checkpoints
    // (the seed frames are session-lifetime caches — never ledgered)
    stats.reduce(_ unionByName _)
      .orderBy(col("round"))
      .localCheckpoint(true)
  }

  /** Max degree a shared neighbor may have to contribute to
    * common-neighbor scoring — the link-prediction analog of the
    * shingle df-cap: a hub co-purchased with everything produces
    * C(deg,2) candidate pairs and carries no affinity signal, so
    * super-connectors are excluded from the middle role (standard
    * practice; Adamic-Adar down-weights them for the same reason).
    * DATAPROFILE.md: the current draw's projection is dense (avg
    * degree 119.6 at sf0.1 — 99.3% of vertices exceed this cap), so
    * the cap now functions purely as the scale guard it was designed
    * as: candidates come from the ≤64-degree tail; both engines apply
    * the identical cap, so parity is automatic. */
  val MaxLinkDegree = 64

  /** Link prediction over the part co-purchase projection: for part
    * pairs NOT yet co-purchased, the common-neighbor count — "parts
    * bought with the same other parts will be bought together" — the
    * recommendation query of every graph database. Candidates come
    * from one self-join of the undirected pair list keyed on the
    * SHARED NEIGHBOR (degree-capped, see [[MaxLinkDegree]]), existing
    * edges are anti-joined away, top-50 by (count, a, b) total order.
    * Exact integers over a deterministic edge set → DuckDB-oracled
    * with the same capped-pair replay as the triangle oracle. */
  /** Memoized (member, shared-neighbor, neighbor-degree) frame over
    * the co-purchase projection with the [[MaxLinkDegree]] hub cap
    * applied — the identical candidate-generation input of
    * [[linkPredict]] and [[nodeSimilarity]], built once per
    * (session, dir) like the pair and triangle caches. */
  private val cappedNeighborsCached = SessionMemo { (spark, dir) =>
    val e = copurchasePairsCached(spark, dir)
    val und = e.unionByName(
      e.select(col("dst").as("src"), col("src").as("dst")))
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("n"), col("deg"))
      .persist()
    val f = und.select(col("src").as("a"), col("dst").as("n"))
      .join(deg.filter(col("deg") <= MaxLinkDegree), "n")
      .select(col("a"), col("n"), col("deg").as("nd"))
      .persist()
    (deg, f)
  }

  def linkPredict(spark: SparkSession, dir: String): DataFrame = {
    val e = copurchasePairsCached(spark, dir)
    val byNeighbor = cappedNeighborsCached(spark, dir)._2
      .select(col("a"), col("n"))
    val cands = byNeighbor
      .join(byNeighbor.select(col("a").as("b"), col("n")), "n")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cn"))
    val result = cands
      .join(e, cands("a") === e("src") && cands("b") === e("dst"),
        "left_anti")
      .orderBy(col("cn").desc, col("a"), col("b"))
      .limit(50)
    val out = result.localCheckpoint(true)
    // e is the session-lifetime co-purchase cache — leave persisted
    out
  }

  /** ADAMIC-ADAR link scores over the co-purchase projection — the
    * textbook 1/ln(deg) hub down-weighting next to
    * [[nodeSimilarity]]'s rational Resource Allocation: per shared
    * neighbor z, the term round(1e6 / ln(deg z)) is micro-rounded
    * BEFORE the per-pair sum (exact BIGINT addition, identical ln
    * shape both engines — the same discipline that made BM25 and the
    * entropy ops oracle-able). Shared neighbors connect both ends,
    * so deg z ≥ 2 and ln never hits zero. Same degree-capped
    * candidate join as [[linkPredict]]; top-50 by (score, a, b).
    *
    * Transcendental provenance (r12 audit): distinct ln inputs =
    * distinct capped degrees (≤ the [[cappedNeighborsCached]] cap, a
    * few dozen small integers) — an enumerable domain at the micro
    * quantum; this safety does NOT transfer to wide rational domains
    * (the r11 walk-embed lesson). */
  def adamicAdar(spark: SparkSession, dir: String): DataFrame = {
    val (_, f) = cappedNeighborsCached(spark, dir)
    f.join(f.select(col("a").as("b"), col("n")), "n")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cn"),
        sum(round(lit(1000000.0) / log(col("nd"))).cast("long"))
          .as("aa_micro"))
      .orderBy(col("aa_micro").desc, col("a"), col("b"))
      .limit(50)
  }

  /** Node similarity over the co-purchase projection — the
    * `nodeSimilarity` API of a graph-DB analytics library — scoring
    * every candidate pair by TWO classic measures in exact integer
    * units: Jaccard permille `(1000·|N(a)∩N(b)|) div (deg a + deg b −
    * |∩|)` and Resource Allocation micro `Σ_z 1_000_000 div deg(z)`
    * over the shared neighbors z (RA is Adamic-Adar's rational cousin
    * — same hub down-weighting, no float log, hence oracle-able).
    * Candidates come from the same degree-capped shared-neighbor join
    * as [[linkPredict]] (never unconditioned quadratic); degrees in
    * the denominators are the TRUE projection degrees. Top-50 by
    * (jaccard, a, b) total order. */
  def nodeSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val (deg, f) = cappedNeighborsCached(spark, dir)
    val cands = f
      .join(f.select(col("a").as("b"), col("n")), "n")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000 div nd")).as("ra_micro"))
    val result = cands
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .select(col("a"), col("b"), col("cn"),
        expr("(1000 * cn) div (da + db - cn)").as("jaccard_permille"),
        col("ra_micro"))
      .orderBy(col("jaccard_permille").desc, col("a"), col("b"))
      .limit(50)
    val out = result.localCheckpoint(true)
    // e is the session-lifetime co-purchase cache — leave persisted
    out
  }

  /** Triangle count over the part co-purchase projection: parts are
    * linked when they appear in the same order. Per-triangle-count
    * histogram over every projection vertex (vertices in no triangle
    * count as 0) — fully deterministic (integer counts over a
    * deterministic edge set), so this IS DuckDB-oracled: the oracle
    * replays the capped pair derivation with row_number and the same
    * canonical x<y<z 3-way self-join. Triangles come from the shared
    * [[trianglesCached]] frame (each triangle credits its three
    * corners), so this key costs one keyed agg + a left join on top
    * of the memoized enumeration. */
  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    val pairs = copurchasePairsCached(spark, dir)
    val tri = trianglesCached(spark, dir)
    val verts = pairs.select(col("src").as("id"))
      .unionByName(pairs.select(col("dst").as("id"))).distinct()
    val perVertex = tri.select(col("x").as("id"))
      .unionByName(tri.select(col("y").as("id")))
      .unionByName(tri.select(col("z").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("n"))
    verts.join(perVertex, Seq("id"), "left")
      .select(coalesce(col("n"), lit(0L)).as("n_triangles"))
      .groupBy(col("n_triangles")).agg(count(lit(1)).as("n_vertices"))
      .orderBy(col("n_triangles"))
  }

  /** Global clustering coefficient over the capped co-purchase
    * projection, exact integers: triangles via the canonical 3-way
    * pair join (x<y<z — each triangle counted once), wedges =
    * Σ_v C(deg v, 2), coefficient = (3·triangles·1000) div wedges in
    * permille — the one-row graph-cohesion summary ("how clique-like
    * is the co-purchase structure") next to the per-vertex
    * [[triangleCount]] histogram. Two aggregations + one 3-way join
    * over the bounded pair list; all-integer, DuckDB-oracled by the
    * same capped replay as the triangle oracle. */
  def graphClusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val pairs = copurchasePairsCached(spark, dir)
    val und = pairs.unionByName(
      pairs.select(col("dst").as("src"), col("src").as("dst")))
    val wedges = und.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .agg(sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    val tri = trianglesCached(spark, dir)
      .agg(count(lit(1)).as("n_triangles"))
    val out = tri.crossJoin(wedges)
      .select(col("n_triangles"), col("n_wedges"),
        expr("(3 * n_triangles * 1000) div n_wedges")
          .as("coeff_permille"))
      .localCheckpoint(true)
    // pairs is the session-lifetime co-purchase cache — leave persisted
    out
  }

  /** PER-VERTEX local clustering coefficient over the capped
    * co-purchase projection — "how clique-like is THIS part's
    * neighborhood" (`localClusteringCoefficient` in any graph-DB
    * analytics library), the per-vertex refinement of the one-row
    * [[graphClusteringCoeff]] census. Triangles per vertex come from
    * the same canonical x<y<z enumeration credited to all three
    * corners; lc = (2000·tri) div (d·(d−1)) permille, exact integers.
    * Top-50 by the (lc, tri, id) total order so ties cannot flip
    * cross-engine. Cost on top of the shared pair cache: the 3-way
    * join + two keyed aggs — the pair list is bounded by the fanout
    * cap, never the corpus. */
  def graphLocalClustering(spark: SparkSession, dir: String): DataFrame = {
    val pairs = copurchasePairsCached(spark, dir)
    val und = pairs.unionByName(
      pairs.select(col("dst").as("src"), col("src").as("dst")))
    val deg = und.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("d"))
    val triCorners = trianglesCached(spark, dir)
    val perVertex = triCorners.select(col("x").as("id"))
      .unionByName(triCorners.select(col("y").as("id")))
      .unionByName(triCorners.select(col("z").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
    deg.filter(col("d") >= 2)
      .join(perVertex, Seq("id"), "left")
      .select(col("id"), col("d"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("lc_permille",
        expr("(2000 * n_tri) div (d * (d - 1))"))
      .orderBy(col("lc_permille").desc, col("n_tri").desc, col("id"))
      .limit(50)
  }

  /** Weighted-edge view: one edge per (src, dst) with weight = multi-
    * edge multiplicity (an order that shares 3 lineitems with a part
    * gets weight 3). This is precisely the information [[GraphModel
    * .graphx]] discards for the multiplicity-insensitive algorithms. */
  private def weightedEdges(spark: SparkSession, dir: String): DataFrame =
    GraphModel.edgesCached(spark, dir)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).cast("double").as("w"))

  /** Weighted PageRank, 10 fixed iterations: rank flows along edges in
    * proportion to multiplicity weight (out-weights normalized per
    * source, so each vertex still distributes its full rank). GraphX's
    * built-in PageRank splits uniformly by out-degree; this is the
    * aggregateMessages generalization. Output: top-50 by rounded rank.
    * oracle=no (iterative float math); invariants in GraphSpec. */
  def pagerankWeighted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wed = weightedEdges(spark, dir)
    val tot = wed.groupBy(col("src")).agg(sum(col("w")).as("wtot"))
    val norm = wed.join(tot, "src")
      .select(col("src"), col("dst"), (col("w") / col("wtot")).as("p"))
    val erdd = norm.rdd.map(r => Edge(r.getLong(0), r.getLong(1),
      r.getDouble(2)))
    // Pregel's cache/materialize/unpersist discipline: cache each
    // superstep's graph and messages, materialize the NEW state before
    // dropping the old. Without it the loop builds a 10-deep uncached
    // graph lineage and every superstep recomputes all prior ones
    // (measured 13.8 s for this query alone at sf0.1).
    def messages(gr: Graph[Double, Double]) = gr.aggregateMessages[Double](
      ctx => ctx.sendToDst(ctx.srcAttr * ctx.attr), _ + _)
    // MEMORY_AND_DISK construction levels propagate to every
    // superstep's Graph.cache() — eviction spills instead of
    // recomputing the DF→RDD normalization chain (r16, verdict #2)
    var g = Graph.fromEdges(erdd, 1.0,
        edgeStorageLevel =
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
        vertexStorageLevel =
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .mapVertices((_, _) => 1.0).cache()
    var msgs = messages(g).cache()
    msgs.count(): Unit
    for (i <- 1 to 10) {
      val prevG = g
      val oldMsgs = msgs
      g = g.outerJoinVertices(msgs)((_, _, m) =>
        0.15 + 0.85 * m.getOrElse(0.0)).cache()
      if (i < 10) { msgs = messages(g).cache(); msgs.count(): Unit }
      // the final superstep's output is consumed via g.vertices only
      else g.vertices.count(): Unit
      oldMsgs.unpersist(blocking = false)
      prevG.unpersistVertices(blocking = false)
      prevG.edges.unpersist(blocking = false): Unit
    }
    g.vertices
      .map { case (id, rank) => (id, math.rint(rank * 1e6) / 1e6) }
      .toDF("id", "rank")
      .orderBy(col("rank").desc, col("id"))
      .limit(50)
  }

  /** Weighted shortest path to the region-0 landmark: edge length =
    * 1/multiplicity (frequently co-occurring endpoints are "closer"),
    * computed by Pregel min-plus relaxation. Deterministic — min is
    * order-insensitive and every path accumulates root-outward in the
    * same order as the oracle's recursive CTE, so the doubles are
    * bit-identical and this IS oracle-checked (unlike rank iteration).
    * Rounding happens in the DataFrame with the Det epsilon discipline
    * (mirrored in the oracle SQL) — `math.rint` is half-to-even while
    * DuckDB ROUND is not, so a tie at the 1e-6 boundary would diverge. */
  def shortestPathsWeighted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.graphx.Pregel
    val erdd = weightedEdges(spark, dir)
      .select(col("src"), col("dst"), (lit(1.0) / col("w")).as("len"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getDouble(2)))
    val g = Graph.fromEdges(erdd, 0.0,
        edgeStorageLevel =
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
        vertexStorageLevel =
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .mapVertices((id, _) =>
        if (id == GraphModel.RegionOff) 0.0 else Double.PositiveInfinity)
    val res = Pregel(g, Double.PositiveInfinity)(
      (_, d, m) => math.min(d, m),
      t => if (t.dstAttr + t.attr < t.srcAttr)
        Iterator((t.srcId, t.dstAttr + t.attr)) else Iterator.empty,
      math.min)
    val out = res.vertices
      .filter { case (_, d) => d < Double.PositiveInfinity }
      .toDF("id", "wdist_raw")
      .select(col("id"),
        round(col("wdist_raw") + lit(1e-9), 6).as("wdist"))
      .localCheckpoint(true)
    releaseGraphs(res, erdd)
    out.orderBy(col("wdist"), col("id"))
  }

  /** Hop distance from the region-0 landmark (ShortestPaths follows
    * edge direction; our edges point child→parent, so this is the
    * distance from every vertex up to its region root). Vertices that
    * cannot reach the landmark get no row. Under the size gate a
    * breadth-first search over [[GraphModel.localGraphCached]]
    * ([[hopsToLocal]]); above it GraphX's `ShortestPaths`
    * ([[hopsToGraphX]]). */
  def shortestPaths(spark: SparkSession, dir: String): DataFrame =
    GraphModel.localGraphCached(spark, dir) match {
      case Some(lg) => hopsToLocal(spark, lg, GraphModel.RegionOff)
      case None => hopsToGraphX(spark, GraphModel.graphxCached(spark, dir),
        GraphModel.RegionOff)
    }

  private val hopsSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("dist_to_region0", IntegerType, nullable = false)))

  /** [[shortestPaths]] on the driver: the hop count from each vertex to
    * `landmark` ([[LocalGraph.hopsTo]]), ordered by (distance, id). */
  private[graft] def hopsToLocal(spark: SparkSession, lg: LocalGraph,
      landmark: Long): DataFrame = {
    val dist = lg.hopsTo(lg.index(landmark))
    val rows = lg.ids.indices.filter(dist(_) >= 0)
      .sortBy(v => (dist(v), v))
      .map(v => Row(lg.ids(v), dist(v)))
    GraphOps.rowsFrame(spark, rows, hopsSchema)
  }

  /** [[shortestPaths]] by GraphX's `ShortestPaths` with one landmark:
    * it propagates a Map[landmark → dist] per vertex, so message size —
    * and Pregel wall-clock — scales linearly with landmark count. */
  private[graft] def hopsToGraphX[VD, ED: ClassTag](spark: SparkSession,
      g: Graph[VD, ED], landmark: Long): DataFrame = {
    import spark.implicits._
    val sp = ShortestPaths.run(g, Seq(landmark))
    val out = sp.vertices
      .flatMap { case (id, spmap) => spmap.get(landmark).map(d => (id, d)) }
      .toDF("id", "dist_to_region0")
      .localCheckpoint(true)
    releaseGraphs(sp, g.vertices, g.edges)
    out.orderBy(col("dist_to_region0"), col("id"))
  }

  /** Label propagation (5 fixed supersteps) on the membership
    * projection (IN edges: customer/supplier→nation→region) — the
    * subgraph with actual community structure. The full graph's
    * lineitem multi-edges blow up LPA's per-superstep label-map
    * shuffles for no analytical gain (measured 234 s vs ~1 s at sf0.1),
    * and LPA over degree-1 order chains is meaningless anyway.
    * Inherently unstable under parallelism — output reduced to the
    * community-size histogram; tests assert only invariants. */
  def labelPropagation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = GraphModel.edgesCached(spark, dir)
      .filter(col("rel") === "IN")
      .select(col("src"), col("dst")).distinct().rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), 1))
    // MEMORY_AND_DISK (r16, verdict #2): GraphX's default MEMORY_ONLY
    // graph blocks are evicted under session storage pressure and then
    // RECOMPUTED inline per task — the r15 probe saw this key's task
    // seconds inflate 5.0 → 23.3 on an identical 11-job plan late in
    // the bench. Spilling to disk instead bounds the worst case at one
    // local write/read.
    val g = Graph.fromEdges(edges, 0,
      edgeStorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lpa = LabelPropagation.run(g, 5)
    collected(lpa.vertices
      .map { case (_, label) => label }
      .toDF("label")
      .groupBy(col("label")).agg(count(lit(1)).as("size"))
      .select(col("size"))
      .groupBy(col("size")).agg(count(lit(1)).as("n_communities"))
      .orderBy(col("size")), lpa, edges)
  }

  /** LOCAL BRIDGES / WEAKEST TIES — the 50 lowest-triangle-support
    * edges of the co-purchase projection, support-0 rows flagged as
    * local bridges (endpoints share NO other common neighbor, span
    * > 2): Granovetter's weak ties, the edges whose removal lengthens
    * every alternative path and along which novel information
    * actually travels. Support comes free from the SAME memoized
    * canonical triangle list the census/truss keys share — each
    * (x,y,z) credits its three sides — so the op is one left join +
    * one TakeOrdered over the bounded pair list; the global
    * edge/bridge census rides every row via a 1-row broadcast. (The
    * listing is support-ascending rather than bridges-only because a
    * dense tiny graph can have zero bridges — the census still
    * reports that honestly while the frame stays non-empty.) */
  def graphLocalBridges(spark: SparkSession, dir: String): DataFrame = {
    val pairs = copurchasePairsCached(spark, dir)
    val tri = trianglesCached(spark, dir)
    val support = tri.select(col("x").as("src"), col("y").as("dst"))
      .unionAll(tri.select(col("x").as("src"), col("z").as("dst")))
      .unionAll(tri.select(col("y").as("src"), col("z").as("dst")))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("sup"))
    val deg = pairs.select(col("src").as("id"))
      .unionByName(pairs.select(col("dst").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val supported = pairs.join(support, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("sup"), lit(0L)).as("sup"))
    val census = pairs.agg(count(lit(1)).as("n_edges"))
      .crossJoin(supported.filter(col("sup") === 0L)
        .agg(count(lit(1)).as("n_bridges")))
    supported
      .join(deg.select(col("id").as("src"), col("d").as("deg_src")),
        "src")
      .join(deg.select(col("id").as("dst"), col("d").as("deg_dst")),
        "dst")
      .crossJoin(broadcast(census))
      .select(col("src"), col("dst"), col("sup"),
        (col("sup") === 0L).as("is_bridge"),
        col("deg_src"), col("deg_dst"),
        col("n_edges"), col("n_bridges"))
      .orderBy(col("sup"), col("src"), col("dst"))
      .limit(50)
  }
}
