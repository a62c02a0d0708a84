package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Property graph derived from the star schema (SURVEY.md §1.2).
  *
  * Vertex IDs are namespaced by kind (`kindOffset + naturalKey`) so keys
  * from different tables never collide: the offsets are 1e12 apart and
  * every natural key in the corpus is far below 1e12 at any SF. The same
  * arithmetic is reproducible in plain SQL, which keeps the edge/vertex
  * builders oracle-checkable.
  *
  * Edge directions point child→parent (containment/ownership):
  * nation—IN→region, customer—IN→nation, supplier—IN→nation,
  * order—BY→customer, order—HAS→part, order—FROM→supplier (the last two
  * from lineitem, kept as multi-edges — one per line).
  *
  * Scale note: the edge table is a union of projected scans — no shuffle
  * at build time. Traversals join against it on `src`/`dst`; at 100 TB
  * you would persist it bucketed by both columns to make every hop a
  * shuffle-free join.
  */
object GraphModel {
  val RegionOff   = 1000000000000L
  val NationOff   = 2000000000000L
  val CustomerOff = 3000000000000L
  val SupplierOff = 4000000000000L
  val PartOff     = 5000000000000L
  val OrderOff    = 6000000000000L

  /** Memoized persisted edge tables, keyed per (session, dir): 13 graph
    * queries share one scan+union instead of rebuilding it. ~50 MB at
    * sf0.1; a handful of dirs per process, never unpersisted (process-
    * lifetime cache, same pattern a long-lived service would use). */
  val edgesCached = SessionMemo { (spark, dir) =>
    edges(spark, dir).persist()
  }

  /** Memoized DEDUPLICATED (src, dst) pairs — the shared input of every
    * multiplicity-insensitive DataFrame algorithm (exact PageRank/LPA,
    * mutation counts). One distinct-shuffle per (session, dir) instead
    * of one per query. */
  val dedupEdgesCached = SessionMemo { (spark, dir) =>
    // persisted PRE-PARTITIONED on src: the exact-iteration family
    // joins this frame on src once per iteration, and the in-memory
    // relation's hash partitioning satisfies the join's distribution
    // requirement — the big side's exchange disappears from every
    // iteration (the "reuse one partitioning across stages" rule; at
    // 100 TB this is bucketing the edge table by src at write time)
    edgesCached(spark, dir).select(col("src"), col("dst"))
      .distinct().repartition(col("src")).persist()
  }

  /** The dst-partitioned sibling of [[dedupEdgesCached]], for
    * algorithms whose per-round join probes the REVERSE direction
    * (HITS' hub step sums over out-edges keyed by dst). Same
    * one-partitioning-many-stages rule; at 100 TB this is the
    * dst-bucketed copy of the edge table every graph store keeps for
    * reverse traversal. */
  val dedupEdgesByDstCached = SessionMemo { (spark, dir) =>
    dedupEdgesCached(spark, dir).repartition(col("dst")).persist()
  }

  /** Undirected pair frame (both directions of [[dedupEdgesCached]]),
    * persisted pre-partitioned on src — the shared traversal input of
    * the centrality family (betweenness forward hops, the closeness/
    * reach multi-source sweep). One union+exchange per (session, dir)
    * instead of one per centrality key. */
  val undEdgesCached = SessionMemo { (spark, dir) =>
    val d = dedupEdgesCached(spark, dir)
    d.select(col("src"), col("dst"))
      .unionByName(d.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src")).persist()
  }

  /** The dst-partitioned sibling of [[undEdgesCached]] (betweenness'
    * backward sweep probes on dst) — same twin-cache rule as the
    * directed pair. */
  val undEdgesByDstCached = SessionMemo { (spark, dir) =>
    undEdgesCached(spark, dir).repartition(col("dst")).persist()
  }

  /** `(src, dst)` edges as `(src, dst, w)` with every weight 1 — how an
    * unweighted caller feeds the weighted graph kernels (unweighted is
    * weight 1: Σw is then the edge count). */
  def unitWeighted(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"), lit(1L).as("w"))

  /** Edge-incident vertex set of a weighted `(src, dst, w)` edge frame
    * with out-weight `od` = Σw over the vertex's out-edges (the
    * out-degree at w = 1; od = 0 marks sinks) — THE single definition
    * of the iterated-state skeleton the exact PageRank family and LPA
    * share; the per-(session, dir) cache below and GraphOps' ad-hoc
    * builds all come from here, so the paths can never drift. */
  def vertsWithOutDegree(we: DataFrame): DataFrame = {
    val outdeg = we.groupBy(col("src")).agg(sum(col("w")).as("od"))
    we.select(col("src").as("id"))
      .unionByName(we.select(col("dst").as("id"))).distinct()
      .join(outdeg, col("id") === col("src"), "left")
      .select(col("id"), coalesce(col("od"), lit(0L)).as("od"))
  }

  /** Memoized [[vertsWithOutDegree]] of [[dedupEdgesCached]] at w = 1.
    * Each exact-iteration query needs exactly this frame every
    * iteration; building it once per (session, dir) removes a distinct
    * + groupBy + join over the edge table from every query. */
  val dedupVertsCached = SessionMemo { (spark, dir) =>
    vertsWithOutDegree(unitWeighted(dedupEdgesCached(spark, dir)))
      .persist()
  }

  /** Memoized row count of [[dedupVertsCached]] — the broadcast-gate
    * input the exact-iteration family reads (one cheap job over the
    * persisted frame, once per (session, dir)). */
  val dedupVertCountCached = SessionMemo { (spark, dir) =>
    dedupVertsCached(spark, dir).count()
  }

  /** All vertices: (id, kind, name). */
  def vertices(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.region.select((lit(RegionOff) + col("r_regionkey")).as("id"),
        lit("region").as("kind"), col("r_name").as("name"))
      .unionByName(t.nation.select(
        (lit(NationOff) + col("n_nationkey")).as("id"),
        lit("nation").as("kind"), col("n_name").as("name")))
      .unionByName(t.customer.select(
        (lit(CustomerOff) + col("c_custkey")).as("id"),
        lit("customer").as("kind"), col("c_name").as("name")))
      .unionByName(t.supplier.select(
        (lit(SupplierOff) + col("s_suppkey")).as("id"),
        lit("supplier").as("kind"), col("s_name").as("name")))
      .unionByName(t.part.select(
        (lit(PartOff) + col("p_partkey")).as("id"),
        lit("part").as("kind"), col("p_name").as("name")))
      .unionByName(t.orders.select(
        (lit(OrderOff) + col("o_orderkey")).as("id"),
        lit("order").as("kind"),
        col("o_orderkey").cast("string").as("name")))
  }

  /** Property-carrying edge table: (src, dst, rel, qty, amt_c, status)
    * — same row set (and multi-edge discipline) as [[edges]], plus the
    * natural edge attributes of each relationship, null where a rel has
    * none:
    *  - BY   (order→customer): amt_c = o_totalprice in integer CENTS,
    *         status = o_orderstatus
    *  - HAS  (order→part):     qty = l_quantity, amt_c = l_extendedprice
    *         cents, status = l_returnflag
    *  - FROM (order→supplier): same lineitem attrs as HAS
    *  - IN   (containment):    all props null
    * Money is integer cents (the corpus generator writes 2dp doubles)
    * so motif predicates and RETURN aggregates over edge props stay
    * exact under the driver's hash compare — the same micro/centi-unit
    * discipline as [[graft.ops.Det]]. The frame is a union of projected
    * scans (no build-time shuffle); prop filters push into the parquet
    * scan of the one contributing table. */
  def edgesProps(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val nullQty = lit(null).cast("bigint").as("qty")
    val nullAmt = lit(null).cast("bigint").as("amt_c")
    val nullSt  = lit(null).cast("string").as("status")
    def cents(c: String) = expr(s"CAST(ROUND($c * 100) AS BIGINT)")
    t.nation.select((lit(NationOff) + col("n_nationkey")).as("src"),
        (lit(RegionOff) + col("n_regionkey")).as("dst"), lit("IN").as("rel"),
        nullQty, nullAmt, nullSt)
      .unionByName(t.customer.select(
        (lit(CustomerOff) + col("c_custkey")).as("src"),
        (lit(NationOff) + col("c_nationkey")).as("dst"), lit("IN").as("rel"),
        nullQty, nullAmt, nullSt))
      .unionByName(t.supplier.select(
        (lit(SupplierOff) + col("s_suppkey")).as("src"),
        (lit(NationOff) + col("s_nationkey")).as("dst"), lit("IN").as("rel"),
        nullQty, nullAmt, nullSt))
      .unionByName(t.orders.select(
        (lit(OrderOff) + col("o_orderkey")).as("src"),
        (lit(CustomerOff) + col("o_custkey")).as("dst"), lit("BY").as("rel"),
        nullQty, cents("o_totalprice").as("amt_c"),
        col("o_orderstatus").as("status")))
      .unionByName(t.lineitem.select(
        (lit(OrderOff) + col("l_orderkey")).as("src"),
        (lit(PartOff) + col("l_partkey")).as("dst"), lit("HAS").as("rel"),
        col("l_quantity").cast("bigint").as("qty"),
        cents("l_extendedprice").as("amt_c"),
        col("l_returnflag").as("status")))
      .unionByName(t.lineitem.select(
        (lit(OrderOff) + col("l_orderkey")).as("src"),
        (lit(SupplierOff) + col("l_suppkey")).as("dst"),
        lit("FROM").as("rel"),
        col("l_quantity").cast("bigint").as("qty"),
        cents("l_extendedprice").as("amt_c"),
        col("l_returnflag").as("status")))
  }

  /** Memoized [[edgesProps]] (NOT persisted: each motif term re-filters
    * it by rel, and Catalyst prunes the union to the one contributing
    * scan per term — persisting would pin all six projections and
    * defeat that pruning). */
  val edgesPropsCached = SessionMemo(edgesProps)

  /** All edges: (src, dst, rel). Multi-edges preserved. */
  def edges(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.nation.select((lit(NationOff) + col("n_nationkey")).as("src"),
        (lit(RegionOff) + col("n_regionkey")).as("dst"), lit("IN").as("rel"))
      .unionByName(t.customer.select(
        (lit(CustomerOff) + col("c_custkey")).as("src"),
        (lit(NationOff) + col("c_nationkey")).as("dst"), lit("IN").as("rel")))
      .unionByName(t.supplier.select(
        (lit(SupplierOff) + col("s_suppkey")).as("src"),
        (lit(NationOff) + col("s_nationkey")).as("dst"), lit("IN").as("rel")))
      .unionByName(t.orders.select(
        (lit(OrderOff) + col("o_orderkey")).as("src"),
        (lit(CustomerOff) + col("o_custkey")).as("dst"), lit("BY").as("rel")))
      .unionByName(t.lineitem.select(
        (lit(OrderOff) + col("l_orderkey")).as("src"),
        (lit(PartOff) + col("l_partkey")).as("dst"), lit("HAS").as("rel")))
      .unionByName(t.lineitem.select(
        (lit(OrderOff) + col("l_orderkey")).as("src"),
        (lit(SupplierOff) + col("l_suppkey")).as("dst"),
        lit("FROM").as("rel")))
  }

  /** GraphX view (RDD world) — built only at the GraphX boundary; all
    * relational work stays in Catalyst. Edge attr = rel. Multi-edges
    * are deduplicated: every consumer (connected components, shortest
    * paths, label propagation) is multiplicity-insensitive, and the
    * lineitem HAS/FROM duplicates only inflate Pregel message traffic
    * (algorithms needing weights — PageRank — build their own edge
    * RDD). Vertex set = edge-incident vertices ONLY (`Graph.fromEdges`)
    * so the topology is data-independent: a part no lineitem references
    * never appears as an isolated vertex shifting the PageRank 0.15
    * tail or adding singleton connected components. No consumer reads
    * vertex attributes, so the vertex-table join would buy nothing. */
  def graphx(spark: SparkSession, dir: String)
      : org.apache.spark.graphx.Graph[String, String] = {
    import org.apache.spark.graphx.{Edge, Graph}
    val erdd = edgesCached(spark, dir).distinct().rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), r.getString(2)))
    // MEMORY_AND_DISK (r16): an evicted MEMORY_ONLY graph block is
    // recomputed inline (DF distinct + row conversion) by every task
    // that touches it late in a long session; disk-spill bounds that
    // at one local write/read (see GraphXAlgos.labelPropagation).
    Graph.fromEdges(erdd, "unknown",
      edgeStorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Memoized + RDD-cached [[graphx]] view, same keying discipline as
    * [[edgesCached]]. It serves PageRank, whose double sums depend on
    * GraphX's summation order, and connected components and hop
    * distances when [[localGraphCached]] is `None` (above the size
    * gate). Graph construction (DF→RDD conversion, vertex join,
    * partition build) costs seconds at sf0.1, so those share one build.
    * `Graph.cache()` persists both the vertex and edge RDDs, so the
    * first algorithm materializes them and the rest reuse. */
  val graphxCached = SessionMemo { (spark, dir) =>
    graphx(spark, dir).cache()
  }

  /** The driver-side [[LocalGraph]] of [[dedupEdgesCached]], the same
    * edge-incident vertex set and (deduplicated) adjacency as
    * [[graphx]], from the gated collect [[LocalGraph.collectLongs]]:
    * `None` above the gate, or when an id is not a non-null BIGINT;
    * callers then take [[graphxCached]]. */
  val localGraphCached = SessionMemo { (spark, dir) =>
    LocalGraph.collectLongs(dedupEdgesCached(spark, dir)
      .select(col("src"), col("dst"))).map(LocalGraph.of)
  }
}
