package graft

import graft.ops.{GraphOps, GraphXAlgos}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Invariant tests for the oracle=no GraphX analytics (SURVEY.md §5.2)
  * plus structural checks on the derived property graph. */
class GraphSpec extends SparkSpec {

  test("star-schema graph is one connected component") {
    // region←nation←{customer,supplier}←order←part chains connect
    // everything reachable; the corpus references every dim key, so the
    // whole graph collapses into a single component.
    val comps = GraphXAlgos.connectedComponents(spark, sfDir).collect()
    assert(comps.length == 1)
    assert(comps(0).getAs[Long]("size") ==
      GraphModel.vertices(spark, sfDir).count())
  }

  test("pagerank mass is conserved (sum ≈ vertex count)") {
    import spark.implicits._
    val edges = GraphModel.edges(spark, sfDir)
      .select(col("src"), col("dst")).distinct().rdd
      .map(r => org.apache.spark.graphx.Edge(r.getLong(0), r.getLong(1), 1))
    val g = org.apache.spark.graphx.Graph.fromEdges(edges, 0)
    val n = g.vertices.count()
    val mass = g.staticPageRank(10, 0.15).vertices.map(_._2).sum()
    assert(math.abs(mass - n) / n < 0.05,
      s"rank mass $mass should be within 5% of $n")
  }

  test("pagerank_exact: hand-computable fixed-point arithmetic on a " +
      "2-path, and the registered top-50 agrees with GraphX's ordering " +
      "at the top") {
    val sess = spark
    import sess.implicits._
    // a → b → c: after 2 iterations r(c) = 0.15 + 0.85*r1(b) where
    // r1(b) = 0.15 + 0.85*1.0 = 1.0 exactly (micro-units below)
    val tiny = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val r = GraphOps.pagerankExactOn(tiny, 2).collect()
      .map(x => x.getAs[Long]("id") -> x.getAs[Long]("r")).toMap
    assert(r(1L) == 150000L)                         // no in-edges
    assert(r(2L) == 150000L + (150000L * 85L) / 100L)  // 0.15+0.85*0.15
    assert(r(3L) == 150000L + (1000000L * 85L) / 100L) // 0.15+0.85*1.0
    // the registered query's head should rank the same hub vertices as
    // float GraphX pagerank (both put high-in-degree dims on top)
    val exactTop = GraphOps.pagerankExact(spark, sfDir).collect()
      .take(5).map(_.getAs[Long]("id")).toSet
    val floatTop = GraphXAlgos.pagerank(spark, sfDir).collect()
      .take(5).map(_.getAs[Long]("id")).toSet
    assert((exactTop intersect floatTop).size >= 3,
      s"exact=$exactTop float=$floatTop")
  }

  test("lpa_exact: hand-computed rounds on a triangle with a pendant") {
    val sess = spark
    import sess.implicits._
    // triangle 1-2-3 plus pendant 4-1 (undirected internally)
    val tiny = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 1L))
      .toDF("src", "dst")
    val r = GraphOps.lpaExactOn(tiny, 2).collect()
      .map(x => x.getAs[Long]("id") -> x.getAs[Long]("label")).toMap
    // round 1: 1→2 (min of {2,3,4}), 2→1, 3→1, 4→1
    // round 2: 1→1 (majority), 2→1, 3→1, 4→2 (its only nbr had label 2)
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L), r.toString)
  }

  test("community merge: hand-computed deltas, mutual-best acceptance") {
    val sess = spark
    import sess.implicits._
    // single edge between two singleton communities: m=1, e=1, d=1,1
    // → ΔQ = (4·1·1 − 2·1·1)/(4·1²) = 1/2 → 500000 micro, accepted
    val edge = Seq((1L, 2L)).toDF("src", "dst")
    val labs = Seq((1L, 1L), (2L, 2L)).toDF("id", "label")
    val r1 = GraphOps.communityMergeOn(edge, labs).collect()
      .map(x => (x.getAs[Long]("label"), x.getAs[Long]("partner"),
        x.getAs[Long]("delta_micro"), x.getAs[Boolean]("accepted")))
    assert(r1.toSet == Set((1L, 2L, 500000L, true),
      (2L, 1L, 500000L, true)), r1.mkString(", "))
    // two triangles bridged by one edge: m=7, e_ab=1, d_a=d_b=7
    // → ΔQ = (28 − 98)/196 < 0 → floor(−70e6/196) = −357143, refused
    val tri2 = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val labs2 = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L).toDF("id", "label")
    val r2 = GraphOps.communityMergeOn(tri2, labs2).collect()
      .map(x => (x.getAs[Long]("label"), x.getAs[Long]("delta_micro"),
        x.getAs[Boolean]("accepted")))
    assert(r2.toSet == Set((1L, -357143L, false), (4L, -357143L, false)),
      r2.mkString(", "))
    // corpus invariants: every accepted merge is mutual with positive
    // delta (the GraphSpec delta-≥-0 guarantee for the greedy round)
    val rows = GraphOps.graphCommunityMerge(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val bestOf = rows.map(r =>
      r.getAs[Long]("label") -> r.getAs[Long]("partner")).toMap
    rows.filter(_.getAs[Boolean]("accepted")).foreach { r =>
      assert(r.getAs[Long]("delta_micro") > 0L)
      assert(bestOf(r.getAs[Long]("partner")) == r.getAs[Long]("label"))
    }
  }

  test("weighted merge scorer: w=1 collapses to the unweighted scorer; " +
      "weights can flip the decision counts cannot") {
    val sess = spark
    import sess.implicits._
    val tri2 = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val labs2 = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L).toDF("id", "label")
    // all weights 1 → identical deltas to the count-based scorer
    val w1 = tri2.withColumn("w",
      org.apache.spark.sql.functions.lit(1L))
    val wdeg1 = w1.select(col("src").as("id"), col("w"))
      .unionByName(w1.select(col("dst").as("id"), col("w")))
      .groupBy(col("id"))
      .agg(org.apache.spark.sql.functions.sum(col("w")).as("d"))
    val (o1, h1) = GraphOps.communityMergeChk(w1, labs2, wdeg1)
    val got = o1.collect().map(x => (x.getAs[Long]("label"),
      x.getAs[Long]("delta_micro"), x.getAs[Boolean]("accepted"))).toSet
    h1.foreach(_.unpersist(false))
    assert(got == Set((1L, -357143L, false), (4L, -357143L, false)), got)
    // weight the bridge 20×: W=26, w_ab=20, D_a=D_b=26 →
    // ΔQ = (4·26·20 − 2·26·26)/(4·26²) = (2080−1352)/2704 > 0 → the
    // same topology the count scorer refuses is now ACCEPTED
    val wb = tri2.withColumn("w",
      org.apache.spark.sql.functions.when(
        col("src") === 3L && col("dst") === 4L, 20L).otherwise(1L))
    val wdegB = wb.select(col("src").as("id"), col("w"))
      .unionByName(wb.select(col("dst").as("id"), col("w")))
      .groupBy(col("id"))
      .agg(org.apache.spark.sql.functions.sum(col("w")).as("d"))
    val (o2, h2) = GraphOps.communityMergeChk(wb, labs2, wdegB)
    val got2 = o2.collect().map(x => (x.getAs[Long]("label"),
      x.getAs[Long]("delta_micro"), x.getAs[Boolean]("accepted"))).toSet
    h2.foreach(_.unpersist(false))
    // (4·26·20 − 2·26·26)·1e6 / (4·26²) = 728e6/2704 → floor 269230
    assert(got2 == Set((1L, 269230L, true), (4L, 269230L, true)), got2)
  }

  test("louvain: modularity monotone nondecreasing round over round") {
    // mutual-best accepted merges are disjoint with positive additive
    // ΔQ, so each contraction round can only raise modularity — the
    // invariant modularityStatsOn was factored out to check
    val ded = GraphModel.dedupEdgesCached(spark, sfDir)
    val seed = GraphOps.lpaExactOn(ded, 3,
      Some(GraphModel.dedupVertsCached(spark, sfDir)))
    val qs = (0 to GraphOps.LouvainRounds).map { r =>
      val lab = if (r == 0) seed else GraphOps.louvainLabels(ded, seed, r)
      GraphOps.modularityStatsOn(ded, lab)
        .collect()(0).getAs[Long]("q_micro")
    }
    qs.sliding(2).foreach { w => assert(w(1) >= w(0), qs.toString) }
    // on this corpus the first merge round accepts at least one pair,
    // so round 1 strictly beats the LPA seed (= graph_community_merge)
    assert(qs(1) > qs(0), qs.toString)
    // phase-1 per-node moves: community-disjoint accepted moves make
    // the positive ΔQs additive, so the same invariant holds — and the
    // merge phase stacked on the moved labels can only raise Q further
    val mq = (0 to GraphOps.LouvainMoveRounds).map { r =>
      val lab = if (r == 0) seed
        else GraphOps.louvainMoveLabels(ded, seed, r)
      GraphOps.modularityStatsOn(ded, lab)
        .collect()(0).getAs[Long]("q_micro")
    }
    mq.sliding(2).foreach { w => assert(w(1) >= w(0), mq.toString) }
    val moved = GraphOps.louvainMoveLabels(ded, seed,
      GraphOps.LouvainMoveRounds)
    val full = GraphOps.modularityStatsOn(ded,
      GraphOps.louvainLabels(ded, moved, GraphOps.LouvainRounds))
      .collect()(0).getAs[Long]("q_micro")
    assert(full >= mq.last, s"$full < ${mq.last}")
  }

  test("condensation layers: topological fixpoint inside the round " +
      "budget, every condensation edge descends a layer") {
    val rows = GraphOps.graphCondensationLayers(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val layers = rows.map(_.getAs[Int]("layer"))
    assert(layers.min == 0) // at least one source SCC
    // strictly inside the budget = the max-plus iteration CONVERGED
    // (a saturated budget could mean a truncated longest path)
    assert(layers.max < GraphOps.CondLayerRounds,
      s"round budget saturated at ${layers.max}")
    val lay = rows.map(r =>
      r.getAs[Long]("scc_id") -> r.getAs[Int]("layer")).toMap
    GraphOps.graphCondensation(spark, sfDir).collect()
      .filter(r => !r.isNullAt(r.fieldIndex("succ_scc")))
      .foreach { r =>
        val s = r.getAs[Long]("scc_id")
        val d = r.getAs[Long]("succ_scc")
        assert(lay(d) > lay(s), s"edge $s->$d: ${lay(s)} !< ${lay(d)}")
      }
  }

  test("weighted betweenness: hand-computed sigma and dependency") {
    val sess = spark
    import sess.implicits._
    // equal-weight diamond: two 4→1 routes through 2 and 3, so
    // sigma(4)=2 and each middle vertex carries exactly half the
    // dependency — the sigma split the integer form must preserve
    val dia = Seq((4L, 2L, 100L), (4L, 3L, 100L),
      (2L, 1L, 100L), (3L, 1L, 100L)).toDF("src", "dst", "len")
    val r = GraphOps.betweennessWeightedMulti(dia, Seq(1L), 3)
      .collect()
      .map(x => (x.getAs[Long]("id"), x.getAs[Long]("delta"))).toMap
    assert(r == Map(2L -> 500000L, 3L -> 500000L, 4L -> 0L), r.toString)
    // unequal weights: the cheap 4→3→1 route wins outright, so vertex
    // 3 carries the whole unit and the expensive branch carries none
    val skew = Seq((4L, 2L, 100L), (2L, 1L, 100L),
      (4L, 3L, 50L), (3L, 1L, 50L)).toDF("src", "dst", "len")
    val r2 = GraphOps.betweennessWeightedMulti(skew, Seq(1L), 3)
      .collect()
      .map(x => (x.getAs[Long]("id"), x.getAs[Long]("delta"))).toMap
    assert(r2 == Map(2L -> 0L, 3L -> 1000000L, 4L -> 0L), r2.toString)
    // corpus: deltas are nonnegative and some vertex carries load
    val top = GraphOps.graphBetweennessWeighted(spark, sfDir).collect()
    assert(top.nonEmpty)
    assert(top.forall(_.getAs[Long]("bcw_micro") >= 0L))
    assert(top.head.getAs[Long]("bcw_micro") > 0L)
  }

  test("multi-landmark weighted distances: hand-computed min-plus") {
    val sess = spark
    import sess.implicits._
    // child→parent edges toward vertex 1; the 3→2→1 route (900000)
    // beats the direct 3→1 edge (1000000)
    val wed = Seq((2L, 1L, 500000L), (3L, 2L, 400000L),
      (3L, 1L, 1000000L)).toDF("src", "dst", "len")
    val r = GraphOps.shortestPathsWeightedMultiOn(wed, Seq(1L, 2L), 3)
      .collect()
      .map(x => (x.getAs[Long]("lm"), x.getAs[Long]("id")) ->
        x.getAs[Long]("d")).toMap
    assert(r == Map((1L, 1L) -> 0L, (1L, 2L) -> 500000L,
      (1L, 3L) -> 900000L, (2L, 2L) -> 0L, (2L, 3L) -> 400000L),
      r.toString)
    // corpus: the region-0 slice must agree with the float
    // single-source sibling within micro-floor rounding
    val multi = GraphOps.graphShortestPathsWeightedMulti(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("lm")
        === GraphModel.RegionOff)
      .collect()
      .map(x => x.getAs[Long]("id") -> x.getAs[Long]("wdist_micro"))
      .toMap
    val single = GraphXAlgos.shortestPathsWeighted(spark, sfDir)
      .collect()
      .map(x => x.getAs[Long]("id") -> x.getAs[Double]("wdist")).toMap
    assert(multi.keySet == single.keySet)
    multi.foreach { case (id, micro) =>
      assert(math.abs(micro / 1e6 - single(id)) < 1e-3,
        s"id=$id micro=$micro float=${single(id)}")
    }
  }

  test("pagerank ranks dims above facts (sinks accumulate rank)") {
    val top = GraphXAlgos.pagerank(spark, sfDir).collect()
    // top-5 vertices must be regions/nations (id namespace 1–2 × 1e12)
    assert(top.take(5).forall(_.getAs[Long]("id") < 3000000000000L))
  }

  test("shortest paths: hop distance respects the hierarchy") {
    val d = GraphXAlgos.shortestPaths(spark, sfDir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Int]("dist_to_region0"))
      .toMap
    assert(d(GraphModel.RegionOff) == 0)
    // nations of region 0 are exactly the dist-1 vertices
    val natDist = d.filter { case (id, _) =>
      id >= GraphModel.NationOff && id < GraphModel.CustomerOff }
    assert(natDist.values.forall(_ == 1))
    // customers are 2 hops up, orders 3
    assert(d.filter(_._1 >= GraphModel.OrderOff).values.forall(_ == 3))
  }

  test("bfs k-hop matches shortest-path distances for reachable set") {
    val bfs = GraphOps.bfsKhop(spark, sfDir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Int]("hop")).toMap
    val sp = GraphXAlgos.shortestPaths(spark, sfDir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Int]("dist_to_region0"))
      .toMap
    // BFS follows reversed edges from region0; ShortestPaths follows
    // forward edges toward region0 — same distances, restricted to
    // vertices that reach region0 (not other regions).
    val bfsReached = bfs.keySet
    assert(bfsReached.subsetOf(sp.keySet))
    bfsReached.foreach { id => assert(bfs(id) == sp(id), s"vertex $id") }
  }

  test("weighted shortest path never exceeds hop distance") {
    // edge length = 1/multiplicity ≤ 1, so the weighted distance is
    // bounded by the hop count; equality exactly when every edge on
    // the min path has multiplicity 1.
    val hops = GraphXAlgos.shortestPaths(spark, sfDir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Int]("dist_to_region0"))
      .toMap
    val w = GraphXAlgos.shortestPathsWeighted(spark, sfDir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("wdist")).toMap
    assert(w.keySet == hops.keySet)
    w.foreach { case (id, d) =>
      assert(d <= hops(id) + 1e-9, s"vertex $id: wdist $d > hops ${hops(id)}")
    }
    assert(w(GraphModel.RegionOff) == 0.0)
  }

  test("weighted pagerank conserves the damping floor and ranks dims") {
    val top = GraphXAlgos.pagerankWeighted(spark, sfDir).collect()
    assert(top.length == 50)
    // every rank ≥ the 0.15 damping floor; top-5 are dim vertices
    assert(top.forall(_.getAs[Double]("rank") >= 0.15 - 1e-9))
    assert(top.take(5).forall(_.getAs[Long]("id") < 3000000000000L))
  }

  test("triangle count: histogram masses match the projection size") {
    val hist = GraphXAlgos.triangleCount(spark, sfDir).collect()
    val nVertices = hist.map(_.getAs[Long]("n_vertices")).sum
    val nParts = Tables(spark, sfDir).part
      .join(Tables(spark, sfDir).lineitem,
        col("p_partkey") === col("l_partkey"), "left_semi")
      .count()
    assert(nVertices == nParts)
  }

  test("co-purchase pair expansion is bounded for a hot order") {
    import spark.implicits._
    // one pathological order holding 500 distinct parts: uncapped
    // pairing would emit C(500,2) = 124,750 rows; the fanout cap must
    // hold it to C(32,2) = 496, keeping the smallest part keys.
    val hot = (1L to 500L).map(pk => (1L, pk)).toDF("ok", "pk")
    val pairs = GraphXAlgos.copurchasePairs(hot).collect()
    val cap = GraphXAlgos.MaxOrderFanout
    assert(pairs.length == cap * (cap - 1) / 2)
    assert(pairs.forall { r =>
      r.getAs[Long]("src") < r.getAs[Long]("dst") &&
        r.getAs[Long]("dst") <= cap
    })
  }

  test("delete removes exactly the tombstoned edges from the dedup set") {
    import spark.implicits._
    val existing = Seq((1L, 2L, "A"), (1L, 2L, "A"), (2L, 3L, "B"),
      (3L, 4L, "A")).toDF("src", "dst", "rel")
    val tomb = Seq((1L, 2L, "A"), (9L, 9L, "Z")).toDF("src", "dst", "rel")
    val kept = GraphOps.deleteEdges(existing, tomb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(kept == Set((2L, 3L, "B"), (3L, 4L, "A")))
  }

  test("upsert dedups on (src,dst,rel) and flags only genuinely new edges") {
    import spark.implicits._
    val existing = Seq((1L, 2L, "A"), (1L, 2L, "A"), (2L, 3L, "B"))
      .toDF("src", "dst", "rel")
    val delta = Seq((1L, 2L, "A"), (3L, 4L, "A")).toDF("src", "dst", "rel")
    val merged = GraphOps.upsertEdges(existing, delta).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getAs[Int]("is_new"))).toSet
    assert(merged == Set((1L, 2L, "A", 0), (2L, 3L, "B", 0),
      (3L, 4L, "A", 1)))
  }

  test("personalized pagerank: mass stays near sources, dims outrank") {
    val top = GraphOps.pagerankPersonalized(spark, sfDir).collect()
    assert(top.length == 50)
    // every top rank is positive (reachable from the source set), and
    // the list is sorted by (rank desc, id)
    assert(top.forall(_.getAs[Long]("rank_micro") > 0L))
    val pairs = top.map(r =>
      (r.getAs[Long]("rank_micro"), r.getAs[Long]("id")))
    assert(pairs.sameElements(pairs.sortBy { case (r, id) => (-r, id) }))
    // the aggregation targets of customer mass — nations (2e12 ids) and
    // regions (1e12) — must dominate the head of the ranking
    val head = top.take(5).map(_.getAs[Long]("id") / 1000000000000L).toSet
    assert(head.subsetOf(Set(1L, 2L)),
      s"expected only region/nation vertices in the top 5, got $head")
  }

  test("subgraph edges have both endpoints inside the vertex predicate") {
    val edges = GraphOps.subgraph(spark, sfDir).collect()
    assert(edges.nonEmpty)
    val t = Tables(spark, sfDir)
    val custOk = t.customer.filter(col("c_acctbal") > 5000)
      .select((lit(GraphModel.CustomerOff) + col("c_custkey")).as("id"))
      .collect().map(_.getLong(0)).toSet
    val natOk = t.nation.filter(col("n_regionkey") <= 1)
      .select((lit(GraphModel.NationOff) + col("n_nationkey")).as("id"))
      .collect().map(_.getLong(0)).toSet
    val ok = custOk ++ natOk
    edges.foreach { r =>
      assert(ok.contains(r.getAs[Long]("src")))
      assert(ok.contains(r.getAs[Long]("dst")))
    }
  }

  test("path counts: BFS layers with sigma = sum of predecessor sigmas") {
    val rows = GraphOps.graphPathCount(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2)))
    val byId = rows.toMap
    assert(rows.length == byId.size, "a vertex appears in two layers")
    val e = GraphModel.dedupEdgesCached(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val und = (e ++ e.map(_.swap)).groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2) }
    val source = GraphModel.CustomerOff + 1L
    assert(byId(source) == (0, 1L))
    rows.filter(_._2._1 > 0).foreach { case (id, (dist, paths)) =>
      val expected = und(id)
        .flatMap(n => byId.get(n))
        .collect { case (d, p) if d == dist - 1 => p }.sum
      assert(paths == expected, s"sigma mismatch at $id (dist $dist)")
      // and the layer is genuinely the shortest distance: no neighbor
      // sits more than one layer below
      assert(und(id).flatMap(n => byId.get(n)).forall(_._1 >= dist - 1))
    }
  }

  test("link prediction: non-edges only, counts match a recomputation") {
    val preds = GraphXAlgos.linkPredict(spark, sfDir).collect()
    assert(preds.nonEmpty)
    val e = GraphXAlgos.copurchasePairs(
      Tables(spark, sfDir).lineitem
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val und = e ++ e.map(_.swap)
    val deg = und.groupBy(_._1).map { case (v, es) => v -> es.size }
    val nbrs = und.groupBy(_._1)
      .map { case (v, es) =>
        v -> es.map(_._2)
          .filter(n => deg(n) <= GraphXAlgos.MaxLinkDegree).toSet
      }
    preds.foreach { r =>
      val (a, b, cn) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(a < b && !e.contains((a, b)), s"existing/non-canonical: $r")
      assert(cn == (nbrs(a) & nbrs(b)).size, s"cn mismatch: $r")
    }
  }

  test("random walks follow real edges, vary by hash, die only at sinks") {
    val walks = GraphOps.graphRandomWalk(spark, sfDir).collect()
    assert(walks.nonEmpty)
    val edges = GraphModel.dedupEdgesCached(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
    val srcs = edges.map(_._1)
    def v(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    walks.foreach { r =>
      val chain = r.getLong(0) :: List(1, 2, 3).map(v(r, _)).flatten
      chain.sliding(2).foreach {
        case List(a, b) => assert(edges.contains((a, b)), s"no edge $a->$b")
        case _ =>
      }
      // a walk only stops early at a genuine sink
      List(1, 2).foreach { i =>
        if (v(r, i).isDefined && v(r, i + 1).isEmpty)
          assert(!srcs.contains(v(r, i).get), s"walk died at non-sink: $r")
      }
    }
    // the hash choice actually varies: first hops hit more than one
    // vertex namespace (customers AND parts/suppliers)
    val firstHopKinds = walks.flatMap(v(_, 1))
      .map(_ / 1000000000000L).toSet
    assert(firstHopKinds.size > 1, s"first hops all one kind: $firstHopKinds")
  }

  test("HITS round 1: authority = in-degree, hub = sum of successor in-degrees") {
    val ded = GraphModel.dedupEdgesCached(spark, sfDir)
    val got = GraphOps.hitsExactOn(ded, 1).collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("a"), r.getAs[Long]("h"))).toMap
    val edges = ded.collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst")))
    val indeg = edges.groupBy(_._2).map { case (v, es) => v -> es.size.toLong }
    edges.map(_._1).distinct.foreach { u =>
      val expHub = edges.filter(_._1 == u)
        .map(e => indeg.getOrElse(e._2, 0L)).sum
      assert(got(u)._2 == expHub, s"hub of $u")
    }
    got.foreach { case (v, (a, _)) =>
      assert(a == indeg.getOrElse(v, 0L), s"auth of $v")
    }
  }

  test("hitsExactOn rejects iteration counts beyond the overflow bound") {
    intercept[IllegalArgumentException] {
      GraphOps.hitsExactOn(GraphModel.dedupEdgesCached(spark, sfDir), 3)
    }
  }

  test("katz centrality: top-50 matches a first-principles attenuated " +
      "path-count recompute") {
    val rows = GraphOps.graphKatzCentrality(spark, sfDir).collect()
    assert(rows.length == 50)
    val edges = GraphModel.dedupEdgesCached(spark, sfDir)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val verts = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var p = verts.map(_ -> 1L).toMap
    val katz = scala.collection.mutable.Map(
      verts.map(_ -> 0L).toSeq: _*)
    for (t <- 1 to 3) {
      val nxt = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => p.getOrElse(e._1, 0L)).sum
      }
      p = verts.map(v => v -> nxt.getOrElse(v, 0L)).toMap
      verts.foreach(v => katz(v) += 1000L * p(v) / (1L << t))
    }
    val expect = katz.toSeq.sortBy { case (v, k) => (-k, v) }.take(50)
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      expect.map { case (v, k) => (v, k) })
    // the sparse-frontier plan drops exact-zero vertices before the
    // top-50 cut — valid ONLY while >= 50 vertices are in-linked (each
    // then carries t1 >= 500); pin the precondition so a corpus change
    // fails here, not as a silent oracle drift
    assert(edges.map(_._2).distinct.length >= 50,
      "katz sparse-frontier precondition: need >= 50 in-linked vertices")
    assert(rows.forall(_.getLong(1) > 0L))
  }

  test("vertex upsert: last-write-wins by version, inserts flagged") {
    import spark.implicits._
    val existing = Seq(
      (1L, "customer", "old-name", 1L),
      (2L, "customer", "untouched", 1L))
      .toDF("id", "kind", "name", "version")
    val delta = Seq(
      (1L, "customer", "new-name", 2L),   // update
      (9L, "segment", "BUILDING", 2L))    // insert
      .toDF("id", "kind", "name", "version")
    val got = GraphOps.upsertVertices(existing, delta).collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("name"), r.getAs[Long]("version"),
          r.getAs[Long]("n_versions"))).toMap
    assert(got(1L) == (("new-name", 2L, 2L)))    // v2 won
    assert(got(2L) == (("untouched", 1L, 1L)))   // untouched kept
    assert(got(9L) == (("BUILDING", 2L, 1L)))    // insert, single version
    // registered surface: every emitted row is version 2, updates are
    // exactly the ids that pre-existed
    val reg = GraphOps.graphUpsertVertices(spark, sfDir).collect()
    assert(reg.nonEmpty)
    assert(reg.forall(_.getAs[Long]("version") == 2L))
    val updates = reg.filter(_.getAs[Int]("was_update") == 1)
    val inserts = reg.filter(_.getAs[Int]("was_update") == 0)
    assert(updates.forall(r => r.getAs[String]("kind") == "customer" &&
      r.getAs[String]("name").startsWith("DELINQUENT:")))
    assert(inserts.map(_.getAs[String]("kind")).toSet == Set("segment"))
    assert(inserts.length == 5) // one per market segment
  }

  test("weighted-exact pagerank: all-1 weights reduce to the unweighted " +
      "iteration, multiplicity shifts rank share") {
    import spark.implicits._
    val ded = GraphModel.dedupEdgesCached(spark, sfDir)
    // on a deduplicated edge set every multiplicity is 1, so the
    // weighted iteration must be bit-identical to the unweighted one
    val w = GraphOps.pagerankWeightedExactOn(ded, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val u = GraphOps.pagerankExactOn(ded, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w == u)
    // a doubled edge tilts the split: 1→2 twice, 1→3 once
    val multi = Seq((1L, 2L), (1L, 2L), (1L, 3L)).toDF("src", "dst")
    val got = GraphOps.pagerankWeightedExactOn(multi, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // contrib to 2: (1e6*2) div 3 = 666666 → 150000 + 566666
    // contrib to 3: (1e6*1) div 3 = 333333 → 150000 + 283333
    assert(got(2L) == 716666L && got(3L) == 433333L && got(1L) == 150000L)
  }

  test("personalized pagerank with every vertex a source is the " +
      "unweighted iteration") {
    import spark.implicits._
    def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def allSources(e: org.apache.spark.sql.DataFrame) =
      e.select(col("src").as("sid"))
        .unionByName(e.select(col("dst").as("sid")))
    // every vertex teleports 0.15 and starts at 1.0 — the plain setup
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val p = ranks(GraphOps.pagerankPersonalizedOn(path, allSources(path), 2))
    assert(p == ranks(GraphOps.pagerankExactOn(path, 2)), p)
    assert(p == Map(1L -> 150000L, 2L -> 277500L, 3L -> 1000000L), p)
    val ded = GraphModel.dedupEdgesCached(spark, sfDir)
    val verts = Some(GraphModel.dedupVertsCached(spark, sfDir))
    val got = ranks(GraphOps.pagerankPersonalizedOn(ded,
      allSources(ded), 5, verts, small = true))
    val want = ranks(GraphOps.pagerankExactOn(ded, 5, verts, small = true))
    assert(got.size == GraphModel.dedupVertCountCached(spark, sfDir))
    assert(got == want)
  }

  test("betweenness deltas match hand-computed Brandes on a diamond") {
    import spark.implicits._
    // diamond 1-2, 1-3, 2-4, 3-4 plus a tail 4-5 (undirected)
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val und = pairs.toDF("src", "dst")
      .unionByName(pairs.map(_.swap).toDF("src", "dst"))
    val got = GraphOps.betweennessFrom(und, 1L, 3).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("d")).toMap
    // sigma: 2,3 → 1; 4 → 2; 5 → 2. depth-3 frontier {5}: delta 0.
    // delta(4) = (2*(1e6+0)) div 2 = 1_000_000
    // delta(2) = delta(3) = (1*(1e6+1e6)) div 2 = 1_000_000
    assert(got == Map(2L -> 1000000L, 3L -> 1000000L,
      4L -> 1000000L, 5L -> 0L))
    // registered surface: a total order, nonnegative scores, and the
    // landmark sources themselves absent from their own sweeps
    val reg = GraphOps.graphBetweenness(spark, sfDir).collect()
    assert(reg.length == 50)
    assert(reg.forall(_.getAs[Long]("bc_micro") >= 0L))
    val scores = reg.map(_.getAs[Long]("bc_micro"))
    assert(scores.toSeq == scores.sortBy(-_).toSeq)
  }

  test("community conductance: derives exactly from the stats frame") {
    val stats = GraphOps.graphCommunityStats(spark, sfDir).collect()
      .map(r => r.getAs[Long]("label") ->
        (r.getAs[Long]("n_internal"), r.getAs[Long]("n_cut"))).toMap
    val cond = GraphOps.graphCommunityConductance(spark, sfDir)
      .collect()
    assert(cond.length == stats.size)
    cond.foreach { r =>
      val (internal, cut) = stats(r.getAs[Long]("label"))
      val den = 2 * internal + cut
      val expected: Any =
        if (den == 0) null else (1000 * cut) / den
      assert(r.get(r.fieldIndex("conductance_permille")) == expected)
      // conductance lives in [0, 1000] whenever defined
      if (den != 0) {
        val c = r.getAs[Long]("conductance_permille")
        assert(c >= 0L && c <= 1000L)
      }
    }
  }

  test("eigenvector centrality: hand-computed star graph rounds") {
    import spark.implicits._
    // star: center 1 — leaves 2, 3, 4 (undirected)
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L))
    val und = pairs.toDF("src", "dst")
      .unionByName(pairs.map(_.swap).toDF("src", "dst"))
    val got = GraphOps.eigenvectorOn(und, 3).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("eig_micro"))
      .toMap
    // r1: u(center)=3e6, u(leaf)=1e6 → v center 1e6, leaf 333333
    // r2: u(center)=3*333333=999999, u(leaf)=1e6 → v center 999999,
    //     leaf 1e6 (the classic bipartite parity swing)
    // r3: u(center)=3e6, u(leaf)=999999 → v center 1e6,
    //     leaf (1e6*999999) div 3e6 = 333333
    assert(got == Map(1L -> 1000000L, 2L -> 333333L, 3L -> 333333L,
      4L -> 333333L))
    // registered surface: positive scores, max = 1e6, sorted desc
    val reg = GraphOps.graphEigenvectorCentrality(spark, sfDir)
      .collect()
    assert(reg.length == 50)
    val scores = reg.map(_.getAs[Long]("eig_micro"))
    assert(scores.head == 1000000L)
    assert(scores.forall(_ > 0L))
    assert(scores.toSeq == scores.sortBy(-_).toSeq)
  }

  test("community stats: masses reconcile with the vertex and edge sets") {
    val rows = GraphOps.graphCommunityStats(spark, sfDir).collect()
    val ded = GraphModel.dedupEdgesCached(spark, sfDir)
    val nVerts = GraphModel.dedupVertsCached(spark, sfDir).count()
    val nEdges = ded.count()
    assert(rows.map(_.getAs[Long]("size")).sum == nVerts)
    val internal = rows.map(_.getAs[Long]("n_internal")).sum
    val cutSides = rows.map(_.getAs[Long]("n_cut")).sum
    // every cut edge is counted once per side; internal + cut = |E|
    assert(cutSides % 2 == 0)
    assert(internal + cutSides / 2 == nEdges)
  }

  test("reach profile: 4 landmarks x 3 depths, layer-1 equals the " +
      "landmark's undirected neighbor count") {
    import spark.implicits._
    val rows = GraphOps.graphReachProfile(spark, sfDir).collect()
    assert(rows.length == 12)
    val ded = GraphModel.dedupEdgesCached(spark, sfDir)
    rows.filter(_.getAs[Int]("dist") == 1).foreach { r =>
      val lm = r.getAs[Long]("lm")
      val nbrs = ded.select($"src", $"dst")
        .filter($"src" === lm || $"dst" === lm)
        .select(when($"src" === lm, $"dst").otherwise($"src").as("n"))
        .distinct().count()
      assert(r.getAs[Long]("n_reached") == nbrs, s"landmark $lm")
    }
  }

  test("clustering coefficient: triangle total matches GraphX, " +
      "coefficient within [0, 1000] permille") {
    val r = GraphXAlgos.graphClusteringCoeff(spark, sfDir).collect().head
    val tri = r.getAs[Long]("n_triangles")
    val wedges = r.getAs[Long]("n_wedges")
    val coeff = r.getAs[Long]("coeff_permille")
    // GraphX counts each triangle at all 3 corners
    val viaGraphx = GraphXAlgos.triangleCount(spark, sfDir).collect()
      .map(x => x.getAs[Long]("n_triangles") * x.getAs[Long]("n_vertices"))
      .sum / 3
    assert(tri == viaGraphx)
    assert(wedges >= 3 * tri)  // every triangle closes 3 wedges
    assert(coeff >= 0 && coeff <= 1000)
    assert(coeff == 3 * tri * 1000 / wedges)
  }

  test("degree histogram: power-of-two buckets, vertex mass conserved") {
    val rows = GraphOps.graphDegreeHistogram(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val lo = r.getAs[Long]("bucket_lo")
      assert(lo > 0 && (lo & (lo - 1)) == 0, s"not a power of two: $lo")
    }
    val mass = rows.map(_.getAs[Long]("n_vertices")).sum
    assert(mass == GraphOps.degree(spark, sfDir).count())
  }

  test("node similarity: jaccard bounded by 1000, cn bounds respected") {
    val rows = GraphXAlgos.nodeSimilarity(spark, sfDir).collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      val (cn, j, ra) = (r.getAs[Long]("cn"),
        r.getAs[Long]("jaccard_permille"), r.getAs[Long]("ra_micro"))
      assert(j >= 0 && j <= 1000, s"jaccard $j")
      assert(cn >= 1 && ra >= cn * (1000000L / GraphXAlgos.MaxLinkDegree),
        s"ra $ra vs cn $cn") // each shared z contributes >= 1e6/maxdeg
    }
    val js = rows.map(_.getAs[Long]("jaccard_permille"))
    assert(js.toSeq == js.sortBy(-_).toSeq)
  }

  test("k-core peel census matches hand peeling on a clique + pendant") {
    import spark.implicits._
    // K4 clique {1,2,3,4} plus pendant 4-5
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L))
    val und = pairs.toDF("src", "dst")
      .unionByName(pairs.map(_.swap).toDF("src", "dst"))
    val got = GraphOps.kcoreOn(und, 3, 3).collect()
      .map(r => r.getAs[Int]("round") ->
        (r.getAs[Long]("n_removed"), r.getAs[Long]("n_remaining")))
      .toMap
    // round 1 peels the pendant (deg 1 < 3); the K4 is a stable 3-core
    assert(got == Map(1 -> ((1L, 4L)), 2 -> ((0L, 4L)),
      3 -> ((0L, 4L))))
    // registered surface converges on this corpus within its rounds
    val reg = GraphOps.graphKcore(spark, sfDir).collect()
    assert(reg.length == 4)
    val remaining = reg.sortBy(_.getAs[Int]("round"))
      .map(_.getAs[Long]("n_remaining"))
    assert(remaining.zip(remaining.tail).forall { case (a, b) => b <= a },
      "peeling must be monotone")
  }

  test("harmonic closeness: positive, totally ordered, landmark " +
      "neighbors outrank the fringe") {
    val rows = GraphOps.graphClosenessHarmonic(spark, sfDir).collect()
    assert(rows.length == 50)
    val scores = rows.map(_.getAs[Long]("hc_micro"))
    assert(scores.forall(_ > 0))
    assert(scores.toSeq == scores.sortBy(-_).toSeq)
    // nation of customer #1 is one hop from a landmark → its score
    // includes at least one full reciprocal unit
    assert(scores.head >= 1000000L)
  }

  test("vertex lookup returns the one probed vertex") {
    val rows = GraphOps.graphVertexLookup(spark, sfDir).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("id") ==
      GraphModel.CustomerOff + 42L)
    assert(rows.head.getAs[String]("name") == "Customer#000000042")
  }

  test("ego network: edges are induced (both endpoints within 2 " +
      "undirected hops of the seed), seed's own edges all present") {
    val seed = GraphModel.CustomerOff + 1L
    val rows = GraphOps.egoNetwork(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // recompute the 2-hop undirected ego set independently
    val e = GraphModel.edges(spark, sfDir)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (e ++ e.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    val h1 = adj.getOrElse(seed, Set.empty)
    val ego = h1.foldLeft(h1 + seed)((acc, v) =>
      acc ++ adj.getOrElse(v, Set.empty))
    rows.foreach { r =>
      assert(ego(r.getAs[Long]("src")) && ego(r.getAs[Long]("dst")),
        s"non-induced edge ${r.getAs[Long]("src")}->${r.getAs[Long]("dst")}")
    }
    // every edge incident to the seed survives induction
    val got = rows.map(r =>
      (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
    e.filter(p => p._1 == seed || p._2 == seed)
      .foreach(p => assert(got(p), s"missing seed edge $p"))
  }

  test("path trace: every witness path walks real edges from the " +
      "vertex to the root at its BFS depth") {
    val rows = GraphOps.graphShortestPathTrace(spark, sfDir).collect()
    val hops = GraphOps.bfsKhop(spark, sfDir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Int]("hop")).toMap
    assert(rows.length == hops.size, "one path per reached vertex")
    val edges = GraphModel.edgesCached(spark, sfDir)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    rows.foreach { r =>
      val id = r.getAs[Long]("id")
      val hop = r.getAs[Int]("hop")
      val path = r.getAs[String]("path_str").split("->").toSeq.map(_.toLong)
      assert(hop == hops(id), s"$id layered at $hop, BFS says ${hops(id)}")
      assert(path.length == hop + 1, s"$id path length != hop+1")
      assert(path.head == id && path.last == GraphModel.RegionOff)
      path.sliding(2).foreach {
        case scala.collection.Seq(a, b) =>
          assert(edges((a, b)), s"phantom edge $a->$b in path of $id")
        case _ =>
      }
      // each step descends exactly one BFS layer (shortest witness)
      path.zipWithIndex.foreach { case (v, i) =>
        assert(hops(v) == hop - i, s"path of $id not layer-monotone")
      }
    }
  }

  test("bipartite projection: weighted pairs collapse to the dedup " +
      "co-purchase pair set") {
    val w = GraphXAlgos.bipartiteProject(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"),
        r.getAs[Long]("weight")))
    assert(w.forall(_._3 >= 1L))
    assert(w.forall(p => p._1 < p._2), "pairs must be canonical src<dst")
    val ded = GraphXAlgos.copurchasePairs(Tables(spark, sfDir).lineitem
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(w.map(p => (p._1, p._2)).toSet == ded,
      "weighted support set must equal the dedup projection")
    assert(w.exists(_._3 > 1L),
      "corpus has no pair co-ordered twice — weight column untested")
  }

  test("modularity: components reconcile with community stats and the " +
      "floor quotient is exact") {
    val r = GraphOps.graphModularity(spark, sfDir).collect().head
    val stats = GraphOps.graphCommunityStats(spark, sfDir).collect()
    val nEdges = GraphModel.dedupEdgesCached(spark, sfDir).count()
    assert(r.getAs[Long]("n_edges") == nEdges)
    assert(r.getAs[Long]("n_communities") == stats.length)
    assert(r.getAs[Long]("sum_intra") ==
      stats.map(_.getAs[Long]("n_internal")).sum)
    // recompute Q in BigInt from the emitted components
    val m = BigInt(r.getAs[Long]("n_edges"))
    val num = BigInt(1000000) *
      (4 * m * r.getAs[Long]("sum_intra") - BigInt(r.getAs[Long]("sum_dc2")))
    val den = 4 * m * m
    val expect = (num - num.mod(den)) / den // BigInt.mod is floor-style
    assert(BigInt(r.getAs[Long]("q_micro")) == expect)
    // theoretical modularity bounds: −1/2 ≤ Q ≤ 1. Q is genuinely
    // NEGATIVE on this corpus (−0.17 at sf0.001): the order↔customer/
    // part graph is near-bipartite, and bipartite structure is the
    // textbook worse-than-random case for edge-locality partitions —
    // exactly the signal the scalar exists to surface
    assert(r.getAs[Long]("q_micro") >= -500000L &&
      r.getAs[Long]("q_micro") <= 1000000L)
  }

  test("ktruss: monotone peel, masses conserve, round-1 census " +
      "reconciles with the projection size") {
    val rows = GraphXAlgos.graphKtruss(spark, sfDir).collect()
      .sortBy(_.getAs[Int]("round"))
    assert(rows.map(_.getAs[Int]("round")).toSeq == Seq(1, 2, 3))
    val nPairs = GraphXAlgos.copurchasePairs(
      Tables(spark, sfDir).lineitem
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")))
      .count()
    assert(rows.head.getAs[Long]("n_removed")
      + rows.head.getAs[Long]("n_remaining") == nPairs)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        // the next round starts from the previous round's survivors
        assert(b.getAs[Long]("n_removed") + b.getAs[Long]("n_remaining")
          == a.getAs[Long]("n_remaining"))
        // survivor count shrinks monotonically
        assert(b.getAs[Long]("n_remaining")
          <= a.getAs[Long]("n_remaining"))
      case _ =>
    }
  }

  test("avg path length: reconciles with the reach profile layer " +
      "masses per landmark") {
    val apl = GraphOps.graphAvgPathLength(spark, sfDir).collect()
      .map(r => r.getAs[Long]("lm") ->
        (r.getAs[Long]("n_reached"), r.getAs[Long]("sum_dist"),
          r.getAs[Long]("mean_micro"))).toMap
    val prof = GraphOps.graphReachProfile(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("lm"))
    assert(apl.keySet == prof.keySet)
    prof.foreach { case (lm, rows) =>
      val n = rows.map(_.getAs[Long]("n_reached")).sum
      val s = rows.map(r =>
        r.getAs[Int]("dist") * r.getAs[Long]("n_reached")).sum
      val (gotN, gotS, gotM) = apl(lm)
      assert(gotN == n && gotS == s, s"landmark $lm masses")
      assert(gotM == 1000000L * s / n, s"landmark $lm mean")
      assert(gotM >= 1000000L && gotM <= 3000000L,
        s"mean outside the 1..3 hop horizon")
    }
  }

  test("local clustering: coefficients bounded, formula exact, a " +
      "top slice carries signal") {
    val rows = GraphXAlgos.graphLocalClustering(spark, sfDir).collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      val d = r.getAs[Long]("d"); val tri = r.getAs[Long]("n_tri")
      val lc = r.getAs[Long]("lc_permille")
      assert(d >= 2)
      assert(lc == 2000 * tri / (d * (d - 1)), s"formula at ${r.get(0)}")
      assert(lc >= 0 && lc <= 1000, s"lc $lc out of bounds")
    }
    // the top-50 slice must carry real signal (the projection is
    // built from per-order cliques, so triangles exist)
    assert(rows.head.getAs[Long]("lc_permille") > 0L)
    val lcs = rows.map(_.getAs[Long]("lc_permille"))
    assert(lcs.toSeq == lcs.sortBy(-_).toSeq, "not ranked by lc")
  }

  test("assortativity: exact rational from the emitted moments, " +
      "bounded, ends double-count edges") {
    val r = GraphOps.graphAssortativity(spark, sfDir).collect().head
    val m = GraphModel.dedupEdgesCached(spark, sfDir).count()
    assert(r.getAs[Long]("n_ends") == 2 * m)
    val n = BigInt(r.getAs[Long]("n_ends"))
    val sx = BigInt(r.getAs[Long]("sum_deg"))
    val num = BigInt(1000000) *
      (n * r.getAs[Long]("sum_xy") - sx * sx)
    val den = n * r.getAs[Long]("sum_x2") - sx * sx
    assert((num - num.mod(den)) / den ==
      BigInt(r.getAs[Long]("r_micro")))
    // Pearson bound, and this hub-and-spoke corpus is disassortative
    assert(r.getAs[Long]("r_micro") >= -1000000L &&
      r.getAs[Long]("r_micro") < 0L)
  }

  test("community refine: sizes agree with louvain, part counts " +
      "match a driver-side component recompute") {
    val refine = GraphOps.graphCommunityRefine(spark, sfDir).collect()
    val sizes = GraphOps.graphLouvain(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("size")).toMap
    assert(refine.map(_.getLong(0)).toSet == sizes.keySet)
    refine.foreach { r =>
      assert(r.getAs[Long]("n_nodes") == sizes(r.getLong(0)))
      val p = r.getAs[Long]("n_parts")
      assert(p >= 1 && p <= r.getAs[Long]("n_nodes"))
      assert(r.getAs[Boolean]("is_split") == (p > 1))
    }
    // recompute parts from first principles: per community, connected
    // components over its internal edges (union-find on the driver)
    val ded = GraphModel.dedupEdgesCached(spark, sfDir)
    val lab = GraphOps.louvainLabels(ded,
      GraphOps.lpaExactOn(ded, 3,
        Some(GraphModel.dedupVertsCached(spark, sfDir))),
      GraphOps.LouvainRounds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val within = ded.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(e => lab(e._1) == lab(e._2))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    lab.keys.foreach(v => parent(v) = v)
    within.foreach { case (a, b) => parent(find(a)) = find(b) }
    val expParts = lab.keys.groupBy(lab)
      .view.mapValues(_.map(find).toSet.size.toLong).toMap
    refine.foreach { r =>
      assert(r.getAs[Long]("n_parts") == expParts(r.getLong(0)),
        s"community ${r.getLong(0)}")
    }
  }

  test("leiden: sizes match a driver-side union-find refine replay, " +
      "modularity never below plain louvain") {
    import spark.implicits._
    val ded = GraphModel.dedupEdgesCached(spark, sfDir)
    val lou = GraphOps.louvainLabels(ded,
      GraphOps.lpaExactOn(ded, 3,
        Some(GraphModel.dedupVertsCached(spark, sfDir))),
      GraphOps.LouvainRounds)
    val lab = lou.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // refine replay: union-find over within-community edges, each
    // part re-seeded under its MIN member id (the operator's contract)
    val within = ded.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(e => lab(e._1) == lab(e._2))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    lab.keys.foreach(v => parent(v) = v)
    within.foreach { case (a, b) => parent(find(a)) = find(b) }
    val minOfRoot = lab.keys.groupBy(find)
      .view.mapValues(_.min).toMap
    val seed = lab.keys.toSeq.map(v => (v, minOfRoot(find(v))))
      .toDF("id", "label")
    val remerged = GraphOps.louvainLabels(ded, seed,
      GraphOps.LouvainRounds)
    val expected = remerged.groupBy(col("label"))
      .agg(count(lit(1)).as("size"))
      .orderBy(col("label")).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("size"))).toSeq
    val got = GraphOps.graphLeiden(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("size"))).toSeq
    assert(got == expected)
    assert(got.map(_._2).sum == lab.size.toLong)
    // splitting a disconnected community into parts strictly raises Q
    // (the dropped cross-term −2·d_A·d_B/(4m²) had no e_AB to offset
    // it) and the merge rounds are monotone — so leiden ≥ louvain
    val qLou = GraphOps.modularityStatsOn(ded, lou)
      .collect()(0).getAs[Long]("q_micro")
    val qLei = GraphOps.modularityStatsOn(ded, remerged)
      .collect()(0).getAs[Long]("q_micro")
    assert(qLei >= qLou, s"leiden $qLei < louvain $qLou")
  }

  test("edge betweenness: exact driver-side Brandes replay " +
      "reproduces the top-50 edges") {
    val rows = GraphOps.graphEdgeBetweenness(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("ebc_micro")))
      .toSeq
    val ded = GraphModel.dedupEdgesCached(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (ded ++ ded.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    val landmarks = Seq(GraphModel.CustomerOff + 1L,
      GraphModel.SupplierOff + 1L)
    val depth = 3
    val acc = scala.collection.mutable
      .Map.empty[(Long, Long), Long].withDefaultValue(0L)
    for (s <- landmarks) {
      val layers = scala.collection.mutable.Buffer(Map(s -> 1L))
      var visited = Set(s)
      for (k <- 1 to depth) {
        val next = scala.collection.mutable
          .Map.empty[Long, Long].withDefaultValue(0L)
        for ((v, sig) <- layers(k - 1);
             n <- adj.getOrElse(v, Array.empty[Long]) if !visited(n))
          next(n) += sig
        layers += next.toMap
        visited ++= next.keySet
      }
      var delta: Map[Long, Long] =
        layers(depth).map { case (v, _) => v -> 0L }
      for (k <- (depth - 1) to 0 by -1) {
        val dnew = scala.collection.mutable
          .Map.empty[Long, Long].withDefaultValue(0L)
        for ((v, sv) <- layers(k);
             w <- adj.getOrElse(v, Array.empty[Long])
             if layers(k + 1).contains(w)) {
          val term = (BigInt(sv) * (1000000L + delta.getOrElse(w, 0L))
            / layers(k + 1)(w)).toLong
          acc((math.min(v, w), math.max(v, w))) += term
          dnew(v) += term
        }
        delta = dnew.toMap
      }
    }
    val top = acc.toSeq.sortBy { case ((a, b), t) => (-t, a, b) }
      .take(50).map { case ((a, b), t) => (a, b, t) }
    assert(rows == top)
  }

  test("girvan-newman cut: seed-component census matches a " +
      "union-find replay of the top-10 cut") {
    val r = GraphOps.graphGirvanNewmanCut(spark, sfDir).collect().head
    val ded = GraphModel.dedupEdgesCached(spark, sfDir).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq
    val cut = GraphOps.graphEdgeBetweenness(spark, sfDir).limit(10)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r.getAs[Long]("n_cut_edges") == cut.size.toLong)
    def seedComp(edges: Seq[(Long, Long)]): Long = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val q = find(p); parent(x) = q; q }
      }
      (ded.map(_._1) ++ ded.map(_._2)).foreach(v => parent(v) = v)
      edges.foreach { case (a, b) => parent(find(a)) = find(b) }
      val root = find(graft.GraphModel.RegionOff)
      parent.keys.count(v => find(v) == root).toLong
    }
    val before = seedComp(ded)
    val kept = ded.filterNot(e =>
      cut((math.min(e._1, e._2), math.max(e._1, e._2))))
    val after = seedComp(kept)
    assert(r.getAs[Long]("size_before") == before)
    assert(r.getAs[Long]("size_after") == after)
    assert(r.getAs[Long]("detached") == before - after)
  }

  test("butterfly count: C(cn,2) exact off the projection weights, " +
      "descending top-10") {
    val rows = GraphXAlgos.butterflyCount(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val weights = GraphXAlgos.bipartiteProject(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("weight"))
      .toMap
    rows.foreach { r =>
      val cn = r.getAs[Long]("cn")
      assert(cn >= 2)
      assert(cn == weights((r.getLong(0), r.getLong(1))))
      assert(r.getAs[Long]("pair_butterflies") == cn * (cn - 1) / 2)
    }
    val b = rows.map(_.getAs[Long]("pair_butterflies"))
    b.sliding(2).foreach(w => assert(w(1) <= w(0)))
    // the top pair really is the global max over the projection
    assert(b.head == weights.values.map(c => c * (c - 1) / 2).max)
  }

  test("lpa exact registered surface: (label, size) census, vertex " +
      "mass conserved") {
    // regression guard: the r10 Louvain-cache refactor briefly turned
    // this into the raw (id, label) frame — pin the registered shape
    val rows = GraphOps.lpaExact(spark, sfDir).collect()
    assert(rows.head.schema.fieldNames.toSeq == Seq("label", "size"))
    val nVerts = GraphModel.dedupEdgesCached(spark, sfDir)
      .select(col("src").as("id"))
      .unionByName(GraphModel.dedupEdgesCached(spark, sfDir)
        .select(col("dst").as("id")))
      .distinct().count()
    assert(rows.map(_.getAs[Long]("size")).sum == nVerts)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
  }

  test("adamic adar: descending, positive, cn consistent with node " +
      "similarity on shared pairs") {
    val aa = GraphXAlgos.adamicAdar(spark, sfDir).collect()
    assert(aa.length == 50)
    val scores = aa.map(_.getAs[Long]("aa_micro"))
    assert(scores.forall(_ > 0L))
    scores.sliding(2).foreach(w => assert(w(1) <= w(0)))
    // a shared neighbor has degree ≥ 2, so each term ≤ 1e6/ln 2:
    // score is bounded by cn · round(1e6/ln 2)
    val cap = math.floor(1000000.0 / math.log(2.0) + 0.5).toLong
    aa.foreach(r =>
      assert(r.getAs[Long]("aa_micro") <= r.getAs[Long]("cn") * cap))
    // cn agrees with node_similarity wherever both surfaces kept the
    // pair (identical candidate construction)
    val ns = GraphXAlgos.nodeSimilarity(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
        r.getAs[Long]("cn")).toMap
    aa.foreach { r =>
      ns.get((r.getAs[Long]("a"), r.getAs[Long]("b")))
        .foreach(c => assert(c == r.getAs[Long]("cn")))
    }
  }

  test("rich club: N_k/E_k match a driver-side recompute over the " +
      "dedup edges, phi exact permille") {
    val rows = GraphOps.graphRichClub(spark, sfDir).collect()
    val edges = GraphModel.dedupEdgesCached(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val deg = edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(rows.length == deg.values.toSeq.distinct.length)
    rows.foreach { r =>
      val k = r.getAs[Long]("k")
      val nk = deg.values.count(_ > k).toLong
      val ek = edges.count(e =>
        deg(e._1) > k && deg(e._2) > k).toLong
      assert(r.getAs[Long]("n_k") == nk, s"n_$k")
      assert(r.getAs[Long]("e_k") == ek, s"e_$k")
      if (nk < 2) assert(r.isNullAt(r.fieldIndex("phi_permille")))
      else assert(r.getAs[Long]("phi_permille") ==
        2000 * ek / (nk * (nk - 1)))
    }
    // E_k can never exceed the complete graph on the club
    rows.filter(!_.isNullAt(3)).foreach { r =>
      val nk = r.getAs[Long]("n_k")
      assert(r.getAs[Long]("e_k") <= nk * (nk - 1) / 2)
    }
  }

  test("temporal reach: arrivals are time-respecting and minimal " +
      "w.r.t. the influence edges") {
    val reach = GraphOps.graphTemporalReach(spark, sfDir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[java.sql.Date]("arr"))
    val arr = reach.toMap
    assert(arr.size == reach.length, "duplicate vertex in reach output")
    assert(arr(1L).toString == "1992-01-01", "seed arrival is the epoch")
    val edges = GraphOps.temporalInfluenceEdges(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"),
        r.getAs[java.sql.Date]("active_on")))
    // every non-seed arrival is witnessed by an in-edge whose source
    // was reached no later than the edge's activation date
    reach.filter(_._1 != 1L).foreach { case (v, a) =>
      assert(edges.exists { case (s, d, t) =>
        d == v && t == a && arr.get(s).exists(!_.after(t))
      }, s"arrival $a at $v has no time-respecting witness edge")
    }
    // one-hop minimality: a direct seed out-edge can never beat the
    // recorded arrival (deeper relaxations may be cut by the round
    // bound, but round 1 is always complete)
    edges.filter(_._1 == 1L).foreach { case (_, d, t) =>
      assert(arr.get(d).exists(!_.after(t)),
        s"direct edge to $d@$t beats recorded arrival ${arr.get(d)}")
    }
  }
  test("vertex asof: v1 state precedes the delta, inserts absent at v1") {
    val rows = GraphOps.graphVertexAsof(spark, sfDir).collect()
    val upserted = GraphOps.graphUpsertVertices(spark, sfDir).collect()
    assert(rows.length == upserted.length,
      "asof reads exactly the delta-touched vertices")
    val byId = upserted.map(r => r.getAs[Long]("id") -> r).toMap
    rows.foreach { r =>
      val u = byId(r.getAs[Long]("id"))
      assert(r.getAs[String]("name_v2") == u.getAs[String]("name"))
      if (u.getAs[Int]("was_update") == 1)
        assert("DELINQUENT:" + r.getAs[String]("name_v1") ==
          r.getAs[String]("name_v2"),
          s"update ${r.getAs[Long]("id")} v1 name wrong")
      else
        assert(r.getAs[String]("name_v1") == "<absent>",
          s"insert ${r.getAs[Long]("id")} should have no v1 state")
    }
  }

  test("eccentricity rides the closeness sweep: bounds, diameter, " +
      "and reach-profile consistency") {
    val ecc = GraphOps.graphEccentricity(spark, sfDir).collect()
    assert(ecc.nonEmpty)
    val dlb = ecc.head.getAs[Int]("diameter_lb")
    assert(ecc.forall(r => r.getAs[Int]("diameter_lb") == dlb))
    assert(dlb == ecc.map(_.getAs[Int]("ecc_bounded")).max)
    ecc.foreach { r =>
      val e = r.getAs[Int]("ecc_bounded")
      assert(e >= 1 && e <= 3)
    }
    // n_reached must equal the reach profile's per-landmark layer sum
    val rp = GraphOps.graphReachProfile(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("lm"))
      .map { case (lm, rs) => lm -> rs.map(_.getAs[Long]("n_reached")).sum }
    ecc.foreach { r =>
      assert(r.getAs[Long]("n_reached") == rp(r.getAs[Long]("lm")))
    }
  }

  test("scc core: shared-vertex cycles merge, one-way attachments " +
      "stay singletons") {
    val sess = spark
    import sess.implicits._
    // cycle A: 1→2→3→1; cycle B: 3→4→5→3 (shares 3 ⇒ one SCC of 5);
    // one-way attachment 9→1 (9 reaches the SCC, never returns)
    val e = Seq((1L,2L),(2L,3L),(3L,1L),(3L,4L),(4L,5L),(5L,3L),(9L,1L))
      .toDF("src", "dst")
    // the gated entry solves this graph on the driver, within the
    // job budget and caching nothing; the keyed doubling closure must
    // agree
    var gated = Array.empty[org.apache.spark.sql.Row]
    val (sccJobs, sccLeft) = jobsAndLeaks("budget-scc") {
      gated = GraphOps.sccLabelsOn(e, 4).collect()
    }
    assert(sccJobs <= 2, s"sccLabelsOn ran $sccJobs jobs")
    assert(sccLeft.isEmpty, s"sccLabelsOn left RDDs $sccLeft cached")
    for ((path, rows) <- Seq("gated" -> gated,
        "keyed" -> GraphOps.sccLabelsKeyed(e, 4).collect())) {
      val lab = rows
        .map(r => r.getAs[Long]("u") -> r.getAs[Long]("scc_id")).toMap
      assert(lab.keySet == Set(1L, 2L, 3L, 4L, 5L, 9L), path)
      assert(Seq(1L,2L,3L,4L,5L).map(lab).distinct.size == 1, path)
      assert(lab(1L) == 1L, path)
      assert(lab(9L) == 9L, path)
    }
  }

  test("condensation layers release every checkpoint but their " +
      "output's") {
    // the shared SCC memo is built outside the measured call
    GraphOps.graphScc(spark, sfDir).collect()
    var outRdd = -1
    val (_, layLeft) = jobsAndLeaks("leaks-layers") {
      val out = GraphOps.graphCondensationLayers(spark, sfDir)
      outRdd = out.queryExecution.logical match {
        case r: LogicalRDD => r.rdd.id
        case p => fail(s"layers output is not a checkpoint: $p")
      }
      assert(out.collect().nonEmpty)
    }
    assert(layLeft.forall(_.id == outRdd),
      s"graphCondensationLayers left RDDs $layLeft cached")
  }

  test("iterative loops release every frame they cache but their " +
      "output's, on a hand graph") {
    val sess = spark
    import sess.implicits._
    // two triangles joined by a path, plus a pendant: directed edges
    val de = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 4L), (6L, 7L))
    val e = de.toDF("src", "dst")
    val und = de.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val wed = de.map { case (a, b) => (a, b, 1000000L) }
      .toDF("src", "dst", "len")
    val multi = (de :+ ((1L, 2L))).toDF("src", "dst")
    val lab0 = (1L to 7L).map(i => (i, i)).toDF("id", "label")
    val verts = (1L to 7L).toDF("id")
    val pairs = de.toDF("a_id", "b_id")
    val ew = de.map { case (a, b) => (a, b, a * 10 + b) }
      .toDF("u", "v", "w").localCheckpoint(true)
    def ownRdd(df: org.apache.spark.sql.DataFrame): Option[Int] =
      df.queryExecution.logical match {
        case r: LogicalRDD => Some(r.rdd.id)
        case _ => None
      }
    type Frames = Seq[org.apache.spark.sql.DataFrame]
    val loops: Seq[(String, () => Frames)] = Seq(
      "pagerankExactOn" -> (() => Seq(GraphOps.pagerankExactOn(e, 3))),
      "pagerankPersonalizedOn" -> (() => Seq(GraphOps
        .pagerankPersonalizedOn(e, Seq(1L).toDF("sid"), 3, small = true))),
      "pagerankWeightedExactOn" -> (() =>
        Seq(GraphOps.pagerankWeightedExactOn(multi, 3))),
      "lpaExactOn" -> (() => Seq(GraphOps.lpaExactOn(e, 3, small = true))),
      "hitsExactOn" -> (() => Seq(GraphOps.hitsExactOn(e, 2))),
      "eigenvectorOn" -> (() => Seq(GraphOps.eigenvectorOn(und, 3))),
      "corenessOn" -> (() => Seq(GraphOps.corenessOn(und, 4))),
      "kcoreOn" -> (() => Seq(GraphOps.kcoreOn(und, 2, 3))),
      "louvainLabels" -> (() => Seq(GraphOps.louvainLabels(e, lab0, 3))),
      "louvainMoveLabels" -> (() =>
        Seq(GraphOps.louvainMoveLabels(e, lab0, 2))),
      "betweennessMulti" -> (() =>
        Seq(GraphOps.betweennessMulti(und, Seq(1L, 5L), 3, small = true))),
      "shortestPathsWeightedMultiOn" -> (() =>
        Seq(GraphOps.shortestPathsWeightedMultiOn(wed, Seq(1L), 4))),
      "betweennessWeightedMulti" -> (() =>
        Seq(GraphOps.betweennessWeightedMulti(wed, Seq(1L), 4))),
      "minLabelComponentsKeyed" -> (() => {
        val (labels, handle) =
          GraphOps.minLabelComponentsKeyed(verts, pairs, small = true)
        assert(labels.collect().length == 7)
        // the handle is a projection over the last checkpoint
        GraphOps.releaseChk(handle)
        Seq.empty
      }),
      "msfKeyed" -> (() => Seq(GraphOps.msfKeyed(ew, 3, small = false))),
      "sccLabelsKeyed" -> (() => Seq(GraphOps.sccLabelsKeyed(e, 3))))
    for ((name, run) <- loops) {
      var kept = Set.empty[Int]
      val (_, left) = jobsAndLeaks(s"leaks-$name") {
        val out = run()
        kept = out.flatMap(ownRdd).toSet
        out.foreach(f => assert(f.collect().nonEmpty, name))
      }
      assert(left.forall(i => kept(i.id)), s"$name left RDDs $left cached")
    }
  }

  test("the degree frame has one row per dedup vertex: the vertex " +
      "count the graph keys' size gate reads") {
    assert(GraphOps.undDegCached(spark, sfDir).count() ==
      GraphModel.dedupVertCountCached(spark, sfDir))
    // the two formulas (the degree memo's groupBy over both directions
    // of the dedup edges, the vertex memo's vertsWithOutDegree) on a
    // hand edge frame with a self-loop, a duplicate edge and a vertex
    // that is only ever a dst
    val sess = spark
    import sess.implicits._
    val ded = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 3L), (2L, 6L))
      .toDF("src", "dst").distinct()
    val degRows = ded.unionByName(ded.select(col("dst").as("src"),
        col("src").as("dst")))
      .groupBy(col("src")).agg(count(lit(1)).as("d")).count()
    val nVerts =
      GraphModel.vertsWithOutDegree(GraphModel.unitWeighted(ded)).count()
    assert(degRows == 4L && nVerts == 4L, s"$degRows degree rows, " +
      s"$nVerts vertices")
  }

  test("both sides of the broadcast gate give the same rows on the " +
      "corpus, and release every frame they cache") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))
    val und = GraphModel.undEdgesCached(spark, sfDir)
    val ded = GraphModel.dedupEdgesCached(spark, sfDir)
    val verts = GraphModel.dedupVertsCached(spark, sfDir)
    Seq(und, ded, verts).foreach(_.count())
    val forest = rows(GraphOps.graphMsfBoruvka(spark, sfDir))
    val (_, left) = jobsAndLeaks("gate-both-sides") {
      val ew = GraphOps.msfEdges(spark, sfDir).localCheckpoint(true)
      val loops: Seq[(String, Boolean => org.apache.spark.sql.DataFrame)] =
        Seq(
          "eigenvectorOn" -> (small =>
            GraphOps.eigenvectorOn(und, GraphOps.EigenRounds, small)),
          "corenessOn" -> (small =>
            GraphOps.corenessOn(und, GraphOps.CorenessRounds, small)),
          "pagerankExactOn" -> (small =>
            GraphOps.pagerankExactOn(ded, 5, Some(verts), small)),
          "msfKeyed" -> (small =>
            GraphOps.msfKeyed(ew, GraphOps.MsfRounds, small)))
      try for ((name, run) <- loops) {
        // each output is its own eager checkpoint, released once read
        val Seq(off, on) = Seq(false, true).map { small =>
          val out = run(small)
          try rows(out) finally GraphOps.releaseChk(out)
        }
        assert(off.nonEmpty, name)
        assert(off == on, s"$name: broadcast off vs on")
        if (name == "msfKeyed") assert(off == forest)
      } finally GraphOps.releaseChk(ew)
    }
    assert(left.isEmpty, s"left RDDs $left cached")
  }

  test("path count and ego network read the landmark sweep memo: no " +
      "traversal of their own, nothing left cached") {
    // the reach profile builds and materializes the landmark sweep;
    // the ego induction reads the edge cache
    GraphOps.graphReachProfile(spark, sfDir).collect()
    GraphModel.edgesCached(spark, sfDir).count()
    for ((name, budget, run) <- Seq(
        ("graphPathCount", 6, () => GraphOps.graphPathCount(spark, sfDir)),
        ("egoNetwork", 8, () => GraphOps.egoNetwork(spark, sfDir)))) {
      val (jobs, left) = jobsAndLeaks(s"memo-reader-$name") {
        assert(run().collect().nonEmpty, name)
      }
      assert(jobs <= budget, s"$name ran $jobs jobs")
      assert(left.isEmpty, s"$name left RDDs $left cached")
    }
  }

  test("concurrent first calls to the vertex-count memo build it once") {
    // one first call on its own key: the build's job train (table
    // reads, the count and its adaptive stages)
    val (oneCall, _) = jobsAndLeaks("memo-single") {
      GraphModel.dedupVertCountCached(spark, freshSfDir()): Unit
    }
    val dir = freshSfDir()
    val start = new java.util.concurrent.CountDownLatch(1)
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val (jobs, _) = jobsAndLeaks("memo-once") {
      // threads started here inherit the job group
      val threads = (1 to 8).map { _ =>
        val t = new Thread(() => {
          start.await()
          counts.add(GraphModel.dedupVertCountCached(spark, dir)): Unit
        })
        t.start()
        t
      }
      start.countDown()
      threads.foreach(_.join())
    }
    assert(counts.size == 8, "a caller failed")
    assert(counts.stream().distinct().count() == 1L)
    assert(jobs == oneCall,
      s"8 concurrent first calls ran $jobs jobs, one call $oneCall")
  }

  test("connected components and hop distances: a second call runs no " +
      "job beyond its output frame's and leaves no cached RDD") {
    val dir = freshSfDir()
    GraphXAlgos.connectedComponents(spark, dir).collect()
    val sp = GraphXAlgos.shortestPaths(spark, dir)
    sp.collect()
    val (ccJobs, ccLeft) = jobsAndLeaks("cc-second") {
      GraphXAlgos.connectedComponents(spark, dir).collect(): Unit
    }
    assert(ccJobs == 0 && ccLeft.isEmpty, s"$ccJobs jobs, left $ccLeft")
    val (outJobs, _) = jobsAndLeaks("sp-output")(sp.collect(): Unit)
    val (spJobs, spLeft) = jobsAndLeaks("sp-second") {
      GraphXAlgos.shortestPaths(spark, dir).collect(): Unit
    }
    assert(spJobs <= outJobs && spLeft.isEmpty,
      s"$spJobs jobs (output frame $outJobs), left $spLeft")
    // the GraphX consumers above the gate, on the materialized
    // graphxCached and edgesCached builds
    val gx = GraphModel.graphxCached(spark, dir)
    gx.vertices.count()
    gx.edges.count()
    GraphModel.edgesCached(spark, dir).count()
    val gxRuns: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "componentSizesGraphX" -> (() =>
        GraphXAlgos.componentSizesGraphX(spark, gx)),
      "hopsToGraphX" -> (() =>
        GraphXAlgos.hopsToGraphX(spark, gx, GraphModel.RegionOff)),
      "pagerank" -> (() => GraphXAlgos.pagerank(spark, dir)),
      "shortestPathsWeighted" -> (() =>
        GraphXAlgos.shortestPathsWeighted(spark, dir)),
      "labelPropagation" -> (() => GraphXAlgos.labelPropagation(spark, dir)))
    // the checkpoints an output reads are its own
    val leaks = gxRuns.flatMap { case (name, run) =>
      var reads = Set.empty[Int]
      val (_, left) = jobsAndLeaks(s"gx-$name") {
        val out = run()
        reads = out.queryExecution.logical.collectLeaves()
          .collect { case r: LogicalRDD => r.rdd.id }.toSet
        assert(out.collect().nonEmpty, name)
      }
      left.filterNot(i => reads(i.id))
        .map(i => s"$name: ${i.name} ${i.memSize + i.diskSize} B")
    }
    assert(leaks.isEmpty, s"cached RDDs left: $leaks")
    // and the shared graph is still cached
    assert(gx.vertices.getStorageLevel.useMemory &&
      gx.edges.getStorageLevel.useMemory)
  }

  test("boruvka msf and the scc census: a second call runs no job and " +
      "leaves no cached RDD, and the condensation keys read the same " +
      "lift after it") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val dir = freshSfDir()
    val firsts = Seq(
      "msf" -> (() => GraphOps.graphMsfBoruvka(spark, dir)),
      "scc" -> (() => GraphOps.graphScc(spark, dir)))
      .map { case (name, run) => (name, run, rows(run())) }
    for ((name, run, first) <- firsts) {
      var second = Seq.empty[Seq[Any]]
      val (jobs, left) = jobsAndLeaks(s"$name-second") {
        second = rows(run())
      }
      assert(jobs == 0 && left.isEmpty, s"$name: $jobs jobs, left $left")
      assert(second == first, name)
    }
    // a dir on which graphScc never ran
    val other = freshSfDir()
    for (cond <- Seq[(org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame](GraphOps.graphCondensation,
        GraphOps.graphCondensationLayers))
      assert(rows(cond(spark, dir)) == rows(cond(spark, other)))
  }

  test("scc census: every sampled basket's parts land in ONE scc, " +
      "and sizes cover at least the largest basket") {
    val t = Tables(spark, sfDir)
    val census = GraphOps.graphScc(spark, sfDir).collect()
    assert(census.nonEmpty)
    assert(census.forall(_.getAs[Long]("n_members") >= 2))
    val biggestBasket = t.lineitem
      .filter(col("l_orderkey") % GraphOps.SccOrderMod === 0)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .groupBy(col("l_orderkey")).count().agg(max(col("count")))
      .collect().head.getLong(0)
    assert(census.map(_.getAs[Long]("n_members")).max >= biggestBasket)
  }

  test("coreness: hand graph exact, corpus iteration CONVERGED at " +
      "CorenessRounds, values bounded by degree and ≥ 1") {
    import spark.implicits._
    // triangle {1,2,3} (coreness 2) + pendant 4–1 (1) + edge 5–6 (1)
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L), (5L, 6L))
    val und = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val hand = GraphOps.corenessOn(und, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hand == Map(1L -> 2L, 2L -> 2L, 3L -> 2L,
      4L -> 1L, 5L -> 1L, 6L -> 1L))
    val undC = graft.GraphModel.undEdgesCached(spark, sfDir)
    val atR = GraphOps.graphCoreness(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val atR1 = GraphOps.corenessOn(undC, GraphOps.CorenessRounds - 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(atR == atR1,
      "h-index iteration not converged at CorenessRounds — raise it")
    val deg = undC.groupBy(col("src")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    atR.foreach { case (id, c) =>
      assert(c >= 1L && c <= deg(id), s"coreness($id)=$c vs deg")
    }
  }

  test("min-label components, frontier delta (r15): long path + " +
      "pointer-adoption shape matches brute-force components") {
    import spark.implicits._
    // A 60-vertex path forces many propagation rounds (the frontier
    // shrinks to the wavefront — the delta path the r15 rewrite
    // exercises every round), and the star-with-late-attachment
    // pattern (100—101 after 100 adopts label 40's chain) exercises
    // the case the delta must NOT miss: a vertex adopting a pointer
    // whose label last changed rounds ago (the jump join reads the
    // full table, not the frontier — this test pins that).
    val path = (1L to 59L).map(i => (i, i + 1))
    val extra = Seq((40L, 100L), (100L, 101L), (200L, 201L))
    val pairs = (path ++ extra).toDF("a_id", "b_id")
    val verts = ((1L to 59L).map(identity) ++
      Seq(40L, 60L, 100L, 101L, 200L, 201L)).distinct.toDF("id")
    // both keyed variants (the broadcast one with pointer quadrupling)
    // and the gated entry, which solves this graph on the driver
    val paths = Seq(
      "keyed" -> GraphOps.minLabelComponentsKeyed(verts, pairs, false)._1,
      "keyed broadcast" ->
        GraphOps.minLabelComponentsKeyed(verts, pairs, true)._1,
      "gated" -> GraphOps.minLabelComponents(verts, pairs))
    for ((path, labels) <- paths) {
      val got = labels
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // brute force: everything on the path + the 100/101 attachment
      // is one component labeled 1; 200–201 is its own component
      (1L to 60L).foreach(i => assert(got(i) == 1L, s"v$i $path"))
      assert(got(100L) == 1L && got(101L) == 1L)
      assert(got(200L) == 200L && got(201L) == 200L)
    }
  }

  test("boruvka msf: hand graph exact MST, corpus forest is a " +
      "spanning forest (|E| = |V| − components, total weight minimal " +
      "vs sampled alternatives)") {
    import spark.implicits._
    // two components: square 1-2-3-4 with diagonal, MST = {1-2(1),
    // 2-3(2), 3-4(2)}; isolated pair 8-9(7). Equal-weight edges 2-3
    // and 3-4 (both 2) exercise the canonical tie-break.
    val ew = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 2L), (1L, 4L, 3L),
      (1L, 3L, 9L), (8L, 9L, 7L)).toDF("u", "v", "w")
    val f = GraphOps.msfOn(ew, 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(f == Set((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 2L),
      (8L, 9L, 7L)))
    // corpus: forest size = V − C (cycle-free and spanning)
    val forest = GraphOps.graphMsfBoruvka(spark, sfDir)
    val fRows = forest.collect()
    val verts = fRows.flatMap(r => Seq(r.getLong(0), r.getLong(1)))
      .distinct
    val comp = GraphOps.minLabelComponents(
      verts.toSeq.toDF("id"),
      forest.select(col("u").as("a_id"), col("v").as("b_id")))
      .select(col("cluster")).distinct().count()
    assert(fRows.length == verts.length - comp,
      s"${fRows.length} edges vs ${verts.length} verts, $comp comps")
  }

  test("connectivity kernels: small graphs solve on the driver within " +
      "a job budget and leave no cached blocks") {
    import spark.implicits._
    val pairs = (1L to 59L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val verts = (1L to 60L).toDF("id")
    val (ccJobs, ccLeft) = jobsAndLeaks("budget-cc") {
      val (labels, chk) = GraphOps.minLabelComponentsChk(verts, pairs)
      assert(labels.collect().forall(_.getLong(1) == 1L))
      chk.unpersist(false)
    }
    assert(ccJobs <= 4, s"minLabelComponents ran $ccJobs jobs")
    assert(ccLeft.isEmpty, s"minLabelComponents left RDDs $ccLeft cached")
    // the corpus forest, whole: checkpoint, collect, consumer
    val (msfJobs, msfLeft) = jobsAndLeaks("budget-msf") {
      val forest = GraphOps.graphMsfBoruvka(spark, sfDir)
      assert(forest.collect().nonEmpty)
      forest.unpersist(false)
    }
    assert(msfJobs <= 12, s"msfOn ran $msfJobs jobs")
    assert(msfLeft.isEmpty, s"msfOn left RDDs $msfLeft cached")
  }

  test("min-label components: a keyed loop that hits its round cap " +
      "throws instead of returning unconverged labels") {
    import spark.implicits._
    val pairs = (1L to 19L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val verts = (1L to 20L).toDF("id")
    val (_, left) = jobsAndLeaks("leaks-cap") {
      val e = intercept[IllegalStateException](
        GraphOps.minLabelComponentsKeyed(verts, pairs, small = false,
          maxRounds = 1))
      assert(e.getMessage.contains("1 rounds"), e.getMessage)
      assert(e.getMessage.contains("labels still changing"), e.getMessage)
    }
    // the throw releases the loop's checkpoints too
    assert(left.isEmpty, s"the capped loop left RDDs $left cached")
  }

  test("condensation: no 2-cycles (DAG necessary condition), every " +
      "census scc is a node, members sum to the part universe") {
    val cond = GraphOps.graphCondensation(spark, sfDir).collect()
    assert(cond.nonEmpty)
    val pairs = cond.filter(!_.isNullAt(2))
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    pairs.foreach { case (a, b) =>
      assert(a != b)
      assert(!pairs.contains((b, a)),
        s"2-cycle $a <-> $b — SCCs not maximal")
    }
    // NULL-successor rows are exactly the zero-edge ones
    cond.foreach { r =>
      assert(r.isNullAt(2) == (r.getAs[Long]("n_edges") == 0L))
    }
    // every census scc (multi-member) appears as a node with the
    // census's member count
    val census = GraphOps.graphScc(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nodeMembers = cond.groupBy(_.getLong(0)).view
      .mapValues(_.head.getAs[Long]("n_members")).toMap
    census.foreach { case (s, n) =>
      assert(nodeMembers.get(s).contains(n),
        s"census scc $s ($n members) missing/mismatched in condensation")
    }
  }

  test("local bridges: support equals the common-neighbor count, " +
      "bridge flag = zero support, census exact") {
    val rows = GraphXAlgos.graphLocalBridges(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val pairs = GraphXAlgos.copurchasePairsCached(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    def common(u: Long, v: Long) = (adj(u) & adj(v)).size.toLong
    val trueBridges = pairs.count(p => common(p._1, p._2) == 0L).toLong
    rows.foreach { r =>
      val (u, v) = (r.getLong(0), r.getLong(1))
      assert(r.getAs[Long]("sup") == common(u, v), s"($u,$v)")
      assert(r.getAs[Boolean]("is_bridge") == (r.getAs[Long]("sup") == 0L))
      assert(r.getAs[Long]("deg_src") == adj(u).size.toLong)
      assert(r.getAs[Long]("deg_dst") == adj(v).size.toLong)
      assert(r.getAs[Long]("n_edges") == pairs.length.toLong)
      assert(r.getAs[Long]("n_bridges") == trueBridges)
    }
    // support-ascending listing: the reported rows are the global
    // minimum-support prefix
    val sups = rows.map(_.getAs[Long]("sup"))
    assert(sups.zip(sups.tail).forall { case (a, b) => a <= b })
    val allSups = pairs.map(p => common(p._1, p._2)).sorted
    assert(sups.toSeq == allSups.take(rows.length).toSeq)
  }

  test("reciprocity: hand mutual graph scores 666 permille; the " +
      "derived DAG scores 0 with the full edge count") {
    import spark.implicits._
    val hand = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    val h = GraphOps.reciprocityOn(hand).collect().head
    assert(h.getAs[Long]("n_edges") == 3L)
    assert(h.getAs[Long]("n_reciprocal") == 2L)
    assert(h.getAs[Long]("reciprocity_permille") == 666L)
    val r = GraphOps.graphReciprocity(spark, sfDir).collect().head
    val nDed = GraphModel.dedupEdgesCached(spark, sfDir).count()
    assert(r.getAs[Long]("n_edges") == nDed)
    assert(r.getAs[Long]("n_reciprocal") == 0L)
    assert(r.getAs[Long]("reciprocity_permille") == 0L)
  }

  test("effective diameter: 90%-of-horizon depth recomputed from the " +
      "reach profile") {
    val rows = GraphOps.graphEffectiveDiameter(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val prof = GraphOps.graphReachProfile(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getAs[Long]("n_reached")))
      .groupBy(_._1)
    rows.foreach { r =>
      val layers = prof(r.getLong(0)).sortBy(_._2)
      val total = layers.map(_._3).sum
      var cum = 0L
      val eff = layers.find { l => cum += l._3; cum * 10 >= total * 9 }
        .get._2
      assert(r.getAs[Int]("eff_diam_90") == eff)
      assert(r.getAs[Long]("total_reached") == total)
      assert(eff >= 1 && eff <= 3)
    }
  }

  test("node2vec walk: every step follows an out-edge and matches the " +
      "weighted-draw recompute") {
    val rows = GraphOps.graphNode2vecWalk(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val ded = GraphModel.dedupEdgesCached(spark, sfDir)
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val out = ded.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val edgeSet = ded.toSet
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = java.lang.Long.parseLong(
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_))
        .mkString.take(15), 16)
    def uniform(walk: Long, t: Int, cands: Seq[Long]): Long =
      cands.map(d => (h60(s"$walk:$t:$d"), d)).min._2
    def biased(walk: Long, t: Int, prev: Long, cands: Seq[Long])
        : Long = {
      val ws = cands.map { d =>
        d -> (if (d == prev) GraphOps.N2vReturnW
          else if (edgeSet((prev, d))) GraphOps.N2vNeighborW
          else GraphOps.N2vFarW)
      }
      val tw = ws.map(_._2).sum
      val draw = h60(s"$walk:$t") % tw
      var cum = 0L
      ws.find { case (_, w) => cum += w; draw < cum }.get._1
    }
    rows.take(400).foreach { r =>
      val walk = r.getLong(0)
      if (!r.isNullAt(1)) {
        val v1 = r.getLong(1)
        assert(v1 == uniform(walk, 1, out(walk)))
        if (!r.isNullAt(2)) {
          val v2 = r.getLong(2)
          assert(edgeSet((v1, v2)))
          assert(v2 == biased(walk, 2, walk, out(v1)))
          if (!r.isNullAt(3))
            assert(r.getLong(3) == biased(walk, 3, v1, out(v2)))
        }
      } else assert(!out.contains(walk))
    }
  }

  test("degree centralization: matches the Freeman recompute off the " +
      "dedup degree frame, in [0, 1e6)") {
    val r = GraphOps.graphDegreeCentralization(spark, sfDir)
      .collect().head
    val ded = GraphModel.dedupEdgesCached(spark, sfDir)
      .select(col("src"), col("dst")).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val deg = (ded.map(_._1) ++ ded.map(_._2)).groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    val n = deg.size.toLong
    val dmax = deg.values.max
    val gap = n * dmax - deg.values.sum
    assert(r.getAs[Long]("n_vertices") == n)
    assert(r.getAs[Long]("max_degree") == dmax)
    assert(r.getAs[Long]("deg_gap_sum") == gap)
    val c = (BigInt(1000000) * gap / (BigInt(n - 1) * (n - 2))).toLong
    assert(r.getAs[Long]("central_micro") == c)
    assert(c >= 0L && c < 1000000L)
  }

  test("nation mixing: cells sum to the lineitem count, shares to " +
      "~1000 permille, same_nation flag consistent") {
    val rows = GraphOps.graphNationMixing(spark, sfDir).collect()
    val nLi = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    assert(rows.map(_.getAs[Long]("n_edges")).sum == nLi)
    val shares = rows.map(_.getAs[Long]("share_permille"))
    // integer-truncated shares undershoot by < 1 permille per cell
    assert(shares.sum <= 1000L && shares.sum >= 1000L - rows.length)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("same_nation") ==
        (r.getString(0) == r.getString(1)))
    }
  }

  test("degree gini: cell identity matches the O(n^2) definition over " +
      "the recomputed degree list and flags the hub-heavy shape") {
    val r = GraphOps.graphDegreeGini(spark, sfDir).collect().head
    val degs = GraphOps.degree(spark, sfDir).collect()
      .map(_.getAs[Long]("total_deg"))
    val n = BigInt(degs.length)
    val sx = degs.map(BigInt(_)).sum
    assert(r.getAs[Long]("n_vertices") == n)
    assert(r.getAs[Long]("mean_deg_milli") == 1000 * sx / n)
    // exact gini from sorted ranks: G = sum (2i - n - 1) x_(i) / (n Sx)
    val sorted = degs.sorted.map(BigInt(_))
    val num = sorted.zipWithIndex
      .map { case (x, i) => x * (2 * (i + 1) - n - 1) }.sum
    assert(BigInt(r.getAs[Long]("gini_permille")) == 1000 * num / (n * sx))
    // the derived graph is hub-heavy by construction (orders deg~2,
    // parts/nations huge): inequality must be well above uniform
    assert(r.getAs[Long]("gini_permille") >= 300L)
  }
}
