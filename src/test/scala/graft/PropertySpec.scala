package graft

import java.nio.file.Files
import graft.functions.VecSumAggregator
import graft.ops.{TextOps, VectorOps}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

// top-level so spark.implicits can derive Encoders
case class PropEmb(vec_id: Long, embedding: Array[Float], label: Int)
case class PropDoc(doc_id: Long, text: String, lang: String,
  source: String, n_chars: Long)

/** scalacheck property layer (SURVEY.md §5.2 layer 3): algebraic laws
  * for the custom Aggregator, and pipeline-vs-reference equivalence on
  * GENERATED corpora — the operators run on data they were never tuned
  * against, written to temp dirs in the driver's parquet layout.
  * (scalacheck Gen used directly — the scalatestplus bridge isn't in
  * the offline cache.) */
class PropertySpec extends SparkSpec {

  /** Deterministic sample stream from a Gen. */
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("approx_percentile stays within the GK rank-error bound") {
    import org.apache.spark.sql.functions.col
    val got = graft.ops.Stats.aggPercentileApprox(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val byFlag = Tables(spark, sfDir).lineitem
      .select(col("l_returnflag"), col("l_quantity")).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // GK with accuracy 1000 returns an element whose true rank is
    // within N/1000 of the target; verify via rank counting, with one
    // element of slack on each side for the discrete boundary
    byFlag.foreach { case (flag, vs) =>
      val n = vs.length
      val eps = n.toDouble / 1000 + 1
      Seq(0.5 -> got(flag)._1, 0.9 -> got(flag)._2).foreach {
        case (p, v) =>
          val below = vs.count(_ < v).toDouble
          val atOrBelow = vs.count(_ <= v).toDouble
          assert(below <= p * n + eps,
            s"$flag p$p: $v sits above rank ${p * n} + $eps")
          assert(atOrBelow >= p * n - eps,
            s"$flag p$p: $v sits below rank ${p * n} - $eps")
      }
    }
  }

  // ---- pure algebraic laws (fast, many cases) ----

  private val vecGen: Gen[Array[Float]] =
    Gen.containerOfN[Array, Float](8, Gen.chooseNum(-10f, 10f))

  test("VecSumAggregator merge is associative and commutative") {
    val agg = new VecSumAggregator(8)
    val triples = samples(Gen.zip(vecGen, vecGen, vecGen), 100)
    assert(triples.size >= 90)
    triples.foreach { case (a, b, c) =>
      def sum(vs: Seq[Array[Float]]): Array[Double] =
        vs.foldLeft(agg.zero)(agg.reduce)
      val abc1 = agg.merge(agg.merge(sum(Seq(a)), sum(Seq(b))), sum(Seq(c)))
      val abc2 = agg.merge(sum(Seq(a)), agg.merge(sum(Seq(b)), sum(Seq(c))))
      val cba = agg.merge(sum(Seq(c)), agg.merge(sum(Seq(b)), sum(Seq(a))))
      // float→double promotion is exact, so merge order cannot drift
      assert(abc1.toSeq == abc2.toSeq)
      assert(abc1.map(x => math.rint(x * 1e6)).toSeq ==
        cba.map(x => math.rint(x * 1e6)).toSeq)
    }
  }

  // ---- pipeline vs reference on generated corpora (few cases) ----

  private def writeDir[T <: Product : org.apache.spark.sql.Encoder](
      rows: Seq[T], table: String): String = {
    val dir = Files.createTempDirectory("graft_prop").toString
    val sess = spark
    import sess.implicits._
    spark.createDataset(rows).coalesce(1)
      .write.parquet(s"$dir/$table.parquet")
    dir
  }

  test("cosine top-k pipeline matches a sequential reference ranking") {
    val sess = spark
    import sess.implicits._
    val dims = 16
    val seeds = Seq(1, 42, 7)
    seeds.foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val vecs = (0L until 30L).map { i =>
        PropEmb(i, Array.fill(dims)(rnd.nextFloat() * 2 - 1), (i % 3).toInt)
      }
      val dir = writeDir(vecs, "embeddings")
      val got = VectorOps.embedCosineTopk(spark, dir).collect()
        .map(_.getAs[Long]("vec_id"))
      val probe = vecs.head.embedding.map(_.toDouble)
      def dot(a: Array[Double], b: Array[Double]) =
        a.zip(b).map { case (x, y) => x * y }.sum
      val ref = vecs.map { e =>
        val v = e.embedding.map(_.toDouble)
        val cos = dot(v, probe) / math.sqrt(dot(v, v) * dot(probe, probe))
        (e.vec_id, math.rint(cos * 1e4) / 1e4)
      }.sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
      assert(got.toSeq == ref.toSeq, s"seed $seed")
    }
  }

  test("n-gram Jaccard pipeline matches a set-arithmetic reference") {
    val sess = spark
    import sess.implicits._
    val words = Vector("spark", "query", "join", "scan", "sort", "group",
      "row", "data", "fast", "slow")
    val seeds = Seq(3, 99)
    seeds.foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // half the docs are perturbed copies of earlier docs → real overlap
      val base = (0 until 10).map(_ =>
        Vector.fill(12)(words(rnd.nextInt(words.size))))
      val docs = (0 until 20).map { i =>
        val toks = if (i < 10) base(i)
          else base(i - 10).updated(rnd.nextInt(12),
            words(rnd.nextInt(words.size)))
        PropDoc(i.toLong, toks.mkString(" "), "en", "src0", 128L)
      }
      val dir = writeDir(docs, "documents")
      val got = TextOps.textNgramJaccard(spark, dir).collect()
        .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
          r.getAs[Double]("jaccard")).toMap
      def tris(s: String): Set[String] =
        s.split(' ').sliding(3).map(_.mkString(" ")).toSet
      for (a <- docs; b <- docs if a.doc_id < b.doc_id) {
        val (ta, tb) = (tris(a.text), tris(b.text))
        val j = (ta intersect tb).size.toDouble / (ta union tb).size
        val jr = math.rint(j * 1000) / 1000
        if (jr >= 0.05)
          assert(got.get((a.doc_id, b.doc_id)).contains(jr),
            s"seed $seed pair ${(a.doc_id, b.doc_id)}: ref $jr, " +
              s"got ${got.get((a.doc_id, b.doc_id))}")
        else assert(!got.contains((a.doc_id, b.doc_id)))
      }
    }
  }

  test("minhash recall on generated corpora with planted near-dups") {
    val sess = spark
    import sess.implicits._
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")
    val rnd = new scala.util.Random(11)
    val base = (0 until 8).map(_ =>
      Vector.fill(30)(words(rnd.nextInt(words.size))))
    val docs = (0 until 16).map { i =>
      val toks = if (i < 8) base(i)
        else base(i - 8).updated(rnd.nextInt(30),
          words(rnd.nextInt(words.size)))
      PropDoc(i.toLong, toks.mkString(" "), "en", "src0", 128L)
    }
    val dir = writeDir(docs, "documents")
    val found = TextOps.dedupNearMinhash(spark, dir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    // each planted pair (i, i+8) differs by ≤3 of ~28 trigrams →
    // Jaccard ≥ ~0.8 → must be found
    (0 until 8).foreach { i =>
      assert(found.contains((i.toLong, (i + 8).toLong)),
        s"planted pair ($i, ${i + 8}) missed; found=$found")
    }
  }

  test("louvain phases: modularity monotone on random graphs the " +
      "operators were never tuned against") {
    // the structural claim behind both phases — community-disjoint
    // accepted steps with positive additive ΔQ — must hold on ANY
    // graph, not just the corpus; random multigraph-free undirected
    // graphs of varying density exercise acceptance paths the corpus
    // never hits (isolated vertices, tiny communities, dense cores)
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(7)
    (0 until 3).foreach { trial =>
      val n = 20 + rnd.nextInt(30)
      val edges = (0 until n * 2).map { _ =>
        val a = rnd.nextInt(n).toLong
        val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      val ded = edges.toDF("src", "dst")
      def q(lab: org.apache.spark.sql.DataFrame): Long =
        graft.ops.GraphOps.modularityStatsOn(ded, lab)
          .collect()(0).getAs[Long]("q_micro")
      val seed = graft.ops.GraphOps.lpaExactOn(ded, 2, None)
      val q0 = q(seed)
      val moved = graft.ops.GraphOps.louvainMoveLabels(ded, seed, 2)
      val q1 = q(moved)
      val merged = graft.ops.GraphOps.louvainLabels(ded, moved, 2)
      val q2 = q(merged)
      assert(q1 >= q0, s"trial $trial: move phase dropped Q $q0 -> $q1")
      assert(q2 >= q1, s"trial $trial: merge phase dropped Q $q1 -> $q2")
    }
  }

  // ---- connectivity kernels: driver solve vs the keyed loops ----

  /** Ids 0..29, about one in thirteen null: a vertex list of at most 25
    * draws leaves pair ends outside it and repeats some ids. */
  private val ccIdGen: Gen[Option[Long]] = Gen.frequency(
    12 -> Gen.choose(0L, 29L).map(Option(_)), 1 -> Gen.const(None))

  private val ccGraphGen
      : Gen[(List[Option[Long]], List[(Option[Long], Option[Long])])] =
    for {
      nv <- Gen.choose(1, 25)
      verts <- Gen.listOfN(nv, ccIdGen)
      np <- Gen.choose(0, 30)
      pairs <- Gen.listOfN(np, Gen.frequency(
        6 -> Gen.zip(ccIdGen, ccIdGen),
        1 -> ccIdGen.map(a => (a, a))))
      again <- Gen.someOf(pairs)
    } yield (verts, pairs ++ again)

  test("min-label components: the driver solve matches both keyed " +
      "loops on generated graphs (self-loops, duplicate pairs, pair " +
      "ends outside verts, duplicate and null vertex rows)") {
    val sess = spark
    import sess.implicits._
    import graft.ops.GraphOps
    def opt(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    val graphs = samples(ccGraphGen, 8)
    assert(graphs.size >= 6)
    graphs.foreach { case (vs, ps) =>
      val verts = vs.toDF("id")
      val pairs = ps.toDF("a_id", "b_id")
      val local = GraphOps.minLabelComponentsLocal(verts,
          verts.collect(), pairs.collect())
        .collect().map(r => (opt(r, 0), opt(r, 1))).toSeq.sorted
      val gated = GraphOps.minLabelComponents(verts, pairs)
        .collect().map(r => (opt(r, 0), opt(r, 1))).toSeq.sorted
      assert(gated == local)
      // both keyed loops get the duplicate and null vertex rows too,
      // and give each its own output row
      for (small <- Seq(false, true)) {
        val (lab, chk) = GraphOps.minLabelComponentsKeyed(
          verts, pairs, small)
        val keyed = lab.collect().map(r => (opt(r, 0), opt(r, 1)))
          .toSeq.sorted
        chk.unpersist(false)
        assert(keyed == local, s"small=$small verts=$vs pairs=$ps")
      }
    }
  }

  // ---- bounded SCC labels: driver solve vs the doubling closure ----

  /** Digraphs over ids 0..19: one directed cycle of 2 to 14 vertices
    * (longer than the 2^rounds-hop horizon at rounds 1 to 3), random
    * extra edges and self-loops, repeats of some edges, a source that
    * only sends (100) and a sink that only receives (101). */
  private val sccGraphGen: Gen[List[(Long, Long)]] = {
    val id = Gen.choose(0L, 19L)
    for {
      len <- Gen.choose(2, 14)
      ring <- Gen.pick(len, 0L to 19L)
      m <- Gen.choose(0, 12)
      extra <- Gen.listOfN(m, Gen.frequency(
        5 -> Gen.zip(id, id), 1 -> id.map(a => (a, a))))
      into <- id
      from <- id
      cycle = ring.toList.zip(ring.tail.toList :+ ring.head)
      es = cycle ++ extra ++ List((100L, into), (from, 101L))
      again <- Gen.someOf(es)
    } yield es ++ again
  }

  test("scc labels: the driver solve matches the doubling closure on " +
      "generated digraphs (cycles past the horizon, self-loops, " +
      "repeated edges, send-only and receive-only vertices) at 1 to 3 " +
      "rounds") {
    val sess = spark
    import sess.implicits._
    import graft.ops.GraphOps
    def labels(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val graphs = samples(sccGraphGen, 6)
    assert(graphs.size >= 4)
    graphs.foreach { es =>
      val e = es.toDF("src", "dst")
      for (rounds <- 1 to 3) {
        val local = labels(GraphOps.sccLabelsLocal(spark, e.collect(),
          rounds))
        assert(labels(GraphOps.sccLabelsOn(e, rounds)) == local)
        assert(labels(GraphOps.sccLabelsKeyed(e, rounds)) == local,
          s"rounds=$rounds edges=$es")
      }
    }
  }

  /** Cycle and attachment edges shaped like the SCC memo's: 1 to 6
    * directed rings of 2 to 5 parts over ids 0..19 (rings that share a
    * part form one multi-cycle weak component), random attachments
    * among those ids (some inside one supernode, some with an end no
    * ring touches, and 500, off every ring), and a ring of k two-part
    * supernodes (1000 + 2j ↔ 1001 + 2j) joined by attachments, k from
    * 30 to 36 on both sides of the 2^SccDoubleRounds = 32 hop
    * horizon. */
  private val liftGen: Gen[(List[(Long, Long)], List[(Long, Long)])] = {
    val id = Gen.choose(0L, 19L)
    val ring = for {
      len <- Gen.choose(2, 5)
      ps <- Gen.pick(len, 0L to 19L)
    } yield ps.toList.zip(ps.tail.toList :+ ps.head)
    for {
      nr <- Gen.choose(1, 6)
      rings <- Gen.listOfN(nr, ring)
      m <- Gen.choose(0, 15)
      att <- Gen.listOfN(m,
        Gen.zip(Gen.frequency(8 -> id, 1 -> Gen.const(500L)), id))
      k <- Gen.choose(30, 36)
    } yield {
      def s(j: Int): Long = 1000L + 2 * (j % k)
      val sup = (0 until k).toList.flatMap(j => List((s(j), s(j) + 1),
        (s(j) + 1, s(j))))
      val chain = (0 until k).toList.map(j => (s(j) + 1, s(j + 1)))
      ((rings.flatten ++ sup).distinct, att ++ chain)
    }
  }

  test("scc lift: the driver lift matches the keyed contraction and " +
      "closure on generated cycle and attachment frames (multi-cycle " +
      "weak components, attachments inside one supernode or off the " +
      "cycles, a supernode ring past the 2^SccDoubleRounds horizon)") {
    val sess = spark
    import sess.implicits._
    import graft.ops.GraphOps
    import org.apache.spark.sql.functions.col
    def labels(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val horizon = 1 << GraphOps.SccDoubleRounds
    val cases = samples(liftGen, 6)
    assert(cases.size >= 4)
    val ringSizes = cases.map { case (cs, as) =>
      val cyc = cs.toDF("src", "dst")
      val att = as.toDF("src", "dst")
      val parts = cyc.select(col("src").as("p"))
        .unionByName(cyc.select(col("dst").as("p"))).distinct()
      val (ids, sl) = GraphOps.sccLiftLocal(cyc.collect(), att.collect())
      val local = ids.toSeq.zip(sl).sorted
      val keyed = GraphOps.sccLiftKeyed(parts, cyc, att)
      assert(labels(keyed) == local, s"cycles=$cs attachments=$as")
      GraphOps.releaseChk(keyed)
      // the supernode ring is one SCC only while it fits the horizon
      val k = local.count(_._1 >= 1000) / 2
      val ringLabels = local.collect { case (p, l) if p >= 1000 => l }
      assert((ringLabels.distinct.size == 1) == (k - 1 <= horizon),
        s"k=$k labels=$ringLabels")
      k
    }
    assert(ringSizes.exists(_ - 1 <= horizon) &&
      ringSizes.exists(_ - 1 > horizon), s"ring sizes $ringSizes")
  }

  test("scc census: the driver census matches the plan census on " +
      "generated cycle and attachment frames and on the corpus") {
    val sess = spark
    import sess.implicits._
    import graft.ops.GraphOps
    import org.apache.spark.sql.functions.col
    def census(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val cases = samples(liftGen, 6)
    assert(cases.size >= 4)
    cases.foreach { case (cs, as) =>
      val cyc = cs.toDF("src", "dst")
      val att = as.toDF("src", "dst")
      val parts = cyc.select(col("src").as("p"))
        .unionByName(cyc.select(col("dst").as("p"))).distinct()
      val (ids, sl) = GraphOps.sccLiftLocal(cyc.collect(), att.collect())
      val keyed = GraphOps.sccLiftKeyed(parts, cyc, att)
      val driver = GraphOps.sccCensusLocal(spark, ids, sl)
      val plan = GraphOps.sccCensusOf(keyed)
      assert(driver.schema == plan.schema)
      val local = census(driver)
      assert(local.nonEmpty)
      assert(census(plan) == local, s"cycles=$cs attachments=$as")
      GraphOps.releaseChk(keyed)
    }
    val lift = GraphOps.sccLifted(spark, sfDir)
    assert(lift.local.isDefined)
    val corpus = census(GraphOps.graphScc(spark, sfDir))
    assert(corpus.nonEmpty)
    assert(census(GraphOps.sccCensusOf(lift.labels)) == corpus)
  }

  /** Canonical edges (u < v) over ids 0..19 with weights 1..4, so
    * equal-weight ties are common, plus parallel copies of some edges:
    * exact duplicates and reweighted ones. */
  private val msfGraphGen: Gen[List[(Long, Long, Long)]] = {
    val edge = for {
      a <- Gen.choose(0L, 19L)
      b <- Gen.choose(0L, 19L).suchThat(_ != a)
      w <- Gen.choose(1L, 4L)
    } yield (math.min(a, b), math.max(a, b), w)
    for {
      m <- Gen.choose(1, 30)
      es <- Gen.listOfN(m, edge)
      dup <- Gen.someOf(es)
      rew <- Gen.someOf(es)
      w <- Gen.choose(1L, 4L)
    } yield es ++ dup ++ rew.map { case (u, v, _) => (u, v, w) }
  }

  test("boruvka msf: the driver solve matches both keyed loops on " +
      "generated graphs (ties, parallel edges) at 1, 2 and 14 rounds") {
    val sess = spark
    import sess.implicits._
    import graft.ops.GraphOps
    def edges(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
    val graphs = samples(msfGraphGen, 4)
    assert(graphs.size >= 3)
    graphs.foreach { es =>
      val ew = es.toDF("u", "v", "w")
      for (rounds <- Seq(1, 2, 14)) {
        val local = edges(GraphOps.msfLocal(spark,
          LocalGraph.of(ew.collect()), rounds))
        assert(edges(GraphOps.msfOn(ew, rounds)) == local)
        for (small <- Seq(false, true)) {
          val keyed = GraphOps.msfKeyed(ew.localCheckpoint(true), rounds,
            small)
          assert(edges(keyed) == local,
            s"rounds=$rounds small=$small edges=$es")
          keyed.unpersist(false)
        }
      }
    }
  }

  // ---- connected components and hop distances: driver vs GraphX ----

  /** Digraphs over ids 0..15 with self-loops and repeated edges, plus a
    * chain 100 → 101 → … of 2 to 12 edges that enters the random part
    * at one of its ids, and up to 3 isolated edges (200+2k → 201+2k).
    * The landmark is the head of some edge, or 999, which no edge
    * touches. */
  private val hopGraphGen: Gen[(List[(Long, Long)], Long)] = {
    val id = Gen.choose(0L, 15L)
    for {
      m <- Gen.choose(0, 20)
      extra <- Gen.listOfN(m, Gen.frequency(
        5 -> Gen.zip(id, id), 1 -> id.map(a => (a, a))))
      len <- Gen.choose(2, 12)
      end <- id
      chain = (100L until 99L + len).toList.map(a => (a, a + 1)) :+
        ((99L + len, end))
      iso <- Gen.choose(0, 3)
      isolated = List.tabulate(iso)(k => (200L + 2 * k, 201L + 2 * k))
      es = extra ++ chain ++ isolated
      again <- Gen.someOf(es)
      landmark <- Gen.frequency(3 -> Gen.oneOf(es.map(_._2)),
        1 -> Gen.const(999L))
    } yield (es ++ again, landmark)
  }

  test("connected components and hop distances: the driver solve " +
      "matches GraphX on generated digraphs (isolated edges, " +
      "self-loops, duplicate edges, long chains, an absent landmark) " +
      "and on the corpus") {
    import graft.ops.GraphXAlgos
    import org.apache.spark.graphx.{Edge, Graph}
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getAs[Number](1).longValue)).toSeq
    val graphs = samples(hopGraphGen, 6)
    assert(graphs.size >= 4)
    graphs.foreach { case (es, landmark) =>
      val lg = LocalGraph(es.map(_._1).toArray, es.map(_._2).toArray)
      val g = Graph.fromEdges(spark.sparkContext.parallelize(
        es.map { case (a, b) => Edge(a, b, 1) }, 2), 0)
      assert(rows(GraphXAlgos.componentSizesLocal(spark, lg)) ==
        rows(GraphXAlgos.componentSizesGraphX(spark, g)), s"edges=$es")
      assert(rows(GraphXAlgos.hopsToLocal(spark, lg, landmark)) ==
        rows(GraphXAlgos.hopsToGraphX(spark, g, landmark)),
        s"landmark=$landmark edges=$es")
      g.unpersist(blocking = false)
    }
    assert(GraphModel.localGraphCached(spark, sfDir).isDefined)
    val gx = GraphModel.graphxCached(spark, sfDir)
    assert(rows(GraphXAlgos.connectedComponents(spark, sfDir)) ==
      rows(GraphXAlgos.componentSizesGraphX(spark, gx)))
    assert(rows(GraphXAlgos.shortestPaths(spark, sfDir)) ==
      rows(GraphXAlgos.hopsToGraphX(spark, gx, GraphModel.RegionOff)))
  }

  // ---- the BFS-layer kernel ----

  /** Digraphs over ids 0..11 with self-loops and repeated edges, a
    * landmark set T of 2 to 4 ids that always holds 50 (no edge
    * touches it), a nonempty subset S of T, and a depth of 1 to 4. */
  private val layerGraphGen
      : Gen[(List[(Long, Long)], Seq[Long], Seq[Long], Int)] = {
    val id = Gen.choose(0L, 11L)
    for {
      m <- Gen.choose(4, 24)
      es <- Gen.listOfN(m, Gen.frequency(
        5 -> Gen.zip(id, id), 1 -> id.map(a => (a, a))))
      again <- Gen.someOf(es)
      nt <- Gen.choose(1, 3)
      ts <- Gen.pick(nt, 0L to 11L)
      t = (ts.toSeq :+ 50L).sorted
      s <- Gen.someOf(t).map(_.toSeq)
      if s.nonEmpty
      depth <- Gen.choose(1, 4)
    } yield (es ++ again, t, s.sorted, depth)
  }

  test("bfs layer kernel: layers and path counts match a plain BFS " +
      "per landmark, and a landmark subset's layers equal a sweep from " +
      "that subset alone") {
    val sess = spark
    import sess.implicits._
    import graft.ops.GraphOps
    type Layers = Seq[Set[(Long, Long, Long)]]
    def sweep(und: org.apache.spark.sql.DataFrame, sources: Seq[Long],
        depth: Int, small: Boolean): Layers =
      GraphOps.roundScope(small) { rs =>
        GraphOps.bfsSigmaLayersMulti(und, sources, depth, rs).map(_
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet)
      }
    // σ(w) at layer k = Σ over edges (v, w), v at layer k − 1, of σ(v)
    def reference(es: Seq[(Long, Long)], sources: Seq[Long],
        depth: Int): Layers = {
      val out = sources.map { lm =>
        var layer = Map(lm -> 1L)
        var seen = Set(lm)
        layer +: (1 to depth).map { _ =>
          val next = es.collect { case (v, w) if layer.contains(v) =>
              (w, layer(v)) }
            .groupMapReduce(_._1)(_._2)(_ + _) -- seen
          seen ++= next.keySet
          layer = next
          next
        }
      }
      (0 to depth).map(k => out.zip(sources).flatMap { case (ls, lm) =>
        ls(k).map { case (id, p) => (lm, id, p) } }.toSet)
    }
    val graphs = samples(layerGraphGen, 6)
    assert(graphs.size >= 4)
    graphs.zipWithIndex.foreach { case ((es, t, s, depth), i) =>
      val und = es.toDF("src", "dst")
      val small = i % 2 == 0
      val fromT = sweep(und, t, depth, small)
      assert(fromT == reference(es, t, depth), s"T=$t edges=$es")
      assert(fromT.map(_.filter(r => s.contains(r._1))) ==
        sweep(und, s, depth, small), s"S=$s T=$t edges=$es")
    }
  }
}
