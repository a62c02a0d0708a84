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
      // the keyed loop fans a duplicated vertex row out through its
      // jump join, so it gets the distinct rows; the driver solve must
      // give each input row (duplicates included) its id's keyed label
      for (small <- Seq(false, true)) {
        val (lab, chk) = GraphOps.minLabelComponentsKeyed(
          verts.distinct(), pairs, small)
        val keyed = lab.collect().map(r => (opt(r, 0), opt(r, 1)))
        chk.unpersist(false)
        assert(keyed.length == vs.distinct.length)
        val byId = keyed.toMap
        assert(local == vs.map(v => (v, byId(v))).sorted,
          s"small=$small verts=$vs pairs=$ps")
      }
    }
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
        val local = edges(GraphOps.msfLocal(ew, ew.collect(), rounds))
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
}
