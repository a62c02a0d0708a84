package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalGraph]] on its own: no Spark session. */
class LocalGraphSpec extends AnyFunSuite {

  /** Ids 7, 17, 27, …: not dense, so a label is an id, not an index. */
  private def id(i: Int): Long = 10L * i + 7

  test("scc labels: Tarjan's explicit stack walks a 200,000-vertex " +
      "cycle and a 200,000-vertex chain without overflowing") {
    val n = 200000
    val rounds = 18 // 2^18 hops cover the whole cycle
    val chainSrc = Array.tabulate(n - 1)(id)
    val chainDst = Array.tabulate(n - 1)(i => id(i + 1))
    val cycle = LocalGraph(chainSrc :+ id(n - 1), chainDst :+ id(0))
    val cl = cycle.sccLabels(rounds)
    assert(cycle.size == n)
    assert(cl.forall(l => cycle.ids(l) == id(0)))
    val chain = LocalGraph(chainSrc, chainDst)
    val hl = chain.sccLabels(rounds)
    assert(chain.size == n)
    assert(hl.indices.forall(i => chain.ids(hl(i)) == chain.ids(i)))
  }

  test("scc labels: a cycle longer than the horizon labels each vertex " +
      "by the least vertex it meets both ways within 2^rounds hops") {
    // a directed k-cycle: the distances u → v and v → u sum to k
    def ring(k: Int): LocalGraph = LocalGraph(Array.tabulate(k)(_.toLong),
      Array.tabulate(k)(i => ((i + 1) % k).toLong))
    // k = 5 at horizon 2^1: both distances at most 2 never sum to 5
    assert(ring(5).sccLabels(1).toSeq == (0 until 5))
    // k = 6 at horizon 2^2: u meets v when u → v takes 2 to 4 hops;
    // 1 and 5 meet nothing less than 1, the rest meet 0
    assert(ring(6).sccLabels(2).toSeq == Seq(0, 1, 0, 0, 0, 1))
    // k = 5 at horizon 2^2: the whole SCC is within reach
    assert(ring(5).sccLabels(2).toSeq == Seq(0, 0, 0, 0, 0))
  }

  test("the explicit vertex set keeps isolated ids, each labeled " +
      "with itself, and drops edges with an end outside it") {
    val lg = LocalGraph(Array(5L, 3L, 9L, 3L, 1L),
      Array(3L, 5L, 3L, 4L), Array(5L, 3L, 4L, 9L))
    assert(lg.ids.toSeq == Seq(1L, 3L, 5L, 9L))
    // 3 → 4 and 4 → 9 end outside; 3 → 5 and 5 → 3 stay, in order
    assert(lg.src.map(lg.ids).toSeq == Seq(3L, 5L))
    assert(lg.dst.map(lg.ids).toSeq == Seq(5L, 3L))
    assert(lg.components.map(lg.ids).toSeq == Seq(1L, 3L, 3L, 9L))
    assert(lg.sccLabels(3).map(lg.ids).toSeq == Seq(1L, 3L, 3L, 9L))
    assert(lg.hopsTo(lg.index(3L)).toSeq == Seq(-1, 0, 1, -1))
  }

  test("weights stay with their edges when the explicit vertex set " +
      "drops edges") {
    val lg = LocalGraph(Array(5L, 3L, 9L, 1L),
      Array(3L, 5L, 3L, 4L, 9L), Array(5L, 3L, 4L, 9L, 1L),
      Some(Array(10L, 20L, 30L, 40L, 50L)))
    // 3 → 4 and 4 → 9 end outside and take 30 and 40 with them
    val kept = lg.src.indices.map(e =>
      (lg.ids(lg.src(e)), lg.ids(lg.dst(e)), lg.weight(e)))
    assert(kept == Seq((3L, 5L, 10L), (5L, 3L, 20L), (9L, 1L, 50L)))
    // an unweighted graph weighs every edge 1
    val unit = LocalGraph(Array(5L, 3L, 9L, 1L),
      Array(3L, 5L, 3L, 4L, 9L), Array(5L, 3L, 4L, 9L, 1L))
    assert(unit.src.indices.map(unit.weight) == Seq(1L, 1L, 1L))
  }

  test("of reads two-column rows as weight 1 and a third column as " +
      "the weight") {
    val two = LocalGraph.of(Array(Row(1L, 2L), Row(2L, 3L)))
    assert(two.src.indices.map(two.weight) == Seq(1L, 1L))
    val three = LocalGraph.of(Array(Row(1L, 2L, 7L), Row(2L, 3L, -4L)))
    assert(three.src.indices.map(e => (three.ids(three.src(e)),
      three.ids(three.dst(e)), three.weight(e))) ==
      Seq((1L, 2L, 7L), (2L, 3L, -4L)))
  }

  test("msf over a weighted graph: the exact MST of a hand graph, " +
      "equal weights broken by the canonical ends") {
    // square 1-2-3-4 with diagonals: MST = {1-2(1), 2-3(2), 3-4(2)};
    // the pair 8-9(7) is its own component. 2-3 and 3-4 both weigh 2
    // and 1-4 weighs 3, so the tie-break and the round order decide.
    val es = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 2L), (1L, 4L, 3L),
      (1L, 3L, 9L), (8L, 9L, 7L))
    val lg = LocalGraph.of(es.map { case (u, v, w) => Row(u, v, w) }.toArray)
    val mst = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 2L), (8L, 9L, 7L))
    assert(lg.msf(6) == mst)
    // the reversed edge list gives the same forest
    val (u, v) = (es.map(_._1).toArray, es.map(_._2).toArray)
    assert(LocalGraph(u ++ v, v, u, Some(es.map(_._3).toArray)).msf(6) ==
      mst)
    // two equal-weight edges between the same two components: the
    // least (w, least end, greatest end) wins from both sides, so no
    // cycle closes
    val tie = LocalGraph.of(Array(Row(1L, 2L, 5L), Row(3L, 4L, 5L),
      Row(1L, 3L, 1L), Row(2L, 4L, 1L)))
    assert(tie.msf(6) == Seq((1L, 2L, 5L), (1L, 3L, 1L), (2L, 4L, 1L)))
  }

  test("index of an absent id is negative") {
    val lg = LocalGraph(Array(10L, 20L), Array(20L, 30L))
    assert(lg.index(20L) == 1)
    for (absent <- Seq(Long.MinValue, 5L, 15L, 25L, 35L, Long.MaxValue))
      assert(lg.index(absent) < 0, s"index($absent)")
    assert(lg.hopsTo(lg.index(15L)).forall(_ == -1))
  }
}
