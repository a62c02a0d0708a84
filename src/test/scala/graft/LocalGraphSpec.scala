package graft

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

  test("index of an absent id is negative") {
    val lg = LocalGraph(Array(10L, 20L), Array(20L, 30L))
    assert(lg.index(20L) == 1)
    for (absent <- Seq(Long.MinValue, 5L, 15L, 25L, 35L, Long.MaxValue))
      assert(lg.index(absent) < 0, s"index($absent)")
    assert(lg.hopsTo(lg.index(15L)).forall(_ == -1))
  }
}
