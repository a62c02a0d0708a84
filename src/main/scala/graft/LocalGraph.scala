package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.LongType
import scala.collection.mutable

/** A small directed graph on the driver, the kernel of every driver
  * graph solve: dense `Int` indices 0..V−1 for the vertex ids in
  * ascending id order (a least-id tie-break is a least-index one), the
  * edges as edge-order index arrays [[src]] and [[dst]], and out- and
  * in-CSR built on first use. `LocalGraph(src, dst)` takes the
  * edge-incident ids as its vertex set; `LocalGraph(verts, src, dst)`
  * takes `verts`, isolated ids included, and drops every edge with an
  * end outside it. Each edge may carry one `Long` [[weight]], kept
  * with its edge through that drop; an unweighted graph holds no
  * weight array and weighs every edge 1. Rows come from the gated
  * collect [[LocalGraph.collectLongs]]. Methods: weak [[components]],
  * directed [[hopsTo]], bounded-horizon SCC labels ([[sccLabels]]:
  * Tarjan plus depth-capped searches), which duplicate edges,
  * self-loops and weights change none of; and the weighted Borůvka
  * forest [[msf]]. */
final class LocalGraph private (val ids: Array[Long],
    val src: Array[Int], val dst: Array[Int],
    weights: Option[Array[Long]]) {
  import LocalGraph.{MinUnionFind, csr}

  private lazy val (outOff, outDst) = csr(size, src, dst)
  private lazy val (inOff, inSrc) = csr(size, dst, src)

  def size: Int = ids.length

  /** The weight of edge `e`: 1 on an unweighted graph. */
  def weight(e: Int): Long = weights match {
    case Some(w) => w(e)
    case None => 1L
  }

  /** The index of `id`, or a negative number if `id` is not a vertex. */
  def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)

  /** Weakly connected components: per index, the least index of its
    * component (edge direction ignored). */
  def components: Array[Int] = {
    val uf = new MinUnionFind(size)
    for (e <- src.indices) uf.union(src(e), dst(e))
    Array.tabulate(size)(uf.find)
  }

  /** Directed hop counts from every index TO `target`: a breadth-first
    * search from `target` over the in-edges. −1 where `target` is not
    * reachable, and everywhere when `target` is negative (absent). */
  def hopsTo(target: Int): Array[Int] = {
    val dist = Array.fill(size)(-1)
    if (target >= 0) {
      dist(target) = 0
      bfs(inOff, inSrc, target, Long.MaxValue)((u, hops) =>
        dist(u) < 0 && { dist(u) = hops; true })
    }
    dist
  }

  /** Bounded-horizon strongly connected labels: each index's label is
    * the least index that it reaches, and that reaches it, within
    * `2^rounds` hops (itself if none is less). A shortest path between
    * two members of one SCC stays inside it (every vertex on it
    * reaches both ends), so within an SCC of s members every member
    * reaches every other in at most s − 1 hops. [[tarjan]] finds the
    * SCCs; one of at most `2^rounds + 1` members is labeled by its
    * least member outright, a larger one by a forward (out-CSR) and a
    * backward (in-CSR) breadth-first search per member, capped at
    * `2^rounds` hops and kept inside the SCC. */
  def sccLabels(rounds: Int): Array[Int] = {
    val comp = tarjan
    val horizon = 1L << (rounds max 0 min 62)
    val label = new Array[Int](size)
    // members ascend, so the head of a member list is its least index
    (0 until size).groupBy(comp(_)).values.foreach { ms =>
      if (ms.length - 1 <= horizon) ms.foreach(label(_) = ms.head)
      else {
        // u and what it reaches within the horizon inside its SCC
        def within(off: Array[Int], to: Array[Int], u: Int) = {
          val seen = mutable.BitSet(u)
          bfs(off, to, u, horizon)((w, _) =>
            comp(w) == comp(u) && seen.add(w))
          seen
        }
        ms.foreach(u => label(u) =
          (within(outOff, outDst, u) & within(inOff, inSrc, u)).head)
      }
    }
    label
  }

  /** The minimum spanning forest by synchronous Borůvka over at most
    * `rounds` rounds, edge direction ignored: per round every component
    * picks its least incident cross edge under the total order
    * (weight, least end, greatest end), all picks are unioned at once,
    * and the picked edges join the forest. Not Kruskal, so a
    * budget-truncated run returns the same partial forest as the keyed
    * loop (`GraphOps.msfKeyed`) and the oracle. The forest edges as
    * distinct (least id, greatest id, weight), ascending. */
  def msf(rounds: Int): Seq[(Long, Long, Long)] = {
    val m = src.length
    // canonical ends as indices — index order is id order, so the
    // order key compares indices where the keyed loop compares ids
    val lo = Array.tabulate(m)(e => math.min(src(e), dst(e)))
    val hi = Array.tabulate(m)(e => math.max(src(e), dst(e)))
    def before(a: Int, b: Int): Boolean = {
      val (wa, wb) = (weight(a), weight(b))
      wa < wb || wa == wb &&
        (lo(a) < lo(b) || lo(a) == lo(b) && hi(a) < hi(b))
    }
    val uf = new MinUnionFind(size)
    val comp = new Array[Int](size)
    val best = new Array[Int](size)
    val chosen = new Array[Boolean](m)
    var round = 0
    var done = false
    while (round < rounds && !done) {
      round += 1
      for (i <- 0 until size) { comp(i) = uf.find(i); best(i) = -1 }
      for (e <- 0 until m) {
        val ca = comp(lo(e))
        val cb = comp(hi(e))
        if (ca != cb) {
          if (best(ca) < 0 || before(e, best(ca))) best(ca) = e
          if (best(cb) < 0 || before(e, best(cb))) best(cb) = e
        }
      }
      val picks = best.filter(_ >= 0)
      done = picks.isEmpty
      picks.foreach { e => chosen(e) = true; uf.union(lo(e), hi(e)) }
    }
    (0 until m).filter(chosen)
      .map(e => (ids(lo(e)), ids(hi(e)), weight(e))).distinct.sorted
  }

  /** Strongly connected components by Tarjan's algorithm over the
    * out-CSR, with an explicit call stack so a long path cannot
    * overflow the thread's: the component number of every index. */
  private def tarjan: Array[Int] = {
    val index = Array.fill(size)(-1)
    val low = new Array[Int](size)
    val comp = new Array[Int](size)
    val onStack = new Array[Boolean](size)
    val stack = new Array[Int](size)
    val call = new Array[Int](size)
    // the next out-edge of each vertex to visit
    val next = java.util.Arrays.copyOf(outOff, size)
    var sp = 0
    var counter = 0
    var nComp = 0
    def open(v: Int): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      stack(sp) = v; sp += 1; onStack(v) = true
    }
    for (root <- 0 until size if index(root) < 0) {
      open(root)
      call(0) = root
      var cp = 1
      while (cp > 0) {
        val v = call(cp - 1)
        if (next(v) < outOff(v + 1)) {
          val w = outDst(next(v))
          next(v) += 1
          if (index(w) < 0) { open(w); call(cp) = w; cp += 1 }
          else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          cp -= 1
          if (cp > 0) {
            val p = call(cp - 1)
            low(p) = math.min(low(p), low(v))
          }
          if (low(v) == index(v)) {
            var w = -1
            while (w != v) {
              sp -= 1; w = stack(sp); onStack(w) = false; comp(w) = nComp
            }
            nComp += 1
          }
        }
      }
    }
    comp
  }

  /** Breadth-first search from `u` along the CSR `(off, to)`, at most
    * `horizon` hops: each target `w` of the frontier joins the next one
    * when `reach(w, hops)` is true, so `reach` marks what it keeps. */
  private def bfs(off: Array[Int], to: Array[Int], u: Int,
      horizon: Long)(reach: (Int, Int) => Boolean): Unit = {
    var frontier = Array(u)
    var hops = 0
    while (frontier.nonEmpty && hops < horizon) {
      hops += 1
      frontier = frontier.flatMap(v => to.slice(off(v), off(v + 1)))
        .filter(reach(_, hops))
    }
  }
}

object LocalGraph {
  /** The graph of the edges `src(e) → dst(e)` over their end ids. */
  def apply(src: Array[Long], dst: Array[Long]): LocalGraph =
    apply(src ++ dst, src, dst)

  /** The graph over the vertex ids `verts` (duplicates allowed) and
    * the edges `src(e) → dst(e)` with both ends in `verts`, in order,
    * each weighing `w(e)` if given. */
  def apply(verts: Array[Long], src: Array[Long], dst: Array[Long],
      w: Option[Array[Long]] = None): LocalGraph = {
    // ascending distinct ids: binarySearch is the id → index map
    val u = verts.sorted
    var n = 0
    for (x <- u) if (n == 0 || u(n - 1) != x) { u(n) = x; n += 1 }
    val ids = java.util.Arrays.copyOf(u, n)
    val s = src.map(java.util.Arrays.binarySearch(ids, _))
    val d = dst.map(java.util.Arrays.binarySearch(ids, _))
    if (s.forall(_ >= 0) && d.forall(_ >= 0)) new LocalGraph(ids, s, d, w)
    else {
      val kept = s.indices.filter(e => s(e) >= 0 && d(e) >= 0).toArray
      new LocalGraph(ids, kept.map(s), kept.map(d), w.map(kept.map(_)))
    }
  }

  /** The graph of the (src, dst) ids in the first two columns, over
    * their end ids, weighted by the third column when the rows have
    * one. */
  def of(rows: Array[Row]): LocalGraph = {
    val src = rows.map(_.getLong(0))
    val dst = rows.map(_.getLong(1))
    val w =
      if (rows.headOption.exists(_.length > 2)) Some(rows.map(_.getLong(2)))
      else None
    apply(src ++ dst, src, dst, w)
  }

  /** The size gate of the graph kernels: the most rows a graph frame
    * may have for the driver to hold it. It caps the gated collects
    * ([[collectSmall]], [[collectLongs]]: edge or vertex rows, solved
    * on a [[LocalGraph]] instead of a keyed loop), and it decides
    * which vertex-sized side frames (labels, ranks, degree sums, merge
    * and move maps) the keyed loops broadcast: localCheckpoint hides
    * size stats from AQE, so those callers count the vertices. Above
    * it every such solve runs its keyed loop and every such join a
    * keyed shuffle. Read only here; callers ask [[fits]]. */
  private val SmallGraphVerts = 2000000L

  /** The size gate on a known row or vertex count `n`. */
  private[graft] def fits(n: Long): Boolean = n <= SmallGraphVerts

  /** Rows of `df` if they [[fits]], else None: a bounded collect. */
  private[graft] def collectSmall(df: DataFrame): Option[Array[Row]] = {
    val rows = df.limit((SmallGraphVerts + 1).toInt).collect()
    if (fits(rows.length)) Some(rows) else None
  }

  /** The gate of [[collectSmall]] by a bounded count: no row ships. */
  private[graft] def fits(df: DataFrame): Boolean =
    fits(df.limit((SmallGraphVerts + 1).toInt).count())

  /** Whether every column is BIGINT, as the driver solves read them. */
  private[graft] def allLong(df: DataFrame): Boolean =
    df.schema.forall(_.dataType == LongType)

  /** Whether rows of `df` can feed a driver solve: BIGINT, no null. */
  private[graft] def readable(df: DataFrame)(rows: Array[Row]): Boolean =
    allLong(df) && !rows.exists(_.anyNull)

  /** The gated collect of the driver solves: [[collectSmall]] rows that
    * are [[readable]], else None (the caller takes its keyed loop). */
  private[graft] def collectLongs(df: DataFrame): Option[Array[Row]] =
    if (allLong(df)) collectSmall(df).filter(readable(df)) else None

  /** CSR of the edges `from(e) → to(e)` over indices 0..n−1: the
    * targets of index i are `targets(offsets(i) until offsets(i + 1))`,
    * in edge order. */
  private def csr(n: Int, from: Array[Int], to: Array[Int])
      : (Array[Int], Array[Int]) = {
    val off = new Array[Int](n + 1)
    from.foreach(i => off(i + 1) += 1)
    for (i <- 0 until n) off(i + 1) += off(i)
    val next = java.util.Arrays.copyOf(off, n)
    val targets = new Array[Int](from.length)
    for (e <- from.indices) {
      targets(next(from(e))) = to(e)
      next(from(e)) += 1
    }
    (off, targets)
  }

  /** Union-find over dense indices whose root is always the LEAST
    * index of its set. With ids indexed in ascending order (as in a
    * [[LocalGraph]]) the root is the component-min id, the label
    * every connectivity kernel carries. Path halving, no ranks. */
  private final class MinUnionFind(n: Int) {
    private val parent = Array.tabulate(n)(identity)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) {
        parent(x) = parent(parent(x))
        x = parent(x)
      }
      x
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
  }
}
