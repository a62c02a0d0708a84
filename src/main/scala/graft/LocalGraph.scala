package graft

/** A small directed graph held on the driver: dense `Int` indices
  * 0..V−1 for the vertex ids in ascending id order, plus out- and
  * in-adjacency in CSR form (offsets of length V+1 into one target
  * array per direction). Index order is id order, so a least-id
  * tie-break is a least-index tie-break.
  *
  * Built from collected `(src, dst)` pairs
  * ([[GraphModel.localGraphCached]] under the `SmallGraphVerts` gate);
  * the vertex set is the edge-incident ids. Duplicate edges stay as
  * repeated targets, which neither traversal below is sensitive to. */
final class LocalGraph private (val ids: Array[Long],
    outOff: Array[Int], outDst: Array[Int],
    inOff: Array[Int], inSrc: Array[Int]) {
  import LocalGraph.MinUnionFind

  def size: Int = ids.length

  /** The index of `id`, or a negative number if no edge touches it. */
  def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)

  /** Weakly connected components: per index, the least index of its
    * component (edge direction ignored). */
  def components: Array[Int] = {
    val uf = new MinUnionFind(size)
    for (v <- 0 until size; e <- outOff(v) until outOff(v + 1))
      uf.union(v, outDst(e))
    Array.tabulate(size)(uf.find)
  }

  /** Directed hop counts from every index TO `target`: a breadth-first
    * search from `target` over the in-edges. −1 where `target` is not
    * reachable, and everywhere when `target` is negative (absent). */
  def hopsTo(target: Int): Array[Int] = {
    val dist = Array.fill(size)(-1)
    if (target >= 0) {
      val queue = new Array[Int](size)
      queue(0) = target
      dist(target) = 0
      var head = 0
      var tail = 1
      while (head < tail) {
        val w = queue(head)
        head += 1
        for (e <- inOff(w) until inOff(w + 1)) {
          val u = inSrc(e)
          if (dist(u) < 0) { dist(u) = dist(w) + 1; queue(tail) = u; tail += 1 }
        }
      }
    }
    dist
  }
}

object LocalGraph {
  /** The graph of the edges `src(e) → dst(e)`. */
  def apply(src: Array[Long], dst: Array[Long]): LocalGraph = {
    val ids = sortedDistinct(src ++ dst)
    val s = src.map(java.util.Arrays.binarySearch(ids, _))
    val d = dst.map(java.util.Arrays.binarySearch(ids, _))
    val (outOff, outDst) = csr(ids.length, s, d)
    val (inOff, inSrc) = csr(ids.length, d, s)
    new LocalGraph(ids, outOff, outDst, inOff, inSrc)
  }

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
    * index of its set. With ids indexed in ascending order (see
    * [[sortedDistinct]]) the root is the component-min id, the label
    * every connectivity kernel carries. Path halving, no ranks. */
  private[graft] final class MinUnionFind(n: Int) {
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

  /** Ascending distinct ids: index i stands for `ids(i)`, so index
    * order is id order and `binarySearch` is the id → index map. */
  private[graft] def sortedDistinct(xs: Array[Long]): Array[Long] = {
    val s = xs.clone()
    java.util.Arrays.sort(s)
    var n = 0
    for (x <- s) if (n == 0 || s(n - 1) != x) { s(n) = x; n += 1 }
    java.util.Arrays.copyOf(s, n)
  }
}
