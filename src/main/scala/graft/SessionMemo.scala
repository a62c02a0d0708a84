package graft

import org.apache.spark.sql.SparkSession

/** A value built once per (session, dir) and shared by every caller in
  * that session — the persisted graph frames, the iterative labelings,
  * the vector indexes, the written source and sink dirs.
  *
  * The lock rule, stated once: `build` runs under this memo's own lock,
  * at most once per key while the build succeeds, and a build that
  * throws stores nothing, so the next call builds again. An unlocked
  * lookup could run the build in every thread that misses at once:
  * extra jobs, a leaked persisted frame per extra build, or a second
  * writer into a dir the first one is still writing. One lock per memo
  * lets independent memos build in parallel; a build may call other
  * memos, and memos nest only in dependency order (edges → dedup →
  * verts → count → LPA → Louvain → within-parts), so no lock cycle can
  * form. Entries live as long as the session's process. */
private[graft] final class SessionMemo[V](
    build: (SparkSession, String) => V) {
  private val built =
    scala.collection.mutable.HashMap.empty[(SparkSession, String), V]

  def apply(spark: SparkSession, dir: String): V = synchronized {
    built.getOrElseUpdate((spark, dir), build(spark, dir))
  }
}

private[graft] object SessionMemo {
  def apply[V](build: (SparkSession, String) => V): SessionMemo[V] =
    new SessionMemo(build)
}
