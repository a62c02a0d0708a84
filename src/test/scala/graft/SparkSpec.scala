package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.RDDInfo
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Jobs run inside `f` (counted by job group in the shared
    * [[SparkSpec.meter]]), and the RDDs `f` left cached after its own
    * unpersist calls. A throw from `f` propagates. */
  def jobsAndLeaks(tag: String)(f: => Unit): (Int, Seq[RDDInfo]) = {
    val sc = spark.sparkContext
    val cachedBefore = sc.getRDDStorageInfo.map(_.id).toSet
    val jobsBefore = SparkSpec.meter(tag).jobs
    SparkSpec.meter.run(tag)(f)._2.fold(e => throw e, identity)
    ((SparkSpec.meter(tag).jobs - jobsBefore).toInt,
      sc.getRDDStorageInfo.filterNot(i => cachedBefore(i.id)).toSeq)
  }

  /** A dir key no other test uses, for the same corpus: a symlink to
    * [[sfDir]] in a fresh temp dir, so session memos build on first use
    * in the calling test. Both are deleted at JVM exit (the link, not
    * its target). */
  def freshSfDir(): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sf")
    tmp.toFile.deleteOnExit()
    val link = java.nio.file.Files.createSymbolicLink(tmp.resolve("sf"),
      java.nio.file.Paths.get(sfDir))
    link.toFile.deleteOnExit()
    link.toString
  }
}

object SparkSpec {
  lazy val session: SparkSession = LocalSession(4)
  /** The per-job-group counters of [[session]]. */
  lazy val meter: KeyMeter = new KeyMeter(session)
}
