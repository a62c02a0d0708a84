package graft

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.RDDInfo
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Jobs run inside `f` (counted by job group, the listener bus
    * drained before the count is read), and the RDDs `f` left cached
    * after its own unpersist calls. */
  def jobsAndLeaks(tag: String)(f: => Unit): (Int, Seq[RDDInfo]) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties)
            .exists(_.getProperty("spark.jobGroup.id") == tag))
          jobs.incrementAndGet()
    }
    val cachedBefore = sc.getRDDStorageInfo.map(_.id).toSet
    sc.addSparkListener(listener)
    sc.setJobGroup(tag, tag)
    try f
    finally {
      sc.clearJobGroup()
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    (jobs.get, sc.getRDDStorageInfo.filterNot(i => cachedBefore(i.id)).toSeq)
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
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()
}
