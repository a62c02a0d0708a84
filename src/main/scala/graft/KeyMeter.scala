package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._

/** Per-key scheduler counters, keyed by tag: the jobs, tasks,
  * executor task time, GC time and shuffle bytes of everything run
  * under a tag, the figures a wall clock hides (compute regressions
  * move task time with the wall; scheduling stalls leave it flat).
  *
  * A job counts for the [[KeyMeter.KeyProperty]] local property it was
  * submitted under, else for its job group, and its tasks for its
  * job's tag. [[run]] sets both. Jobs submitted from another thread
  * inherit them through SparkContext's inheritable local properties
  * when that thread was spawned under the tag (the `graph_warm_caches`
  * chains). A streaming query's micro-batch thread, started under the
  * tag, keeps the property although Spark runs it under its own job
  * group (the query's run id). Jobs with neither count under "_".
  *
  * Listener events arrive asynchronously, so every read drains the
  * listener bus first: a read right after [[run]] sees all of the run's
  * jobs and tasks. */
final class KeyMeter(spark: SparkSession) {
  import KeyMeter.Counts

  private val sc = spark.sparkContext
  // per group: jobs, tasks, task ms, GC ms, shuffle read B, shuffle write B
  private val acc = new ConcurrentHashMap[String, Array[Long]]()
  private val stageGroup = new ConcurrentHashMap[Integer, String]()
  private def of(g: String): Array[Long] =
    acc.computeIfAbsent(g, _ => new Array[Long](6))

  sc.addSparkListener(new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val g = Option(js.properties)
        .flatMap(p => Option(p.getProperty(KeyMeter.KeyProperty))
          .orElse(Option(p.getProperty("spark.jobGroup.id"))))
        .getOrElse("_")
      js.stageIds.foreach(sid => stageGroup.put(sid, g))
      val a = of(g); a.synchronized { a(0) += 1 }
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.get(Int.box(te.stageId))
      val m = te.taskMetrics
      if (g != null && m != null) {
        val a = of(g)
        a.synchronized {
          a(1) += 1
          a(2) += m.executorRunTime
          a(3) += m.jvmGCTime
          a(4) += m.shuffleReadMetrics.totalBytesRead
          a(5) += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  })

  /** Runs `body` under job group and key property `tag` and returns its
    * wall seconds and its result, or what it threw. Both are cleared
    * either way. Any throwable is caught, as one failing key must not
    * end a run over hundreds of keys. */
  def run[T](tag: String)(body: => T): (Double, Either[Throwable, T]) = {
    sc.setJobGroup(tag, tag)
    sc.setLocalProperty(KeyMeter.KeyProperty, tag)
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case e: Throwable => Left(e) }
    finally {
      sc.setLocalProperty(KeyMeter.KeyProperty, null)
      sc.clearJobGroup()
    }
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** The counters of `tag` so far (zero if nothing ran under it). */
  def apply(tag: String): Counts = all.getOrElse(tag, Counts.Zero)

  /** The counters of every group seen so far, sorted by group. */
  def all: SortedMap[String, Counts] = {
    ListenerDrain(sc)
    SortedMap.from(acc.asScala.map { case (g, a) =>
      g -> a.synchronized(Counts(a(0), a(1), a(2), a(3), a(4), a(5)))
    })
  }
}

object KeyMeter {
  /** The local property [[KeyMeter.run]] tags its jobs with. */
  val KeyProperty = "graft.key"

  final case class Counts(jobs: Long, tasks: Long, taskMs: Long,
      gcMs: Long, shuffleReadB: Long, shuffleWriteB: Long) {
    def values: Seq[Long] =
      Seq(jobs, tasks, taskMs, gcMs, shuffleReadB, shuffleWriteB)
  }
  object Counts {
    val Zero: Counts = Counts(0, 0, 0, 0, 0, 0)
    /** Column names of [[Counts.values]], as `bench_probe.json` prints
      * them. */
    val Units: Seq[String] = Seq("jobs", "tasks", "task_ms", "gc_ms",
      "shuffle_read_b", "shuffle_write_b")
  }
}
