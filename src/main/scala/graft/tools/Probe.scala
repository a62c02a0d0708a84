package graft.tools

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Dev-only repeat-run probe: runs each named query `reps` times in one
  * session and prints wall / jobs / tasks / task-seconds per repetition,
  * so per-key cost splits into first-run (planning + codegen + JIT
  * warmup) vs steady-state — the discrimination the one-shot bench
  * cannot make. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=... runMain graft.tools.Probe <key>[,key...] [reps]
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val keys = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe =
      new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    val stageGroup =
      new java.util.concurrent.ConcurrentHashMap[Integer, String]()
    def acc(g: String): Array[Long] =
      probe.computeIfAbsent(g, _ => new Array[Long](4))
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val g = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("_")
        js.stageIds.foreach(sid => stageGroup.put(sid, g))
        val a = acc(g); a.synchronized { a(0) += 1 }
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val g = stageGroup.get(Int.box(te.stageId))
        val m = te.taskMetrics
        if (g != null && m != null) {
          val a = acc(g)
          a.synchronized {
            a(1) += 1; a(2) += m.executorRunTime; a(3) += m.jvmGCTime
          }
        }
      }
    })
    for (rep <- 1 to reps; k <- keys) {
      graft.SparkEntry.queries.get(k) match {
        case None => println(s"[probe] UNKNOWN key $k")
        case Some(fn) =>
          val tag = s"$k#$rep"
          spark.sparkContext.setJobGroup(tag, tag)
          val t0 = System.nanoTime()
          try fn(spark, sfDir).count()
          catch { case e: Throwable =>
            println(s"[probe] $tag FAILED: ${e.getMessage}"); -1L }
          val w = (System.nanoTime() - t0) / 1e9
          spark.sparkContext.clearJobGroup()
          ListenerDrain(spark.sparkContext)
          val a = probe.getOrDefault(tag, new Array[Long](4))
          println(f"[probe] $tag%-40s wall=$w%8.2f s  jobs=${a(0)}%5d" +
            f"  tasks=${a(1)}%6d  task_s=${a(2) / 1000.0}%8.1f" +
            f"  gc_s=${a(3) / 1000.0}%6.1f")
      }
    }
    spark.stop()
  }
}
