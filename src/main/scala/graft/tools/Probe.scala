package graft.tools

/** Dev-only repeat-run probe: runs each named query `reps` times in one
  * session and prints wall / jobs / tasks / task-seconds per repetition,
  * so per-key cost splits into first-run (planning + codegen + JIT
  * warmup) vs steady-state — the discrimination the one-shot bench
  * cannot make. Each frame is read with `collect()`, as a caller reads
  * it (a `count()` plans jobs of its own over a local relation). Usage:
  *
  *   SPARK_GRAFT_SF_DIR=... runMain graft.tools.Probe <key>[,key...] [reps]
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val keys = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = graft.LocalSession(cpus)
    val meter = new graft.KeyMeter(spark)
    for (rep <- 1 to reps; k <- keys) {
      graft.SparkEntry.queries.get(k) match {
        case None => println(s"[probe] UNKNOWN key $k")
        case Some(fn) =>
          val tag = s"$k#$rep"
          val (w, r) = meter.run(tag)(fn(spark, sfDir).collect())
          r.swap.foreach(e => println(s"[probe] $tag FAILED: $e"))
          val c = meter(tag)
          println(f"[probe] $tag%-40s wall=$w%8.2f s  jobs=${c.jobs}%5d" +
            f"  tasks=${c.tasks}%6d  task_s=${c.taskMs / 1000.0}%8.1f" +
            f"  gc_s=${c.gcMs / 1000.0}%6.1f")
      }
    }
    spark.stop()
  }
}
