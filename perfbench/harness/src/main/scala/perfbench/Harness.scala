package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark process: builds a session, then runs a cold pass and
  * a warm pass over the workload's registered `SparkEntry.queries` keys,
  * one op at a time on this thread (a closed loop with one client). Each
  * op runs to its full result (`collect`). Outputs are fingerprinted
  * outside the timed span. Raw per-op records go to a JSON file that
  * `run.py` aggregates.
  *
  * Modes: `run` (a cold pass, then a warm pass) and `record`
  * (one pass, then each op's result dumped as parquet with the oracle
  * SQL for the DuckDB cross-check).
  *
  * With `--trace 1`, public Spark listeners record job / stage / task
  * spans and query-planning phases in memory; they are attributed to
  * ops when the run ends and written out with the spans. */
object Harness {

  final case class Op(key: String, pass: Int, wallMs: Double, startMs: Long,
      endMs: Long, rows: Long, hash: String, error: String,
      gcMs: Long, codegenN: Long)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val mode = a("mode")
    val data = a("data")
    val runDir = a("run-dir")
    val cores = a("cores").toInt
    val trace = a("trace") == "1"
    val opKeys = a("ops").split(",").toSeq
    val registry = graft.SparkEntry.queries
    opKeys.filterNot(registry.contains).foreach { k =>
      System.err.println(s"[perfbench] unknown query key: $k"); sys.exit(2)
    }

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // set-up: process launch (stamped by run.py) until the session is up
    val setupS = (System.currentTimeMillis() - a("launch-ms").toLong) / 1e3
    val tracer = if (trace) Some(new Tracer(spark)) else None

    val ops = ArrayBuffer[Op]()
    def runOp(key: String, pass: Int): Unit = {
      val tag = s"$key#$pass"
      spark.sparkContext.setJobGroup(tag, tag)
      val gc0 = if (trace) Tracer.gcMs() else 0L
      val cg0 = if (trace) Tracer.codegenCount() else 0L
      val s0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (result, err) =
        try (registry(key)(spark, data).collect(), null)
        catch { case e: Throwable =>
          (Array.empty[Row], s"${e.getClass.getName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e6
      val s1 = System.currentTimeMillis()
      val gc = if (trace) Tracer.gcMs() - gc0 else 0L
      val cg = if (trace) Tracer.codegenCount() - cg0 else 0L
      spark.sparkContext.clearJobGroup()
      val hash = if (err == null) Fingerprint.of(result) else ""
      ops += Op(key, pass, wall, s0, s1, result.length.toLong, hash, err,
        gc, cg)
    }

    val rnd = new scala.util.Random(a("seed").toLong)
    val coldStart = System.nanoTime()
    rnd.shuffle(opKeys).foreach(runOp(_, 0))
    val coldS = (System.nanoTime() - coldStart) / 1e9
    // sinks, checkpoints and round-trip copies under java.io.tmpdir and
    // the warehouse; Spark's local dirs (shuffle and block files, deleted
    // whenever the context cleaner runs) are left out
    val diskMb = Seq("tmp", "warehouse")
      .map(d => Tracer.duBytes(new java.io.File(runDir, d))).sum / 1048576.0
    if (mode == "record") Recorder.dump(spark, data, runDir, opKeys)
    // no warm pass after a cold pass longer than twice the nominal
    // window (--seconds): run.py then fails the run without a result
    val warmS = if (mode == "run" && coldS < 2 * a("seconds").toDouble) {
      val t0 = System.nanoTime()
      rnd.shuffle(opKeys).foreach(runOp(_, 1))
      (System.nanoTime() - t0) / 1e9
    } else Double.NaN
    // live heap: the least heap in use right after a full collection,
    // over three collections spaced so that the context cleaner can drop
    // unreachable broadcasts and shuffles in between
    val liveB = (1 to 3).map { _ =>
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      Thread.sleep(200)
      used
    }.min
    val cachedMb = Tracer.cachedMb(spark)
    spark.stop() // drains the listener bus before spans are attributed

    val out = new StringBuilder
    out ++= s"""{"setup_s":$setupS,"cold_pass_s":$coldS,""" +
      s""""warm_pass_s":${if (warmS.isNaN) "null" else warmS},""" +
      s""""disk_mb":$diskMb,""" +
      s""""heap_live_mb":${liveB / 1048576.0},"end_cached_mb":$cachedMb,""" +
      s""""ops":[${ops.map(Json.op).mkString(",")}]"""
    tracer.foreach { t =>
      out ++= s""","trace":${t.attribute(ops.toSeq)}"""
      t.writeSpans(s"$runDir/spans.jsonl", ops.toSeq)
    }
    out ++= "}"
    java.nio.file.Files.write(java.nio.file.Paths.get(a("out")),
      out.toString.getBytes("UTF-8"))
  }
}

/** Order-insensitive output fingerprint: a type-normalized rendering of
  * each row is hashed, and the row hashes are summed, so the result is a
  * function of the row multiset alone. Doubles keep 9 significant digits
  * and floats 6, which absorbs summation-order noise in the last bits. */
object Fingerprint {
  private val mc9 = new java.math.MathContext(9)
  private val mc6 = new java.math.MathContext(6)

  private def num(d: Double, mc: java.math.MathContext): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d, mc9)
    case f: Float => num(f.toDouble, mc6)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000 + t.getNanos / 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000 +
      t.getNano / 1000).toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var sum = 0L
    rows.foreach { r =>
      val h = md.digest(canon(r).getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(h).getLong
    }
    val schema = rows.headOption.flatMap(r => Option(r.schema))
      .map(_.fields.map(f => f.name + ":" + f.dataType.simpleString)
        .mkString(",")).getOrElse("")
    val sh = java.nio.ByteBuffer.wrap(md.digest(schema.getBytes("UTF-8")))
      .getLong
    f"${sum ^ sh}%016x"
  }
}

/** Record mode: each op's full result as parquet under
  * `<runDir>/dump/<key>`, plus `<runDir>/dump/oracle_sql.json` holding
  * `SparkEntry.oracleSql` for the workload's keys. */
object Recorder {
  def dump(spark: SparkSession, data: String, runDir: String,
      keys: Seq[String]): Unit = {
    val base = s"$runDir/dump"
    keys.foreach { k =>
      graft.SparkEntry.queries(k)(spark, data).write.mode("overwrite")
        .parquet(s"$base/$k")
    }
    val sql = graft.SparkEntry.oracleSql.filter { case (k, _) =>
      keys.contains(k) }
    val js = sql.toSeq.sortBy(_._1)
      .map { case (k, q) => Json.str(k) + ":" + Json.str(q) }
      .mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/oracle_sql.json"),
      js.getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def op(o: Harness.Op): String =
    s"""{"key":${str(o.key)},"pass":${o.pass},"wall_ms":${o.wallMs},""" +
      s""""start_ms":${o.startMs},"end_ms":${o.endMs},"rows":${o.rows},""" +
      s""""hash":${str(o.hash)},"error":${
        if (o.error == null) "null" else str(o.error)},""" +
      s""""gc_ms":${o.gcMs},"codegen_n":${o.codegenN}}"""
}

/** In-memory span recorder built on public listener APIs: a
  * SparkListener for jobs, stages and task metrics and a
  * QueryExecutionListener for planning phases. Nothing is attributed
  * while ops run; [[attribute]] ties spans to ops (key, pass) after the
  * session stops. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[Plan]()

  private def stage(id: Int) = stages.computeIfAbsent(id, Stage(_))

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      jobs.put(e.jobId, Job(e.jobId, g, e.time, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = stage(e.stageInfo.stageId)
      s.synchronized {
        s.start = e.stageInfo.submissionTime.getOrElse(0L)
        s.end = e.stageInfo.completionTime.getOrElse(0L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val s = stage(e.stageId)
        s.synchronized {
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.shuffleB += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          s.spillB += m.diskBytesSpilled
        }
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (_, p) =>
        plans.add(Plan(p.startTimeMs, p.durationMs))
      }
  })

  /** Per-op counters as JSON: `{"<key>#<pass>": {...}, ...}`. */
  def attribute(ops: Seq[Harness.Op]): String = {
    val byTag = ops.map(o => s"${o.key}#${o.pass}" -> o).toMap
    // by job group first, else by the op whose interval holds the start
    def owner(group: String, t: Long): Option[Harness.Op] =
      Option(group).flatMap(byTag.get)
        .orElse(ops.find(o => o.startMs <= t && t <= o.endMs))
    val jobsOf = jobs.values.asScala.toSeq.groupBy(j => owner(j.group, j.start))
    val plansOf = plans.asScala.toSeq.groupBy(p => owner(null, p.start))
    def union(iv: Seq[(Long, Long)]): Long = {
      var covered = 0L; var hi = Long.MinValue
      iv.sortBy(_._1).foreach { case (s, e) =>
        val s1 = math.max(s, hi)
        if (e > s1) covered += e - s1
        hi = math.max(hi, e)
      }
      covered
    }
    val rows = ops.map { o =>
      val js = jobsOf.getOrElse(Some(o), Nil)
      val st = js.flatMap(_.stages).distinct.flatMap(i => Option(stages.get(i)))
      val covered = union(js.map(j => (math.max(j.start, o.startMs),
        math.min(j.end, o.endMs))))
      val planMs = plansOf.getOrElse(Some(o), Nil).map(_.ms).sum
      s""""${o.key}#${o.pass}":{"jobs":${js.size},""" +
        s""""tasks":${st.map(_.tasks).sum},"task_ms":${st.map(_.runMs).sum},""" +
        s""""task_gc_ms":${st.map(_.gcMs).sum},""" +
        s""""shuffle_b":${st.map(_.shuffleB).sum},""" +
        s""""spill_b":${st.map(_.spillB).sum},"plan_ms":$planMs,""" +
        s""""job_cover_ms":$covered}"""
    }
    rows.mkString("{", ",", "}")
  }

  /** Spans as JSON lines: op → job → stage, linked by parent ids. */
  def writeSpans(path: String, ops: Seq[Harness.Op]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      ops.foreach { o =>
        w.println(s"""{"span":"op","id":"${o.key}#${o.pass}",""" +
          s""""key":"${o.key}","pass":${o.pass},"start":${o.startMs},""" +
          s""""end":${o.endMs}}""")
      }
      jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
        w.println(s"""{"span":"job","id":"job${j.id}","parent":""" +
          s"""${Json.str(Option(j.group).getOrElse(""))},""" +
          s""""start":${j.start},"end":${j.end}}""")
        j.stages.flatMap(i => Option(stages.get(i))).foreach { s =>
          w.println(s"""{"span":"stage","id":"stage${s.id}",""" +
            s""""parent":"job${j.id}","start":${s.start},"end":${s.end},""" +
            s""""tasks":${s.tasks},"task_ms":${s.runMs}}""")
        }
      }
    } finally w.close()
  }
}

object Tracer {
  final case class Job(id: Int, group: String, start: Long,
      var end: Long, stages: Seq[Int])
  final case class Stage(id: Int, var tasks: Long = 0, var runMs: Long = 0,
      var gcMs: Long = 0, var shuffleB: Long = 0, var spillB: Long = 0,
      var start: Long = 0, var end: Long = 0)
  final case class Plan(start: Long, ms: Long)

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Whole-stage and expression codegen compilations so far (Spark's
    * `CodegenMetrics` compile-time histogram count), read reflectively
    * because the object is internal to Spark's packages. */
  def codegenCount(): Long = {
    val cls = Class.forName("org.apache.spark.metrics.source.CodegenMetrics$")
    val obj = cls.getField("MODULE$").get(null)
    val h = cls.getMethod("METRIC_COMPILATION_TIME").invoke(obj)
    h.asInstanceOf[com.codahale.metrics.Histogram].getCount
  }

  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

  def duBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(duBytes).sum).getOrElse(0L)
}
