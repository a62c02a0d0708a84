package graft.ops

import graft.{SessionMemo, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** §2.8 streaming operators.
  *
  * Each capability is a SHARED transform (`DataFrame → DataFrame`) that
  * runs identically on a static frame (registered below, DuckDB-oracle
  * checked) and on a Structured Streaming frame (driven in the test
  * suite via MemoryStream, including watermark/late-data semantics —
  * the parts a batch oracle cannot see). This is Spark's core streaming
  * design point: one declarative plan, two execution modes.
  *
  * Event times are second-truncated BEFORE windowing/sessionizing so
  * the ns-origin timestamps (SURVEY.md §1.3) compare identically across
  * engines.
  *
  * Scale: all aggregations key on (window/session × type/user) — state
  * size is bounded by key cardinality × window retention, and the
  * streaming variants carry watermarks so state is evicted; nothing
  * here accumulates unboundedly.
  */
object Streaming {
  private val Fixed = DecimalType(18, 4)

  private def eventsSec(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .withColumn("ts_sec", date_trunc("second", col("ts")))

  /** Events per type per 1-hour tumbling window. */
  def tumbling(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts_sec"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Det.sum2(col("value")).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n_events"), col("sum_value"))

  def streamTumblingWindow(spark: SparkSession, dir: String): DataFrame =
    tumbling(eventsSec(spark, dir))
      .orderBy(col("ws"), col("event_type"))

  /** 1-hour window sliding every 15 minutes, average value. */
  def sliding(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts_sec"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n_events"),
        Det.avg2(col("value")).as("avg_value"))
      .select(col("window.start").as("ws"), col("n_events"),
        col("avg_value"))

  def streamSlidingWindow(spark: SparkSession, dir: String): DataFrame =
    sliding(eventsSec(spark, dir)).orderBy(col("ws"))

  /** Per-user sessions with a 30-minute inactivity gap. */
  def sessions(ev: DataFrame): DataFrame =
    ev.groupBy(session_window(col("ts_sec"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        Det.sum2(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("sum_value"))

  def streamSessionWindow(spark: SparkSession, dir: String): DataFrame =
    sessions(eventsSec(spark, dir))
      .orderBy(col("user_id"), col("session_start"))

  /** SESSION CENSUS over the 30-minute sessionization — the
    * engagement read an analyst takes from the session table before
    * anything else: per user-session, its event count and duration;
    * aggregated to one corpus row of n_sessions, single-event share
    * (permille), exact mean events ×1000, and mean duration in
    * seconds (both floor-div — engine-exact). Rides the SAME
    * `session_window` grouping as `stream_session_window`, so the
    * census is consistent with the sessionization every downstream
    * key uses; two keyed aggs, map-side combinable. Duration is the
    * REAL event span (last event − first event within the session),
    * not Spark's `session_window.end − start`, which bakes in the
    * 30-min gap (end = last event + gap) and would report 1800 s for
    * single-event sessions. */
  def eventsSessionStats(spark: SparkSession, dir: String): DataFrame = {
    val s = eventsSec(spark, dir)
      .groupBy(session_window(col("ts_sec"), "30 minutes"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (unix_timestamp(max(col("ts_sec")))
          - unix_timestamp(min(col("ts_sec")))).as("dur_sec"))
    s.agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events_total"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L))
          .as("n_single"),
        sum(col("dur_sec")).as("dur_total"),
        max(col("n_events")).as("max_events"))
      .select(col("n_sessions"), col("n_events_total"),
        expr("(1000 * n_single) div n_sessions").as("single_permille"),
        expr("(1000 * n_events_total) div n_sessions")
          .as("mean_events_milli"),
        expr("dur_total div n_sessions").as("mean_dur_sec"),
        col("max_events"))
  }

  /** Deduplication: first event per (user, type). Batch analog uses
    * min(event_id) for a deterministic "first" (dropDuplicates keeps an
    * arbitrary row); the streaming variant in tests uses
    * withWatermark + dropDuplicates. */
  def dedupFirst(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"), col("event_type"))
      .agg(min(col("event_id")).as("first_event"),
        count(lit(1)).as("n_dupes"))

  def streamDedupWatermark(spark: SparkSession, dir: String): DataFrame =
    dedupFirst(eventsSec(spark, dir))
      .orderBy(col("user_id"), col("event_type"))

  /** Stateful running total: cumulative purchase value per user in
    * event-time order. Batch analog = running-frame window; streaming
    * variant = flatMapGroupsWithState in the test suite. */
  def streamStatefulRunning(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_sec"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    eventsSec(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_sec"),
        round(sum(col("value").cast(Fixed)).over(w), 2)
          .cast(DoubleType).as("running_total"))
      .orderBy(col("user_id"), col("ts_sec"), col("event_id"))
  }

  /** Stream-static join: enrich events with the customer dimension.
    * In streaming mode the static side is broadcast to every
    * micro-batch — same plan, no state. */
  def enrich(ev: DataFrame, customer: DataFrame): DataFrame =
    ev.join(customer, ev("user_id") === customer("c_custkey"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_name"), col("c_mktsegment"))

  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame =
    enrich(eventsSec(spark, dir), Tables(spark, dir).customer)
      .orderBy(col("event_id"))

  private val runIds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** File-source streaming view of the events table (the same rows the
    * batch `Tables.events` sees, arriving through FileStreamSource).
    * The stream must declare its schema up front, and the physical
    * type of `ts` depends on which generator wrote the file (int64
    * nanos under the legacy conf vs TIMESTAMP_NTZ micros) — so the
    * declared schema is the batch loader's footer schema
    * ([[graft.Tables.schemaOf]]) and the
    * column converged via [[graft.Tables.normalizeTs]], exactly like
    * the batch loader. Glob rather than exact filename:
    * FileStreamSource requires its inferred basePath to be a
    * directory. */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // same runtime fallback as Tables.events: a TIMESTAMP(NANOS) file
    // fails schema inference without this in sessions not built by
    // LocalSession
    if (spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
        .forall(_ != "true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val footer = graft.Tables.schemaOf(spark, s"$dir/events.parquet")
    Tables.normalizeTs(
      spark.readStream.schema(footer).parquet(s"$dir/events*.parquet"))
  }

  /** Checkpointed parquet SINK, end to end: file source → stateless
    * transform → `writeStream.format("parquet")` with a checkpoint →
    * read the committed files back. The parquet sink's manifest log
    * plus the checkpoint's offset WAL give exactly-once file output —
    * restarting from the same checkpoint reprocesses nothing
    * (StreamingSpec proves it by re-running against the same dirs).
    * The registered result is the committed rows, row-for-row
    * oracle-checkable against the batch filter. */
  /** Memoized sink location per (session, dir): repeated calls (bench
    * after verify, repeated tests) RESUME from the same checkpoint —
    * the exactly-once path — instead of leaving a fresh temp copy of
    * the output per call. Dirs are registered with [[graft.TempDirs]]
    * for JVM-exit removal. */
  private val sinkDirs = SessionMemo { (_, _) =>
    graft.TempDirs.create(s"graft-sink-${runIds.incrementAndGet()}")
  }

  def streamSinkParquet(spark: SparkSession, dir: String): DataFrame = {
    val base = sinkDirs(spark, dir)
    runSinkTo(spark, dir, base)
    spark.read.parquet(s"$base/out").orderBy(col("event_id"))
  }

  /** One sink run against a fixed (checkpoint, output) pair — separate
    * so the exactly-once property is testable: calling this twice on
    * the same `base` must not duplicate a single row, because the
    * second run restarts from the checkpoint's committed offsets. */
  def runSinkTo(spark: SparkSession, dir: String, base: String): Unit = {
    val q = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"))
      .writeStream
      .format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Memoized memory-sink table name per (session, dir): repeated calls
    * reuse the completed run's final state instead of registering a new
    * global temp view per call (unbounded catalog growth in one JVM). */
  private val degreeTables = SessionMemo(runStreamDegree)

  /** Incremental graph maintenance: the event stream IS an edge stream
    * (user —[event_type]→ type vertex of the bipartite activity graph),
    * and a streaming aggregation maintains each user vertex's degree
    * across micro-batches (complete mode to a memory sink here; at
    * scale this state lives keyed-by-user in RocksDB, updated
    * incrementally — never recomputed from scratch). Final state equals
    * the batch degree, which is what the oracle checks. The scale-safe
    * sink is the parquet upsert log of `stream_degree_parquet`. */
  def streamGraphDegree(spark: SparkSession, dir: String): DataFrame = {
    val name = degreeTables(spark, dir)
    spark.table(name).orderBy(col("user_id"))
  }

  /** One complete-mode run to a fresh memory sink; returns the table. */
  private def runStreamDegree(spark: SparkSession, dir: String): String =
    withStatePartitions(spark, 8) {
      val name = s"graft_stream_degree_${runIds.incrementAndGet()}"
      val q = eventsStream(spark, dir)
        .groupBy(col("user_id"))
        // count + decimal-exact sum: distinct aggregates are unsupported
        // on streams, and the degree/weight pair is the graph-relevant
        // state anyway
        .agg(count(lit(1)).as("out_degree"),
          Det.sum2(col("value")).as("sum_value"))
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
      q.processAllAvailable()
      q.stop()
      name
    }

  /** Memoized upsert-log sink dir per (session, dir), one memo per
    * sink — the production-sink siblings of the memory-sink demos
    * above: `run` fills a fresh dir once, registered with
    * [[graft.TempDirs]] for JVM-exit removal. */
  private def upsertDir(tag: String)(
      run: (SparkSession, String, String) => Unit) =
    SessionMemo { (spark, dir) =>
      val b = graft.TempDirs.create(
        s"graft-${tag}sink-${runIds.incrementAndGet()}")
      run(spark, dir, b)
      b
    }

  /** PRODUCTION state sink: run an update-mode streaming aggregation
    * and land each micro-batch's UPDATED rows in a parquet upsert log
    * via foreachBatch — the pattern Structured Streaming documents for
    * stateful output to a batch store (update mode cannot write files
    * directly). Each batch's rows are written under a `batch_id=`
    * partition with DYNAMIC partition overwrite, so a batch replayed
    * after a crash between write and checkpoint-commit overwrites its
    * own partition instead of duplicating rows — idempotent, i.e.
    * effectively-once, without the complete-mode rewrite of the whole
    * state the memory-sink demos pay. The current view is
    * last-write-wins per key by batch_id at read time; at 100 TB the
    * same loop targets a keyed upsert store and state lives in
    * RocksDB. */
  private[graft] def runUpsertLog(spark: SparkSession, base: String,
      agg: DataFrame): Unit =
    withStatePartitions(spark, 8) {
      val q = agg.writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.withColumn("batch_id", lit(id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(s"$base/out")
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }

  /** Latest state per key from an upsert log: argmax by batch_id over
    * the struct of maintained columns (counts are monotone per key, so
    * the newest batch wins every component). */
  private def latestByBatch(spark: SparkSession, path: String,
      keys: Seq[String], cols: Seq[String]): DataFrame = {
    val log = spark.read.parquet(path)
    log.groupBy(keys.map(col): _*)
      .agg(max(struct((Seq("batch_id") ++ cols).map(col): _*)).as("m"))
      .select(keys.map(col) ++ cols.map(c => col(s"m.$c").as(c)): _*)
  }

  private val degSink = upsertDir("deg") { (spark, dir, b) =>
    runUpsertLog(spark, b, eventsStream(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("out_degree"),
        Det.sum2(col("value")).as("sum_value")))
  }

  /** The production-sink variant of [[streamGraphDegree]]: identical
    * incrementally-maintained per-user degree state, but committed to
    * a checkpointed parquet upsert log instead of a complete-mode
    * memory table — the shape that survives unbounded streams (state
    * updates flow out; nothing rewrites the full state per batch).
    * Final view equals the batch degree, which the oracle checks. */
  def streamDegreeParquet(spark: SparkSession, dir: String): DataFrame = {
    val base = degSink(spark, dir)
    latestByBatch(spark, s"$base/out", Seq("user_id"),
      Seq("out_degree", "sum_value"))
      .orderBy(col("user_id"))
  }

  private val rankSink = upsertDir("rank") { (spark, dir, b) =>
    runUpsertLog(spark, b, eventsStream(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n")))
  }

  /** Incremental graph ANALYTICS under the change feed: the event
    * stream is the edge stream of the bipartite user→event-type
    * activity graph, and the maintained state is its weighted
    * adjacency (per-(user, type) edge counts — one streaming agg,
    * per-key increments, committed to the parquet upsert log). The
    * registered view derives each user's damped degree-weighted rank
    * from current state in exact micro-units:
    * `150000 + Σ_types (850000 · w(u,t)) div W(t)` — the one-hop
    * PageRank step over the bipartite graph, i.e. "rank stays fresh
    * under writes" by maintaining its sufficient statistics
    * incrementally and deriving the rank as a cheap stateless view
    * (the standard incremental-view-maintenance split). Final state
    * equals the batch computation, which the oracle replays. */
  def streamRankIncremental(spark: SparkSession, dir: String): DataFrame = {
    val base = rankSink(spark, dir)
    val state = latestByBatch(spark, s"$base/out",
      Seq("user_id", "event_type"), Seq("n"))
    val totals = state.groupBy(col("event_type"))
      .agg(sum(col("n")).as("te"))
    state.join(totals, "event_type")
      .groupBy(col("user_id"))
      .agg((lit(150000L) + sum(expr("(850000 * n) div te")))
        .as("rank_micro"))
      .orderBy(col("user_id"))
  }

  /** Vertex-id namespace for clock-hour nodes in the co-activity
    * bipartite graph (disjoint from every user id). */
  val HourOff = 900000000000000L

  private val ccSink = upsertDir("cc") { (spark, dir, b) =>
    runLabelState(spark, b, coActivityEdges(spark, dir))
  }

  /** INCREMENTALLY-maintained connected components under the event
    * stream — the "component labels stay fresh under writes" story
    * next to [[streamRankIncremental]]'s rank view. The graph is the
    * user↔clock-hour co-activity bipartite graph (users active in the
    * same hour chain together; hours chain through users active in
    * both). Per micro-batch, classic union-find by LABEL CONTRACTION:
    * (1) seed unseen endpoints with their own id, (2) project the
    * batch's edges onto current labels — the label-merge pair list,
    * which is bounded by the BATCH edge count, never the accumulated
    * graph, (3) collapse that tiny label graph to its per-component
    * minima with [[GraphOps.minLabelComponents]], and (4) remap the
    * full label table through the contraction in ONE join. Old edges
    * never need revisiting: their endpoints already share labels, so
    * cross-batch merges ride the label remap. State = one long per
    * vertex in a parquet table (at 100 TB: a keyed store bucketed by
    * id); per-batch cost = O(batch edges) + the remap join. Final
    * labels equal the batch min-label components over the full edge
    * set, which the oracle replays as a recursive closure. */
  def streamComponentsIncremental(spark: SparkSession,
      dir: String): DataFrame = {
    val base = ccSink(spark, dir)
    spark.read.parquet(s"$base/labels")
      .filter(col("id") < HourOff)
      .select(col("id").as("user_id"), col("lbl").as("component"))
      .orderBy(col("user_id"))
  }

  /** The streamed user↔clock-hour edges `(u, h)` of
    * [[streamComponentsIncremental]]. */
  private[graft] def coActivityEdges(spark: SparkSession,
      dir: String): DataFrame =
    eventsStream(spark, dir)
      .select(col("user_id").as("u"),
        (lit(HourOff) +
          expr("unix_timestamp(date_trunc('HOUR', ts)) div 3600"))
          .as("h"))

  /** The foreachBatch loop of [[streamComponentsIncremental]]: label
    * table in `base/labels`, overwritten once per micro-batch AFTER
    * eager materialization (the read of the previous state and the
    * overwrite target the same path, so lineage must be cut first). */
  private[graft] def runLabelState(spark: SparkSession, base: String,
      edges: DataFrame): Unit =
    withStatePartitions(spark, 8) {
      val labelsPath = s"$base/labels"
      val q = edges.writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val sp = batch.sparkSession
          val e = batch.select(col("u"), col("h")).distinct()
            .localCheckpoint(true)
          val prev =
            if (new java.io.File(labelsPath).exists())
              sp.read.parquet(labelsPath)
            else sp.range(0).select(col("id"), col("id").as("lbl"))
          val nodes = e.select(col("u").as("id"))
            .unionByName(e.select(col("h").as("id"))).distinct()
          val all = nodes.join(prev, Seq("id"), "left")
            .select(col("id"), coalesce(col("lbl"), col("id")).as("lbl"))
            .unionByName(prev.join(nodes, Seq("id"), "left_anti"))
          val mergePairs = e
            .join(all.select(col("id").as("u"), col("lbl").as("lu")), "u")
            .join(all.select(col("id").as("h"), col("lbl").as("lh")), "h")
            .filter(col("lu") =!= col("lh"))
            .select(col("lu").as("a_id"), col("lh").as("b_id")).distinct()
            .localCheckpoint(true)
          val contraction = if (mergePairs.isEmpty) None else {
            val lv = mergePairs.select(col("a_id").as("id"))
              .unionByName(mergePairs.select(col("b_id").as("id")))
              .distinct()
            // the Chk variant, so the label handle is released per
            // micro-batch in a loop built for long-running feeds
            Some(GraphOps.minLabelComponentsChk(lv, mergePairs))
          }
          val next = contraction match {
            case None => all
            case Some((c, _)) =>
              all.join(c.select(col("cluster"), col("id").as("lbl")),
                  Seq("lbl"), "left")
                .select(col("id"),
                  coalesce(col("cluster"), col("lbl")).as("lbl"))
          }
          val out = next.localCheckpoint(true)
          out.write.mode("overwrite").parquet(labelsPath)
          (Seq(out, mergePairs, e) ++ contraction.map(_._2))
            .foreach(GraphOps.releaseChk)
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }

  private val cdcSink = upsertDir("cdc") { (spark, dir, b) =>
    import spark.implicits._
    val events = eventsStream(spark, dir)
      .select(col("user_id"), col("event_id"),
        date_trunc("second", col("ts")).as("ts_sec"), col("value"))
      .as[UserEvent]
    runUpsertLog(spark, b, cdcLatestStream(events).toDF())
  }

  /** The production-sink variant of [[streamCdcLatest]]: the same
    * incrementally-maintained last-write-wins state (the
    * flatMapGroupsWithState fold of [[cdcLatestStream]], one fixed-size
    * record per key), but each micro-batch's UPDATED records land in
    * the checkpointed parquet upsert log instead of an update-mode
    * memory table — so the CDC "current state" view survives unbounded
    * change feeds: nothing ever rewrites the full state, and a crash
    * between write and checkpoint commit replays into the same
    * batch_id partition (idempotent). Read view = newest batch per
    * key; final state equals the batch argmax, which the oracle
    * checks. */
  def streamCdcParquet(spark: SparkSession, dir: String): DataFrame = {
    val base = cdcSink(spark, dir)
    latestByBatch(spark, s"$base/out", Seq("user_id"),
      Seq("last_event_id", "last_ts", "last_value", "n_updates"))
      .orderBy(col("user_id"))
  }

  /** Core stream-stream join transform (shared batch/stream shape):
    * attribute each purchase to the same user's clicks in the hour
    * before it. Both inputs carry event-time columns; in streaming mode
    * they MUST be watermarked (below) so join state is bounded — Spark
    * keeps each side's rows only until the other side's watermark
    * passes the join-condition time range, which is the 100 TB design
    * point: state is O(events per active hour), not O(stream). */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("interval 1 hour"))
      .select(col("user_id"), col("click_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"), col("value"))

  private def clickSide(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_sec").as("click_ts"))

  private def purchaseSide(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"),
        col("ts_sec").as("purchase_ts"), col("value"))

  /** Memoized memory-sink table per (session, dir), same discipline as
    * [[streamGraphDegree]]. */
  private val ssJoinTables = SessionMemo { (spark, dir) =>
    withStatePartitions(spark, 8) {
      val tbl = s"graft_stream_ssjoin_${runIds.incrementAndGet()}"
      val ev = eventsStream(spark, dir)
        .withColumn("ts_sec", date_trunc("second", col("ts")))
      val clicks = clickSide(ev).withWatermark("click_ts", "1 hour")
      val purchases = purchaseSide(ev)
        .withWatermark("purchase_ts", "2 hours")
      val q = attributionJoin(clicks, purchases)
        .writeStream.format("memory").queryName(tbl)
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop()
      tbl
    }
  }

  /** Run `body` with the session's shuffle-partition count (= streaming
    * STATE partition count, fixed into the checkpoint at first start)
    * temporarily lowered. Stateful-operator overhead scales with state
    * partitions — a stream-stream join commits 4 state stores per
    * partition per micro-batch — and the right count follows state
    * SIZE, not the batch engine's scan parallelism: at this corpus's
    * state volume 8 partitions cut the fixed commit cost 4× (measured
    * ~2 s off the join run); a production job sizes this to keyspace ÷
    * target-state-per-store instead.
    *
    * CONCURRENCY CONTRACT: this mutates the session-global
    * `spark.sql.shuffle.partitions` for the duration of `body`, so any
    * batch query planned concurrently on the SAME session would pick up
    * the lowered count. Verify/Bench drive queries single-threaded and
    * the test suites build their own sessions, so the assumption holds
    * everywhere this is called; a multi-tenant driver would instead run
    * the stream on a cloned `spark.newSession()` (separate SQLConf) —
    * not done here because the memory-sink table name is registered on
    * the session the stream runs on, and the batch readers that follow
    * look it up on the original session. */
  private def withStatePartitions[A](spark: SparkSession, n: Int)
      (body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** TRUE stream-stream join, end to end: two watermarked file-source
    * streams of the same event log (clicks / purchases) interval-joined
    * per user, append-mode to a memory sink. The inner join emits
    * exactly the batch join's rows once all input is processed, which
    * is what the oracle checks; the watermarks are what make the
    * operator viable on an unbounded stream (state eviction — the part
    * a batch plan never exercises).
    *
    * INPUT CONTRACT for the batch-equality check: this run sets no
    * `maxFilesPerTrigger`, so the file source delivers every available
    * `events*.parquet` file in ONE micro-batch — the watermark only
    * advances after all rows are already joined, and eviction can never
    * drop a match. If input were split across micro-batches (rate
    * limits, files arriving later), out-of-order event times between
    * batches could evict state before its match arrives and streamed ≠
    * batch; robustness then requires watermarks ≥ the max cross-batch
    * event-time disorder. That trade (lag vs state) is exactly the
    * production tuning knob; the oracle equality here relies on the
    * single-batch delivery, not on this corpus being ordered. */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val name = ssJoinTables(spark, dir)
    spark.table(name)
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  private val joinSink = upsertDir("join") { (spark, dir, b) =>
    withStatePartitions(spark, 8) {
      val ev = eventsStream(spark, dir)
        .withColumn("ts_sec", date_trunc("second", col("ts")))
      val clicks = clickSide(ev).withWatermark("click_ts", "1 hour")
      val purchases = purchaseSide(ev)
        .withWatermark("purchase_ts", "2 hours")
      val q = attributionJoin(clicks, purchases)
        .writeStream.format("parquet")
        .option("path", s"$b/out")
        .option("checkpointLocation", s"$b/ckpt")
        .outputMode("append")
        .start()
      q.processAllAvailable()
      q.stop()
    }
  }

  /** The production-sink variant of [[streamStreamJoin]]: the same
    * watermarked interval join, but append-mode straight into a
    * checkpointed parquet FILE sink (watermark-bounded append is the
    * one stateful output the file sink supports natively — no
    * foreachBatch indirection needed). Offset WAL + manifest log give
    * exactly-once committed files, and join state stays bounded by
    * watermark eviction — together the unbounded-stream shape the
    * memory-sink demo cannot claim. Emits the same rows as the batch
    * join, which the shared oracle checks. */
  def streamJoinParquet(spark: SparkSession, dir: String): DataFrame = {
    val base = joinSink(spark, dir)
    spark.read.parquet(s"$base/out")
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** Typed input for the custom-state demo. */
  final case class PurchaseEvent(user_id: Long, event_id: Long,
    ts_sec: java.sql.Timestamp, value: Double)

  /** Per-user emission shape of the running-total demos. The carried
    * STATE is always [[CentsTotal]] (exact integer cents — the repo's
    * stateful discipline: no Double ever accumulates across batches);
    * `total` here is only the cents/100 display conversion at emit. */
  final case class RunningTotal(user_id: Long, n_purchases: Long,
    total: Double)

  /** Spark 4.x arbitrary-state API: the same running total as
    * [[statefulRunningStream]] via transformWithState's
    * StatefulProcessor (typed ValueState handle, RocksDB-backed —
    * the operator Spark positions as the successor to
    * flatMapGroupsWithState). */
  class RunningTotalProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, PurchaseEvent, RunningTotal] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoders, streaming}

    @transient private var state: streaming.ValueState[CentsTotal] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[CentsTotal]("running",
        Encoders.product[CentsTotal], TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[PurchaseEvent],
        timerValues: TimerValues): Iterator[RunningTotal] = {
      val prev = Option(state.get()).getOrElse(CentsTotal(key, 0L, 0L))
      var n = prev.n_purchases
      var cents = prev.total_cents
      rows.foreach { e => n += 1; cents += math.rint(e.value * 100).toLong }
      state.update(CentsTotal(key, n, cents))
      Iterator.single(RunningTotal(key, n, cents / 100.0))
    }
  }

  /** transformWithState variant of the running total (requires the
    * RocksDB state store provider — set in the streaming test). */
  def statefulRunningTws(ev: Dataset[PurchaseEvent])
      : Dataset[RunningTotal] = {
    import ev.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    ev.groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Exact-cents running state for the REGISTERED transformWithState
    * key (the double-accumulating [[RunningTotal]] demo cannot be
    * oracled: double fold order drifts ULPs across engines; cents are
    * exact for the corpus's 2dp values). */
  final case class CentsTotal(user_id: Long, n_purchases: Long,
    total_cents: Long)

  /** The cents-exact StatefulProcessor behind [[streamTwsRunning]] —
    * same typed ValueState shape as [[RunningTotalProcessor]]. */
  class RunningCentsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, PurchaseEvent, CentsTotal] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoders, streaming}

    @transient private var state: streaming.ValueState[CentsTotal] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[CentsTotal]("cents",
        Encoders.product[CentsTotal], TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[PurchaseEvent],
        timerValues: TimerValues): Iterator[CentsTotal] = {
      val prev = Option(state.get()).getOrElse(CentsTotal(key, 0L, 0L))
      var n = prev.n_purchases
      var cents = prev.total_cents
      rows.foreach { e => n += 1; cents += math.rint(e.value * 100).toLong }
      val updated = CentsTotal(key, n, cents)
      state.update(updated)
      Iterator.single(updated)
    }
  }

  /** The typed transformWithState pipeline of [[streamTwsRunning]]
    * (shared with the MemoryStream test). */
  def statefulCentsTws(ev: Dataset[PurchaseEvent])
      : Dataset[CentsTotal] = {
    import ev.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    ev.groupByKey(_.user_id)
      .transformWithState(new RunningCentsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** An ISOLATED child session (shared SparkContext, private SQLConf)
    * with the RocksDB state store provider (required by
    * transformWithState). The earlier set/restore on the SHARED
    * session could hand the RocksDB provider to any stateful query
    * planned concurrently (graphWarmCaches submits from futures);
    * scoping the conf to a throwaway `newSession()` removes the race
    * and leaves nothing to restore. */
  private def rocksDbSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
    s
  }

  private val twsSink = upsertDir("tws") { (spark, dir, b) =>
    // the whole pipeline (source, stateful transform, sink run)
    // lives on the conf-isolated session so the RocksDB provider
    // applies to THIS query and leaks to none
    val iso = rocksDbSession(spark)
    import iso.implicits._
    val purchases = eventsStream(iso, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        date_trunc("second", col("ts")).as("ts_sec"), col("value"))
      .as[PurchaseEvent]
    runUpsertLog(iso, b, statefulCentsTws(purchases).toDF())
  }

  /** REGISTERED transformWithState run — the Spark 4.x arbitrary-state
    * API (the documented successor to flatMapGroupsWithState) driven
    * end to end as a production shape, not just a test: file-source
    * purchase stream → typed StatefulProcessor holding one exact-cents
    * record per user in ROCKSDB state (the at-scale state backend,
    * scoped via [[rocksDbSession]]) → each batch's updates committed
    * to the parquet upsert log → latest state per key read back. Final
    * state equals the batch per-user purchase census, which the DuckDB
    * oracle replays — integers end to end, no float fold order on the
    * hashed surface. */
  def streamTwsRunning(spark: SparkSession, dir: String): DataFrame = {
    val base = twsSink(spark, dir)
    latestByBatch(spark, s"$base/out", Seq("user_id"),
      Seq("n_purchases", "total_cents"))
      .orderBy(col("user_id"))
  }

  /** One CDC input row. */
  final case class UserEvent(user_id: Long, event_id: Long,
    ts_sec: java.sql.Timestamp, value: Double)

  /** Per-user latest-write state: the CDC view row. */
  final case class LatestState(user_id: Long, last_event_id: Long,
    last_ts: java.sql.Timestamp, last_value: Double, n_updates: Long)

  /** Memoized memory-sink table per (session, dir), same discipline as
    * [[streamGraphDegree]]. */
  private val cdcTables = SessionMemo(runCdcLatest)

  /** CDC-style materialized view, maintained INCREMENTALLY: a true
    * streaming run folds the event stream into one last-write-wins
    * record per user (latest by the (ts, event_id) total order, plus
    * the update count) via flatMapGroupsWithState — the "current
    * state" table every graph/entity store keeps under a change feed.
    * State is one fixed-size record per key, updated in place per
    * micro-batch, never recomputed from scratch; at 100 TB this lives
    * keyed in RocksDB with event-time TTL for idle keys. The final
    * view equals the batch argmax per user, which is what the oracle
    * checks. The read side collapses multi-batch emission history by
    * max(n_updates) — monotone per key, so the final emission wins. */
  def streamCdcLatest(spark: SparkSession, dir: String): DataFrame = {
    val name = cdcTables(spark, dir)
    spark.table(name)
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_updates"), col("last_ts"),
        col("last_event_id"), col("last_value"))).as("m"))
      .select(col("user_id"),
        col("m.last_event_id").as("last_event_id"),
        col("m.last_ts").as("last_ts"),
        col("m.last_value").as("last_value"),
        col("m.n_updates").as("n_updates"))
      .orderBy(col("user_id"))
  }

  /** One update-mode run to a fresh memory sink; returns the table. */
  private def runCdcLatest(spark: SparkSession, dir: String): String =
    withStatePartitions(spark, 8) {
      import spark.implicits._
      val name = s"graft_stream_cdc_${runIds.incrementAndGet()}"
      val events = eventsStream(spark, dir)
        .select(col("user_id"), col("event_id"),
          date_trunc("second", col("ts")).as("ts_sec"), col("value"))
        .as[UserEvent]
      val q = cdcLatestStream(events)
        .toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode("update")
        .start()
      q.processAllAvailable()
      q.stop()
      name
    }

  /** The CDC fold itself (shared by the registered run and the
    * MemoryStream tests): last-write-wins on the (ts, event_id) total
    * order, update count accumulated across micro-batches — an
    * out-of-order late event bumps the count but never regresses the
    * latest record. */
  def cdcLatestStream(ev: Dataset[UserEvent]): Dataset[LatestState] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[UserEvent],
         state: GroupState[LatestState]) =>
          var cur = state.getOption.orNull
          var n = if (cur == null) 0L else cur.n_updates
          batch.foreach { e =>
            n += 1
            val newer = cur == null ||
              e.ts_sec.compareTo(cur.last_ts) > 0 ||
              (e.ts_sec.compareTo(cur.last_ts) == 0 &&
                e.event_id > cur.last_event_id)
            if (newer)
              cur = LatestState(uid, e.event_id, e.ts_sec, e.value, n)
          }
          cur = cur.copy(n_updates = n)
          state.update(cur)
          Iterator(cur)
      }
  }

  /** One sessionization input row. */
  final case class SessEvent(user_id: Long, ts_sec: java.sql.Timestamp,
    value: Double)

  /** One maintained session aggregate: epoch-milli bounds over the
    * member event times plus exact cents (the corpus's doubles are 2dp,
    * so per-event cents are exact and the sum needs no decimal). */
  final case class SessAgg(start_ms: Long, end_ms: Long, n_events: Long,
    cents: Long)

  /** Per-user state: the session list plus the user's batch count. */
  final case class SessState(sessions: List[SessAgg], n_upd: Long)

  /** One emitted session row. `upd_seq` is the user's batch count at
    * emission time — every batch that touches a user re-emits that
    * user's COMPLETE session list (a late event can merge two previous
    * sessions, so per-session upserts would leave stale rows behind),
    * and the read side keeps only each user's newest emission. */
  final case class SessionOut(user_id: Long,
    session_start: java.sql.Timestamp, n_events: Long, sum_value: Double,
    upd_seq: Long)

  /** Inactivity gap of the stateful sessionizer — same 30 minutes as
    * [[sessions]], and the same merge rule Spark's `session_window`
    * applies (an event EXACTLY gap after the previous one still merges;
    * verified empirically, see the `stream_session_window` oracle). */
  val SessionGapMs: Long = 30L * 60 * 1000

  /** TRUE STATEFUL SESSIONIZATION — the arbitrary-state operator
    * `session_window` cannot express: per-user session AGGREGATES
    * (never raw events) carried across micro-batches via
    * flatMapGroupsWithState, with late events handled exactly — a late
    * arrival extends a session, starts its own, or BRIDGES two existing
    * sessions into one (single-linkage on the time line: an interior
    * point is always within gap of the nearer endpoint of its
    * straddling pair, so absorb-and-sweep over [start,end] aggregates
    * is lossless). Each batch folds the user's new events into the
    * session list by one sort + linear sweep (merge when
    * next.start − cur.end ≤ gap), then re-emits the user's complete
    * list tagged with the batch count.
    *
    * State per user = its session aggregates — bounded by the user's
    * activity span, not the stream; the production variant closes
    * sessions once the event-time watermark passes end + gap
    * (GroupStateTimeout.EventTimeTimeout), emitting them as final and
    * evicting, so live state is only the OPEN tail. Kept timeout-free
    * here because the registered run must equal the batch oracle
    * INCLUDING each user's last session, which never times out before
    * the file source drains. */
  def sessionFoldStream(ev: Dataset[SessEvent]): Dataset[SessionOut] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[SessEvent],
         state: GroupState[SessState]) =>
          val prev = state.getOption.getOrElse(SessState(Nil, 0L))
          val singles = batch.map { e =>
            SessAgg(e.ts_sec.getTime, e.ts_sec.getTime, 1L,
              math.rint(e.value * 100).toLong)
          }.toList
          val merged = (prev.sessions ++ singles)
            .sortBy(s => (s.start_ms, s.end_ms))
            .foldLeft(List.empty[SessAgg]) {
              case (cur :: done, s)
                  if s.start_ms - cur.end_ms <= SessionGapMs =>
                SessAgg(cur.start_ms, math.max(cur.end_ms, s.end_ms),
                  cur.n_events + s.n_events, cur.cents + s.cents) :: done
              case (acc, s) => s :: acc
            }.reverse
          val upd = prev.n_upd + 1
          state.update(SessState(merged, upd))
          merged.iterator.map(s => SessionOut(uid,
            new java.sql.Timestamp(s.start_ms), s.n_events,
            s.cents / 100.0, upd))
      }
  }

  private val sessSink = upsertDir("sess") { (spark, dir, b) =>
    import spark.implicits._
    val ev = eventsStream(spark, dir)
      .select(col("user_id"),
        date_trunc("second", col("ts")).as("ts_sec"), col("value"))
      .as[SessEvent]
    runUpsertLog(spark, b, sessionFoldStream(ev).toDF())
  }

  /** Registered surface of [[sessionFoldStream]]: the event file stream
    * folded through the stateful sessionizer, each batch's emissions
    * committed to the checkpointed parquet upsert log (same
    * effectively-once foreachBatch loop as the CDC/degree keys), read
    * back as each user's NEWEST complete emission. Final sessions equal
    * the batch `session_window` sessionization, which the DuckDB oracle
    * replays via lag/cumsum — the streamed-fold-equals-batch check. */
  def streamStatefulSessions(spark: SparkSession,
      dir: String): DataFrame = {
    val base = sessSink(spark, dir)
    val log = spark.read.parquet(s"$base/out")
    val mx = log.groupBy(col("user_id")).agg(max(col("upd_seq")).as("mx"))
    log.join(mx, "user_id")
      .filter(col("upd_seq") === col("mx"))
      .select(col("user_id"), col("session_start"), col("n_events"),
        col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** True streaming custom state: per-user running purchase totals via
    * flatMapGroupsWithState (Update mode). State is one fixed-size
    * record per user — bounded by user cardinality; with event-time
    * timeouts it would be evicted for idle users at scale. Exercised by
    * the MemoryStream suite (the batch analog above is the
    * oracle-checked equivalent). */
  def statefulRunningStream(ev: Dataset[PurchaseEvent])
      : Dataset[RunningTotal] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[PurchaseEvent],
         state: GroupState[CentsTotal]) =>
          val prev = state.getOption.getOrElse(CentsTotal(uid, 0L, 0L))
          var n = prev.n_purchases
          var cents = prev.total_cents
          batch.foreach { e => n += 1; cents += math.rint(e.value * 100).toLong }
          state.update(CentsTotal(uid, n, cents))
          Iterator(RunningTotal(uid, n, cents / 100.0))
      }
  }
}
