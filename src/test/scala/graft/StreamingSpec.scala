package graft

import java.sql.Timestamp
import graft.ops.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming variants of the §2.8 operators, driven through
  * MemoryStream — covers the semantics the batch oracle cannot see:
  * incremental emission, custom state across micro-batches, and
  * watermark-based late-data dropping. */
class StreamingSpec extends SparkSpec {
  import Streaming.{PurchaseEvent, RunningTotal}

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  case class Ev(ts_sec: Timestamp, event_type: String, user_id: Long,
    value: Double)

  test("tumbling window aggregates incrementally over micro-batches") {
    val sess = spark
    import sess.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = Streaming.tumbling(input.toDF())
      .writeStream.format("memory").queryName("tumbling_t")
      .outputMode("complete").start()
    try {
      input.addData(
        Ev(ts("2024-01-01 10:05:00"), "click", 1L, 10.0),
        Ev(ts("2024-01-01 10:55:00"), "click", 2L, 20.0))
      q.processAllAvailable()
      input.addData(Ev(ts("2024-01-01 11:05:00"), "click", 1L, 5.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling_t")
        .orderBy("ws", "event_type").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[Long]("n_events") == 2)
      assert(rows(0).getAs[Double]("sum_value") == 30.0)
      assert(rows(1).getAs[Long]("n_events") == 1)
    } finally q.stop()
  }

  test("watermark drops late data beyond the threshold") {
    val sess = spark
    import sess.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    // 10-minute watermark, 1h tumbling window, append mode: a window is
    // emitted once the watermark passes its end; later rows for it drop.
    val agg = input.toDF()
      .withWatermark("ts_sec", "10 minutes")
      .groupBy(window(col("ts_sec"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n_events"))
    val q = agg.writeStream.format("memory").queryName("late_t")
      .outputMode("append").start()
    try {
      input.addData(Ev(ts("2024-01-01 10:05:00"), "click", 1L, 1.0))
      q.processAllAvailable()
      // advance watermark past 11:00 (event time 11:30 → wm 11:20)
      input.addData(Ev(ts("2024-01-01 11:30:00"), "click", 1L, 1.0))
      q.processAllAvailable()
      // late arrival for the already-closed 10:00 window → dropped
      input.addData(Ev(ts("2024-01-01 10:20:00"), "click", 1L, 1.0))
      q.processAllAvailable()
      // force emission check after watermark advanced
      input.addData(Ev(ts("2024-01-01 13:00:00"), "click", 1L, 1.0))
      q.processAllAvailable()
      val closed10 = spark.table("late_t")
        .filter(col("ws") === ts("2024-01-01 10:00:00")).collect()
      assert(closed10.length == 1)
      // the late 10:20 row did NOT bump the count
      assert(closed10(0).getAs[Long]("n_events") == 1)
    } finally q.stop()
  }

  test("flatMapGroupsWithState carries running totals across batches") {
    val sess = spark
    import sess.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[PurchaseEvent]
    val q = Streaming.statefulRunningStream(input.toDS())
      .writeStream.format("memory").queryName("state_t")
      .outputMode("update").start()
    try {
      input.addData(
        PurchaseEvent(1L, 1L, ts("2024-01-01 10:00:00"), 10.5),
        PurchaseEvent(1L, 2L, ts("2024-01-01 10:01:00"), 4.5))
      q.processAllAvailable()
      input.addData(PurchaseEvent(1L, 3L, ts("2024-01-01 10:02:00"), 5.0))
      q.processAllAvailable()
      val latest = spark.table("state_t").as[RunningTotal].collect()
        .filter(_.user_id == 1L).maxBy(_.n_purchases)
      assert(latest.n_purchases == 3L)
      assert(latest.total == 20.0)
    } finally q.stop()
  }

  test("CDC latest-state view: late out-of-order event never regresses") {
    val sess = spark
    import sess.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Streaming.UserEvent]
    val q = Streaming.cdcLatestStream(input.toDS())
      .writeStream.format("memory").queryName("cdc_t")
      .outputMode("update").start()
    try {
      input.addData(
        Streaming.UserEvent(7L, 1L, ts("2024-01-01 10:00:00"), 1.0),
        Streaming.UserEvent(7L, 2L, ts("2024-01-01 11:00:00"), 2.0))
      q.processAllAvailable()
      // batch 2: a LATE event with an older timestamp — counted as an
      // update, but the latest record must not regress
      input.addData(
        Streaming.UserEvent(7L, 3L, ts("2024-01-01 10:30:00"), 9.9))
      q.processAllAvailable()
      val fin = spark.table("cdc_t").as[Streaming.LatestState].collect()
        .filter(_.user_id == 7L).maxBy(_.n_updates)
      assert(fin.n_updates == 3L)
      assert(fin.last_event_id == 2L)
      assert(fin.last_value == 2.0)
    } finally q.stop()
  }

  test("stateful sessionization: late events extend, open, and BRIDGE " +
      "sessions across micro-batches") {
    val sess = spark
    import sess.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Streaming.SessEvent]
    val q = Streaming.sessionFoldStream(input.toDS())
      .writeStream.format("memory").queryName("sess_t")
      .outputMode("update").start()
    try {
      // batch 1 — user 1: one session (10:00, 10:10); user 2: two
      // sessions 50 minutes apart (10:00 and 10:50)
      input.addData(
        Streaming.SessEvent(1L, ts("2024-01-01 10:00:00"), 1.0),
        Streaming.SessEvent(1L, ts("2024-01-01 10:10:00"), 2.0),
        Streaming.SessEvent(2L, ts("2024-01-01 10:00:00"), 5.0),
        Streaming.SessEvent(2L, ts("2024-01-01 10:50:00"), 7.0))
      q.processAllAvailable()
      val mid = spark.table("sess_t").as[Streaming.SessionOut].collect()
      assert(mid.count(_.user_id == 2L) == 2) // two sessions before the bridge
      // batch 2 — all LATE in event time: user 1 gets an in-session
      // event (10:05, extends) and a far-away one (14:00, new session);
      // user 2 gets 10:25 — within gap of BOTH 10:00 and 10:50, so the
      // two previous sessions must merge into one
      input.addData(
        Streaming.SessEvent(1L, ts("2024-01-01 10:05:00"), 4.0),
        Streaming.SessEvent(1L, ts("2024-01-01 14:00:00"), 8.0),
        Streaming.SessEvent(2L, ts("2024-01-01 10:25:00"), 3.0))
      q.processAllAvailable()
      val all = spark.table("sess_t").as[Streaming.SessionOut].collect()
      def latest(uid: Long): Seq[Streaming.SessionOut] = {
        val rows = all.filter(_.user_id == uid)
        val mx = rows.map(_.upd_seq).max
        rows.filter(_.upd_seq == mx).sortBy(_.session_start.getTime).toSeq
      }
      val u1 = latest(1L)
      assert(u1.map(s => (s.session_start, s.n_events, s.sum_value)) ==
        Seq((ts("2024-01-01 10:00:00"), 3L, 7.0),
          (ts("2024-01-01 14:00:00"), 1L, 8.0)))
      val u2 = latest(2L)
      assert(u2.map(s => (s.session_start, s.n_events, s.sum_value)) ==
        Seq((ts("2024-01-01 10:00:00"), 3L, 15.0)))
    } finally q.stop()
  }

  test("stateful sessionization registered key equals the batch " +
      "session_window sessionization") {
    val got = Streaming.streamStatefulSessions(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3)))
    val want = graft.ops.Streaming.streamSessionWindow(spark, sfDir)
      .select(col("user_id"), col("session_start"), col("n_events"),
        col("sum_value")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.toSeq == want.toSeq)
  }

  test("transformWithState (4.x StatefulProcessor) matches the " +
      "flatMapGroupsWithState totals") {
    val sess = spark
    import sess.implicits._
    implicit val ctx = spark.sqlContext
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    val input = MemoryStream[PurchaseEvent]
    val q = Streaming.statefulRunningTws(input.toDS())
      .writeStream.format("memory").queryName("tws_t")
      .outputMode("update").start()
    try {
      input.addData(
        PurchaseEvent(7L, 1L, ts("2024-01-01 09:00:00"), 2.5),
        PurchaseEvent(8L, 2L, ts("2024-01-01 09:00:30"), 1.0))
      q.processAllAvailable()
      input.addData(PurchaseEvent(7L, 3L, ts("2024-01-01 09:01:00"), 7.5))
      q.processAllAvailable()
      val latest = spark.table("tws_t").as[RunningTotal].collect()
        .groupBy(_.user_id).map { case (u, rs) => u -> rs.maxBy(_.n_purchases) }
      assert(latest(7L).total == 10.0 && latest(7L).n_purchases == 2L)
      assert(latest(8L).total == 1.0)
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("cents transformWithState: exact totals across batches (the " +
      "registered key's processor)") {
    val sess = spark
    import sess.implicits._
    implicit val ctx = spark.sqlContext
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    val input = MemoryStream[PurchaseEvent]
    val q = Streaming.statefulCentsTws(input.toDS())
      .writeStream.format("memory").queryName("tws_cents_t")
      .outputMode("update").start()
    try {
      input.addData(
        PurchaseEvent(7L, 1L, ts("2024-01-01 09:00:00"), 2.53),
        PurchaseEvent(8L, 2L, ts("2024-01-01 09:00:30"), 1.01))
      q.processAllAvailable()
      input.addData(PurchaseEvent(7L, 3L, ts("2024-01-01 09:01:00"), 7.49))
      q.processAllAvailable()
      val latest = spark.table("tws_cents_t")
        .as[Streaming.CentsTotal].collect()
        .groupBy(_.user_id)
        .map { case (u, rs) => u -> rs.maxBy(_.n_purchases) }
      assert(latest(7L).total_cents == 1002L)
      assert(latest(7L).n_purchases == 2L)
      assert(latest(8L).total_cents == 101L)
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming dedup with watermark keeps first of duplicate ids") {
    val sess = spark
    import sess.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val q = input.toDF().toDF("event_id", "ts_sec")
      .withWatermark("ts_sec", "1 hour")
      .dropDuplicates("event_id")
      .writeStream.format("memory").queryName("dedup_t")
      .outputMode("append").start()
    try {
      input.addData((1L, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      input.addData((1L, ts("2024-01-01 10:05:00"))) // duplicate id
      input.addData((2L, ts("2024-01-01 10:06:00")))
      q.processAllAvailable()
      assert(spark.table("dedup_t").count() == 2)
    } finally q.stop()
  }

  test("file-source stream replays events through the same transform " +
      "and matches the batch result") {
    import org.apache.spark.sql.functions.{col, date_trunc}
    val ev = Tables(spark, sfDir).events
      .withColumn("ts_sec", date_trunc("second", col("ts")))
    val dir = java.nio.file.Files.createTempDirectory("graft_stream")
      .toString
    ev.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(ev.schema).parquet(dir)
    val q = Streaming.tumbling(stream)
      .writeStream.format("memory").queryName("file_t")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("file_t").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("ws"),
          r.getAs[String]("event_type")) -> r.getAs[Long]("n_events"))
        .toMap
      val batch = Streaming.tumbling(ev).collect()
        .map(r => (r.getAs[java.sql.Timestamp]("ws"),
          r.getAs[String]("event_type")) -> r.getAs[Long]("n_events"))
        .toMap
      assert(streamed == batch,
        "stream and batch runs of the same transform must agree")
    } finally q.stop()
  }

  test("session_window merges an event exactly gap-duration later " +
      "(boundary pinned for the oracle emulation)") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 10:30:00"), 1.0), // exactly 30min later
      (1L, ts("2024-01-01 11:00:01"), 1.0)  // 30min 1s later → new
    ).toDF("user_id", "ts_sec", "value")
    val sessions = Streaming.sessions(df).collect()
    assert(sessions.length == 2,
      s"expected [merged, new] = 2 sessions, got ${sessions.toSeq}")
    assert(sessions.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(1L, 2L))
  }

  test("batch analogs match between shared transform and query entry") {
    val viaEntry = Streaming.streamTumblingWindow(spark, sfDir).collect()
    assert(viaEntry.nonEmpty)
    assert(viaEntry.map(_.getAs[Long]("n_events")).sum == 1000L)
  }

  test("parquet sink is exactly-once: rerun from checkpoint adds nothing") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-sink-e1").toString
    Streaming.runSinkTo(spark, sfDir, base)
    val first = spark.read.parquet(s"$base/out").count()
    assert(first > 0)
    // restart against the SAME checkpoint + output: the offset WAL says
    // the file was already committed, so nothing is reprocessed
    Streaming.runSinkTo(spark, sfDir, base)
    val second = spark.read.parquet(s"$base/out").count()
    assert(second == first,
      s"rerun duplicated rows: $first -> $second")
    // and the committed rows are exactly the batch-filter rows
    val batch = Tables(spark, sfDir).events
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .count()
    assert(first == batch)
  }

  test("upsert log is idempotent: checkpoint rerun leaves state intact " +
      "and the latest view equals the batch aggregate") {
    import org.apache.spark.sql.functions.{col, count, lit, max, struct}
    val base = java.nio.file.Files
      .createTempDirectory("graft-upsert-e1").toString
    def agg = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, ts BIGINT, user_id BIGINT, " +
          "event_type STRING, value DOUBLE, props STRING"))
      .parquet(s"$sfDir/events*.parquet")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    Streaming.runUpsertLog(spark, base, agg)
    val read1 = spark.read.parquet(s"$base/out")
    val first = read1.count()
    assert(first > 0)
    // rerun against the same checkpoint: no new input → no new batch →
    // no new partitions, and a replayed batch would only overwrite its
    // own batch_id partition
    Streaming.runUpsertLog(spark, base, agg)
    assert(spark.read.parquet(s"$base/out").count() == first)
    // latest-per-key view equals the batch recompute
    val latest = spark.read.parquet(s"$base/out")
      .groupBy(col("user_id"))
      .agg(max(struct(col("batch_id"), col("n"))).as("m"))
      .select(col("user_id"), col("m.n").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Tables(spark, sfDir).events
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(latest == batch)
  }

  test("parquet-sink CDC view equals the memory-sink CDC view") {
    import org.apache.spark.sql.functions.col
    val cols = Seq("user_id", "last_event_id", "last_ts",
      "last_value", "n_updates").map(col)
    val viaLog = Streaming.streamCdcParquet(spark, sfDir)
      .select(cols: _*).collect().map(_.toSeq).toSet
    val viaMem = Streaming.streamCdcLatest(spark, sfDir)
      .select(cols: _*).collect().map(_.toSeq).toSet
    assert(viaLog.nonEmpty)
    assert(viaLog == viaMem)
  }

  test("parquet-sink stream-stream join equals the memory-sink join") {
    import org.apache.spark.sql.functions.col
    val cols = Seq("user_id", "click_id", "click_ts", "purchase_id",
      "purchase_ts", "value").map(col)
    val viaFile = Streaming.streamJoinParquet(spark, sfDir)
      .select(cols: _*).collect().map(_.toSeq)
    val viaMem = Streaming.streamStreamJoin(spark, sfDir)
      .select(cols: _*).collect().map(_.toSeq)
    assert(viaFile.nonEmpty)
    // both are fully ordered by (user, click, purchase): compare in order
    assert(viaFile.toSeq == viaMem.toSeq)
  }

  test("streamed degree equals batch degree (incremental == recompute)") {
    val streamed = Streaming.streamGraphDegree(spark, sfDir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("out_degree"), r.getAs[Double]("sum_value"))).toMap
    val batch = Tables(spark, sfDir).events
      .groupBy(org.apache.spark.sql.functions.col("user_id"))
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("d"),
        graft.ops.Det.sum2(
          org.apache.spark.sql.functions.col("value")).as("s"))
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("d"), r.getAs[Double]("s"))).toMap
    assert(streamed == batch)
  }

  case class Click(user_id: Long, click_id: Long, click_ts: Timestamp)
  case class Purchase(p_user_id: Long, purchase_id: Long,
    purchase_ts: Timestamp, value: Double)

  test("stream-stream join emits incrementally and matches across " +
      "micro-batches") {
    val sess = spark
    import sess.implicits._
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[Click]
    val purchases = MemoryStream[Purchase]
    val joined = Streaming.attributionJoin(
      clicks.toDF().withWatermark("click_ts", "1 hour"),
      purchases.toDF().withWatermark("purchase_ts", "2 hours"))
    val q = joined.writeStream.format("memory").queryName("ssjoin_t")
      .outputMode("append").start()
    try {
      // click arrives first; matching purchase in a LATER micro-batch
      clicks.addData(Click(1L, 100L, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      assert(spark.table("ssjoin_t").count() == 0)
      purchases.addData(
        Purchase(1L, 200L, ts("2024-01-01 10:30:00"), 5.0), // in range
        Purchase(1L, 201L, ts("2024-01-01 11:30:00"), 6.0), // > 1h after
        Purchase(2L, 202L, ts("2024-01-01 10:30:00"), 7.0)) // other user
      q.processAllAvailable()
      val rows = spark.table("ssjoin_t").collect()
      assert(rows.length == 1)
      assert(rows(0).getAs[Long]("click_id") == 100L)
      assert(rows(0).getAs[Long]("purchase_id") == 200L)
    } finally q.stop()
  }

  test("stream-stream join final output equals the batch interval join") {
    val streamed = Streaming.streamStreamJoin(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id")))
      .toSet
    val ev = Tables(spark, sfDir).events
      .withColumn("ts_sec", date_trunc("second", col("ts")))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_sec").as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"),
        col("ts_sec").as("purchase_ts"), col("value"))
    val batch = Streaming.attributionJoin(c, p).collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id")))
      .toSet
    assert(streamed == batch && batch.nonEmpty)
  }
  test("incremental components: final labels equal batch min-label " +
      "components over the co-activity graph; re-read is stable") {
    val got = Streaming.streamComponentsIncremental(spark, sfDir)
      .collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("component"))
      .toMap
    val again = Streaming.streamComponentsIncremental(spark, sfDir)
      .collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("component"))
      .toMap
    assert(got == again, "memoized resume must be stable")
    val e = Tables(spark, sfDir).events
      .select(col("user_id").as("a_id"),
        (lit(Streaming.HourOff) +
          expr("unix_timestamp(date_trunc('HOUR', ts)) div 3600"))
          .as("b_id"))
      .distinct()
    val verts = e.select(col("a_id").as("id"))
      .unionByName(e.select(col("b_id").as("id"))).distinct()
    val batch = graft.ops.GraphOps.minLabelComponents(verts, e).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster"))
      .filter(_._1 < Streaming.HourOff).toMap
    assert(got == batch, "incremental state diverged from batch labels")
    // a fresh feed into its own state dir: every micro-batch releases
    // its checkpoints, so the feed leaves no cached RDD behind
    val base = TempDirs.create("graft-ccsink-spec")
    val (_, left) = jobsAndLeaks("leaks-stream-cc") {
      Streaming.runLabelState(spark, base,
        Streaming.coActivityEdges(spark, sfDir))
    }
    assert(left.isEmpty, s"the label feed left RDDs $left cached")
    val fresh = spark.read.parquet(s"$base/labels")
      .filter(col("id") < Streaming.HourOff).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("lbl")).toMap
    assert(fresh == got, "a fresh feed diverged from the memoized one")
  }
}
