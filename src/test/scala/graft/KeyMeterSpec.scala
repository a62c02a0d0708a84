package graft

import java.util.concurrent.Executors

class KeyMeterSpec extends SparkSpec {
  private def meter = SparkSpec.meter

  /** `n` one-job RDD counts of two partitions each. */
  private def jobs(n: Int): Unit =
    (1 to n).foreach(_ => spark.sparkContext.parallelize(1 to 10, 2).count())

  test("concurrent tags each get exactly their own jobs and tasks") {
    val threads = Seq("meter-a" -> 3, "meter-b" -> 5).map { case (tag, n) =>
      new Thread(() => meter.run(tag)(jobs(n)): Unit)
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(meter("meter-a").jobs == 3 && meter("meter-a").tasks == 6)
    assert(meter("meter-b").jobs == 5 && meter("meter-b").tasks == 10)
  }

  test("a throwing body comes back as the error and clears the job group") {
    val boom = new IllegalStateException("boom")
    val (_, r) = meter.run("meter-throw") { jobs(1); throw boom }
    assert(r == Left(boom))
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
    assert(spark.sparkContext.getLocalProperty(KeyMeter.KeyProperty) == null)
    assert(meter("meter-throw").jobs == 1)
  }

  test("jobs from a pool thread spawned under a tag count for that tag") {
    val (_, r) = meter.run("meter-pool") {
      val pool = Executors.newFixedThreadPool(2)
      try (1 to 4).map(_ => pool.submit[Unit](() => jobs(1)))
        .foreach(_.get())
      finally pool.shutdown()
    }
    assert(r.isRight)
    assert(meter("meter-pool").jobs == 4)
  }

  test("a streaming key's micro-batch jobs count for its tag, not for " +
      "the query's own job group") {
    def uuid(g: String) = scala.util.Try(java.util.UUID.fromString(g))
      .isSuccess
    val before = meter.all.keySet
    val (_, r) = meter.run("meter-stream") {
      graft.ops.Streaming.streamCdcParquet(spark, freshSfDir()).collect()
    }
    assert(r.isRight)
    val added = meter.all.keySet -- before
    assert(!added.exists(uuid), s"new groups: $added")
    assert(added.contains("meter-stream"))
  }
}
