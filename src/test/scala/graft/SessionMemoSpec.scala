package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The [[SessionMemo]] contract: one build per key under concurrent
  * first calls, nothing stored by a build that throws, and nested memos
  * that cannot deadlock. */
class SessionMemoSpec extends SparkSpec {

  /** Runs `body` on `n` threads released together; returns what each
    * returned, failing the test if any thread throws or hangs. */
  private def together[A](n: Int)(body: Int => A): Seq[A] = {
    val start = new CountDownLatch(1)
    val out = new java.util.concurrent.ConcurrentHashMap[Int, A]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { i =>
      val t = new Thread(() =>
        try { start.await(); out.put(i, body(i)): Unit }
        catch { case e: Throwable => errs.add(e): Unit })
      t.start()
      t
    }
    start.countDown()
    threads.foreach(_.join(TimeUnit.SECONDS.toMillis(60)))
    assert(threads.forall(!_.isAlive), "a thread did not finish")
    assert(errs.isEmpty, errs.toString)
    (0 until n).map(out.get)
  }

  test("concurrent first calls on a fresh key build it once") {
    val builds = new AtomicInteger
    val memo = SessionMemo { (_, dir) =>
      builds.incrementAndGet()
      Thread.sleep(50) // widen the window a second build would use
      new Object -> dir
    }
    val got = together(8)(_ => memo(spark, "fresh"))
    assert(builds.get == 1)
    assert(got.forall(_ eq got.head))
  }

  test("a build that throws stores nothing, and the next call builds") {
    val builds = new AtomicInteger
    val memo = SessionMemo { (_, _) =>
      if (builds.incrementAndGet() == 1) sys.error("first build fails")
      "built"
    }
    intercept[RuntimeException](memo(spark, "k"))
    assert(memo(spark, "k") == "built")
    assert(memo(spark, "k") == "built")
    assert(builds.get == 2)
  }

  test("memos nested in dependency order, called from two threads, " +
      "both finish") {
    val innerBuilds = new AtomicInteger
    val outerBuilds = new AtomicInteger
    val inner = SessionMemo { (_, dir) =>
      innerBuilds.incrementAndGet()
      Thread.sleep(50)
      s"inner:$dir"
    }
    val outer = SessionMemo { (spark, dir) =>
      outerBuilds.incrementAndGet()
      s"outer(${inner(spark, dir)})"
    }
    // one thread enters through the outer memo, the other takes the
    // inner lock directly and then asks for the outer value
    val got = together(2) {
      case 0 => outer(spark, "k")
      case _ => inner(spark, "k") + outer(spark, "k")
    }
    assert(got == Seq("outer(inner:k)", "inner:kouter(inner:k)"))
    assert(innerBuilds.get == 1 && outerBuilds.get == 1)
  }
}
