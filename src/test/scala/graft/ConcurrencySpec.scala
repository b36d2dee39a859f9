package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver-side overlap helper that the r15 optimizations lean on
  * (index-family lifecycles, rollup-repair levels, side-table writes,
  * validation arms): results must come back in INPUT order regardless of
  * completion order, each thunk runs exactly once, and a failure
  * propagates as the thunk's own exception type after all threads settle.
  */
class ConcurrencySpec extends AnyFunSuite {

  test("results preserve input order, not completion order") {
    val out = Concurrency.inParallel((0 until 8).map(i => () => {
      Thread.sleep((8 - i) * 20L) // earlier thunks finish LAST
      i
    }))
    assert(out === (0 until 8))
  }

  test("each thunk runs exactly once") {
    val counts = new java.util.concurrent.atomic.AtomicIntegerArray(16)
    Concurrency.inParallel((0 until 16).map(i => () => {
      counts.incrementAndGet(i); i
    }), maxConcurrent = 4)
    (0 until 16).foreach(i => assert(counts.get(i) === 1))
  }

  test("a failing thunk rethrows its own exception type, not the wrapper") {
    val boom = intercept[IllegalStateException] {
      Concurrency.inParallel[Int](Seq(
        () => 1,
        () => throw new IllegalStateException("boom"),
        () => 3))
    }
    assert(boom.getMessage === "boom")
  }

  test("a failure is rethrown only after every sibling thunk has settled") {
    val finished = new java.util.concurrent.atomic.AtomicInteger
    intercept[IllegalStateException] {
      Concurrency.inParallel[Unit](Seq(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(200); finished.incrementAndGet(); () },
        () => { Thread.sleep(300); finished.incrementAndGet(); () }),
        maxConcurrent = 3)
    }
    // a sibling still running at the rethrow could touch state the caller
    // clears on failure (a commit's scope and retirements)
    assert(finished.get() === 2)
  }

  test("default in-flight bound is capped (guide §2.6), not thunks.size") {
    assert(Concurrency.DefaultMaxConcurrent >= 2)
    assert(Concurrency.DefaultMaxConcurrent <= 4)
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val peak = new java.util.concurrent.atomic.AtomicInteger(0)
    Concurrency.inParallel((0 until 32).map(_ => () => {
      val now = inFlight.incrementAndGet()
      peak.getAndUpdate(p => math.max(p, now))
      Thread.sleep(20L)
      inFlight.decrementAndGet()
    }))
    assert(peak.get() <= Concurrency.DefaultMaxConcurrent)
  }

  test("worker threads resolve the caller's Spark session (no ambient-" +
    "lookup dependence on thread lineage)") {
    val spark = SparkSpec.session // ensure a session exists
    val sessions = Concurrency.inParallel((0 until 4).map(_ => () =>
      org.apache.spark.sql.SparkSession.active))
    sessions.foreach(s => assert(s eq spark))
  }

  test("a worker thread that already has an active session gets it back") {
    import org.apache.spark.sql.SparkSession
    val spark = SparkSpec.session
    val own = spark.newSession()
    val seen = new java.util.concurrent.atomic.AtomicReference[(SparkSession, SparkSession)]()
    val worker = new Thread(() => {
      SparkSession.setActiveSession(own)
      val inside = Concurrency.withActiveSession(Some(spark))(SparkSession.active)
      seen.set((inside, SparkSession.active))
    })
    worker.start(); worker.join()
    val (inside, after) = seen.get()
    assert(inside eq spark)
    assert(after eq own)
  }

  test("single-thunk input short-circuits on the caller thread") {
    val caller = Thread.currentThread().getId
    val ran = Concurrency.inParallel(Seq(
      () => Thread.currentThread().getId))
    assert(ran === Seq(caller))
  }
}
