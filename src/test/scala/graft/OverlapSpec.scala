package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

class OverlapSpec extends SparkSpec {

  test("legs that wait on each other all run at once: more legs than cores complete") {
    // a pool sized to the cores would park the first `cores` legs on the
    // latch and never start the rest
    val n = Runtime.getRuntime.availableProcessors + 2
    val latch = new CountDownLatch(n)
    val met = Overlap.all(Seq.fill(n)(() => { latch.countDown(); latch.await(60, TimeUnit.SECONDS) }))
    assert(met === Seq.fill(n)(true))
  }

  test("a failing leg's error is rethrown only after its slower sibling has finished") {
    val finished = new AtomicBoolean(false)
    val slow = () => { Thread.sleep(300); finished.set(true) }
    val e = intercept[IllegalStateException](
      Overlap.all(Seq(() => throw new IllegalStateException("first"), slow)))
    assert(e.getMessage === "first")
    assert(finished.get)
    finished.set(false)
    intercept[IllegalStateException](Overlap.both(slow(), throw new IllegalStateException("b")))
    assert(finished.get)
  }

  test("the first failure in leg order wins, and results keep leg order") {
    val e = intercept[RuntimeException](Overlap.all(Seq(
      () => { Thread.sleep(200); throw new RuntimeException("leg 0") },
      () => throw new RuntimeException("leg 1"))))
    assert(e.getMessage === "leg 0")
    assert(Overlap.all(Seq(() => { Thread.sleep(100); 0 }, () => 1, () => 2)) === Seq(0, 1, 2))
    assert(Overlap.both("a", 2) === (("a", 2)))
  }

  test("every leg sees the caller's job group, and its jobs run under it") {
    val sc = spark.sparkContext
    val jobs = jobsDuring {
      sc.setJobGroup("overlap-spec", "legs inherit the group")
      try {
        val groups = Overlap.all(Seq.fill(3)(() => {
          sc.parallelize(1 to 4, 2).count()
          sc.getLocalProperty("spark.jobGroup.id")
        }))
        assert(groups === Seq.fill(3)("overlap-spec"))
      } finally sc.clearJobGroup()
    }
    assert(jobs.size === 3)
    assert(jobs.map(_.getProperty("spark.jobGroup.id")).toSet === Set("overlap-spec"))
  }

  test("cancelling the caller's job group cancels the jobs of every leg") {
    val sc = spark.sparkContext
    val canceller = new Thread(() => {
      val deadline = System.nanoTime + 60e9.toLong
      while (sc.statusTracker.getJobIdsForGroup("overlap-cancel").length < 2 &&
          System.nanoTime < deadline) Thread.sleep(20)
      sc.cancelJobGroup("overlap-cancel")
    })
    canceller.start()
    val t0 = System.nanoTime
    sc.setJobGroup("overlap-cancel", "legs are cancelled with the group", interruptOnCancel = true)
    try intercept[org.apache.spark.SparkException](Overlap.all(Seq.fill(2)(() =>
      sc.parallelize(1 to 2, 2).foreach(_ => Thread.sleep(120000)))))
    finally { sc.clearJobGroup(); canceller.join() }
    assert((System.nanoTime - t0) / 1e9 < 60)
  }
}
