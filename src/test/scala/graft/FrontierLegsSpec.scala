package graft

import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Similarity

/** The concurrent leg runner behind sim_eval_frontier: a failing leg
  * must not leave the others running detached, and a hung leg must
  * fail within the deadline. */
class FrontierLegsSpec extends AnyFunSuite {

  test("a failing leg surfaces only after every other leg has finished") {
    val slowDone = new AtomicBoolean(false)
    val boom = new IllegalStateException("leg a")
    val legs: Seq[(String, () => Int)] = Seq(
      "a" -> (() => throw boom),
      "b" -> (() => { Thread.sleep(500); slowDone.set(true); 1 }),
      "c" -> (() => throw new IllegalArgumentException("leg c")))
    val err = intercept[IllegalStateException](Similarity.runLegs(legs, threads = 3))
    assert(err eq boom)
    assert(slowDone.get, "the slow leg was still running when the failure surfaced")
    assert(err.getSuppressed.map(_.getMessage).toSeq === Seq("leg c"))
  }

  test("legs run on named daemon threads; results come back in input order") {
    val legs: Seq[(String, () => (String, Boolean))] = (1 to 4).map { i =>
      s"m$i" -> (() => {
        Thread.sleep(50L * (4 - i))
        (Thread.currentThread().getName, Thread.currentThread().isDaemon)
      })
    }
    val out = Similarity.runLegs(legs, threads = 2)
    assert(out.map(_._1) === Seq("m1", "m2", "m3", "m4"))
    assert(out.forall { case (_, (name, daemon)) => name.startsWith("graft-leg-") && daemon })
  }

  test("a hung leg fails within the deadline, named and cancelled; the others settle first") {
    val fastDone = new AtomicBoolean(false)
    val interrupted = new java.util.concurrent.CountDownLatch(1)
    val boom = new IllegalArgumentException("leg c")
    val legs: Seq[(String, () => Int)] = Seq(
      "hung" -> (() => {
        try { new java.util.concurrent.CountDownLatch(1).await(); 0 }
        catch { case e: InterruptedException => interrupted.countDown(); throw e }
      }),
      "fast" -> (() => { Thread.sleep(200); fastDone.set(true); 1 }),
      "c" -> (() => throw boom))
    val t0 = System.nanoTime()
    val err = intercept[java.util.concurrent.TimeoutException](
      Similarity.runLegs(legs, threads = 3,
        deadline = java.time.Duration.ofSeconds(2)))
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs >= 2.0 && secs < 10.0, s"failed after $secs s")
    assert(err.getMessage.contains("hung") && !err.getMessage.contains("fast"),
      err.getMessage)
    assert(fastDone.get, "the fast leg had not settled when the timeout surfaced")
    assert(err.getSuppressed.toSeq === Seq(boom))
    assert(interrupted.await(5, java.util.concurrent.TimeUnit.SECONDS),
      "the hung leg was never cancelled")
  }
}
