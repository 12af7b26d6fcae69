package graft

import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Similarity

/** The concurrent leg runner behind sim_eval_frontier: a failing leg
  * must not leave the others running detached. */
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
}
