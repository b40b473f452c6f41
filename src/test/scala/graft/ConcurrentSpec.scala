package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import graft.store.Concurrent

/** [[Concurrent.eval]]: the bounded action pool, its nesting rule and
 *  its await-all failure contract. */
class ConcurrentSpec extends SparkSpec {

  private def sc = spark.sparkContext

  test("thunks run on the graft-actions pool, in order, inside the caller's job group") {
    sc.setJobGroup("concurrent-spec", "job group reaches the action threads")
    val out = try Concurrent.eval(sc, (1 to 4).map { i => () =>
      (i, Thread.currentThread().getName, sc.getLocalProperty("spark.jobGroup.id"),
        spark.range(i).count())
    }) finally sc.clearJobGroup()
    assert(out.map(_._1) == (1 to 4))
    assert(out.map(_._2).toSet == Set("graft-actions"))
    assert(out.map(_._3).toSet == Set("concurrent-spec"))
    assert(out.map(_._4) == (1 to 4).map(_.toLong))
    // the job group is cleared off the pool threads after each thunk
    assert(Concurrent.eval(sc, Seq.fill(4)(() =>
      Option(sc.getLocalProperty("spark.jobGroup.id")))).flatten.isEmpty)
  }

  test("a nested eval wider than the pool completes (inner lists run inline)") {
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val nested = Future(Concurrent.eval(sc, (0 until 20).map { i => () =>
      Concurrent.eval(sc, (0 until 20).map(j => () =>
        (i * 20 + j, Thread.currentThread().getName))).map(_._1).sum
    }))
    val sums = Await.result(nested, 2.minutes)
    assert(sums == (0 until 20).map(i => (0 until 20).map(j => i * 20 + j).sum))
  }

  test("a failure surfaces only after every sibling has finished") {
    val finished = new AtomicInteger(0)
    val siblings = (1 to 5).map(_ => () => { Thread.sleep(300); finished.incrementAndGet() })
    val e = intercept[IllegalStateException] {
      Concurrent.eval(sc, (() => throw new IllegalStateException("boom")) +: siblings)
    }
    assert(e.getMessage == "boom")
    assert(finished.get == 5)
  }
}
