package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Overlaps two independent driver-side computations whose Spark actions
  * would otherwise serialize at plan-construction time, idling the box
  * between their small stages (guide §2.6 "overlap independent jobs";
  * Spark's scheduler runs concurrent jobs FIFO and back-fills the tail).
  * The second leg runs on a small dedicated daemon pool, the first on the
  * caller's thread — blocking Spark actions never occupy the global
  * ExecutionContext, and a stuck leg never keeps the JVM alive.
  */
object Overlap {

  private val pool = ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newFixedThreadPool(2, (r: Runnable) => {
      val t = new Thread(r, "graft-overlap")
      t.setDaemon(true)
      t
    }))

  def both[A, B](a: => A, b: => B): (A, B) = {
    val fb = Future(b)(pool)
    val ra = a
    (ra, Await.result(fb, Duration.Inf))
  }
}
