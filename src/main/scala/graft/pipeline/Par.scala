package graft.pipeline

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** Bounded fan-out of independent driver-side units (a sync's per-table
  * pipelines, a table's stores, the catalog upserts): each unit plans
  * and submits its own Spark jobs, so units that would otherwise queue
  * behind one driver thread overlap on the executors.
  *
  * The threads are created INSIDE the call, never taken from a shared
  * pool: a thread inherits the creating thread's Spark local properties
  * (job group, scheduler pool, job tags) and active session when it is
  * constructed, so a long-lived pool would tag every later job with the
  * job group of whichever call first created its threads.
  *
  * Every unit runs to completion even when another fails; the call then
  * rethrows the failure of the earliest failing unit (in `units` order)
  * with the others attached as suppressed. Width ≤ 1 or a single unit
  * runs on the calling thread, with the same failure semantics. */
object Par {

  /** `f` over `units` on at most `width` threads; results in `units`
    * order. */
  def map[A, B](units: Seq[A], width: Int)(f: A => B): Seq[B] = {
    val n = math.min(units.size, width)
    val results = new Array[Any](units.size)
    val failed = new ConcurrentLinkedQueue[(Int, Throwable)]()
    def run(i: Int): Unit =
      try results(i) = f(units(i))
      catch { case t: Throwable => failed.add(i -> t) }
    if (n <= 1) units.indices.foreach(run)
    else {
      val next = new AtomicInteger(0)
      val threads = (0 until n).map { w =>
        val th = new Thread(() => {
          var i = next.getAndIncrement()
          while (i < units.size) { run(i); i = next.getAndIncrement() }
        }, s"graft-par-$w")
        th.setDaemon(true)
        th
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    val errors = failed.asScala.toSeq.sortBy(_._1).map(_._2)
    errors.headOption.foreach { first =>
      errors.tail.filterNot(_ eq first).foreach(first.addSuppressed)
      throw first
    }
    results.toSeq.asInstanceOf[Seq[B]]
  }

  /** [[map]] for side effects. */
  def each[A](units: Seq[A], width: Int)(f: A => Unit): Unit = {
    map(units, width)(f)
    ()
  }
}
