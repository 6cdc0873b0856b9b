package graft

import scala.util.{Failure, Success, Try}

/**
 * Runs independent Spark pipelines concurrently on the caller's behalf —
 * the reference's multiplexer drives its partitioning writers
 * concurrently too.
 *
 * Each leg runs on a thread started here, never on a shared pool: a new
 * thread inherits the caller's Spark local properties (job group,
 * description, scheduler pool), so cancelling the caller's job group —
 * stopping a stream — cancels every leg, and a pool sized to the cores
 * cannot starve legs that wait on one another. Every leg is joined
 * before the call returns or throws, then the first failure (in leg
 * order) is rethrown: nothing a leg reads is released under it.
 */
object Overlap {
  def all[T](legs: Seq[() => T]): Seq[T] = {
    val results = new Array[Try[T]](legs.size)
    val threads = legs.indices.map(i => new Thread(() => results(i) =
      try Success(legs(i)()) catch { case e: Throwable => Failure(e) }, "graft-overlap"))
    threads.foreach(_.start())
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive) try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    results.toSeq.map(_.get)
  }

  /** [[all]] for two legs of different types. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val Seq(x, y) = all(Seq[() => Any](() => a, () => b))
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }
}
