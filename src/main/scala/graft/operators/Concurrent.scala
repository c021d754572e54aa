package graft.operators

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Overlap of two independent driver-side computations (the guide's
  * overlap-independent-jobs pattern): an index probe's construction is
  * a short sequence of bounded driver jobs (snapshot resolve, stats
  * collects, the batch take), and two such sequences that do not depend
  * on each other only serialize driver round trips when run one after
  * the other. Spark schedules jobs from several threads natively, and
  * the results are identical to sequential construction. Whatever both
  * sides read (a persisted layout) must exist before the fork.
  */
private[graft] object Concurrent {

  /** Runs `a` on a pool thread while `b` runs on the caller's, and
    * returns only once BOTH are done, on every path. A failure of one
    * never leaves the other running (its Spark jobs would outlive the
    * query, and graft.tools.Profile would count them against the next
    * one) or unobserved: the first failure, `a`'s before `b`'s, is
    * thrown with the other attached via `addSuppressed`. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val fa = Future(a)(ExecutionContext.global)
    val rb = try Right(b) catch { case e: Throwable => Left(e) }
    val ra =
      try Right(Await.result(fa, Duration.Inf))
      catch { case e: Throwable => Left(e) }
    (ra, rb) match {
      case (Right(x), Right(y)) => (x, y)
      case _ =>
        val errs = Seq(ra, rb).collect { case Left(e) => e }
        errs.tail.foreach(errs.head.addSuppressed)
        throw errs.head
    }
  }
}
