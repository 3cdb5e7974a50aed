package graft.io

/** Tiny structured-concurrency helper for overlapping INDEPENDENT Spark
  * actions inside one query/lifecycle (optimization guide §2.6: the
  * scheduler happily runs several jobs at once — actions are sequential
  * only because driver code calls them sequentially; a job's tail
  * stragglers then back-fill with the other job's tasks).
  *
  * Scope rules (to stay out of trouble):
  *  - only for actions with NO data- or crash-ordering dependency;
  *  - the session's thread-local job description is not propagated —
  *    callers that care set it inside each branch;
  *  - failures: every branch is awaited (Spark actions are not
  *    interrupted mid-flight); the first branch's throwable (in argument
  *    order) is rethrown with the other branches' failures attached as
  *    suppressed exceptions.
  */
object Par {

  /** Run `a` and `b` concurrently, return both results. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    @volatile var rb: Either[Throwable, B] = null
    val t = new Thread(() => {
      rb = try Right(b) catch { case e: Throwable => Left(e) }
    }, "graft-par")
    t.setDaemon(true)
    t.start()
    val ra = try Right(a) catch { case e: Throwable => Left(e) }
    t.join()
    (ra, rb) match {
      case (Right(x), Right(y)) => (x, y)
      case _ => throw firstFailure(Seq(ra, rb))
    }
  }

  /** Run every thunk concurrently (bounded by the list size — callers pass
    * 2-3, enough to fill stage tails without fighting for executors). */
  def all[A](thunks: Seq[() => A]): Seq[A] = {
    val results = new Array[Either[Throwable, Any]](thunks.size)
    val ts = thunks.zipWithIndex.map { case (f, i) =>
      val t = new Thread(() => {
        results(i) = try Right(f()) catch { case e: Throwable => Left(e) }
      }, s"graft-par-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    ts.foreach(_.join())
    if (results.exists(_.isLeft)) throw firstFailure(results.toSeq)
    results.toSeq.map(_.toOption.get.asInstanceOf[A])
  }

  /** The first failure, carrying every later one as suppressed. */
  private def firstFailure(results: Seq[Either[Throwable, Any]]): Throwable = {
    val errors = results.collect { case Left(e) => e }
    errors.tail.filterNot(_ eq errors.head).foreach(errors.head.addSuppressed)
    errors.head
  }
}
