package graft

/** Order-preserving parallel map over INDEPENDENT per-table/per-member
  * Spark jobs (guide §2.6: Spark happily runs several jobs at once; a
  * driver loop serializes them and leaves the executors idle through
  * every job's tail — submitting 2-3 jobs concurrently lets the next
  * job's tasks back-fill the executors the current job's stragglers
  * freed under FIFO scheduling). Results — and therefore every
  * gate/oracle value — are byte-identical to the sequential map; only
  * the job overlap changes. Width 3: enough to fill a tail, not enough
  * to thrash execution memory.
  *
  * Fail fast: the FIRST member to fail (in time, not in order) ends
  * the map — members still queued never start, running ones are
  * interrupted, and that failure is rethrown unchanged. Waiting for
  * the remaining members in order would spend their whole runtime
  * before reporting a failure already known.
  *
  * The single shared helper for every such overlap: Erasure's group
  * members and q248's per-member gates call it directly (round-14
  * advice: verbatim copies drift on the next tweak). */
private[graft] object Par {
  def ordered[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else {
      import java.util.concurrent.{Callable, ExecutorCompletionService, Executors}
      import java.util.concurrent.atomic.AtomicReference
      // force strictness: a lazy Seq (Stream/view/LazyList) would
      // otherwise submit each member only when iterated (round-14
      // advice)
      val members = xs.toVector
      val pool = Executors.newFixedThreadPool(math.min(3, members.length))
      val done = new ExecutorCompletionService[Unit](pool)
      val out = new Array[Any](members.length)
      val failure = new AtomicReference[Throwable]()
      try {
        members.zipWithIndex.foreach { case (x, i) =>
          done.submit(new Callable[Unit] {
            // a member dequeued after a failure never runs f
            def call(): Unit = if (failure.get == null) {
              try out(i) = f(x) catch { case t: Throwable =>
                failure.compareAndSet(null, t); throw t
              }
            }
          })
        }
        members.indices.foreach { _ =>
          done.take()
          val t = failure.get
          if (t != null) { pool.shutdownNow(); throw t }
        }
        out.toSeq.asInstanceOf[Seq[B]]
      } finally pool.shutdown()
    }
}
