package graft.plans

/** Overlap INDEPENDENT Spark actions from driver threads (guide §2.6
  * "overlap independent jobs"): the scheduler happily runs several jobs
  * at once inside one application — actions serialize only because
  * driver code calls them sequentially. A lifecycle query composed of
  * independent actions (two index builds on disjoint stores, several
  * probe-arm collects against finished stores) pays Σ(per-action wall)
  * when called in a row; overlapped, it pays ≈ max(...) while the work
  * per action is unchanged — and with FIFO scheduling the later
  * action's tasks back-fill executors freed by the earlier action's
  * straggler tail. That holds at every scale: at 100 TB the overlap
  * hides whole stage tails, locally it hides the fixed per-job
  * scheduling latency that dominates sf0.1 lifecycle queries.
  *
  * Threads are created per call, so Spark's `InheritableThreadLocal`
  * job properties (description, group, pool) are inherited from the
  * CALLER at spawn — a shared pool would leak whatever thread-locals
  * its threads were born with. The first thunk runs on the calling
  * thread (no thread for the common case's biggest leg); the first
  * failure propagates after all legs finish, so no leg is ever left
  * running against a torn-down fixture.
  *
  * A leg overlapped with a stream under
  * [[graft.streaming.StreamScale.runDrained]] must not depend on the
  * partition count: `runDrained` holds the session-global
  * `spark.sql.shuffle.partitions` for the stream's lifetime, so the
  * other legs plan under whichever value a thread race lets them see
  * (no `spark_partition_id`, no coalesce-based sampling).
  */
object Overlap {

  def par[A, B](a: => A, b: => B): (A, B) = {
    val r = all(Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  def par3[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val r = all(Seq(() => a, () => b, () => c))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }

  def par4[A, B, C, D](a: => A, b: => B, c: => C, d: => D): (A, B, C, D) = {
    val r = all(Seq(() => a, () => b, () => c, () => d))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C],
      r(3).asInstanceOf[D])
  }

  /** Any number of legs, results in input order. A leg that must not
    * fail its siblings' caller catches its own failure and returns it.
    */
  def all[A](thunks: Seq[() => A]): IndexedSeq[A] = {
    val n = thunks.length
    if (n == 0) return IndexedSeq.empty
    val results = new Array[Any](n)
    val errors = new Array[Throwable](n)
    val threads = (1 until n).map { i =>
      val t = new Thread(() => {
        try results(i) = thunks(i)()
        catch { case e: Throwable => errors(i) = e }
      }, s"graft-overlap-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    try results(0) = thunks(0)()
    catch { case e: Throwable => errors(0) = e }
    threads.foreach(_.join())
    errors.find(_ != null).foreach(e => throw e)
    results.toIndexedSeq.map(_.asInstanceOf[A])
  }
}
