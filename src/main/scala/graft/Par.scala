package graft

/** The one concurrency helper: run independent Spark actions as concurrent
  * jobs. Spark's scheduler accepts jobs from several driver threads at once,
  * so small jobs that share no data interleave across idle cores instead of
  * queuing behind each other's driver-side latency (planning, commit,
  * listing).
  *
  *  - Each task runs on a daemon thread of its own, started by the calling
  *    thread. The pool is exactly as wide as the call's fan-out, so a task
  *    that calls `all` again never waits for a free worker (no nesting
  *    deadlock), and each task starts with the caller's SparkContext local
  *    properties and active session: both are inheritable thread-locals,
  *    copied when the thread is made, never stale ones left on a reused
  *    thread.
  *  - Every task is awaited before the first failure (in task order) is
  *    rethrown. The caller therefore never sees a failure while a sibling
  *    write is still running, so a failed load's cleanup cannot race a
  *    write into the generation it deletes.
  *
  * Callers own the write-hazard rule: no two tasks of one call may write the
  * same path, or read a path another task of the call writes.
  */
object Par {

  /** Run every task concurrently; results in task order. */
  def all[A](tasks: (() => A)*): Seq[A] = {
    val out = new Array[Either[Throwable, A]](tasks.length)
    val threads = tasks.zipWithIndex.map { case (task, i) =>
      val t = new Thread(() =>
        out(i) = try Right(task()) catch { case e: Throwable => Left(e) },
        s"graft-par-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    out.toSeq.map(_.fold(e => throw e, identity))
  }
}
