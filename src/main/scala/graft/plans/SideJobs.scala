package graft.plans

import java.util.concurrent.{ExecutionException, FutureTask}

/** Overlaps independent Spark jobs issued by one caller. The scheduler
  * runs concurrent jobs fine, so a few tiny head jobs (guard aggregates,
  * sibling table writes) need not pay their planning
  * and scheduling floors one after another.
  */
object SideJobs {

  /** Starts `body` on a fresh thread and returns its join: calling the
    * returned function waits for `body` and yields its result, or
    * rethrows the exception `body` threw, unwrapped, so callers and
    * specs see the original type and message. The thread is created
    * here, from the caller's thread, so it inherits the caller's Spark
    * local properties (job group, job description, scheduler pool).
    * There is no pool to shut down: a thread whose join the caller
    * skips (because an earlier join threw) runs its job to the end.
    */
  def fork[T](body: => T): () => T = {
    val task = new FutureTask[T](() => body)
    new Thread(task, "graft-side-job").start()
    () =>
      try task.get()
      catch { case e: ExecutionException => throw e.getCause }
  }
}
