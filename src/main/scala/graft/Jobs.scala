package graft

import java.util.concurrent.{Callable, ExecutionException, Executors,
  TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.{JobExecutionStatus, SparkContext}
import org.apache.spark.sql.SparkSession

/** Spark jobs submitted from concurrent driver threads that stand or
  * fall together.
  */
object Jobs {

  /** Run `bodies` on up to 4 driver threads — enough to fill one job's
    * stage tail with the next job's tasks, not so many that they fight
    * for task slots — every job they submit under one
    * Spark job tag (a tag, not `setJobGroup`, so a caller's own job
    * group is not overwritten). The first failure cancels the
    * siblings' jobs (also those a sibling starts later) and keeps
    * queued bodies from starting; every thread ends before this
    * returns or rethrows that failure, so no job outlives the call —
    * and, before the rethrow, no task either ([[settle]]).
    */
  def all[T](spark: SparkSession)(bodies: Seq[() => T]): Seq[T] = {
    val sc = spark.sparkContext
    val tag = s"graft-jobs-${java.util.UUID.randomUUID()}"
    val failure = new AtomicReference[Throwable]
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(4, bodies.size)))
    try {
      val futs = bodies.map(body => pool.submit(new Callable[Option[T]] {
        def call(): Option[T] =
          if (failure.get != null) None
          else try { sc.addJobTag(tag); Some(body()) } catch {
            case e: Throwable =>
              if (failure.compareAndSet(null, e)) sc.cancelJobsWithTag(tag)
              throw e
          }
      }))
      val out = futs.map { f =>
        while (!f.isDone) {
          if (failure.get != null) sc.cancelJobsWithTag(tag)
          try f.get(100, TimeUnit.MILLISECONDS)
          catch { case _: TimeoutException | _: ExecutionException => }
        }
        try f.get() catch { case _: ExecutionException => None }
      }
      Option(failure.get).foreach { e => settle(sc, tag); throw e }
      out.map(_.get)
    } finally pool.shutdown()
  }

  /** Longest wait for the tasks of a failed group to end. */
  private val SettleMs = 10000L

  /** A cancelled job ends before its running tasks do: Spark kills them
    * asynchronously, and a killed write task can still put its
    * `_temporary/.../attempt_*` file down after the job failed — where
    * a rerun into the same directory would race it. Wait, at most
    * [[SettleMs]], until every job of `tag` has ended and none of its
    * stages runs a task.
    */
  private def settle(sc: SparkContext, tag: String): Unit = {
    val st = sc.statusTracker
    def busy = st.getJobIdsForTag(tag).exists(id => st.getJobInfo(id).exists(j =>
      j.status == JobExecutionStatus.RUNNING ||
        j.stageIds.exists(s => st.getStageInfo(s).exists(_.numActiveTasks > 0))))
    val deadline = System.currentTimeMillis() + SettleMs
    while (busy && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }
}
