package graft

import java.util.concurrent.{Callable, ExecutionException, Executors,
  TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicReference

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
    * returns or rethrows that failure, so no job outlives the call.
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
      Option(failure.get).foreach(e => throw e)
      out.map(_.get)
    } finally pool.shutdown()
  }
}
