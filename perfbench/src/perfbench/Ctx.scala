package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.query.{QuerySpec, Searcher}

/** Everything one workload run shares: the session, its options, the
  * tracer, and what the run reports. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Double, val cores: Int, val work: String,
                val tracer: Tracer) {
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  private val values = mutable.LinkedHashMap.empty[String, Double]
  /** Exact counts: identical on every run of one seed. */
  val counts = mutable.LinkedHashMap.empty[String, Long]
  /** Sample counts and other context printed with the run's record. */
  val notes = mutable.LinkedHashMap.empty[String, String]
  val problems = mutable.ArrayBuffer.empty[String]

  def tracing: Boolean = tracer.enabled

  def put(name: String, v: Double): Unit = synchronized {
    require(!v.isNaN && !v.isInfinite, s"$name is not finite: $v")
    values(name) = v
  }
  def snapshotValues: Map[String, Double] = synchronized(values.toMap)

  def count(name: String, v: Long): Unit = synchronized { counts(name) = v }
  def note(name: String, v: Any): Unit = synchronized { notes(name) = v.toString }

  /** Count a failed operation (an exception or a wrong answer). */
  def wrong(what: String): Unit = synchronized {
    failed.incrementAndGet()
    if (problems.size < 50) problems += what
  }

  /** Attempt one operation; an exception counts it failed. */
  def op[T](what: String)(f: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(f)
    catch { case e: Exception => wrong(s"$what: $e"); None }
  }

  /** Attempt one check; a false result counts it failed. */
  def check(what: String)(ok: => Boolean): Unit =
    op(what)(ok).foreach(good => if (!good) wrong(what))

  def span[T](name: String, request: Long = 0L)(f: => T): T =
    tracer.span(name, request)(f)

  /** Put the chosen fields of `w` as `prefix.<field>`. */
  def putWork(prefix: String, w: Work, fields: Seq[String]): Unit =
    fields.foreach {
      case "wall_s" => put(s"$prefix.wall_s", w.wallS)
      case "jobs" => put(s"$prefix.jobs", w.jobs.toDouble)
      case "tasks" => put(s"$prefix.tasks", w.tasks.toDouble)
      case "task_s" => put(s"$prefix.task_s", w.taskS)
      case "gc_s" => put(s"$prefix.gc_s", w.gcS)
      case "shuffle_write_mb" => put(s"$prefix.shuffle_write_mb", w.shuffleWriteMb)
      case "spill_mb" => put(s"$prefix.spill_mb", w.spillMb)
      case "peak_exec_mem_mb" => put(s"$prefix.peak_exec_mem_mb", w.peakExecMemMb)
      case "busy_frac" => put(s"$prefix.busy_frac", w.busyFrac(cores))
    }
}

object Ctx {
  /** Layer fields reported for most Spark-backed layers. */
  val Fields = Seq("wall_s", "jobs", "tasks", "task_s", "shuffle_write_mb")
  val FieldsGc: Seq[String] = Fields :+ "gc_s"

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile; 0 for an empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Run one query against index generations `dirs`; ranked (docId,
    * score) pairs, or ascending docIds for a phrase. */
  def search(spark: SparkSession, dirs: Seq[String], q: Q): Seq[(Long, Double)] =
    if (q.cls == Inputs.Phrase)
      Searcher.phraseSearch(spark, dirs, q.text, limit = Inputs.K).map(_ -> 0.0)
    else
      Searcher.searchMulti(spark, dirs, Seq(QuerySpec(q.id, q.text)), Inputs.K,
        if (q.and) Searcher.And else Searcher.Or, offset = q.offset)
        .collect().sortBy(_.rank).map(h => h.docId -> h.score).toSeq

  /** Closed loop: `clients` threads, each sending its next query only
    * after the previous reply, until `total` queries (the stream in order,
    * cycling) have been sent. A fixed count rather than a deadline keeps
    * the work of one run identical on every run. Returns per-query
    * (query, result, latency s) and the loop's wall time. */
  def closedLoop[T](clients: Int, total: Int, stream: IndexedSeq[Q])(
      run: Q => T): (Seq[(Q, T, Double)], Double) = {
    val next = new AtomicLong(0)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Q, T, Double)]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        try {
          var i = next.getAndIncrement()
          while (i < total) {
            val q = stream((i % stream.size).toInt)
            val (r, s) = timed(run(q))
            out.add((q, r, s))
            i = next.getAndIncrement()
          }
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    if (!errors.isEmpty) throw errors.peek()
    import scala.jdk.CollectionConverters._
    (out.asScala.toSeq, wall)
  }
}
