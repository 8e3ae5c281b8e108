package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One call into a layer's public function, recorded by the benchmark
  * around the call (never inside the engine). `request` groups the spans
  * of one benchmark request (a query, a delta, a dedup pass).
  */
final case class Span(id: Int, name: String, parent: Int, request: Long,
                      startMs: Long, endMs: Long)

/** Work summed over jobs: what the listener saw for one span or layer. */
final case class Work(wallS: Double = 0, jobs: Long = 0, tasks: Long = 0,
                      taskS: Double = 0, gcS: Double = 0,
                      inputKb: Double = 0, shuffleReadKb: Double = 0,
                      shuffleWriteMb: Double = 0, spillMb: Double = 0,
                      peakExecMemMb: Double = 0) {
  def +(o: Work): Work = Work(wallS + o.wallS, jobs + o.jobs,
    tasks + o.tasks, taskS + o.taskS, gcS + o.gcS, inputKb + o.inputKb,
    shuffleReadKb + o.shuffleReadKb, shuffleWriteMb + o.shuffleWriteMb,
    spillMb + o.spillMb, math.max(peakExecMemMb, o.peakExecMemMb))
  def busyFrac(cores: Int): Double =
    if (wallS <= 0) 0.0 else taskS / (wallS * cores)
}

/** Spans plus a benchmark-owned SparkListener. Each job is attributed to
  * the innermost span open on the thread that submitted it: the span id
  * travels as a Spark local property, which Spark copies onto every job
  * the thread (or a SQL execution it starts) submits. When tracing is
  * off, `span` only runs its body.
  */
final class Tracer(sc: SparkContext, cores: Int) {
  import Tracer._

  @volatile private var on = false
  private val nextId = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  private final class JobRec(val spanId: Int, val startMs: Long,
                             val execId: String, val site: String) {
    @volatile var endMs: Long = -1L
  }
  private final class StageRec(val jobId: Int, val site: String) {
    var tasks = 0L; var runMs = 0L; var gcMs = 0L; var inBytes = 0L
    var shReadBytes = 0L; var shWriteBytes = 0L; var spillBytes = 0L
    var peakMem = 0L
  }
  private val jobRecs = new ConcurrentHashMap[Int, JobRec]()
  private val stageRecs = new ConcurrentHashMap[Int, StageRec]()
  /** Call site of each SQL execution, taken on the thread that started it. */
  private val execSites = new ConcurrentHashMap[String, String]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val sites = e.stageInfos.map(si => si.stageId -> callSiteFile(si.details))
      jobRecs.put(e.jobId, new JobRec(prop(SpanKey).map(_.toInt).getOrElse(-1), e.time,
        prop("spark.sql.execution.id").orNull,
        sites.map(_._2).find(_ != Other).getOrElse(Other)))
      sites.foreach { case (id, site) => stageRecs.putIfAbsent(id, new StageRec(e.jobId, site)) }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        execSites.put(x.executionId.toString, callSiteFile(x.details))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobRecs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val st = stageRecs.get(e.stageId)
      val m = e.taskMetrics
      if (st != null && m != null) st.synchronized {
        st.tasks += 1
        st.runMs += m.executorRunTime
        st.gcMs += m.jvmGCTime
        st.inBytes += m.inputMetrics.bytesRead
        st.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        st.peakMem = math.max(st.peakMem, m.peakExecutionMemory)
      }
    }
  }

  def enabled: Boolean = on

  def enable(): Unit = if (!on) { sc.addSparkListener(listener); on = true }

  def disable(): Unit = if (on) {
    drain(); on = false; sc.removeSparkListener(listener)
  }

  /** Run `f` inside a span named `name`; nested spans record their parent. */
  def span[T](name: String, request: Long = 0L)(f: => T): T =
    if (!on) f
    else {
      val id = nextId.getAndIncrement()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(-1)
      val prevProp = sc.getLocalProperty(SpanKey)
      open.set(id :: stack)
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.currentTimeMillis()
      try f
      finally {
        spans.add(Span(id, name, parent, request, t0,
          System.currentTimeMillis()))
        sc.setLocalProperty(SpanKey, prevProp)
        open.set(stack)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = waitForListenerBus(sc)

  /** A consistent view of everything recorded so far. */
  def snapshot(): Trace = {
    drain()
    val sp = spans.asScala.toSeq
    val jobs = jobRecs.asScala.toMap
    val stages = stageRecs.asScala.toSeq
    // AQE materializes query stages as separate jobs from a pool thread,
    // so their stages carry Spark's own call sites; the SQL execution they
    // belong to was started on the caller's thread and names the caller
    def jobSite(j: JobRec): String =
      Option(j.execId).flatMap(id => Option(execSites.get(id))).filter(_ != Other)
        .getOrElse(j.site)
    val perJob = mutable.Map.empty[Int, Work]
    val perSite = mutable.Map.empty[String, Double]
    stages.foreach { case (_, st) => st.synchronized {
      val site = if (st.site != Other) st.site
                 else Option(jobs.getOrElse(st.jobId, null)).map(jobSite).getOrElse(Other)
      val w = Work(tasks = st.tasks, taskS = st.runMs / 1e3,
        gcS = st.gcMs / 1e3, inputKb = st.inBytes / 1024.0,
        shuffleReadKb = st.shReadBytes / 1024.0,
        shuffleWriteMb = st.shWriteBytes / MiB,
        spillMb = st.spillBytes / MiB, peakExecMemMb = st.peakMem / MiB)
      perJob(st.jobId) = perJob.getOrElse(st.jobId, Work()) + w
      perSite(site) = perSite.getOrElse(site, 0.0) + st.runMs / 1e3
    } }
    new Trace(sp, jobs.map { case (id, j) =>
      id -> JobView(j.spanId, j.startMs, j.endMs, jobSite(j),
        perJob.getOrElse(id, Work()).copy(jobs = 1))
    }, perSite.toMap, cores)
  }
}

final case class JobView(spanId: Int, startMs: Long, endMs: Long, site: String,
                         work: Work)

/** Read-only aggregation over a snapshot: per span (inclusive of child
  * spans), per span name, and the sanity checks of the attribution.
  */
final class Trace(val spans: Seq[Span], val jobs: Map[Int, JobView],
                  val taskSByCallSite: Map[String, Double], cores: Int) {
  private val byId = spans.map(s => s.id -> s).toMap

  private def holds(s: Span, j: JobView): Boolean =
    j.startMs >= s.startMs - 1 && j.endMs >= 0 && j.endMs <= s.endMs + 1

  /** The span each job belongs to: the one its local property names when
    * that span's window holds the job; otherwise (a job submitted from a
    * long-lived pool thread carries the property of whatever span created
    * the thread) the innermost span whose window holds it; -1 if none. */
  private val resolved: Map[Int, Int] = jobs.map { case (id, j) =>
    id -> byId.get(j.spanId).filter(holds(_, j)).map(_.id).getOrElse(
      spans.filter(holds(_, j)).sortBy(s => (s.startMs, -s.endMs))
        .lastOption.map(_.id).getOrElse(-1))
  }

  /** Jobs attributed by time window rather than by their property. */
  def jobsByWindow: Int = jobs.count { case (id, j) => resolved(id) != j.spanId }

  /** Inclusive work per span id: a job counts for its span and every
    * ancestor. */
  private val inclusive: Map[Int, Work] = {
    val acc = mutable.Map.empty[Int, Work]
    jobs.foreach { case (id, j) =>
      var s = resolved(id)
      while (s >= 0 && byId.contains(s)) {
        acc(s) = acc.getOrElse(s, Work()) + j.work
        s = byId(s).parent
      }
    }
    acc.toMap
  }

  def of(s: Span): Work =
    inclusive.getOrElse(s.id, Work()).copy(wallS = (s.endMs - s.startMs) / 1e3)

  /** Spans called `name`, leaving out those under a `warmup` span. */
  def named(name: String): Seq[Span] =
    spans.filter(s => s.name == name && !underWarmup(s))

  private def underWarmup(s: Span): Boolean = {
    var p = s.parent
    while (p >= 0 && byId.contains(p)) {
      if (byId(p).name == "warmup") return true
      p = byId(p).parent
    }
    false
  }

  /** Work of every span with this name, summed. */
  def total(name: String): Work = named(name).map(of).foldLeft(Work())(_ + _)

  /** Jobs that no span's window holds. */
  def jobsOutsideSpan: Int = resolved.values.count(_ < 0)

  /** Call sites of the jobs no span holds, for the run's record. */
  def outsideSites: Seq[String] =
    jobs.collect { case (id, j) if resolved(id) < 0 => j.site }.toSeq.distinct.sorted

  /** Spans whose task time exceeds wall × cores (plus timer slack). */
  def overBusySpans: Int = spans.count { s =>
    val w = of(s)
    w.taskS > w.wallS * cores * 1.05 + 0.05
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Other = "other"
  private val MiB = 1024.0 * 1024.0
  private val SiteRx = """\(([A-Za-z0-9_]+\.scala):\d+\)""".r

  /** Source file of the innermost engine frame in a stage's call site
    * (e.g. `IndexBuilder.scala`); frames of the benchmark itself map to
    * `perfbench`. */
  def callSiteFile(details: String): String =
    Option(details).getOrElse("").split("\n").iterator
      .map(_.trim).collectFirst {
        case l if l.startsWith("graft.") =>
          SiteRx.findFirstMatchIn(l).map(_.group(1)).getOrElse(Other)
        case l if l.startsWith("perfbench.") => "perfbench"
      }.getOrElse(Other)

  /** SparkContext's listener bus is package-private in Scala but public
    * in bytecode; waiting on it is the only exact way to know every
    * task-end event has been delivered. */
  def waitForListenerBus(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
