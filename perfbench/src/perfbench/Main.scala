package perfbench

import org.apache.spark.sql.SparkSession

import graft.index.IndexPaths

/** A benchmark workload: `setup` builds what the run needs (timed as
  * `setup_s`), `run` measures and checks. */
trait Workload {
  def setup(): Unit
  def run(): Unit
}

/** One workload run in one JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --counts DIR --heap H
  *
  * Prints a `perfbench-record` line (host control, sample counts, exact
  * counts) and, last, one JSON line with correct/attempted/failed and the
  * raw metric values; perfbench/run.py turns that into the result line.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val ctlBefore = graft.Bench.cpuControl(cores) / 1e6
    val spark = session(cores, work)
    val tracer = new Tracer(spark.sparkContext, cores)
    if (trace) tracer.enable()
    val ctx = new Ctx(spark, workload, seed, a("seconds").toDouble, cores,
      work, tracer)
    val wl: Workload = workload match {
      case "churn" => new Churn(ctx)
      case "corpus_ops" => new CorpusOps(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    wl.setup()
    ctx.put("setup_s", (System.nanoTime() - t0) / 1e9)
    val (_, runS) = Ctx.timed(wl.run())
    val ctlAfter = graft.Bench.cpuControl(cores) / 1e6
    ctx.put("host.ctl_mhash_s_before", ctlBefore)
    ctx.put("host.ctl_mhash_s_after", ctlAfter)
    if (trace) traceChecks(ctx)
    Counts.verify(ctx, a("counts"))
    ctx.put("peak_rss_mb", peakRssMb())

    val record = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "trace" -> trace.toString, "cores" -> cores.toString,
      "heap" -> Json.str(a("heap")), "run_s" -> runS.toString,
      "host_ctl_mhash_s" -> s"[$ctlBefore,$ctlAfter]",
      "notes" -> Json.obj(ctx.notes.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "counts" -> Json.obj(ctx.counts.toSeq.map { case (k, v) => k -> v.toString }),
      "problems" -> ctx.problems.map(Json.str).mkString("[", ",", "]")))
    println(s"perfbench-record $record")
    ctx.problems.foreach(p => System.err.println(s"perfbench: FAILED $p"))
    val values = ctx.snapshotValues.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }
    println(Json.obj(Seq(
      "correct" -> (ctx.failed.get == 0).toString,
      "attempted" -> ctx.attempted.get.toString,
      "failed" -> ctx.failed.get.toString,
      "values" -> Json.obj(values))))
    spark.stop()
  }

  /** The engine's session shape at `local[cores]`: AQE on, shuffle width
    * twice the cores, every scratch byte under the run's work dir. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder().appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.setCheckpointDir(s"$work/checkpoints")
    s
  }

  /** Attribution sanity of the traced run, plus task time by call site. */
  private def traceChecks(ctx: Ctx): Unit = {
    val tr = ctx.tracer.snapshot()
    val outside = tr.jobsOutsideSpan
    val overBusy = tr.overBusySpans
    ctx.put("trace.jobs_outside_span", outside.toDouble)
    ctx.put("trace.over_busy_spans", overBusy.toDouble)
    ctx.note("trace_jobs", tr.jobs.size)
    ctx.note("trace_jobs_by_window", tr.jobsByWindow)
    if (outside > 0) ctx.note("trace_outside_sites", tr.outsideSites.mkString(" "))
    ctx.check(s"every job falls inside its span ($outside outside)")(outside == 0)
    ctx.check(s"task time within wall x cores ($overBusy spans over)")(overBusy == 0)
    tr.taskSByCallSite.groupMapReduce { case (file, _) =>
      val key = file.stripSuffix(".scala")
      if (CallSites(key)) key else Tracer.Other
    }(_._2)(_ + _).foreach { case (k, s) => ctx.put(s"callsite.$k.task_s", s) }
  }

  /** Engine files whose stages get their own call-site metric. */
  val CallSites: Set[String] = Set("DocIds", "IndexBuilder", "Norms",
    "Tombstones", "Incremental", "Compaction", "Searcher", "Export", "Dedup",
    "AnnIndex", "Similarity", "perfbench")

  /** JVM high-water resident set (VmHWM), MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** Minimal JSON text builders (values are already JSON text). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Exact counts must repeat on every run of one seed: the first run of a
  * (workload, seed) in a checkout records them, later runs compare. */
object Counts {
  def verify(ctx: Ctx, dir: String): Unit = {
    val f = new java.io.File(dir, s"${ctx.workload}-seed${ctx.seed}.json")
    val mine = ctx.counts.toMap
    val before: Map[String, Long] =
      if (f.isFile) {
        val src = scala.io.Source.fromFile(f)
        try IndexPaths.parseFlatJson(src.mkString).map { case (k, v) => k -> v.toLong }
        finally src.close()
      } else Map.empty
    val differ = mine.keySet.intersect(before.keySet).filter(k => mine(k) != before(k))
    ctx.check(s"exact counts repeat for seed ${ctx.seed}: " +
      differ.toSeq.sorted.map(k => s"$k ${before(k)} -> ${mine(k)}").mkString(", ")) {
      differ.isEmpty
    }
    val merged = before ++ mine
    f.getParentFile.mkdirs()
    val tmp = new java.io.File(dir, s".${f.getName}.${ProcessHandle.current().pid()}")
    val w = new java.io.PrintWriter(tmp)
    try w.print(Json.obj(merged.toSeq.sorted.map { case (k, v) => k -> v.toString }))
    finally w.close()
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
