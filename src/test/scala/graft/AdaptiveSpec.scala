package graft

import java.util.concurrent.CountDownLatch

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.data.{PagesGen, QuerySet}
import graft.index.{DocIds, IndexBuilder}
import graft.pipeline.Dedup
import graft.query.Searcher

/** Operator widths live in their own scope: concurrent operators on one
  * session each plan at their own width, and the caller's session keeps
  * its settings throughout (the test session runs at width 8, AQE on).
  */
class AdaptiveSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val Width = "spark.sql.shuffle.partitions"
  private val Aqe = "spark.sql.adaptive.enabled"
  private implicit val ec: ExecutionContext = ExecutionContext.global

  private def callerUntouched(): Unit = {
    assert(spark.conf.get(Width) == "8")
    assert(spark.conf.get(Aqe) == "true")
  }

  /** Shuffle width a scope plans a fresh shuffle at (AQE off in scope). */
  private def planned(df: DataFrame): Int =
    df.repartition(col("id")).rdd.getNumPartitions

  test("concurrent scopes each see their own width; the caller's session is never written") {
    val aIn, bIn, aOut = new CountDownLatch(1)
    // A enters, B enters, A leaves while B is still inside: the order in
    // which a set/restore clamp leaks B's width into the caller for good
    val a = Future {
      Adaptive.withWidth(spark, 4, aqeOff = true) { s =>
        aIn.countDown(); bIn.await()
        callerUntouched()
        (s.session.conf.get(Width), s.session.conf.get(Aqe),
          planned(s.session.range(100).toDF()))
      }
    }
    val b = Future {
      aIn.await()
      Adaptive.withWidth(spark, 2, aqeOff = true) { s =>
        bIn.countDown()
        Await.result(a, Duration("60s"))
        callerUntouched()
        (s.session.conf.get(Width), s.session.conf.get(Aqe),
          planned(s(spark.range(100).toDF())))
      }
    }
    assert(Await.result(a, Duration("60s")) == (("4", "false", 4)))
    assert(Await.result(b, Duration("60s")) == (("2", "false", 2)))
    callerUntouched()
  }

  test("no child session unless the width narrows; results come back to the caller") {
    Adaptive.withWidth(spark, 8) { s => assert(s.session eq spark) }
    Adaptive.withWidth(spark, 1000, aqeOff = true) { s =>
      assert(s.session eq spark)
      assert(s.session.conf.get(Aqe) == "true")
    }
    val cached = Adaptive.withWidth(spark, 2, aqeOff = true) { s =>
      assert(!(s.session eq spark))
      val d = s(spark.range(50).toDF()).groupBy((col("id") % 5).as("k"))
        .count().persist()
      d.count()
      d
    }
    assert(cached.sparkSession eq spark)
    // what the scope persisted is what the caller reads
    assert(cached.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r
    }.nonEmpty)
    assert(cached.count() == 5)
    cached.unpersist()
    callerUntouched()
  }

  test("runtime settings of the caller reach the scope") {
    val overrides = Seq("graft.cc.driverThreshold" -> "0",
      "graft.tombstones.broadcastThreshold" -> "0",
      "graft.compaction.cacheDecoded" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val before = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try Adaptive.withWidth(spark, 2) { s =>
      assert(!(s.session eq spark))
      overrides.foreach { case (k, v) => assert(s.session.conf.get(k) == v, k) }
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a search batch and a dedup pass running together match serial runs") {
    import spark.implicits._
    val dir = SparkTestSession.tmpDir("graft_adaptive_idx")
    IndexBuilder.build(DocIds.fromPages(PagesGen.pages(spark, 300L), 4), dir,
      IndexBuilder.Config(numBuckets = 4, blockSize = 32, numGroups = 1))
    // 3 queries × 2 ranges = 6 keys: narrower than the session's 8
    val queries = QuerySet.queries().take(3)
    def search() = Searcher.searchMulti(spark, Seq(dir), queries, k = 10,
      numRanges = 2).collect().toSeq.sortBy(h => (h.queryId, h.rank))
    val base = (1 to 40).map(i => s"tok$i")
    val docs = ((0 until 20).map(i => i.toLong ->
      base.updated(i % 40, s"edit$i").mkString(" ")) ++
      (100 until 110).map(i => i.toLong ->
        (i * 50 until i * 50 + 40).map(t => s"tok$t").mkString(" ")))
      .toDF("doc_id", "text")
    def dedup() = Dedup.minhashLsh(docs, "doc_id", "text", 16, 4, 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    val (hits, pairs) = (search(), dedup())
    assert(hits.map(_.queryId).distinct.size == 3 && pairs.nonEmpty)
    (1 to 3).foreach { _ =>
      val h = Future(search())
      val p = Future(dedup())
      assert(Await.result(h, Duration("120s")) == hits)
      assert(Await.result(p, Duration("120s")) == pairs)
    }
    callerUntouched()
  }

  test("embedding cells run B(B+1)/2 tasks at every session width") {
    val vecs = (0 until 60).map(i =>
      (i.toLong, Seq.tabulate(8)(d => ((i * 7 + d * 3) % 11 + 1).toFloat)))
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        tasks.add(e.stageInfo.numTasks)
    }
    val results = Seq(4, 8, 64).map { width =>
      val s = spark.newSession()
      s.conf.set(Width, width.toString)
      val emb = s.createDataFrame(vecs).toDF("vec_id", "embedding")
      tasks.clear()
      spark.sparkContext.addSparkListener(listener)
      val got = try {
        val out = Dedup.embeddingPairsExact(emb, "vec_id", "embedding", 0.95)
          .collect().toSeq
        waitForListenerBus()
        out
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(tasks.contains(8 * 9 / 2),
        s"session width $width: stage task counts $tasks")
      got
    }
    assert(results.head.nonEmpty && results.forall(_ == results.head))
  }

  /** The listener bus is private to Spark; waiting on it is the only
    * exact way to know every stage event has been delivered. */
  private def waitForListenerBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
