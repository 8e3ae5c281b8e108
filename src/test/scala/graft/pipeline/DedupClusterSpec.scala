package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession

/** Connected components over near-dup pair graphs
  * ([[Dedup.clusters]]) and the keeper-based corpus dedup built on it
  * ([[Dedup.dedupCorpus]]).
  */
class DedupClusterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import org.apache.spark.sql.DataFrame

  def pairsDf(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_a", "doc_b")
  }

  def labelsOf(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.clusters(pairsDf(pairs), "doc_a", "doc_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Brute-force union-find, the spec oracle. */
  def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("chained pairs converge to one cluster: a-b, b-c => {a,b,c}") {
    val got = labelsOf(Seq(10L -> 20L, 20L -> 30L))
    assert(got == Map(10L -> 10L, 20L -> 10L, 30L -> 10L))
  }

  test("independent components keep distinct minima; order-agnostic") {
    // reversed pair order, duplicate edge, self-contained triangle
    val got = labelsOf(Seq(5L -> 2L, 2L -> 5L, 7L -> 9L, 9L -> 8L,
      8L -> 7L))
    assert(got == Map(2L -> 2L, 5L -> 2L, 7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("long path (worst case for label propagation) converges") {
    // a 24-node path: large-star/small-star must collapse it within
    // the iteration budget (log^2 n), where naive propagation needs n.
    // Loop FORCED — this is the distributed algorithm's worst case,
    // and the size-adaptive switch would otherwise hide it behind the
    // driver fast path
    val path = (0L until 23L).map(i => i -> (i + 1))
    val got = withLoopForced(labelsOf(path))
    assert(got.size == 24 && got.values.forall(_ == 0L))
  }

  test("random graphs match brute-force union-find") {
    val rnd = new scala.util.Random(77)
    (0 until 3).foreach { _ =>
      val pairs = Seq.fill(40)(
        (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(p => p._1 != p._2)
      assert(labelsOf(pairs) == unionFind(pairs))
    }
  }

  test("empty pair graph yields empty labels") {
    assert(labelsOf(Seq.empty).isEmpty)
  }

  /** Force the DISTRIBUTED large-star/small-star loop (the default
    * size-adaptive switch would take the driver union-find fast path
    * on test-sized graphs).
    */
  def withLoopForced[T](body: => T): T = {
    spark.conf.set("graft.cc.driverThreshold", "0")
    try body finally spark.conf.unset("graft.cc.driverThreshold")
  }

  test("driver fast path == forced distributed loop on random graphs") {
    val rnd = new scala.util.Random(55)
    (0 until 3).foreach { _ =>
      val pairs = Seq.fill(50)(
        (rnd.nextInt(35).toLong, rnd.nextInt(35).toLong))
        .filter(p => p._1 != p._2)
      val fast = labelsOf(pairs) // default threshold → fast path
      val loop = withLoopForced(labelsOf(pairs))
      assert(fast == loop && fast == unionFind(pairs))
    }
  }

  test("self-loops alone and mixed: fast path == forced loop == union-find") {
    Seq(
      Seq(5L -> 5L),
      Seq(5L -> 5L, 1L -> 2L, 2L -> 3L, 3L -> 3L, 7L -> 5L),
      Seq(4L -> 4L, 9L -> 9L, 9L -> 8L)
    ).foreach { pairs =>
      val fast = labelsOf(pairs)
      val loop = withLoopForced(labelsOf(pairs))
      assert(fast == unionFind(pairs), s"fast path on $pairs")
      assert(loop == fast, s"forced loop on $pairs")
    }
  }

  test("reliable checkpoint dir converges to identical labels") {
    // cluster deployment mode: per-round lineage truncation goes to a
    // durable checkpoint instead of localCheckpoint — same algorithm,
    // same result, recoverable across executor loss. Loop forced: the
    // fast path never needs a checkpoint
    val rnd = new scala.util.Random(91)
    val pairs = Seq.fill(60)(
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2)
    val ckDir = SparkTestSession.tmpDir("graft_cc_ckpt")
    val durable = withLoopForced {
      Dedup.clusters(pairsDf(pairs), "doc_a", "doc_b",
          checkpointDir = Some(ckDir))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(durable == unionFind(pairs))
    // the checkpoint dir was actually used (durable round files exist)
    val wrote = new java.io.File(ckDir).listFiles()
    assert(wrote != null && wrote.nonEmpty,
      s"no reliable checkpoints written under $ckDir")
  }

  test("dedupCorpus keeps cluster minima plus untouched singletons") {
    import spark.implicits._
    val docs = (1L to 8L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val pairs = pairsDf(Seq(2L -> 4L, 4L -> 6L, 7L -> 8L))
    val kept = Dedup.dedupCorpus(docs, "doc_id", pairs, "doc_a", "doc_b")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // clusters {2,4,6} -> keep 2; {7,8} -> keep 7; 1,3,5 singletons
    assert(kept.toSeq == Seq(1L, 2L, 3L, 5L, 7L))
  }
}
