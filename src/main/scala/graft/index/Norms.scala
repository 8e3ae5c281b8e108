package graft.index

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{col, shiftrightunsigned}

/** Document-length norms sidecar (SCALE.md: the Lucene-style evolution
  * of storing dl per posting).
  *
  * Layout: `<gen>/norms/s<strideId>.bin`, strideId = docId >>> StrideLog
  * (GLOBAL stride grid — docIds are dense global ranks). A file holds
  * only the window [lo, hi] of the stride's docIds its generation wrote:
  * an 8-byte header (the int [[Magic]], then lo's offset in the stride)
  * followed by one 4-byte big-endian dl per docId lo..hi. A lookup is
  * one array index after the window loads.
  *
  * Why the window is exact: docIds are dense, so a generation's docs
  * fill their window but for zero-token docs, whose slots stay 0 (they
  * never enter postings, so those zeros are never read). A 55-doc delta
  * writes 228 bytes, not the 4 MB a padded stride would; the sidecar
  * grows with docs, not strides.
  *
  * Why a sidecar: dl varbyte in every posting block costs
  * ~1.5 B/posting ≈ 250 TB at the 10^12-doc scale, against 4 B/doc ≈
  * 4 TB as norms (62× less), and posting decode shrinks by a third.
  * A gather task touches only the strides its docId window [lo, hi)
  * overlaps — (hi−lo)/2^20 files of at most 4 MB each, bounded by
  * choosing numRanges so windows fit executor memory.
  *
  * Who writes it: a generation's docs job ([[Generation.write]]). Its
  * docId split puts every stride in one task, sorted by docId, so each
  * task writes its strides' windows ([[WindowWriter]]) from the rows it
  * is writing anyway, with no shuffle or job of its own.
  */
object Norms {

  val StrideLog = 20
  val Stride: Long = 1L << StrideLog

  /** First int of every window file ("NRM1"): a file without it was
    * not written by this layout. */
  val Magic = 0x4e524d31
  val HeaderBytes = 8

  def strideOf(docId: Long): Long = docId >>> StrideLog

  def filePath(dir: String, strideId: Long): String =
    s"$dir/norms/s$strideId.bin"

  /** Hadoop Configuration is not Serializable; executors rebuilding
    * readers need it shipped. Mirrors the (private[spark])
    * SerializableConfiguration utility.
    */
  final class SerConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  /** One generation's routing metadata (broadcast to tasks). */
  case class GenMeta(dir: String, minDocId: Long, maxDocId: Long)

  /** One loaded stride file: `dls(i)` is the dl of docId `lo + i`. */
  private final class Window(val lo: Long, val dls: Array[Int])

  /** Task-local lazy norms reader over several generations: routes a
    * docId to its owning generation (ranges are disjoint), loads that
    * stride's window once, then lookups are array reads.
    */
  final class Reader(gens: Array[GenMeta], conf: SerConf,
                     maxCached: Int = 64) {
    // access-order LRU over windows: evict ONE cold window at capacity
    // instead of clearing all (a task spanning >maxCached strides
    // previously thrashed the whole cache on every overflow)
    private val cache =
      new java.util.LinkedHashMap[(Int, Long), Window](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(Int, Long), Window]): Boolean =
          size() > maxCached
      }

    // commit-marker check once per generation: a norms job that died
    // mid-write leaves stride files but no marker; without this a
    // half-written sidecar would serve dl=0 and silently inflate BM25
    private val committedChecked = new Array[Boolean](gens.length)

    private def ensureCommitted(g: Int, fs: org.apache.hadoop.fs.FileSystem): Unit =
      if (!committedChecked(g)) {
        val marker = new Path(s"${gens(g).dir}/norms/_complete")
        require(fs.exists(marker),
          s"norms sidecar for ${gens(g).dir} has no commit marker — " +
            "partial write detected; rerun Norms.write")
        committedChecked(g) = true
      }

    private def load(g: Int, strideId: Long): Window = {
      val key = (g, strideId)
      var w = cache.get(key)
      if (w == null) {
        // bound resident windows (up to 4 MB each): the windowed gather
        // path touches few, but the probe path has no docId window — an
        // unbounded cache there could retain GBs per task
        val p = new Path(filePath(gens(g).dir, strideId))
        val fs = p.getFileSystem(conf.value)
        ensureCommitted(g, fs)
        val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        val in = fs.open(p)
        try in.readFully(0L, buf) finally in.close()
        val bb = java.nio.ByteBuffer.wrap(buf)
        require(buf.length >= HeaderBytes && bb.getInt(0) == Magic,
          s"norms file $p has no window header — it predates the " +
            "windowed layout; rebuild the index")
        val off = bb.getInt(4)
        val n = (buf.length - HeaderBytes) / 4
        require((buf.length - HeaderBytes) % 4 == 0 && off >= 0 &&
          off + n <= Stride,
          s"norms file $p: ${buf.length - HeaderBytes} dl bytes at " +
            s"offset $off do not fit its stride")
        val dls = new Array[Int](n)
        bb.position(HeaderBytes)
        bb.asIntBuffer().get(dls)
        w = new Window((strideId << StrideLog) + off, dls)
        cache.put(key, w)
      }
      w
    }

    def dl(docId: Long): Long = {
      var g = 0
      while (g < gens.length &&
             (docId < gens(g).minDocId || docId > gens(g).maxDocId)) g += 1
      require(g < gens.length, s"docId $docId outside every generation")
      val w = load(g, strideOf(docId))
      val i = docId - w.lo
      // a silent 0 here would inflate BM25, as a missing marker would
      require(i >= 0 && i < w.dls.length,
        s"docId $docId outside the norms window [${w.lo}, " +
          s"${w.lo + w.dls.length}) of ${gens(g).dir}")
      w.dls(i.toInt).toLong
    }
  }

  // Task-scoped Reader reuse: flatMapGroups invokes its function once
  // per GROUP and a partition can hold many groups — a fresh Reader
  // per group starts with a cold cache and re-reads the same stride
  // windows. Keyed by the gens array's identity (one broadcast
  // value per executor), per-thread (Reader is not thread-safe), and
  // dropped at task completion so nothing outlives the task.
  private val taskReaderMaps =
    new ThreadLocal[java.util.HashMap[AnyRef, Reader]] {
      override def initialValue() = new java.util.HashMap[AnyRef, Reader]()
    }
  private val taskReaderTask = new ThreadLocal[java.lang.Long]

  def taskReader(gens: Array[GenMeta], conf: SerConf): Reader = {
    val tc = org.apache.spark.TaskContext.get()
    if (tc == null) return new Reader(gens, conf)
    val id = java.lang.Long.valueOf(tc.taskAttemptId())
    if (!id.equals(taskReaderTask.get())) {
      taskReaderMaps.get().clear()
      tc.addTaskCompletionListener[Unit](_ => taskReaderMaps.remove())
      taskReaderTask.set(id)
    }
    val m = taskReaderMaps.get()
    var r = m.get(gens)
    if (r == null) { r = new Reader(gens, conf); m.put(gens, r) }
    r
  }

  /** Writes the stride window files of one task's (docId, dl) rows,
    * which arrive in docId order with each stride's rows all in this
    * task: a stride's file is written once its last row has passed (a
    * window of the stride, never a padded stride, in memory at a time).
    * [[graft.Commit.file]] replaces each file atomically — a retried
    * twin writes identical bytes, the stride's rows being
    * deterministic.
    */
  final class WindowWriter(dir: String, conf: Configuration) {
    private var sid = -1L
    private val offs = Array.newBuilder[Int]
    private val dls = Array.newBuilder[Int]

    def add(docId: Long, dl: Int): Unit = {
      val s = strideOf(docId)
      if (s != sid) {
        flush()
        require(s > sid, s"norms rows out of docId order: stride $s after $sid")
        sid = s
      }
      offs += (docId & (Stride - 1)).toInt
      dls += dl
    }

    def close(): Unit = flush()

    private def flush(): Unit = {
      val (o, d) = (offs.result(), dls.result())
      offs.clear(); dls.clear()
      if (o.nonEmpty) {
        val lo = o.min
        val buf = java.nio.ByteBuffer.allocate(
          HeaderBytes + 4 * (o.max - lo + 1))
        buf.putInt(Magic).putInt(lo)
        var i = 0
        while (i < o.length) {
          buf.putInt(HeaderBytes + 4 * (o(i) - lo), d(i))
          i += 1
        }
        val fin = new Path(filePath(dir, sid))
        graft.Commit.file(fin.getFileSystem(conf), fin)(_.write(buf.array))
      }
    }
  }

  /** A generation's docs rows, passed through unchanged while the
    * norms windows of those with dl > 0 are written: the documents that
    * have postings (a zero-token doc takes no norms slot, and none is
    * ever read). The last window is written when `docs` ends. The rows
    * come in docId order, each stride's rows all in this task: the
    * docs job's split ([[Generation.write]]).
    */
  def writeAlong(docs: Iterator[DocMeta], dir: String,
                 conf: SerConf): Iterator[DocMeta] = {
    val w = new WindowWriter(dir, conf.value)
    new Iterator[DocMeta] {
      private var open = true
      def hasNext: Boolean = docs.hasNext || {
        if (open) { open = false; w.close() }
        false
      }
      def next(): DocMeta = {
        val d = docs.next()
        if (d.dl > 0) w.add(d.docId, d.dl)
        d
      }
    }
  }

  /** Write the norms files of `dir` from bare (docId, dl) rows, every
    * row kept (zero dls included): each stride's rows are sent to one
    * task in docId order, which writes the stride's window. A
    * generation does not come here: its docs job writes the same files
    * ([[Generation.write]]).
    *
    * Commit protocol ([[graft.Commit.marked]]), the same as a
    * generation's: the `_complete` marker Reader requires is retracted
    * first and written last. A job that dies mid-write leaves no
    * marker, so readers fail loudly instead of serving dl=0 from a
    * partial sidecar, or stale dl from a previous run into a reused
    * dir.
    */
  def write(docDl: org.apache.spark.sql.Dataset[(Long, Int)],
            dir: String): Unit = {
    val spark = docDl.sparkSession
    val bc = spark.sparkContext.broadcast(
      new SerConf(spark.sparkContext.hadoopConfiguration))
    val target = dir
    graft.Commit.marked(spark, s"$target/norms/_complete") {
      docDl.repartition(shiftrightunsigned(col("_1"), StrideLog))
        .sortWithinPartitions("_1")
        .foreachPartition { (it: Iterator[(Long, Int)]) =>
          val w = new WindowWriter(target, bc.value.value)
          it.foreach { case (docId, dl) => w.add(docId, dl) }
          w.close()
        }
    }(_ => "")
  }
}
