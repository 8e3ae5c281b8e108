package graft.index

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.data.PageRow
import graft.functions.TextExtractor

/** A document entering the index: stable docId + extracted text. */
case class Doc(docId: Long, url: String, text: String)

/** Stable monotonic docID assignment (SURVEY.md §7 "hard parts").
  *
  * docId = global rank of `url` in ascending sort order. This is stable
  * across runs AND across parallelism levels, unlike
  * `monotonically_increasing_id` (partition-layout dependent) — the
  * property rank-identical goldens require.
  *
  * Implementation is the classic two-pass offset scan:
  *  1. `repartitionByRange(url).sortWithinPartitions(url)` — a total
  *     order split into P contiguous ranges (Spark's RangePartitioner
  *     samples deterministically for a given input).
  *  2. count rows per partition (cheap first pass over the cached
  *     sorted data), prefix-sum the counts on the driver (P longs),
  *     then add each partition's offset to its local rank.
  *
  * The per-partition counts/offsets mirror the reference's OID-range
  * chunk computation (/root/reference/packages/core/spheraform_core/adapters/arcgis.py:896-907):
  * an explicit, even split of a global key range across workers.
  */
object DocIds {

  /** Assign docIds to pages; extracts text from html when
    * `useExtractor` (exercising the byte-identical invariant) or
    * trusts the `text` column otherwise.
    */
  def fromPages(pages: Dataset[PageRow], numPartitions: Int,
                useExtractor: Boolean = false,
                offset: Long = 0L): Dataset[Doc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val docs =
      if (useExtractor)
        // native codegen'd expression: scan prunes to (url, html) and
        // extraction runs inside whole-stage codegen (no UDF)
        pages.select(col("url"),
          graft.functions.GraftFunctions.extract_text(col("html"))
            .as("text"))
      else
        pages.select(col("url"), col("text"))
    assign(docs, numPartitions, offset)
  }

  /** Assign docIds to any (url, text) DataFrame-shaped dataset.
    * `offset` starts numbering above an existing generation's
    * maxDocId (incremental append).
    *
    * The rank computation runs on a SKINNY url-only plan — the range
    * partitioner's sampling pass and the sort shuffle move ~60-byte
    * rows, never the document payload (at 100 TB, sampling the full
    * (url, text) corpus would be a second full extraction pass). The
    * payload joins back by url afterwards (one hash shuffle of the
    * text, which any layout change costs anyway).
    */
  def assign(docs: Dataset[org.apache.spark.sql.Row],
             numPartitions: Int = 0, offset: Long = 0L): Dataset[Doc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val p = if (numPartitions > 0) numPartitions
            else spark.sessionState.conf.numShufflePartitions
    // free the PREVIOUS assign's skinny cache: it must outlive its own
    // `assigned` materialization (the rank shuffle feeds the join), so
    // it cannot be freed below — releasing it here bounds live skinny
    // caches to one instead of one per build for the app lifetime
    // (repeated incremental deltas previously accumulated them)
    Option(lastSkinny.getAndSet(null)).foreach { prev =>
      // the previous build may belong to an already-stopped session
      // (bench cycles sessions per parallelism config) — its cache
      // died with the context, and unpersist on it throws
      try {
        if (!prev.sparkSession.sparkContext.isStopped) prev.unpersist(false)
      } catch { case _: Exception => () }
    }
    val urlsSorted = docs.select(col("url").cast("string"))
      .repartitionByRange(p, col("url"))
      .sortWithinPartitions("url")
      .as[String]
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Ranks are over DISTINCT urls: a crawl batch can capture the same
    // page twice, and without dedup the rank pass would mint one docId
    // per duplicate ROW while the payload join-back cross-products
    // them — duplicate docIds that WAND then double-scores with no
    // error anywhere. Sorted partitions make duplicates adjacent, so
    // both passes dedup with a previous-value compare, for free — and
    // the same walk counts total rows, so duplicate PRESENCE is known
    // here and the payload-side dedup below is paid only when real.
    // Counts accumulate in a Long — Iterator.size returns Int, which
    // silently wraps past 2^31 rows per partition (real at the
    // 10^12-url design point).
    val counts = urlsSorted
      .mapPartitions { it =>
        var n = 0L; var d = 0L; var prev: String = null
        it.foreach { u => n += 1; if (u != prev) { d += 1; prev = u } }
        Iterator.single((d, n))
      }
      .collect()
    val hasDups = counts.exists(c => c._2 != c._1)
    val offsets = counts.map(_._1).scanLeft(offset)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    val ids = urlsSorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var rank = bc.value(pid)
      var prev: String = null
      it.flatMap { url =>
        if (url == prev) Iterator.empty
        else {
          prev = url; val r = (url, rank); rank += 1; Iterator.single(r)
        }
      }
    }.toDF("url", "docId")
    // Join the payload back — deduped to one winner per url ONLY when
    // the skinny walk saw duplicates: max_by on the content hash is
    // deterministic (tied hashes mean identical text), the partial
    // aggregate collapses duplicate payloads map-side BEFORE the
    // shuffle, and the groupBy(url) output is hash-partitioned by url
    // so the join reuses it (payload still crosses the network once).
    // The common unique-url batch skips the agg entirely and keeps the
    // single fused join→consume stage — the dedup guard costs nothing
    // when there is nothing to dedup. Cache the result — callers
    // traverse the corpus more than once (tf pass, docs-meta pass).
    val payload0 = docs
      .select(col("url").cast("string"), col("text").cast("string"))
    val payload =
      if (!hasDups) payload0
      else payload0.groupBy("url")
        .agg(max_by(col("text"),
          xxhash64(col("url"), col("text"))).as("text"))
    val assigned = payload
      .join(ids, "url")
      .select(col("docId"), col("url"), col("text"))
      .as[Doc]
      .persist(StorageLevel.MEMORY_AND_DISK)
    lastSkinny.set(urlsSorted)
    assigned
  }

  /** The previous assign's skinny url cache — freed on the next call
    * (see above); at most one stays live.
    */
  private val lastSkinny =
    new java.util.concurrent.atomic.AtomicReference[Dataset[String]]()
}
