package graft.query

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Tokenize
import graft.index.{IndexBuilder, IndexPaths, IndexStats, Norms, SegmentBlock,
  TermMeta, Tombstones}

case class QuerySpec(queryId: Long, text: String)
case class SearchHit(queryId: Long, rank: Int, docId: Long, score: Double)

/** Distributed BM25 top-k over the term-partitioned segment files —
  * the serve path of the loop (reference ancestor: `POST /search`,
  * /root/reference/packages/api/spheraform_api/routers/search.py:16-77,
  * re-expressed as a scatter/gather Spark job per the north rule).
  *
  * Every entry point serves through one per-call [[View]] of the live
  * generations, as the reference runs count, page and facets off one
  * filtered catalogue query: their dirs and stats, the merged global
  * stats, the cached pruned dictionary lookup with its one
  * cross-generation `TermMeta` merge, and the one pruned segment scan
  * and docId-range scatter.
  *
  * Plan for a batch of queries ([[prepare]], then the gather):
  *   1. driver: tokenize queries (same Tokenize as the build), look up
  *      per-term (df, saltCount) through the view — a termHash
  *      pushdown filter on the range-sorted dictionary prunes row
  *      groups — and derive the MaxScore bounds and θ₀,
  *   2. the view scans only touched segments: partition pruning on
  *      `bucket` + min/max pruning on `termHash` (blocks are sorted by
  *      termHash within files),
  *   3. the view scatters each block by (queryId, docId-range); a
  *      stopword's giant posting list is thereby split across ranges
  *      so no single task owns it,
  *   4. gather: per (queryId, range) [[Gather.gatherRange]] — a pure
  *      function of the range's blocks, a dl lookup and the tombstone
  *      mask — builds cursors and runs block-max WAND (or conjunctive
  *      intersection) over a bounded min-heap → partial top-k,
  *   5. [[Gather.merge]] per queryId on the driver: k·R tiny rows →
  *      exact global top-k with the (score desc, docId asc) tie-break.
  *
  * Exactness across ranges: ranges partition docId space; a block
  * straddling a boundary is sent to every range it overlaps and each
  * task's cursors mask docIds outside the task's window, so every doc
  * is scored exactly once with all its terms present.
  */
object Searcher {

  sealed trait Mode
  case object Or extends Mode  // disjunctive BM25 top-k (default)
  case object And extends Mode // conjunctive: doc must match all terms

  /** Per-generation driver-side dictionary cache: term → Some(meta)
    * or None (negative entry). A serving deployment keeps this hot; at
    * web scale it holds only QUERIED terms, never the dictionary.
    * Bounded defensively. An entry belongs to one COMMIT of its
    * directory — the mtime and length of its `stats.json`, which every
    * build and compaction replaces atomically ([[graft.Commit.file]])
    * — so a directory rebuilt in the same JVM never serves the
    * previous build's df, saltCount or negative entries.
    */
  private final class TermCache(val commit: (Long, Long)) {
    val entries =
      new java.util.concurrent.ConcurrentHashMap[String, Option[TermMeta]]()
  }

  private val termCaches =
    new java.util.concurrent.ConcurrentHashMap[String, TermCache]()

  private def termCacheFor(spark: SparkSession, dir: String) = {
    val st = IndexPaths.fs(spark, dir)
      .getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/stats.json"))
    val commit = (st.getModificationTime, st.getLen)
    val c = termCaches.compute(dir, (_, old) =>
      if (old != null && old.commit == commit) old else new TermCache(commit))
    if (c.entries.size > 200000) c.entries.clear() // crude bound; advisory
    c.entries
  }

  def invalidateTermCache(dir: String): Unit = termCaches.remove(dir)

  private val TermMetaCols =
    org.apache.spark.sql.Encoders.product[TermMeta].schema.fieldNames.toSeq.map(col)

  /** Pruned dictionary lookup through the shared positive/negative term
    * cache: the cache misses of every generation are fetched by ONE job
    * — a union of per-generation termHash-pushdown scans (the
    * dictionary is range-sorted by termHash, so each touches 1-2 row
    * groups per term, never the dictionary), tagged with the
    * generation. Shared by the BM25 and match paths — the logic is
    * exactness-adjacent (negative caching, collision filter), so
    * exactly one copy exists.
    */
  private def lookupMetas(spark: SparkSession, indexDirs: Seq[String],
                          terms: Seq[String]): Seq[Map[String, TermMeta]] = {
    import spark.implicits._
    val caches = indexDirs.map(termCacheFor(spark, _))
    val missing = caches.map(c => terms.filterNot(c.containsKey))
    val scans = indexDirs.indices.filter(missing(_).nonEmpty).map { g =>
      IndexPaths.terms(spark, indexDirs(g))
        .filter($"termHash".isin(missing(g).map(IndexBuilder.xxhash): _*))
        // a column projection, not a typed map: the tasks then run
        // no per-row object (de)serialization code
        .select(lit(g).as("_1"), struct(TermMetaCols: _*).as("_2"))
        .as[(Int, TermMeta)]
    }
    if (scans.nonEmpty) {
      val fetched = scans.reduce(_ union _).collect()
        .filter { case (g, t) => missing(g).contains(t.term) } // hash-collision guard
        .groupBy(_._1)
      missing.zipWithIndex.foreach { case (ms, g) =>
        val got = fetched.getOrElse(g, Array.empty).map(x => x._2.term -> x._2).toMap
        ms.foreach(t => caches(g).put(t, got.get(t))) // negative-cache absent terms
      }
    }
    caches.map(cache => terms.flatMap(t =>
      Option(cache.get(t)).flatten.map(t -> _)).toMap)
  }

  /** Storage keys of a term in one generation: the salted sub-run keys
    * when the build split it, else the term itself. The salt layout is
    * per-generation (saltCount depends on that generation's df).
    */
  private def storageKeys(term: String, tm: TermMeta): Seq[String] =
    if (tm.saltCount > 1)
      (0 until tm.saltCount).map(s => IndexBuilder.saltKey(term, s))
    else Seq(term)

  /** docId → scatter range (floor split of [0, maxDoc) into `ranges`). */
  private def rangeOf(docId: Long, ranges: Int, maxDoc: Long): Int =
    math.min(ranges - 1, (docId * ranges / math.max(1L, maxDoc)).toInt)

  /** The EXACT preimage [lo, hi) of rangeOf(r): rangeOf floors
    * docId·R/M, whose preimage for range r is [ceil(r·M/R),
    * ceil((r+1)·M/R)). A floor-based lo/hi would mask out boundary
    * docIds when M % R != 0 — silent doc loss: a block ending exactly
    * on the boundary is scattered only to range r but the window
    * would exclude its last doc.
    */
  private def rangeWindow(r: Int, ranges: Int, maxDoc: Long): (Long, Long) = {
    val lo = (r.toLong * maxDoc + ranges - 1) / ranges
    val hi = if (r == ranges - 1) Long.MaxValue
             else ((r.toLong + 1) * maxDoc + ranges - 1) / ranges
    (lo, hi)
  }

  /** One call's serve view over the live generations. Empty
    * generations (zero docs — e.g. a delta where change was detected
    * but the hash diff selected nothing) have no readable terms or
    * segments parquet, so no scan reads them; their TOMBSTONES still
    * count, so every entry point builds its mask over the FULL dir
    * list. `terms` are looked up (cached, pruned) on first use only.
    * Driver-side; no closure captures it.
    */
  private final class View(spark: SparkSession, indexDirs: Seq[String],
                           terms: Seq[String]) {
    val (dirs, statsList) = indexDirs
      .map(d => d -> IndexPaths.readStats(spark, d))
      .filter(_._2.numDocs > 0).unzip
    def isEmpty: Boolean = dirs.isEmpty

    /** Global stats combine exactly (N = ΣnumDocs, avgdl =
      * ΣtotalTokens / ΣnumDocs), and block bounds derive from (maxTf,
      * minDl) under them — so results are rank-identical to a full
      * rebuild over the union corpus (modulo docId numbering).
      */
    lazy val stats: IndexStats = {
      val nTotal = statsList.map(_.numDocs).sum
      val tokTotal = statsList.map(_.totalTokens).sum
      statsList.head.copy(
        numDocs = nTotal,
        totalTokens = tokTotal,
        avgdl = if (statsList.size == 1) statsList.head.avgdl
                else if (nTotal == 0) 0.0 else tokTotal.toDouble / nTotal,
        maxDocId = statsList.map(_.maxDocId).max,
        // maxDl must cover EVERY generation: θ₀ = score(tf=1, dl=maxDl)
        // is only a safe lower bound under the global max dl. A
        // generation reporting 0 (an old stats.json) means "unknown" —
        // propagate 0 so theta0Free disables itself.
        maxDl = if (statsList.exists(_.maxDl <= 0)) 0L
                else statsList.map(_.maxDl).max)
    }
    def maxDoc: Long = stats.maxDocId + 1

    /** Per generation: term → meta (the salt layout is per generation). */
    lazy val metaPerIndex: Seq[Map[String, TermMeta]] =
      lookupMetas(spark, dirs, terms)

    /** Term → meta merged across generations: df/cf summed, maxTf
      * max, minDl min. */
    lazy val merged: Map[String, TermMeta] = terms.flatMap { term =>
      val metas = metaPerIndex.flatMap(_.get(term))
      if (metas.isEmpty) None
      else Some(term -> metas.head.copy(df = metas.map(_.df).sum,
        cf = metas.map(_.cf).sum, maxTf = metas.map(_.maxTf).max,
        minDl = metas.map(_.minDl).min))
    }.toMap

    /** Storage keys of `term` in every generation holding it. */
    private def keysOf(term: String): Seq[String] =
      metaPerIndex.flatMap(_.get(term)).flatMap(storageKeys(term, _))

    /** Only the touched segments of every generation: partition
      * pruning on `bucket` + row-group pruning on `termHash`, per
      * generation's own keys and bucket count, unioned. */
    private def segments(scanTerms: Seq[String]): Dataset[SegmentBlock] = {
      import spark.implicits._
      dirs.indices.map { g =>
        val hs = scanTerms.flatMap(t => metaPerIndex(g).get(t).toSeq
          .flatMap(storageKeys(t, _))).map(IndexBuilder.xxhash)
        val bks = hs.map(IndexBuilder.bucketOf(_, statsList(g).numBuckets))
          .distinct
        IndexPaths.segments(spark, dirs(g))
          .filter($"bucket".isin(bks: _*) && $"termHash".isin(hs: _*))
      }.reduce(_ union _)
    }

    /** The one scatter: the pruned blocks of `termUses`' terms, each
      * emitted once per use of its storage key (uses merge across
      * generations — identical values for identical keys) and per
      * docId range it overlaps, `rangeOf(firstDocId)` to
      * `rangeOf(lastDocId)`. Unless positions are verified, `posEnc`
      * is blanked first: the scatter replicates blocks per (use,
      * range), and a positional index would otherwise pay 2-3x shuffle
      * on every plain query.
      */
    def scatter[U, O: Encoder](termUses: Seq[(String, U)],
                               verifyPositions: Boolean, ranges: Int)(
        emit: (SegmentBlock, U, Int) => Iterator[O]): Dataset[O] = {
      val uses = termUses.flatMap { case (term, u) => keysOf(term).map(_ -> u) }
        .groupBy(_._1).map { case (key, v) => key -> v.map(_._2).distinct }
      val bcUses = spark.sparkContext.broadcast(uses)
      val maxDoc = this.maxDoc
      segments(termUses.map(_._1).distinct).flatMap { b0 =>
        val b = if (verifyPositions || b0.posEnc == null || b0.posEnc.isEmpty) b0
                else b0.copy(posEnc = Array.emptyByteArray)
        bcUses.value.getOrElse(b.skey, Nil).iterator.flatMap { u =>
          (rangeOf(b.firstDocId, ranges, maxDoc) to
           rangeOf(b.lastDocId, ranges, maxDoc)).iterator.flatMap(emit(b, u, _))
        }
      }
    }
  }

  /** One cursor per (term, storage key) of a range's (termIdx, idf,
    * block) rows, its blocks in docId order. */
  private def cursorsOf(blocks: Seq[(Int, Double, SegmentBlock)], avgdl: Double,
                        lo: Long, hi: Long, dl: Long => Long): Array[Cursor] =
    blocks.groupBy(x => (x._1, x._3.skey)).valuesIterator.map { rows =>
      new Cursor(rows.head._1, rows.head._2,
        rows.map(_._3).sortBy(_.firstDocId).toArray, avgdl, lo, hi, dl)
    }.toArray

  /** Driver-side query plan for one query. */
  private case class Plan(queryId: Long, terms: Seq[TermMeta],
                          termIdx: Map[String, Int])

  /** A query batch's gather: everything a (queryId, range) group needs
    * besides its blocks, the dl lookup and the tombstone mask. Pure —
    * it runs in a gather task or, with no SparkSession, on the driver.
    * `depth` = k + offset is the cut every bound targets.
    */
  private[query] final case class Gather(ranges: Int, maxDoc: Long,
      avgdl: Double, depth: Int, offset: Int, and: Boolean,
      theta0: Map[Long, Double], dfOrder: Map[Long, Seq[Int]]) {

    /** Partial top-depth of query `qid` over docId range `range`, from
      * its (termIdx, idf, block) rows; `mask` null means none. */
    def gatherRange(qid: Long, range: Int,
                    blocks: Seq[(Int, Double, SegmentBlock)],
                    norms: Long => Long,
                    mask: Long => Boolean): Array[(Long, Double)] = {
      // exact rangeOf preimage — the silent-doc-loss proof lives on
      // rangeWindow
      val (lo, hi) = rangeWindow(range, ranges, maxDoc)
      val floor = theta0.getOrElse(qid, Double.NegativeInfinity)
      if (!and && blocks.map(_._1).distinct.size == 1)
        // the whole group is ONE term (single-term query, possibly
        // many salted sub-runs): per-posting scores are independent —
        // impact-ordered block evaluation with early termination
        // replaces the degenerate WAND merge
        Wand.singleTermTopK(blocks.map(_._3).toArray, blocks.head._2,
          avgdl, depth, lo, hi, floor, mask, norms)
      else {
        val cursors = cursorsOf(blocks, avgdl, lo, hi, norms)
        if (!and) Wand.wandOr(cursors, depth, floor, mask)
        else {
          // a term with no block in this range means no match in it;
          // groups in df order, so the rarest term drives
          val groups = dfOrder(qid).map(t => cursors.filter(_.termIdx == t))
            .toArray
          if (groups.exists(_.isEmpty)) Array.empty[(Long, Double)]
          else Wand.intersectAnd(groups, depth, mask)
        }
      }
    }

    /** The final merge of partial (queryId, docId, score) rows: per
      * query the ranks [offset, depth), numbered from offset + 1. */
    def merge(partials: Seq[(Long, Long, Double)]): Seq[SearchHit] =
      partials.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
        rows.sortBy { case (_, d, s) => (-s, d) }
          .slice(offset, depth).zipWithIndex
          .map { case ((_, d, s), i) => SearchHit(qid, offset + i + 1, d, s) }
      }
  }

  /** The θ₀ probe's scoring of one block: each posting's score as the
    * query's only term (a lower bound on its total). Pure. */
  private def probeScores(qid: Long, b: SegmentBlock, idf: Double,
                          avgdl: Double,
                          dl: Long => Long): Iterator[(Long, Double)] = {
    val tfs = graft.index.Codec.decodeVarByte(b.tfsEnc, b.n)
    val ds = graft.index.Codec.decodeDeltas(b.docIdsEnc, b.n, b.firstDocId)
    (0 until b.n).iterator.map(i =>
      (qid, BM25.score(tfs(i), dl(ds(i)), avgdl, idf)))
  }

  /** The matching docIds of one docId window [lo, hi) from its
    * (distinct-term index, block) rows: every slot's term present
    * (and, verifying positions, adjacent in slot order), unmasked.
    * Pure; matching never scores, so no idf or norms lookup. */
  private def matchRange(blocks: Seq[(Int, SegmentBlock)],
                         slots: Array[Int], verifyPositions: Boolean,
                         lo: Long, hi: Long,
                         mask: Long => Boolean): Iterator[Long] = {
    val cursors = cursorsOf(blocks.map { case (t, b) => (t, 0.0, b) }, 1.0,
      lo, hi, _ => 1L)
    val slotGroups = slots.map(t => cursors.filter(_.termIdx == t))
    val hits = (if (verifyPositions) Wand.phraseDocs(slotGroups)
                else Wand.andDocs(slotGroups)).iterator
    if (mask == null) hits else hits.filterNot(mask)
  }

  def search(spark: SparkSession, indexDir: String,
             queries: Seq[QuerySpec], k: Int = 10, mode: Mode = Or,
             numRanges: Int = 8, offset: Int = 0): Dataset[SearchHit] =
    searchMulti(spark, Seq(indexDir), queries, k, mode, numRanges,
      offset = offset)

  /** Search the union of several index generations (a base build plus
    * incremental deltas). Global stats combine exactly (N = ΣnumDocs,
    * avgdl = ΣtotalTokens / ΣnumDocs, df = Σdf per term), and block
    * bounds are derived from (maxTf, minDl) under those CURRENT stats
    * — so results are rank-identical to a full rebuild over the union
    * corpus (modulo docId numbering). Until compaction the stats still
    * count tombstoned versions; those are only dropped from the
    * ranking.
    *
    * @param probeMinTotalDf queries whose summed df exceeds this run a
    *        θ₀ PROBE first: one batched job scores only each query's
    *        rarest term (single-term contributions lower-bound totals,
    *        so the k-th best is a safe, much tighter θ₀). Cheap
    *        queries skip the extra job; stopword-heavy ones — the
    *        scatter-volume hazard — pay ~one small scan to prune the
    *        big one.
    * @param offset serve-path pagination: skip the first `offset`
    *        ranked hits and return the next k (ranks continue —
    *        page 2 of k=10 carries ranks 11-20). Internally the job
    *        retrieves top (offset + k): every pruning bound (θ₀, df ≥
    *        k floors, heap size) must target the DEEPER cut or true
    *        page-2 hits would be pruned.
    */
  def searchMulti(spark: SparkSession, indexDirs: Seq[String],
                  queries: Seq[QuerySpec], k: Int = 10, mode: Mode = Or,
                  numRanges: Int = 8,
                  probeMinTotalDf: Long = 100000L,
                  offset: Int = 0): Dataset[SearchHit] =
    // The gather shuffle has EXACTLY |queries| × numRanges keys (and
    // the probe job |queries|): planning it wider than that is pure
    // per-task scheduling waste, and the whole computation runs
    // eagerly inside this call (partials.collect). Capped at the
    // session setting: a big batch keeps full cluster width.
    graft.Adaptive.withWidth(spark,
      queries.size.toLong * math.max(1, numRanges)) { scope =>
      searchMultiImpl(scope.session, indexDirs, queries, k, mode,
        numRanges, probeMinTotalDf, offset)
    }

  private def searchMultiImpl(spark: SparkSession, indexDirs: Seq[String],
                  queries: Seq[QuerySpec], k: Int, mode: Mode,
                  numRanges: Int,
                  probeMinTotalDf: Long,
                  offset: Int): Dataset[SearchHit] = {
    import spark.implicits._
    prepare(spark, indexDirs, queries, k, mode, numRanges, probeMinTotalDf,
        offset) match {
      case None => spark.emptyDataset[SearchHit]
      case Some(p) =>
        val bcGather = spark.sparkContext.broadcast(p.gather)
        // locals: the task closure must not capture `p`, whose
        // Dataset does not serialize
        val (gens, conf, tomb) = (p.gens, p.conf, p.mask)
        val partials = p.scattered
          .groupByKey(x => (x._1, x._2))
          .flatMapGroups { (key: (Long, Int), it: Iterator[Scattered]) =>
            // task-scoped reader: flatMapGroups runs once per GROUP and
            // a partition holds many (query, range) groups — a fresh
            // Reader per group would re-read the same norms windows
            val norms = Norms.taskReader(gens.value, conf.value)
            bcGather.value.gatherRange(key._1, key._2,
              it.map(x => (x._3, x._4, x._5)).toSeq, norms.dl, tomb.value.fn)
              .iterator.map { case (d, s) => (key._1, d, s) }
          }
        // k·R rows per query — tiny by construction, so collect and
        // merge on the driver rather than paying another shuffle stage
        // (measured ~30% of single-query latency). This is the
        // reference's serve-path shape too: workers return partial
        // top-k, the coordinator merges (reference
        // packages/api/spheraform_api/routers/search.py:61-64).
        spark.createDataset(p.gather.merge(partials.collect().toSeq))
    }
  }

  /** A scattered block: (queryId, range, termIdx, idf, block). */
  private[query] type Scattered = (Long, Int, Int, Double, SegmentBlock)

  /** The driver half of a searchMulti batch: its gather, its scattered
    * blocks (not yet read), and the broadcast norms routing and
    * tombstone mask the gather tasks use. */
  private[query] final case class Prepared(gather: Gather,
      scattered: Dataset[Scattered], gens: Broadcast[Array[Norms.GenMeta]],
      conf: Broadcast[Norms.SerConf], mask: Broadcast[Tombstones.Mask])

  /** Everything of a searchMulti batch up to its gather shuffle — the
    * θ₀ probe job included. None when nothing can match. */
  private[query] def prepare(spark: SparkSession, indexDirs: Seq[String],
                             queries: Seq[QuerySpec], k: Int, mode: Mode,
                             numRanges: Int, probeMinTotalDf: Long,
                             offset: Int): Option[Prepared] = {
    import spark.implicits._
    // k <= 0 is a valid degenerate ask (e.g. an empty pagination
    // window) — TopK(0) would crash in the gather tasks
    if (k <= 0) return None
    val off = math.max(0, offset)
    val depth = k + off
    val qTerms: Map[Long, Seq[String]] = queries.map { q =>
      q.queryId -> Tokenize.tokens(q.text).distinct.toSeq
    }.toMap
    val allTerms = qTerms.values.flatten.toSeq.distinct
    val view = new View(spark, indexDirs, allTerms)
    // Re-crawl tombstones: replaced base docIds are masked out of
    // every evaluator (the dead version never surfaces). Until
    // compaction, global stats still count the dead docs, so the free
    // θ₀ / probe floors (whose safety proof counts df docs) are
    // disabled — correctness over speed in the transient window.
    // Small sets broadcast; above the threshold the mask reads the
    // strided sidecar per docId window (never an O(corpus) driver Set).
    val tombMask = Tombstones.maskFor(spark, indexDirs)
    if (view.isEmpty || allTerms.isEmpty) return None
    val noTomb = tombMask.isEmpty
    // norms-sidecar routing: generation dirs + docId ranges + the
    // Hadoop conf (tasks open stride files lazily; each holds only its
    // generation's docId window, 4 B per doc)
    val bcGens = spark.sparkContext.broadcast(
      view.dirs.zip(view.statsList).map { case (d, st) =>
        Norms.GenMeta(d, st.minDocId, st.maxDocId)
      }.toArray)
    val bcConf = spark.sparkContext.broadcast(
      new Norms.SerConf(spark.sparkContext.hadoopConfiguration))
    val stats = view.stats
    val avgdl = stats.avgdl
    val metaByTerm = view.merged

    val plans: Seq[Plan] = queries.flatMap { q =>
      val metas = qTerms(q.queryId).flatMap(metaByTerm.get)
      val usable = mode match {
        case And => if (metas.size == qTerms(q.queryId).size) metas else Seq.empty
        case Or  => metas
      }
      if (usable.isEmpty) None
      else Some(Plan(q.queryId,
        usable.sortBy(_.df), // AND driver order: rarest first
        qTerms(q.queryId).zipWithIndex.toMap))
    }
    if (plans.isEmpty) return None

    // MaxScore bounds (driver, from dictionary metadata alone):
    //   UB_t    = best possible contribution of term t (maxTf, minDl
    //             under CURRENT stats),
    //   θ₀(q)   = a SAFE lower bound on the final k-th score: any
    //             term with df ≥ k guarantees k docs each scoring at
    //             least its worst single-posting score (tf=1,
    //             dl = corpus maxDl). OR mode only — AND result
    //             counts are unknown a priori.
    //   θ₀'s real effect is seeding each gather task's WAND floor:
    //   a docId-range whose range-local bounds can't reach θ₀ is
    //   skipped without decoding anything (SCALE.md).
    //   residual(q,t) = θ₀(q) − Σ_{t'≠t} UB_{t'} additionally gates
    //   blocks BEFORE the scatter shuffle; with this free θ₀ the
    //   gate is provably inert (θ₀ ≤ UB of its justifying term) —
    //   it is the plug-in point for a tighter probed θ₀.
    val ubByTerm: Map[String, Double] = metaByTerm.map { case (term, t) =>
      term -> BM25.score(t.maxTf.toLong, t.minDl.toLong, avgdl,
        BM25.idf(stats.numDocs, t.df))
    }
    val theta0Free: Map[Long, Double] = plans.map { p =>
      val t0 =
        if (mode != Or || stats.maxDl <= 0 || !noTomb)
          Double.NegativeInfinity
        else {
          val cands = p.terms.filter(_.df >= depth).map(t =>
            BM25.score(1L, stats.maxDl, avgdl, BM25.idf(stats.numDocs, t.df)))
          if (cands.isEmpty) Double.NegativeInfinity
          // nextDown: ties at exactly θ₀ must survive (exactness)
          else Math.nextDown(cands.max)
        }
      p.queryId -> t0
    }.toMap

    // θ₀ probe: score ONLY the rarest term of the expensive queries
    // (one batched job over its blocks); k-th best single-term
    // contribution is a safe lower bound on the k-th total score and
    // is tight enough to make the pre-shuffle residual gate fire.
    val probed: Map[Long, Double] = {
      val probePlans = plans.filter { p =>
        noTomb &&
          mode == Or && p.terms.size >= 2 && p.terms.head.df >= depth &&
          // don't probe when even the rarest term is itself huge —
          // the probe scan would rival the query
          p.terms.head.df <= math.max(10L * probeMinTotalDf, 1000000L) &&
          p.terms.map(_.df).sum >= probeMinTotalDf
      }
      if (probePlans.isEmpty) Map.empty
      else {
        val rarest = probePlans.map { p =>
          val t = p.terms.head // sorted by df asc
          t.term -> ((p.queryId, BM25.idf(stats.numDocs, t.df)))
        }
        view.scatter(rarest, verifyPositions = false, ranges = 1) {
          case (b, (qid, idf), _) =>
            probeScores(qid, b, idf, avgdl,
              Norms.taskReader(bcGens.value, bcConf.value).dl)
        }
          .groupByKey(_._1)
          .mapGroups { (qid: Long, it: Iterator[(Long, Double)]) =>
            val h = new TopK(depth)
            it.foreach(x => h.offer(x._2, 0L))
            (qid, if (h.size >= depth) h.result().last._2
                  else Double.NegativeInfinity)
          }
          .collect()
          .map { case (q, s) =>
            q -> (if (s == Double.NegativeInfinity) s else Math.nextDown(s))
          }.toMap
      }
    }
    val theta0: Map[Long, Double] = theta0Free.map { case (q, v) =>
      q -> math.max(v, probed.getOrElse(q, Double.NegativeInfinity))
    }

    // every (query, term) use: its idf is global, its residual gates
    // blocks before the shuffle
    val uses = plans.flatMap { p =>
      val ubSum = p.terms.map(t => ubByTerm(t.term)).sum
      p.terms.map { t =>
        t.term -> ((p.queryId, p.termIdx(t.term), BM25.idf(stats.numDocs, t.df),
          theta0(p.queryId) - (ubSum - ubByTerm(t.term))))
      }
    }
    val ranges = math.max(1, numRanges)
    val scattered = view.scatter(uses, verifyPositions = false, ranges) {
      case (b, (qid, tIdx, idf, residual), r) =>
        // MaxScore gate BEFORE the shuffle: the block's exact bound
        // under current stats vs this (query, term)'s residual
        if (BM25.score(b.maxTf.toLong, b.minDl.toLong, avgdl, idf) < residual)
          Iterator.empty
        else Iterator.single((qid, r, tIdx, idf, b))
    }
    val gather = Gather(ranges, view.maxDoc, avgdl, depth, off, mode == And,
      theta0, plans.map(p => p.queryId -> p.terms.map(t => p.termIdx(t.term))).toMap)
    Some(Prepared(gather, scattered, bcGens, bcConf,
      spark.sparkContext.broadcast(tombMask)))
  }

  /** Engine-backed phrase matching: posting-list AND-intersection plus
    * token-position adjacency verify, served from the positional tier
    * (an index built with `withPositions`). Returns the matching
    * docIds as a DISTRIBUTED dataset — callers that need the full hit
    * set (exports, joins) consume it without the result ever touching
    * the driver; interactive callers go through [[phraseSearch]],
    * which pages with a bounded scatter-gather. Matches the
    * substring-over-normalized-tokens semantics (" w1 w2 ... " in the
    * space-joined token stream) exactly — positions ARE token
    * indices. At web scale this is the difference between a per-query
    * full-corpus scan and touching only the phrase terms' posting
    * blocks (same scatter pruning as search: bucket partition +
    * termHash row groups + docId-range windows).
    */
  def phraseDocs(spark: SparkSession, indexDirs: Seq[String],
                 phrase: String, numRanges: Int = 8): Dataset[Long] =
    matchDocs(spark, indexDirs,
      Tokenize.tokens(phrase).toSeq, // order + duplicates kept
      verifyPositions = true, numRanges)

  /** Full matching docId set of a conjunctive (AND) term query — the
    * bulk-retrieval/export primitive: every doc containing ALL query
    * terms, as a distributed dataset, no scoring, no top-k cut. Works
    * on BM25-only indexes (no positional tier needed).
    */
  def conjunctiveDocs(spark: SparkSession, indexDirs: Seq[String],
                      query: String, numRanges: Int = 8): Dataset[Long] =
    matchDocs(spark, indexDirs,
      Tokenize.tokens(query).distinct.toSeq,
      verifyPositions = false, numRanges)

  private def matchDocs(spark: SparkSession, indexDirs: Seq[String],
                        slots: Seq[String], verifyPositions: Boolean,
                        numRanges: Int): Dataset[Long] = {
    import spark.implicits._
    if (slots.isEmpty) return spark.emptyDataset[Long]
    val distinctTerms = slots.distinct
    val view = new View(spark, indexDirs, distinctTerms)
    if (view.isEmpty) return spark.emptyDataset[Long]
    // Fail fast on an index with NO positional tier anywhere: every
    // candidate would fail the position verify and the caller would
    // get an empty result indistinguishable from "phrase not
    // present" — wrong answers with no error. Mixed generations stay
    // allowed (docs from non-positional gens simply can't
    // phrase-match — documented partial semantics); legacy stats
    // without the flag (None) pass through, unknowable.
    if (verifyPositions && view.statsList.forall(_.positions.contains(false)))
      throw new IllegalArgumentException(
        "phrase search needs the positional tier, but every " +
          s"generation of ${indexDirs.mkString(",")} was built " +
          "without positions (Config.withPositions) — rebuild with " +
          "positions or use conjunctiveDocs/searchMulti")
    // every phrase term must exist in at least one generation
    if (view.merged.size < distinctTerms.size) return spark.emptyDataset[Long]
    // re-crawl tombstones mask phrase results too — a replaced
    // version must never surface from ANY evaluator
    val bcMask = spark.sparkContext.broadcast(
      Tombstones.maskFor(spark, indexDirs))
    val tIdx: Map[String, Int] = distinctTerms.zipWithIndex.toMap
    val ranges = math.max(1, numRanges)
    val maxDoc = view.maxDoc
    val slotIdxs = slots.map(tIdx).toArray
    view.scatter(distinctTerms.zipWithIndex, verifyPositions, ranges) {
      (b, ti, r) => Iterator.single((r, ti, b))
    }
      .groupByKey(_._1)
      .flatMapGroups { (r: Int, it: Iterator[(Int, Int, SegmentBlock)]) =>
        val (lo, hi) = rangeWindow(r, ranges, maxDoc)
        matchRange(it.map(x => (x._2, x._3)).toSeq, slotIdxs, verifyPositions,
          lo, hi, bcMask.value.fn)
      }
  }

  /** Paged phrase search: docIds ascending, rows [offset, offset+limit).
    * Bounded end to end — each partition keeps only its (offset+limit)
    * smallest docIds in a max-heap, the driver merges
    * O(partitions × depth) candidates and slices the page. A stopword
    * phrase matching 10⁹ docs costs the driver `depth` longs per
    * partition, never the full hit set (round 2 collected ALL matches,
    * the serve path's last unbounded driver collect).
    */
  def phraseSearch(spark: SparkSession, indexDirs: Seq[String],
                   phrase: String, numRanges: Int = 8,
                   limit: Int = 1000, offset: Int = 0): Seq[Long] = {
    import spark.implicits._
    if (limit <= 0) return Seq.empty
    val off = math.max(0, offset)
    val depth = math.min(Int.MaxValue.toLong, off.toLong + limit).toInt
    val partTops = phraseDocs(spark, indexDirs, phrase, numRanges)
      .mapPartitions { it =>
        val pq = new java.util.PriorityQueue[java.lang.Long](
          16, java.util.Comparator.reverseOrder[java.lang.Long]())
        it.foreach { id =>
          if (pq.size < depth) pq.add(id)
          else if (id < pq.peek()) { pq.poll(); pq.add(id) }
        }
        val out = new Array[Long](pq.size)
        var i = 0
        while (!pq.isEmpty) { out(i) = pq.poll(); i += 1 }
        out.iterator
      }
    // docIds are unique across partitions (each doc lives in exactly
    // one docId-range group), so no distinct needed before the slice
    partTops.collect().sorted.slice(off, off + limit).toSeq
  }

  /** The term DICTIONARY of an index as a DataFrame (term, df, cf),
    * merged across live generations — the serve-side source for
    * dictionary features (fuzzy "did you mean", prefix autocomplete):
    * at 10⁹ docs these must read the ~10⁶-row terms artifact the
    * build already persists, never re-derive it from the corpus
    * (reference ancestor: serve queries hit the catalogue index, never
    * re-scan sources — /root/reference/packages/api/spheraform_api/
    * routers/search.py:38-46). Single generation skips the re-agg
    * shuffle (terms are unique within one build); multi-generation
    * df/cf sum across generations. Tombstoned docs' contribution is
    * NOT subtracted — df drift is acceptable for ranking suggestions
    * (compaction trues it up), same contract as searchMulti's global
    * stats.
    */
  def dictionary(spark: SparkSession, indexDirs: Seq[String]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val live = new View(spark, indexDirs, Nil).dirs
    if (live.isEmpty)
      return spark.emptyDataset[(String, Long, Long)]
        .toDF("term", "df", "cf")
    val per = live.map(d => IndexPaths.terms(spark, d)
      .select($"term", $"df", $"cf"))
    val u = per.reduce(_ union _)
    if (live.size == 1) u
    else u.groupBy("term")
      .agg(sum($"df").as("df"), sum($"cf").as("cf"))
  }

  /** Per-term metadata for an explicit term list, merged across
    * generations exactly as searchMulti merges (df/cf summed, maxTf
    * max, minDl min) — the pruned-dictionary lookup (termHash
    * pushdown + driver cache) exposed for serve features that need
    * df for a handful of known terms (e.g. more-like-this seed-term
    * selection) without a dictionary scan.
    */
  def termMetas(spark: SparkSession, indexDirs: Seq[String],
                terms: Seq[String]): Map[String, TermMeta] = {
    val distinctTerms = terms.distinct
    if (distinctTerms.isEmpty) return Map.empty
    val view = new View(spark, indexDirs, distinctTerms)
    if (view.isEmpty) Map.empty else view.merged
  }

  /** Posting membership for an explicit term list: (doc_id, term_idx)
    * rows decoded from ONLY those terms' posting blocks (bucket
    * partition pruning + termHash row groups — the ft_and_search scan
    * machinery without the intersection), tombstone-masked. The
    * candidate-generation primitive for OR-semantics serve features
    * (more-like-this counts shared seed terms per doc): corpus-side
    * cost is proportional to the chosen terms' posting lists, never a
    * corpus tokenize. term_idx = position in `terms` (deduplicated).
    */
  def termDocs(spark: SparkSession, indexDirs: Seq[String],
               terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val distinctTerms = terms.distinct
    val empty = spark.emptyDataset[(Long, Int)].toDF("doc_id", "term_idx")
    if (distinctTerms.isEmpty) return empty
    val view = new View(spark, indexDirs, distinctTerms)
    if (view.isEmpty) return empty
    val bcMask = spark.sparkContext.broadcast(
      Tombstones.maskFor(spark, indexDirs))
    if (view.merged.isEmpty) return empty
    view.scatter(distinctTerms.zipWithIndex, verifyPositions = false,
        ranges = 1) { (b, ti, _) =>
      val m = bcMask.value.fn
      graft.index.Codec.decodeDeltas(b.docIdsEnc, b.n, b.firstDocId)
        .iterator.filter(id => m == null || !m(id)).map(id => (id, ti))
    }.toDF("doc_id", "term_idx")
  }

  /** Back-join urls for a (small) hit set: one job over every live
    * generation's docs table, which is range-sorted by docId, so the
    * `isin` filter prunes row groups.
    */
  def withUrlsMulti(spark: SparkSession, indexDirs: Seq[String],
                    hits: Dataset[SearchHit]): Dataset[(Long, Int, Long, Double, String)] = {
    import spark.implicits._
    val h = hits.collect()
    val ids = h.map(_.docId).distinct.toSeq
    val docs = new View(spark, indexDirs, Nil).dirs
      .map(d => IndexPaths.docs(spark, d).filter($"docId".isin(ids: _*))
        .select($"docId", $"url").as[(Long, String)])
      .reduceOption(_ union _).fold(Map.empty[Long, String])(_.collect().toMap)
    spark.createDataset(h.toSeq.map(x =>
      (x.queryId, x.rank, x.docId, x.score, docs.getOrElse(x.docId, ""))))
  }
}
