package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import IndexBuilder.{Config, bucketOf, rangePid}

/** Writes one index generation. Every generation goes through here,
  * whether its postings were tokenized ([[IndexBuilder.build]]) or
  * decoded from older generations ([[Compaction.compact]]); a caller
  * hands in only its document rows and its posting rows.
  *
  * Shape of the job (the reference's harvest→normalize→index loop,
  * re-expressed as Spark stages — SURVEY.md §3.2):
  *   route:       with `stage` (a build), one pass over the cached
  *                posting rows counts them and reads their docId span.
  *                The count sets the number of segment groups,
  *                min(numGroups, ceil(postings / saltTarget)), at
  *                least 1: `numGroups` is a ceiling, and a group holds
  *                at least one salt run ([[groupsFor]]).
  *   front half:  docs (with norms inside the same job: the docs split
  *                falls on norms strides) and terms written
  *                CONCURRENTLY ([[graft.Jobs.all]]); global stats ride
  *                along as an observation on the docs write. Commits
  *                stats.json and the "stats" checkpoint.
  *   postings:    with `stage`, the salted posting stream is written
  *                with the front half — encoded in place when there is
  *                one group (fused), else staged as `postings_staged`
  *                partitioned by bucket. Commits "postings" with the
  *                posting count, from which a resume re-routes.
  *   segments:    per bucket group: range shuffle on termHash + sort
  *                (the merge-by-term), streaming block encode, segments
  *                partitioned by bucket. One checkpoint per group →
  *                resume skips completed groups. `postings_staged` is
  *                deleted once every group is COMPLETE.
  *
  * Hot terms are salted *before* the merge shuffle so no single task
  * ever owns a stopword's full posting list (ancestor: the reference's
  * declared spatial-grid chunk strategy for oversized layers,
  * /root/reference/packages/core/spheraform_core/models/job.py:141-145).
  * Staged artifacts commit through the reference's one
  * staging-to-promote path (`storage/backend.py:473-535`): a stage's
  * checkpoint lands only after its output is durable.
  */
object Generation {

  /** Segment groups of a build of `postings` posting rows: one per salt
    * run's worth, at least 1 and at most `numGroups` — a group never
    * holds less than one salt run, so a generation that small is one
    * fused pass, and `numGroups` is the ceiling a large one reaches. A
    * pure function of the posting count, which the "postings"
    * checkpoint records, so a resume routes as the first run did.
    */
  def groupsFor(postings: Long, saltTarget: Long, numGroups: Int): Int = {
    val runs = (postings + math.max(1L, saltTarget) - 1) / math.max(1L, saltTarget)
    math.max(1L, math.min(numGroups.toLong, runs)).toInt
  }

  /** (group, lo, hi): each segment group's bucket range [lo, hi), for
    * the groups that have one. */
  private def groupRanges(numBuckets: Int, groups: Int): Seq[(Int, Int, Int)] = {
    val per = math.max(1, math.ceil(numBuckets.toDouble / groups).toInt)
    (0 until groups).map(g => (g, g * per, math.min(numBuckets, g * per + per)))
      .filter(r => r._2 < r._3)
  }

  /** True iff every segment group of the generation at `dir` committed:
    * as many as the layout knobs in its lineage (`;b=`, `;g=`, `;st=`)
    * and, for a build, its "postings" checkpoint give ([[groupsFor]]).
    * Checkpoints without the knobs (a foreign layout) count as
    * committed once any group is.
    */
  def segmentsCommitted(spark: SparkSession, dir: String): Boolean = {
    val done = new CheckpointStore(spark, dir).list().filter(_.status == "COMPLETE")
    val segs = done.filter(_.stage == "segments")
    if (segs.isEmpty) return false
    def knob(key: String): Option[Long] =
      s";$key=(\\d+)".r.findFirstMatchIn(segs.head.lineage).map(_.group(1).toLong)
    (knob("g"), knob("b")) match {
      case (Some(g), Some(b)) if g > 0 && b > 0 =>
        val groups = (done.find(_.stage == "postings"), knob("st")) match {
          case (Some(p), Some(st)) => groupsFor(p.rowCount, st, g.toInt)
          case _ => g.toInt
        }
        segs.map(_.unit).distinct.size >= groupRanges(b.toInt, groups).size
      case _ => true
    }
  }

  /** Write the generation at `outDir` and return its stats.
    *
    * @param docs      one row per document (zero-token docs included:
    *                  they count toward N and avgdl)
    * @param postings  (term, docId, tf, dl, posEnc), one row per
    *                  (document, term)
    * @param source    the inputs' identity; with the layout knobs it
    *                  forms the lineage every checkpoint records
    * @param stage     count the posting rows first (caching them for
    *                  the concurrent writes below; a tokenized build: the
    *                  rows are costly to recompute and read by no group)
    *                  and route by that count ([[groupsFor]]): one group
    *                  is encoded with the front half (fused), more are
    *                  staged as `postings_staged` and encoded group by
    *                  group. Otherwise (a compaction) each of
    *                  `cfg.numGroups` groups re-salts the posting rows
    *                  against the committed dictionary, cached or not as
    *                  the caller chose
    * @param docIds    the docs' docId span [lo, hi], which sets the docs
    *                  write's split; required without `stage` (a
    *                  compaction knows it from its inputs' stats), which
    *                  takes it from the posting count
    */
  def write(outDir: String, docs: Dataset[DocMeta], postings: DataFrame,
            cfg: Config, buildId: String, resume: Boolean, source: String,
            positions: Option[Boolean], stage: Boolean,
            docIds: Option[(Long, Long)] = None): IndexStats = {
    require(stage || docIds.isDefined, "an unstaged write needs its docId span")
    val spark = docs.sparkSession
    import spark.implicits._
    val ckpt = new CheckpointStore(spark, outDir)
    // bake the layout config into the committed lineage so a resume
    // into a reused outDir never trusts checkpoints from a run over a
    // different source or bucket/group layout (group checkpoints would
    // gate the wrong bucket ranges, staged postings the wrong salt)
    val lineage = source +
      s";b=${cfg.numBuckets};g=${cfg.numGroups};bs=${cfg.blockSize}" +
      s";st=${cfg.saltTarget};pos=${cfg.withPositions}"
    // a non-resume write into a reused dir must not leave artifacts of
    // the previous layout behind: a shrunk numBuckets would rewrite
    // only the new bucket range, and whole-dir readers (compaction's
    // segments scan) would merge the stale buckets in. After this,
    // every checkpoint left is one this lineage can trust.
    if (!resume) IndexPaths.delete(spark, s"$outDir/_checkpoints")
    if (!resume || ckpt.invalidateUnlessLineage(lineage)) {
      IndexPaths.delete(spark, s"$outDir/segments")
      IndexPaths.delete(spark, s"$outDir/postings_staged")
    }
    val shufP =
      if (cfg.shufflePartitions > 0) cfg.shufflePartitions
      else spark.sessionState.conf.numShufflePartitions

    // ---- front half: docs + norms + terms (+ postings) + stats -------
    // Returns the number of segment groups.
    def frontHalf(): Int = {
      val t0 = System.currentTimeMillis()
      // segments encoded under an earlier front half are stale
      IndexPaths.delete(spark, s"$outDir/segments")
      // A build counts its posting rows, which fills their cache first
      // (the jobs below run CONCURRENTLY from driver threads and must
      // not race to compute it), and reads its docId span off the same
      // pass.
      val (postingCount, (lo, hi)) =
        if (stage) {
          postings.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val r = postings.agg(count(lit(1)), min($"docId"), max($"docId")).head()
          (r.getLong(0), if (r.isNullAt(1)) (0L, 0L) else (r.getLong(1), r.getLong(2)))
        } else (-1L, docIds.get)
      val groups =
        if (stage) groupsFor(postingCount, cfg.saltTarget, cfg.numGroups)
        else cfg.numGroups
      val fused = stage && groups == 1

      // Docs and norms in one job. An ANALYTIC docId split whose
      // boundaries fall on norms stride boundaries (docIds are dense, so
      // the span needs no sampling job — unlike repartitionByRange — and
      // file boundaries are a pure function of the rows): each task owns
      // whole, contiguous strides, sorted by docId, and writes their norms
      // windows from the rows it writes to `docs/`.
      val s0 = Norms.strideOf(lo)
      val strides = math.max(1L, Norms.strideOf(hi) - s0 + 1)
      val docParts = math.max(1L, math.min(shufP / 2, strides)).toInt
      val docPid = least(greatest(
        floor((shiftrightunsigned($"docId", Norms.StrideLog) - s0) * docParts / strides),
        lit(0L)), lit(docParts - 1L)).cast("int")
      val conf = spark.sparkContext.broadcast(
        new Norms.SerConf(spark.sparkContext.hadoopConfiguration))
      val obsDocs = new org.apache.spark.sql.Observation()
      val docsJob = () =>
        graft.Commit.marked(spark, s"$outDir/norms/_complete") {
          docs.repartitionById(docParts, docPid)
            .sortWithinPartitions("docId")
            .mapPartitions(Norms.writeAlong(_, outDir, conf.value))
            // avgdl from an INTEGER token-count sum — exact and
            // independent of partition/summation order, unlike avg()
            // over doubles (the rank-identity contract shares it with
            // the scalar oracle).
            .observe(obsDocs, count(lit(1)).as("n"),
              sum($"dl".cast("long")).as("toks"), max($"docId").as("maxId"),
              max($"dl".cast("long")).as("maxDl"),
              min($"docId").as("minId"))
            .write.mode(SaveMode.Overwrite).parquet(s"$outDir/docs")
        }(_ => "")

      // Per-term df over exactly these postings (a metadata re-sum
      // would overcount once a compaction drops a doc); hot terms
      // (df > saltTarget) get saltCount > 1; (maxTf, minDl) = the
      // term's best-contribution bound ingredients for driver-side
      // MaxScore pruning.
      val termDf = postings.groupBy($"term")
        .agg(count(lit(1)).as("df"), sum($"tf").cast("long").as("cf"),
          max($"tf").cast("int").as("maxTf"),
          min($"dl").cast("int").as("minDl"))
        .withColumn("saltCount",
          when($"df" > cfg.saltTarget,
            ceil($"df".cast("double") / cfg.saltTarget).cast("int"))
            .otherwise(lit(1)))
      // Analytic range partition on termHash (top bits): termHash is
      // uniform, so explicit splits replace repartitionByRange's
      // sampling JOB, and each task still owns 1-2 contiguous hash
      // ranges (sorted files → row-group pruning for dictionary
      // lookups).
      val termsParts = math.max(1,
        Integer.highestOneBit(math.max(1, shufP / 4)))
      val obsTerms = new org.apache.spark.sql.Observation()
      val termsJob = () =>
        termDf.withColumn("termHash", xxhash64($"term"))
          .select($"term", $"termHash", $"df", $"cf", $"saltCount",
            $"maxTf", $"minDl")
          .repartition(termsParts, rangePid(col("termHash"), termsParts))
          .sortWithinPartitions("termHash")
          .observe(obsTerms, count(lit(1)).as("n"))
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/terms")

      val obsBlocks = new org.apache.spark.sql.Observation()
      val postingsJob = () => {
        val staged = salt(postings, termDf, cfg.numBuckets)
        if (fused)
          // FUSED single-group path: the salted posting stream feeds
          // the encode shuffle directly. The staged parquet exists to
          // let multi-group builds re-read one bucket range per group;
          // with one group it is a full materialization round-trip
          // bought for nothing but a resume point the single group
          // cannot exploit (measured: staged-write ≈ 40% of the 8-core
          // build). Trade-off: a crash mid-encode resumes from the
          // posting rows, not from staged postings — for one group
          // that re-runs the same stage either way.
          writeSegments(encodeSegments(staged, cfg), obsBlocks,
            SaveMode.Overwrite, outDir)
        else
          // Hash-partition the staging write ON BUCKET: each bucket
          // lands wholly in one task (1-2 dirs per task, bounded files)
          // with NO range-sampling pass — the encode stage re-sorts
          // anyway, so a global order here would be wasted work.
          staged.repartition(math.min(shufP, cfg.numBuckets), $"bucket")
            .write.mode(SaveMode.Overwrite).partitionBy("bucket")
            .parquet(s"$outDir/postings_staged")
      }

      // The writes stand or fall together: a failed one cancels the
      // others, and none still writes into outDir once this rethrows.
      graft.Jobs.all(spark)(Seq(docsJob, termsJob) ++
        (if (stage) Seq(postingsJob) else Nil))
      if (stage) postings.unpersist()
      val n = obsDocs.get("n").asInstanceOf[Long]
      def docsStat(k: String, empty: Long) =
        if (n == 0) empty else obsDocs.get(k).asInstanceOf[Long]
      val totalToks = docsStat("toks", 0L)
      IndexPaths.writeStats(spark, outDir,
        IndexStats(buildId, n, if (n == 0) 0.0 else totalToks.toDouble / n,
          obsTerms.get("n").asInstanceOf[Long], cfg.numBuckets,
          cfg.blockSize, docsStat("maxId", -1L), totalToks,
          docsStat("maxDl", 0L), docsStat("minId", 0L), positions))
      def commit(name: String, rows: Long, dir: String) =
        ckpt.commit(Checkpoint(buildId, name, 0, "COMPLETE", rows,
          IndexPaths.dirBytes(spark, s"$outDir/$dir"), lineage, t0,
          System.currentTimeMillis()))
      commit("stats", n, "docs")
      // ORDER MATTERS for the fused path: segments first. A crash
      // between the two commits leaves postings incomplete → resume
      // re-runs the whole front half (overwriting segments and
      // recommitting both). The reverse order wedged permanently:
      // postings complete skipped the front half, the group loop saw
      // segments missing and re-encoded from a postings_staged the
      // fused path never writes.
      if (fused) commit("segments", obsBlocks.get("n").asInstanceOf[Long], "segments")
      if (stage)
        commit("postings", postingCount, if (fused) "segments" else "postings_staged")
      groups
    }
    val groups =
      if (!ckpt.isComplete(if (stage) "postings" else "stats", 0)) frontHalf()
      else if (stage)
        groupsFor(ckpt.read("postings", 0).get.rowCount, cfg.saltTarget, cfg.numGroups)
      else cfg.numGroups

    // ---- segments, one checkpoint per bucket group -------------------
    // explicit schema: an empty delta's partitioned write leaves only
    // _SUCCESS (no part files), which schema inference rejects — an
    // empty generation is valid, not an error
    lazy val stream: Dataset[StagedPosting] =
      if (stage)
        spark.read
          .schema(org.apache.spark.sql.Encoders.product[StagedPosting].schema)
          .parquet(s"$outDir/postings_staged").as[StagedPosting]
      else salt(postings, IndexPaths.terms(spark, outDir).toDF(), cfg.numBuckets)
    groupRanges(cfg.numBuckets, groups).foreach { case (g, lo, hi) =>
      if (!ckpt.isComplete("segments", g)) {
        val t0 = System.currentTimeMillis()
        // clean any partial output of a previous attempt of THIS group
        (lo until hi).foreach { b =>
          IndexPaths.delete(spark, s"$outDir/segments/bucket=$b")
        }
        val obsBlocks = new org.apache.spark.sql.Observation()
        writeSegments(encodeSegments(
            stream.filter($"bucket" >= lo && $"bucket" < hi), cfg),
          obsBlocks, SaveMode.Append, outDir)
        val bytes = (lo until hi).map(b =>
          IndexPaths.dirBytes(spark, s"$outDir/segments/bucket=$b")).sum
        ckpt.commit(Checkpoint(buildId, "segments", g, "COMPLETE",
          obsBlocks.get("n").asInstanceOf[Long], bytes, lineage, t0,
          System.currentTimeMillis()))
        if (cfg.failAfterGroup == g)
          throw new RuntimeException(s"injected failure after group $g")
      }
    }
    // every group is committed: the staged postings' only reader was a
    // resume of this loop
    if (stage && groups > 1) IndexPaths.delete(spark, s"$outDir/postings_staged")
    IndexPaths.readStats(spark, outDir)
  }

  /** Salt: a hot term's postings (saltCount > 1 in `dictionary`) are
    * scattered across sub-run keys `term#k`, k = xxhash64(docId) mod
    * saltCount ([[IndexBuilder.saltOf]]), so the merge shuffle sees
    * bounded runs; then the storage key's hash and its bucket — the ONE
    * bucket expression, so every writer lays buckets out alike. The
    * join broadcasts ONLY the salted subset (the stopword tail, bounded
    * at ANY corpus size); unsalted terms default to saltCount=1 through
    * the left join, so the full dictionary — unbroadcastable at 10^9
    * terms — never joins the posting stream. Everything is COLUMN
    * expressions (whole-stage codegen); a typed map here measured ~5x
    * slower on the 16M-posting path.
    */
  private def salt(postings: DataFrame, dictionary: DataFrame,
                   numBuckets: Int): Dataset[StagedPosting] = {
    val spark = postings.sparkSession
    import spark.implicits._
    postings
      .join(broadcast(dictionary.filter($"saltCount" > 1)
        .select($"term", $"saltCount")), Seq("term"), "left")
      .withColumn("skey",
        when($"saltCount".isNotNull && $"saltCount" > 1,
          concat($"term", lit("#"),
            pmod(xxhash64($"docId"), $"saltCount".cast("long"))))
          .otherwise($"term"))
      .withColumn("termHash", xxhash64($"skey"))
      .withColumn("bucket", rangePid(col("termHash"), numBuckets))
      .select($"bucket", $"termHash", $"skey",
        $"docId", $"tf", $"dl", $"posEnc")
      .as[StagedPosting]
  }

  /** Write encoded blocks under `segments/`, partitioned by bucket,
    * counting them into `obs` (the group checkpoint's row count). */
  private def writeSegments(blocks: Dataset[SegmentBlock],
                            obs: org.apache.spark.sql.Observation,
                            mode: SaveMode, outDir: String): Unit =
    blocks.observe(obs, count(lit(1)).as("n"))
      .write.mode(mode).partitionBy("bucket")
      .parquet(s"$outDir/segments")

  /** The merge-by-term: range shuffle on (termHash, skey, docId) with
    * in-partition sort, then a STREAMING per-partition block encoder —
    * constant memory per task regardless of run length, because salting
    * has already bounded each storage key's run.
    */
  private def encodeSegments(staged: Dataset[StagedPosting],
                             cfg: Config): Dataset[SegmentBlock] = {
    val spark = staged.sparkSession
    import spark.implicits._
    val shufP =
      if (cfg.shufflePartitions > 0) cfg.shufflePartitions
      else spark.sessionState.conf.numShufflePartitions
    val blockSize = cfg.blockSize
    val numBuckets = cfg.numBuckets
    // Partition on termHash ONLY — never docId: equal keys land in one
    // partition, so a storage key's whole run is encoded by one task
    // and block boundaries are a pure function of the run
    // (deterministic across runs/parallelism — ResumeSpec). Run length
    // per key is already bounded by salting. The partition id is an
    // ANALYTIC range split (top hash bits, 4× oversplit hashed onto
    // shufP tasks): termHash is uniform, so this replaces
    // repartitionByRange's sampling job — which re-reads the staged
    // input once per build — while each task still covers ~4
    // contiguous hash ranges, keeping the task→bucket-dir fan-out
    // bounded (the output-commit property a mod-hash layout broke).
    staged
      .repartition(shufP, rangePid($"termHash",
        Integer.highestOneBit(math.max(1, 4 * shufP))))
      .sortWithinPartitions("termHash", "skey", "docId")
      .mapPartitions { it =>
        new Iterator[SegmentBlock] {
          private var cur: StagedPosting = _
          private var curKey: (Long, String) = null
          private var blockId = 0
          private val dBuf = new Array[Long](blockSize)
          private val tBuf = new Array[Long](blockSize)
          private val pBufs = new Array[Array[Byte]](blockSize)
          private val pOut = new java.io.ByteArrayOutputStream()
          private val pEmpty = Codec.encodePositions(Array.empty[Int])
          private var pending: SegmentBlock = _

          private def fill(): Unit = {
            while (pending == null && (cur != null || it.hasNext)) {
              if (cur == null) cur = it.next()
              val key = (cur.termHash, cur.skey)
              if (curKey == null || key != curKey) { curKey = key; blockId = 0 }
              val head = cur
              var m = 0
              var maxTf = 0
              var minDl = Int.MaxValue
              var last = 0L
              var pAny = false
              while (m < blockSize && cur != null &&
                     cur.termHash == head.termHash && cur.skey == head.skey) {
                dBuf(m) = cur.docId
                tBuf(m) = cur.tf.toLong
                // buffer per posting: a block may MIX positional and
                // non-positional postings (e.g. compaction merging a
                // positional base with a positions-less delta) — a
                // block with any positions must carry one
                // count-prefixed entry PER posting or the decoder
                // misaligns; missing ones get a zero-count entry
                pBufs(m) =
                  if (cur.posEnc != null && cur.posEnc.length > 0) {
                    pAny = true; cur.posEnc
                  } else null
                if (cur.tf > maxTf) maxTf = cur.tf
                if (cur.dl < minDl) minDl = cur.dl
                last = cur.docId
                m += 1
                cur = if (it.hasNext) it.next() else null
              }
              val posBytes =
                if (!pAny) Array.emptyByteArray
                else {
                  pOut.reset()
                  var pj = 0
                  while (pj < m) {
                    val pe = if (pBufs(pj) == null) pEmpty else pBufs(pj)
                    pOut.write(pe, 0, pe.length)
                    pj += 1
                  }
                  pOut.toByteArray
                }
              val first = dBuf(0)
              pending = SegmentBlock(
                bucketOf(head.termHash, numBuckets), head.termHash,
                head.skey, blockId, m, first, last,
                maxTf, minDl,
                Codec.encodeDeltas(java.util.Arrays.copyOf(dBuf, m), first),
                Codec.encodeVarByte(java.util.Arrays.copyOf(tBuf, m)),
                posBytes)
              blockId += 1
            }
          }

          override def hasNext: Boolean = { fill(); pending != null }
          override def next(): SegmentBlock = {
            fill()
            val r = pending; pending = null; r
          }
        }
      }
  }
}
