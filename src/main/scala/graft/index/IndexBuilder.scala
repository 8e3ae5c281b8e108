package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Tokenize
import graft.query.BM25

/** Builds the inverted index: tokenize → tf → salt hot terms →
  * merge-by-term range shuffle → delta+varbyte posting blocks in
  * term-hash-range segment files, with per-group checkpoints.
  *
  * Shape of the job (mirrors the reference's harvest→normalize→index
  * loop, re-expressed as Spark stages — SURVEY.md §3.2):
  *   stage "stats":    docs scan → doc lengths, N, avgdl, per-term df
  *   stage "postings": tokenize+tf (map-side combine groupBy), salt,
  *                     bucket, write staged postings partitioned by
  *                     bucket (the scatter).
  *   stage "segments": per bucket-group: range-shuffle on
  *                     (termHash, docId) + sortWithinPartitions (the
  *                     merge-by-term), streaming block encode, write
  *                     segments partitioned by bucket. One checkpoint
  *                     per group → resume skips completed groups.
  *
  * Every shuffle is explicit and keyed: groupBy(docId, term) for tf,
  * repartitionByRange(termHash, docId) for the merge. Hot terms are
  * salted *before* the merge shuffle so no single task ever owns a
  * stopword's full posting list (ancestor: the reference's declared
  * spatial-grid chunk strategy for oversized layers,
  * /root/reference/packages/core/spheraform_core/models/job.py:141-145).
  */
object IndexBuilder {

  /** @param numBuckets   term-hash-range segment partitions at rest
    * @param blockSize    postings per compressed block
    * @param numGroups    checkpoint units for the segments stage
    * @param saltTarget   max postings per salted sub-run; terms with
    *                     df > saltTarget are split into
    *                     ceil(df/saltTarget) sub-runs
    */
  case class Config(numBuckets: Int = 32, blockSize: Int = 128,
                    numGroups: Int = 4, saltTarget: Long = 250000L,
                    shufflePartitions: Int = 0,
                    /** store token positions per posting (the
                      * positional tier phrase queries need; ~1-2
                      * bytes/token extra at rest) */
                    withPositions: Boolean = false,
                    /** test-only: throw after committing this group,
                      * simulating a mid-build crash (FIXTURES.md §6) */
                    failAfterGroup: Int = -1)

  /** xxhash64 with Spark's default seed (42) — the same XXH64 the
    * `xxhash64` column function uses, called directly (building a
    * Literal+Expression per call costs an allocation storm on hot
    * paths).
    */
  def xxhash(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  def saltKey(term: String, salt: Int): String = term + "#" + salt

  /** Salt assignment = xxhash64 of the docId (as a long), mod
    * saltCount — expressible identically as a Column (codegen'd build
    * path) and in Scala (tests, compaction).
    */
  def saltOf(docId: Long, saltCount: Int): Int =
    Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(docId, 42L),
      saltCount.toLong).toInt

  /** Bucket = the top log2(numBuckets) bits of termHash in SIGNED
    * order (sign-bit flip makes unsigned shift monotone in signed
    * comparisons). Monotone-in-termHash matters: the merge shuffle is
    * a range partition on termHash, so each encoder task covers a
    * contiguous hash range = 1-2 bucket dirs — with a mod bucket every
    * task would write files into ALL numBuckets dirs and output-commit
    * cost would scale with cores × buckets (measured anti-scaling).
    * numBuckets must be a power of two.
    */
  def bucketOf(termHash: Long, numBuckets: Int): Int = {
    require((numBuckets & (numBuckets - 1)) == 0 && numBuckets > 0,
      s"numBuckets must be a power of 2, got $numBuckets")
    val shift = 64 - java.lang.Integer.numberOfTrailingZeros(numBuckets)
    if (shift == 64) 0
    else ((termHash ^ Long.MinValue) >>> shift).toInt
  }

  /** Column form of [[bucketOf]]: analytic range-partition id from the
    * top log2(parts) bits of a uniform 64-bit hash. Used in place of
    * `repartitionByRange`, whose range sampling costs one extra Spark
    * job per use — splits of a uniform hash need no sampling.
    */
  def rangePid(hashCol: org.apache.spark.sql.Column, parts: Int)
      : org.apache.spark.sql.Column = {
    require((parts & (parts - 1)) == 0 && parts > 0,
      s"parts must be a power of 2, got $parts")
    val shift = 64 - java.lang.Integer.numberOfTrailingZeros(parts)
    if (shift == 64) lit(0)
    else shiftrightunsigned(hashCol.bitwiseXOR(lit(Long.MinValue)), shift)
      .cast("int")
  }

  // ---------------------------------------------------------------- build

  /** Full build. Returns global stats. Resumable: completed stages /
    * groups (per `_checkpoints`) are skipped when `resume = true`.
    */
  def build(docs: Dataset[Doc], outDir: String, cfg: Config = Config(),
            buildId: String = "build1", resume: Boolean = false,
            lineage: String = ""): IndexStats = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ckpt = new CheckpointStore(spark, outDir)
    // bake the layout config into the committed lineage so a resume
    // into a reused outDir never trusts checkpoints from a run over a
    // different source or bucket/group layout (group checkpoints would
    // gate the wrong bucket ranges, staged postings the wrong salt)
    val lineageEff = lineage +
      s";b=${cfg.numBuckets};g=${cfg.numGroups};bs=${cfg.blockSize}" +
      s";st=${cfg.saltTarget};pos=${cfg.withPositions}"
    if (!resume) {
      // a non-resume build into a reused dir must not leave artifacts
      // of the previous layout behind: a shrunk numBuckets would
      // rewrite only the new bucket range, and whole-dir readers
      // (compaction's segments scan) would merge the stale buckets in
      IndexPaths.delete(spark, s"$outDir/_checkpoints")
      IndexPaths.delete(spark, s"$outDir/segments")
      IndexPaths.delete(spark, s"$outDir/postings_staged")
    } else if (ckpt.invalidateUnlessLineage(lineageEff)) {
      IndexPaths.delete(spark, s"$outDir/segments")
      IndexPaths.delete(spark, s"$outDir/postings_staged")
    }
    val shufP =
      if (cfg.shufflePartitions > 0) cfg.shufflePartitions
      else spark.sessionState.conf.numShufflePartitions

    // ---- stage: postings + terms + docs meta + stats ---------------
    // ONE tokenize pass over the corpus: tf carries dl through the
    // groupBy keys; the term dictionary, doc metadata, and global
    // stats all derive from the persisted tf — at 100 TB, re-reading
    // (and re-splitting) the raw text is the single most expensive
    // thing a build can do twice.
    var fusedWroteSegments = false
    if (!(resume && ckpt.isComplete("postings", 0))) {
      val t0 = System.currentTimeMillis()
      // tf is a PER-DOCUMENT aggregation and documents are rows — so
      // count within the task (one small hash map per doc) and never
      // shuffle the exploded token stream: an explode→groupBy(docId,
      // term) formulation shuffles+hash-aggregates |tokens| rows
      // (~10^14 at the 10^12-doc scale) for something each task can do
      // locally.
      val withPos = cfg.withPositions
      val tf = docs
        .mapPartitions { it =>
          val empty = Array.emptyByteArray
          it.flatMap { d =>
            val toks = Tokenize.tokens(d.text)
            val dl = toks.length
            if (withPos) {
              // positions per term, encoded in-task: the shuffle
              // carries compressed bytes, never int arrays
              val m = new java.util.HashMap[String,
                scala.collection.mutable.ArrayBuilder.ofInt](
                math.max(16, dl * 2))
              var i = 0
              while (i < toks.length) {
                var bld = m.get(toks(i))
                if (bld == null) {
                  bld = new scala.collection.mutable.ArrayBuilder.ofInt
                  m.put(toks(i), bld)
                }
                bld += i
                i += 1
              }
              val out = new Array[(Long, Int, String, Int, Array[Byte])](
                m.size)
              val eit = m.entrySet().iterator()
              var j = 0
              while (eit.hasNext) {
                val e = eit.next()
                val ps = e.getValue.result()
                out(j) = (d.docId, dl, e.getKey, ps.length,
                  Codec.encodePositions(ps))
                j += 1
              }
              out.iterator
            } else {
              val m = new java.util.HashMap[String, Int](
                math.max(16, dl * 2))
              var i = 0
              while (i < toks.length) {
                m.merge(toks(i), 1, (a, b) => a + b)
                i += 1
              }
              val out = new Array[(Long, Int, String, Int, Array[Byte])](
                m.size)
              val eit = m.entrySet().iterator()
              var j = 0
              while (eit.hasNext) {
                val e = eit.next()
                out(j) = (d.docId, dl, e.getKey, e.getValue, empty)
                j += 1
              }
              out.iterator
            }
          }
        }
        .toDF("docId", "dl", "term", "tf", "posEnc")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

      // docs meta: dl from tf (zero-token docs kept via left join —
      // they count toward N and avgdl), url from a tokenize-free,
      // column-pruned scan of the input. Stats ride along as an
      // OBSERVATION on the write — no extra scan job (the serial
      // driver-side jobs between stages were a measured scaling tax).
      val dls = tf.groupBy($"docId").agg(first($"dl").as("dl"))
      val docMeta = docs.select($"docId", $"url")
        .join(dls, Seq("docId"), "left")
        .select($"docId", $"url",
          coalesce($"dl", lit(0)).cast("int").as("dl"))
        .as[DocMeta]
      // Fill the tf cache first (the docs-meta, norms, terms and
      // postings jobs below run CONCURRENTLY from driver threads and
      // must not race to compute it).
      tf.count()
      val obsDocs = new org.apache.spark.sql.Observation()
      val docsJob = () => {
        docMeta.repartitionByRange(math.max(1, shufP / 2), $"docId")
          .sortWithinPartitions("docId")
          // avgdl from an INTEGER token-count sum — exact and
          // independent of partition/summation order, unlike avg()
          // over doubles (the rank-identity contract shares it with
          // the scalar oracle).
          .observe(obsDocs, count(lit(1)).as("n"),
            sum($"dl".cast("long")).as("toks"), max($"docId").as("maxId"),
            max($"dl".cast("long")).as("maxDl"),
            min($"docId").as("minId"))
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/docs")
      }

      // Norms sidecar: (docId, dl) from the cached tf — runs
      // concurrently like the docs/terms jobs. Zero-token docs never
      // enter postings, so their zero slots are never read.
      val normsJob = () =>
        Norms.write(dls.select($"docId", $"dl".cast("int"))
          .as[(Long, Int)], outDir)

      // Per-term df; hot terms (df > saltTarget) get saltCount > 1;
      // (maxTf, minDl) = the term's best-contribution bound ingredients
      // for driver-side MaxScore pruning.
      val termDf = tf.groupBy($"term")
        .agg(count(lit(1)).as("df"), sum($"tf").cast("long").as("cf"),
          max($"tf").cast("int").as("maxTf"),
          min($"dl").cast("int").as("minDl"))
        .withColumn("saltCount",
          when($"df" > cfg.saltTarget,
            ceil($"df".cast("double") / cfg.saltTarget).cast("int"))
            .otherwise(lit(1)))
      val terms = termDf
        .withColumn("termHash", xxhash64($"term"))
        .select($"term", $"termHash", $"df", $"cf", $"saltCount",
          $"maxTf", $"minDl")
        .as[TermMeta]
      // Analytic range partition on termHash (top bits): termHash is
      // uniform, so explicit splits replace repartitionByRange's
      // sampling JOB — one fewer job per build, and each task still
      // owns 1-2 contiguous hash ranges (sorted files → row-group
      // pruning for dictionary lookups). The write runs CONCURRENTLY
      // with the staged-postings job below (both read the cached tf);
      // its serial tail was a measured N→4N scaling tax.
      val termsParts = math.max(1,
        Integer.highestOneBit(math.max(1, shufP / 4)))
      val obsTerms = new org.apache.spark.sql.Observation()
      val termsJob = () =>
        terms.repartition(termsParts,
            rangePid(col("termHash"), termsParts))
          .sortWithinPartitions("termHash")
          .observe(obsTerms, count(lit(1)).as("n"))
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/terms")

      // Salt: hot-term postings are scattered across sub-run keys by a
      // hash of docId, so the merge shuffle sees bounded runs. The join
      // broadcasts ONLY the salted subset (df > saltTarget — the
      // stopword tail, bounded at ANY corpus size); unsalted terms
      // default to saltCount=1 through the left join, so the full
      // dictionary — unbroadcastable at 10^9 terms — never joins the
      // posting stream at all. Everything below is COLUMN expressions
      // (whole-stage codegen); a typed map here measured ~5x slower on
      // the 16M-posting path.
      val salted = termDf.filter($"saltCount" > 1)
        .select($"term", $"saltCount")
      // the ONE bucket expression — compaction uses the same call, so
      // the layouts can never drift
      val bucketCol = rangePid(col("termHash"), cfg.numBuckets)
      val staged = tf
        .join(broadcast(salted), Seq("term"), "left")
        .withColumn("skey",
          when($"saltCount".isNotNull && $"saltCount" > 1,
            concat($"term", lit("#"),
              pmod(xxhash64($"docId"), $"saltCount".cast("long"))))
            .otherwise($"term"))
        .withColumn("termHash", xxhash64($"skey"))
        .withColumn("bucket", bucketCol)
        .select($"bucket", $"termHash", $"skey",
          $"docId", $"tf", $"dl", $"posEnc")
        .as[StagedPosting]
      val obsStaged = new org.apache.spark.sql.Observation()
      val postingsJob = () => if (cfg.numGroups == 1) {
        // FUSED single-group path: the salted posting stream feeds the
        // encode shuffle directly — tokenized tf (cached) → salt join →
        // range shuffle → sort → block encode → segments, one
        // continuous plan. The staged parquet exists to let multi-group
        // builds re-read one bucket range per group; with one group it
        // is a full materialization round-trip (write + re-read of the
        // entire posting stream) bought for nothing but a mid-build
        // resume point that the single group cannot exploit anyway
        // (measured: staged-write ≈ 40% of the 8-core build).
        // Trade-off: a crash mid-encode resumes from tokenize, not
        // from staged postings — for one group that re-runs the same
        // stage either way.
        val encodeStats = IndexStats(buildId, 0, 0.0, 0, cfg.numBuckets,
          cfg.blockSize, 0, 0, 0, 0)
        encodeSegments(staged.observe(obsStaged, count(lit(1)).as("n")),
            encodeStats, cfg)
          .write.mode(SaveMode.Overwrite).partitionBy("bucket")
          .parquet(s"$outDir/segments")
        fusedWroteSegments = true
      } else {
        // Hash-partition the staging write ON BUCKET: each bucket lands
        // wholly in one task (1-2 dirs per task, bounded files) with NO
        // range-sampling pass — the encode stage re-sorts anyway, so a
        // global order here would be wasted work.
        staged
          .repartition(math.min(shufP, cfg.numBuckets), $"bucket")
          .observe(obsStaged, count(lit(1)).as("n"))
          .write.mode(SaveMode.Overwrite).partitionBy("bucket")
          .parquet(s"$outDir/postings_staged")
      }

      // The four writes stand or fall together: a failed one cancels
      // the others, and none still writes into outDir once the build
      // rethrows. Then derive global stats.
      graft.Jobs.all(spark)(Seq(docsJob, normsJob, termsJob, postingsJob))
      tf.unpersist()
      val numTerms = obsTerms.get("n").asInstanceOf[Long]
      val n = obsDocs.get("n").asInstanceOf[Long]
      val totalToks =
        if (n == 0) 0L else obsDocs.get("toks").asInstanceOf[Long]
      val avgdl = if (n == 0) 0.0 else totalToks.toDouble / n
      val maxDocId =
        if (n == 0) -1L else obsDocs.get("maxId").asInstanceOf[Long]
      val maxDl =
        if (n == 0) 0L else obsDocs.get("maxDl").asInstanceOf[Long]
      val minDocId =
        if (n == 0) 0L else obsDocs.get("minId").asInstanceOf[Long]
      IndexPaths.writeStats(spark, outDir,
        IndexStats(buildId, n, avgdl, numTerms, cfg.numBuckets,
          cfg.blockSize, maxDocId, totalToks, maxDl, minDocId,
          positions = Some(cfg.withPositions)))
      ckpt.commit(Checkpoint(buildId, "stats", 0, "COMPLETE", n,
        IndexPaths.dirBytes(spark, s"$outDir/docs"), lineageEff, t0,
        System.currentTimeMillis()))
      if (cfg.numGroups == 1) {
        // fused path: postings and the single segments group are one
        // durable unit — both commit here, the group loop below skips.
        // ORDER MATTERS: segments first. A crash between the two
        // commits then leaves postings incomplete → resume re-runs the
        // whole front half (overwriting segments and recommitting
        // both). The reverse order wedged permanently: postings
        // complete skipped the front half, the group loop saw segments
        // missing, deleted the good fused output, and crashed reading
        // the postings_staged the fused path never writes.
        ckpt.commit(Checkpoint(buildId, "segments", 0, "COMPLETE",
          obsStaged.get("n").asInstanceOf[Long],
          IndexPaths.dirBytes(spark, s"$outDir/segments"), lineageEff,
          t0, System.currentTimeMillis()))
        ckpt.commit(Checkpoint(buildId, "postings", 0, "COMPLETE",
          obsStaged.get("n").asInstanceOf[Long],
          IndexPaths.dirBytes(spark, s"$outDir/segments"), lineageEff,
          t0, System.currentTimeMillis()))
      } else
        ckpt.commit(Checkpoint(buildId, "postings", 0, "COMPLETE",
          obsStaged.get("n").asInstanceOf[Long],
          IndexPaths.dirBytes(spark, s"$outDir/postings_staged"), lineageEff,
          t0, System.currentTimeMillis()))
    }

    // ---- stage: segments, one checkpoint per bucket group ---------
    val statsNow = IndexPaths.readStats(spark, outDir)
    val bucketsPerGroup =
      math.max(1, math.ceil(cfg.numBuckets.toDouble / cfg.numGroups).toInt)
    for (g <- 0 until cfg.numGroups) {
      val lo = g * bucketsPerGroup
      val hi = math.min(cfg.numBuckets, lo + bucketsPerGroup)
      if (lo < hi && !fusedWroteSegments &&
          !(resume && ckpt.isComplete("segments", g))) {
        val t0 = System.currentTimeMillis()
        // Clean any partial output of a previous attempt of THIS group.
        (lo until hi).foreach { b =>
          IndexPaths.delete(spark, s"$outDir/segments/bucket=$b")
        }
        // explicit schema: an empty delta's partitioned write leaves
        // only _SUCCESS (no part files), which schema inference
        // rejects — an empty generation is valid, not an error
        val staged = spark.read
          .schema(org.apache.spark.sql.Encoders.product[StagedPosting].schema)
          .parquet(s"$outDir/postings_staged")
          .filter($"bucket" >= lo && $"bucket" < hi)
          .as[StagedPosting]
        val blocks = encodeSegments(staged, statsNow, cfg)
        val obsBlocks = new org.apache.spark.sql.Observation()
        blocks.observe(obsBlocks, count(lit(1)).as("n"))
          .write.mode(SaveMode.Append).partitionBy("bucket")
          .parquet(s"$outDir/segments")
        val nBlocks = obsBlocks.get("n").asInstanceOf[Long]
        val bytes = (lo until hi).map(b =>
          IndexPaths.dirBytes(spark, s"$outDir/segments/bucket=$b")).sum
        ckpt.commit(Checkpoint(buildId, "segments", g, "COMPLETE",
          nBlocks, bytes, lineageEff, t0, System.currentTimeMillis()))
        if (cfg.failAfterGroup == g)
          throw new RuntimeException(s"injected failure after group $g")
      }
    }
    IndexPaths.readStats(spark, outDir)
  }

  /** The merge-by-term: range shuffle on (termHash, skey, docId) with
    * in-partition sort, then a STREAMING per-partition block encoder —
    * constant memory per task regardless of run length, because salting
    * has already bounded each storage key's run.
    */
  def encodeSegments(staged: Dataset[StagedPosting], stats: IndexStats,
                     cfg: Config): Dataset[SegmentBlock] = {
    val spark = staged.sparkSession
    import spark.implicits._
    val shufP =
      if (cfg.shufflePartitions > 0) cfg.shufflePartitions
      else spark.sessionState.conf.numShufflePartitions
    val blockSize = cfg.blockSize
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
                bucketOf(head.termHash, stats.numBuckets), head.termHash,
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
