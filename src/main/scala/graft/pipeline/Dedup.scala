package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.IndexBuilder

/** Deduplication operators over a (doc_id, text) corpus — exact,
  * MinHash+LSH, n-gram Jaccard, SimHash, embedding-cosine. All
  * shuffles are keyed groupBy/joins on content hashes; quadratic
  * work, where semantics force it, is decomposed into bounded
  * independent cells (triangular block join) so no single task and no
  * nested-loop join ever owns the full pair space.
  */
object Dedup {

  /** Exact dedup groups: fingerprint → group size + keeper (min id). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), TextOps.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keeper"))
      .orderBy("fp")

  /** All-pairs n-gram Jaccard ≥ threshold via an explode + self-join
    * on shingles (exact baseline; use LSH below when the corpus is
    * large). `maxShingleDf` guards the hot-shingle blowup: a shingle
    * appearing in m docs contributes m² rows to the intersection
    * count, so boilerplate shingles (df above the cap) are excluded
    * from CANDIDATE generation — the Jaccard itself is still computed
    * over the full shingle sets, so only pairs whose every common
    * shingle is boilerplate can be lost (and those are the pairs a
    * near-dup pass wants to ignore).
    */
  /** (doc_id, shs) with typed shingling. Not persisted: its single
    * consumer ([[minhashLsh]]) derives and persists `hashed` from it
    * in one pass — a persist here would only add a materialization.
    */
  private def shingled(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .map { case (id, tx) => (id, TextOps.shinglesScala(tx)) }
      .toDF("doc_id", "shs")
      .filter(size(col("shs")) > 0)
  }

  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double,
                   maxShingleDf: Long = 100L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the whole pipeline materializes inside (materializeAndFree), so
    // every shuffle plans under an input-sized width instead of the
    // cluster-scale session constant (guide §2: derive partitioning
    // from input size; clamped at the session setting at real scale).
    // A work-aware denser width (bytesPerPartition ÷ maxShingleDf, to
    // spread the pair stage's m²-per-shingle aggregation) was measured
    // this round and REJECTED: at sf0.1 it spread the ~2.3 s heavy
    // stage but flooded the other 15 stages with task floors (40 → 240
    // tasks, steady wall 2.79 → 3.11 s) — the pipeline is job-chain-
    // bound, not stage-bound, at clamped sizes.
    graft.Adaptive.withWidth(spark,
      graft.Adaptive.widthFor(docs), aqeOff = true) { scope =>
    // (doc_id, shingle-hash) rows straight from the tokenizer — no
    // shingle ARRAY is ever materialized, and every downstream
    // shuffle/sort/agg keys on a long, not a ~25-char string (the
    // round-2 string-keyed plan paid Seq[String] encoders + string
    // sorts; this is the single biggest cost cut).
    val ex = scope(docs).select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, tx) =>
        TextOps.shingleHashes64Scala(tx).iterator.map(h => (id, h))
      }
      .toDF("doc_id", "shh")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // (unpersisted below once the small result set materializes —
    // cached dedup intermediates otherwise accumulate across the many
    // queries a Verify/Bench session runs)
    // df per shingle; ONE join tags every exploded row hot/cool
    val dfs = ex.groupBy(col("shh")).agg(count(lit(1)).as("sdf"))
    val withDf = ex.join(dfs, "shh")
    // Shingles are a per-doc SET ([[TextOps.shingleHashes64Scala]]
    // dedupes), so groupBy(pair).count() over the cool self-join IS
    // the exact shared-cool-shingle count — no distinct pass, no
    // re-joining full shingle arrays for an array_intersect (the
    // round-2 plan paid both and regressed 4.3×). Each cool shingle
    // contributes ≤ maxShingleDf² join rows, so the guard bounds the
    // pair space.
    // No persist for `cool`: both self-join sides are the identical
    // subtree, so ReuseExchange computes the shuffle once anyway — a
    // persist here would only add a materialization pass.
    val cool = withDf.filter(col("sdf") <= maxShingleDf)
      .select(col("shh"), col("doc_id"))
    val coolInter = cool.as("a")
      .join(cool.as("b"),
        col("a.shh") === col("b.shh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("cool_inter"))
    // Full-set Jaccard still counts shared HOT shingles: per-doc hot
    // sets are tiny (boilerplate only — distinct shingles with
    // df > cap), so intersecting just those small arrays per candidate
    // pair is cheap, and cool_inter + hot_inter equals the exact
    // full-set intersection.
    val hotPerDoc = withDf.filter(col("sdf") > maxShingleDf)
      .groupBy(col("doc_id")).agg(collect_set(col("shh")).as("hotshs"))
    // per-doc set size = row count in ex (shingles are distinct per doc)
    val szs = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    coolInter
      .join(szs.select(col("doc_id").as("doc_a"), col("sz").as("sza")),
        "doc_a")
      .join(szs.select(col("doc_id").as("doc_b"), col("sz").as("szb")),
        "doc_b")
      .join(hotPerDoc.select(col("doc_id").as("doc_a"),
        col("hotshs").as("ha")), Seq("doc_a"), "left")
      .join(hotPerDoc.select(col("doc_id").as("doc_b"),
        col("hotshs").as("hb")), Seq("doc_b"), "left")
      .withColumn("hot_inter",
        when(col("ha").isNull || col("hb").isNull, lit(0L))
          .otherwise(size(array_intersect(col("ha"), col("hb")))
            .cast("long")))
      .withColumn("inter", col("cool_inter") + col("hot_inter"))
      .withColumn("jac",
        col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jac_r"))
      .orderBy("doc_a", "doc_b")
      .transform(materializeAndFree(ex))
    }
  }

  /** Materialize the (small — thresholded pairs) result while the
    * heavy cached intermediate is hot, then free the intermediate: a
    * lazily returned plan would pin it in executor storage for the
    * whole session. The result itself stays cached; it is orders of
    * magnitude smaller than the exploded/hashed inputs.
    */
  private def materializeAndFree(intermediates: DataFrame*)(
      out: DataFrame): DataFrame = {
    val cached = out.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.count()
    intermediates.foreach(_.unpersist(false))
    cached
  }

  /** The shared salted-triangular-cell candidate generator behind
    * [[minhashLsh]] and [[simhashPairs]]: input rows are
    * ((cellHash, ci, cj), docId) where cellHash identifies the bucket
    * (band value / signature chunk — pre-hashed to 64 bits so both
    * operators share one key shape; a 64-bit collision, ~2⁻⁶⁴ per
    * bucket pair, could merge unrelated buckets and add a candidate
    * the exact verify then scores on its own merits — a
    * PROBABILISTIC, not absolute, equivalence to joining on the raw
    * bucket value) and (ci, cj), ci ≤ cj, is the triangular salt
    * cell. A doc in
    * salt group g fans out to cells (g, t≥g) and (t<g, g), so a hot
    * bucket of m docs yields its m²/2 pairs across S(S+1)/2 tasks
    * instead of one. Output: order-normalized distinct (doc_a, doc_b).
    */
  private def saltedCellPairs(
      cells: org.apache.spark.sql.Dataset[((Long, Int, Int), Long)],
      saltCells: Int): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val s = saltCells
    cells.groupByKey(_._1).flatMapGroups { (key, it) =>
      val (_, ci, cj) = key
      val a = scala.collection.mutable.ArrayBuffer.empty[Long]
      val b = scala.collection.mutable.ArrayBuffer.empty[Long]
      it.foreach { case (_, id) =>
        if (IndexBuilder.saltOf(id, s) == ci) a += id else b += id
      }
      if (ci == cj)
        for {
          i <- a.indices.iterator; j <- Iterator.range(i + 1, a.length)
        } yield
          if (a(i) < a(j)) (a(i), a(j)) else (a(j), a(i))
      else
        for { x <- a.iterator; y <- b.iterator }
          yield if (x < y) (x, y) else (y, x)
    }.toDF("doc_a", "doc_b").distinct()
  }

  /** FNV-1a 64 over a cell payload string — the shared cell key. */
  private def cellHash(payload: String): Long = graft.Det.fnv1a(payload)

  /** MinHash + LSH near-dup pairs. Signature slot j = min over
    * shingles of the shingle's md5 hex digest ROTATED by 2j chars —
    * ONE digest per shingle plus cheap string rotations (a
    * one-permutation-style family over a single base hash), instead of
    * numHashes full digests per shingle; reproducible in DuckDB SQL.
    * Docs sharing any band of `rows` consecutive slots become
    * candidates; candidates are verified by exact Jaccard over the
    * md5-hashed shingle sets (never re-joining raw shingle arrays).
    *
    * Hot-band skew: a band value shared by m docs implies m²/2
    * candidate pairs; pair generation runs in salted triangular cells
    * (S(S+1)/2 cells per band value, each holding two of the S
    * docId-hash salt groups), so a hot band's pairs are produced by
    * many tasks instead of one — same output, bounded task size.
    */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 numHashes: Int, bands: Int, threshold: Double,
                 saltCells: Int = 3): DataFrame = {
    require(numHashes >= 1 && numHashes <= 16,
      s"rotation family supports 1..16 hashes (32 hex chars / 2), got $numHashes")
    // bands must tile the signature exactly: bands=0 divides by zero,
    // bands > numHashes makes every band value the empty string (an
    // all-pairs candidate blowup), and a non-divisor silently ignores
    // trailing slots the caller paid for
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands must divide numHashes (got bands=$bands, numHashes=$numHashes)")
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = numHashes / bands
    // input-sized width, result materialized inside (see ngramJaccard)
    graft.Adaptive.withWidth(spark,
      graft.Adaptive.widthFor(docs), aqeOff = true) { scope =>
    val sh = shingled(scope(docs), idCol, textCol)
    val hashed = sh.as[(Long, Seq[String])].mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hexC = "0123456789abcdef".toCharArray
      it.map { case (id, shs) =>
        val hs = shs.map { s =>
          md.reset()
          val dg = md.digest(s.getBytes("UTF-8"))
          // hex via lookup chars — the per-byte format-string path
          // allocated a formatter per byte (4M calls at sf0.1)
          val cs = new Array[Char](32)
          var i = 0
          while (i < 16) {
            cs(2 * i) = hexC((dg(i) >> 4) & 0xf)
            cs(2 * i + 1) = hexC(dg(i) & 0xf)
            i += 1
          }
          new String(cs)
        }
        (id, hs)
      }
    }.toDF("doc_id", "hs")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nH = numHashes
    val sig = hashed.as[(Long, Seq[String])].map { case (id, hs) =>
      // slot j = min over digests ROTATED by 2j chars. Comparing
      // rotations lexicographically never needs the rotated string
      // materialized: compare char-by-char through the rotation
      // mapping (identical order to list_min over actual rotations —
      // the DuckDB mirror builds them for real).
      def rotLt(a: String, b: String, cut: Int): Boolean = {
        var i = 0
        while (i < 32) {
          val ai = a.charAt((i + cut) & 31)
          val bi = b.charAt((i + cut) & 31)
          if (ai != bi) return ai < bi
          i += 1
        }
        false
      }
      val mh = new Array[String](nH)
      var j = 0
      while (j < nH) {
        val cut = 2 * j
        var best: String = null
        hs.foreach { h =>
          if (best == null || rotLt(h, best, cut)) best = h
        }
        // materialize only the winning rotation
        mh(j) = best.substring(cut) + best.substring(0, cut)
        j += 1
      }
      (id, scala.collection.immutable.ArraySeq.unsafeWrapArray(mh): Seq[String])
    }.toDF("doc_id", "mh")
    val banded = sig.select(col("doc_id"), explode(
      array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          concat_ws(",", (0 until rows).map(r =>
            element_at(col("mh"), b * rows + r + 1)): _*).as("bval"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bval"))
    // salted triangular cells → candidate pairs (order-normalized)
    val s = math.max(1, saltCells)
    val cand = saltedCellPairs(
      banded.as[(Long, Int, String)].flatMap { case (id, band, bval) =>
        val h = cellHash(s"$band|$bval")
        val g = IndexBuilder.saltOf(id, s)
        Iterator.range(g, s).map(t => ((h, g, t), id)) ++
          Iterator.range(0, g).map(t => ((h, t, g), id))
      }, s)
    // verify candidates: exact Jaccard over hashed shingle sets
    val out = cand
      .join(hashed.select(col("doc_id").as("doc_a"), col("hs").as("ha")),
        "doc_a")
      .join(hashed.select(col("doc_id").as("doc_b"), col("hs").as("hb")),
        "doc_b")
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("ha")) + size(col("hb")) - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jac_r"))
      .orderBy("doc_a", "doc_b")
    materializeAndFree(hashed)(out)
    }
  }

  /** SimHash per doc (64-bit, hex) — near-dup docs have small hamming
    * distance; downstream bucketing joins on bit-chunks. The sorted
    * public form; [[simhashPairs]] consumes the UNSORTED signatures
    * (its candidate shuffle would destroy a corpus-wide sort anyway).
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashSigs(docs, idCol, textCol).orderBy("doc_id")

  private def simhashSigs(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text")).as[(Long, String)]
      .map { case (id, text) =>
        val h = TextOps.simhash64(
          graft.functions.Tokenize.tokens(text).toSeq)
        (id, f"$h%016x")
      }
      .toDF("doc_id", "simhash")
  }

  /** SimHash near-dup PAIRS: the hamming-bucket consumer of
    * [[simhash]]. The 64-bit signature splits into 4 chunks of 16
    * bits; by pigeonhole, a pair within hamming distance ≤ 3 agrees
    * exactly on at least one chunk, so candidates come from an
    * equality join on (chunk index, chunk value) — never an all-pairs
    * scan — and are then verified by exact XOR-popcount hamming.
    * A hot chunk value (boilerplate-dominated docs) implies m²/2
    * candidate pairs from one join key; pair generation therefore
    * runs in the same salted triangular cells as [[minhashLsh]], so
    * no single task owns a hot bucket's pair space.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, saltCells: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4 chunks of 16 bits guarantee recall only for hamming <= 3, got $maxHamming")
    val spark = docs.sparkSession
    import spark.implicits._
    // input-sized width, result materialized inside (see ngramJaccard)
    graft.Adaptive.withWidth(spark,
      graft.Adaptive.widthFor(docs), aqeOff = true) { scope =>
    val sig = simhashSigs(scope(docs), idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val s = math.max(1, saltCells)
    val cand = saltedCellPairs(
      sig.as[(Long, String)].flatMap { case (id, hx) =>
        val g = IndexBuilder.saltOf(id, s)
        (0 until 4).iterator.flatMap { c =>
          val h = cellHash(s"$c|${hx.substring(4 * c, 4 * c + 4)}")
          Iterator.range(g, s).map(t => ((h, g, t), id)) ++
            Iterator.range(0, g).map(t => ((h, t, g), id))
        }
      }, s)
    cand
      .join(sig.toDF("doc_a", "ha"), "doc_a")
      .join(sig.toDF("doc_b", "hb"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("ha"), col("hb"))
      .as[(Long, Long, String, String)]
      .map { case (a, b, ha, hb) =>
        (a, b, java.lang.Long.bitCount(
          java.lang.Long.parseUnsignedLong(ha, 16) ^
            java.lang.Long.parseUnsignedLong(hb, 16)).toLong)
      }.toDF("doc_a", "doc_b", "hamm")
      .filter(col("hamm") <= maxHamming)
      .orderBy("doc_a", "doc_b")
      .transform(materializeAndFree(sig))
    }
  }

  /** Connected components over a near-dup PAIR graph — the step that
    * turns pairwise similarity output ([[minhashLsh]], [[simhashPairs]],
    * [[ngramJaccard]]) into dedup decisions: every doc gets the id of
    * its component's minimum member as `cluster_id`. The reference
    * resolves entity identity during its crawl upsert
    * (/root/reference/packages/core/spheraform_core/tasks/crawl.py:190-254);
    * a corpus-scale near-dup pass needs the same resolution over an
    * arbitrary pair graph.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — each
    * round is a groupBy-min plus a shuffle join keyed on node id, so
    * no task ever holds a whole component, and convergence takes
    * O(log²) rounds on any graph (near-dup graphs, mostly tiny
    * star-ish clusters, converge in 2-3). Termination is detected by
    * an order-insensitive edge-set signature (count + hash fold), and
    * each round's edge set is checkpointed so the loop never
    * re-executes prior rounds.
    *
    * Output: (doc_id, cluster_id) for every node that appears in
    * `pairs`, cluster_id = min doc_id of the component. Docs absent
    * from the pair graph are implicit singletons (callers treat
    * missing as cluster_id = doc_id — [[dedupCorpus]] does).
    */
  /** Edge-count switch point between the driver union-find fast path
    * and the distributed large-star/small-star loop (override per
    * session with `graft.cc.driverThreshold`; tests use 0 to force the
    * loop on small data). Size-adaptive strategy selection is the
    * reference's own pattern
    * (/root/reference/packages/core/spheraform_core/services/download.py:38-79),
    * and this is the [[graft.index.Tombstones.broadcastThreshold]]
    * shape: below the bound, the coordinator IS a machine — 10^6
    * edges union-find in milliseconds, where the distributed loop
    * pays a multi-stage scheduling floor per round. A thresholded
    * near-dup graph is usually orders of magnitude smaller than its
    * corpus (255 edges from 5 000 sf0.1 docs), so the common case is
    * the fast path; an adversarial/boilerplate-heavy corpus whose
    * pair graph exceeds the bound takes the loop, which no driver
    * could hold.
    */
  val DefaultCcDriverThreshold = 1000000L

  private def ccDriverThreshold(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("graft.cc.driverThreshold")
      .map(_.toLong).getOrElse(DefaultCcDriverThreshold)

  /** @param checkpointDir when set, each CC round truncates lineage
    *        with a RELIABLE checkpoint into this directory instead of
    *        a localCheckpoint — the cluster deployment mode: an
    *        executor loss mid-loop recovers from durable storage and
    *        restarts the round, not the whole job. Local runs (and the
    *        contract queries) keep the default localCheckpoint — same
    *        convergence, no durable-write tax per round.
    */
  def clusters(pairs: DataFrame, aCol: String, bCol: String,
               maxIter: Int = 30,
               checkpointDir: Option[String] = None): DataFrame =
    // graph-sized width for the PRE-loop jobs too (edge distinct,
    // signature, fast-path collects); the loop narrows further to the
    // edge count. Both exits materialize (fast path collects; the
    // loop's labeling checkpoints eagerly).
    graft.Adaptive.withWidth(pairs.sparkSession,
      graft.Adaptive.widthFor(pairs), aqeOff = true) { scope =>
    val spark = scope.session
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def ckpt(df: DataFrame, eager: Boolean): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager)
      else df.localCheckpoint(eager)
    def signature(e: DataFrame): (Long, Long) = {
      // xor-fold of row hashes: order-insensitive over the DISTINCT
      // edge set and immune to ANSI long-sum overflow
      val r = e.agg(count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("h"))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    // large-star: each node u points every LARGER neighbor at the
    // minimum of its neighborhood (incl. u) — long chains collapse
    // toward the minimum in log rounds
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    // small-star: each node links its SMALLER neighbors (and itself)
    // to the minimum among them — flattens local stars
    def smallStar(e: DataFrame): DataFrame = {
      val norm = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = norm.groupBy("u").agg(min(col("v")).as("m"))
      norm.join(mins, "u")
        .select(explode(array(col("v"), col("u"))).as("n"), col("m"))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
    }

    // Each round MUST truncate lineage (localCheckpoint), not merely
    // persist: a round's logical plan embeds the previous round's
    // whole tree 4× (two unions), so by round ~10 Catalyst spends
    // unbounded time re-analyzing an exponentially growing plan even
    // though the data is cached. Lazy (eager=false): the plan is
    // truncated immediately and the signature aggregation is the one
    // job that materializes the round — an eager checkpoint would run
    // a second, redundant job per round. On a cluster deployment this
    // would be a reliable checkpoint to durable storage instead
    // (executor loss mid-loop restarts the loop, not the job).
    // ONE distinct over the raw pair rows, self-loops kept: the proper
    // edge set, the node set (all pair endpoints, self-loop-only nodes
    // included) and the loop signature all derive from it, so the fast
    // path needs a single bounded collect instead of three jobs
    // (signature + edge collect + endpoint-distinct collect).
    val raw = ckpt(scope(pairs)
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .distinct(), eager = false)
    // one aggregation job: raw row count (gates the bounded collect),
    // proper-edge count and the convergence signature (bit_xor skips
    // the nulled self-loop rows — identical to signature() over the
    // filtered edge set)
    val r0 = raw.agg(count(lit(1)).as("nRaw"),
      count(when(col("u") =!= col("v"), 1)).as("n"),
      coalesce(bit_xor(when(col("u") =!= col("v"),
        xxhash64(col("u"), col("v")))), lit(0L)).as("h")).head()
    val nRaw = r0.getLong(0)
    var curSig = (r0.getLong(1), r0.getLong(2))
    // Size-adaptive fast path: a bounded edge set resolves by driver
    // union-find in one collect (≤ threshold × 16 B ≈ 16 MB) — the
    // distributed loop's multi-stage scheduling floor per round is
    // pure overhead at this size, and the RESULT is identical (same
    // min-root labels, spec'd against the loop). The count gating the
    // collect comes from the aggregation job that already ran; gating
    // on nRaw (≥ edge count) keeps the collect bounded even on a
    // self-loop-heavy graph.
    if (curSig._1 > 0 && nRaw <= ccDriverThreshold(spark)) {
      import spark.implicits._
      val rawRows = raw.as[(Long, Long)].collect()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) {
          val n = parent(c); parent(c) = r; c = n
        }
        r
      }
      rawRows.foreach { case (u, v) =>
        if (u != v) {
          val ru = find(u); val rv = find(v)
          // union by MIN root: the surviving root is always the
          // component minimum — the distributed loop's labeling rule
          if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
        }
      }
      // label the SAME node set the distributed path labels: all pair
      // endpoints including nodes appearing only in self-pairs
      val labeled = rawRows.iterator
        .flatMap(p => Iterator(p._1, p._2)).toSet
        .toSeq.sorted.map((id: Long) => (id, find(id)))
      // node-count-bounded local result: one partition (one output
      // file, one consumer task) instead of defaultParallelism
      // near-empty slices; coalesce preserves the sorted order
      spark.createDataset(labeled).toDF("doc_id", "cluster_id")
        .coalesce(1)
    } else
    // Right-size the loop's shuffle width to the PAIR GRAPH, not the
    // corpus: thresholded near-dup graphs are orders of magnitude
    // smaller than their corpus (255 edges from 5 000 sf0.1 docs),
    // and every round is several shuffles that would otherwise each
    // schedule the full partition count for a near-empty graph
    // (locally AQE hides most of it; on a cluster at width hundreds
    // this is the difference between rounds costing seconds and
    // minutes). ~1M edges per partition; a genuinely huge graph keeps
    // full width. With the width right-sized, AQE's per-stage
    // re-planning pause is the dominant cost of a round at small
    // graph sizes, so the scope turns it off.
    graft.Adaptive.withWidth(spark, curSig._1 / 1000000L + 1L,
        aqeOff = true) { loop =>
      val edges = loop(raw)
      val nodes = edges.select(col("u").as("id"))
        .union(edges.select(col("v").as("id")))
        .distinct()
      var cur = edges.filter(col("u") =!= col("v"))
      var converged = curSig._1 == 0L
      var it = 0
      while (!converged && it < maxIter) {
        val next = ckpt(smallStar(largeStar(cur)), eager = false)
        val nextSig = signature(next)
        converged = nextSig == curSig
        cur = next
        curSig = nextSig
        it += 1
      }
      require(converged,
        s"connected components did not converge in $maxIter rounds")
      // converged star graph: every non-root has exactly its (node →
      // component-min) edge; the groupBy-min is insurance, not
      // semantics. Labeling is materialized INSIDE the right-sized
      // scope (eager checkpoint — the output is node-count-bounded,
      // far smaller than the corpus) so the caller's consumption
      // never re-plans the loop tail at the caller's width.
      val mapping = cur.groupBy(col("u")).agg(min(col("v")).as("comp"))
        .select(col("u").as("id"), col("comp"))
      ckpt(nodes.join(mapping, Seq("id"), "left")
        .select(col("id").as("doc_id"),
          coalesce(col("comp"), col("id")).as("cluster_id"))
        .orderBy("doc_id"), eager = true)
    }
    }

  /** End-to-end near-dup dedup: resolve `pairs` into clusters, keep
    * one doc per cluster (the minimum id — the stable-keeper rule of
    * [[exact]]), and return the surviving corpus rows. Docs outside
    * the pair graph survive as singletons.
    */
  def dedupCorpus(docs: DataFrame, idCol: String, pairs: DataFrame,
                  aCol: String, bCol: String,
                  checkpointDir: Option[String] = None): DataFrame = {
    val losers = clusters(pairs, aCol, bCol,
        checkpointDir = checkpointDir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Exact all-pairs embedding cosine ≥ threshold as a triangular
    * block join: ids hash into `numBlocks` groups; cell (i, j), i ≤ j,
    * receives blocks i and j and scores their cross pairs in one task
    * with primitive-array dot products. The O(n²) pair space —
    * demanded by the EXACT semantics — is spread over B(B+1)/2
    * independent cells at replication factor B, with no nested-loop
    * join and no driver-side collect (round 1 planned this as a
    * BroadcastNestedLoopJoin with an interpreted per-pair aggregate:
    * 56 s at 2 000 vectors, unrunnable at 100×). Scale B with
    * sqrt(n²·dims / per-task-budget); beyond ~10⁷ vectors switch to
    * the LSH-bucketed approximate path ([[Similarity.bucketed]]) and
    * document the recall.
    */
  def embeddingPairsExact(emb: DataFrame, idCol: String, vecCol: String,
                          threshold: Double,
                          numBlocks: Int = 8): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bN = math.max(1, numBlocks)
    // The cell shuffle has exactly B(B+1)/2 keys, each an
    // O((n/B)²·dims) scoring loop: an input-byte width (a few MB → ~4
    // partitions) starves this one compute-dense stage (measured at
    // sf0.1: 3.2 s of task time on 5 tasks), and AQE would coalesce its
    // tiny shuffle further. So its width is in the plan — a repartition
    // by number, which AQE leaves alone — at every session width.
    val cellCount = bN * (bN + 1) / 2
    graft.Adaptive.withWidth(spark,
      graft.Adaptive.widthFor(emb), aqeOff = true) { scope =>
    val thr = threshold
    val blockRows = scope(emb).select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])]
      .flatMap { case (id, vs) =>
        val vec = vs.toArray
        var n2 = 0.0
        var d = 0
        while (d < vec.length) { n2 += vec(d).toDouble * vec(d); d += 1 }
        val nrm = math.sqrt(n2)
        val blk = IndexBuilder.saltOf(id, bN)
        Iterator.range(blk, bN).map(j => (blk * bN + j, id, vec, nrm)) ++
          Iterator.range(0, blk).map(i => (i * bN + blk, id, vec, nrm))
      }
    blockRows.repartition(cellCount, col("_1")).groupBy(col("_1"))
      .as[Int, (Int, Long, Array[Float], Double)]
      .flatMapGroups { (cell, it) =>
      val ci = cell / bN
      val cj = cell % bN
      val a = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Array[Float], Double)]
      val b = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Array[Float], Double)]
      it.foreach { case (_, id, vec, nrm) =>
        if (IndexBuilder.saltOf(id, bN) == ci) a += ((id, vec, nrm))
        else b += ((id, vec, nrm))
      }
      // rounded cosine, double accumulation in dim order — identical
      // arithmetic to round(aggregate(zip_with(...)), 4)
      def cosR(x: (Long, Array[Float], Double),
               y: (Long, Array[Float], Double)): Double = {
        val xv = x._2; val yv = y._2
        var dot = 0.0
        var d = 0
        while (d < xv.length) { dot += xv(d).toDouble * yv(d).toDouble; d += 1 }
        val raw = dot / (x._3 * y._3)
        // zero-norm vector → NaN cosine: BigDecimal.valueOf(NaN)
        // throws, and the SQL oracle's NaN row just fails the
        // threshold — return NaN so the >= filter drops it the same way
        if (java.lang.Double.isNaN(raw)) Double.NaN
        else java.math.BigDecimal.valueOf(raw)
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      }
      val within =
        if (ci == cj)
          for {
            i <- a.indices.iterator; j <- Iterator.range(i + 1, a.length)
          } yield (a(i), a(j))
        else for { x <- a.iterator; y <- b.iterator } yield (x, y)
      within.flatMap { case (x, y) =>
        val c = cosR(x, y)
        if (c >= thr)
          Some(if (x._1 < y._1) (x._1, y._1, c) else (y._1, x._1, c))
        else None
      }
    }.toDF("id_a", "id_b", "cos_r")
      // Cache the UNSORTED pair set first: the global sort's range-
      // sampling job executes its child in full, and a reduce-side
      // flatMapGroups (unlike map output feeding a shuffle) cannot be
      // reused across jobs — sorting the raw stream paid the whole
      // quadratic scoring pass TWICE (sample + count). Sorting the
      // cached thresholded pairs pays it once; the sort itself touches
      // only the (tiny) surviving pairs.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(unsorted => materializeAndFree(unsorted)(
        unsorted.orderBy("id_a", "id_b")))
    }
  }
}
