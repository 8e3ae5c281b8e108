package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Commit
import graft.index.IndexPaths

/** Persisted approximate-nearest-neighbor index artifacts.
  *
  * [[Similarity.ivfTopK]] / [[Similarity.lshTopK]] are the
  * self-contained formulations: correct, but they recompute the
  * corpus partitioning (IVF assignment / LSH bucketing) inside every
  * query — at 10⁹ vectors each query pays a full-corpus scan, which
  * forfeits the entire point of an ANN structure. This object is the
  * index-at-rest counterpart (the engine's own inverted index is the
  * pattern: build once into partitioned files, serve by pruned
  * reads):
  *
  * {{{
  *   <dir>/centroids/           (cid, cvec)   IVF: tiny
  *   <dir>/lists/cid=N/         (vid, vec)    IVF: one dir per list
  *   <dir>/buckets/t=N/bkt=M/   (vid)         LSH: one dir per
  *                                            (table, bucket)
  *   <dir>/vecs/                (vid, vec)    LSH: vector store
  *   <dir>/ann_stats.json       params + counts + lineage; written
  *                              LAST — the single commit marker serve
  *                              paths require (artifact rebuilds are
  *                              all-or-nothing: cheap relative to the
  *                              index they accelerate)
  * }}}
  *
  * A query then touches ONLY the probed partitions: `probes` of
  * `numCentroids` lists (IVF), or the probe-set buckets per table
  * (LSH) — partition pruning does the candidate narrowing that the
  * per-query formulations paid a scan for. IVF lists embed vectors
  * (each vector lives in exactly one list — no duplication); LSH
  * buckets store ids only (vectors would replicate ×numTables) and
  * rerank joins the shared vector store on the small candidate set.
  *
  * Serve results are identical to the per-query formulations by
  * construction (same assignment/bucket arithmetic, same rounded
  * rerank) — AnnIndexSpec asserts equality, and the sim_ivf_ann
  * oracle is unchanged.
  */
object AnnIndex {

  private def statsPath(dir: String) = s"$dir/ann_stats.json"

  private def committed(spark: SparkSession, dir: String,
                        lineage: String): Boolean =
    Commit.committed(spark, statsPath(dir), lineage)

  /** Validate a generation chain (head = committed base of `kind`,
    * tail = `<kind>_delta` artifacts carrying the base's lineage),
    * mark each as in-use, and return the base's stats. Shared by the
    * multi-generation serves and compaction so the chain rules can
    * never drift between them.
    */
  private def validateGens(spark: SparkSession, dirs: Seq[String],
                           kind: String): Map[String, String] = {
    require(dirs.nonEmpty, s"no ${kind.toUpperCase} artifact dirs")
    dirs.foreach { d =>
      require(IndexPaths.exists(spark, statsPath(d)),
        s"no committed ${kind.toUpperCase} artifact at $d")
      Commit.touch(spark, statsPath(d)) // use: keep the aged sweep off it
    }
    val base = IndexPaths.parseFlatJson(
      IndexPaths.readString(spark, statsPath(dirs.head)))
    require(base("kind") == kind,
      s"dirs.head must be the base artifact, got ${base("kind")}")
    // every delta must have been built against THIS base (IVF: or
    // probe pruning silently misses its vectors; LSH: or bucket ids
    // mean different plane families)
    dirs.tail.foreach { d =>
      val st = IndexPaths.parseFlatJson(
        IndexPaths.readString(spark, statsPath(d)))
      require(st("kind") == s"${kind}_delta" &&
        st("base") == base("lineage"),
        s"delta $d was not built against base ${dirs.head}")
    }
    base
  }

  /** Generations with at least one vector — empty ones have no
    * readable list/bucket partitions and must be dropped from scans.
    */
  private def nonEmptyGens(spark: SparkSession,
                           dirs: Seq[String]): Seq[String] =
    dirs.filter(d => IndexPaths.parseFlatJson(
        IndexPaths.readString(spark, statsPath(d)))
      .get("numVecs").exists(_.toLong > 0))

  // ------------------------------------------------------------------
  // IVF
  // ------------------------------------------------------------------

  /** Build the IVF artifact: the [[Similarity.assignCentroids]]
    * assignment (rounded-cosine argmax, struct-max plan) materialized
    * as one partitioned-parquet inverted list per centroid.
    *
    * @param trainIters 0 = untrained quantizer (centroids are the
    *        first numCentroids vectors — the fully SQL-mirrorable
    *        baseline); > 0 runs that many deterministic Lloyd
    *        iterations ([[Similarity.trainCentroids]]) — at real scale
    *        untrained centroids mean unbalanced lists and poor
    *        recall-per-probe.
    * @param listSaltTarget max vectors per list-writer task: lists
    *        larger than this split across ceil(n/target) writer tasks
    *        by a vid-hash salt (the posting builder's hot-term rule) —
    *        a hot list no longer serializes into one writer. Layout
    *        unchanged (multiple files under one cid= dir).
    */
  def buildIvf(emb: DataFrame, idCol: String, vecCol: String,
               dir: String, numCentroids: Int,
               lineage: String, resume: Boolean = true,
               trainIters: Int = 0,
               listSaltTarget: Long = 1L << 20): Unit = {
    val spark = emb.sparkSession
    val line = s"ivf;c=$numCentroids;it=$trainIters;src=$lineage"
    if (resume && committed(spark, dir, line)) return
    // stale or partial artifact: rebuild from scratch (the marker is
    // only written after every stage commits)
    IndexPaths.delete(spark, dir)
    // headOption: an empty corpus commits an empty artifact (dims 0)
    // instead of crashing after the old artifact was already deleted
    val dims = emb.select(size(col(vecCol))).head(1)
      .headOption.map(_.getInt(0)).getOrElse(0)
    val cents =
      if (trainIters > 0)
        Similarity.trainCentroids(emb, idCol, vecCol, numCentroids,
          trainIters)
      else emb.filter(col(idCol) < numCentroids)
        .select(col(idCol).cast("long").as("cid"),
          col(vecCol).as("cvec"))
    cents.write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
    val storedCents = spark.read.parquet(s"$dir/centroids")
    val assigned =
      Similarity.assignCentroids(emb, idCol, vecCol, storedCents)
    val n = writeLists(emb, idCol, vecCol, assigned, s"$dir/lists",
      listSaltTarget)
    IndexPaths.writeString(spark, statsPath(dir),
      s"""{"kind":"ivf","numCentroids":$numCentroids,"numVecs":$n,""" +
        s""""dims":$dims,"trainIters":$trainIters,""" +
        s""""lineage":"$line"}""")
  }

  /** Salted list write shared by base and delta builds: list sizes
    * (numCentroids rows — broadcast) decide each list's writer-task
    * fan-out; rows shuffle once on (cid, salt). Returns the row count
    * (observed during the write — no re-read job).
    */
  private def writeLists(emb: DataFrame, idCol: String, vecCol: String,
                         assigned: DataFrame, listsDir: String,
                         listSaltTarget: Long): Long = {
    val sizes = assigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("ln"))
      .select(col("cid"), greatest(lit(1L),
        ceil(col("ln").cast("double") / listSaltTarget.toDouble)
          .cast("long")).as("sc"))
    val obs = new org.apache.spark.sql.Observation()
    // explicit width: AQE's small-partition coalescing would otherwise
    // collapse the salted shuffle back into few writers at low data
    // volumes — the fan-out IS the point, and at scale the partitions
    // are full so the explicit count changes nothing
    val width = emb.sparkSession.sessionState.conf.numShufflePartitions
    assigned
      .join(emb.select(col(idCol).cast("long").as("vid"),
        col(vecCol).as("vec")), "vid")
      .join(broadcast(sizes), "cid")
      .withColumn("salt", pmod(xxhash64(col("vid")), col("sc")))
      .repartition(width, col("cid"), col("salt"))
      .drop("sc", "salt")
      .observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).partitionBy("cid")
      .parquet(listsDir)
    obs.get("n").asInstanceOf[Long]
  }

  /** Build an IVF DELTA generation: assign ONLY `newEmb` against the
    * BASE artifact's committed centroids and write their inverted
    * lists beside it — the index's generation model
    * (graft.index.Incremental.buildDelta) applied to the ANN tier, so
    * a grown corpus no longer pays the all-or-nothing rebuild. Serve
    * via [[ivfTopKMulti]](base +: deltas). With the untrained
    * quantizer this is EXACTLY a full rebuild over the merged corpus
    * (same centroid rule as long as the base holds vec_id <
    * numCentroids); with a trained one, centroids stay frozen until
    * the next full rebuild (standard IVF practice — retraining is the
    * compaction analog).
    */
  def buildIvfDelta(newEmb: DataFrame, idCol: String, vecCol: String,
                    baseDir: String, deltaDir: String,
                    lineage: String, resume: Boolean = true,
                    listSaltTarget: Long = 1L << 20): Unit = {
    val spark = newEmb.sparkSession
    require(IndexPaths.exists(spark, statsPath(baseDir)),
      s"no committed IVF base artifact at $baseDir")
    val base = IndexPaths.parseFlatJson(
      IndexPaths.readString(spark, statsPath(baseDir)))
    require(base("kind") == "ivf", s"base at $baseDir is ${base("kind")}")
    val line = s"ivf_delta;base=${base("lineage")};src=$lineage"
    if (resume && committed(spark, deltaDir, line)) return
    // a wrong-dims delta would build "successfully" (cosine's zip_with
    // pads nulls → garbage assignments) and the serve-time query-dims
    // fence — which checks the BASE's recorded dims — could never
    // catch it: fail loudly at build time instead
    val dDims = newEmb.select(size(col(vecCol))).head(1)
      .headOption.map(_.getInt(0))
    dDims.foreach(d => require(base("dims").toInt == 0 ||
      d == base("dims").toInt,
      s"delta dims $d != base dims ${base("dims")} ($baseDir)"))
    IndexPaths.delete(spark, deltaDir)
    val cents = spark.read.parquet(s"$baseDir/centroids")
    val assigned =
      Similarity.assignCentroids(newEmb, idCol, vecCol, cents)
    val n = writeLists(newEmb, idCol, vecCol, assigned,
      s"$deltaDir/lists", listSaltTarget)
    IndexPaths.writeString(spark, statsPath(deltaDir),
      s"""{"kind":"ivf_delta","numCentroids":${base("numCentroids")},""" +
        s""""numVecs":$n,"dims":${base("dims")},""" +
        s""""base":"${base("lineage")}","lineage":"$line"}""")
  }

  /** Serve top-k from the IVF artifact: probe selection over the tiny
    * centroid table, then a rerank over ONLY the probed lists — the
    * scan is partition-pruned to `probes` of `numCentroids`
    * directories (AnnIndexSpec asserts the PartitionFilters).
    * Identical results to [[Similarity.ivfTopK]] (same rounding, same
    * tie-breaks).
    */
  def ivfTopK(spark: SparkSession, dir: String, queryVec: Seq[Float],
              queryId: Long, k: Int, probes: Int): DataFrame =
    ivfTopKMulti(spark, Seq(dir), queryVec, queryId, k, probes)

  /** Serve top-k from a base IVF artifact plus delta generations
    * (dirs.head must be the base — its centroids define the probe
    * set; deltas were assigned against those same centroids by
    * [[buildIvfDelta]]). The probed lists of EVERY generation are
    * read (same partition pruning each) and reranked together —
    * identical to a full rebuild over the merged corpus under the
    * shared centroid set.
    */
  def ivfTopKMulti(spark: SparkSession, dirs: Seq[String],
                   queryVec: Seq[Float], queryId: Long, k: Int,
                   probes: Int): DataFrame = {
    val base = validateGens(spark, dirs, "ivf")
    // wrong-dims queries would silently rank on null cosines
    // (zip_with pads) — fail loudly instead, like the LSH serve
    val dims = base.get("dims").map(_.toInt)
    require(dims.forall(_ == queryVec.length),
      s"query dims ${queryVec.length} != artifact dims ${dims.get}")
    // an EMPTY generation's partitioned parquet has no data files and
    // spark.read fails schema inference — degrade to an empty result
    // instead of crashing. An empty BASE means an empty chain (a delta
    // cannot have been assigned without base centroids).
    val live = nonEmptyGens(spark, dirs)
    if (live.isEmpty)
      return spark.range(0).select(col("id").as("vec_id"),
        lit(0.0).as("cos_r"))
    val qArr = array(queryVec.map(v => lit(v)).toSeq: _*)
    val qProbes = spark.read.parquet(s"${dirs.head}/centroids")
      .withColumn("qsim",
        round(Similarity.cosine(col("cvec"), qArr), 4))
      .orderBy(desc("qsim"), col("cid"))
      .limit(probes).select(col("cid"))
      .collect().map(_.getLong(0)).toSeq
    live.map(d => spark.read.parquet(s"$d/lists"))
      .reduce(_ unionByName _)
      .filter(col("cid").isin(qProbes: _*) && col("vid") =!= queryId)
      .select(col("vid").as("vec_id"),
        round(Similarity.cosine(col("vec"), qArr), 4).as("cos_r"))
      .orderBy(desc("cos_r"), col("vec_id"))
      .limit(k)
  }

  // ------------------------------------------------------------------
  // LSH
  // ------------------------------------------------------------------

  /** Build the LSH artifact: every vector's sign-bucket per table
    * ([[Similarity.signBucket]], same seed-mixed plane family) as
    * (table, bucket)-partitioned id files, plus one shared vector
    * store for the rerank join. Ids-only buckets: embedding vectors
    * would replicate ×numTables, and the rerank candidate set is tiny
    * so the join is cheap.
    */
  def buildLsh(emb: DataFrame, idCol: String, vecCol: String,
               dir: String, numPlanes: Int, numTables: Int, seed: Long,
               lineage: String, resume: Boolean = true): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val line = s"lsh;p=$numPlanes;t=$numTables;s=$seed;src=$lineage"
    if (resume && committed(spark, dir, line)) return
    IndexPaths.delete(spark, dir)
    // headOption: empty corpus → empty committed artifact, not a
    // crash that leaves no artifact at all (buildIvf same rule)
    val dims = emb.select(size(col(vecCol))).head(1)
      .headOption.map(_.getInt(0)).getOrElse(0)
    val vecs = emb.select(col(idCol).cast("long").as("vid"),
      col(vecCol).as("vec"))
    // row count observed during the write — no re-read job
    val vObs = new org.apache.spark.sql.Observation()
    vecs.observe(vObs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/vecs")
    val nVecs = vObs.get("n").asInstanceOf[Long]
    val nT = numTables
    val np = numPlanes
    val sd = seed
    val buckets = vecs.as[(Long, Seq[Float])]
      .mapPartitions { it =>
        // plane matrices derived deterministically per task — no
        // broadcast, same family the per-query path uses
        val mats = Array.tabulate(nT)(t =>
          Similarity.planeMatrix(sd, t, np, dims))
        it.flatMap { case (id, v) =>
          val arr = v.toArray
          Iterator.tabulate(nT)(t =>
            (t, Similarity.signBucket(arr, mats(t)), id))
        }
      }
      .toDF("t", "bkt", "vid")
    buckets
      .repartition(col("t"), col("bkt"))
      .write.mode(SaveMode.Overwrite).partitionBy("t", "bkt")
      .parquet(s"$dir/buckets")
    IndexPaths.writeString(spark, statsPath(dir),
      s"""{"kind":"lsh","numPlanes":$numPlanes,"numTables":$numTables,""" +
        s""""seed":$seed,"dims":$dims,"numVecs":$nVecs,""" +
        s""""lineage":"$line"}""")
  }

  /** Build an LSH DELTA generation: bucket ONLY `newEmb` with the
    * BASE artifact's plane family (numPlanes/numTables/seed from its
    * stats — planes are seed-derived, not data-dependent, so base +
    * delta is EXACTLY a full rebuild over the merged corpus). Serve
    * via [[lshTopKMulti]](base +: deltas).
    */
  def buildLshDelta(newEmb: DataFrame, idCol: String, vecCol: String,
                    baseDir: String, deltaDir: String,
                    lineage: String, resume: Boolean = true): Unit = {
    val spark = newEmb.sparkSession
    require(IndexPaths.exists(spark, statsPath(baseDir)),
      s"no committed LSH base artifact at $baseDir")
    val base = IndexPaths.parseFlatJson(
      IndexPaths.readString(spark, statsPath(baseDir)))
    require(base("kind") == "lsh", s"base at $baseDir is ${base("kind")}")
    val line = s"lsh_delta;base=${base("lineage")};src=$lineage"
    if (resume && committed(spark, deltaDir, line)) return
    // dims fence (same reasoning as buildIvfDelta): the re-stamp below
    // inherits the BASE's dims into the delta marker, so a wrong-dims
    // delta — buckets computed under a different plane dimensionality —
    // would be unfenceable at serve time; fail at build time
    val dDims = newEmb.select(size(col(vecCol))).head(1)
      .headOption.map(_.getInt(0))
    dDims.foreach(d => require(base("dims").toInt == 0 ||
      d == base("dims").toInt,
      s"delta dims $d != base dims ${base("dims")} ($baseDir)"))
    IndexPaths.delete(spark, deltaDir)
    buildLsh(newEmb, idCol, vecCol, deltaDir,
      base("numPlanes").toInt, base("numTables").toInt,
      base("seed").toLong, lineage = lineage)
    // re-stamp as a delta carrying its base lineage (buildLsh wrote a
    // standalone marker; the dims recorded there may be 0 for an
    // empty delta — inherit the base's)
    val st = IndexPaths.parseFlatJson(
      IndexPaths.readString(spark, statsPath(deltaDir)))
    IndexPaths.writeString(spark, statsPath(deltaDir),
      s"""{"kind":"lsh_delta","numPlanes":${base("numPlanes")},""" +
        s""""numTables":${base("numTables")},"seed":${base("seed")},""" +
        s""""dims":${base("dims")},"numVecs":${st("numVecs")},""" +
        s""""base":"${base("lineage")}","lineage":"$line"}""")
  }

  /** Serve top-k from the LSH artifact: the query's probe buckets per
    * table ([[Similarity.lshTopK]]'s multiprobe rule — own bucket +
    * smallest-|dot|-margin flips) are computed on the driver from the
    * deterministic plane family, then ONLY those (table, bucket)
    * partitions are read; the OR-of-tables union is a distinct over
    * the pruned id read, and the rerank joins the vector store on the
    * candidate set. Identical results to the per-query formulation.
    */
  def lshTopK(spark: SparkSession, dir: String, queryVec: Seq[Float],
              queryId: Long, k: Int, multiprobe: Int = 2): DataFrame =
    lshTopKMulti(spark, Seq(dir), queryVec, queryId, k, multiprobe)

  /** Serve top-k from a base LSH artifact plus delta generations
    * (dirs.head = base; deltas share its plane family by
    * construction). Probe-set computation is identical; every
    * generation's probed buckets and vector store are read with the
    * same pruning and reranked together — exactly the full-rebuild
    * result over the merged corpus.
    */
  def lshTopKMulti(spark: SparkSession, dirs: Seq[String],
                   queryVec: Seq[Float], queryId: Long, k: Int,
                   multiprobe: Int = 2): DataFrame = {
    val st = validateGens(spark, dirs, "lsh")
    val np = st("numPlanes").toInt
    val nT = st("numTables").toInt
    val sd = st("seed").toLong
    val dims = st("dims").toInt
    require(queryVec.length == dims,
      s"query dims ${queryVec.length} != artifact dims $dims")
    val qVec = queryVec.toArray
    val probeSets: Array[Set[Long]] = Array.tabulate(nT) { t =>
      val ps = Similarity.planeMatrix(sd, t, np, dims)
      val dots = Similarity.planeDots(qVec, ps)
      var qBucket = 0L
      var j = 0
      while (j < dots.length) {
        if (dots(j) >= 0) qBucket |= (1L << j); j += 1
      }
      val nearest = dots.zipWithIndex.sortBy(x => math.abs(x._1))
        .take(math.max(0, multiprobe)).map(_._2)
      (Seq(qBucket) ++
        nearest.map(j => qBucket ^ (1L << j)) ++
        (if (nearest.length >= 2)
           Seq(qBucket ^ (1L << nearest(0)) ^ (1L << nearest(1)))
         else Seq.empty)).toSet
    }
    // one partition-pruning disjunct per table: t = i AND bkt IN (...)
    val probeFilter = probeSets.zipWithIndex.map { case (bs, t) =>
      col("t") === t && col("bkt").isin(bs.toSeq: _*)
    }.reduce(_ || _)
    // an empty generation has no readable bucket/vecs partitions —
    // drop it from BOTH scans (probe-set computation above needs only
    // the stats sidecar); all-empty chains return an empty result
    // instead of crashing schema inference
    val live = nonEmptyGens(spark, dirs)
    if (live.isEmpty)
      return spark.range(0).select(col("id").as("vec_id"),
        lit(0.0).as("cos_r"))
    // Read ONLY the probed (t, bkt) partition directories, with
    // basePath so t/bkt stay partition columns (probeFilter below
    // still prunes on them — belt and braces, and the serve-plan
    // pruning contract). Whole-directory discovery listed every one
    // of the numTables × 2^numPlanes bucket dirs in per-call listing
    // jobs (measured at sf0.1: 4 jobs × 64 near-empty tasks per
    // query); the probe set the operator just computed names the only
    // dirs the query can touch, and its size — numTables × (multiprobe
    // + 2) — is independent of corpus and bucket count, so serve
    // listing cost now scales with the probe set, not the artifact.
    val probed = live.flatMap { d =>
      probeSets.zipWithIndex.flatMap { case (bs, t) =>
        bs.toSeq.sorted.map(b => (s"$d/buckets", s"$d/buckets/t=$t/bkt=$b"))
      }
    }.filter(p => IndexPaths.exists(spark, p._2))
    val candReads = probed.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (base, ps) =>
        spark.read.option("basePath", base).parquet(ps.map(_._2): _*)
    }
    // no probed bucket exists in any generation → zero candidates,
    // the same empty result the filter used to produce
    if (candReads.isEmpty)
      return spark.range(0).select(col("id").as("vec_id"),
        lit(0.0).as("cos_r"))
    val candIds = candReads.reduce(_ unionByName _)
      .filter(probeFilter && col("vid") =!= queryId)
      .select(col("vid"))
    // the distinct's one exchange sized from the probed input, not the
    // session constant (the candidate set is a handful of pruned
    // bucket files; session-width reduce tasks measured as pure task
    // floor). repartition on the key satisfies the aggregate's
    // required distribution, so this is the SAME single exchange
    // right-sized; capped at the session width so a huge probed read
    // keeps full parallelism.
    val distinctWidth = math.min(
      spark.sessionState.conf.numShufflePartitions.toLong,
      graft.Adaptive.widthFor(candIds)).toInt
    val cands = candIds.repartition(distinctWidth, col("vid")).distinct()
    val qArr = array(queryVec.map(v => lit(v)).toSeq: _*)
    live.map(d => spark.read.parquet(s"$d/vecs"))
      .reduce(_ unionByName _)
      .join(cands, "vid")
      .select(col("vid").as("vec_id"),
        round(Similarity.cosine(col("vec"), qArr), 4).as("cos_r"))
      .orderBy(desc("cos_r"), col("vec_id"))
      .limit(k)
  }

  // ------------------------------------------------------------------
  // compaction: fold a generation chain back into one base
  // ------------------------------------------------------------------

  /** Fold an IVF base + delta chain into ONE base artifact — the ANN
    * tier's [[graft.index.Compaction]] analog. The corpus is read
    * from the generations' OWN list files (vectors live inline; the
    * source table is never touched).
    *  - retrainIters = 0: centroids AND assignments are kept (cid is
    *    already materialized in every list row) — the rewrite is one
    *    salted shuffle, and serving the result is EXACTLY
    *    [[ivfTopKMulti]] over the inputs.
    *  - retrainIters > 0: Lloyd iterations warm-started from the
    *    base's committed centroids (the retrain the delta scaladoc
    *    defers to "the next full rebuild"), then reassign + rewrite —
    *    recall-per-probe recovers after the frozen-quantizer window.
    * Output kind = ivf with its own lineage: future deltas chain
    * against the compacted base, exactly like the text index.
    */
  def compactIvf(spark: SparkSession, dirs: Seq[String], outDir: String,
                 lineage: String, retrainIters: Int = 0,
                 listSaltTarget: Long = 1L << 20): Unit = {
    val base = validateGens(spark, dirs, "ivf")
    val line = s"ivf;c=${base("numCentroids")};it=$retrainIters;" +
      s"src=compact($lineage)"
    if (committed(spark, outDir, line)) return
    IndexPaths.delete(spark, outDir)
    val live = nonEmptyGens(spark, dirs)
    require(live.nonEmpty, "nothing to compact: all generations empty")
    val corpus = live.map(d => spark.read.parquet(s"$d/lists"))
      .reduce(_ unionByName _) // (vid, vec, cid)
    val baseCents = spark.read.parquet(s"${dirs.head}/centroids")
    val cents =
      if (retrainIters <= 0) baseCents
      else Similarity.trainCentroids(corpus, "vid", "vec",
        base("numCentroids").toInt, retrainIters,
        // 6 dp double init = the trainer's own first-N rule, so
        // compacting an UNTRAINED base with retrain reproduces
        // buildIvf(merged, trainIters) bit-exactly (spec'd); on a
        // trained base (means already 6 dp doubles) it is a no-op
        init = Some(baseCents.select(col("cid"),
          transform(col("cvec"), v => round(v.cast("double"), 6))
            .as("cvec"))))
    cents.write.mode(SaveMode.Overwrite).parquet(s"$outDir/centroids")
    val assigned =
      if (retrainIters <= 0) corpus.select(col("vid"), col("cid"))
      else Similarity.assignCentroids(corpus, "vid", "vec",
        spark.read.parquet(s"$outDir/centroids"))
    val n = writeLists(corpus, "vid", "vec", assigned, s"$outDir/lists",
      listSaltTarget)
    IndexPaths.writeString(spark, statsPath(outDir),
      s"""{"kind":"ivf","numCentroids":${base("numCentroids")},""" +
        s""""numVecs":$n,"dims":${base("dims")},""" +
        s""""trainIters":$retrainIters,"lineage":"$line"}""")
  }

  /** Fold an LSH base + delta chain into one artifact: every
    * generation shares the base's plane family by construction, so
    * buckets and the vector store union WITHOUT recompute — pure file
    * consolidation (the bucket arithmetic never re-runs; serving the
    * result is exactly [[lshTopKMulti]] over the inputs). Output
    * kind = lsh; future deltas chain against it.
    */
  def compactLsh(spark: SparkSession, dirs: Seq[String], outDir: String,
                 lineage: String): Unit = {
    val base = validateGens(spark, dirs, "lsh")
    val line = s"lsh;p=${base("numPlanes")};t=${base("numTables")};" +
      s"s=${base("seed")};src=compact($lineage)"
    if (committed(spark, outDir, line)) return
    IndexPaths.delete(spark, outDir)
    val live = nonEmptyGens(spark, dirs)
    require(live.nonEmpty, "nothing to compact: all generations empty")
    val vObs = new org.apache.spark.sql.Observation()
    live.map(d => spark.read.parquet(s"$d/vecs"))
      .reduce(_ unionByName _)
      .observe(vObs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/vecs")
    val nVecs = vObs.get("n").asInstanceOf[Long]
    live.map(d => spark.read.parquet(s"$d/buckets"))
      .reduce(_ unionByName _)
      .repartition(col("t"), col("bkt"))
      .write.mode(SaveMode.Overwrite).partitionBy("t", "bkt")
      .parquet(s"$outDir/buckets")
    IndexPaths.writeString(spark, statsPath(outDir),
      s"""{"kind":"lsh","numPlanes":${base("numPlanes")},""" +
        s""""numTables":${base("numTables")},"seed":${base("seed")},""" +
        s""""dims":${base("dims")},"numVecs":$nVecs,""" +
        s""""lineage":"$line"}""")
  }

  // ------------------------------------------------------------------
  // cached ensure-wrappers over the driver's embeddings table
  // ------------------------------------------------------------------

  /** Single-vector lookup from the source table (query vectors come
    * from the corpus in the contract queries).
    */
  def lookupVec(emb: DataFrame, idCol: String, vecCol: String,
                id: Long): Seq[Float] =
    emb.filter(col(idCol) === id).select(col(vecCol)).head().getSeq[Float](0)

  /** Build-once (content-fingerprint-keyed, like EntryIndex) IVF
    * artifact over `<sfDir>/embeddings.parquet`.
    */
  def ensureIvf(spark: SparkSession, sfDir: String,
                numCentroids: Int, trainIters: Int = 0): String =
    synchronized {
      val src = s"$sfDir/embeddings.parquet"
      val tag = IndexPaths.contentTag(spark, src)
      val dir = s"${CacheRoot}/v1_ivf${numCentroids}i${trainIters}_$tag"
      publish(spark, dir,
        s"ivf;c=$numCentroids;it=$trainIters;src=$tag") { tmp =>
        buildIvf(spark.read.parquet(src), "vec_id", "embedding",
          tmp, numCentroids, lineage = tag, trainIters = trainIters)
      }
    }

  /** Build-once base + delta IVF pair over a deterministic id split of
    * `<sfDir>/embeddings.parquet` — the contract surface for
    * generation serving: base indexes vec_id < splitAt, the delta
    * assigns the rest under the base's committed centroids, and
    * [[ivfTopKMulti]](base, delta) equals a full rebuild exactly
    * (untrained quantizer; splitAt > numCentroids keeps the centroid
    * rule identical).
    */
  def ensureIvfSplit(spark: SparkSession, sfDir: String,
                     numCentroids: Int,
                     splitAt: Long): (String, String) = synchronized {
    require(splitAt > numCentroids,
      s"splitAt $splitAt must exceed numCentroids $numCentroids " +
        "(the base must contain every untrained centroid)")
    val src = s"$sfDir/embeddings.parquet"
    val tag = IndexPaths.contentTag(spark, src)
    val emb = spark.read.parquet(src)
    val baseDir = s"${CacheRoot}/v1_ivfb${numCentroids}s${splitAt}_$tag"
    val deltaDir = s"${CacheRoot}/v1_ivfd${numCentroids}s${splitAt}_$tag"
    val baseLine = s"ivf;c=$numCentroids;it=0;src=b${splitAt}_$tag"
    publish(spark, baseDir, baseLine) { tmp =>
      buildIvf(emb.filter(col("vec_id") < splitAt), "vec_id",
        "embedding", tmp, numCentroids, lineage = s"b${splitAt}_$tag")
    }
    publish(spark, deltaDir,
      s"ivf_delta;base=$baseLine;src=d${splitAt}_$tag") { tmp =>
      buildIvfDelta(emb.filter(col("vec_id") >= splitAt), "vec_id",
        "embedding", baseDir, tmp, lineage = s"d${splitAt}_$tag")
    }
    (baseDir, deltaDir)
  }

  /** Build-once compacted fold of the [[ensureIvfSplit]] chain — the
    * contract surface for ANN compaction: serving the fold must equal
    * the full-corpus IVF oracle (untrained quantizer ⇒ identical
    * centroid rule; the no-retrain fold keeps every assignment).
    */
  def ensureIvfCompact(spark: SparkSession, sfDir: String,
                       numCentroids: Int, splitAt: Long): String =
    synchronized {
      val (base, delta) = ensureIvfSplit(spark, sfDir, numCentroids,
        splitAt)
      val tag = IndexPaths.contentTag(spark,
        s"$sfDir/embeddings.parquet")
      val dir = s"${CacheRoot}/v1_ivfc${numCentroids}s${splitAt}_$tag"
      val lin = s"b+d${splitAt}_$tag"
      publish(spark, dir,
        s"ivf;c=$numCentroids;it=0;src=compact($lin)") { tmp =>
        compactIvf(spark, Seq(base, delta), tmp, lineage = lin)
      }
    }

  /** Build-once LSH artifact over `<sfDir>/embeddings.parquet`. */
  def ensureLsh(spark: SparkSession, sfDir: String, numPlanes: Int,
                numTables: Int, seed: Long): String = synchronized {
    val src = s"$sfDir/embeddings.parquet"
    val tag = IndexPaths.contentTag(spark, src)
    val dir = s"${CacheRoot}/v1_lsh${numPlanes}_${numTables}_${seed}_$tag"
    publish(spark, dir, s"lsh;p=$numPlanes;t=$numTables;s=$seed;src=$tag") {
      tmp =>
        buildLsh(spark.read.parquet(src), "vec_id", "embedding",
          tmp, numPlanes, numTables, seed, lineage = tag)
    }
  }

  private val CacheRoot = "/tmp/graft_ann"

  /** Build-once publication of a cached artifact under [[CacheRoot]]
    * ([[Commit.publish]]: pid-unique build dir, rename into place,
    * aged siblings swept — old-tag dirs are each a full vector copy).
    */
  private def publish(spark: SparkSession, dir: String, line: String)(
      build: String => Unit): String =
    Commit.publish(spark, dir, "ann_stats.json", line)(build)
}
