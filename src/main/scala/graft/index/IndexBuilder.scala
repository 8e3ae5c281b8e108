package graft.index

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

import graft.functions.Tokenize

/** Builds the inverted index from documents: tokenize → tf (one
  * pass, positions encoded in-task), then hands the document rows and
  * the tf rows to [[Generation.write]] — the one writer every index
  * generation goes through (docs, norms, terms, stats, salting, staged
  * postings and the checkpointed segment groups).
  *
  * Also holds the layout rules every writer and reader shares: the
  * [[Config]], the hash ([[xxhash]]), the salt key and salt assignment
  * ([[saltKey]], [[saltOf]]) and the bucket split ([[bucketOf]],
  * [[rangePid]]).
  */
object IndexBuilder {

  /** @param numBuckets   term-hash-range segment partitions at rest
    * @param blockSize    postings per compressed block
    * @param numGroups    the most checkpoint units (bucket groups) the
    *                     segments stage splits into. A build routes by
    *                     its posting count: one group per salt run's
    *                     worth (ceil(postings / saltTarget)), so a group
    *                     holds at least one salt run and a build that
    *                     small is one fused pass
    *                     ([[Generation.groupsFor]]); a compaction uses
    *                     all numGroups
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

  /** Full build: tokenize → tf, then the one generation writer
    * ([[Generation.write]]). Returns global stats. Resumable:
    * completed stages / groups (per `_checkpoints`) are skipped when
    * `resume = true`.
    */
  def build(docs: Dataset[Doc], outDir: String, cfg: Config = Config(),
            buildId: String = "build1", resume: Boolean = false,
            lineage: String = ""): IndexStats = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE tokenize pass over the corpus: tf carries dl through the
    // groupBy keys; the term dictionary, doc metadata, and global
    // stats all derive from the cached tf — at 100 TB, re-reading
    // (and re-splitting) the raw text is the single most expensive
    // thing a build can do twice. tf is a PER-DOCUMENT aggregation and
    // documents are rows — so count within the task (one small hash
    // map per doc) and never shuffle the exploded token stream: an
    // explode→groupBy(docId, term) formulation shuffles+hash-aggregates
    // |tokens| rows (~10^14 at the 10^12-doc scale) for something each
    // task can do locally.
    val withPos = cfg.withPositions
    val tf = docs
      .mapPartitions { it =>
        val empty = Array.emptyByteArray
        it.flatMap { d =>
          val toks = Tokenize.tokens(d.text)
          val dl = toks.length
          if (withPos) {
            // positions per term, encoded in-task: the shuffle carries
            // compressed bytes, never int arrays
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

    // docs meta: dl from tf (zero-token docs kept via left join — they
    // count toward N and avgdl), url from a tokenize-free,
    // column-pruned scan of the input
    val docMeta = docs.select($"docId", $"url")
      .join(tf.groupBy($"docId").agg(first($"dl").as("dl")), Seq("docId"), "left")
      .select($"docId", $"url",
        coalesce($"dl", lit(0)).cast("int").as("dl"))
      .as[DocMeta]
    Generation.write(outDir, docMeta, tf, cfg, buildId, resume, lineage,
      positions = Some(cfg.withPositions), stage = true)
  }
}
