package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Tokenize

/** Text-analysis operators for the training-data pipeline: language
  * ID, quality scoring, token counting, fingerprinting, simhash.
  * All are deterministic, codegen-friendly column expressions except
  * simhash (typed map over md5 bits).
  *
  * Reference ancestor: the regex theme classifier
  * (/root/reference/packages/core/spheraform_core/adapters/theme_classifier.py:19-127)
  * — a deterministic multi-label scorer over text fields.
  */
object TextOps {

  // language-marker stopword sets (shared with the DuckDB oracle SQL)
  val EnSw = Seq("the", "a", "is", "of", "and", "to", "in")
  val DeSw = Seq("der", "die", "das", "und", "ist")
  val FrSw = Seq("le", "la", "les", "et", "est")

  def toks(text: Column): Column = Tokenize.tokensCol(text)

  private def swCount(t: Column, sw: Seq[String]): Column =
    size(filter(t, x => x.isInCollection(sw)))

  /** Heuristic n-gram language ID: argmax of marker-stopword counts,
    * tie priority en > de > fr, 'und' when no markers at all.
    */
  def langId(text: Column): Column = {
    val t = toks(text)
    val en = swCount(t, EnSw); val de = swCount(t, DeSw)
    val fr = swCount(t, FrSw)
    when(en === 0 && de === 0 && fr === 0, lit("und"))
      .when(en >= de && en >= fr, lit("en"))
      .when(de >= fr, lit("de"))
      .otherwise(lit("fr"))
  }

  /** Quality score in [0,1]: length saturation + stopword ratio +
    * lexical diversity. Same arithmetic AST as the oracle SQL.
    */
  def quality(text: Column): Column = {
    val t = toks(text)
    val dl = size(t).cast("double")
    val stopR = swCount(t, EnSw).cast("double") / dl
    val uniqR = size(array_distinct(t)).cast("double") / dl
    round(least(dl / lit(100.0), lit(1.0)) * lit(0.5) +
      stopR * lit(0.3) + uniqR * lit(0.2), 4)
  }

  /** Token-window snippet around the FIRST occurrence of any query
    * term: the serve-path "highlight" every search UI needs. Pure
    * codegen'd column arithmetic (array_position / slice), 1-based
    * like the DuckDB mirror; empty string when no term occurs.
    */
  def snippet(text: Column, terms: Seq[String], window: Int): Column = {
    val t = toks(text)
    val far = lit(Int.MaxValue)
    // array_position: 1-based index, 0 when absent
    val ps = terms.distinct.map { w =>
      val p = array_position(t, w)
      when(p === 0, far).otherwise(p)
    }
    // Spark's least() demands >= 2 children — a one-term highlight
    // (the commonest serve case) must not crash at analysis time
    val pos = ps match {
      case Seq() => far
      case Seq(one) => one
      case many => least(many: _*)
    }
    val start = greatest(pos - window, lit(1))
    when(pos === far, lit(""))
      .otherwise(concat_ws(" ",
        slice(t, start, pos + window - start + lit(1))))
  }

  /** Whitespace token count (split on \s+, empties dropped). */
  def wsTokenCount(text: Column): Column =
    size(array_remove(split(text, "\\s+"), "")).cast("long")

  /** BPE-ish subword count: letter runs, single digits, single
    * non-alnum marks — the shape of byte-pair vocabularies where
    * digits and punctuation split finer than words. Same regex in
    * Java (Spark) and RE2 (DuckDB) semantics for this ASCII-safe
    * pattern.
    */
  val BpePattern = "[a-z]+|[0-9]|[^a-z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(BpePattern), lit(0)))
      .cast("long")

  /** Content-type sniff over a binary column (magic bytes) — the
    * gzip-sniff analog of the reference done as a typed-metadata
    * extractor for multimodal binary columns (F8 of SURVEY §2.7).
    * First match wins: gzip, png, jpeg, pdf, zip, html (tag prefix,
    * case-insensitive), UTF-8 BOM text, else unknown.
    */
  def sniffType(bin: Column): Column = {
    val head = lower(substring(bin.cast("string"), 1, 15))
    when(hex(substring(bin, 1, 2)) === "1F8B", lit("gzip"))
      .when(hex(substring(bin, 1, 4)) === "89504E47", lit("png"))
      .when(hex(substring(bin, 1, 3)) === "FFD8FF", lit("jpeg"))
      .when(substring(bin.cast("string"), 1, 5) === "%PDF-", lit("pdf"))
      .when(hex(substring(bin, 1, 4)) === "504B0304", lit("zip"))
      .when(head.startsWith("<html") || head.startsWith("<!doctype"),
        lit("html"))
      .when(hex(substring(bin, 1, 3)) === "EFBBBF", lit("text-bom"))
      .otherwise(lit("unknown"))
  }

  /** Document fingerprint = md5 hex (matches DuckDB md5). */
  def fingerprint(text: Column): Column = md5(text)

  /** Word 3-gram shingles (distinct), first-occurrence order (order
    * is immaterial downstream — mins, explodes, and set intersections
    * only). Typed, not a Column: the higher-order `transform` lambda
    * formulation blocks whole-stage codegen AND re-evaluates the
    * tokenizer per element (measured ~3 ms/doc vs ~3 µs typed).
    */
  def shinglesScala(text: String): Seq[String] = {
    val t = Tokenize.tokens(text)
    if (t.length < 3) Seq.empty
    else {
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i + 2 < t.length) {
        seen.add(t(i) + " " + t(i + 1) + " " + t(i + 2))
        i += 1
      }
      val out = new Array[String](seen.size)
      seen.toArray(out)
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }
  }

  /** Distinct word-3-gram shingles, each FNV-1a-64-hashed — the
    * ngram-Jaccard plan keys every shuffle/sort/agg on these longs
    * instead of ~25-char strings and never materializes a shingle
    * array (measured: string-keyed plan 6.8 s at sf0.1, long-keyed
    * ≈ 2×+ faster). Set semantics identical to [[shinglesScala]]
    * modulo 64-bit collisions (birthday bound ≈ n²/2⁶⁵: ~10⁻⁹ at the
    * test corpus's 27 k distinct shingles; a few hundred merged
    * shingle identities at a 10¹¹-shingle corpus — immaterial for
    * near-dup detection).
    */
  def shingleHashes64Scala(text: String): Array[Long] = {
    val t = Tokenize.tokens(text)
    if (t.length < 3) Array.emptyLongArray
    else {
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      val P = 0x100000001b3L
      var i = 0
      while (i + 2 < t.length) {
        var h = 0xcbf29ce484222325L
        var w = 0
        while (w < 3) {
          val s = t(i + w)
          var k = 0
          while (k < s.length) { h = (h ^ s.charAt(k)) * P; k += 1 }
          if (w < 2) h = (h ^ ' ') * P
          w += 1
        }
        seen.add(h)
        i += 1
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) { out(j) = it.next(); j += 1 }
      out
    }
  }

  /** 64-bit simhash over tokens: per-token md5-derived bits, weighted
    * bit-majority (mirrored in the DuckDB oracle bit by bit).
    */
  def simhash64(tokens: Seq[String]): Long = {
    val acc = new Array[Int](64)
    // one digest instance per CALL, reset per token — getInstance
    // inside the loop costs a provider lookup + allocation per token
    // (tens of millions at sf0.1)
    val md = java.security.MessageDigest.getInstance("MD5")
    tokens.foreach { t =>
      md.reset()
      val d = md.digest(t.getBytes("UTF-8"))
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}
