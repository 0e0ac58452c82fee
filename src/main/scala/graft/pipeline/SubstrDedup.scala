package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact duplicated-substring dedup at CHARACTER granularity — the
  * ExactSubstr algorithm of Lee et al. 2022 ("Deduplicating Training Data
  * Makes Language Models Better"): find every substring of length >= L that
  * occurs verbatim more than once anywhere in the corpus, merge the
  * overlapping hits per document into maximal spans, and cut the spans from
  * the text. Complements [[Dedup.dedupParagraphs]] (the paragraph-boundary
  * form): this form catches boilerplate that does not align to paragraph
  * breaks — navigation chrome mid-line, license headers pasted into code,
  * templated sentence stems.
  *
  * Semantics match the published `deduplicate-text-datasets` tool's
  * aggressive default: ALL occurrences of a duplicated L-gram are cut,
  * including the first (a wholly-duplicated document therefore cleans to
  * the empty string). `minCount` raises the duplication bar (default 2);
  * `keepFirst = true` is the content-preserving alternative — each
  * duplicated block's corpus-wide FIRST occurrence (min `(id, p)` per
  * gram) survives, so exactly one canonical copy remains.
  *
  * Spark-first shape (the suffix-array of the reference tool replayed as
  * three bounded shuffles — no suffix array, no driver state):
  *
  *  1. POSITION PASS — one row per character position carrying a 64-bit
  *     rolling polynomial hash of the L-char window starting there (an
  *     Array[Long] built once per doc, then `posexplode`; the document text
  *     is NOT duplicated onto the per-position rows). O(total chars) rows
  *     of 3 longs, the same asymptotic footprint as suffix-array
  *     construction (8 bytes/char), but embarrassingly partition-parallel.
  *  2. CANDIDATE PASS — `groupBy(hash)` count (partial map-side combine;
  *     a degenerate viral window is ONE shuffle key that reduces map-side,
  *     not a skew hazard), keep hashes with count >= minCount, semi-join
  *     positions back. Candidate volume is the true duplicated-position
  *     volume plus a vanishing 64-bit-collision term.
  *  3. VERIFY PASS — join candidates to their documents (shuffle bounded
  *     by candidate docs, not the corpus), extract the actual L-char gram,
  *     re-count on the gram STRING, keep count >= minCount. Hash
  *     collisions cannot survive this pass, so the result is exact — every
  *     true duplicate's positions are all candidates (equal grams hash
  *     equal), so the candidate-local recount equals the global count.
  *  4. SPAN MERGE — per doc, marked positions sort under a window keyed on
  *     the doc id; an island breaks where the gap between consecutive
  *     marked positions exceeds L (spans [p1,p1+L) and [p2,p2+L) overlap
  *     or touch iff p2-p1 <= L); min/max per island gives the maximal
  *     spans. The sessionization pattern — no per-doc collect of raw
  *     positions.
  *  5. CUT — merged spans are disjoint and each >= L chars, so a doc
  *     carries at most len/L of them: a bounded `collect_list` per doc,
  *     one row-local rebuild.
  *
  * 100 TB posture: every stage is a hash shuffle on a high-cardinality key
  * (window hash, then doc id); nothing collects, nothing is O(n²), and the
  * only super-linear term is the inherent O(total chars) position
  * enumeration the exact problem requires. The position-pass exchange is
  * SELF-SIZING: a one-pass `sum(length(text))` measures the corpus and the
  * shuffle-partition count is set to `ceil(chars·24B / 256MB)` (grow-only;
  * `spark.graft.substr.targetPartitionBytes` overrides the target) — the
  * same measured-volume pilot the streaming index build uses, so each
  * reducer slice stays in executor memory instead of sort-spilling, which
  * is what killed the fixed-32-partition plan at n=3M docs.
  */
object SubstrDedup {

  /** Reducer-slice target for the position-pass exchange; override with
    * `spark.graft.substr.targetPartitionBytes`. 256 MB keeps each slice's
    * hash aggregate in executor memory instead of sort-spilling to disk —
    * the r12 n=3M run died on exactly that spill. */
  private val DefaultTargetPartitionBytes = 256L << 20

  /** Bytes per position row in the hash-count exchange: (id, p, __h) = 3
    * longs, measured at ~24 B/char on the wire (SCALE.md). */
  private val BytesPerPosition = 24L

  /** Self-sized shuffle-partition count for the position pass: grow-only
    * (never below the session's `spark.sql.shuffle.partitions`, so small
    * corpora keep their parallelism), `ceil(positions·24B / target)`
    * above it — the SCALE.md formula the operator's 100 TB posture quotes,
    * now applied instead of documented. Capped at 2^18 partitions. */
  private[pipeline] def positionShufflePartitions(
      spark: org.apache.spark.sql.SparkSession, positions: Long): Int = {
    val target = spark.conf.getOption("spark.graft.substr.targetPartitionBytes")
      .map(_.toLong).getOrElse(DefaultTargetPartitionBytes)
    require(target > 0, s"targetPartitionBytes=$target must be > 0")
    val current = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val needed = math.ceil(positions.toDouble * BytesPerPosition / target).toLong
    math.max(current, math.min(needed, 1L << 18)).toInt
  }

  /** Eagerly localCheckpoint `df` with `spark.sql.shuffle.partitions` = n
    * for exactly that job, via an ISOLATED child session (same
    * SparkContext, own SQLConf) — mutating the caller's session conf
    * would race with concurrent queries on the same session and could
    * leak the scoped value past the restore. The child is a CLONE of the
    * caller's session (copied SQLConf), not `newSession()` — a fresh
    * session rebuilds SQLConf from SparkConf defaults, so runtime confs
    * the caller set via `spark.conf.set` (AQE toggles, codegen limits,
    * `spark.sql.files.*`) would silently not apply to the heaviest job in
    * the operator. The heavy position-pass stages all execute inside the
    * checkpoint job under the child conf; the pinned result is re-hosted
    * on the caller's session so every downstream (candidate-bounded)
    * stage plans under the caller's own setting. */
  private def checkpointWithShufflePartitions(
      df: DataFrame, n: Int): DataFrame = {
    val spark = df.sparkSession
    val scoped = org.apache.spark.sql.GraftBridge.cloneSession(spark)
    scoped.conf.set("spark.sql.shuffle.partitions", n.toString)
    val pinned = org.apache.spark.sql.GraftBridge
      .ofRows(scoped, org.apache.spark.sql.GraftBridge.analyzedPlan(df))
      .localCheckpoint() // eager: runs the position pass at n partitions
    org.apache.spark.sql.GraftBridge
      .ofRows(spark, org.apache.spark.sql.GraftBridge.analyzedPlan(pinned))
  }

  /** 64-bit rolling polynomial window hashes (base 1000003, mod 2^64 via
    * native overflow), one per 1-based start position; length < L or null
    * text → empty. Collisions are handled by the verify pass, so the
    * un-reduced modulus costs nothing in exactness.
    *
    * Positions index CODE POINTS, not UTF-16 units — the indexing world of
    * Spark SQL `substr` (the verify extraction), DuckDB `substr` (the
    * oracle), and the cut (which converts back via offsetByCodePoints), so
    * supplementary-plane characters (emoji, rare CJK) cannot shift the
    * verified gram off the hashed window. */
  private[pipeline] def windowHashesUdf(L: Int) = udf { text: String =>
    if (text == null) Array.empty[Long]
    else {
      val cps = codePoints(text)
      if (cps.length < L) Array.empty[Long]
      else {
        val B = 1000003L
        val n = cps.length - L + 1
        val out = new Array[Long](n)
        var h = 0L
        var pw = 1L // B^(L-1)
        var i = 0
        while (i < L) {
          h = h * B + cps(i)
          if (i < L - 1) pw *= B
          i += 1
        }
        out(0) = h
        i = 1
        while (i < n) {
          h = (h - cps(i - 1) * pw) * B + cps(i + L - 1)
          out(i) = h
          i += 1
        }
        out
      }
    }
  }

  private def codePoints(text: String): Array[Int] = {
    val out = new Array[Int](text.codePointCount(0, text.length))
    var i = 0; var j = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      out(j) = cp; j += 1
      i += Character.charCount(cp)
    }
    out
  }

  /** 1-based positions `(id, p)` whose L-char window occurs >= minCount
    * times corpus-wide (exact — hash-candidates verified on the gram
    * string).
    *
    * `keepFirst = true` switches to the content-PRESERVING policy: each
    * duplicated gram's corpus-wide first occurrence — min `(id, p)`, the
    * same winner rule as [[Dedup.dedupParagraphs]] — is NOT marked, so one
    * canonical copy of every duplicated block survives the cut. The winner
    * resolves with a gram-keyed min-struct aggregate (partial map-side, so
    * a viral block is one reducing key, not a skew hazard). Note the
    * policy is per-GRAM: where duplicated runs overlap, a kept document
    * can still lose flanking positions whose own grams first occur
    * elsewhere; for the canonical shared-block case the first document
    * keeps the block verbatim. */
  def markedPositions(df: DataFrame, idCol: String, textCol: String,
                      minLength: Int, minCount: Int = 2,
                      keepFirst: Boolean = false): DataFrame = {
    require(minLength >= 2, s"minLength=$minLength must be >= 2")
    require(minCount >= 2, s"minCount=$minCount must be >= 2")
    val spark = df.sparkSession
    // SELF-SIZING: one cheap agg measures the corpus char volume, and the
    // position-pass exchanges (hash count + semi-join back) are sized so
    // each reducer slice targets ~256 MB — the formula SCALE.md derived
    // from the measured 24 B/char wire cost. Grow-only, so bench-scale
    // corpora keep the session's parallelism.
    val totalChars = df.agg(coalesce(sum(length(col(textCol))), lit(0L)))
      .head().getLong(0)
    val nParts = positionShufflePartitions(spark, totalChars)
    // ONE corpus scan + ONE full-volume exchange (r18 optimization): the
    // hash count rides a window over the __h partitioning instead of the
    // r17 groupBy-then-join-back, which paid the position volume TWICE —
    // a count exchange (window hashes are mostly unique, so map-side
    // partial aggregation reduced ~nothing) plus a second full shuffle of
    // `pos` for the semi-join — and ran the corpus scan + rolling-hash
    // UDF + explode once per consumer (exchange reuse cannot fire: column
    // pruning makes the two subtrees differ). WindowExec sorts each
    // reducer slice by __h; a same-JVM A/B (r18, commit f343cb7) measured
    // the sort strictly cheaper than the extra scan + exchange
    // (0.74 s vs 2.31 s old / 1.05 s shared-repartition variant).
    val pos = df
      .select(col(idCol), posexplode(windowHashesUdf(minLength)(col(textCol)))
        .as(Seq("__i", "__h")))
      .select(col(idCol), (col("__i") + 1).cast("long").as("p"), col("__h"))
      .repartition(nParts, col("__h"))
    val cand = pos
      .withColumn("__c", count(lit(1)).over(Window.partitionBy("__h")))
      .filter(col("__c") >= minCount)
      .select(col(idCol), col("p"))
    // checkpoint the BOUNDED candidate-gram relation: it feeds two (three
    // with keepFirst) consumers below, and without the pin each one would
    // re-execute the corpus-wide position pass + the doc join. The
    // checkpoint is the eager action the scoped shuffle-partition conf
    // binds to — every position-volume exchange executes inside it.
    val withGram = checkpointWithShufflePartitions(
      cand.join(df.select(col(idCol), col(textCol)), Seq(idCol))
        .withColumn("__g",
          col(textCol).substr(col("p").cast("int"), lit(minLength)))
        .select(col(idCol), col("p"), col("__g")),
      nParts)
    verifyMarked(withGram, idCol, minCount, keepFirst)
  }

  /** Shared verification pass over the pinned candidate-gram relation:
    * keep positions whose GRAM STRING occurs >= minCount times (hash
    * candidates verified on content); keepFirst additionally unmarks each
    * gram's corpus-wide first occurrence (min (id, p)). r18 optimization:
    * the verified count (and the keepFirst winner) ride ONE window over a
    * single __g exchange of the bounded candidate set — the r17 shape
    * shuffled the candidates once for the count groupBy, again for the
    * verify join, and (keepFirst) a third time for the winner join.
    * The window's count/min see the same per-gram groups the groupBys
    * did, so the surviving position set is identical. */
  private def verifyMarked(withGram: DataFrame, idCol: String,
                           minCount: Int, keepFirst: Boolean): DataFrame = {
    val w = Window.partitionBy("__g")
    val counted = withGram
      .withColumn("__c", count(lit(1)).over(w))
    if (!keepFirst) counted.filter(col("__c") >= minCount)
      .select(col(idCol), col("p"))
    else counted
      .withColumn("__w",
        min(struct(col(idCol).as("wid"), col("p").as("wp"))).over(w))
      .filter(col("__c") >= minCount &&
        !(col(idCol) === col("__w.wid") && col("p") === col("__w.wp")))
      .select(col(idCol), col("p"))
  }

  /** Maximal duplicated spans per document: `(id, span_start, span_end)`,
    * 1-based inclusive char positions, disjoint, each >= minLength chars.
    * Documents with no duplicated window emit no rows. */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
               minLength: Int, minCount: Int = 2,
               keepFirst: Boolean = false): DataFrame = {
    val marked = markedPositions(df, idCol, textCol, minLength, minCount,
      keepFirst)
    mergeIslands(marked, idCol, minLength)
  }

  /** The sessionize-pattern interval merge shared by both granularities:
    * marked starts `(id, p)` with window length L → maximal disjoint spans
    * `(id, span_start, span_end)` (1-based inclusive; islands break where
    * the gap between consecutive starts exceeds L). */
  private def mergeIslands(marked: DataFrame, idCol: String,
                           L: Int): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy("p")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked
      .withColumn("__prev", lag("p", 1).over(w))
      .withColumn("__brk",
        when(col("__prev").isNull || col("p") - col("__prev") > L, 1)
          .otherwise(0))
      .withColumn("__island", sum("__brk").over(run))
      .groupBy(col(idCol), col("__island"))
      .agg(min("p").as("span_start"),
        (max("p") + L - 1).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  /** Filtered token array (split on `\s+`, empties dropped) — the shared
    * tokenization of the token-granularity forms; positions are 1-based
    * indices into THIS array on both engines. */
  private def tokensCol(textCol: String) =
    filter(split(col(textCol), "\\s+"), t => length(t) > 0)

  /** Rolling window hashes over the TOKEN sequence: each token hashes via
    * String.hashCode (JVM-spec-pinned, deterministic), then the same
    * polynomial window as the char form. One Array[Long] per doc. */
  private[pipeline] def tokenWindowHashesUdf(L: Int) = udf { toks: Seq[String] =>
    if (toks == null || toks.length < L) Array.empty[Long]
    else {
      val B = 1000003L
      val h0 = toks.map(_.hashCode.toLong).toArray
      val n = h0.length - L + 1
      val out = new Array[Long](n)
      var h = 0L
      var pw = 1L
      var i = 0
      while (i < L) {
        h = h * B + h0(i)
        if (i < L - 1) pw *= B
        i += 1
      }
      out(0) = h
      i = 1
      while (i < n) {
        h = (h - h0(i - 1) * pw) * B + h0(i + L - 1)
        out(i) = h
        i += 1
      }
      out
    }
  }

  /** TOKEN-granularity marked positions `(id, p)` — p is a 1-based index
    * into the whitespace-token sequence whose L-token window occurs >=
    * minCount times corpus-wide (verified on the joined token string, so
    * exact). Same stages and policies as the char form. */
  def markedTokenPositions(df: DataFrame, idCol: String, textCol: String,
                           minTokens: Int, minCount: Int = 2,
                           keepFirst: Boolean = false): DataFrame = {
    require(minTokens >= 2, s"minTokens=$minTokens must be >= 2")
    require(minCount >= 2, s"minCount=$minCount must be >= 2")
    val spark = df.sparkSession
    // Self-size from the measured TOKEN count (position rows are per
    // token here, not per char) — same formula as the char form.
    val totalTokens = df
      .agg(coalesce(sum(size(tokensCol(textCol))), lit(0L))).head().getLong(0)
    val nParts = positionShufflePartitions(spark, totalTokens)
    // same one-scan one-exchange windowed-count shape as the char form
    val pos = df
      .select(col(idCol),
        posexplode(tokenWindowHashesUdf(minTokens)(tokensCol(textCol)))
          .as(Seq("__i", "__h")))
      .select(col(idCol), (col("__i") + 1).cast("long").as("p"), col("__h"))
      .repartition(nParts, col("__h"))
    val cand = pos
      .withColumn("__c", count(lit(1)).over(Window.partitionBy("__h")))
      .filter(col("__c") >= minCount)
      .select(col(idCol), col("p"))
    val gramUdf = udf { (toks: Seq[String], p: Long) =>
      toks.slice(p.toInt - 1, p.toInt - 1 + minTokens).mkString(" ")
    }
    // bounded candidate set; one windowed verify pass (see verifyMarked)
    val withGram = checkpointWithShufflePartitions(
      cand
        .join(df.select(col(idCol), tokensCol(textCol).as("__toks")), Seq(idCol))
        .withColumn("__g", gramUdf(col("__toks"), col("p")))
        .select(col(idCol), col("p"), col("__g")),
      nParts)
    verifyMarked(withGram, idCol, minCount, keepFirst)
  }

  /** Maximal duplicated TOKEN spans per document: `(id, span_start,
    * span_end)` — 1-based inclusive token indices, disjoint, each >=
    * minTokens long. */
  def dupTokenSpans(df: DataFrame, idCol: String, textCol: String,
                    minTokens: Int, minCount: Int = 2,
                    keepFirst: Boolean = false): DataFrame = {
    val marked = markedTokenPositions(df, idCol, textCol, minTokens, minCount,
      keepFirst)
    mergeIslands(marked, idCol, minTokens)
  }

  /** ExactSubstr at TOKEN granularity — the unit the published tool
    * actually dedups on (50-token windows). Returns one row per input doc:
    * `(id, text_clean, n_spans, n_tokens_cut)`. Affected documents are
    * REASSEMBLED from their surviving tokens joined with single spaces
    * (original inter-token whitespace is not preserved — the price of
    * token-space semantics; the char form preserves it exactly);
    * unaffected documents pass their text through verbatim. */
  def dedupTokenSubstrings(df: DataFrame, idCol: String, textCol: String,
                           minTokens: Int, minCount: Int = 2,
                           keepFirst: Boolean = false): DataFrame = {
    val spans = dupTokenSpans(df, idCol, textCol, minTokens, minCount,
      keepFirst)
    val perDoc = spans.groupBy(col(idCol)).agg(
      array_sort(collect_list(struct(col("span_start"), col("span_end"))))
        .as("__spans"),
      count(lit(1)).cast("long").as("__n_spans"),
      sum(col("span_end") - col("span_start") + 1).cast("long")
        .as("__n_cut"))
    val cut = udf { (toks: Seq[String], spans: Seq[Row]) =>
      val out = new scala.collection.mutable.ArrayBuffer[String](toks.length)
      var at = 0 // 0-based next token to copy
      spans.foreach { r =>
        val s = r.getLong(0).toInt - 1
        val e = r.getLong(1).toInt // one-past-end
        var i = at
        while (i < s) { out += toks(i); i += 1 }
        at = math.max(at, e)
      }
      var i = at
      while (i < toks.length) { out += toks(i); i += 1 }
      out.mkString(" ")
    }
    df.join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__spans").isNull, col(textCol))
          .otherwise(cut(tokensCol(textCol), col("__spans"))).as("text_clean"),
        coalesce(col("__n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("__n_cut"), lit(0L)).as("n_tokens_cut"))
  }

  /** Cut every duplicated span from every document. Returns one row per
    * input doc: `(id, text_clean, n_spans, n_chars_cut)` — unaffected docs
    * pass their text through verbatim with zero counts; a wholly-duplicated
    * doc cleans to the empty string. */
  def dedupSubstrings(df: DataFrame, idCol: String, textCol: String,
                      minLength: Int, minCount: Int = 2,
                      keepFirst: Boolean = false): DataFrame = {
    val spans = dupSpans(df, idCol, textCol, minLength, minCount, keepFirst)
    val perDoc = spans.groupBy(col(idCol)).agg(
      array_sort(collect_list(struct(col("span_start"), col("span_end"))))
        .as("__spans"),
      count(lit(1)).cast("long").as("__n_spans"),
      sum(col("span_end") - col("span_start") + 1).cast("long")
        .as("__n_cut"))
    val cut = udf { (text: String, spans: Seq[Row]) =>
      if (text == null) null
      else {
        val sb = new java.lang.StringBuilder(text.length)
        var at = 0 // 0-based next UTF-16 offset to copy
        var atCp = 0 // its codepoint index
        def utf16At(cpIdx: Int): Int = { // advance from (at, atCp), never back
          val off = text.offsetByCodePoints(at, cpIdx - atCp)
          off
        }
        spans.foreach { r =>
          val sCp = r.getLong(0).toInt - 1 // 0-based codepoint span start
          val eCp = r.getLong(1).toInt // 0-based one-past-end (codepoints)
          val s = utf16At(sCp)
          if (s > at) sb.append(text, at, s)
          at = text.offsetByCodePoints(s, eCp - sCp)
          atCp = eCp
        }
        if (at < text.length) sb.append(text, at, text.length)
        sb.toString
      }
    }
    df.join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__spans").isNull, col(textCol))
          .otherwise(cut(col(textCol), col("__spans"))).as("text_clean"),
        coalesce(col("__n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("__n_cut"), lit(0L)).as("n_chars_cut"))
  }
}
