package graft.ops

import java.util.regex.{Matcher, Pattern}

import scala.collection.mutable

import graft.expr.KernelExpressions.{fnv1a64, ilog2q20}
import graft.kernel.{Hashing, TextQuality}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language-ID,
  * quality scoring, token counting, fingerprinting. Column-expression
  * variants where the math is SQL-portable; kernel variants (Dataset map
  * over the pure-Scala kernel) where full reference semantics are needed. */
object TextOps {

  /** Occurrences of whole word `word` in single-space-separated `text` —
    * built only from length/replace, so it is portable to any SQL engine
    * (used by the DuckDB oracle cross-checks). Doubling inner spaces first
    * gives every token its own space padding, so adjacent occurrences
    * (" a a ") count correctly without overlap handling. */
  def wordOccurrences(text: Column, word: String): Column = {
    val padded = concat(lit(" "), replace(text, lit(" "), lit("  ")), lit(" "))
    val needle = s" $word "
    ((length(padded) - length(replace(padded, lit(needle), lit("")))) /
      needle.length).cast("long")
  }

  /** Whitespace token count (single-space-separated text). */
  def tokenCount(text: Column): Column =
    when(length(text) === 0, 0).otherwise(size(split(text, " "))).cast("long")

  /** BPE-ish token estimate: word tokens + punctuation tokens via regex. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]"), lit(0)))
      .cast("long")

  /** Stopword-marker language ID — a DEMONSTRATION heuristic, not a
    * langdetect/fastText replacement: it covers exactly the languages in
    * its marker table and mislabels anything else as the nearest covered
    * language (or "und"). Its value here is that it is SQL-portable and
    * deterministic, so the DuckDB oracle can re-derive every guess; plug a
    * real identifier in via the marker-table overload (more languages) or
    * a kernel function (real models) when accuracy matters.
    *
    * Marker hit counts are whole-word occurrences; the argmax (ties → the
    * earlier language in marker-table order) is the guess, "und" =
    * undetermined when no marker hits. */
  def langIdGuess(text: Column): Column = langIdGuess(text, defaultLangMarkers)

  /** The (en, de, fr) stopword table the no-arg `langIdGuess` uses. */
  val defaultLangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "und", "die", "ist"),
    "fr" -> Seq("le", "et", "les", "est"))

  /** Marker-table constructor: language ID over caller-supplied
    * (langCode → whole-word markers) entries, so languages extend without
    * editing the operator. Earlier entries win ties; the expression stays
    * row-local and codegen'd (one replace/length chain per marker word —
    * keep tables to a handful of high-frequency markers per language). */
  def langIdGuess(text: Column, markers: Seq[(String, Seq[String])]): Column = {
    require(markers.nonEmpty, "marker table must not be empty")
    val counts = markers.map { case (lang, words) =>
      lang -> words.map(wordOccurrences(text, _)).reduce(_ + _)
    }
    val anyHit = counts.map(_._2) match {
      case Seq(only) => only
      case cs => greatest(cs: _*)
    }
    // argmax with first-entry tie-break: entry i wins iff its count >=
    // every LATER entry's count (earlier entries already had their chance)
    val guess = counts.zipWithIndex.init.foldRight(lit(counts.last._1)) {
      case (((lang, c), i), rest) =>
        val laterCounts = counts.drop(i + 1).map(_._2)
        when(laterCounts.map(c >= _).reduce(_ && _), lang).otherwise(rest)
    }
    when(anyHit === 0, "und").otherwise(guess)
  }

  /** SQL-portable quality proxy: stopword density + length band + numeric
    * ratio, additive and capped like the reference's F5 shape. */
  def qualityProxy(text: Column): Column = {
    val words = tokenCount(text)
    val stop = Seq("the", "and", "of", "is", "a", "to")
      .map(wordOccurrences(text, _)).reduce(_ + _)
    val stopRatio = when(words === 0, 0.0).otherwise(stop.cast("double") / words)
    val lenScore = when(length(text) >= 200 && length(text) <= 5000, 0.3).otherwise(0.0)
    val digits = length(text) - length(regexp_replace(text, "[0-9]", ""))
    val digitRatio = when(length(text) === 0, 0.0)
      .otherwise(digits.cast("double") / length(text))
    val digitScore = when(digitRatio < 0.3, 0.2).otherwise(0.0)
    least(least(stopRatio, lit(0.5)) + lenScore + digitScore, lit(1.0))
  }

  /** Corpus vocabulary: the k most frequent whitespace tokens with doc
    * frequencies — the heavy-hitters substrate of tokenizer/vocab training.
    * Shuffle story: explode is row-local; the groupBy aggregates with
    * map-side combine (distinct tokens per partition, not token
    * occurrences, cross the wire); the final top-k is a TakeOrdered over
    * the aggregated (≈ vocabulary-sized) table, not the corpus.
    * Deterministic ties: count DESC, then token ASC. */
  def topVocabulary(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("occurrences"))
      .orderBy(col("occurrences").desc, col("token").asc)
      .limit(k)

  /** BPE merge training over the corpus vocabulary — the first `steps`
    * byte-pair-encoding merges (Sennrich et al. 2016, the standard
    * tokenizer-training loop), returned as (step, left_sym, right_sym,
    * pair_count).
    *
    * The corpus is touched ONCE (a map-side-combining token count); what
    * reaches the driver is the VOCABULARY — distinct tokens, never corpus
    * rows — and every merge iteration runs on it in driver memory, so a
    * 32k-merge tokenizer costs one Spark job cycle, not 32k. Pair counts
    * are maintained incrementally: only pairs touching the merged symbol
    * change between steps (SCALE.md §BPE).
    *
    * Determinism: pair counts are exact integers; the argmax tie-breaks
    * (count DESC, left ASC, right ASC) compare strings in UTF-8 binary
    * order (Spark's StringType ordering, which Java's UTF-16 `compareTo`
    * does NOT match for supplementary characters); symbols are code
    * points, as Spark's `split(token, "")`; each merge is the EXACT
    * greedy left-to-right scan ([[mergeSymbols]]). DuckDB reproduces the
    * scan with `list_reduce`, so the whole trace is oracle-checkable
    * (q56 unrolls the iterations in SQL). Tokens carrying the U+0001
    * separator of the apply side ([[bpeSymbolCount]]) are excluded.
    *
    * Driver-memory bound: the vocabulary collect is bounded by DISTINCT
    * tokens — a few million rows on clean corpora, but 100 TB of raw web
    * text (URL fragments, hex hashes, numbers) pushes distinct
    * whitespace tokens into the billions, so the collect needs a floor.
    * `minCount` drops tokens occurring fewer than that many times BEFORE
    * the collect (applied on the map-side-combined aggregate, so the
    * floor also bounds what leaves the executors); `maxVocab` > 0
    * additionally keeps only the top-N tokens by (count DESC, token ASC
    * — deterministic ties). TRUNCATION SEMANTICS, stated: with the
    * defaults (minCount=1, maxVocab=0) the trace is the exact one over
    * the whole vocabulary; with a floor, pair counts lose the
    * contributions of sub-floor tokens, so a merge whose support lives
    * mostly in the dropped tail can rank differently — the standard
    * trade of every production BPE trainer (a pair seen only inside
    * below-minCount tokens has bounded support and cannot beat
    * repeated-support pairs at realistic merge counts). Above the floor
    * the incremental pair counts and tie-breaks are unchanged. */
  def bpeMerges(df: DataFrame, textCol: String, steps: Int,
      minCount: Long = 1L, maxVocab: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val sep = "\u0001"
    val counted = df
      .select(explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "" && !col("token").contains(sep))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    val bounded =
      if (maxVocab > 0)
        counted.orderBy(col("cnt").desc, col("token").asc).limit(maxVocab)
      else counted
    val vocab: Array[(Long, Array[String])] = bounded
      .collect()
      .map(r => (r.getLong(1), splitCodePoints(r.getString(0))))

    // pair counts maintained INCREMENTALLY: a full recount per step is
    // O(total symbols); after a merge only tokens containing (l, r)
    // change, so their old pair contributions are subtracted and the
    // merged form's re-added. The INVERTED INDEX (pair → token indices
    // containing it) is what makes each step genuinely sub-linear:
    // without it, finding the affected tokens is itself a full-vocab
    // scan per merge — 32k merges over a few-million-token vocabulary is
    // ~1e11 wasted comparisons on the driver, dominating runtime.
    val counts = mutable.HashMap[(String, String), Long]()
    val index = mutable.HashMap[(String, String), mutable.LinkedHashSet[Int]]()
    def addPairs(cnt: Long, ss: Array[String], signum: Long): Unit = {
      var i = 0
      while (i + 1 < ss.length) {
        val k = (ss(i), ss(i + 1))
        val v = counts.getOrElse(k, 0L) + signum * cnt
        if (v == 0L) counts.remove(k) else counts.update(k, v)
        i += 1
      }
    }
    def indexAdd(t: Int, ss: Array[String]): Unit = {
      var i = 0
      while (i + 1 < ss.length) {
        index.getOrElseUpdate((ss(i), ss(i + 1)),
          mutable.LinkedHashSet.empty) += t
        i += 1
      }
    }
    def indexRemove(t: Int, ss: Array[String]): Unit = {
      var i = 0
      while (i + 1 < ss.length) {
        val k = (ss(i), ss(i + 1))
        index.get(k).foreach { s =>
          s -= t
          if (s.isEmpty) index.remove(k)
        }
        i += 1
      }
    }
    val syms = mutable.ArrayBuffer.from(vocab)
    var t0 = 0
    while (t0 < syms.length) {
      val (cnt, ss) = syms(t0)
      addPairs(cnt, ss, 1L)
      indexAdd(t0, ss)
      t0 += 1
    }

    val merges = mutable.ArrayBuffer[(Int, String, String, Long)]()
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      if (counts.isEmpty) exhausted = true
      else {
        // argmax with Spark's (freq DESC, l ASC, r ASC) ties in UTF-8 order
        var best: ((String, String), Long) = null
        counts.foreach { kv =>
          if (best == null || kv._2 > best._2 ||
            (kv._2 == best._2 && {
              val c = utf8Compare(kv._1._1, best._1._1)
              c < 0 || (c == 0 && utf8Compare(kv._1._2, best._1._2) < 0)
            })) best = kv
        }
        val ((l, r), f) = best
        merges += ((step, l, r, f))
        // the inverted index hands us exactly the affected tokens (its
        // invariant: t ∈ index(k) ⇔ syms(t) contains adjacent pair k);
        // snapshot + sort before mutating for deterministic update order
        val affected = index.get((l, r)).map(_.toArray.sorted)
          .getOrElse(Array.empty[Int])
        var a = 0
        while (a < affected.length) {
          val t = affected(a)
          val (cnt, ss) = syms(t)
          addPairs(cnt, ss, -1L)
          indexRemove(t, ss)
          val merged = mergeSymbols(ss, l, r)
          addPairs(cnt, merged, 1L)
          indexAdd(t, merged)
          syms(t) = (cnt, merged)
          a += 1
        }
        step += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("step", "left_sym", "right_sym", "pair_count")
  }

  /** Spark's `split(s, "")`: code-point steps (a surrogate pair stays one
    * symbol), one string per code point. */
  private[ops] def splitCodePoints(s: String): Array[String] = {
    val out = mutable.ArrayBuffer[String]()
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.toArray
  }

  /** UTF-8 binary string order — Spark StringType's sort order (Java's
    * UTF-16 `compareTo` disagrees for supplementary vs U+E000–U+FFFF). */
  private[ops] def utf8Compare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** One greedy left-to-right BPE merge pass over a symbol array — the
    * standard (Sennrich) scan: when the previous retained symbol is `l`
    * and the current is `r`, fuse them; the fused symbol participates in
    * the NEXT comparison ([a,a,a,a] under (a,a) → [aa,aa]). */
  private[ops] def mergeSymbols(
      ss: Array[String], l: String, r: String): Array[String] = {
    val out = mutable.ArrayBuffer[String]()
    ss.foreach { x =>
      if (out.nonEmpty && out.last == l && x == r)
        out(out.length - 1) = out.last + x
      else out += x
    }
    out.toArray
  }

  /** Apply-side of BPE: the number of symbols `text` tokenizes into under
    * the given ordered merge list. Entirely row-local and over the whole
    * text: a U+0001 goes before every non-space code point, each merge is
    * one anchored replace ([[mergeReplace]], which also stops at a space,
    * so merges never cross token boundaries), and the count is the number
    * of U+0001 left. The merge application is `bpeMerges`' exact greedy
    * scan ([[mergeSymbols]]), so the count is reproducible by the DuckDB
    * oracle (q57) applying the same fold chain. */
  def bpeSymbolCount(text: Column, merges: Seq[(String, String)]): Column = {
    val sep = "\u0001"
    // tokens carrying the U+0001 separator cannot be segmented this way
    // (training excluded them too): they keep their unmerged char count
    val sepToken = s"[^ ]*$sep[^ ]*"
    val sepChars = length(array_join(
      regexp_extract_all(text, lit(s"($sepToken)"), lit(1)), ""))
    val marked = regexp_replace(regexp_replace(text, lit(sepToken), lit("")),
      lit("([^ ])"), lit(sep + "$1"))
    val merged = merges.foldLeft(marked) { case (t, (l, r)) =>
      mergeReplace(t, l, r, s"[$sep ]")
    }
    (sepChars + length(merged) - length(replace(merged, lit(sep), lit(""))))
      .cast("long")
  }

  /** Replace every leftmost non-overlapping `sep l sep r` whose `r` ends a
    * symbol (`end` follows, or the string ends) by `sep lr` — the greedy
    * merge scan over U+0001-prefixed symbols. The separator before `l`
    * anchors a symbol START, so a rule (o,w) never matches the suffix of
    * a symbol like "lo"; `\z`, not `$`, because `$` also matches before a
    * final `\n` and a symbol can be `\n`. */
  private def mergeReplace(joined: Column, l: String, r: String, end: String): Column = {
    val sep = "\u0001"
    regexp_replace(joined,
      lit(sep + Pattern.quote(l) + sep + Pattern.quote(r) + s"(?=$end|\\z)"),
      lit(Matcher.quoteReplacement(sep + l + r)))
  }

  /** Gopher-style quality signals (Rae et al. 2021 §A1.1 subset that is
    * exactly SQL-portable on a single-space corpus): word count, mean
    * word length (ONE division of exact integers — bit-identical across
    * engines), alphabetic-word share and symbol share in ppm (integer
    * arithmetic), stopword hits. Entirely row-local — one codegen'd
    * projection, no shuffle. Line-level signals (bullet/ellipsis lines)
    * need a multi-line corpus and live with `dropDuplicatedLines`. */
  def gopherQualitySignals(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol) +: gopherSignalCols(col(textCol)): _*)

  /** The five Gopher signal columns over `text` (named word_count,
    * mean_word_len, alpha_word_ppm, symbol_ppm, stop_hits) — exposed so
    * the CurateJob funnel can fold them into its single row-local
    * projection pass instead of a second scan. */
  def gopherSignalCols(text: Column): Seq[Column] = {
    val words = array_remove(split(text, " "), "")
    val wc = size(words).cast("long")
    // the split has already decoded malformed UTF-8, so the joined length
    // is the sum of the word lengths
    val sumLen = length(array_join(words, "")).cast("long")
    // words holding an ASCII letter = the non-empty words left once every
    // character but space and letters is gone
    val alphaWords = size(array_remove(
      split(regexp_replace(text, "[^ A-Za-z]", ""), " "), "")).cast("long")
    val ellipses = ((length(text) -
      length(replace(text, lit("..."), lit("")))) / 3).cast("long")
    val hashes = (length(text) -
      length(replace(text, lit("#"), lit("")))).cast("long")
    val stops = Seq("the", "and", "of", "is")
      .map(wordOccurrences(text, _)).reduce(_ + _)
    Seq(
      wc.as("word_count"),
      when(wc === 0, 0.0)
        .otherwise(sumLen.cast("double") / wc).as("mean_word_len"),
      when(wc === 0, 0L)
        .otherwise(alphaWords * 1000000L / wc).as("alpha_word_ppm"),
      when(wc === 0, 0L)
        .otherwise((ellipses + hashes) * 1000000L / wc).as("symbol_ppm"),
      stops.as("stop_hits"))
  }

  /** C4-style line-level corpus dedup (Raffel et al. 2020 §2.2 / Lee et
    * al. 2022): drop every line that occurs in at least `minDocs`
    * DISTINCT documents (boilerplate headers/footers/nav), reassemble the
    * survivors per document in original order.
    *
    * Shuffle story at 100 TB: line explode is row-local, and every
    * corpus-scale shuffle is KEYED ON `xxhash64(line)` — a long — never
    * on the raw line string (the exploded-lines side approaches corpus
    * text volume, so string keys would double the wide shuffles' byte
    * cost; the `incrementalDedupVerdicts` pattern). Exactness is kept in
    * two phases: (1) a hash-keyed countDistinct picks candidate hashes
    * crossing the threshold (map-side combine; duplicate lines collapse
    * per partition — boilerplate by definition collapses massively); (2)
    * only the tiny candidate subset re-aggregates on the actual string,
    * so a 64-bit collision can neither ban an innocent line nor inflate a
    * count. Membership is then a hash-keyed equi-join with a
    * string-equality residual in the join condition (the ban list is
    * usually broadcastable: it holds only lines crossing the threshold);
    * reassembly is one doc-keyed aggregate. Nothing quadratic, no driver
    * state. */
  def dropDuplicatedLines(
      df: DataFrame, idCol: String, textCol: String, minDocs: Int): DataFrame = {
    // null text (failed extractions) must not DROP the document from the
    // output — it becomes one empty line, preserving row identity
    val lines = df.select(col(idCol),
      posexplode(split(coalesce(col(textCol), lit("")), "\n"))
        .as(Seq("idx", "line")))
      .withColumn("line_h", xxhash64(col("line")))
    val hotHashes = lines.groupBy(col("line_h"))
      .agg(countDistinct(col(idCol)).as("hdocs"))
      .filter(col("hdocs") >= minDocs)
      .select(col("line_h"))
    // exact re-count on the string over the candidate subset only, then
    // ONE ban row per hash (the banned strings as a set) — so the
    // membership join's key is the bare long and a hash collision can
    // neither duplicate a joined row nor ban an innocent line (the
    // residual check is array_contains AFTER the join, kept out of the
    // join condition on purpose: an attr-equality residual would be
    // extracted into the shuffle key, putting the string back on the wire)
    val banned = lines.join(hotHashes, Seq("line_h"))
      .groupBy(col("line_h"), col("line"))
      .agg(countDistinct(col(idCol)).as("docs"))
      .filter(col("docs") >= minDocs)
      .groupBy(col("line_h"))
      .agg(collect_set(col("line")).as("banned_lines"))
    lines.join(banned, Seq("line_h"), "left")
      .withColumn("banned",
        when(array_contains(col("banned_lines"), col("line")), lit(true)))
      .groupBy(col(idCol))
      .agg(
        array_join(sort_array(collect_list(when(col("banned").isNull,
          struct(col("idx"), col("line"))))).getField("line"), "\n")
          .as("clean_text"),
        count(when(col("banned").isNull, 1)).as("kept_lines"),
        count(when(col("banned") === true, 1)).as("dropped_lines"))
  }

  /** PII scrubbing for training corpora: mask emails, IPv4 addresses and
    * international-format phone numbers with typed placeholder tokens.
    * A chain of codegen'd `regexp_replace` (row-local, no UDF); the
    * patterns avoid lookaround so they are portable to RE2-based engines
    * (the DuckDB oracle runs the same regexes with the 'g' flag). Order
    * matters: emails first (an email's host part must not be half-eaten
    * by another rule), then IPs, then phones. */
  def scrubPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\+\\d{7,15}\\b", "<PHONE>")
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1, public paper):
    * per-document word-bigram statistics that flag boilerplate / template
    * spam — the fraction of bigram occurrences taken by the single most
    * frequent bigram, and how many bigrams occur exactly once. Entirely
    * row-local (no shuffle): bigrams are [[sortedBigrams]], and the counts
    * come from ONE run-length `aggregate` pass over them — O(n log n)
    * per document instead of an explode + per-doc groupBy shuffle, which
    * is the right shape when the signal is consumed as a per-row filter
    * at corpus scale. Ties for the top bigram go to the lexicographically
    * smallest (the sorted fold closes runs in order with a strict `>`).
    *
    * `top_ppm` = floor(top_count * 1e6 / n_bigrams) — an exact integer in
    * both engines, so the DuckDB oracle matches bit-for-bit. */
  def repetitionSignals(df: DataFrame, textCol: String,
      repetitiveTopPpm: Long = 60000L): DataFrame = {
    val n = size(split(col(textCol), " "))
    val sorted = sortedBigrams(col(textCol))
    // run-length fold state: current run (prev, run) + best-so-far
    // (best, bestg) + count of runs of length exactly 1 (singles).
    val zero = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("best"), lit("").as("bestg"), lit(0L).as("singles"))
    def closed(acc: Column, field: String): Column = {
      val better = acc.getField("run") > acc.getField("best")
      if (field == "best")
        when(better, acc.getField("run")).otherwise(acc.getField("best"))
      else when(better, acc.getField("prev")).otherwise(acc.getField("bestg"))
    }
    def singlesAfter(acc: Column): Column =
      acc.getField("singles") +
        when(acc.getField("run") === 1L, 1L).otherwise(0L)
    val folded = aggregate(sorted, zero,
      (acc, x) =>
        when(x === acc.getField("prev"), struct(
          acc.getField("prev").as("prev"),
          (acc.getField("run") + 1L).as("run"),
          acc.getField("best").as("best"),
          acc.getField("bestg").as("bestg"),
          acc.getField("singles").as("singles")))
        .otherwise(struct(
          x.as("prev"), lit(1L).as("run"),
          closed(acc, "best").as("best"),
          closed(acc, "bestg").as("bestg"),
          singlesAfter(acc).as("singles"))),
      acc => struct(
        closed(acc, "best").as("top_count"),
        closed(acc, "bestg").as("top_bigram"),
        singlesAfter(acc).as("single_bigrams")))
    df.withColumn("n_words", n.cast("long"))
      .withColumn("n_bigrams", greatest(n - 1, lit(0)).cast("long"))
      .withColumn("rep", folded)
      .withColumn("top_count", col("rep.top_count"))
      .withColumn("top_bigram", col("rep.top_bigram"))
      .withColumn("single_bigrams", col("rep.single_bigrams"))
      .drop("rep")
      .withColumn("top_ppm", when(col("n_bigrams") === 0L, 0L)
        .otherwise(expr("top_count * 1000000 DIV n_bigrams")))
      .withColumn("repetitive", col("top_ppm") > repetitiveTopPpm)
  }

  /** Every adjacent pair of `split(text, " ")`, empty tokens included,
    * joined by one space and sorted. The positive lookbehind anchors each
    * match at a token start; the negative `(?<![^ ])` would also match
    * between the halves of a surrogate pair, because after an empty match
    * Java steps on by one UTF-16 unit. `sort_array` is safe: no element
    * is null. */
  private[ops] def sortedBigrams(text: Column): Column =
    sort_array(regexp_extract_all(text, lit("(?:^|(?<= ))(?=([^ ]* [^ ]*))"), lit(1)))

  /** Full reference-semantics quality metrics via the kernel (Dataset map —
    * used when byte-identical F1–F7 values are required on a text column). */
  def kernelQuality(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val m = TextQuality.analyze(if (text == null) "" else text)
        (id, m.charCount, m.wordCount, m.avgWordLength, m.ocrQualityScore,
          m.textDensity, m.formattingConsistency, m.english, m.numeric,
          m.specialChars)
      }
      .toDF("id", "char_count", "word_count", "avg_word_length",
        "ocr_quality_score", "text_density", "formatting_consistency",
        "english", "numeric", "special_chars")
  }

  /** Train an integer token-polarity table for quality classification —
    * the CCNet/LLaMA-style "linear classifier over a labeled seed corpus"
    * curation stage (Wenzek et al. 2020 train fastText on Wikipedia vs
    * random crawl; this is the same shape with hashed-feature training
    * replaced by exact per-token polarity, which keeps every value
    * oracle-checkable).
    *
    * For each token: weight_ppm = (pos·10⁶ + prior_ppm) div (pos+neg+1)
    * − prior_ppm, where pos/neg are its occurrence counts in positive/
    * negative labeled docs and prior_ppm = Σpos·10⁶ div (Σpos+Σneg) is
    * the corpus-level positive-occurrence rate. The smoothing term is one
    * pseudo-occurrence AT THE PRIOR RATE, so a token whose rate equals
    * the prior weighs exactly 0 regardless of class balance — centering
    * on 500000 instead would hand every class-neutral token the prior's
    * bias and let it swamp the discriminative signal (observed: a 44%-
    * positive corpus scored every document negative). All divisions have
    * non-negative operands, so Spark's truncating DIV equals DuckDB's
    * flooring // — bit-identical cross-engine. Tokens with fewer than
    * `minCount` total occurrences are pruned (noise + bounds the weight
    * table).
    *
    * Shuffle story at 100 TB: explode is row-local; ONE token-keyed
    * corpus aggregate with map-side combine (distinct (token,
    * partial-counts) per partition cross the wire); the prior is a scalar
    * re-aggregate of the vocabulary-sized count table (not a second
    * corpus pass) joined back as a broadcast single row (the q07 shape);
    * the output is vocabulary-sized — heavy-hitter pruned, independent of
    * corpus row count — so the scorer can broadcast it like a trained
    * quantizer. */
  def trainQualityWeights(df: DataFrame, textCol: String, labelCol: String,
      minCount: Long = 2L): DataFrame = {
    // materialized once (round 7): the prior (scalar re-aggregate) and the
    // final weight projection both consume this vocabulary table — without
    // the checkpoint each re-ran the corpus token explode + count. The
    // table is the trained model's vocabulary (aggregate-sized, not
    // corpus-sized); production would persist it anyway.
    val counts = df
      .select(col(labelCol).cast("boolean").as("y"),
        explode(split(coalesce(col(textCol), lit("")), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(
        sum(when(col("y"), 1L).otherwise(0L)).as("pos"),
        sum(when(col("y"), 0L).otherwise(1L)).as("neg"))
      .localCheckpoint(eager = false)
    // x·10⁶ div d is computed by base-1000 long division (two ·1000
    // steps, carrying remainders) instead of the literal multiply: a
    // naive pos * 1000000 silently wraps Long past ~9.2e12 occurrences —
    // INSIDE the 100 TB design point (~1e13 token occurrences) — and
    // only at scales where the DuckDB oracle (exact HUGEINT) never runs
    // to catch it. The expansion is mathematically identical for
    // non-negative operands (floor(x·10⁶/d) = q1·10³ + q2 with
    // q1 = x·10³ div d, q2 = (x·10³ mod d)·10³ div d, remainder
    // (x·10³ mod d)·10³ mod d), so the oracle SQL is unchanged; every
    // intermediate stays ≤ d·10³, exact up to ~9.2e15 total occurrences.
    val prior = counts
      .agg(sum(col("pos")).as("p"),
        greatest(sum(col("pos")) + sum(col("neg")), lit(1L)).as("t"))
      .select(
        (expr("(p * 1000 DIV t) * 1000") +
          expr("((p * 1000 % t) * 1000) DIV t")).as("prior_ppm"))
    counts
      .filter(col("pos") + col("neg") >= minCount)
      .crossJoin(broadcast(prior))
      .withColumn("d", col("pos") + col("neg") + lit(1L))
      .select(col("token"),
        // (pos·10⁶ + prior_ppm) div d = pos·10⁶ div d
        //   + (pos·10⁶ mod d + prior_ppm) div d   [prior_ppm < 10⁶ ≤ no-ovf]
        (expr("(pos * 1000 DIV d) * 1000") +
          expr("((pos * 1000 % d) * 1000) DIV d") +
          expr("(((pos * 1000 % d) * 1000) % d + prior_ppm) DIV d") -
          col("prior_ppm")).as("weight_ppm"))
  }

  /** Score documents with a trained polarity table: per doc, the sum of
    * its tokens' weights (occurrence-weighted; unseen/pruned tokens score
    * 0) plus the sign-test verdict `predicted_positive` = score_sum > 0.
    * The sign test is division-free, so there is no negative-division
    * rounding to disagree across engines.
    *
    * Shuffle story: the weight table is BROADCAST (vocabulary-sized by
    * construction — see [[trainQualityWeights]]); the exploded corpus
    * never shuffles on the token key. The only exchange is the doc-keyed
    * final sum, which map-side combines to one partial row per (doc,
    * partition). */
  def qualityClassifierScores(df: DataFrame, idCol: String, textCol: String,
      weights: DataFrame): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(split(coalesce(col(textCol), lit("")), " ")).as("token"))
      .filter(col("token") =!= "")
      .join(broadcast(weights.select(col("token"), col("weight_ppm"))),
        Seq("token"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("scored_tokens"),
        sum(coalesce(col("weight_ppm"), lit(0L))).as("score_sum"))
      .withColumn("predicted_positive", col("score_sum") > 0L)

  /** DSIR feature grams (Xie et al., "Data Selection for Language Models
    * via Importance Resampling", NeurIPS'23): word unigrams + bigrams over
    * single-space-separated text, empty tokens dropped. `nw` is
    * referenced a constant number of times PER ROW (never per element —
    * the measured >30× HOF re-inline trap applies to per-element
    * re-evaluation only); bigrams are every adjacent pair of non-empty
    * words, matched in the text with runs of spaces collapsed (the
    * lookbehind bigram pattern of [[sortedBigrams]]). */
  private[ops] def dsirGrams(text: Column): Column = {
    val t = coalesce(text, lit(""))
    concat(array_remove(split(t, " "), ""),
      regexp_extract_all(regexp_replace(t, lit(" +"), lit(" ")),
        lit("(?:^|(?<= ))(?=([^ ]+ [^ ]+))"), lit(1)))
  }

  /** `fnv1a64(word) & (buckets - 1)`: the word/gram bucket of DSIR and the
    * bigram LM (`buckets` a power of two). */
  private def hashBucket(gram: Column, buckets: Int): Column =
    fnv1a64(gram).bitwiseAND(lit((buckets - 1).toLong))

  /** DSIR importance weights over hashed n-gram buckets: learn, from a
    * corpus with a boolean target-membership column, the per-bucket
    * log-likelihood ratio log2(p_target(b) / p_raw(b)) under add-one
    * smoothing — the "hashed n-gram importance weight" estimator of Xie
    * et al. NeurIPS'23 §3. Grams are [[dsirGrams]]; bucket =
    * fnv1a64(gram) & (buckets-1) (buckets must be a power of two so the
    * signed mask equals the oracle's unsigned `% buckets`). All math is
    * INTEGER: logs are Q20 fixed-point via the kernel's digit-recurrence
    * ilog2Q20 ([[graft.expr.KernelFn.Ilog2Q20]]), so weights are bit-identical
    * to the DuckDB oracle's unrolled HUGEINT chain — no float logs exist
    * anywhere in the operator.
    *
    * Returns exactly `buckets` rows (bucket, weight_q20):
    *   weight_q20 = ilog2(tc+1) - ilog2(rc+1) - ilog2(T+B) + ilog2(R+B)
    * with tc/rc the bucket's target/raw gram counts and T/R the totals.
    *
    * Shuffle story at 100 TB: gram explode is row-local; ONE bucket-keyed
    * aggregate with map-side combine (≤ `buckets` partial rows per task
    * cross the wire — the key space is FIXED at B, so the shuffle is
    * O(tasks·B), independent of corpus size); totals are a scalar
    * re-aggregate of the B-row table joined back as a broadcast single
    * row (the q07 shape); zero-fill joins against a range(B) literal.
    * The output is B rows — broadcastable to the scorer by construction. */
  def dsirBucketWeights(df: DataFrame, textCol: String, targetCol: String,
      buckets: Int = 4096): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two, got $buckets")
    val spark = df.sparkSession
    val counts = df
      .select(col(targetCol).cast("boolean").as("y"),
        explode(dsirGrams(col(textCol))).as("gram"))
      .select(col("y"), hashBucket(col("gram"), buckets).as("bucket"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("y"), 1L).otherwise(0L)).as("tc"),
        sum(when(col("y"), 0L).otherwise(1L)).as("rc"))
    // materialized once (round 7): exactly `buckets` rows by construction,
    // consumed by the totals re-aggregate AND the final weight projection —
    // without the checkpoint each re-ran the corpus gram pass behind
    // `counts`.
    val full = spark.range(buckets).toDF("bucket")
      .join(broadcast(counts), Seq("bucket"), "left_outer")
      .select(col("bucket"),
        coalesce(col("tc"), lit(0L)).as("tc"),
        coalesce(col("rc"), lit(0L)).as("rc"))
      .localCheckpoint(eager = false)
    val totals = full.agg(sum(col("tc")).as("t"), sum(col("rc")).as("r"))
    full.crossJoin(broadcast(totals))
      .select(col("bucket"),
        (ilog2q20(col("tc") + 1L) - ilog2q20(col("rc") + 1L) -
          ilog2q20(col("t") + buckets.toLong) +
          ilog2q20(col("r") + buckets.toLong)).as("weight_q20"))
  }

  /** Score documents against a trained DSIR weight table: per doc, the
    * sum of its grams' bucket weights (Q20 log2 units) — the estimated
    * log importance ratio of the doc under the target vs raw hashed-gram
    * models. High scores = target-like docs; resampling keeps the top
    * fraction. Docs yielding zero grams are dropped by both engines.
    *
    * Shuffle story: the weight table is exactly `buckets` rows and is
    * BROADCAST — the exploded corpus never shuffles on the bucket key;
    * the only exchange is the doc-keyed final sum, which map-side
    * combines to one partial row per (doc, partition). */
  def dsirScores(df: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, buckets: Int = 4096): DataFrame = {
    df.select(col(idCol).as("doc_id"),
        explode(dsirGrams(col(textCol))).as("gram"))
      .select(col("doc_id"), hashBucket(col("gram"), buckets).as("bucket"))
      .join(broadcast(weights.select(col("bucket"), col("weight_q20"))),
        Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("weight_q20")).as("score_q20"))
  }

  /** Adjacent (l, r) pairs of non-empty words for the bigram LM: two
    * equal-length slices of the word list (words 1..n−1 and 2..n),
    * `arrays_zip`ped. Consumers explode them and hash each side with
    * [[hashBucket]] (power-of-two mask, same engine-parity argument as
    * [[dsirGrams]]' buckets). */
  private[ops] def wordPairs(text: Column): Column = {
    val nw = array_remove(split(coalesce(text, lit("")), " "), "")
    val m = greatest(size(nw) - 1, lit(0))
    arrays_zip(slice(nw, lit(1), m).as("l"), slice(nw, lit(2), m).as("r"))
  }

  /** Train a CCNet-style bucketed bigram language model (Wenzek et al.,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", LREC'20 — their KenLM perplexity stage, here as a hashed
    * bigram model so it is engine-exact): count (context, next) word-
    * bucket pairs over the TARGET subset of the corpus. Returns one row
    * per observed pair (ctx, nxt, pair_n); the scorer derives context
    * totals by re-aggregating this table, so the model is fully
    * described by it.
    *
    * Shuffle story at 100 TB: the pair explode is row-local; ONE
    * pair-keyed aggregate with map-side combine whose key space is
    * CAPPED at buckets² (default 1024² ≈ 1M) — like [[dsirBucketWeights]]
    * the shuffle is corpus-size-independent, and the output table is
    * broadcastable by construction (the cap, not the corpus, bounds it). */
  def bigramLmTrain(df: DataFrame, textCol: String, targetCol: String,
      buckets: Int = 1024): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two, got $buckets")
    df.filter(col(targetCol).cast("boolean"))
      .select(explode(wordPairs(col(textCol))).as("p"))
      .select(hashBucket(col("p.l"), buckets).as("ctx"),
        hashBucket(col("p.r"), buckets).as("nxt"))
      .groupBy(col("ctx"), col("nxt"))
      .agg(count(lit(1)).as("pair_n"))
  }

  /** Score documents under a trained bigram LM: per doc, the total and
    * per-bigram Q20 cross-entropy (bits) under add-one smoothing,
    *   cost(ctx, nxt) = ilog2Q20(c(ctx) + B) - ilog2Q20(c(ctx,nxt) + 1)
    * i.e. -log2 of P̂(nxt|ctx) = (c(ctx,nxt)+1)/(c(ctx)+B); an unseen
    * context scores the uniform log2(B). High avg cost = LM-implausible
    * text (the CCNet perplexity tail); all arithmetic is integer, so
    * scores are bit-identical cross-engine. Docs with fewer than two
    * words yield no bigrams and are dropped by both engines.
    *
    * Shuffle story: context totals are a re-aggregate of the CAPPED
    * pair table (never a second corpus pass); both lookup tables are
    * BROADCAST (≤ B² and ≤ B rows); the exploded corpus never shuffles
    * on the pair key — its only Exchange is the doc-keyed sum with
    * map-side combine. */
  def bigramLmScores(df: DataFrame, idCol: String, textCol: String,
      pairCounts: DataFrame, buckets: Int = 1024): DataFrame = {
    // materialized once (round 7): the context-total re-aggregate and the
    // pair-count broadcast are two consumers of the trained table — without
    // the checkpoint each re-ran the training corpus pass. Capped at ≤ B²
    // rows by construction.
    val pc = pairCounts.localCheckpoint(eager = false)
    val ctxTotals = pc.groupBy(col("ctx"))
      .agg(sum(col("pair_n")).as("ctx_n"))
    df.select(col(idCol).as("doc_id"),
        explode(wordPairs(col(textCol))).as("p"))
      .select(col("doc_id"), hashBucket(col("p.l"), buckets).as("ctx"),
        hashBucket(col("p.r"), buckets).as("nxt"))
      .join(broadcast(ctxTotals), Seq("ctx"), "left_outer")
      .join(broadcast(pc.select(col("ctx"), col("nxt"),
        col("pair_n"))), Seq("ctx", "nxt"), "left_outer")
      .select(col("doc_id"),
        (ilog2q20(coalesce(col("ctx_n"), lit(0L)) + buckets.toLong) -
          ilog2q20(coalesce(col("pair_n"), lit(0L)) + 1L)).as("cost_q20"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("cost_q20")).as("cost_sum_q20"))
      .withColumn("avg_cost_q20",
        expr("cost_sum_q20 DIV n_bigrams"))
  }

  /** CCNet-style perplexity partition (Wenzek et al. LREC'20 §4.3): score
    * every document under the trained bigram LM ([[bigramLmScores]]),
    * then split the corpus into equal-frequency buckets of the per-bigram
    * Q20 cost — the paper's head/middle/tail split, whose head bucket is
    * what CCNet keeps as its highest-quality tier. Bucketing is the exact
    * distributed CDF of [[ScalePatterns.valueQuantileBuckets]] (no global
    * unpartitioned sort; integer-exact labels, ties share a bucket). */
  def perplexityPartition(df: DataFrame, idCol: String, textCol: String,
      pairCounts: DataFrame, buckets: Int = 1024,
      labels: Seq[String] = Seq("head", "middle", "tail")): DataFrame =
    // scores materialized once (round 7): the CDF's histogram pass and its
    // final label join are two consumers — without the checkpoint each
    // re-ran the whole LM scoring pipeline (corpus explode + two broadcast
    // lookups + doc aggregate; the before-plan carried 94 Exchanges, none
    // reused). One narrow row per doc — the standard persisted-scores
    // table a production CCNet partition would write anyway.
    ScalePatterns.valueQuantileBuckets(
      bigramLmScores(df, idCol, textCol, pairCounts, buckets)
        .localCheckpoint(eager = false),
      "avg_cost_q20", labels)

  /** BM25 top-k retrieval over the corpus for a LITERAL query term set —
    * the classic sparse lexical ranker (Robertson et al., TREC-3 1994;
    * here the Lucene-shaped variant whose idf = log(1 + (N − df + 0.5) /
    * (df + 0.5)) is strictly positive, so common terms still rank rather
    * than clamp to zero), in EXACT Q20 fixed-point: logs are the kernel's
    * digit-recurrence ilog2Q20 and every division is a non-negative
    * integer floor, so scores are bit-identical to the DuckDB oracle.
    * Using log2 instead of ln scales every idf by the same positive
    * constant — rankings are identical to the ln form.
    *
    * Fixed k1 = 6/5 and b = 3/4 (the standard 1.2/0.75), kept rational so
    * the tf saturation term is exact integer arithmetic:
    *   den        = 20·tf·2^20 + 6·2^20 + 18·r_q20,  r_q20 = Q20(dl/avgdl)
    *   tfpart_q20 = (44·tf·2^20)·2^20 div den        ∈ [0, 2.2·2^20)
    *   score_q40  = Σ_terms idf_q20 · tfpart_q20
    * Both Q20 divisions use the base-1024 split of [[trainQualityWeights]]
    * (floor(x·2^20/d) = q1·2^10 + q2 with q1 = x·2^10 div d, q2 =
    * (x·2^10 mod d)·2^10 div d), so no intermediate wraps Long even at
    * 100 TB corpus totals (T·2^20 is the naive wrap; T·2^10 is safe to
    * ~9e15 total words per the same analysis as the ppm classifier).
    *
    * Only documents matching ≥1 query term are scored (standard sparse
    * retrieval); ties break by ascending id, so the top-k SET is
    * deterministic.
    *
    * Shuffle story at 100 TB: per-term tf is ONE row-local projection
    * ([[wordOccurrences]] — no corpus explode; the melt is a
    * constant-|terms| array, sized for literal query sets ≤ 32 terms —
    * for large vocabular match sets use the explode + broadcast-join
    * shape of [[qualityClassifierScores]] instead); corpus stats are one
    * scalar aggregate broadcast back (the q07 shape); df/idf is a
    * ≤|terms|-row aggregate, broadcast; the only corpus-keyed exchange is
    * the doc-keyed contribution sum (map-side combine) feeding a
    * TakeOrdered(k). The corpus text itself never shuffles. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty && terms.size <= 32,
      s"literal query term set must have 1..32 terms, got ${terms.size}")
    require(terms.forall(t => t.nonEmpty && !t.exists(_.isWhitespace)),
      "query terms must be non-empty and whitespace-free")
    require(terms.distinct.size == terms.size, "query terms must be distinct")
    val q = 1048576L // 2^20
    def text = coalesce(col(textCol), lit(""))
    def dlOf(c: Column) =
      size(array_remove(split(c, " "), "")).cast("long")
    // one row-local pass: dl + per-term tf, melted via a constant-size
    // literal array (computed BEFORE the explode, so each term costs one
    // wordOccurrences scan per row, never per output element)
    // materialized once (round 7): the df aggregate and the scoring join
    // both consume the postings — without the checkpoint each re-ran the
    // corpus scan with its per-term wordOccurrences passes. One narrow row
    // per (matching doc, term): the posting list a sparse index would
    // persist anyway.
    val base = df
      .select(col(idCol).cast("long").as("doc_id"), dlOf(text).as("dl"),
        explode(array(terms.map(t0 => struct(lit(t0).as("term"),
          wordOccurrences(text, t0).as("tf"))): _*)).as("e"))
      .select(col("doc_id"), col("dl"),
        col("e.term").as("term"), col("e.tf").as("tf"))
      .filter(col("tf") > 0L)
      .localCheckpoint(eager = false)
    // corpus stats: N docs, T total words, avgdl in Q20 (base-1024 split).
    // Materialized (one row): consumed by both the idf and the scorer —
    // without the checkpoint each re-ran the corpus dl pass.
    val stats = df
      .select(dlOf(text).as("dl"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("t"))
      .select(col("n"), greatest(col("t"), lit(1L)).as("t"))
      .select(col("n"),
        (expr("(t * 1024 DIV n) * 1024") +
          expr("((t * 1024 % n) * 1024) DIV n")).as("avgdl_q20"))
      .localCheckpoint(eager = false)
    val idf = base.groupBy(col("term"))
      .agg(count(lit(1)).as("df")) // base has one row per (doc, term)
      .crossJoin(broadcast(stats.select(col("n"))))
      .select(col("term"),
        (ilog2q20(lit(2L) * col("n") + lit(2L)) -
          ilog2q20(lit(2L) * col("df") + lit(1L))).as("idf_q20"))
    base
      .join(broadcast(idf), Seq("term"))
      .crossJoin(broadcast(stats.select(col("avgdl_q20"))))
      // r_q20 = floor(dl·2^40 / avgdl_q20), base-1024 split
      .withColumn("y", col("dl") * lit(q))
      .withColumn("r_q20",
        expr("(y * 1024 DIV avgdl_q20) * 1024") +
          expr("((y * 1024 % avgdl_q20) * 1024) DIV avgdl_q20"))
      .withColumn("den",
        lit(20L) * col("tf") * lit(q) + lit(6L) * lit(q) +
          lit(18L) * col("r_q20"))
      .withColumn("x", lit(44L) * col("tf") * lit(q))
      .withColumn("tfpart_q20",
        expr("(x * 1024 DIV den) * 1024") +
          expr("((x * 1024 % den) * 1024) DIV den"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("matched_terms"),
        sum(col("idf_q20") * col("tfpart_q20")).as("score_q40"))
      .orderBy(col("score_q40").desc, col("doc_id"))
      .limit(k)
  }

  /** Source-reputation filter — the C4/UT1-style "bad domain" curation
    * stage with the blocklist LEARNED from the corpus instead of
    * imported: each source's reputation is its aggregate stopword-hit
    * rate (hits per million words — the same demonstration-grade signal
    * the Gopher stop_hits column uses; any per-doc integer signal plugs
    * in), and every document of a source is flagged when the source's
    * rate falls below `thresholdPct` percent of the corpus-wide rate.
    * The comparison is the integer cross-multiply src_ppm·100 <
    * global_ppm·pct — no division rounding to disagree across engines —
    * and both ppm rates use the ·10^6 base-1000 split division of
    * [[trainQualityWeights]] (exact to ~9·10^15 corpus words).
    *
    * Shuffle story at 100 TB: per-doc hits/words is one row-local
    * projection; ONE source-keyed aggregate (map-side combine; output is
    * #sources rows); the corpus-wide rate is a scalar re-aggregate of
    * that tiny table — NOT a second corpus pass — broadcast back with
    * the per-source rates; the verdict join is a broadcast. The corpus
    * never shuffles. */
  def sourceReputation(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String,
      stopwords: Seq[String] = Seq("the", "and", "of", "is"),
      thresholdPct: Long = 80L): DataFrame = {
    require(stopwords.nonEmpty && thresholdPct >= 0L && thresholdPct <= 100L,
      s"need stopwords and thresholdPct in [0,100], got $thresholdPct")
    def text = coalesce(col(textCol), lit(""))
    // materialized once (round 7): the source aggregate and the verdict
    // join both consume this per-doc signal table — without the checkpoint
    // each re-ran the corpus scan with its stopword-occurrence passes.
    // Four narrow columns per doc.
    val base = df.select(col(idCol).as("doc_id"),
      col(sourceCol).as("source"),
      stopwords.map(wordOccurrences(text, _)).reduce(_ + _).as("hits"),
      size(array_remove(split(text, " "), "")).cast("long").as("words"))
      .localCheckpoint(eager = false)
    def ppm(h: String, w: String) = // floor(h·10^6/w), base-1000 split
      expr(s"($h * 1000 DIV $w) * 1000") +
        expr(s"(($h * 1000 % $w) * 1000) DIV $w")
    // #sources rows; consumed by both the rates and the global rollup
    val bySrc = base.groupBy(col("source"))
      .agg(sum(col("hits")).as("h"),
        greatest(sum(col("words")), lit(1L)).as("w"))
      .localCheckpoint(eager = false)
    val rates = bySrc.select(col("source"), ppm("h", "w").as("src_ppm"))
    val global = bySrc
      .agg(sum(col("h")).as("h"), greatest(sum(col("w")), lit(1L)).as("w"))
      .select(ppm("h", "w").as("global_ppm"))
    base
      .join(broadcast(rates), Seq("source"))
      .crossJoin(broadcast(global))
      .select(col("doc_id"), col("source"), col("src_ppm"),
        col("global_ppm"),
        (col("src_ppm") * 100L <
          col("global_ppm") * thresholdPct).as("low_reputation"))
  }

  // CCNet-style normalization table (Wenzek et al. LREC'20 §3.1: the
  // pre-hash normalizer that makes near-identical pages collapse under
  // EXACT dedup — lowercase, strip accents, bucket digits). One flat
  // codepoint table instead of locale-dependent lower()/strip_accents()
  // so Spark and any SQL oracle translate() agree char-for-char.
  // private[graft]: the q76 oracle SQL interpolates these SAME strings,
  // so Spark/DuckDB codepoint-table identity holds by construction.
  private[graft] val NormFrom =
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ" +
      "ÁÀÂÄÉÈÊËÍÌÎÏÓÒÔÖÚÙÛÜÑÇ" + "áàâäéèêëíìîïóòôöúùûüñç" +
      "123456789"
  private[graft] val NormTo =
    "abcdefghijklmnopqrstuvwxyz" +
      "aaaaeeeeiiiioooouuuunc" + "aaaaeeeeiiiioooouuuunc" +
      "000000000"

  /** CCNet-style text normalization (Wenzek et al. LREC'20 §3.1), the
    * pre-hash canonicalizer for paraphrase-insensitive EXACT dedup:
    * ASCII lowercase + Latin accent strip + digit bucketing (every digit
    * → '0', so "page 14" and "page 98" collapse) via ONE translate over
    * a fixed codepoint table, then whitespace-run collapse (explicit
    * `[ \t\n\r]+` class — engine-identical where `\s` classes differ) and
    * trim. Entirely row-local codegen'd Column expressions — zero cost at
    * any corpus size, and portable verbatim to the DuckDB oracle. */
  def ccnetNormalize(text: Column): Column =
    trim(regexp_replace(
      translate(coalesce(text, lit("")), NormFrom, NormTo),
      "[ \\t\\n\\r]+", " "))

  /** Sequence packing (concat-and-chunk, T5/GPT-style: Raffel et al. 2020
    * §3.1.2 pack documents into fixed-length training windows): within
    * each shard, documents in id order are laid head-to-tail on a token
    * tape and cut into `windowTokens`-sized training windows; each doc
    * reports its tape offset (`start_token`) and the first/last window it
    * lands in, so the tokenizing writer knows exactly which documents and
    * boundary crossings each window holds.
    *
    * Packing is inherently sequential WITHIN a tape — the offsets are a
    * prefix sum — so the operator makes the tape the SHARD, never the
    * corpus: ONE Exchange keyed on the shard column, a per-shard running
    * frame (UnboundedPreceding → -1: Spark streams it in one pass — no
    * per-row rescan), and NO global sort anywhere (PlanSpec pins no
    * RangePartitioning). At 100 TB the shard is the output bucket of the
    * bucketed layout — uniform by hash construction — so no task sees
    * more than one bucket's rows; a skewed custom shard column would
    * serialize its own tape and only its own tape. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      shardCol: String, windowTokens: Long): DataFrame = {
    require(windowTokens >= 1L, s"windowTokens must be >= 1, got $windowTokens")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Long.MinValue, -1)
    df.select(col(idCol).as("doc_id"), col(shardCol).as("shard"),
        tokenCount(coalesce(col(textCol), lit(""))).as("n_tokens"))
      .withColumn("start_token",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("first_window",
        expr(s"start_token DIV ${windowTokens}L"))
      .withColumn("last_window",
        when(col("n_tokens") > 0L,
          expr(s"(start_token + n_tokens - 1) DIV ${windowTokens}L"))
          .otherwise(col("first_window")))
      .withColumn("n_windows",
        when(col("n_tokens") > 0L,
          col("last_window") - col("first_window") + 1L).otherwise(lit(0L)))
  }

  /** Order-sensitive rolling-hash document fingerprint via the kernel. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val t = if (text == null) "" else text
        (id, Hashing.rollingFingerprint(t), Hashing.simhash64(t))
      }
      .toDF("id", "fingerprint", "simhash")
  }
}
