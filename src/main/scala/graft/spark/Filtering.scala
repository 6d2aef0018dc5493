package graft.spark

import graft.spark.catalyst.RepetitionStats
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.unsafe.types.UTF8String

/** Corpus-quality filtering and selection operators for a training-data
  * pipeline: Gopher-style repetition statistics, deterministic hash
  * sampling, and global token-budget selection.
  *
  * Scale notes (the 100 TB shapes):
  *  - [[repetitionStats]] (and [[gopherRepetitionFilter]] over it) is
  *    one native one-row-per-row generator — shuffle-free, transparent
  *    to column pruning and filter pushdown, and the per-row
  *    cost is O(n log n) in the word count (one gram sort, then a single
  *    linear pass), NOT the O(n^2) of the naive count-each-distinct-gram
  *    formulation.
  *  - [[hashSample]] is a deterministic filter on a content hash: the
  *    same row always makes the same keep/drop decision, independent of
  *    partitioning, task retries, or cluster size — the property
  *    `rand()`-based sampling loses under speculative execution. It
  *    pushes down to the scan like any other filter.
  *  - [[selectToBudget]] replaces the global sort + running sum (one
  *    reducer sees the whole corpus) with a two-pass histogram plan:
  *    a small per-score aggregate decides the score cutoff on the
  *    driver, full buckets pass as a broadcast-scalar filter, and only
  *    the single boundary bucket pays a window.
  */
object Filtering {

  /** Gopher-style repetition statistics (Rae et al. 2021 §A1.1) per
    * document: word count, bytes covered by the most frequent word
    * 2-gram, and bytes in duplicated word 3-grams. Counts are exact
    * integers (UTF-8 bytes) so they replay hash-exact in ANSI SQL;
    * normalization to fractions is the caller's choice of denominator
    * (see [[gopherRepetitionFilter]]). Words are the split of the text
    * on single spaces (empties kept), and a null text counts as ''.
    *
    * The three columns come from one [[RepetitionStats]] generator over
    * `textCol`, one row per input row: an operator the optimizer sees
    * through, so filters on input columns reach the scan and unused
    * columns are pruned, while a filter on a stat (or on
    * [[gopherRepetitionFilter]]'s `keep`) stays above it and reads the
    * stats and the text as computed once. A stat column the input
    * already has is replaced in place, so re-applying this to its own
    * output keeps the schema.
    */
  def repetitionStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val names = RepetitionStats.Schema.fieldNames.toSeq
    val tmp = names.map("__" + _)
    // null text folds to '' (the Chunking/Dedup convention): null stats
    // would null gopherRepetitionFilter's `keep` flag, and the standard
    // `.filter(keep)` call site would drop null-text docs with no trace
    val stats = CatalystBridge.column(RepetitionStats(
      CatalystBridge.expression(coalesce(col(textCol), lit("")))))
    names.zip(tmp).foldLeft(df.select(col("*"), stats.as(tmp))) {
      case (d, (name, t)) => d.withColumn(name, col(t))
    }.drop(tmp: _*)
  }

  /** [[repetitionStats]]' kernel on one non-null text: the words are
    * byte slices of the UTF-8 text between 0x20 bytes (0x20 never occurs
    * inside a multibyte sequence), and an n-gram of consecutive words is
    * the slice from its first word's start to its last word's end.
    * Returns the (n_words, top2_chars, dup3_chars) row.
    */
  private[spark] def repetitionStatsUtf8(text: UTF8String): InternalRow = {
    val b = text.getBytes
    var nWords = 1
    var i = 0
    while (i < b.length) { if (b(i) == ' ') nWords += 1; i += 1 }
    // starts(j) is word j's first byte, and starts(nWords) sits where a
    // space after the last word would end, so word j ends at starts(j + 1) - 1
    val starts = new Array[Int](nWords + 1)
    var w = 1
    i = 0
    while (i < b.length) { if (b(i) == ' ') { starts(w) = i + 1; w += 1 }; i += 1 }
    starts(nWords) = b.length + 1
    new GenericInternalRow(Array[Any](nWords,
      runTop(sortedGramBytes(b, starts, 2)), runDup(sortedGramBytes(b, starts, 3))))
  }

  /** Sorted n-grams of the words `starts` delimits in `b`, each copied out
    * as its UTF-8 bytes (words joined by their single 0x20), sorted
    * bytewise-unsigned: UTF8String binary order. */
  private def sortedGramBytes(b: Array[Byte], starts: Array[Int], n: Int): Array[Array[Byte]] = {
    val nWords = starts.length - 1
    if (nWords < n) return Array.empty
    val out = new Array[Array[Byte]](nWords - n + 1)
    var i = 0
    while (i < out.length) {
      out(i) = java.util.Arrays.copyOfRange(b, starts(i), starts(i + n) - 1)
      i += 1
    }
    java.util.Arrays.sort(out, byteCmp)
    out
  }

  private val byteCmp = new java.util.Comparator[Array[Byte]] {
    def compare(a: Array[Byte], b: Array[Byte]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }
  }

  /** Bytes covered by the most frequent gram of a sorted gram array,
    * provided it occurs at least twice: a count-1 gram is not repetition,
    * and counting it would make the metric pure doc-length noise on short
    * documents. Count ties break to the first (bytewise smallest) run;
    * strict `>` keeps it. */
  private def runTop(sorted: Array[Array[Byte]]): Long = {
    var best = 0L
    var top = 0L
    var i = 0
    while (i < sorted.length) {
      var j = i + 1
      while (j < sorted.length && byteCmp.compare(sorted(j), sorted(i)) == 0) j += 1
      val run = (j - i).toLong
      if (run >= 2L && run > best) top = run * sorted(i).length
      if (run > best) best = run
      i = j
    }
    top
  }

  /** Total bytes over all occurrences of grams appearing >= 2 times (the
    * Gopher "characters in duplicate n-grams" numerator, in UTF-8 bytes). */
  private def runDup(sorted: Array[Array[Byte]]): Long = {
    var dup = 0L
    var i = 0
    while (i < sorted.length) {
      var j = i + 1
      while (j < sorted.length && byteCmp.compare(sorted(j), sorted(i)) == 0) j += 1
      val run = (j - i).toLong
      if (run >= 2L) dup += run * sorted(i).length
      i = j
    }
    dup
  }

  /** The repetition filter itself: keep a document iff its top-2-gram
    * and duplicate-3-gram byte fractions (denominator: total text
    * bytes) are at or below the thresholds, given in basis points.
    * Integer cross-multiplication — no float division, so the decision
    * replays exactly in any engine. Returns the input columns plus a
    * `keep` flag (callers filter on it; returning the flag keeps the
    * drop decision observable — SURVEY "no silent drops").
    */
  def gopherRepetitionFilter(df: DataFrame, textCol: String = "text",
                             maxTop2Bp: Int = 2000,
                             maxDup3Bp: Int = 2000): DataFrame =
    repetitionStats(df, textCol)
      .withColumn("keep",
        col("top2_chars") * 10000 <=
          lit(maxTop2Bp).cast("long") * octet_length(coalesce(col(textCol), lit(""))) &&
        col("dup3_chars") * 10000 <=
          lit(maxDup3Bp).cast("long") * octet_length(coalesce(col(textCol), lit(""))))

  /** Deterministic Bernoulli-style sampling: keep a row iff the first
    * 16 bits of md5(salt ':' key) fall below `keepOf65536`. Exactly
    * `keepOf65536` of the 65536 hash buckets pass, so the expected rate
    * is keepOf65536/65536 and the decision is a pure function of
    * (salt, key): stable under retries, partitioning, and engine — the
    * 4-hex-digit prefix compares identically as a string in Spark and
    * ANSI SQL, no hex-to-int conversion needed.
    */
  def hashSample(df: DataFrame, keyCol: Column, keepOf65536: Int,
                 salt: String = "s0"): DataFrame = {
    require(keepOf65536 >= 0 && keepOf65536 <= 65536,
      s"keepOf65536 out of range: $keepOf65536")
    df.filter(hashBucket(keyCol, salt) < lit(thresholdHex(keepOf65536)))
  }

  /** 4-hex-digit exclusive upper bound for a /65536 keep rate. 65536
    * must pass EVERY bucket: f"%04x" would give "10000", which sorts
    * BELOW "ffff" as a string — use "g" (> every hex digit) instead.
    */
  private[spark] def thresholdHex(keepOf65536: Int): String =
    if (keepOf65536 >= 65536) "g" else f"$keepOf65536%04x"

  private[spark] def hashBucket(keyCol: Column, salt: String): Column = {
    // a NULL key hashes to a NULL bucket, and every consumer then
    // misbehaves SILENTLY: hashSample's `<` filter evaluates to null and
    // drops the row with no trace, hashSampleStratified likewise, and
    // assignSplit's when-chain falls through to dump every null-key row
    // in the LAST split — three different corruptions of the same
    // determinism contract. Fail loudly instead (the epochMix pattern).
    val k = when(keyCol.isNull,
      raise_error(lit("deterministic hash key is NULL — hashSample/" +
        "hashSampleStratified/assignSplit require a non-null key")).cast("string"))
      .otherwise(keyCol.cast("string"))
    substring(md5(concat(lit(salt + ":"), k)), 1, 4)
  }

  /** Stratified deterministic sampling: per-stratum keep rates (same
    * /65536 units as [[hashSample]]). Rates travel as DATA through a
    * broadcast join — at 100 TB the strata table is a handful of rows
    * against a scan-wide filter, and rates can come from an upstream
    * computation rather than code.
    *
    * A stratum present in the data but absent from `rates` (null
    * included) fails LOUDLY at execution — the left join + raise_error
    * pattern shared with epochMix / selectToBudgetByDomain: an inner
    * join would silently drop the whole stratum, corrupting the
    * sampled mixture with no trace (the no-silent-drop contract).
    */
  def hashSampleStratified(df: DataFrame, keyCol: Column, strataCol: Column,
                           rates: Map[String, Int],
                           salt: String = "s0"): DataFrame = {
    rates.values.foreach(r => require(r >= 0 && r <= 65536, s"rate out of range: $r"))
    val spark = df.sparkSession
    import spark.implicits._
    val rdf = rates.toSeq.map { case (k, v) => (k, thresholdHex(v)) }
      .toDF("__stratum", "__thr")
    val thr = when(col("__thr").isNull,
        raise_error(concat(lit("hashSampleStratified: stratum without a rate: "),
          coalesce(strataCol.cast("string"), lit("NULL")))).cast("string"))
      .otherwise(col("__thr"))
    df.join(broadcast(rdf), strataCol === col("__stratum"), "left")
      .filter(hashBucket(keyCol, salt) < thr)
      .drop("__stratum", "__thr")
  }

  /** Global token-budget selection: the maximal prefix of the corpus in
    * (score DESC, id ASC) order whose running token sum stays within
    * `budget` — the "take the best docs until the budget is full" step
    * of corpus curation, deterministic ties included. It is
    * [[selectToBudgetByDomain]] over one constant domain, so `budget`
    * must be >= 0.
    *
    * Plan shape: ONE small aggregate (per-score token sums — requires a
    * bounded score domain, e.g. basis points; `require`d at most
    * `maxScoreCard` distinct values after the agg) is collected to pick
    * the boundary score on the driver. Full buckets above the boundary
    * pass as a plain scan filter; ONLY the boundary bucket's rows flow
    * through a running-sum window (single-key partition — bounded by
    * the corpus's one-score slice, the documented skew caveat; with a
    * basis-point score that is 1/10001 of the corpus in expectation).
    * No global sort, no corpus-wide single-reducer stage.
    */
  def selectToBudget(df: DataFrame, scoreCol: Column, tokenCol: Column,
                     idCol: Column, budget: Long,
                     maxScoreCard: Int = 100000): DataFrame =
    // one constant domain: its CASE-folded filters and remaining-budget
    // literal fold to the single-domain predicates at optimization
    selectToBudgetByDomain(df, lit(""), scoreCol, tokenCol, idCol,
      Map("" -> budget), maxScoreCard)

  /** Walk a (score, tokenSum) histogram best-score-first against a
    * budget: None = everything fits; Some((boundaryScore, spentAbove))
    * = strictly-better buckets fit whole and the boundary bucket gets
    * the remainder.
    */
  private def budgetBoundary(byScore: Seq[(Any, Long)],
                             budget: Long): Option[(Any, Long)] = {
    var cum = 0L
    var boundary: Option[(Any, Long)] = None
    val it = byScore.iterator
    while (it.hasNext && boundary.isEmpty) {
      val (s, t) = it.next()
      if (cum + t > budget) boundary = Some((s, cum)) else cum += t
    }
    boundary
  }

  /** Per-domain token-budget selection — the mixture-curation step:
    * each domain independently keeps its best-scored prefix (score
    * DESC, id ASC) up to its own token budget, so the output hits a
    * target mixture (e.g. 40% web / 30% code / 30% dialogue by tokens)
    * exactly, deterministically, ties included. A domain present in
    * the data but absent from `budgets` fails LOUDLY (a silent
    * keep-all or drop-all would both corrupt the mixture).
    *
    * Plan shape generalizes [[selectToBudget]]: ONE small (domain,
    * score) histogram aggregate decides every domain's boundary score
    * on the driver; full buckets pass as a single CASE-folded scan
    * filter; only the per-domain boundary-score slices flow through a
    * window PARTITIONED BY DOMAIN (each partition is one domain's one
    * score bucket). No global sort, no corpus-wide single-reducer
    * stage, one corpus scan per side (full + boundary).
    */
  def selectToBudgetByDomain(df: DataFrame, domainCol: Column,
                             scoreCol: Column, tokenCol: Column,
                             idCol: Column, budgets: Map[String, Long],
                             maxScoreCard: Int = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgets.nonEmpty, "selectToBudgetByDomain needs at least one budget")
    budgets.values.foreach(b => require(b >= 0, s"budget must be >= 0, got $b"))
    // limit BEFORE collect: the guard fires on maxScoreCard+1 rows, never
    // after an unbounded histogram has been materialized on the driver
    val hist = df.groupBy(domainCol.as("__dom"), scoreCol.as("__score"))
      .agg(sum(tokenCol.cast("long")).as("__tok"))
      .limit(maxScoreCard + 1)
      .collect()
    require(hist.length <= maxScoreCard,
      s"selectToBudgetByDomain needs a bounded (domain, score) domain: " +
        s"> $maxScoreCard distinct pairs — bucket the score first")
    val unbudgeted = hist.map(_.getAs[String](0)).distinct.filterNot(budgets.contains)
    require(unbudgeted.isEmpty,
      s"domains present in the data but missing a budget: ${unbudgeted.mkString(", ")}")
    def scoreKey(v: Any): Double = v match {
      case n: java.lang.Number => n.doubleValue()
      case other => throw new IllegalArgumentException(
        s"selectToBudgetByDomain score must be numeric, got $other")
    }
    // per domain: walk the histogram best-score-first; None = the whole
    // domain fits its budget
    val boundaries: Map[String, Option[(Any, Long)]] =
      hist.groupBy(_.getAs[String](0)).map { case (dom, rows) =>
        val byScore = rows.sortBy(r => -scoreKey(r.getAs[Any](1)))
          .map(r => (r.getAs[Any](1), r.getLong(2)))
        dom -> budgetBoundary(byScore, budgets(dom))
      }
    // full buckets: CASE-folded per-domain predicate over one scan
    val fullCond = boundaries.foldLeft(lit(false)) {
      case (acc, (dom, None)) => when(domainCol === lit(dom), lit(true)).otherwise(acc)
      case (acc, (dom, Some((bScore, _)))) =>
        when(domainCol === lit(dom), scoreCol > lit(bScore)).otherwise(acc)
    }
    val bounded = boundaries.collect { case (d, Some(b)) => (d, b) }
    if (bounded.isEmpty) df.filter(fullCond)
    else {
      val edgeCond = bounded.foldLeft(lit(false)) {
        case (acc, (dom, (bScore, _))) =>
          when(domainCol === lit(dom), scoreCol === lit(bScore)).otherwise(acc)
      }
      val remaining = bounded.foldLeft(lit(null).cast("long")) {
        case (acc, (dom, (_, spentAbove))) =>
          when(domainCol === lit(dom), lit(budgets(dom) - spentAbove)).otherwise(acc)
      }
      val w = Window.partitionBy(domainCol).orderBy(idCol.asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val edge = df.filter(edgeCond)
        .withColumn("__cum", sum(tokenCol.cast("long")).over(w))
        .filter(col("__cum") <= remaining)
        .drop("__cum")
      df.filter(fullCond).unionByName(edge)
    }
  }

  /** Deterministic train/val/test split assignment: each row's split is
    * a pure function of (salt, key) — the same row lands in the same
    * split on every run, every engine, every cluster size, and the
    * splits are disjoint BY CONSTRUCTION (consecutive ranges of the
    * 65536 hash buckets [[hashSample]] uses). Weights are /65536 units
    * and must sum exactly to 65536 so no bucket is unassigned — a row
    * silently landing in no split would violate the no-silent-drop
    * contract. Pure projection: shuffle-free, scan-speed.
    *
    * Composition with [[hashSample]] — two regimes, choose by salt:
    *  - SAME salt: split membership is stable (a surviving row keeps
    *    its split) but proportions are DESTROYED — the sample keeps a
    *    prefix of the very bucket order the splits partition, so every
    *    survivor lands in the earliest split(s) and a keep rate below
    *    the train weight empties val/test entirely. Never downsample
    *    with the split salt.
    *  - DIFFERENT salts: the sample is independent of the split
    *    assignment, so proportions are preserved in expectation AND
    *    each row's split stays stable. This is the correct
    *    downsample-then-split composition.
    */
  def assignSplit(df: DataFrame, keyCol: Column,
                  splits: Seq[(String, Int)],
                  salt: String = "s0"): DataFrame = {
    require(splits.nonEmpty, "assignSplit needs at least one split")
    require(splits.map(_._2.toLong).sum == 65536L,
      s"split weights must sum to 65536, got ${splits.map(_._2).sum}")
    require(splits.forall(_._2 > 0), "split weights must be positive")
    val bucket = hashBucket(keyCol, salt)
    val cums = splits.map(_._2).scanLeft(0)(_ + _).tail // cumulative upper bounds
    val assigned = splits.init.zip(cums).foldRight(
        lit(splits.last._1): Column) { case (((name, _), cum), rest) =>
      when(bucket < lit(thresholdHex(cum)), name).otherwise(rest)
    }
    df.withColumn("split", assigned)
  }

  // PII patterns — RE2-safe (no backreferences/lookarounds) so the same
  // pattern string runs in Spark (java.util.regex) and DuckDB (RE2)
  // with identical matches; replacement order matters (emails contain
  // digits and dots, IPs contain digit runs) and is fixed below.
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val DigitRunPattern = "[0-9]{4,}"

  /** PII redaction: mask emails, IPv4 addresses, and long digit runs
    * (phone/account-number shaped) with typed placeholders, and report
    * per-row match counts for ALL THREE patterns (a masked pattern
    * without its count would be an unobservable rewrite). n_emails and
    * n_ips count on the original text; n_nums counts on the
    * email/IP-masked intermediate — exactly the matches the [NUM] mask
    * rewrites (a digit run inside an email has already been masked and
    * must not be double-counted). Pure `regexp_replace`/
    * `regexp_extract_all` projection: codegen'd, shuffle-free,
    * scan-speed.
    */
  def redactPii(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val noEmailIp = regexp_replace(
      regexp_replace(t, EmailPattern, "[EMAIL]"), Ipv4Pattern, "[IP]")
    df.withColumn("n_emails", size(regexp_extract_all(t, lit(EmailPattern), lit(0))))
      .withColumn("n_ips", size(regexp_extract_all(t, lit(Ipv4Pattern), lit(0))))
      .withColumn("n_nums",
        size(regexp_extract_all(noEmailIp, lit(DigitRunPattern), lit(0))))
      .withColumn(textCol, regexp_replace(noEmailIp, DigitRunPattern, "[NUM]"))
  }

  /** C4-style LINE-level cleaning (Raffel et al. 2020 §2.2 — the classic
    * web-corpus first stage, upstream of doc-level quality filters):
    * a line survives iff it (a) ends in a terminal punctuation mark
    * (`. ! ? "`), (b) has at least `minLineWords` words, and (c) does
    * not contain the word "javascript" (case-insensitive — the C4 rule
    * for enable-JS boilerplate). The document's `textCol` is REPLACED by
    * the surviving lines rejoined with newlines as `clean_text`, and the
    * page-level verdict (`keep`) requires at least `minKeptLines`
    * surviving lines and none of `badPhrases` (default C4's
    * "lorem ipsum") or — when `dropCodeBrace` — a `{` anywhere in the
    * ORIGINAL text (C4's drop-code heuristic). Counters `n_lines` /
    * `n_kept` plus the `keep` flag keep every decision observable (no
    * silent drops); callers filter on `keep` and select `clean_text`.
    *
    * Scale: a pure per-row projection over built-in higher-order
    * functions — shuffle-free, codegen'd, runs at scan speed. Both the
    * raw text and its line array are LET-BOUND as lambda variables
    * (`transform(array(...), v -> ...)`, as in [[dedupLinesInDoc]]).
    * The optimizer inlines a computed alias into the expressions that
    * consume it, lambda bodies included, where it would re-evaluate once
    * per line; a lambda variable is never substituted, so a computed
    * upstream text column evaluates exactly once per row and the split
    * exactly once, no matter how many outputs consume them. The struct
    * leaves through a one-row generator (`inline(array(struct))`): a
    * filter on `keep` stays above it, where a projection would let the
    * optimizer substitute the struct into the filter once per reference.
    * Every predicate is engine-neutral string arithmetic
    * (no regex beyond the newline split), so the whole operator replays
    * exactly in ANSI SQL — see the q_line_clean oracle.
    */
  def c4LineClean(df: DataFrame, textCol: String = "text",
                  minLineWords: Int = 5, minKeptLines: Int = 3,
                  badPhrases: Seq[String] = Seq("lorem ipsum"),
                  dropCodeBrace: Boolean = true): DataFrame = {
    val lineOk =
      s"""(right(rtrim(__l), 1) IN ('.', '!', '?', '"')
         | AND size(filter(split(trim(__l), ' '), __w -> __w != '')) >= $minLineWords
         | AND NOT contains(lower(__l), 'javascript'))"""
        .stripMargin.replace("\n", " ")
    val pageChecks =
      badPhrases.map(p =>
        s"NOT contains(lower(__t), '${p.toLowerCase.replace("'", "''")}')") ++
        (if (dropCodeBrace) Seq("NOT contains(__t, '{')") else Nil)
    val pageOk = if (pageChecks.isEmpty) "true" else pageChecks.mkString(" AND ")
    val c4Sql =
      s"""inline(array(element_at(transform(array(coalesce(`$textCol`, '')), __t ->
         | element_at(transform(array(split(__t, chr(10))), __ls -> named_struct(
         |   '__n_lines', size(__ls),
         |   '__kept', filter(__ls, __l -> $lineOk),
         |   '__page_ok', ($pageOk))), 1)), 1)))"""
        .stripMargin.replace("\n", " ")
    df.select(col("*"), expr(c4Sql))
      .withColumn("clean_text", array_join(col("__kept"), "\n"))
      .withColumn("n_lines", col("__n_lines"))
      .withColumn("n_kept", size(col("__kept")))
      .withColumn("keep", col("__page_ok") && size(col("__kept")) >= minKeptLines)
      .drop("__n_lines", "__kept", "__page_ok")
  }

  /** WITHIN-document line dedup: keep only the FIRST occurrence of each
    * line inside a document (navigation menus, footers, and quoted
    * reply chains repeat verbatim inside a single page — cross-doc
    * paragraph dedup (Dedup.paragraphDedup) never sees them because it
    * keeps one occurrence PER CORPUS, not per doc, and pays a corpus
    * exchange to do it). Adds `clean_text` (surviving lines in original
    * order) plus `n_lines`/`n_kept` counters; zero rows dropped.
    *
    * Scale: pure per-row projection — shuffle-free, scan-speed; the
    * struct leaves through a one-row generator, as in [[c4LineClean]],
    * so a filter on its outputs does not re-run the split. The
    * first-occurrence test is `array_position(lines, line) == index+1`
    * inside a single indexed `filter` over the let-bound line array
    * (O(lines²) per doc in the worst case, on line COUNTS, not chars —
    * a 1000-line doc costs ~10^6 string compares of which almost all
    * short-circuit on length). Replays exactly in ANSI SQL: DuckDB's
    * indexed list_filter is 1-based where Spark's is 0-based — the
    * oracle uses `= i`, this side `= i + 1`.
    */
  def dedupLinesInDoc(df: DataFrame, textCol: String = "text"): DataFrame = {
    val sql =
      s"""inline(array(element_at(transform(array(split(coalesce(`$textCol`, ''), chr(10))),
         | __ls -> named_struct(
         |  '__n_lines', size(__ls),
         |  '__kept', filter(__ls, (__l, __i) -> array_position(__ls, __l) = __i + 1))), 1)))"""
        .stripMargin.replace("\n", " ")
    df.select(col("*"), expr(sql))
      .withColumn("clean_text", array_join(col("__kept"), "\n"))
      .withColumn("n_lines", col("__n_lines"))
      .withColumn("n_kept", size(col("__kept")))
      .drop("__n_lines", "__kept")
  }
}
