package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-quality filtering and selection operators for a training-data
  * pipeline: Gopher-style repetition statistics, deterministic hash
  * sampling, and global token-budget selection.
  *
  * Scale notes (the 100 TB shapes):
  *  - [[repetitionStats]] is a pure per-row projection over built-in
  *    higher-order functions — shuffle-free, and the per-row cost is
  *    O(n log n) in the word count (one array_sort, then a single
  *    linear `aggregate` pass), NOT the O(n^2) of the naive
  *    count-each-distinct-gram formulation. [[gopherRepetitionFilter]]
  *    computes the same statistics with [[repetitionStatsMapped]]:
  *    still shuffle-free and O(n log n), but it crosses a
  *    `mapPartitions` Row-encoder boundary that EVERY input column goes
  *    through (and that column pruning cannot see past) — callers
  *    should select the columns they need before calling it.
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

  /** SQL fragment: the sorted n-gram array of a split-on-space text
    * column. Grams are joined with a single space, so their byte length
    * is `sum(word bytes) + n - 1` — the unit both engines agree on
    * (Spark `length` counts UTF-16 units, DuckDB `length` counts code
    * points; `octet_length`/`strlen` count UTF-8 bytes identically).
    */
  private def sortedGramsSql(wordsCol: String, n: Int): String = {
    val concat = (0 until n).map(j => s"element_at($wordsCol, i + $j)")
      .mkString("concat_ws(' ', ", ", ", ")")
    s"""CASE WHEN size($wordsCol) < $n THEN CAST(array() AS ARRAY<STRING>)
       | ELSE array_sort(transform(sequence(1, size($wordsCol) - ${n - 1}),
       |   i -> $concat)) END""".stripMargin.replace("\n", " ")
  }

  /** SQL fragment: one linear pass over a SORTED gram array collecting
    * run-length statistics into a struct:
    *   top — bytes covered by the most frequent gram (count * bytes),
    *         PROVIDED it occurs at least twice — a count-1 gram is not
    *         repetition, and counting it would make the metric pure
    *         doc-length noise on short documents. Count ties break to
    *         the lexicographically smallest gram, which is the FIRST
    *         max run in the sorted array — strict `>` keeps it.
    *   dup — total bytes over all occurrences of grams appearing >= 2
    *         times (the Gopher "characters in duplicate n-grams"
    *         numerator, in UTF-8 bytes).
    * The init state's empty-string sentinel flushes as a run of 0 and
    * can never win.
    */
  private def runStatsSql(arrCol: String): String =
    s"""aggregate($arrCol,
       | named_struct('prev', '', 'run', 0L, 'best', 0L, 'top', 0L, 'dup', 0L),
       | (st, g) -> IF(g = st.prev,
       |   named_struct('prev', st.prev, 'run', st.run + 1L, 'best', st.best,
       |     'top', st.top, 'dup', st.dup),
       |   named_struct('prev', g, 'run', 1L,
       |     'best', IF(st.run > st.best, st.run, st.best),
       |     'top', IF(st.run >= 2L AND st.run > st.best, st.run * octet_length(st.prev), st.top),
       |     'dup', st.dup + IF(st.run >= 2L, st.run * octet_length(st.prev), 0L))),
       | st -> named_struct(
       |   'top', IF(st.run >= 2L AND st.run > st.best, st.run * octet_length(st.prev), st.top),
       |   'dup', st.dup + IF(st.run >= 2L, st.run * octet_length(st.prev), 0L)))"""
      .stripMargin.replace("\n", " ")

  /** Gopher-style repetition statistics (Rae et al. 2021 §A1.1) per
    * document: word count, bytes covered by the most frequent word
    * 2-gram, and bytes in duplicated word 3-grams. Counts are exact
    * integers (UTF-8 bytes) so they replay hash-exact in ANSI SQL;
    * normalization to fractions is the caller's choice of denominator
    * (see [[gopherRepetitionFilter]]).
    *
    * The whole computation is ONE expression over a single reference to
    * `textCol`, with the word array let-bound as a lambda variable
    * (`transform(array(split(...)), ws -> ...)`). This matters when the
    * text column is itself computed (e.g. [[redactPii]] output): the
    * optimizer inlines computed aliases into consuming expressions —
    * including into lambda BODIES, where an inlined text expression
    * re-evaluates once per GRAM rather than once per row (measured 9x
    * on the redact->gopher composition). A lambda variable is never
    * substituted, so upstream expressions evaluate exactly once per row
    * no matter what feeds this operator.
    */
  def repetitionStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    // null text folds to '' (the Chunking/Dedup convention): without the
    // coalesce every stat — and gopherRepetitionFilter's `keep` flag —
    // is SQL null, and the standard `.filter(keep)` call site then drops
    // null-text docs with no trace
    val statsSql =
      s"""element_at(transform(array(split(coalesce(`$textCol`, ''), ' ')), __ws -> named_struct(
         | 'n_words', size(__ws),
         | 'top2', ${runStatsSql(sortedGramsSql("__ws", 2))}.top,
         | 'dup3', ${runStatsSql(sortedGramsSql("__ws", 3))}.dup)), 1)"""
        .stripMargin.replace("\n", " ")
    df.withColumn("__st", expr(statsSql))
      .withColumn("n_words", col("__st.n_words"))
      .withColumn("top2_chars", col("__st.top2"))
      .withColumn("dup3_chars", col("__st.dup3"))
      .drop("__st")
  }

  /** The COMPILED form of [[repetitionStats]] — same three appended
    * columns, same values row-for-row (FilteringSpec-pinned), computed
    * by a per-partition JVM walk instead of the interpreted Catalyst
    * higher-order-function chain (HOF lambdas never enter whole-stage
    * codegen; measured 0.63 s vs 0.16 s warm over the 5k-doc curation
    * universe at sf0.1, OPTIMIZATION_r06.md §8, 0 mismatches). Grams
    * are materialized as UTF-8 BYTE ARRAYS, which makes both agreement
    * points exact by construction: the sort comparator is unsigned
    * bytewise (== array_sort's UTF8String binary ordering) and the gram
    * byte length IS octet_length. The serialization boundary also
    * isolates upstream computed text columns the way the declarative
    * form's let-bound lambda does (they evaluate once per row, never
    * per gram). Generic over the input schema — every input column
    * passes through, and a stat column the input already has is
    * replaced in place, as `withColumn` (and so [[repetitionStats]])
    * does: re-applying it to its own output keeps the schema.
    */
  def repetitionStatsMapped(df: DataFrame, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val idx = df.schema.fieldIndex(textCol)
    val caseSensitive = df.sparkSession.conf.get("spark.sql.caseSensitive").toBoolean
    val inFields = df.schema.fields
    val width = inFields.length
    val outFields = inFields.toBuffer
    val slots = Seq(
      StructField("n_words", IntegerType, nullable = true),
      StructField("top2_chars", LongType, nullable = true),
      StructField("dup3_chars", LongType, nullable = true)).map { f =>
      val at = inFields.indexWhere(x =>
        if (caseSensitive) x.name == f.name else x.name.equalsIgnoreCase(f.name))
      if (at >= 0) { outFields(at) = f; at } else { outFields += f; outFields.size - 1 }
    }.toArray
    val outSchema = StructType(outFields.toArray)
    df.mapPartitions { it =>
      it.map { r =>
        val text = if (r.isNullAt(idx)) "" else r.getString(idx)
        val words = text.split(" ", -1)
        val wb = new Array[Array[Byte]](words.length)
        var i = 0
        while (i < words.length) {
          wb(i) = words(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          i += 1
        }
        val vals = new Array[Any](outSchema.length)
        i = 0
        while (i < width) { vals(i) = r.get(i); i += 1 }
        vals(slots(0)) = words.length
        vals(slots(1)) = runTop(sortedGramBytes(wb, 2))
        vals(slots(2)) = runDup(sortedGramBytes(wb, 3))
        Row.fromSeq(vals.toSeq)
      }
    }(Encoders.row(outSchema))
  }

  /** Sorted n-gram byte arrays of a word-bytes array (grams joined by
    * 0x20, sorted bytewise-unsigned == UTF8String binary order). */
  private def sortedGramBytes(wb: Array[Array[Byte]], n: Int): Array[Array[Byte]] = {
    if (wb.length < n) return Array.empty
    val out = new Array[Array[Byte]](wb.length - n + 1)
    var i = 0
    while (i <= wb.length - n) {
      var len = n - 1
      var j = 0
      while (j < n) { len += wb(i + j).length; j += 1 }
      val g = new Array[Byte](len)
      var p = 0
      j = 0
      while (j < n) {
        if (j > 0) { g(p) = ' '; p += 1 }
        System.arraycopy(wb(i + j), 0, g, p, wb(i + j).length)
        p += wb(i + j).length
        j += 1
      }
      out(i) = g
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

  /** [[runStatsSql]]'s `top` over a sorted gram array: bytes covered by
    * the most frequent gram with count >= 2, count ties breaking to the
    * first (lexicographically smallest) run — strict `>` keeps it. */
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

  /** [[runStatsSql]]'s `dup`: total bytes over all occurrences of grams
    * appearing >= 2 times. */
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
    * Stats come from [[repetitionStatsMapped]] (values identical to
    * [[repetitionStats]], spec-pinned — the declarative form stays the
    * reference surface).
    */
  def gopherRepetitionFilter(df: DataFrame, textCol: String = "text",
                             maxTop2Bp: Int = 2000,
                             maxDup3Bp: Int = 2000): DataFrame =
    repetitionStatsMapped(df, textCol)
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
    * of corpus curation, deterministic ties included.
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
                     maxScoreCard: Int = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // limit BEFORE collect: the cardinality guard must fire on
    // maxScoreCard+1 driver rows, not after an unbounded-score-domain
    // histogram has already been materialized on the driver
    val hist = df.groupBy(scoreCol.as("__score"))
      .agg(sum(tokenCol.cast("long")).as("__tok"))
      .limit(maxScoreCard + 1)
      .collect()
    require(hist.length <= maxScoreCard,
      s"selectToBudget needs a bounded score domain: > $maxScoreCard distinct " +
        s"scores — bucket the score (e.g. basis points) first")
    // sort by score descending; scores are whatever ordered type the
    // caller passed — compare via Ordering on their natural encoding
    val byScore = hist.sortBy(r => r.getAs[Any](0) match {
      case n: java.lang.Number => -n.doubleValue()
      case other => throw new IllegalArgumentException(
        s"selectToBudget score must be numeric, got $other")
    }).map(r => (r.getAs[Any](0), r.getLong(1)))
    budgetBoundary(byScore, budget) match {
      case None => df // whole corpus fits
      case Some((bScore, spentAbove)) =>
        val full = df.filter(scoreCol > lit(bScore))
        val w = Window.orderBy(idCol.asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val edge = df.filter(scoreCol === lit(bScore))
          .withColumn("__cum", sum(tokenCol.cast("long")).over(w))
          .filter(col("__cum") <= lit(budget - spentAbove))
          .drop("__cum")
        full.unionByName(edge)
    }
  }

  /** Walk a (score, tokenSum) histogram best-score-first against a
    * budget: None = everything fits; Some((boundaryScore, spentAbove))
    * = strictly-better buckets fit whole and the boundary bucket gets
    * the remainder. ONE shared implementation for the global and
    * per-domain selectors so boundary placement can never silently
    * diverge between them.
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
    // same bounded-collect pattern as selectToBudget: the guard fires on
    // maxScoreCard+1 rows, never after an unbounded driver materialization
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
    * (`transform(array(...), v -> ...)`, the [[repetitionStats]]
    * pattern), so a computed upstream text column evaluates exactly once
    * per row and the split exactly once, no matter how many outputs
    * consume them. Every predicate is engine-neutral string arithmetic
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
      s"""element_at(transform(array(coalesce(`$textCol`, '')), __t ->
         | element_at(transform(array(split(__t, chr(10))), __ls -> named_struct(
         |   'n_lines', size(__ls),
         |   'kept', filter(__ls, __l -> $lineOk),
         |   'page_ok', ($pageOk))), 1)), 1)"""
        .stripMargin.replace("\n", " ")
    df.withColumn("__c4", expr(c4Sql))
      .withColumn("clean_text", array_join(col("__c4.kept"), "\n"))
      .withColumn("n_lines", col("__c4.n_lines"))
      .withColumn("n_kept", size(col("__c4.kept")))
      .withColumn("keep",
        col("__c4.page_ok") && size(col("__c4.kept")) >= minKeptLines)
      .drop("__c4")
  }

  /** WITHIN-document line dedup: keep only the FIRST occurrence of each
    * line inside a document (navigation menus, footers, and quoted
    * reply chains repeat verbatim inside a single page — cross-doc
    * paragraph dedup (Dedup.paragraphDedup) never sees them because it
    * keeps one occurrence PER CORPUS, not per doc, and pays a corpus
    * exchange to do it). Adds `clean_text` (surviving lines in original
    * order) plus `n_lines`/`n_kept` counters; zero rows dropped.
    *
    * Scale: pure per-row projection — shuffle-free, scan-speed. The
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
      s"""element_at(transform(array(split(coalesce(`$textCol`, ''), chr(10))),
         | __ls -> named_struct(
         |  'n_lines', size(__ls),
         |  'kept', filter(__ls, (__l, __i) -> array_position(__ls, __l) = __i + 1))), 1)"""
        .stripMargin.replace("\n", " ")
    df.withColumn("__ld", expr(sql))
      .withColumn("clean_text", array_join(col("__ld.kept"), "\n"))
      .withColumn("n_lines", col("__ld.n_lines"))
      .withColumn("n_kept", size(col("__ld.kept")))
      .drop("__ld")
  }
}
