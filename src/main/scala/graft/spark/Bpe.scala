package graft.spark

import graft.spark.catalyst.BpeTokenCount
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding tokenizer training and application (Sennrich et
  * al. 2016) — the step after [[Vocab]]'s frequency induction in a real
  * tokenizer build: learn the top merge rules from corpus statistics,
  * then segment the corpus with them.
  *
  * Representation: a word's segmentation is a string of bar-wrapped
  * symbols separated by single spaces — `"abc"` starts as
  * `"|a| |b| |c|"`. Applying merge (l, r) is then ONE standard SQL
  * `replace(seg, "|l| |r|", "|lr|")`: `replace` scans left-to-right and
  * never re-matches inside a replacement, which is EXACTLY classic
  * BPE's within-word merge order (`"a a a"` + (a,a) -> `"aa a"`), and
  * the bars make the pattern alignment-safe (a symbol's interior chars
  * never abut `|` on both sides, so `"|a| |b|"` cannot match the tail
  * of `"|ba|"`). The same replace runs verbatim in DuckDB, which is
  * what makes the whole training loop exactly replayable cross-engine.
  *
  * Scale notes (the 100 TB shapes):
  *  - the corpus is touched ONCE: the word-count aggregation (map-side
  *    partial). Everything after runs on the word-TYPE table —
  *    vocabulary-sized, not corpus-sized — which [[learn]] persists so
  *    the K merge iterations do not re-scan the corpus, and unpersists
  *    before returning (no pinned blocks outlive the call). Each
  *    iteration is one map-side-combinable pair-count agg over the
  *    types plus a ONE-row TakeOrdered collect: the argmax merge. A
  *    tokenizer model is a driver artifact by definition.
  *  - merges are inherently sequential — no parallelism exists across
  *    iterations in ANY BPE trainer. For production merge budgets
  *    (~50k), [[learnLocal]] collects the mass-covering top-M word
  *    types to the driver after the distributed count and runs the
  *    classic in-memory loop (merge-for-merge equivalent, spec-gated);
  *    this distributed variant is the plan-auditable shape for small
  *    auditable budgets.
  *  - [[encode]] is a single shuffle-free projection: per word, apply
  *    the K merges with the classic in-memory walk (the [[learnLocal]]
  *    loop, counting only) inside one native expression that holds the
  *    merge table as a field — no plan literals, so a 50k-merge budget
  *    plans like a 12-merge one. Raw text never shuffles.
  *
  * Determinism: pair argmax ties break on (count desc, left symbol asc,
  * right symbol asc) over the BAR-WRAPPED symbol strings — binary
  * comparison in both engines, so the learned merge sequence is
  * identical across runs, partitionings, and engines.
  */
object Bpe {

  /** Initial segmentation of a word: every char bar-wrapped.
    * `"abc"` -> `"|a| |b| |c|"`. (?s) is load-bearing: without DOTALL a
    * newline inside a word would stay UNWRAPPED and corrupt the
    * segmentation silently — identically in both engines, so even the
    * oracle could not catch it. With it, '.' matches any code point in
    * Java regex and RE2 alike.
    */
  private def seg0(word: Column): Column =
    rtrim(regexp_replace(word, "(?s)(.)", "\\|$1\\| "))

  /** Words of a text column: split on single spaces, empties dropped,
    * fail-loud if a word contains the `|` delimiter (it would corrupt
    * the segmentation encoding — no silent misparse).
    */
  private def wordsOf(textCol: Column): Column = {
    val ws = filter(split(coalesce(textCol, lit("")), " "), w => w =!= "")
    // assert_true returns null when every word is bar-free; a violation
    // raises with the message instead of corrupting segmentations
    when(assert_true(forall(ws, w => !w.contains("|")),
      lit("BPE delimiter '|' occurs in a corpus word — choose a " +
        "different delimiter or pre-clean the text")).isNull, ws)
  }

  /** Learn `nMerges` BPE merge rules from the corpus. Returns the merge
    * table in application order: (iter 1-based, l_sym, r_sym, merged,
    * cnt) — cnt is the pair's corpus frequency (weighted by word count)
    * at the time it was chosen. Fails loudly if the pair supply is
    * exhausted before `nMerges` (every word fused to one symbol).
    */
  def learn(docs: DataFrame, nMerges: Int, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    // ONE corpus pass; the type table is vocabulary-sized — pin it so
    // the merge iterations never re-scan the corpus (unpersisted below)
    val types = docs
      .select(explode(wordsOf(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("word"), col("cnt"), seg0(col("word")).as("seg"))
      .persist()
    try {
      var seg = types
      val merges = Seq.newBuilder[(Int, String, String, String, Long)]
      for (it <- 1 to nMerges) {
        val ws = split(col("seg"), " ")
        val n = size(ws)
        val pairs = zip_with(
          slice(ws, lit(1), n - 1), slice(ws, lit(2), n - 1),
          (a, b) => struct(a.as("l"), b.as("r")))
        val best = seg
          .select(col("cnt"), explode(pairs).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("cnt")).as("c"))
          .orderBy(col("c").desc, col("l").asc, col("r").asc)
          .limit(1)
          .as[(String, String, Long)]
          .collect()
        require(best.nonEmpty,
          s"BPE pair supply exhausted at merge $it of $nMerges — every " +
            "word is a single symbol; lower nMerges")
        val (bl, br, bc) = best.head
        val inner = (s: String) => s.substring(1, s.length - 1)
        merges += ((it, inner(bl), inner(br), inner(bl) + inner(br), bc))
        // literal (non-regex) replace: left-to-right, never re-matching
        // inside a replacement — identical to SQL replace in DuckDB
        seg = seg.withColumn("seg",
          replace(col("seg"), lit(s"$bl $br"),
            lit(s"|${inner(bl)}${inner(br)}|")))
      }
      merges.result().toDF("iter", "l_sym", "r_sym", "merged", "cnt")
    } finally types.unpersist()
  }

  /** The production-budget variant of [[learn]]: ONE distributed word
    * count, collect the top-`maxTypes` types by (count desc, word asc)
    * — a TakeOrdered per-partition heap, never a global sort — then
    * run the classic in-memory merge loop on the driver. For real
    * merge budgets (K ~ 50k) the K sequential distributed aggregations
    * of [[learn]] are pure scheduling overhead on a vocabulary-sized
    * table; here the corpus is still touched exactly once and the loop
    * costs no cluster time at all.
    *
    * Exactness: with `maxTypes` >= the distinct type count this
    * reproduces [[learn]] MERGE-FOR-MERGE (BpeSpec gates the
    * equivalence) — pair counting, left-to-right within-word merge
    * order, and the (count desc, bar-wrapped l asc, r asc) tie-break
    * all replayed byte-exactly (UTF-8 comparison, same as Spark/DuckDB
    * binary string order). Truncating the type table changes pair
    * counts, so a type count above `maxTypes` FAILS LOUDLY unless
    * `allowTruncation` — the approximation is the budget owner's
    * explicit opt-in (the dropped tail is exactly the low-frequency
    * types classic BPE implementations cut first).
    */
  def learnLocal(docs: DataFrame, nMerges: Int, maxTypes: Int = 1 << 20,
                 allowTruncation: Boolean = false,
                 textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    // < MaxValue: the truncation probe below takes limit(maxTypes + 1)
    require(maxTypes > 0 && maxTypes < Int.MaxValue,
      s"maxTypes out of range: $maxTypes")
    val counted = docs
      .select(explode(wordsOf(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    // limit+1 so truncation is detectable without a second count job
    val top = counted
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(maxTypes + 1)
      .as[(String, Long)].collect()
    require(allowTruncation || top.length <= maxTypes,
      s"corpus has more than $maxTypes word types — raise maxTypes or " +
        "opt into the top-M approximation with allowTruncation = true")
    val types = top.take(maxTypes)
    // segmentations as symbol arrays; tie-break compares the
    // BAR-WRAPPED symbols as UTF-8 bytes (== Spark/DuckDB binary order)
    def wrap(s: String) = "|" + s + "|"
    def leBytes(a: String, b: String): Boolean = {
      val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        if (x(i) != y(i)) return (x(i) & 0xff) < (y(i) & 0xff)
        i += 1
      }
      x.length <= y.length
    }
    // segment by CODE POINTS, matching seg0's regex '.' (a UTF-16
    // code-unit split would halve surrogate pairs and diverge from
    // learn() on non-BMP chars)
    var segs: Array[(Array[String], Long)] =
      types.map { case (w, c) =>
        (w.codePoints().toArray.map(cp => new String(Character.toChars(cp))), c)
      }
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    for (it <- 1 to nMerges) {
      val pairs = scala.collection.mutable.HashMap.empty[(String, String), Long]
      segs.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          pairs.update(k, pairs.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      require(pairs.nonEmpty,
        s"BPE pair supply exhausted at merge $it of $nMerges — every " +
          "word is a single symbol; lower nMerges")
      val ((bl, br), bc) = pairs.reduceLeft { (a, b) =>
        val ((al, ar), ac) = a; val ((bl2, br2), bc2) = b
        if (ac != bc2) { if (ac > bc2) a else b }
        else if (wrap(al) != wrap(bl2)) { if (leBytes(wrap(al), wrap(bl2))) a else b }
        else { if (leBytes(wrap(ar), wrap(br2))) a else b }
      }
      merges += ((it, bl, br, bl + br, bc))
      val merged = bl + br
      segs = segs.map { case (syms, c) =>
        if (syms.length < 2) (syms, c)
        else {
          val out = Array.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == bl && syms(i + 1) == br) {
              out += merged; i += 2 // left-to-right, no re-match inside
            } else { out += syms(i); i += 1 }
          }
          (out.result(), c)
        }
      }
    }
    merges.result().toDF("iter", "l_sym", "r_sym", "merged", "cnt")
  }

  /** BPE token count of a text column under `merges` (the (l_sym, r_sym)
    * sequence in application order) — the column form of [[encode]],
    * usable on any text (e.g. a chunk's) anywhere a projection fits. One
    * native [[BpeTokenCount]] expression: no shuffle, no UDF, and one plan
    * node whatever the merge budget. Each word is segmented to code-point
    * symbols and merged with the classic left-to-right walk, the same
    * within-word merge order as SQL `replace` on the bar-wrapped encoding
    * (never re-matching inside a replacement), so the count is the one
    * the q_bpe_encode oracle replays. A text with no words counts 0; a
    * word containing `|` fails loudly, as in [[learn]].
    */
  def tokenCount(textCol: Column, merges: Seq[(String, String)]): Column =
    CatalystBridge.column(BpeTokenCount(
      CatalystBridge.expression(coalesce(textCol, lit(""))), merges))

  /** [[tokenCount]]'s kernel on one text: the sum of [[countWordTokens]]
    * over its space-separated non-empty words. */
  private[spark] def tokenCountUtf8(text: UTF8String, ms: Array[(String, String)]): Long = {
    val t = text.toString
    var total = 0L
    val n = t.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || t.charAt(i) == ' ') {
        if (i > start) total += countWordTokens(t, start, i, ms)
        start = i + 1
      }
      i += 1
    }
    total
  }

  /** Symbol count of one word (t[from, until)) after applying `ms` in
    * order — the [[learnLocal]] merge walk, counting only.
    */
  private def countWordTokens(t: String, from: Int, until: Int,
                              ms: Array[(String, String)]): Int = {
    // same fail-loud contract as wordsOf: '|' would corrupt the
    // bar-wrapped encoding this must stay equivalent to
    var j = from
    while (j < until) {
      if (t.charAt(j) == '|')
        throw new IllegalArgumentException(
          "BPE delimiter '|' occurs in a corpus word — choose a " +
            "different delimiter or pre-clean the text")
      j += 1
    }
    // code-point symbols (seg0's regex '.' matches code points)
    var syms = new Array[String](until - from)
    var len = 0
    var i = from
    while (i < until) {
      val cp = t.codePointAt(i)
      val w = Character.charCount(cp)
      syms(len) = t.substring(i, i + w)
      len += 1
      i += w
    }
    var k = 0
    while (k < ms.length && len > 1) {
      val l = ms(k)._1
      val r = ms(k)._2
      var in = 0
      var out = 0
      while (in < len) {
        if (in < len - 1 && syms(in) == l && syms(in + 1) == r) {
          syms(out) = l + r; in += 2 // left-to-right, no re-match inside
        } else {
          syms(out) = syms(in); in += 1
        }
        out += 1
      }
      len = out
      k += 1
    }
    len
  }

  /** Apply learned merges to every word of every doc and report
    * (doc_id, n_words, n_tokens) — the token-budget number a training
    * pipeline feeds into [[Chunking]]/[[Packing]] sizing. `merges` is
    * the (l_sym, r_sym) sequence in application order (collect it from
    * [[learn]] — K rows, a driver artifact like the IVF centroids).
    * Shuffle-free: one projection over [[tokenCount]], whose expression
    * holds the merge table as a field, not as plan literals. Docs with
    * no words report (0, 0).
    */
  def encode(docs: DataFrame, merges: Seq[(String, String)],
             textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      size(wordsOf(col(textCol))).cast("long").as("n_words"),
      tokenCount(col(textCol), merges).as("n_tokens"))
}
