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
  * Reference representation (the one the q_bpe_merges oracle replays in
  * DuckDB): a word's segmentation is a string of bar-wrapped symbols
  * separated by single spaces — `"abc"` starts as `"|a| |b| |c|"`.
  * Applying merge (l, r) is then ONE standard SQL
  * `replace(seg, "|l| |r|", "|lr|")`: `replace` scans left-to-right and
  * never re-matches inside a replacement, which is EXACTLY classic
  * BPE's within-word merge order (`"a a a"` + (a,a) -> `"aa a"`), and
  * the bars make the pattern alignment-safe (a symbol's interior chars
  * never abut `|` on both sides, so `"|a| |b|"` cannot match the tail
  * of `"|ba|"`). [[learn]] and [[tokenCount]] walk code-point symbol
  * arrays with the same left-to-right merge, so both reproduce that
  * replace chain exactly.
  *
  * Scale notes (the 100 TB shapes):
  *  - the corpus is touched ONCE: [[Vocab.topK]]'s word count (map-side
  *    partial aggregation, then a TakeOrdered per-partition heap, never
  *    a global sort) yields the word-TYPE table — vocabulary-sized, not
  *    corpus-sized. [[learn]] collects it and runs the classic in-memory
  *    merge loop on the driver: merges are inherently sequential in ANY
  *    BPE trainer, so per-merge cluster jobs would be pure scheduling
  *    overhead. A tokenizer model is a driver artifact by definition.
  *  - the type table is capped at 2^20 types. Beyond it [[learn]] trains
  *    on the top 2^20 by (count desc, word asc) — the low-frequency tail
  *    classic BPE implementations cut first — and reports the left-out
  *    word occurrences as `dropped_mass`, never silently.
  *  - [[encode]] is a single shuffle-free projection: per word, apply
  *    the K merges with the same left-to-right walk (counting only)
  *    inside one native expression that holds the merge table as a
  *    field — no plan literals, so a 50k-merge budget plans like a
  *    12-merge one. Raw text never shuffles.
  *
  * Determinism: pair argmax ties break on (count desc, left symbol asc,
  * right symbol asc) over the BAR-WRAPPED symbol strings compared as
  * UTF-8 bytes — Spark's and DuckDB's binary string order — so the
  * learned merge sequence is identical across runs, partitionings, and
  * engines.
  */
object Bpe {

  /** The most word types [[learn]] trains on. */
  private[spark] val MaxTypes = 1 << 20

  private val BarInWord = "BPE delimiter '|' occurs in a corpus word — choose a " +
    "different delimiter or pre-clean the text"

  /** Words of a text column: split on single spaces, empties dropped,
    * fail-loud if a word contains the `|` delimiter (it would corrupt
    * the segmentation encoding — no silent misparse).
    */
  private[spark] def wordsOf(textCol: Column): Column = {
    val ws = filter(split(coalesce(textCol, lit("")), " "), w => w =!= "")
    // assert_true returns null when every word is bar-free; a violation
    // raises with the message instead of corrupting segmentations
    when(assert_true(forall(ws, w => !w.contains("|")), lit(BarInWord)).isNull, ws)
  }

  /** Learn `nMerges` BPE merge rules from the corpus. Returns the merge
    * table in application order: (iter 1-based, l_sym, r_sym, merged,
    * cnt, dropped_mass) — cnt is the pair's frequency (weighted by word
    * count) at the time it was chosen; dropped_mass, the same on every
    * row, counts the word occurrences left out of training because the
    * corpus has more than [[MaxTypes]] word types. It is 0, and the
    * merges are exact, whenever every type fits.
    *
    * The types are [[Vocab.topK]]'s (count desc, word asc) top
    * `MaxTypes + 1` (the +1 detects truncation without a second count
    * job); the classic merge loop then runs in memory: pair counts
    * weighted by word count, left-to-right within-word merges that never
    * re-match inside a merge, and the bar-wrapped tie-break. Only the
    * truncated path runs one more aggregate, the corpus's word total.
    * Fails loudly if a word type contains `|`, or if the pair supply is
    * exhausted before `nMerges` (every word fused to one symbol).
    */
  def learn(docs: DataFrame, nMerges: Int, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    val top = Vocab.topK(docs, MaxTypes + 1, textCol)
      .select(col("word"), col("cnt")).as[(String, Long)].collect()
    val types = top.take(MaxTypes)
    require(!types.exists(_._1.contains('|')), BarInWord)
    val droppedMass =
      if (top.length <= MaxTypes) 0L
      else docs.select(sum(size(array_remove(split(coalesce(col(textCol), lit("")), " "), ""))))
        .as[Long].head - types.map(_._2).sum
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
    // segment by CODE POINTS, as the reference's regex '.' does (a UTF-16
    // code-unit split would halve surrogate pairs)
    var segs: Array[(Array[String], Long)] =
      types.map { case (w, c) =>
        (w.codePoints().toArray.map(cp => new String(Character.toChars(cp))), c)
      }
    val merges = Seq.newBuilder[(Int, String, String, String, Long, Long)]
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
      merges += ((it, bl, br, bl + br, bc, droppedMass))
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
    merges.result().toDF("iter", "l_sym", "r_sym", "merged", "cnt", "dropped_mass")
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
    * order — [[learn]]'s merge walk, counting only.
    */
  private def countWordTokens(t: String, from: Int, until: Int,
                              ms: Array[(String, String)]): Int = {
    // same fail-loud contract as wordsOf: '|' would corrupt the
    // bar-wrapped encoding this must stay equivalent to
    var j = from
    while (j < until) {
      if (t.charAt(j) == '|')
        throw new IllegalArgumentException(BarInWord)
      j += 1
    }
    // code-point symbols, as in learn
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
