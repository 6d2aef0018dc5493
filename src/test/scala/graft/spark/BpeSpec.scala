package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE trainer/encoder: hand-derived merge sequences on tiny corpora
  * (counts, within-word merge order, deterministic tie-break), `learn`
  * against the distributed reference trainer (fixed corpora, a
  * generated property, and the 2^20-type cap with its dropped mass),
  * encode arithmetic, the fail-loud contracts (pair exhaustion,
  * delimiter collision), and the no-pinned-blocks hygiene of learn().
  */
class BpeSpec extends SparkTestBase {
  import spark.implicits._

  private def mkDocs(texts: Seq[String]) =
    spark.createDataset(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("doc_id", "text")

  /** Initial segmentation of a word: every char bar-wrapped.
    * `"abc"` -> `"|a| |b| |c|"`. (?s) is load-bearing: without DOTALL a
    * newline inside a word would stay UNWRAPPED and corrupt the
    * segmentation silently — identically in both engines, so even the
    * oracle could not catch it. With it, '.' matches any code point in
    * Java regex and RE2 alike.
    */
  private def seg0(word: Column): Column =
    rtrim(regexp_replace(word, "(?s)(.)", "\\|$1\\| "))

  /** The reference trainer: the distributed form of the merge loop, the
    * exact algorithm the q_bpe_merges DuckDB chain replays. One corpus
    * pass into a persisted word-type table of bar-wrapped segmentations,
    * then per merge one pair-count aggregate, a one-row argmax collect
    * and a literal `replace` over the types. Returns (iter, l_sym, r_sym,
    * merged, cnt) in application order.
    */
  private def reference(docs: DataFrame, nMerges: Int, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    // ONE corpus pass; the type table is vocabulary-sized — pin it so
    // the merge iterations never re-scan the corpus (unpersisted below)
    val types = docs
      .select(explode(Bpe.wordsOf(col(textCol))).as("word"))
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

  /** A merge table's (iter, l_sym, r_sym, merged, cnt) rows in order. */
  private def rows(merges: DataFrame) =
    merges.select("iter", "l_sym", "r_sym", "merged", "cnt")
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq

  test("learn: exact merge sequence, compound merges, pair counts") {
    // types: aaab cnt=2 ("|a| |a| |a| |b|"), ab cnt=1 ("|a| |b|")
    // iter 1: (a,a)=4 [two per aaab], (a,b)=3          -> merge a+a @4
    //   aaab -> "|aa| |a| |b|"  (left-to-right: no re-match inside "|aa|")
    // iter 2: (aa,a)=2, (a,b)=3                        -> merge a+b @3
    // iter 3: (aa,ab)=2                                -> merge aa+ab @2
    val docs = mkDocs(Seq("aaab ab", "aaab"))
    val m = rows(Bpe.learn(docs, 3))
    assert(m == Seq(
      (1, "a", "a", "aa", 4L),
      (2, "a", "b", "ab", 3L),
      (3, "aa", "ab", "aaab", 2L)))
    assert(rows(reference(docs, 3)) == m)
  }

  test("newlines and non-BMP chars segment whole: learn == reference") {
    // '\n' inside a word must wrap like any char ((?s) — without it the
    // newline stays unwrapped and corrupts the segmentation silently);
    // the emoji is a surrogate pair and must stay ONE symbol
    val docs = mkDocs(Seq("a\nb a\nb", "😀x 😀x 😀x"))
    val e0 = Bpe.encode(docs, Seq.empty)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(e0.toSeq == Seq((0L, 2L, 6L), (1L, 3L, 6L)), e0.toSeq.toString)
    val got = rows(Bpe.learn(docs, 2))
    val ref = rows(reference(docs, 2))
    assert(got == ref, s"\nlearn:     $got\nreference: $ref")
    // the emoji pair dominates: first merge fuses the 2-char word
    assert(got.head._4 == "😀x", got.toString)
  }

  test("learn: count ties break on (l, r) binary order") {
    // (a,b)=1 and (c,d)=1 tie; '|a|' < '|c|' -> a+b wins
    val docs = mkDocs(Seq("ab cd"))
    val m = rows(Bpe.learn(docs, 1))
    assert(m == Seq((1, "a", "b", "ab", 1L)))
    assert(rows(reference(docs, 1)) == m)
  }

  test("learn: pair-supply exhaustion fails loudly; leaves no pinned blocks") {
    // other suites share this session and may pin their own RDDs —
    // assert learn() adds none, not that the session is globally clean
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Exception](Bpe.learn(mkDocs(Seq("ab")), 2))
    assert(e.getMessage.contains("pair supply exhausted"), e.getMessage)
    // persist hygiene: nothing learn() runs may stay pinned, on the
    // failure path or after a successful learn
    Bpe.learn(mkDocs(Seq("aaab ab")), 1).count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"learn() leaked persisted RDDs: $leaked")
  }

  test("learn/encode: '|' in a corpus word fails loudly, never corrupts") {
    val bad = mkDocs(Seq("ok a|b"))
    val e1 = intercept[Exception](Bpe.learn(bad, 1).count())
    assert(e1.getMessage.contains("delimiter"), e1.getMessage)
    val e2 = intercept[Exception](Bpe.encode(bad, Seq(("a", "b"))).count())
    assert(e2.getMessage.contains("delimiter"), e2.getMessage)
  }

  test("encode: token counts under 0..K merges; null/empty docs -> (0,0)") {
    val docs = mkDocs(Seq("aaab ab", "aaab", "")).unionByName(
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(9L, null: String))),
        mkDocs(Seq("z")).schema))
    // no merges: every char a token
    val e0 = Bpe.encode(docs, Seq.empty)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(e0.toSeq == Seq((0L, 2L, 6L), (1L, 1L, 4L), (2L, 0L, 0L), (9L, 0L, 0L)))
    // one merge (a,a): aaab -> aa|a|b = 3 tokens, ab -> 2
    val e1 = Bpe.encode(docs, Seq(("a", "a")))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(e1.toSeq == Seq((0L, 2L, 5L), (1L, 1L, 3L), (2L, 0L, 0L), (9L, 0L, 0L)))
    // the full learned sequence fuses both words to single tokens
    val e3 = Bpe.encode(docs, Seq(("a", "a"), ("a", "b"), ("aa", "ab")))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(e3.toSeq == Seq((0L, 2L, 2L), (1L, 1L, 1L), (2L, 0L, 0L), (9L, 0L, 0L)))
  }

  test("learn caps the type table: top-MaxTypes merges, dropped_mass = left-out occurrences") {
    // MaxTypes + k one-word docs of distinct short base-36 words, plus
    // two more copies of the word that sorts LAST: at count 3 it ranks
    // first, so the k + 1 largest count-1 words but it fall out. Every
    // word ends in "!?", so the first merge's count is exactly the
    // trained word mass (MaxTypes - 1 + 3): one extra type would show
    val k = 5
    val words = spark.range(Bpe.MaxTypes + k)
      .select(concat(conv(col("id").cast("string"), 10, 36), lit("!?")).as("text"))
    val last = words.agg(max(col("text"))).as[String].head
    val docs = words.unionByName(Seq(last, last).toDF("text"))
    val nMerges = 2
    val got = Bpe.learn(docs, nMerges)
    assert(got.columns.toSeq == Seq("iter", "l_sym", "r_sym", "merged", "cnt", "dropped_mass"))
    assert(got.select("dropped_mass").as[Long].collect().toSeq == Seq.fill(nMerges)(k.toLong))
    assert(rows(got).head == ((1, "!", "?", "!?", Bpe.MaxTypes + 2L)))
    // the reference trained on exactly the kept types (with their counts)
    val kept = Vocab.topK(docs, Bpe.MaxTypes).select(col("word"), col("cnt"))
    assert(kept.filter(col("word") === last).select("cnt").as[Long].head == 3L)
    val keptDocs = kept.select(
      explode(array_repeat(col("word"), col("cnt").cast("int"))).as("text"))
    assert(rows(got) == rows(reference(keptDocs, nMerges)))
    // under the cap every type is trained on and nothing is dropped
    val small = Bpe.learn(mkDocs(Seq("aaab ab aaab cd cd", "ab widest widest lower")), 6)
    assert(small.select("dropped_mass").as[Long].collect().toSeq == Seq.fill(6)(0L))
  }

  test("learn == reference merge-for-merge on generated corpora (property)") {
    // non-BMP symbols, newlines and tabs inside words, runs of spaces,
    // empty and null docs, and unpaired surrogates (parquet's UTF-8
    // write replaces them, for both trainers alike); a small alphabet
    // keeps pairs repeating, so the argmax and its ties do real work
    import org.scalacheck.{Gen => G}
    import org.scalacheck.rng.Seed
    val sym = G.frequency((10, G.oneOf("a", "b", "c")), (2, G.oneOf("😀", "𝄞")),
      (1, G.oneOf("\n", "\t", "é", "\uD800", "\uDC00")))
    val word = G.choose(1, 6).flatMap(G.listOfN(_, sym)).map(_.mkString)
    val doc: G[String] = G.frequency(
      (8, G.choose(1, 6).flatMap(n => G.listOfN(n, G.zip(word, G.choose(1, 3))))
        .map(_.map { case (w, sp) => w + " " * sp }.mkString)
        .flatMap(t => G.oneOf(t, " " + t))),
      (1, G.const("")), (1, G.const(null: String)))
    val corpus = G.choose(1, 8).flatMap(G.listOfN(_, doc))
    val corpora = (0 until 25).map(i => corpus(G.Parameters.default, Seed(0xB9E + i)).get)
    val dir = tmpDir("bpe-prop") + "/docs"
    corpora.zipWithIndex.flatMap { case (texts, i) => texts.map((i, _)) }
      .toDF("corpus", "text").write.parquet(dir)
    def outcome(m: => DataFrame): Either[String, Seq[(Int, String, String, String, Long)]] =
      try Right(rows(m)) catch {
        case e: IllegalArgumentException if e.getMessage.contains("pair supply exhausted") =>
          Left("exhausted")
      }
    val at12 = for ((texts, i) <- corpora.zipWithIndex) yield {
      val docs = spark.read.parquet(dir).filter(col("corpus") === i)
      val outcomes = Seq(1, 4, 12).map { kMerges =>
        val got = outcome(Bpe.learn(docs, kMerges))
        assert(got == outcome(reference(docs, kMerges)),
          s"corpus $i at K=$kMerges: ${texts.map(Option(_))}")
        got
      }
      outcomes.last
    }
    // most corpora carry 12 merges: the comparison is not vacuous
    assert(at12.count(_.isRight) >= 15, at12)
  }

  test("tokenCount drives packing: next-fit walk over BPE weights") {
    // chunks at 2/0 word chunking: doc0 -> ["aaab ab", "aaab"]; with
    // merge (a,a): aaab = 3 tokens, ab = 2 -> chunk weights 5, 3
    val docs = mkDocs(Seq("aaab ab aaab"))
    val chunks = Chunking.chunk(docs, maxTokens = 2, overlap = 0)
      .withColumn("n_tokens", Bpe.tokenCount(col("chunk_text"), Seq(("a", "a"))))
    assert(chunks.select("chunk_idx", "n_tokens").as[(Int, Long)]
      .collect().sortBy(_._1).toSeq == Seq((0, 5L), (1, 3L)))
    // capacity 5: chunk1 overflows -> its own sequence
    val tight = Packing.packNextFit(chunks, capacity = 5, shard = col("doc_id"))
      .select("chunk_idx", "seq_idx", "seq_pos").as[(Int, Long, Int)]
      .collect().sortBy(_._1)
    assert(tight.toSeq == Seq((0, 0L, 0), (1, 1L, 0)))
    // capacity 8: both fit one sequence in chunk order
    val loose = Packing.packNextFit(chunks, capacity = 8, shard = col("doc_id"))
      .select("chunk_idx", "seq_idx", "seq_pos").as[(Int, Long, Int)]
      .collect().sortBy(_._1)
    assert(loose.toSeq == Seq((0, 0L, 0), (1, 0L, 1)))
  }

  /** Reference token count: per non-empty space-separated word, fold
    * Java `String.replace` (left-to-right, never re-matching inside a
    * replacement, as SQL `replace`) over the bar-wrapped code-point
    * segmentation, then count the symbols. */
  private def refCount(text: String, merges: Seq[(String, String)]): Long =
    Option(text).getOrElse("").split(" ").filter(_.nonEmpty).map { w =>
      val seg0 = w.codePoints().toArray
        .map(cp => "|" + new String(Character.toChars(cp)) + "|").mkString(" ")
      merges.foldLeft(seg0) { case (seg, (l, r)) => seg.replace(s"|$l| |$r|", s"|$l$r|") }
        .split(" ").length.toLong
    }.sum

  test("tokenCount == a String.replace fold over bar-wrapped segments") {
    // compound merges, chained merges (aa+ab), multi-space runs, empty
    // and null text, non-BMP symbols, newline-in-word
    val texts = Seq(
      "aaab ab aaab cd cd", "ab widest widest lower", "a\nb a\nb",
      "😀x 😀x 😀x", "", "  doublespace  end ", "aaaaaaaa aaab", null)
    val docs = mkDocs(texts)
    for (k <- Seq(0, 1, 3, 6)) {
      val m =
        if (k == 0) Seq.empty[(String, String)]
        else Bpe.learn(docs.filter(col("text").isNotNull), k)
          .collect().sortBy(_.getInt(0))
          .map(r => (r.getString(1), r.getString(2))).toSeq
      val got = docs.select(col("doc_id"), Bpe.tokenCount(col("text"), m))
        .as[(Long, Long)].collect().toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) == refCount(t, m), s"doc $i diverged at K=$k: '$t'")
      }
    }
    // fail-loud delimiter contract
    val e = intercept[Exception](
      mkDocs(Seq("ok a|b")).select(Bpe.tokenCount(col("text"), Seq(("a", "b")))).collect())
    assert(e.getMessage.contains("delimiter"), e.getMessage)
  }

  test("encode under a 10,000-entry merge table matches the reference") {
    // three merges that apply, spread through non-matching filler: the
    // table is applied in order, and the plan prints its size, not it
    val filler = (0 until 9997).map(i => (s"q$i", s"z$i"))
    val m = Seq(("a", "a")) ++ filler.take(5000) ++ Seq(("a", "b")) ++
      filler.drop(5000) ++ Seq(("aa", "ab"))
    assert(m.length == 10000)
    val texts = Seq("aaab ab", "aaab", "aaaaaaaa aaab ba", "😀x ab q0 z0", "", null)
    // parquet, not a local relation, which the optimizer would fold: the
    // count runs in generated code
    val dir = tmpDir("bpe-10k") + "/docs"
    mkDocs(texts).write.parquet(dir)
    val df = Bpe.encode(spark.read.parquet(dir), m)
    assert(df.queryExecution.optimizedPlan.toString.contains("10000 merges"))
    val enc = compiledOnly(df.as[(Long, Long, Long)].collect())
    assert(enc.map(_._1).sorted.toSeq == texts.indices.map(_.toLong))
    enc.foreach { case (id, nWords, nTokens) =>
      val t = texts(id.toInt)
      assert(nWords == Option(t).getOrElse("").split(" ").count(_.nonEmpty), s"doc $id")
      assert(nTokens == refCount(t, m), s"doc $id: '$t'")
    }
    assert(enc.find(_._1 == 0L).get._3 == 2L) // aaab -> |aaab|, ab -> |ab|
  }

  test("encode plans shuffle-free (merges are an expression field)") {
    val enc = Bpe.encode(mkDocs(Seq("aaab ab")), Seq(("a", "a"), ("a", "b")))
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
