package graft.spark

import org.apache.spark.sql.functions._

/** BPE trainer/encoder: hand-derived merge sequences on tiny corpora
  * (counts, within-word merge order, deterministic tie-break), encode
  * arithmetic, the fail-loud contracts (pair exhaustion, delimiter
  * collision), and the no-pinned-blocks hygiene of learn().
  */
class BpeSpec extends SparkTestBase {
  import spark.implicits._

  private def mkDocs(texts: Seq[String]) =
    spark.createDataset(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("doc_id", "text")

  test("learn: exact merge sequence, compound merges, pair counts") {
    // types: aaab cnt=2 ("|a| |a| |a| |b|"), ab cnt=1 ("|a| |b|")
    // iter 1: (a,a)=4 [two per aaab], (a,b)=3          -> merge a+a @4
    //   aaab -> "|aa| |a| |b|"  (left-to-right: no re-match inside "|aa|")
    // iter 2: (aa,a)=2, (a,b)=3                        -> merge a+b @3
    // iter 3: (aa,ab)=2                                -> merge aa+ab @2
    val docs = mkDocs(Seq("aaab ab", "aaab"))
    val m = Bpe.learn(docs, 3)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
    assert(m.toSeq == Seq(
      (1, "a", "a", "aa", 4L),
      (2, "a", "b", "ab", 3L),
      (3, "aa", "ab", "aaab", 2L)))
  }

  test("newlines and non-BMP chars segment whole: learn == learnLocal") {
    // '\n' inside a word must wrap like any char ((?s) — without it the
    // newline stays unwrapped and corrupts the segmentation silently);
    // the emoji is a surrogate pair and must stay ONE symbol
    val docs = mkDocs(Seq("a\nb a\nb", "😀x 😀x 😀x"))
    val e0 = Bpe.encode(docs, Seq.empty)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(e0.toSeq == Seq((0L, 2L, 6L), (1L, 3L, 6L)), e0.toSeq.toString)
    val dist = Bpe.learn(docs, 2)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    val local = Bpe.learnLocal(docs, 2)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(local == dist, s"\nlocal: $local\ndist:  $dist")
    // the emoji pair dominates: first merge fuses the 2-char word
    assert(dist.head._4 == "😀x", dist.toString)
  }

  test("learn: count ties break on (l, r) binary order") {
    // (a,b)=1 and (c,d)=1 tie; '|a|' < '|c|' -> a+b wins
    val m = Bpe.learn(mkDocs(Seq("ab cd")), 1)
      .as[(Int, String, String, String, Long)].collect()
    assert(m.toSeq == Seq((1, "a", "b", "ab", 1L)))
  }

  test("learn: pair-supply exhaustion fails loudly; leaves no pinned blocks") {
    // other suites share this session and may pin their own RDDs —
    // assert learn() adds none, not that the session is globally clean
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Exception](Bpe.learn(mkDocs(Seq("ab")), 2))
    assert(e.getMessage.contains("pair supply exhausted"), e.getMessage)
    // persist hygiene: the type table must be unpersisted even on the
    // failure path (and after a successful learn)
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

  test("learnLocal reproduces learn merge-for-merge; truncation is opt-in") {
    val docs = mkDocs(Seq("aaab ab aaab cd cd", "ab widest widest lower"))
    val dist = Bpe.learn(docs, 6)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    val local = Bpe.learnLocal(docs, 6)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(local == dist, s"\nlocal: $local\ndist:  $dist")
    // more types than maxTypes: silent truncation would change pair
    // counts, so it must be the caller's explicit opt-in
    val e = intercept[IllegalArgumentException](
      Bpe.learnLocal(docs, 1, maxTypes = 2))
    assert(e.getMessage.contains("allowTruncation"), e.getMessage)
    // opted in: learns from the (count desc, word) top-2 types only
    assert(Bpe.learnLocal(docs, 1, maxTypes = 2, allowTruncation = true)
      .count() == 1)
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

  test("encode plans shuffle-free (merges are plan literals)") {
    val enc = Bpe.encode(mkDocs(Seq("aaab ab")), Seq(("a", "a"), ("a", "b")))
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
