package graft.spark

import org.apache.spark.sql.functions._

/** Contracts for the corpus-quality operators: repetition stats match a
  * brute-force reference (ties and unicode included), hash sampling is
  * deterministic/monotone/exact-rate-bounded, token-budget selection
  * equals the global prefix rule, PII redaction masks and counts.
  */
class FilteringSpec extends SparkTestBase {
  import spark.implicits._

  private def mkDocs(texts: Seq[String]) =
    spark.createDataset(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("doc_id", "text")

  /** Brute-force reference for [[Filtering.repetitionStats]]. */
  private def bruteStats(t: String): (Int, Long, Long) = {
    val ws = t.split(" ", -1)
    def grams(n: Int): Seq[String] =
      if (ws.length < n) Seq.empty
      else ws.sliding(n).map(_.mkString(" ")).toSeq
    def bytes(s: String): Long = s.getBytes("UTF-8").length.toLong
    val g2 = grams(2)
    val top =
      if (g2.isEmpty) 0L
      else {
        val (g, c) = g2.groupBy(identity).view.mapValues(_.size).toSeq
          .minBy { case (gram, cnt) => (-cnt, gram) } // max count, lexicographically smallest
        if (c < 2) 0L else c * bytes(g) // a count-1 gram is not repetition
      }
    val dup = grams(3).groupBy(identity)
      .collect { case (g, occ) if occ.size >= 2 => occ.size * bytes(g) }
      .sum
    (ws.length, top, dup)
  }

  test("repetitionStats matches brute force on random, repetitive, and unicode texts") {
    val rnd = new scala.util.Random(7)
    val vocab = Array("alpha", "beta", "gamma", "dd", "e")
    val texts = Seq.tabulate(60)(_ =>
        Seq.fill(rnd.nextInt(40) + 1)(vocab(rnd.nextInt(vocab.length))).mkString(" ")) ++
      Seq("", "one", "x x x x x", "a b a b a b a b",
        "héllo wörld héllo wörld héllo", // UTF-8 multibyte: counts are BYTES
        "p q r s t u v w")              // no repetition at all
    val out = Filtering.repetitionStats(mkDocs(texts))
      .select($"doc_id", $"n_words", $"top2_chars", $"dup3_chars")
      .as[(Long, Int, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(out(i.toLong) == bruteStats(t), s"doc $i: '$t'")
    }
  }

  test("repetitionStatsMapped == repetitionStats row-for-row (incl. unicode, runs, null)") {
    val rnd = new scala.util.Random(53)
    val vocab = Array("alpha", "beta", "gamma", "dd", "e", "é", "𝄞x", "wörld")
    val texts = Seq.tabulate(60)(_ =>
        Seq.fill(rnd.nextInt(40) + 1)(vocab(rnd.nextInt(vocab.length))).mkString(" ")) ++
      Seq("", "one", "x x x x x", "a b a b a b a b", "a  b  a  b",
        " lead lead", "trail trail ",
        "héllo wörld héllo wörld héllo",
        "𝄞 a 𝄞 a 𝄞 a", // supplementary plane: byte counts and byte order
        "p q r s t u v w")
    val withNull = mkDocs(texts).unionByName(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(999L, null: String))),
      mkDocs(Seq("z")).schema))
    val decl = Filtering.repetitionStats(withNull)
      .select($"doc_id", $"n_words", $"top2_chars", $"dup3_chars")
      .as[(Long, Int, Long, Long)].collect().sortBy(_._1).toSeq
    val mapped = Filtering.repetitionStatsMapped(withNull)
      .select($"doc_id", $"n_words", $"top2_chars", $"dup3_chars")
      .as[(Long, Int, Long, Long)].collect().sortBy(_._1).toSeq
    assert(mapped == decl)
  }

  test("gopherRepetitionFilter drops repetitive docs, keeps diverse ones, observable flag") {
    val texts = Seq(
      "spam spam spam spam spam spam",          // all duplicate grams -> drop
      "the quick brown fox jumps over the lazy dog") // no dup grams -> keep
    val flags = Filtering.gopherRepetitionFilter(mkDocs(texts))
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    assert(!flags(0L) && flags(1L))
  }

  test("gopherRepetitionFilter is idempotent: filter of its own output keeps rows and schema") {
    val texts = Seq("spam spam spam spam spam spam",
      "the quick brown fox jumps over the lazy dog", "", "a b a b a b a b")
    val once = Filtering.gopherRepetitionFilter(mkDocs(texts))
    val twice = Filtering.gopherRepetitionFilter(once)
    assert(twice.schema == once.schema)
    assert(twice.collect().toSeq.sortBy(_.getLong(0)) == once.collect().toSeq.sortBy(_.getLong(0)))
  }

  test("null hash keys fail loudly; null text folds to the empty-text convention") {
    // a null key used to hash to a null bucket: hashSample then silently
    // DROPPED the row and assignSplit dumped it in the last split
    val ids = Seq(Some(1L), None).toDF("doc_id")
    def loud(f: => Unit): Unit = {
      val ex = intercept[Exception](f)
      assert(ex.getMessage.contains("non-null key") ||
        Option(ex.getCause).exists(_.getMessage.contains("non-null key")),
        s"expected the null-key guard, got: ${ex.getMessage}")
    }
    loud(Filtering.hashSample(ids, col("doc_id"), 32768).count())
    loud(Filtering.assignSplit(ids, col("doc_id"),
      Seq("train" -> 58982, "val" -> 6554)).select($"split").collect())
    // null text gets the ''-convention stats (n_words=1, no repetition)
    // and a NON-NULL keep flag — a null flag would vanish at .filter(keep)
    val weird = Seq((1L, null.asInstanceOf[String]), (2L, "")).toDF("doc_id", "text")
    val flags = Filtering.gopherRepetitionFilter(weird)
      .select($"doc_id", $"n_words", $"keep").as[(Long, Int, Boolean)].collect()
    assert(flags.toSet == Set((1L, 1, true), (2L, 1, true)))
  }

  test("hashSample: deterministic, monotone in rate, exact at the extremes, near-rate") {
    val ids = spark.range(0, 20000).toDF("doc_id")
    def kept(n: Int): Set[Long] =
      Filtering.hashSample(ids, col("doc_id"), n).as[Long].collect().toSet
    assert(kept(0).isEmpty)
    assert(kept(65536).size == 20000)
    val k10 = kept(6554)  // ~10%
    assert(kept(6554) == k10, "same salt+rate must select the same rows")
    assert(kept(3277).subsetOf(k10), "lower rate must select a subset")
    assert(math.abs(k10.size / 20000.0 - 0.1) < 0.01, s"rate off: ${k10.size}")
    // a different salt draws an (almost surely) different sample
    val other = Filtering.hashSample(ids, col("doc_id"), 6554, salt = "s1")
      .as[Long].collect().toSet
    assert(other != k10)
  }

  test("hashSampleStratified equals per-stratum hashSample") {
    val df = spark.range(0, 5000).toDF("doc_id")
      .withColumn("lang", when(col("doc_id") % 3 === 0, "en").otherwise("de"))
    val rates = Map("en" -> 32768, "de" -> 6554)
    val got = Filtering.hashSampleStratified(df, col("doc_id"), col("lang"), rates)
      .select($"doc_id").as[Long].collect().toSet
    val want = rates.map { case (lang, r) =>
      Filtering.hashSample(df.filter(col("lang") === lang), col("doc_id"), r)
        .select($"doc_id").as[Long].collect().toSet
    }.reduce(_ union _)
    assert(got == want)
    // a stratum without a rate must fail LOUDLY, never silently vanish
    // (the epochMix/selectToBudgetByDomain no-silent-drop pattern)
    val withUnrated = df.withColumn("lang",
      when(col("doc_id") === 0, "code").otherwise(col("lang")))
    val ex = intercept[Exception] {
      Filtering.hashSampleStratified(withUnrated, col("doc_id"), col("lang"), rates)
        .count()
    }
    assert(ex.getMessage.contains("stratum without a rate") ||
      Option(ex.getCause).exists(_.getMessage.contains("stratum without a rate")))
  }

  test("selectToBudget equals the global (score DESC, id ASC) prefix rule") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(500)(i => (i.toLong, rnd.nextInt(10), rnd.nextInt(20) + 1))
    val df = rows.toDF("doc_id", "score", "tok")
    for (budget <- Seq(0L, 37L, 1000L, 2500L, 1000000L)) {
      val got = Filtering.selectToBudget(df, col("score"), col("tok"), col("doc_id"), budget)
        .select($"doc_id").as[Long].collect().toSet
      var cum = 0L
      val want = rows.sortBy { case (id, s, _) => (-s, id) }
        .iterator.takeWhile { case (_, _, t) => cum += t; cum <= budget }
        .map(_._1).toSet
      assert(got == want, s"budget $budget")
    }
  }

  test("selectToBudget refuses an unbounded score domain") {
    val df = spark.range(0, 1000).toDF("doc_id")
      .withColumn("score", col("doc_id")).withColumn("tok", lit(1))
    intercept[IllegalArgumentException] {
      Filtering.selectToBudget(df, col("score"), col("tok"), col("doc_id"),
        100L, maxScoreCard = 10)
    }
  }

  test("selectToBudgetByDomain equals the per-domain prefix rule; fails loudly on a missing budget") {
    val rnd = new scala.util.Random(13)
    val doms = Array("web", "code", "chat")
    val rows = Seq.tabulate(600)(i =>
      (i.toLong, doms(rnd.nextInt(doms.length)), rnd.nextInt(8), rnd.nextInt(20) + 1))
    val df = rows.toDF("doc_id", "dom", "score", "tok")
    val budgets = Map("web" -> 700L, "code" -> 0L, "chat" -> 1000000L)
    val got = Filtering.selectToBudgetByDomain(df, col("dom"), col("score"),
        col("tok"), col("doc_id"), budgets)
      .select($"doc_id").as[Long].collect().toSet
    val want = doms.flatMap { d =>
      var cum = 0L
      rows.filter(_._2 == d).sortBy { case (id, _, s, _) => (-s, id) }
        .iterator.takeWhile { case (_, _, _, t) => cum += t; cum <= budgets(d) }
        .map(_._1)
    }.toSet
    assert(got == want)
    assert(!got.exists(id => rows(id.toInt)._2 == "code")) // zero budget keeps nothing
    assert(rows.filter(_._2 == "chat").map(_._1).toSet.subsetOf(got)) // whole domain fits
    intercept[IllegalArgumentException] { // a budget-less domain must not pass silently
      Filtering.selectToBudgetByDomain(df, col("dom"), col("score"),
        col("tok"), col("doc_id"), Map("web" -> 10L, "code" -> 10L))
    }
  }

  test("assignSplit: disjoint-exhaustive, hashSample-prefix-consistent, near-rate, fail-loud weights") {
    val ids = spark.range(0, 20000).toDF("doc_id")
    val splits = Seq("train" -> 58982, "val" -> 3277, "test" -> 3277)
    val out = Filtering.assignSplit(ids, col("doc_id"), splits, salt = "g")
      .select($"doc_id", $"split").as[(Long, String)].collect()
    assert(out.length == 20000, "every row must get a split (exhaustive)")
    val byName = out.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byName.keySet == Set("train", "val", "test"))
    // split ranges are prefixes of the SAME bucket order hashSample uses:
    // train == sample@58982; train+val == sample@62259
    val s1 = Filtering.hashSample(ids, col("doc_id"), 58982, salt = "g")
      .select($"doc_id").as[Long].collect().toSet
    val s2 = Filtering.hashSample(ids, col("doc_id"), 62259, salt = "g")
      .select($"doc_id").as[Long].collect().toSet
    assert(byName("train") == s1)
    assert(byName("train") ++ byName("val") == s2)
    assert(math.abs(byName("train").size / 20000.0 - 0.9) < 0.01)
    intercept[IllegalArgumentException] { // weights must cover all 65536 buckets
      Filtering.assignSplit(ids, col("doc_id"), Seq("a" -> 1000, "b" -> 1000))
    }
  }

  test("redactPii masks emails, IPs, digit runs; counts precede masking; clean text untouched") {
    val texts = Seq(
      "write to alice.smith+x@mail.example.org today",
      "server at 10.0.255.3 and 192.168.1.1 responded",
      "ref 123456 and pin 9999 but not 123",
      "nothing sensitive here at all",
      "bob@ex.co from 8.8.8.8 acct 55551234")
    val out = Filtering.redactPii(mkDocs(texts))
      .select($"doc_id", $"text", $"n_emails", $"n_ips", $"n_nums")
      .as[(Long, String, Int, Int, Int)].collect().sortBy(_._1)
    assert(out(0)._2 == "write to [EMAIL] today" && out(0)._3 == 1 && out(0)._4 == 0)
    assert(out(1)._2 == "server at [IP] and [IP] responded" && out(1)._4 == 2)
    assert(out(2)._2 == "ref [NUM] and pin [NUM] but not 123" && out(2)._5 == 2)
    assert(out(3)._2 == texts(3) && out(3)._3 == 0 && out(3)._4 == 0 && out(3)._5 == 0)
    assert(out(4)._2 == "[EMAIL] from [IP] acct [NUM]" && out(4)._3 == 1 && out(4)._4 == 1)
    // n_nums counts what [NUM] actually masks: the digit run inside the
    // already-masked email/IP is NOT double-counted
    assert(out(4)._5 == 1)
  }

  test("c4LineClean applies each line rule and page rule independently; no silent drops") {
    val good = "this line has enough words here."
    val texts = Seq(
      // 0: three good lines -> page kept, all lines kept
      s"$good\n$good\n$good",
      // 1: punctuation rule — no terminal punct / wrong punct / trailing-space punct
      s"this line has enough words here\nthis line has enough words here,\n$good  \n$good\n$good",
      // 2: min-words rule — 4 words fails, 5 words passes; multi-space runs don't inflate the count
      s"only four words here.\nfive  words   due to us.\n$good\n$good",
      // 3: javascript rule, case-insensitive
      s"please enable JavaScript to view this.\n$good\n$good\n$good",
      // 4: only two lines survive -> page dropped, clean_text still reported
      s"$good\n$good\nshort line.",
      // 5: lorem ipsum anywhere in the ORIGINAL text -> page dropped even with 3 good lines
      s"$good\n$good\n$good\nstandard lorem ipsum passage follows next here.",
      // 6: a { in the original text -> page dropped
      s"$good\n$good\n$good\nif (x) { return y; } done now ok.",
      // 7: empty last line from trailing newline fails min-words, not an NPE
      s"$good\n$good\n$good\n",
      // 8: quote is terminal punctuation
      "he said the magic word aloud \"\n" + s"$good\n$good\n$good")
    val out = Filtering.c4LineClean(mkDocs(texts))
      .select($"doc_id", $"clean_text", $"n_lines", $"n_kept", $"keep")
      .as[(Long, String, Int, Int, Boolean)].collect().sortBy(_._1)
    assert(out(0) == ((0L, s"$good\n$good\n$good", 3, 3, true)))
    assert(out(1)._4 == 3 && out(1)._5 && !out(1)._2.contains(","))
    // trailing-space line: rtrim before the punct check keeps it
    assert(out(1)._2.split("\n").length == 3)
    assert(out(2)._4 == 3 && out(2)._2.startsWith("five"))
    assert(out(3)._4 == 3 && out(3)._5 && !out(3)._2.toLowerCase.contains("javascript"))
    assert(out(4)._4 == 2 && !out(4)._5 && out(4)._2 == s"$good\n$good")
    assert(out(5)._4 == 4 && !out(5)._5) // line rules pass, page rule vetoes
    assert(out(6)._4 == 4 && !out(6)._5)
    assert(out(7) == ((7L, s"$good\n$good\n$good", 4, 3, true)))
    assert(out(8)._4 == 4 && out(8)._5)
    // null text: folds to '' — observable row with keep=false, never dropped or NPE
    val nulls = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(99L, null: String))),
      mkDocs(Seq("x")).schema)
    val nr = Filtering.c4LineClean(nulls)
      .select($"doc_id", $"clean_text", $"n_lines", $"n_kept", $"keep")
      .as[(Long, String, Int, Int, Boolean)].collect()
    assert(nr.toSeq == Seq((99L, "", 1, 0, false)))
    // shuffle-free: pure projection, no Exchange in the plan
    val plan = Filtering.c4LineClean(mkDocs(texts)).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("dedupLinesInDoc keeps first occurrences in order; interior dups removed; null safe") {
    val texts = Seq(
      "a b\nc d\na b\ne f",        // interior duplicate of line 0
      "x\nx\nx",                   // run of identical lines
      "a b\nc d",                  // nothing to do
      "one\ntwo\none\ntwo\nthree") // interleaved repeats
    val out = Filtering.dedupLinesInDoc(mkDocs(texts))
      .select($"doc_id", $"clean_text", $"n_lines", $"n_kept")
      .as[(Long, String, Int, Int)].collect().sortBy(_._1)
    assert(out(0) == ((0L, "a b\nc d\ne f", 4, 3)))
    assert(out(1) == ((1L, "x", 3, 1)))
    assert(out(2) == ((2L, "a b\nc d", 2, 2)))
    assert(out(3) == ((3L, "one\ntwo\nthree", 5, 3)))
    val nulls = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(9L, null: String))),
      mkDocs(Seq("x")).schema)
    val nr = Filtering.dedupLinesInDoc(nulls)
      .select($"doc_id", $"clean_text", $"n_lines", $"n_kept")
      .as[(Long, String, Int, Int)].collect()
    assert(nr.toSeq == Seq((9L, "", 1, 1)))
    val plan = Filtering.dedupLinesInDoc(mkDocs(texts)).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
