package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Chunking contract: bounded size, exact overlap, full coverage —
  * concatenating chunks minus their overlaps reconstructs the doc.
  */
class ChunkingSpec extends SparkTestBase {
  import spark.implicits._

  private def mkDocs(texts: Seq[String]) =
    spark.createDataset(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("doc_id", "text")

  // The three retired chunkers, rebuilt from the two kept forms so their
  // contracts stay pinned on the same inputs and shapes:
  //  - chunkCounts: the walk's (doc_id, chunk_idx, n_tokens)
  //  - chunkOffsetsOnly: the declarative reference for the walk —
  //    chunk()'s sizes, with char_start measured as the joined length
  //    of the chunk_idx * step words before the window plus one space
  //  - chunkWithOffsets: chunk()'s text with the walk's char_start; a
  //    window either form lacks leaves a null that fails the decode
  private def chunkCounts(docs: DataFrame, mt: Int, ov: Int) =
    Chunking.chunkOffsetsMapped(docs, mt, ov)
      .select(col("doc_id"), col("chunk_idx"), col("n_tokens"))

  private def chunkOffsetsOnly(docs: DataFrame, mt: Int, ov: Int) =
    Chunking.chunk(docs, mt, ov)
      .join(docs.select(col("doc_id"), split(coalesce(col("text"), lit("")), " ").as("w")),
        Seq("doc_id"))
      .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
        length(col("chunk_text")).cast("long").as("chunk_len"),
        when(col("chunk_idx") === 0, lit(0L)).otherwise(
          length(array_join(slice(col("w"), lit(1), col("chunk_idx") * (mt - ov)), " "))
            .cast("long") + 1L).as("char_start"))

  private def chunkWithOffsets(docs: DataFrame, maxTokens: Int, overlap: Int) =
    Chunking.chunk(docs, maxTokens, overlap)
      .join(Chunking.chunkOffsetsMapped(docs, maxTokens, overlap)
          .select(col("doc_id"), col("chunk_idx"), col("char_start")),
        Seq("doc_id", "chunk_idx"), "full_outer")
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"), col("n_tokens"),
        col("char_start"))

  test("every word covered, chunks bounded, consecutive chunks share exactly `overlap` words") {
    val rnd = new scala.util.Random(5)
    val texts = Seq.tabulate(40)(i =>
      Seq.fill(rnd.nextInt(60) + 1)("w" + rnd.nextInt(1000)).mkString(" ")) ++
      Seq("", "one", "a b c")
    val maxTokens = 8
    val overlap = 3
    val step = maxTokens - overlap
    val out = Chunking.chunk(mkDocs(texts), maxTokens, overlap)
      .as[(Long, Int, String, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val words = t.split(" ", -1)
      val chunks = out(i.toLong)
      // chunk indexes contiguous from 0; sizes bounded; n_tokens true
      assert(chunks.map(_._2).toSeq == chunks.indices)
      chunks.foreach { c =>
        val cw = c._3.split(" ", -1)
        assert(cw.length <= maxTokens && cw.length == c._4, s"doc $i chunk $c")
      }
      // reconstruction: first chunk + each subsequent minus overlap
      val rebuilt = chunks.head._3.split(" ", -1) ++
        chunks.tail.flatMap(_._3.split(" ", -1).drop(overlap))
      assert(rebuilt.toSeq == words.toSeq, s"doc $i")
      // consecutive chunks share exactly `overlap` words
      chunks.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3.split(" ", -1).takeRight(overlap).toSeq ==
            b._3.split(" ", -1).take(overlap).toSeq, s"doc $i overlap")
        case _ =>
      }
      // single-chunk docs iff short enough
      assert((words.length <= maxTokens) == (chunks.length == 1), s"doc $i count")
    }
  }

  test("zero overlap partitions the doc exactly") {
    val out = Chunking.chunk(mkDocs(Seq(((1 to 10).map("t" + _)).mkString(" "))),
        maxTokens = 4, overlap = 0)
      .orderBy("chunk_idx").as[(Long, Int, String, Int)].collect()
    assert(out.map(_._3).toSeq == Seq("t1 t2 t3 t4", "t5 t6 t7 t8", "t9 t10"))
    assert(out.map(_._4).toSeq == Seq(4, 4, 2))
  }

  test("wordCount == size(split(t, ' ')) incl. empties, runs, null") {
    val texts = Seq("", " ", "  ", "a", "a b", "a  b", " a b ", "a\nb c",
      "x" * 50, ("w " * 30).trim, "é ü  ß")
    val df = mkDocs(texts).unionByName(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(99L, null: String))),
      mkDocs(Seq("z")).schema))
    val rows = df.select(col("doc_id"),
        size(split(col("text"), " ")).as("a"),
        Chunking.wordCount(col("text")).as("b"))
      .collect()
    rows.foreach { r =>
      val a = if (r.isNullAt(1)) null else r.getInt(1)
      val b = if (r.isNullAt(2)) null else r.getInt(2)
      // size(split(null)) is -1 under legacy sizing but null here; both
      // columns must agree row-for-row whichever convention is active
      assert((r.isNullAt(1) || r.getInt(1) >= 0) &&
        ((r.isNullAt(1) && r.isNullAt(2)) || a == b), s"row $r")
    }
  }

  test("chunkWithOffsets: chunk_text == substring(text, char_start+1, len) for every chunk") {
    val rnd = new scala.util.Random(11)
    // variable-width words (and embedded non-space whitespace, which
    // split(" ") keeps inside words) so char offsets differ from any
    // token-count arithmetic
    val texts = Seq.tabulate(25)(i =>
      Seq.fill(rnd.nextInt(40) + 1)("x" * (1 + rnd.nextInt(6)) +
        (if (rnd.nextInt(5) == 0) "\nY" else "")).mkString(" ")) ++
      Seq("", "one", "a b c")
    val out = chunkWithOffsets(mkDocs(texts), maxTokens = 7, overlap = 2)
      .as[(Long, Int, String, Int, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (d, ci, ct, nt, cs) =>
      val t = texts(d.toInt)
      assert(t.substring(cs.toInt, cs.toInt + ct.length) == ct,
        s"doc $d chunk $ci: offset $cs wrong")
      // the offset is preceded by a space or starts the doc
      assert(cs == 0L || t.charAt(cs.toInt - 1) == ' ', s"doc $d chunk $ci")
      assert(nt == ct.split(" ", -1).length)
    }
    // identical chunking to chunk() itself (offsets are additive only)
    val plain = Chunking.chunk(mkDocs(texts), maxTokens = 7, overlap = 2)
      .as[(Long, Int, String, Int)].collect().toSet
    assert(out.map(r => (r._1, r._2, r._3, r._4)).toSet == plain)
    assert(out.length == plain.size)
  }

  test("chunkCounts == chunk projected to (id, idx, n_tokens)") {
    val rnd = new scala.util.Random(23)
    val texts = Seq.tabulate(30)(i =>
      Seq.fill(rnd.nextInt(70) + 1)("w" * (1 + rnd.nextInt(4))).mkString(" ")) ++
      Seq("", "one", "a b c", "a  b", " lead", "trail ")
    for ((mt, ov) <- Seq((8, 3), (4, 0), (16, 4))) {
      val slim = chunkCounts(mkDocs(texts), mt, ov)
        .as[(Long, Int, Int)].collect().sortBy(r => (r._1, r._2)).toSeq
      val full = Chunking.chunk(mkDocs(texts), mt, ov)
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"))
        .as[(Long, Int, Int)].collect().sortBy(r => (r._1, r._2)).toSeq
      assert(slim == full, s"diverged at ($mt, $ov)")
    }
  }

  test("chunkOffsetsOnly == chunkWithOffsets projected to ids + sizes") {
    val rnd = new scala.util.Random(31)
    val texts = Seq.tabulate(30)(i =>
      Seq.fill(rnd.nextInt(50) + 1)("x" * (1 + rnd.nextInt(6)) +
        (if (rnd.nextInt(5) == 0) "\nY" else "")).mkString(" ")) ++
      Seq("", "one", "a b c", "a  b ", "é ü ß")
    for ((mt, ov) <- Seq((7, 2), (16, 4), (3, 0))) {
      val slim = chunkOffsetsOnly(mkDocs(texts), mt, ov)
        .as[(Long, Int, Int, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
      val full = chunkWithOffsets(mkDocs(texts), mt, ov)
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
          length(col("chunk_text")).cast("long"), col("char_start"))
        .as[(Long, Int, Int, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
      assert(slim == full, s"diverged at ($mt, $ov)")
    }
  }

  test("chunkOffsetsMapped == chunkOffsetsOnly row-for-row (incl. non-BMP, runs, null)") {
    val rnd = new scala.util.Random(41)
    val texts = Seq.tabulate(30)(i =>
      Seq.fill(rnd.nextInt(50) + 1)("x" * (1 + rnd.nextInt(6)) +
        (if (rnd.nextInt(5) == 0) "\nY" else "")).mkString(" ")) ++
      // supplementary-plane chars: Spark length() counts code points,
      // Java String.length counts UTF-16 units — the compiled walk must
      // agree with the declarative form on both offsets and lengths
      Seq("", "one", "a b c", "a  b ", " lead", "é ü ß",
        "𝄞𝄞 x 😀y z", "a 𝄞 b c d e f g")
    val withNull = mkDocs(texts).unionByName(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(999L, null: String))),
      mkDocs(Seq("z")).schema))
    for ((mt, ov) <- Seq((7, 2), (16, 4), (3, 0), (2, 1))) {
      val mapped = Chunking.chunkOffsetsMapped(withNull, mt, ov)
        .as[(Long, Int, Int, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
      val decl = chunkOffsetsOnly(withNull, mt, ov)
        .as[(Long, Int, Int, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
      assert(mapped == decl, s"diverged at ($mt, $ov)")
    }
  }

  test("chunkOffsetsMapped on unpaired surrogates: == chunkOffsetsOnly, offsets rebuild each chunk") {
    // a lone low surrogate would be skipped by the walk's code-point
    // count and a lone high one counted; both must still agree with
    // Spark's length() once the text has crossed into a DataFrame
    val texts = Seq("a \uDC00b c d", "x\uD800 y z w", "\uD800", "\uDC00",
      "\uDC00 \uD800 w v u", "\uD800\uD800 a \uDC00\uDC00 b c", "p q\uDC00 \uD800r s t")
    val docs = mkDocs(texts)
    // why they agree: UTF-8 encoding into the DataFrame already turned
    // each unpaired surrogate into '?', so the walk never sees one
    assert(docs.select($"text").as[String].collect().toSet ==
      texts.map(_.replaceAll("[\\uD800-\\uDFFF]", "?")).toSet)
    for ((mt, ov) <- Seq((3, 1), (2, 0))) {
      val mapped = Chunking.chunkOffsetsMapped(docs, mt, ov)
      val rows = mapped.as[(Long, Int, Int, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
      val decl = chunkOffsetsOnly(docs, mt, ov)
        .as[(Long, Int, Int, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
      assert(rows == decl, s"diverged at ($mt, $ov)")
      val texted = Chunking.chunk(docs, mt, ov).select($"doc_id", $"chunk_idx", $"chunk_text")
      val bad = mapped.join(docs, "doc_id").join(texted, Seq("doc_id", "chunk_idx"))
        .filter(expr("substring(text, char_start + 1, chunk_len)") =!= $"chunk_text" ||
          length($"chunk_text") =!= $"chunk_len")
      assert(bad.count() == 0, s"offsets miss their chunk at ($mt, $ov)")
      assert(texted.count() == rows.size)
    }
  }

  test("chunkOffsetsMapped fails fast on a non-integral id column") {
    val df = spark.createDataset(Seq(("c1", "a b c"))).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Chunking.chunkOffsetsMapped(df, 4, 1)
    }
    assert(e.getMessage.contains("integral"))
  }

  test("slim chunkers stay shuffle-free projections") {
    val plan = Chunking.chunkOffsetsMapped(mkDocs(Seq("a b c d e")), 3, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"), plan)
  }

  test("chunking plans as a shuffle-free projection (no exchange, no UDF)") {
    val plan = Chunking.chunk(mkDocs(Seq("a b c")), 4, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"), plan)
  }
}
