package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Chunking contract: bounded size, exact overlap, full coverage —
  * concatenating chunks minus their overlaps reconstructs the doc. Both
  * public forms run one kernel, so each is pinned to an independent
  * reference (`referenceChunk`), not to the other.
  */
class ChunkingSpec extends SparkTestBase {
  import spark.implicits._

  private def mkDocs(texts: Seq[String]) =
    spark.createDataset(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("doc_id", "text")

  // The declarative chunker the kernel replaced, kept verbatim as the
  // independent reference both public forms are pinned to: the windows
  // as a higher-order-function projection over split / sequence /
  // posexplode / slice / array_join.
  private def referenceChunk(docs: DataFrame, maxTokens: Int, overlap: Int,
                             textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val step = maxTokens - overlap
    val w: Column = col("w")
    val n: Column = size(w)
    // last start: the largest multiple of step strictly below
    // max(1, n - overlap) — guarantees the final chunk is non-empty and
    // every word is covered
    val lastStart = (ceil((greatest(n - lit(overlap), lit(1))).cast("double")
      / lit(step)).cast("int") - 1) * lit(step)
    // coalesce: split(null) yields a null array and posexplode then emits
    // NO rows — null-text docs would vanish silently (ADVICE r4). An
    // empty string chunks like any other text (one chunk, [""]), so null
    // docs stay visible downstream.
    docs
      .select(col(idCol), split(coalesce(col(textCol), lit("")), " ").as("w"))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), lastStart, lit(step)), start =>
          struct(
            array_join(slice(w, start + 1, lit(maxTokens)), " ").as("chunk_text"),
            least(n - start, lit(maxTokens)).as("n_tokens"))))
          .as(Seq("chunk_idx", "c")))
      .select(col(idCol), col("chunk_idx"),
        col("c.chunk_text").as("chunk_text"),
        col("c.n_tokens").as("n_tokens"))
  }

  // Helpers over the reference and the two public forms:
  //  - chunkOffsetsOnly: the reference's windows as (doc_id, chunk_idx,
  //    n_tokens, chunk_len, char_start), char_start measured as the
  //    joined length of the chunk_idx * step words before the window
  //    plus one space
  //  - chunkWithOffsets: chunk()'s text with chunkOffsetsMapped's
  //    char_start; a window either form lacks leaves a null that fails
  //    the decode
  private def chunkOffsetsOnly(docs: DataFrame, mt: Int, ov: Int) =
    referenceChunk(docs, mt, ov)
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

  /** Every (max_tokens, overlap) shape the forms are pinned at. */
  private val shapes = Seq((7, 2), (16, 4), (3, 0), (2, 1), (1, 0))

  /** Variable-width words, embedded non-space whitespace (kept inside
    * words by split(" ")), space runs, leading and trailing spaces, and
    * supplementary-plane chars (Spark length() counts code points, Java
    * String.length UTF-16 units), plus a null text. */
  private def mixedDocs(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val texts = Seq.tabulate(30)(i =>
      Seq.fill(rnd.nextInt(50) + 1)("x" * (1 + rnd.nextInt(6)) +
        (if (rnd.nextInt(5) == 0) "\nY" else "")).mkString(" ")) ++
      Seq("", "one", "a b c", "a  b ", "a   b", " lead", "trail ", "  ", "é ü ß",
        "𝄞𝄞 x 😀y z", "a 𝄞 b c d e f g")
    mkDocs(texts).unionByName(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(999L, null: String))),
      mkDocs(Seq("z")).schema))
  }

  private def sorted4(df: DataFrame) =
    df.as[(Long, Int, String, Int)].collect().sortBy(r => (r._1, r._2)).toSeq

  private def sorted5(df: DataFrame) =
    df.as[(Long, Int, Int, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq

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

  test("chunk == the declarative reference (incl. non-BMP, runs, null)") {
    val docs = mixedDocs(23)
    for ((mt, ov) <- shapes) {
      val got = sorted4(Chunking.chunk(docs, mt, ov))
      assert(got.nonEmpty && got == sorted4(referenceChunk(docs, mt, ov)), s"diverged at ($mt, $ov)")
    }
  }

  test("chunkOffsetsOnly == chunkWithOffsets projected to ids + sizes") {
    val docs = mixedDocs(31)
    for ((mt, ov) <- shapes) {
      val slim = sorted5(chunkOffsetsOnly(docs, mt, ov))
      val full = sorted5(chunkWithOffsets(docs, mt, ov)
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
          length(col("chunk_text")).cast("long"), col("char_start")))
      assert(slim == full, s"diverged at ($mt, $ov)")
    }
  }

  test("chunkOffsetsMapped == chunkOffsetsOnly row-for-row (incl. non-BMP, runs, null)") {
    val docs = mixedDocs(41)
    for ((mt, ov) <- shapes) {
      val mapped = sorted5(Chunking.chunkOffsetsMapped(docs, mt, ov))
      assert(mapped.nonEmpty && mapped == sorted5(chunkOffsetsOnly(docs, mt, ov)),
        s"diverged at ($mt, $ov)")
    }
  }

  test("chunkOffsetsMapped on unpaired surrogates: == chunkOffsetsOnly, offsets rebuild each chunk") {
    val texts = Seq("a \uDC00b c d", "x\uD800 y z w", "\uD800", "\uDC00",
      "\uDC00 \uD800 w v u", "\uD800\uD800 a \uDC00\uDC00 b c", "p q\uDC00 \uD800r s t")
    val docs = mkDocs(texts)
    // UTF-8 encoding into the DataFrame turns each unpaired surrogate
    // into '?', so the kernel only ever sees valid UTF-8
    assert(docs.select($"text").as[String].collect().toSet ==
      texts.map(_.replaceAll("[\\uD800-\\uDFFF]", "?")).toSet)
    for ((mt, ov) <- shapes ++ Seq((3, 1), (2, 0))) {
      val mapped = Chunking.chunkOffsetsMapped(docs, mt, ov)
      val rows = sorted5(mapped)
      assert(rows == sorted5(chunkOffsetsOnly(docs, mt, ov)), s"diverged at ($mt, $ov)")
      val texted = Chunking.chunk(docs, mt, ov)
      assert(sorted4(texted) == sorted4(referenceChunk(docs, mt, ov)), s"chunk diverged at ($mt, $ov)")
      val bad = mapped.join(docs, "doc_id")
        .join(texted.select($"doc_id", $"chunk_idx", $"chunk_text"), Seq("doc_id", "chunk_idx"))
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
    // both forms plan the one ChunkWindows generator, with no object
    // boundary (a typed mapPartitions) and no UDF around it
    val docs = mkDocs(Seq("a b c d e"))
    for (df <- Seq(Chunking.chunkOffsetsMapped(docs, 3, 1), Chunking.chunk(docs, 3, 1))) {
      val plan = df.queryExecution.optimizedPlan
      val ops = plan.collect { case p => p.nodeName }
      val exprs = plan.flatMap(_.expressions.flatMap(_.collect { case e => e.getClass.getSimpleName }))
      assert(exprs.count(_ == "ChunkWindows") == 1, plan.toString)
      assert(!ops.exists(Set("DeserializeToObject", "MapPartitions")) && !exprs.contains("ScalaUDF"),
        plan.toString)
      val physical = df.queryExecution.executedPlan.toString
      assert(!physical.contains("Exchange"), physical)
      assert(!physical.contains("BatchEvalPython") && !physical.contains("UDF"), physical)
    }
    // the output schemas the packing and span-remap consumers read
    assert(Chunking.chunkOffsetsMapped(docs, 3, 1).schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq("doc_id" -> "bigint", "chunk_idx" -> "int", "n_tokens" -> "int",
        "chunk_len" -> "bigint", "char_start" -> "bigint"))
    assert(Chunking.chunk(docs, 3, 1).schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq("doc_id" -> "bigint", "chunk_idx" -> "int", "chunk_text" -> "string", "n_tokens" -> "int"))
  }

  test("chunking plans as a shuffle-free projection (no exchange, no UDF)") {
    val plan = Chunking.chunk(mkDocs(Seq("a b c")), 4, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"), plan)
  }
}
