package graft.spark

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Next-fit packing contract: equals the sequential reference fold on
  * every shard regardless of Spark partitioning; capacity respected
  * except for observable oversize singletons; every chunk assigned
  * exactly once.
  */
class PackingSpec extends SparkTestBase {
  import spark.implicits._

  private def referenceFold(sizes: Seq[Int], cap: Int): Seq[(Long, Int)] = {
    var seq = 0L; var pos = 0; var fill = 0L
    sizes.zipWithIndex.map { case (nt, i) =>
      if (i == 0) { fill = nt }
      else if (fill + nt > cap) { seq += 1; pos = 0; fill = nt }
      else { pos += 1; fill += nt }
      (seq, pos)
    }
  }

  test("equals the sequential reference fold for random shards and sizes") {
    val rnd = new scala.util.Random(13)
    val cap = 20
    // 30 docs, random chunk counts/sizes (some oversize), hash shards
    val rows = for {
      d <- 0L until 30L
      c <- 0 until (1 + rnd.nextInt(6))
    } yield (d, c, "t", 1 + rnd.nextInt(25))
    val df = spark.createDataset(rnd.shuffle(rows)).toDF("doc_id", "chunk_idx", "chunk_text", "n_tokens")
    val got = Packing.packNextFit(df, cap, nShards = 4)
      .select(col("shard"), col("doc_id"), col("chunk_idx"), col("n_tokens"),
        col("seq_idx"), col("seq_pos"))
      .as[(Long, Long, Int, Int, Long, Int)].collect()
    assert(got.length == rows.length) // every chunk exactly once
    val byShard = got.groupBy(_._1)
    byShard.foreach { case (sh, g) =>
      val ordered = g.sortBy(r => (r._2, r._3))
      val want = referenceFold(ordered.map(_._4).toSeq, cap)
      assert(ordered.map(r => (r._5, r._6)).toSeq == want, s"shard $sh")
      // capacity respected except oversize singletons
      ordered.groupBy(_._5).foreach { case (seq, chunks) =>
        val tot = chunks.map(_._4).sum
        assert(tot <= cap || (chunks.length == 1 && chunks.head._4 > cap),
          s"shard $sh seq $seq tot=$tot")
      }
    }
    // shard assignment is the doc hash: a doc's chunks never split
    assert(got.groupBy(_._2).forall(_._2.map(_._1).distinct.length == 1))
  }

  test("packNextFitWithOffsets == packNextFit + sequenceSpans (fused seq_off, incl. in remap)") {
    val rnd = new scala.util.Random(47)
    // random docs with variable-width words so char offsets exercise the
    // running len+sep sum, several docs per shard, some oversize chunks
    val docs = spark.createDataset((0L until 40L).map(d =>
        (d, Seq.fill(1 + rnd.nextInt(30))("x" * (1 + rnd.nextInt(7))).mkString(" "))))
      .toDF("doc_id", "text")
    val chunks = Chunking.chunkOffsetsMapped(docs, maxTokens = 4, overlap = 1)
    // the unfused derivation the fold replaced: join the assignments back
    // to the chunk lengths and sum len + sep (one char) over the earlier
    // members of each (shard, seq_idx) in seq_pos order
    val before = Window.partitionBy(col("shard"), col("seq_idx"))
      .orderBy(col("seq_pos")).rowsBetween(Window.unboundedPreceding, -1)
    for (cap <- Seq(6, 10)) {
      val fused = Packing.packNextFit(chunks, cap, nShards = 4)
      val unfused = fused.drop("seq_off", "seq_end")
        .join(chunks.select(col("doc_id"), col("chunk_idx"), col("chunk_len")),
          Seq("doc_id", "chunk_idx"))
        .withColumn("seq_off", coalesce(sum(col("chunk_len") + 1L).over(before), lit(0L)))
        .withColumn("seq_end", col("seq_off") + col("chunk_len"))
        .drop("chunk_len")
      assert(fused.count() == chunks.count(), s"cap $cap assignments")
      // seq_off/seq_end == the derived span per (doc, chunk), and
      // sequenceSpans projects exactly that span
      def offsets(df: org.apache.spark.sql.DataFrame, start: String, end: String) =
        df.select(col("doc_id"), col("chunk_idx"), col(start), col(end))
          .as[(Long, Int, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
      val want = offsets(unfused, "seq_off", "seq_end")
      assert(want.size == chunks.count(), s"cap $cap derived")
      assert(offsets(fused, "seq_off", "seq_end") == want, s"cap $cap offsets")
      assert(offsets(Packing.sequenceSpans(fused), "span_start", "span_end") == want,
        s"cap $cap spans")
      // and the remap consumes seq_off identically to the derived path
      val spans = spark.createDataset((0L until 40L).flatMap(d =>
          Seq.fill(rnd.nextInt(3))({ val s = rnd.nextInt(40); (d, s.toLong, (s + 1 + rnd.nextInt(20)).toLong) })))
        .toDF("doc_id", "span_start", "span_end")
      val viaFused = Packing.remapSpansToSequences(chunks, fused, spans)
        .as[(Long, Long, Int, Long, Int, Long, Long)].collect().sorted.toSeq
      val viaUnfused = Packing.remapSpansToSequences(chunks, unfused, spans)
        .as[(Long, Long, Int, Long, Int, Long, Long)].collect().sorted.toSeq
      assert(viaFused == viaUnfused, s"cap $cap remap")
    }
  }

  test("sequences materialize every chunk once, in seq_pos order, with true token sums") {
    val docs = spark.createDataset(Seq(
        (1L, (1 to 10).map("a" + _).mkString(" ")),
        (2L, (1 to 3).map("b" + _).mkString(" "))))
      .toDF("doc_id", "text")
    val chunks = Chunking.chunk(docs, maxTokens = 4, overlap = 0)
    val asg = Packing.packNextFit(chunks, capacity = 6,
      shard = org.apache.spark.sql.functions.col("doc_id"))
    val seqs = Packing.sequences(chunks, asg)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(s => (s._1, s._2))
    // doc 1: chunks (4,4,2) -> next-fit at 6: [4], [4, 2]; doc 2: [3]
    assert(seqs.map(s => (s._1, s._2, s._3, s._4)).toSeq ==
      Seq((1L, 0L, 1L, 4L), (1L, 1L, 2L, 6L), (2L, 0L, 1L, 3L)))
    assert(seqs(1)._5 == "a5 a6 a7 a8\na9 a10") // seq_pos order, EOS separator
    // conservation: every chunk lands in exactly one sequence
    assert(seqs.map(_._3).sum == chunks.count())
    assert(seqs.map(_._4).sum ==
      chunks.agg(sum(col("n_tokens"))).head().getLong(0))
  }

  test("cross-doc packing interleaves docs within a shard; provenance replays membership in order") {
    val docs = spark.createDataset(Seq(
        (1L, (1 to 4).map("a" + _).mkString(" ")),
        (3L, (1 to 4).map("b" + _).mkString(" ")),
        (5L, (1 to 4).map("c" + _).mkString(" "))))
      .toDF("doc_id", "text")
    val chunks = Chunking.chunk(docs, maxTokens = 4, overlap = 0)
    // all three docs share shard 1 (doc_id % 2); capacity 8 packs TWO
    // docs' chunks into one sequence — a genuine cross-document window
    val asg = Packing.packNextFit(chunks, capacity = 8,
      shard = pmod(col("doc_id"), lit(2)))
    val seqs = Packing.sequences(chunks, asg, withProvenance = true)
      .as[(Long, Long, Long, Long, String, String)].collect()
      .sortBy(s => (s._1, s._2))
    // walk order within shard 1: (1,0), (3,0), (5,0) — 4+4 fills seq 0,
    // doc 5 opens seq 1
    assert(seqs.toSeq == Seq(
      (1L, 0L, 2L, 8L, "a1 a2 a3 a4\nb1 b2 b3 b4", "1:0,3:0"),
      (1L, 1L, 1L, 4L, "c1 c2 c3 c4", "5:0")))
    // provenance fields replay exactly the member (doc, chunk) keys in
    // seq_pos order — a takedown of doc 3 locates sequence (1, 0) alone
    assert(seqs.count(_._6.split(",").exists(_.startsWith("3:"))) == 1)
    // the traceback operators agree with the provenance column
    val byPred = Packing.affectedSequences(asg, col("doc_id") === 3)
      .as[(Long, Long, String)].collect().toSeq
    assert(byPred == Seq((1L, 0L, "3")))
    val byDocs = Packing.affectedSequencesByDocs(asg,
      spark.createDataset(Seq(3L, 5L)).toDF("doc_id"))
      .as[(Long, Long, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(byDocs == Seq((1L, 0L, "3"), (1L, 1L, "5")))
  }

  test("sequenceSpans: substring(seq_text, span) == chunk_text; spans tile seq_text with sep gaps") {
    val rnd = new scala.util.Random(29)
    // variable-width words so char spans differ from token arithmetic;
    // several docs per shard
    val docs = spark.createDataset((0L until 12L).map(d =>
        (d, (0 until (3 + rnd.nextInt(20)))
          .map(i => "w" * (1 + rnd.nextInt(7)) + i).mkString(" "))))
      .toDF("doc_id", "text")
    val chunks = Chunking.chunk(docs, maxTokens = 4, overlap = 1)
    // a SLIM chunk relation (chunk_len instead of chunk_text — the
    // checkpoint shape q_masked_pipeline packs) must pack to the same spans
    val slim = chunks.select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
      length(col("chunk_text")).cast("long").as("chunk_len"))
    for (cap <- Seq(6, 10)) {
      val byRelation = for (rel <- Seq(chunks, slim)) yield {
        val asg = Packing.packNextFit(rel, capacity = cap, shard = pmod(col("doc_id"), lit(3)))
        val spans = Packing.sequenceSpans(asg)
        val seqs = Packing.sequences(chunks, asg)
        // the invariant the operator exists for: each span cuts exactly
        // its chunk's text out of the materialized sequence
        val joined = spans
          .join(seqs.select(col("shard"), col("seq_idx"), col("seq_text")), Seq("shard", "seq_idx"))
          .join(chunks.select(col("doc_id"), col("chunk_idx"), col("chunk_text")),
            Seq("doc_id", "chunk_idx"))
        assert(joined.filter(
          substring(col("seq_text"), (col("span_start") + 1).cast("int"),
            (col("span_end") - col("span_start")).cast("int")) =!= col("chunk_text"))
          .count() == 0, s"cap $cap")
        // tiling: first span starts at 0, consecutive spans gap by
        // len(sep)=1, last span ends at length(seq_text) — per sequence
        val tiling = spans.groupBy(col("shard"), col("seq_idx"))
          .agg(min(col("span_start")).as("first_start"),
            max(col("span_end")).as("last_end"),
            sum(col("span_end") - col("span_start")).as("covered"),
            count(lit(1)).as("n"))
          .join(seqs.select(col("shard"), col("seq_idx"),
            length(col("seq_text")).cast("long").as("seq_len")), Seq("shard", "seq_idx"))
        assert(tiling.filter(col("first_start") =!= 0L).count() == 0, s"cap $cap")
        assert(tiling.filter(col("last_end") =!= col("seq_len")).count() == 0, s"cap $cap")
        assert(tiling.filter(col("covered") + col("n") - 1L =!= col("seq_len")).count() == 0,
          s"cap $cap")
        // every chunk got exactly one span
        assert(spans.count() == chunks.count(), s"cap $cap")
        spans.collect().toSet
      }
      assert(byRelation.head == byRelation(1), s"cap $cap: slim and text relations differ")
    }
  }

  test("packNextFit rejects a chunk relation with neither chunk_len nor chunk_text") {
    val df = spark.createDataset(Seq((1L, 0, 3))).toDF("doc_id", "chunk_idx", "n_tokens")
    val e = intercept[IllegalArgumentException](Packing.packNextFit(df, 10))
    assert(e.getMessage.contains("chunk_len"))
  }

  test("remapSpansToSequences: masks cut assistant text exactly; overlap duplicates, never loses") {
    val rnd = new scala.util.Random(41)
    // "conversations": alternating user/assistant turns joined by \n,
    // with variable word widths (some empty assistant turns)
    val docsData = (0L until 10L).map { d =>
      val turns = (0 until 2 + rnd.nextInt(5)).map { j =>
        val role = if (j % 2 == 1) "assistant" else "user"
        val words = (0 until rnd.nextInt(7)).map(k =>
          s"${role.head}$d$j$k" + "z" * rnd.nextInt(4))
        (role, words.mkString(" "))
      }
      (d, turns)
    }
    val docs = spark.createDataset(
        docsData.map { case (d, ts) => (d, ts.map(_._2).mkString("\n")) })
      .toDF("doc_id", "text")
    val spanRows = docsData.flatMap { case (d, ts) =>
      var off = 0L
      ts.flatMap { case (role, t) =>
        val r = if (role == "assistant") Some((d, off, off + t.length)) else None
        off += t.length + 1
        r
      }
    }
    val docSpans = spark.createDataset(spanRows)
      .toDF("doc_id", "span_start", "span_end")
    val docText = docsData.map { case (d, ts) => d -> ts.map(_._2).mkString("\n") }.toMap

    for (overlap <- Seq(0, 2)) {
      // the q_masked_pipeline shape: the slim chunk walk feeds the fold
      // and the remap; the text chunks only materialize seq_text
      val chunks = Chunking.chunkOffsetsMapped(docs, maxTokens = 5, overlap = overlap)
      val asg = Packing.packNextFit(chunks, capacity = 8, shard = pmod(col("doc_id"), lit(2)))
      val seqText = Packing.sequences(Chunking.chunk(docs, maxTokens = 5, overlap = overlap), asg)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[String]("seq_text")).toMap
      val offs = Packing.sequenceSpans(asg)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) ->
          (r.getLong(3), r.getInt(4), r.getLong(5))).toMap // -> (doc, chunk, seq_off)
      val chunkStart = chunks.collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getAs[Long]("char_start")).toMap
      val masks = Packing.remapSpansToSequences(chunks, asg, docSpans).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
          r.getInt(4), r.getLong(5), r.getLong(6)))
      assert(masks.nonEmpty)
      // per span: seq_text slice == doc text slice at the mapped-back
      // doc coordinates, and that slice is assistant material
      masks.foreach { case (sh, si, sp, d, ci, s, e) =>
        assert(s < e, "zero-width mask emitted")
        val st = seqText((sh, si))
        val (_, _, seqOff) = offs((sh, si, sp))
        val cs = chunkStart((d, ci))
        val docSlice = docText(d).substring((cs + s - seqOff).toInt, (cs + e - seqOff).toInt)
        assert(st.substring(s.toInt, e.toInt) == docSlice, s"doc $d chunk $ci")
      }
      // doc-coordinate union of the masks == the assistant chars THAT A
      // CHUNK CARRIES: the single separator space BETWEEN two adjacent
      // chunks belongs to neither chunk_text (seq_text replaces it with
      // the packing separator), so an assistant turn crossing a chunk
      // boundary correctly loses exactly that char — the mask covers
      // everything the trainer actually reads, nothing it doesn't
      val windows = chunks.collect()
        .map(r => (r.getLong(0), r.getAs[Long]("char_start"),
          r.getAs[Long]("char_start") + r.getAs[Long]("chunk_len")))
        .groupBy(_._1)
      val maskPositionsByDoc = masks.groupBy(_._4).map { case (d, ms) =>
        d -> ms.map { case (sh, si, sp, _, ci, s, e) =>
          val (_, _, seqOff) = offs((sh, si, sp))
          val cs = chunkStart((d, ci))
          (cs + s - seqOff, cs + e - seqOff)
        }.flatMap { case (a, b) => a until b }.toSeq
      }
      docsData.foreach { case (d, ts) =>
        var off = 0L
        val assistantPos = ts.flatMap { case (role, t) =>
          val r = if (role == "assistant") (off until off + t.length) else Seq.empty[Long]
          off += t.length + 1
          r
        }
        val expected = assistantPos.filter(p =>
          windows.getOrElse(d, Array.empty).exists(w => p >= w._2 && p < w._3))
        assert(maskPositionsByDoc.getOrElse(d, Seq.empty[Long]).distinct.sorted == expected.toSeq,
          s"doc $d overlap=$overlap")
        if (overlap == 0) {
          // chunk windows are disjoint: every masked char exactly once
          val all = maskPositionsByDoc.getOrElse(d, Seq.empty[Long])
          assert(all.distinct.length == all.length, s"doc $d duplicated mask chars")
        }
      }
    }
  }

  test("sequenceSpans adds no Join, Window or extra Exchange over packNextFit") {
    // the q_packed_spans composition: the spans are a projection of the
    // fold's own seq_off/seq_end, not a join back to the chunks plus a
    // (shard, seq_idx) window exchange
    val df = spark.createDataset(Seq((1L, "a b c d e f"), (2L, "g h i")))
      .toDF("doc_id", "text")
    val asg = Packing.packNextFit(Chunking.chunk(df, maxTokens = 2, overlap = 0),
      capacity = 4, shard = col("doc_id"))
    def exchanges(plan: String) =
      plan.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    val base = asg.queryExecution.executedPlan.toString
    val plan = Packing.sequenceSpans(asg).queryExecution.executedPlan.toString
    assert(exchanges(plan) == exchanges(base) && exchanges(plan) == 1, plan)
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
  }

  test("plans as ONE exchange (shard repartition) + in-partition sort") {
    val df = spark.createDataset(Seq((1L, 0, "t", 3))).toDF("doc_id", "chunk_idx", "chunk_text", "n_tokens")
    val plan = Packing.packNextFit(df, 10).queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused")) == 1, plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan) // no global sort
  }

  test("packStats: per-shard utilization, oversize reported raw") {
    // doc 1: chunks 5, 3 at cap 5 -> two seqs (5 | 3), padding 10-8=2
    // doc 2: one oversize chunk 7 -> one seq, max 7 > cap, padding -2
    val df = spark.createDataset(Seq(
      (1L, 0, "a", 5), (1L, 1, "b", 3), (2L, 0, "c", 7)))
      .toDF("doc_id", "chunk_idx", "chunk_text", "n_tokens")
    val st = Packing.packStats(
      Packing.packNextFit(df, capacity = 5, shard = col("doc_id")), capacity = 5)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(st.toSeq == Seq(
      (1L, 2L, 2L, 8L, 5L, 2L),
      (2L, 1L, 1L, 7L, 7L, -2L)), st.toSeq.toString)
  }
}
