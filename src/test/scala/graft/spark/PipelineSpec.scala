package graft.spark

import graft.extract.Extractor
import org.apache.spark.sql.functions._

/** Pipeline correctness: per-turn equality vs the pure-function oracle,
  * reassembly ordering, resume idempotency (including a simulated crash
  * between data write and checkpoint write), quirk templates end-to-end.
  */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Quirk-template transcripts (FIXTURES.md §3) — deterministic, includes
    * malformed HTML so the pipeline's error accounting is exercised.
    */
  private def quirkTurns = {
    val templates = Seq(
      "<div id='a'>clean simple content here</div>",
      "<p><b>span restricted</p></b> trailing",
      "text <div",                                     // Q1 unterminated
      "<HT<!-- c -->ML> <p>after comment split</p>",   // Q11
      "<script>if(a<b){}</script><p>script mangling body text</p>", // Q9
      "﻿<a href='x'>bom link</a><p>bom stripped content text</p>", // Q19
      "<div><div></div> <p>outer div unmatched content</p>"          // Q17
    )
    val rows = for {
      conv <- 0 until 20
      turn <- 0 until (1 + conv % 7) // skewed lengths
    } yield Turn(f"c-$conv%03d", turn, "user",
      templates((conv * 7 + turn) % templates.size) + s" <p>conv $conv turn $turn filler</p>",
      "", new java.sql.Timestamp(1700000000000L + conv * 1000L + turn))
    rows
  }

  test("per-turn extraction equals the pure-function oracle (north_rule)") {
    val turns = quirkTurns
    val df = spark.createDataset(turns).toDF()
    val out = Pipeline.reassembled(Pipeline.extractTurns(df)).collect()
    assert(out.length == turns.size)
    val byKey = out.map(e => (e.conv_id, e.turn_idx) -> e).toMap
    turns.foreach { t =>
      val e = byKey((t.conv_id, t.turn_idx))
      val oracle = Extractor.extract(t.text)
      assert(e.extracted_text == oracle.text, s"turn ${t.conv_id}/${t.turn_idx}")
      assert(e.spans.map(s => (s.start, s.end, s.kind)) ==
        oracle.spans.map(s => (s.start, s.end, s.kind)))
      assert(e.n_nodes == oracle.nNodes && e.n_errors == oracle.nErrors)
    }
  }

  test("one-pass pipeline == salt+reassemble pipeline (rows, order, spans)") {
    val df = spark.createDataset(quirkTurns).toDF()
    val classic = Pipeline.reassembled(Pipeline.extractTurns(df)).collect()
      .map(e => (e.conv_id, e.turn_idx) -> e).toMap
    val onePass = Pipeline.extractReassembledOnePass(df)
    // globally ordered (range partitions + in-partition sort)
    val keys = onePass.collect().map(e => (e.conv_id, e.turn_idx)).toVector
    assert(keys == keys.sorted)
    val op = onePass.collect().map(e => (e.conv_id, e.turn_idx) -> e).toMap
    assert(op.keySet == classic.keySet)
    op.foreach { case (k, e) =>
      val c = classic(k)
      assert(e.extracted_text == c.extracted_text && e.n_nodes == c.n_nodes &&
        e.n_errors == c.n_errors && e.spans == c.spans, s"turn $k")
    }
  }

  test("extract-first pipeline == salted pipeline (rows, spans, partition order)") {
    val df = spark.createDataset(quirkTurns).toDF()
    val classic = Pipeline.reassembled(Pipeline.extractTurns(df)).collect()
      .map(e => (e.conv_id, e.turn_idx) -> e).toMap
    val ef = Pipeline.extractReassembledExtractFirst(df)
    val parts = ef.mapPartitions { it =>
      val keys = it.map(e => (e.conv_id, e.turn_idx)).toVector
      Iterator.single(keys == keys.sorted)
    }.collect()
    assert(parts.forall(identity)) // reassembled contract holds
    val got = ef.collect().map(e => (e.conv_id, e.turn_idx) -> e).toMap
    assert(got.keySet == classic.keySet)
    got.foreach { case (k, e) =>
      val c = classic(k)
      assert(e.extracted_text == c.extracted_text && e.n_nodes == c.n_nodes &&
        e.n_errors == c.n_errors && e.spans == c.spans, s"turn $k")
    }
  }

  test("capped conversations: equals uncapped under the cap; truncation observable above it") {
    val df = spark.createDataset(quirkTurns).toDF()
    val ex = Pipeline.extractTurns(df)
    // generous cap: identical to the unbounded path
    val uncapped = Pipeline.conversations(ex)
      .collect().map(r => r.getString(0) -> r.getAs[String]("conv_text")).toMap
    val roomy = Pipeline.conversationsCapped(ex, maxTurns = 100)
      .collect().map(r => r.getString(0) -> r.getAs[String]("conv_text")).toMap
    assert(roomy == uncapped)
    // cap of 2: conv_text holds the FIRST two turns; n_turns stays true
    val capped = Pipeline.conversationsCapped(ex, maxTurns = 2)
      .collect().map(r => r.getString(0) -> r).toMap
    quirkTurns.groupBy(_.conv_id).foreach { case (c, ts) =>
      val want = ts.sortBy(_.turn_idx).take(2)
        .map(t => Extractor.extract(t.text).text).mkString("\n")
      assert(capped(c).getAs[String]("conv_text") == want, s"conv $c")
      assert(capped(c).getAs[Long]("n_turns") == ts.size.toLong)
    }
  }

  test("char-capped conversations: monster turn bounded, prefix exact, arrival-order independent") {
    // conv A: a 1 MB monster FIRST turn then small turns — the char
    // budget must keep the reducer row tiny and drop everything (the
    // monster alone busts the budget, and prefix semantics never skip
    // ahead); conv B: small turns, partially kept
    val small = "<p>small body text</p>" // extracts to "small body text" (15 chars)
    val monster = "<p>" + ("x" * (1 << 20)) + "</p>"
    val rows = Seq(
      Turn("A", 0, "user", monster, "", new java.sql.Timestamp(0)),
      Turn("A", 1, "user", small, "", new java.sql.Timestamp(0)),
      Turn("B", 0, "user", small, "", new java.sql.Timestamp(0)),
      Turn("B", 1, "user", small, "", new java.sql.Timestamp(0)),
      Turn("B", 2, "user", small, "", new java.sql.Timestamp(0)))
    // shuffled arrival order: the fold must be order-independent
    for (seed <- Seq(1, 7)) {
      val shuffled = new scala.util.Random(seed).shuffle(rows)
      val ex = Pipeline.extractTurns(spark.createDataset(shuffled).toDF())
      val out = Pipeline.conversationsCapped(ex, maxTurns = 1000, maxChars = 31L)
        .collect().map(r => r.getString(0) -> r).toMap
      // A: monster (2^20 chars) > budget => NOTHING kept, loss observable
      assert(out("A").getAs[String]("conv_text") == "")
      assert(out("A").getAs[Long]("n_turns") == 2L)
      assert(out("A").getAs[Long]("chars_total") == (1L << 20) + 15L)
      assert(out("A").getAs[Long]("chars_dropped") == (1L << 20) + 15L)
      // B: 15+15 <= 31 keeps two turns; the third (cum 45+2 joins) drops
      assert(out("B").getAs[String]("conv_text") == "small body text\nsmall body text")
      assert(out("B").getAs[Long]("chars_dropped") == 15L)
      assert(out("B").getAs[Long]("n_turns") == 3L)
    }
    // default budget: behavior identical to the count-only cap
    val ex = Pipeline.extractTurns(spark.createDataset(rows).toDF())
    val a = Pipeline.conversationsCapped(ex, maxTurns = 2)
      .select("conv_id", "conv_text").collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(a("B") == "small body text\nsmall body text")
    assert(Pipeline.conversationsCapped(ex, maxTurns = 1000)
      .collect().forall(_.getAs[Long]("chars_dropped") == 0L))
  }

  test("reassembled output is sorted by (conv_id, turn_idx) within partitions") {
    val df = spark.createDataset(quirkTurns).toDF()
    val parts = Pipeline.reassembled(Pipeline.extractTurns(df))
      .mapPartitions { it =>
        val keys = it.map(e => (e.conv_id, e.turn_idx)).toVector
        Iterator.single(keys == keys.sorted)
      }.collect()
    assert(parts.forall(identity))
  }

  test("turn-range-salted reassembly: monster conv spreads, rows and sort unchanged") {
    // one 64-turn monster among the quirk convs (VERDICT r4 nit 3)
    val monster = (0 until 64).map(t => Turn("c-mon", t, "user",
      s"<p>monster turn $t body</p>", "",
      new java.sql.Timestamp(1700000000000L + t)))
    val df = spark.createDataset(quirkTurns ++ monster).toDF()
    val extracted = Pipeline.extractTurns(df)
    val salted = Pipeline.reassembled(extracted, turnsPerShard = 8)
    // same rows as the unsalted shape
    val classic = Pipeline.reassembled(extracted).collect()
      .map(e => (e.conv_id, e.turn_idx, e.extracted_text)).toSet
    assert(salted.collect().map(e => (e.conv_id, e.turn_idx, e.extracted_text))
      .toSet == classic)
    // per-partition sort contract holds
    val sortedParts = salted.mapPartitions { it =>
      val keys = it.map(e => (e.conv_id, e.turn_idx)).toVector
      Iterator.single(keys == keys.sorted)
    }.collect()
    assert(sortedParts.forall(identity))
    // the monster conversation cannot pin one reducer: 64 turns at
    // B=8 span 8 shard keys -> more than one partition. AQE correctly
    // coalesces these KB-sized test partitions back into one, so gate
    // the partition-spread property with coalescing off (at real scale
    // the partitions are too big to merge and the spread is live).
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      val monsterParts = Pipeline.reassembled(extracted, turnsPerShard = 8)
        .mapPartitions { it =>
          Iterator.single(it.exists(_.conv_id == "c-mon"))
        }.collect().count(identity)
      assert(monsterParts > 1, s"monster conv landed in $monsterParts partition(s)")
    } finally spark.conf.set(coalesceKey, prev)
  }

  test("loss-mask spans tile conv_text exactly; in_loss == assistant turns") {
    val df = spark.createDataset(quirkTurns).toDF()
    val extracted = Pipeline.extractOnScanPartitions(df)
    val withRole = extracted.withColumn("role",
      expr("CASE turn_idx % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END"))
    val spans = Pipeline.lossMaskSpans(withRole).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getString(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    val convText = Pipeline.conversations(extracted).collect()
      .map(r => r.getAs[String]("conv_id") -> r.getAs[String]("conv_text")).toMap
    val perTurn = extracted.collect()
    assert(spans.size == perTurn.length)
    perTurn.foreach { e =>
      val (role, s, en, inLoss) = spans((e.conv_id, e.turn_idx))
      val ct = convText(e.conv_id)
      // the span cuts exactly this turn's extracted text out of conv_text
      assert(ct.substring(s.toInt, en.toInt) == e.extracted_text,
        s"span mismatch at ${e.conv_id}/${e.turn_idx}")
      // separator accounting: span is followed by "\n" or ends the text
      assert(en.toInt == ct.length || ct.charAt(en.toInt) == '\n')
      assert(inLoss == (role == "assistant"))
      assert(inLoss == (e.turn_idx % 3 == 1))
    }
    // spans of each conversation tile it completely (last span_end == len)
    convText.foreach { case (cid, ct) =>
      val ends = spans.collect { case ((c, _), (_, _, en, _)) if c == cid => en }
      assert(ends.max == ct.length.toLong, s"tiling gap in $cid")
    }
  }

  test("fused conversationTextsWithLossSpans == conversations + lossMaskSpans") {
    val df = spark.createDataset(quirkTurns).toDF()
    val extracted = Pipeline.extractOnScanPartitions(df)
    val withRole = extracted.withColumn("role",
      expr("CASE turn_idx % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END"))
    val fused = Pipeline.conversationTextsWithLossSpans(withRole.toDF())
      .collect().map(r => r.getAs[String]("conv_id") ->
        (r.getAs[String]("conv_text"),
          r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("loss_spans")
            .map(s => (s.getLong(0), s.getLong(1))).toSeq)).toMap
    // reference: the row-wise window operator, filtered to in-loss turns,
    // ordered by span_start (the fused walk emits in turn order)
    val ref = Pipeline.lossMaskSpans(withRole).filter(col("in_loss"))
      .select(col("conv_id"), col("span_start"), col("span_end"))
      .collect().groupBy(_.getString(0)).view
      .mapValues(_.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq).toMap
    val refText = Pipeline.conversations(extracted).collect()
      .map(r => r.getAs[String]("conv_id") -> r.getAs[String]("conv_text")).toMap
    assert(fused.keySet == refText.keySet)
    fused.foreach { case (cid, (text, spans)) =>
      assert(text == refText(cid), s"conv_text diverged for $cid")
      assert(spans == ref.getOrElse(cid, Seq.empty), s"spans diverged for $cid")
    }
  }

  test("conversations reassembly joins turns in order") {
    val df = spark.createDataset(quirkTurns).toDF()
    val convs = Pipeline.conversations(Pipeline.extractTurns(df))
      .collect().map(r => r.getString(0) -> r).toMap
    val expected = quirkTurns.groupBy(_.conv_id).map { case (c, ts) =>
      c -> ts.sortBy(_.turn_idx).map(t => Extractor.extract(t.text).text).mkString("\n")
    }
    expected.foreach { case (c, text) =>
      assert(convs(c).getAs[String]("conv_text") == text, s"conv $c")
    }
  }

  test("resumable run with extract-first shape == salted shape; resume still no-op") {
    val dir = tmpDir("graft-pipe-ef")
    val inPath = s"$dir/transcripts"
    spark.createDataset(quirkTurns).toDF().repartition(4).write.parquet(inPath)
    // the production default IS extract-first (VERDICT r3 item 1); the
    // salted shape is the explicit skew-contrast reference
    assert(Pipeline.Config().shape == "extractfirst")
    val cfgEf = Pipeline.Config(shape = "extractfirst")

    val rS = Pipeline.runResumable(spark, inPath, s"$dir/out-salted",
      Pipeline.Config(shape = "salted"))
    val rE = Pipeline.runResumable(spark, inPath, s"$dir/out-ef", cfgEf)
    assert(rE.filesProcessed == rS.filesProcessed && rE.batchId == rS.batchId)
    def rows(o: String) = Pipeline.readExtracted(spark, o)
      .select("conv_id", "turn_idx", "extracted_text", "n_nodes", "n_errors",
        "span_pos", "span_kind")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getInt(3), r.getInt(4), r.getSeq[Long](5).toList,
        r.getAs[Array[Byte]](6).toList)) // span_kind packs as BinaryType
      .sortBy(t => (t._1, t._2)).toSeq
    assert(rows(s"$dir/out-ef") == rows(s"$dir/out-salted"))
    val r2 = Pipeline.runResumable(spark, inPath, s"$dir/out-ef", cfgEf)
    assert(r2.filesProcessed == 0 && r2.skippedFiles == 4)
  }

  test("an unknown pipeline shape fails loudly instead of running salted") {
    // a misspelt shape used to fall through to the salted plan (0.471
    // scaling efficiency vs 0.850) with no error
    val e = intercept[IllegalArgumentException](Pipeline.Config(shape = "extract-first"))
    assert(e.getMessage.contains("extractfirst") && e.getMessage.contains("salted"),
      e.getMessage)
  }

  test("resumable run: second run is a no-op; crash before checkpoint is idempotent") {
    val dir = tmpDir("graft-pipe")
    val inPath = s"$dir/transcripts"
    val outDir = s"$dir/out"
    // write transcripts as 4 files so the checkpoint has multiple units
    spark.createDataset(quirkTurns).toDF().repartition(4)
      .write.parquet(inPath)

    val r1 = Pipeline.runResumable(spark, inPath, outDir)
    assert(r1.filesProcessed == 4 && r1.skippedFiles == 0)
    val total1 = Pipeline.readExtracted(spark, outDir).count()
    assert(total1 == quirkTurns.size)

    // rerun: everything checkpointed -> no-op
    val r2 = Pipeline.runResumable(spark, inPath, outDir)
    assert(r2.filesProcessed == 0 && r2.skippedFiles == 4)
    assert(Pipeline.readExtracted(spark, outDir).count() == total1)

    // simulate crash: wipe the checkpoint of the last batch but keep data,
    // as if we died between data write and checkpoint write
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/checkpoint"), true)
    val r3 = Pipeline.runResumable(spark, inPath, outDir)
    assert(r3.batchId == r1.batchId) // deterministic batch id
    assert(Pipeline.readExtracted(spark, outDir).count() == total1) // no dupes
    // lineage rows are idempotent per batch (4 files, one batch), and the
    // per-file input accounting sums to the true totals
    spark.catalog.refreshByPath(s"$outDir/lineage")
    val lin = spark.read.parquet(s"$outDir/lineage")
    assert(lin.count() == 4)
    assert(lin.agg(sum("row_count")).head.getLong(0) == quirkTurns.size)
    // n_bytes = true UTF-8 octets since round 3 (ADVICE r2 unit fix)
    assert(lin.agg(sum("n_bytes")).head.getLong(0) ==
      quirkTurns.map(_.text.getBytes("UTF-8").length.toLong).sum)
    // metrics ledger: ONE aggregate row per batch, derived from the
    // committed output (retry-safe — not an accumulator), accounting for
    // every turn / node / error exactly once
    spark.catalog.refreshByPath(s"$outDir/metrics")
    val m = spark.read.parquet(s"$outDir/metrics")
    assert(m.filter(col("batch") === r1.batchId).count() == 1)
    val mr = m.filter(col("batch") === r1.batchId).head()
    assert(mr.getAs[Long]("n_turns") == quirkTurns.size)
    val oracleAgg = quirkTurns.map(t => Extractor.extract(t.text))
    assert(mr.getAs[Long]("n_nodes") == oracleAgg.map(_.nNodes.toLong).sum)
    assert(mr.getAs[Long]("n_errors") == oracleAgg.map(_.nErrors.toLong).sum)
    assert(mr.getAs[Long]("n_oversize") == 0L)
  }

  test("resumable run: incremental resume; sink ledgers agree per batch; sink schemas") {
    val dir = tmpDir("graft-pipe-incr")
    val inPath = s"$dir/transcripts"
    val outDir = s"$dir/out"
    val cfg = Pipeline.Config(maxTextChars = 64)
    def turns(conv: String, n: Int) = (0 until n).map(i => Turn(conv, i, "user",
      s"<p>über turn $i of $conv, body text</p>", "", new java.sql.Timestamp(0)))
    // each append writes one input file
    def addFile(ts: Seq[Turn]): Unit =
      spark.createDataset(ts).toDF().coalesce(1).write.mode("append").parquet(inPath)
    val oversize = Turn("c-big", 0, "user", "<p>" + ("y" * 100) + "</p>", "",
      new java.sql.Timestamp(0))
    val first = Seq(turns("c-0", 1) :+ oversize, turns("c-1", 2), turns("c-2", 3), turns("c-3", 1))
    val second = Seq(turns("c-4", 2), turns("c-5", 4))
    first.foreach(addFile)
    val r1 = Pipeline.runResumable(spark, inPath, outDir, cfg)
    assert(r1.filesProcessed == 4 && r1.skippedFiles == 0)
    assert(r1.rowsProcessed == first.map(_.size).sum)
    second.foreach(addFile)
    val r2 = Pipeline.runResumable(spark, inPath, outDir, cfg)
    assert(r2.filesProcessed == 2 && r2.skippedFiles == 4)
    assert(r2.rowsProcessed == second.map(_.size).sum)
    assert(r2.batchId != r1.batchId)

    // a batch id of hex digits could otherwise be inferred as a number
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = spark.conf.get(inferKey)
    try {
      spark.conf.set(inferKey, "false")
      val lineage = spark.read.parquet(s"$outDir/lineage")
      val metrics = spark.read.parquet(s"$outDir/metrics")
      val ckpt = spark.read.parquet(s"$outDir/checkpoint")
      for ((r, files, oversizeRows) <- Seq((r1, first, 1L), (r2, second, 0L))) {
        val lin = lineage.filter(col("batch") === r.batchId)
          .agg(count(lit(1)), sum("row_count"), sum("n_bytes"), sum("n_oversize")).head()
        val m = metrics.filter(col("batch") === r.batchId).collect()
        assert(m.length == 1, s"batch ${r.batchId}")
        assert(lin.getLong(0) == files.size)
        assert(m.head.getAs[Long]("n_turns") == r.rowsProcessed)
        assert(lin.getLong(1) == r.rowsProcessed)
        assert(m.head.getAs[Long]("n_bytes_in") == lin.getLong(2))
        assert(lin.getLong(2) == files.flatten.map(_.text.getBytes("UTF-8").length.toLong).sum)
        assert(m.head.getAs[Long]("n_oversize") == oversizeRows)
        assert(lin.getLong(3) == oversizeRows)
      }
      assert(ckpt.count() == 6 && ckpt.select("file").distinct().count() == 6)

      assert(spark.read.parquet(s"$outDir/extracted").schema.simpleString ==
        "struct<conv_id:string,turn_idx:int,extracted_text:string,span_pos:array<bigint>," +
          "span_kind:binary,n_nodes:int,n_errors:int,batch:string>")
      assert(lineage.schema.simpleString ==
        "struct<snapshot_id:string,file:string,row_count:bigint,n_bytes:bigint," +
          "n_oversize:bigint,batch:string>")
      assert(metrics.schema.simpleString ==
        "struct<n_turns:bigint,n_nodes:bigint,n_errors:bigint,n_chars_out:bigint," +
          "n_bytes_in:bigint,n_oversize:bigint,snapshot_id:string,batch:string>")
      assert(ckpt.schema.simpleString == "struct<file:string,snapshot_id:string,batch_id:string>")
    } finally spark.conf.set(inferKey, prev)
  }

  test("batch shape: a pending batch runs exactly 5 root SQL executions, one per sink write; a no-op resume 1") {
    val dir = tmpDir("graft-pipe-shape")
    val inPath = s"$dir/transcripts"
    val outDir = s"$dir/out"
    spark.createDataset(quirkTurns).toDF().repartition(4).write.parquet(inPath)
    val sc = spark.sparkContext
    val insertPath = """(?s)Execute InsertIntoHadoopFsRelationCommand\n.*?Arguments: ([^,\s]+)""".r
    // the sink directory each root execution writes ("" for a read)
    def rootExecutions(run: => Pipeline.RunSummary): (Pipeline.RunSummary, Seq[String]) = {
      val roots = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
              if s.rootExecutionId.forall(_ == s.executionId) =>
            roots.add(insertPath.findFirstMatchIn(s.physicalPlanDescription).map(_.group(1))
              .map(p => p.substring(p.lastIndexOf("/out/") + 5).takeWhile(_ != '/')).getOrElse(""))
          case _ =>
        }
      }
      org.apache.spark.ListenerBusDrain(sc)
      sc.addSparkListener(listener)
      try {
        val r = run
        org.apache.spark.ListenerBusDrain(sc)
        (r, roots.toArray(Array.empty[String]).toSeq.sorted)
      } finally sc.removeSparkListener(listener)
    }
    val (r1, pendingRoots) = rootExecutions(Pipeline.runResumable(spark, inPath, outDir))
    assert(r1.filesProcessed == 4)
    assert(pendingRoots == Seq("", "checkpoint", "extracted", "lineage", "metrics"),
      s"a pending batch's root SQL executions wrote ${pendingRoots.mkString("[", ", ", "]")}")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), sc.hadoopConfiguration)
    for (sink <- Seq(s"lineage/batch=${r1.batchId}", "checkpoint")) {
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$outDir/$sink"))
        .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      assert(files.length == 1, s"$sink: ${files.mkString(", ")}")
    }
    val (r2, noopRoots) = rootExecutions(Pipeline.runResumable(spark, inPath, outDir))
    assert(r2.filesProcessed == 0 && r2.skippedFiles == 4)
    assert(noopRoots == Seq(""), s"a no-op resume ran ${noopRoots.size} root SQL executions")
  }

  test("a failed write leaves no commit and no running job; the rerun commits the clean batch") {
    val dir = tmpDir("graft-pipe-fail")
    val inPath = s"$dir/transcripts"
    spark.createDataset(quirkTurns).toDF().repartition(4).write.parquet(inPath)
    val sc = spark.sparkContext
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir), sc.hadoopConfiguration)
    def sinkRows(out: String): Seq[String] = Seq("lineage", "metrics").flatMap { sink =>
      spark.catalog.refreshByPath(s"$out/$sink")
      spark.read.parquet(s"$out/$sink").collect().map(s"$sink " + _).sorted
    }
    val clean = Pipeline.runResumable(spark, inPath, s"$dir/clean")
    assert(clean.filesProcessed == 4)
    // a regular file where a sink's directory belongs fails that sink's
    // write; while the extracted write is blocked, each lineage task is
    // slowed so that it still runs when the extracted write has failed
    for (sink <- Seq("extracted", "lineage")) {
      val out = s"$dir/blocked-$sink"
      val blocker = new org.apache.hadoop.fs.Path(s"$out/$sink")
      fs.create(blocker).close()
      val slow = if (sink != "extracted") Nil else Seq("fs.file.impl.disable.cache" -> "true",
        "fs.file.impl" -> classOf[SlowLineageTaskFileSystem].getName)
      slow.foreach { case (k, v) => spark.conf.set(k, v) }
      try intercept[Exception](Pipeline.runResumable(spark, inPath, out))
      finally slow.foreach { case (k, _) => spark.conf.unset(k) }
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/checkpoint")), sink)
      org.apache.spark.ListenerBusDrain(sc)
      assert(sc.statusTracker.getActiveJobIds.isEmpty,
        s"$sink blocked: jobs ${sc.statusTracker.getActiveJobIds.mkString(", ")} still running")
      if (sink == "extracted") // the unblocked lineage write had committed
        assert(fs.exists(new org.apache.hadoop.fs.Path(s"$out/lineage/batch=${clean.batchId}/_SUCCESS")))
      assert(fs.delete(blocker, false))
      assert(Pipeline.runResumable(spark, inPath, out) == clean, sink)
      assert(sinkRows(out) == sinkRows(s"$dir/clean"), sink)
    }
  }

  test("batch jobs: a pending batch starts at most one job outside any SQL execution") {
    val dir = tmpDir("graft-pipe-jobs")
    val inPath = s"$dir/transcripts"
    spark.createDataset(quirkTurns).toDF().repartition(4).write.parquet(inPath)
    val sc = spark.sparkContext
    val outside = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).forall(_.getProperty("spark.sql.execution.id") == null))
          outside.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      assert(Pipeline.runResumable(spark, inPath, s"$dir/out").filesProcessed == 4)
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    // the one is the schema inference of the user's transcripts input
    assert(outside.get <= 1, s"a pending batch started ${outside.get} jobs outside SQL executions")
  }

  test("batch id: an all-digit hash still reads back as a string partition value") {
    val dir = tmpDir("graft-pipe-digits")
    val inPath = s"$dir/transcripts"
    val outDir = s"$dir/out"
    spark.createDataset(quirkTurns).toDF().coalesce(1).write.parquet(inPath)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(inPath), spark.sparkContext.hadoopConfiguration)
    val written = fs.listStatus(new org.apache.hadoop.fs.Path(inPath))
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
    assert(written.length == 1)
    val url = spark.read.parquet(inPath).select(input_file_name()).head.getString(0)
    val prefix = url.take(url.lastIndexOf('/') + 1)
    // a file name whose xor-of-xxhash64 hex id (two 8-digit halves) is all
    // decimal digits, about 1 name in 1,800
    def half(c: org.apache.spark.sql.Column) = substring(lpad(hex(xxhash64(c)), 16, "0"), 1, 8)
    val name = spark.range(0, 200000)
      .select(concat(lit("t-"), col("id").cast("string"), lit(".parquet")).as("name"))
      .withColumn("f", concat(lit(prefix), col("name")))
      .filter(concat(half(col("f")), half(concat(col("f"), lit("#2")))).rlike("^[0-9]{16}$"))
      .select("name").as[String].head
    assert(fs.rename(written.head, new org.apache.hadoop.fs.Path(s"$inPath/$name")))
    spark.catalog.refreshByPath(inPath)
    assert(spark.read.parquet(inPath).select(input_file_name()).head.getString(0) == prefix + name)

    val r = Pipeline.runResumable(spark, inPath, outDir)
    assert(r.filesProcessed == 1)
    val ckpt = spark.read.parquet(s"$outDir/checkpoint").select("batch_id").as[String].collect()
    assert(ckpt.toSeq == Seq(r.batchId))
    for (sink <- Seq("metrics", "lineage")) {
      val df = spark.read.parquet(s"$outDir/$sink")
      assert(df.schema("batch").dataType == org.apache.spark.sql.types.StringType, sink)
      assert(df.select("batch").distinct().as[String].collect().toSeq == ckpt.toSeq, sink)
    }
  }

  test("salting defeats conversation skew: one giant conversation spreads over all partitions") {
    // 1 conversation with 4000 turns + 40 singleton conversations
    val rows = (0 until 4000).map(i =>
      Turn("c-giant", i, "user", s"<p>giant conversation turn $i body</p>", "",
        new java.sql.Timestamp(0))) ++
      (0 until 40).map(i =>
        Turn(s"c-$i", 0, "user", s"<p>small conv $i body</p>", "",
          new java.sql.Timestamp(0)))
    val df = spark.createDataset(rows).toDF()
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8") // the salt spreads over these
    val counts = try Pipeline.extractTurns(df).mapPartitions(it => Iterator.single(it.size)).collect()
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(counts.length == 8)
    val mean = counts.sum.toDouble / counts.length
    // hash(conv_id, turn_idx) salting: no partition should exceed 2x mean
    assert(counts.max <= mean * 2, s"skewed partitions: ${counts.mkString(",")}")
    // the anti-pattern (partition by conv_id alone) WOULD skew: prove the
    // contrast so a refactor can't silently lose the salt
    val unsalted = df.repartition(8, col("conv_id"))
      .mapPartitions(it => Iterator.single(it.size)).collect()
    assert(unsalted.max > mean * 2)
  }

  test("oversize guard: huge turns counted, not parsed, never dropped") {
    val big = Turn("c-big", 0, "user", "<div>" + ("x" * 2000) + "</div>", "",
      new java.sql.Timestamp(0))
    val df = spark.createDataset(Seq(big)).toDF()
    val out = Pipeline.extractTurns(df, Pipeline.Config(maxTextChars = 100)).collect()
    assert(out.length == 1)
    assert(out.head.extracted_text == "" && out.head.n_errors == 1)
  }

  test("transcripts derivation: schema matches input_hint; turn_idx unique per conv") {
    val t = Transcripts.derive(spark, sf)
    assert(t.schema.map(f => (f.name, f.dataType.simpleString)) == Seq(
      "conv_id" -> "string", "turn_idx" -> "int", "role" -> "string",
      "text" -> "string", "tool" -> "string", "ts" -> "timestamp"))
    val dup = t.groupBy("conv_id", "turn_idx").count().filter(col("count") > 1).count()
    assert(dup == 0)
  }
}

/** The local file system, except that a task making a directory under a
  * lineage batch first sleeps 1.5 s. */
class SlowLineageTaskFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  override def mkdirs(f: org.apache.hadoop.fs.Path): Boolean = {
    if (org.apache.spark.TaskContext.get() != null && f.toString.contains("/lineage/batch="))
      Thread.sleep(1500)
    super.mkdirs(f)
  }
}
