package graft.spark

import org.apache.spark.sql.functions._

/** Physical-plan shape gates: these fail if a refactor breaks column
  * pruning, broadcast sizing, or partial aggregation — the properties
  * that keep the 100 TB plan viable.
  */
class PlanSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def turnsParquet: String = {
    val dir = tmpDir("plan") + "/turns"
    val rows = (0 until 100).map(i => Turn(s"c$i", 0, "user",
      s"<p>row $i content body</p>", "tool-x", new java.sql.Timestamp(0)))
    spark.createDataset(rows).toDF().write.parquet(dir)
    dir
  }

  private def docsParquet: String = {
    val dir = tmpDir("plan-docs") + "/docs"
    Seq((1L, "spam spam spam spam", "en"), (3L, "the quick brown fox", "de"))
      .toDF("doc_id", "text", "lang").write.parquet(dir)
    dir
  }

  /** How the pipeline's extraction stage prints in an executed plan. */
  private val ExtractionOp = "Generate extract_turn"

  private def scanLine(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("FileScan")).getOrElse("")

  /** Logical operator names and expression classes of an optimized plan. */
  private def planParts(df: org.apache.spark.sql.DataFrame): (Seq[String], Seq[String]) = {
    val plan = df.queryExecution.optimizedPlan
    (plan.collect { case p => p.nodeName },
      plan.collect { case p => p.expressions.flatMap(_.collect { case e => e.getClass.getSimpleName }) }
        .flatten)
  }

  test("gopher filter: a filter on an input column reaches the scan") {
    val df = Filtering.gopherRepetitionFilter(spark.read.parquet(docsParquet))
      .filter(col("doc_id") === 3L).select(col("doc_id"), col("n_words"))
    val scan = scanLine(df)
    assert(scan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,3)]"), scan)
    assert(df.as[(Long, Int)].collect().toSeq == Seq((3L, 4)))
  }

  test("gopher filter: an unused input column is never read") {
    val df = Filtering.gopherRepetitionFilter(spark.read.parquet(docsParquet))
      .select(col("doc_id"), col("keep"))
    val scan = scanLine(df)
    assert(scan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), scan)
    assert(df.as[(Long, Boolean)].collect().toMap == Map(1L -> false, 3L -> true))
  }

  test("gopher filter over a computed text evaluates the stats once") {
    // redactPii rewrites `text` with three regexp_replace calls. A filter
    // on `keep` must stay above the stats, not be pushed below them with
    // the stats and that computed text substituted into its condition
    val df = Filtering.gopherRepetitionFilter(Filtering.redactPii(spark.read.parquet(docsParquet)))
      .filter(col("keep")).select(col("doc_id"), col("text"))
    val exprs = planParts(df)._2
    assert(exprs.count(_ == "RepetitionStats") == 1 && exprs.count(_ == "RegExpReplace") == 3,
      df.queryExecution.optimizedPlan.toString)
    assert(df.as[(Long, String)].collect().toSeq == Seq((3L, "the quick brown fox")))
  }

  test("repetition and BPE queries plan no object boundary and no UDF") {
    for (q <- Seq("q_repetition", "q_gopher_filter", "q_bpe_encode", "q_chunked")) {
      val df = graft.SparkEntry.queries(q)(spark, sf)
      val (ops, exprs) = planParts(df)
      assert(!ops.exists(Set("DeserializeToObject", "MapPartitions")) && !exprs.contains("ScalaUDF"),
        s"$q:\n${df.queryExecution.optimizedPlan}")
    }
    // packNextFit's fold is still a MapPartitions; only the counts moved
    for (q <- Seq("q_packed_bpe", "q_dsir_pipeline")) {
      val df = graft.SparkEntry.queries(q)(spark, sf)
      assert(!planParts(df)._2.contains("ScalaUDF"), s"$q:\n${df.queryExecution.optimizedPlan}")
    }
  }

  test("node-row functions plan no UDF: q_find_nodes and size(parse_html(text)) over parquet") {
    val sizes = spark.read.parquet(turnsParquet).select(size(HtmlFunctions.parse_html(col("text"))))
    def q(name: String) = graft.SparkEntry.queries(name)(spark, sf)
    for ((df, native) <- Seq(q("q_find_nodes") -> "FindNodes", q("q_dom_nodes") -> "TagNodes",
                             q("q_bfs_order") -> "TagNodes", sizes -> "ParseHtml")) {
      val exprs = planParts(df)._2
      assert(exprs.contains(native) && !exprs.contains("ScalaUDF"), df.queryExecution.optimizedPlan.toString)
    }
    // the container, <p>, its text and </p>
    assert(sizes.as[Int].collect().toSeq == Seq.fill(100)(4))
  }

  test("line cleaning under .filter(keep) runs its line split and rules once per row") {
    // the struct of per-row line results leaves through a one-row
    // generator: a filter on `keep` stays above it, rather than being
    // pushed below with the struct substituted into its condition
    def counts(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val exprs = planParts(df)._2
      (exprs.count(_ == "StringSplit"), exprs.count(_ == "ArrayFilter"))
    }
    val docs = spark.read.parquet(docsParquet)
    val c4 = Filtering.c4LineClean(docs)
    val c4Plain = c4.select(col("doc_id"), col("clean_text"))
    val c4Kept = c4.filter(col("keep")).select(col("doc_id"), col("clean_text"))
    assert(counts(c4Kept) == counts(c4Plain) && counts(c4Plain) == (2, 2),
      c4Kept.queryExecution.optimizedPlan.toString)
    val ld = Filtering.dedupLinesInDoc(docs)
    val ldKept = ld.filter(col("n_kept") < col("n_lines")).select(col("doc_id"), col("clean_text"))
    assert(counts(ldKept) == counts(ld.select(col("doc_id"), col("clean_text"))),
      ldKept.queryExecution.optimizedPlan.toString)
  }

  test("pipeline scan prunes to (conv_id, turn_idx, text) — role/tool/ts never read") {
    val df = spark.read.parquet(turnsParquet)
    val plan = Pipeline.extractTurns(df).queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("conv_id") && readSchema.contains("text"))
    assert(!readSchema.contains("role") && !readSchema.contains("tool") && !readSchema.contains("ts:"))
  }

  test("extraction plans no object boundary") {
    val df = spark.read.parquet(turnsParquet)
    for ((name, ds) <- Seq("extractOnScanPartitions" -> Pipeline.extractOnScanPartitions(df),
        "extractTurns" -> Pipeline.extractTurns(df),
        "extractReassembledOnePass" -> Pipeline.extractReassembledOnePass(df))) {
      val plan = ds.queryExecution.executedPlan.toString
      assert(!Seq("DeserializeToObject", "MapPartitions", "SerializeFromObject").exists(plan.contains),
        s"$name:\n$plan")
    }
    // a filter on a key above the extraction reaches the scan
    val one = Pipeline.extractOnScanPartitions(df).filter(col("conv_id") === "c1")
    val scan = scanLine(one.toDF())
    assert(scan.contains("EqualTo(conv_id,c1)"), scan)
    assert(one.collect().map(t => (t.conv_id, t.extracted_text)).toSeq == Seq(("c1", "row 1 content body")))
  }

  test("documents join in derive is broadcast (no shuffle for the dimension)") {
    val plan = Transcripts.deriveUncached(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast join in derive plan")
  }

  test("role metrics aggregation is partial+final (map-side combine)") {
    val t = Transcripts.derive(spark, sf)
    val agg = t.groupBy("role").agg(count(lit(1)))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"))
    // partial agg appears before the exchange
    val firstAgg = plan.indexOf("HashAggregate")
    val exchange = plan.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0)
  }

  test("embedding top-k broadcasts the query side, never the corpus") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val plan = Embeddings.bruteForceTopK(emb, 5, 10).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"))
  }

  test("top-k rank is a bounded partial aggregate, not a global Window shuffle") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    for (df <- Seq(Embeddings.bruteForceTopK(emb, 5, 10),
                   Embeddings.annTopK(emb, 5, 10, nbits = 4))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        "top-k must not rank via a global Window (all scored rows would shuffle to nQueries reducers)")
      // the TopKBySim Aggregator runs as ObjectHashAggregate partial
      // (bounded k-entry buffer) BEFORE the exchange, then final after
      val firstAgg = plan.indexOf("ObjectHashAggregate")
      val lastAgg = plan.lastIndexOf("ObjectHashAggregate")
      assert(firstAgg >= 0 && lastAgg > firstAgg,
        s"expected partial+final ObjectHashAggregate pair in:\n$plan")
    }
  }

  test("one-pass pipeline: exactly one exchange (range), no second text shuffle") {
    val df = spark.read.parquet(turnsParquet)
    val plan = Pipeline.extractReassembledOnePass(df)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"one-pass pipeline must shuffle once, got $exchanges:\n$plan")
    assert(plan.contains("rangepartitioning"), s"expected range partitioning:\n$plan")
  }

  test("extract-first pipeline: one exchange, and it carries extracted columns, not raw text") {
    val df = spark.read.parquet(turnsParquet)
    val plan = Pipeline.extractReassembledExtractFirst(df)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"extract-first must shuffle once, got $exchanges:\n$plan")
    // the exchange hashes on conv_id of the EXTRACTED rows — the raw
    // `text` column must be gone by the time rows hit the exchange
    // (extraction happens upstream, on scan partitions)
    val exchangeLine = plan.linesIterator.find(_.contains("Exchange")).getOrElse("")
    assert(exchangeLine.contains("hashpartitioning"), s"expected hash exchange:\n$plan")
    // tree prints root-first, so upstream operators appear LATER in the
    // string: the extraction's Generate must print below the exchange
    // (i.e. feed it), proving extraction runs on scan partitions
    assert(plan.indexOf("Exchange") < plan.indexOf(ExtractionOp),
      s"extraction ($ExtractionOp) must be upstream of the exchange:\n$plan")
  }

  test("conversations query: single exchange, downstream of extraction") {
    val df = graft.SparkEntry.queries("q_conversations")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val engine = plan.substring(0, plan.indexOf(ExtractionOp))
    assert("Exchange".r.findAllIn(engine).length == 1, plan)
    assert(engine.contains("partial_collect_list"), plan) // map-side combine
  }

  test("training pipeline: the pruned conversation aggregate holds only the collect_list") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, CollectList}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    // q_training_pipeline reads only (conv_id, conv_text) of conversations:
    // ColumnPruning must drop its n_turns/n_nodes/n_errors aggregates
    val df = graft.SparkEntry.queries("q_training_pipeline")(spark, sf)
    val plan = df.queryExecution.optimizedPlan
    val aggs = plan.collect {
      case a: Aggregate if a.aggregateExpressions.exists(_.exists(_.isInstanceOf[CollectList])) => a
    }
    assert(aggs.size == 1, plan.toString)
    val fns = aggs.head.aggregateExpressions.flatMap(_.collect { case f: AggregateFunction => f.prettyName })
    assert(fns == Seq("collect_list"), plan.toString)
  }

  test("conversation dedup: one extraction, two partial+final aggs, two exchanges") {
    val df = graft.SparkEntry.queries("q_conv_dedup")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // extraction appears ONCE — the dup injection must replicate rows,
    // not recompute the pipeline via self-union
    assert(ExtractionOp.r.findAllIn(plan).length == 1, plan)
    // engine section = everything downstream of extraction (tree prints
    // root-first, so it's the text BEFORE the extraction; below it
    // sits input synthesis, which is not engine work): conv reassembly +
    // md5 grouping = exactly two exchanges, each fed by a map-side
    // partial aggregate
    val engine = plan.substring(0, plan.indexOf(ExtractionOp))
    assert("Exchange".r.findAllIn(engine).length == 2, plan)
    assert(engine.contains("partial_collect_list") && engine.contains("partial_count"), plan)
  }

  test("sessionize: exactly one exchange; both windows share the user_id sort") {
    val events = spark.read.parquet(s"$sf/events.parquet")
    val plan = Events.sessionize(events).queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"sessionize must shuffle exactly once, got $exchanges:\n$plan")
    // the scan reads only the three needed columns
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props") && !readSchema.contains("event_type"))
  }

  test("distinct-user sketch: partial HLL merges map-side, one exchange of fixed-size state") {
    val events = spark.read.parquet(s"$sf/events.parquet")
    val plan = Events.distinctUsersSketch(events).queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1, plan)
    // partial_approx_count_distinct before the exchange = only sketches
    // cross the wire (the mergeable-summary property)
    assert(plan.contains("partial_approx_count_distinct"), plan)
  }

  test("sessionStats: one exchange total — the groupBy reuses the window's partitioning") {
    // the window hash-partitions on user_id; ClusteredDistribution
    // (user_id, session_idx) is satisfied by it, so the per-session
    // aggregate must add NO second exchange (round 2 re-joined on
    // event_id: three shuffles)
    val events = spark.read.parquet(s"$sf/events.parquet")
    val plan = Events.sessionStats(events).queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"sessionStats must shuffle exactly once, got $exchanges:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"sessionStats must not re-join events:\n$plan")
  }

  test("bucketed transcripts: conversation reassembly aggregates with NO exchange") {
    // the 100 TB layout: the transcripts table bucketed on conv_id (what
    // an Iceberg bucket-partitioned table gives us) lets every
    // conv_id-keyed aggregation run shuffle-free — the text bytes never
    // cross the wire. This pins that the plan actually exploits it.
    val wh = tmpDir("bucketed-wh") // external table path (warehouse.dir is static)
    val rows = (0 until 200).map(i => Turn(s"c${i % 20}", i / 20, "user",
      s"<p>bucketed row $i body</p>", "", new java.sql.Timestamp(0)))
    spark.createDataset(rows).toDF()
      .write.mode("overwrite")
      .bucketBy(4, "conv_id").sortBy("conv_id", "turn_idx")
      .option("path", s"$wh/turns_bucketed")
      .saveAsTable("turns_bucketed")
    try {
      val t = spark.table("turns_bucketed")
      val agg = t.groupBy(col("conv_id"))
        .agg(count(lit(1)).as("n_turns"),
          sum(length(col("text"))).as("n_chars"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed groupBy(conv_id) must not shuffle:\n$plan")
      assert(agg.count() == 20)
      // contrast: the same aggregate over the unbucketed parquet shuffles
      val flat = tmpDir("bucketed-flat")
      spark.createDataset(rows).toDF().write.parquet(s"$flat/t")
      val plan2 = spark.read.parquet(s"$flat/t").groupBy(col("conv_id"))
        .agg(count(lit(1))).queryExecution.executedPlan.toString
      assert(plan2.contains("Exchange"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS turns_bucketed")
    }
  }

  test("IVF inverted file as partition layout: the probe scan is partition-pruned") {
    // the 10^12-row design note made checkable: write the assigned corpus
    // partitionBy(cid); a probe restricted to nProbe cells must reach the
    // scan as a PartitionFilter (reads nProbe/nCentroids of the files),
    // not a post-scan Filter over everything
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val centroids = Embeddings.ivfCentroids(emb, nCentroids = 8)
    val dir = tmpDir("ivf-layout")
    Embeddings.ivfAssignments(emb, centroids)
      .write.partitionBy("cid").parquet(s"$dir/inverted")
    val table = spark.read.parquet(s"$dir/inverted")
    val probed = table.filter(col("cid").isin(1, 3))
    val scan = probed.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(scan.contains("PartitionFilters") && scan.contains("cid"),
      s"probe must prune on the cid partition column:\n$scan")
    // and the pruning is real: only the probed cells' rows are read
    val want = Embeddings.ivfAssignments(emb, centroids)
      .filter(col("cid").isin(1, 3)).count()
    assert(probed.count() == want && want > 0)
  }

  test("extraction UDF plan stays a single projection over the scan (no extra shuffle)") {
    val df = spark.read.parquet(turnsParquet)
    val q = df.select(col("conv_id"), col("turn_idx"),
      HtmlFunctions.extractMainText(col("text")).as("x"))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "extract projection must not shuffle")
  }

  test("masked pipeline: checkpoints make the final plan free of re-extraction and re-chunking") {
    // before the localCheckpoint fix the composed plan re-ran extraction
    // 4x and the chunk generator 3x (14.4 s best rep at sf0.1; BENCH/
    // BASELINE.md "Round-5 final additions ...: loss masks in packed
    // coordinates"); with the conversations (text + fused loss spans) and the
    // SLIM chunk relation checkpointed, the final plan must contain only
    // the packing fold's MapPartitions, no chunk/parse Generate and no
    // aggregation (both ran once inside the checkpoints) — the ONLY
    // allowed Generate is the explode of the checkpointed per-conv
    // loss_spans arrays (r6: the masks side no longer pays its own
    // exchange + sort) — and all leaves are checkpoint scans +
    // slim-column exchanges
    val df = graft.SparkEntry.queries("q_masked_pipeline")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert("MapPartitions".r.findAllIn(plan).length == 1, plan) // the next-fit fold only
    assert("Generate".r.findAllIn(plan).length == 1 &&
      plan.contains("Generate explode(loss_spans"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert("Scan ExistingRDD".r.findAllIn(plan).nonEmpty, plan) // checkpoint leaves
  }
}
