package graft.spark

import graft.extract.Extractor
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def turns(offset: Int, n: Int) = (0 until n).map { i =>
    Turn(f"sc-${offset + i}%04d", 0, "user",
      s"<div id='m'>streaming content number ${offset + i} here</div>", "",
      new java.sql.Timestamp(1700000000000L + offset + i))
  }

  test("AvailableNow processes current files, then only increments; per-turn oracle holds") {
    val dir = tmpDir("graft-stream")
    val in = s"$dir/in"
    val out = s"$dir/out"
    new java.io.File(in).mkdirs()

    spark.createDataset(turns(0, 30)).toDF().coalesce(1)
      .write.mode("append").parquet(in)
    val n1 = StreamingExtraction.runAvailableNow(spark, in, out)
    assert(n1 == 30)

    // rerun with nothing new: no duplicates
    val n2 = StreamingExtraction.runAvailableNow(spark, in, out)
    assert(n2 == 0)

    // land more files: only the increment processes
    spark.createDataset(turns(100, 20)).toDF().coalesce(1)
      .write.mode("append").parquet(in)
    val n3 = StreamingExtraction.runAvailableNow(spark, in, out)
    assert(n3 == 20)
    assert(StreamingExtraction.readExtracted(spark, out).count() == 50)

    // per-turn equality vs the pure-function oracle
    val got = StreamingExtraction.readExtracted(spark, out)
      .select("conv_id", "extracted_text").as[(String, String)].collect().toMap
    (turns(0, 30) ++ turns(100, 20)).foreach { t =>
      assert(got(t.conv_id) == Extractor.extract(t.text).text)
    }
  }

  test("stateful streaming sessionize == batch sessionize; state continues across runs") {
    val dir = tmpDir("graft-sess")
    val in = s"$dir/in"; val out = s"$dir/out"
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

    // first run: the earlier half of the stream (files landed so far)
    val tsUs = unix_micros(col("ts").cast("timestamp"))
    val cut = events.agg(expr("percentile_approx(unix_micros(cast(ts as timestamp)), 0.5)"))
      .head.getLong(0)
    events.filter(tsUs <= cut).write.mode("append").parquet(in)
    val n1 = StreamingSessions.runAvailableNow(spark, in, out)
    assert(n1 > 0)

    // second run: the rest lands later; state store continues numbering
    events.filter(tsUs > cut).write.mode("append").parquet(in)
    val n2 = StreamingSessions.runAvailableNow(spark, in, out)
    assert(n1 + n2 == events.count())

    // the two-run streaming assignment equals the one-shot batch operator
    // (each user's events are time-split across the runs, so this checks
    // genuine cross-batch state, not just per-batch folding)
    val streamed = StreamingSessions.readSessions(spark, out)
      .select("event_id", "session_idx").as[(Long, Long)].collect().toMap
    val batch = Events.sessionize(events, gapMinutes = 30)
      .select("event_id", "session_idx").as[(Long, Long)].collect().toMap
    assert(streamed == batch)
  }

  test("watermarked tumbling-window aggregation matches the batch equivalent") {
    val dir = tmpDir("graft-win")
    val in = s"$dir/in"
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.mode("append").parquet(in)

    val q = StreamingSessions.eventCountsPerWindow(
        spark.readStream.schema(StreamingSessions.eventSchema).parquet(in))
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // Append emits only windows finalized by the watermark; every emitted
    // row must match the batch aggregation exactly
    val streamed = spark.table("win_counts")
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map(r => (r._1.getTime, r._2) -> r._3).toMap
    val batch = events
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("timestamp").cast("long") * 1000,
        col("event_type"), col("n"))
      .as[(Long, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(streamed.nonEmpty)
    streamed.foreach { case (k, n) => assert(batch(k) == n, s"window $k") }
  }

  test("streaming exact dedup == batch distinct; resumed run emits only the NEW distinct texts") {
    val dir = tmpDir("graft-sdedup")
    val in = s"$dir/in"
    val out = s"$dir/out"
    new java.io.File(in).mkdirs()
    def docs(rows: Seq[(Long, String)], f: String): Unit =
      spark.createDataset(rows).toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/stage-$f") // stage then move one file in
    def land(rows: Seq[(Long, String)], f: String): Unit = {
      docs(rows, f)
      val part = new java.io.File(s"$dir/stage-$f").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(in, s"$f.parquet").toPath)
    }
    land(Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"), (4L, "gamma")), "f1")
    val n1 = StreamingDedup.runAvailableNow(spark, in, out)
    assert(n1 == 3) // alpha, beta, gamma
    // resume with one dup of an already-seen text and one new text:
    // only the new one may be emitted (state persists via checkpoint)
    land(Seq((5L, "beta"), (6L, "delta")), "f2")
    val n2 = StreamingDedup.runAvailableNow(spark, in, out)
    assert(n2 == 1)
    val hashes = StreamingDedup.readUnique(spark, out)
      .select("text_hash").as[String].collect().toSet
    val batch = spark.createDataset(Seq("alpha", "beta", "gamma", "delta")).toDF("text")
      .select(md5(col("text"))).as[String].collect().toSet
    assert(hashes == batch)
  }

  test("streaming near-dup ingestion: siblings rejected, clean docs accepted, loop closes across runs") {
    val dir = tmpDir("graft-snd")
    val in = s"$dir/in"; val out = s"$dir/out"
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    Dedup.writeBandIndex(corpus, "stream_band_idx_spec", nBuckets = 8)
    corpus.write.mode("overwrite").parquet(s"$dir/corpus")
    val sib = corpus.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(7000000L)).as("doc_id"),
        concat(col("text"), lit(" zzincrementalmarker")).as("text"))
    val clean = Seq(
      (8000001L, "qqgibber wwgibber eegibber rrgibber ttgibber yygibber"),
      (8000002L, "uugibber iigibber oogibber ppgibber aagibber ssgibber"))
      .toDF("doc_id", "text")
    // byte-identical twin of one sibling under a fresh id, forced into
    // the SAME file (= same micro-batch) as its canonical: candidate
    // generation canonicalizes the pair to one probe, and the md5-keyed
    // accept join must reject BOTH copies (an id-keyed join would
    // silently admit the twin of the rejected canonical)
    val twin = sib.orderBy($"doc_id").limit(1)
      .select(lit(7777777L).as("doc_id"), col("text"))
    sib.unionByName(twin).coalesce(1)
      .write.mode("overwrite").parquet(in)
    clean.coalesce(1).write.mode("append").parquet(in)
    StreamingNearDup.runAvailableNow(spark, in, "stream_band_idx_spec",
      s"$dir/corpus", out, nBuckets = 8, maxFilesPerTrigger = 1)
    val accepted1 = StreamingNearDup.readAccepted(spark, out)
      .select($"doc_id").as[Long].collect().toSet
    assert(accepted1 == Set(8000001L, 8000002L),
      s"accepted must be exactly the clean docs, got $accepted1")
    // idempotent re-run: checkpoint has seen every file, nothing changes
    StreamingNearDup.runAvailableNow(spark, in, "stream_band_idx_spec",
      s"$dir/corpus", out, nBuckets = 8, maxFilesPerTrigger = 1)
    assert(StreamingNearDup.readAccepted(spark, out).count() == 2)
    // the loop closes ACROSS runs: re-stream an accepted text under a
    // new id — it is now a near-dup of the corpus (J = 1 vs the batch-1
    // accept) and must be rejected; a genuinely new clean doc passes
    Seq((9000001L, "qqgibber wwgibber eegibber rrgibber ttgibber yygibber"),
        (9000002L, "ffgibber gggibber hhgibber jjgibber kkgibber llgibber"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(in)
    StreamingNearDup.runAvailableNow(spark, in, "stream_band_idx_spec",
      s"$dir/corpus", out, nBuckets = 8, maxFilesPerTrigger = 1)
    val accepted3 = StreamingNearDup.readAccepted(spark, out)
      .select($"doc_id").as[Long].collect().toSet
    assert(accepted3 == Set(8000001L, 8000002L, 9000002L),
      s"re-streamed duplicate must be rejected, new clean doc accepted; got $accepted3")
    // retry semantics: replay the SAME input against the SAME index —
    // which now already holds every accepted doc's band/corpus rows, the
    // worst-case partial-commit state — through a FRESH checkpoint and
    // ledger. The batch_id =!= doc_id self-exclusion must make the
    // replay reproduce the original decisions exactly (a doc finding
    // ITSELF in the index is not a near-dup), not reject everything.
    val out2 = s"$dir/out-replay"
    StreamingNearDup.runAvailableNow(spark, in, "stream_band_idx_spec",
      s"$dir/corpus", out2, nBuckets = 8, maxFilesPerTrigger = 1)
    val replayed = StreamingNearDup.readAccepted(spark, out2)
      .select($"doc_id").as[Long].collect().toSet
    assert(replayed == accepted3,
      s"replay against the already-appended index must reproduce decisions; got $replayed")
  }

  test("streaming near-dup index: byte-identical twins in one batch add one doc's band rows") {
    val dir = tmpDir("graft-sndtwin")
    val in = s"$dir/in"; val out = s"$dir/out"
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    Dedup.writeBandIndex(corpus, "stream_twin_idx_spec", nBuckets = 8)
    corpus.write.mode("overwrite").parquet(s"$dir/corpus")
    val text = "zzgibber xxgibber ccgibber vvgibber bbgibber nngibber"
    Seq((8100001L, text), (8100002L, text)).toDF("doc_id", "text").coalesce(1)
      .write.parquet(in)
    StreamingNearDup.runAvailableNow(spark, in, "stream_twin_idx_spec",
      s"$dir/corpus", out, nBuckets = 8)
    val accepted = StreamingNearDup.readAccepted(spark, out)
    assert(accepted.select($"doc_id").as[Long].collect().toSet == Set(8100001L, 8100002L))
    spark.catalog.refreshTable("stream_twin_idx_spec")
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select($"doc_id", $"band_hash").as[(Long, Long)].collect().toSeq.sorted
    val added = sorted(spark.table("stream_twin_idx_spec").filter($"doc_id" > 2L))
    // a batch-built index holds one doc per distinct text: 16 bands, not 32
    assert(added.length == 16, s"${added.length} band rows for the pair")
    assert(added == sorted(Dedup.bandRows(accepted)))
  }

  test("watermark-buffered sessionize: idle state is removed after retention (ADVICE r3)") {
    val dir = tmpDir("graft-bufttl")
    val in = s"$dir/in"
    val out = s"$dir/out"
    new java.io.File(in).mkdirs()
    val min = 60L * 1000000L
    val base = 240L * 24 * min
    def ev(id: Long, user: Long, tsUs: Long) =
      Event(id, new java.sql.Timestamp((base + tsUs) / 1000L), user, "t", 0.0, "")
    def land(evs: Seq[Event], mtime: Long): Unit = {
      val tmp = tmpDir("bufttl-stage")
      spark.createDataset(evs).toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(in, s"f$mtime.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    // user 1 is active early, idle for 610 min (far beyond the 2 h
    // retention), then returns; user 2 stays hold-active throughout (a
    // buffered event always defers removal)
    land(Seq(ev(1, 1, 0), ev(2, 1, 10 * min), ev(10, 2, 10 * min)), 1000000L)
    land(Seq(ev(11, 2, 300 * min)), 2000000L)
    land(Seq(ev(12, 2, 600 * min)), 3000000L)
    land(Seq(ev(3, 1, 620 * min), ev(13, 2, 620 * min)), 4000000L)
    land(Seq(ev(99, 99, 3000 * min)), 5000000L) // punctuation: drains 620-min holds
    StreamingSessions.runAvailableNowBuffered(spark, in, out,
      gapMinutes = 30, watermarkDelay = "0 seconds",
      maxFilesPerTrigger = Some(1), idleRetentionMs = 2L * 60 * 60 * 1000)

    val assign = StreamingSessions.readSessions(spark, out)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    // user 2's numbering is continuous (state never idle-expired):
    assert(assign(10L) == 1 && assign(11L) == 2 && assign(12L) == 3 && assign(13L) == 3)
    // user 1's first session is numbered normally...
    assert(assign(1L) == 1 && assign(2L) == 1)
    // ...and the post-expiry return RESTARTS numbering at 1 — the
    // documented TTL trade-off, and the observable proof that the idle
    // state was genuinely removed (without removal this would be 2)
    assert(assign(3L) == 1, s"idle state must be removed after retention: $assign")
  }

  test("a run with more micro-batches than the progress ring fails loudly") {
    val dir = tmpDir("graft-ring")
    val in = s"$dir/in"
    val out = s"$dir/out"
    new java.io.File(in).mkdirs()
    val min = 60L * 1000000L
    val base = 240L * 24 * min
    (1 to 3).foreach { i =>
      val tmp = tmpDir("ring-stage")
      spark.createDataset(Seq(Event(i, new java.sql.Timestamp((base + i * min) / 1000L),
          1L, "t", 0.0, ""))).toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, new java.io.File(in, s"f$i.parquet").toPath)
    }
    // three one-file micro-batches against a ring of two progress events:
    // the summed in-query count would miss a batch, so the run must refuse
    val key = "spark.sql.streaming.numRecentProgressUpdates"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "2")
    try {
      val ex = intercept[IllegalArgumentException] {
        StreamingSessions.runAvailableNowBuffered(spark, in, out,
          maxFilesPerTrigger = Some(1))
      }
      assert(ex.getMessage.contains("progress buffer 2"), ex.getMessage)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("watermark-buffered sessionize: exact under OUT-OF-ORDER multi-batch arrival") {
    val dir = tmpDir("graft-bufsess")
    val in = s"$dir/in"
    val out = s"$dir/out"
    new java.io.File(in).mkdirs()
    val min = 60L * 1000000L
    // base offset keeps every event strictly above the INITIAL watermark
    // (epoch 0): Spark's stateful late-filter drops rows at-or-below the
    // watermark before the user function ever sees them
    val base = 240L * 24 * min
    def ev(id: Long, user: Long, tsUs: Long) =
      Event(id, new java.sql.Timestamp((base + tsUs) / 1000L), user, "t", 0.0, "")

    // user 1's events deliberately split out of time order across files:
    // the SECOND file carries OLDER events than the first — the plain
    // per-batch fold would misnumber these; the buffered operator must not
    val f1 = Seq(ev(3, 1, 50 * min), ev(4, 1, 55 * min), ev(10, 2, 10 * min))
    val f2 = Seq(ev(1, 1, 0), ev(2, 1, 10 * min)) // older than f1
    val f3 = Seq(ev(5, 1, 120 * min), ev(6, 1, 300 * min), ev(11, 2, 200 * min))
    def land(evs: Seq[Event], mtime: Long): Unit = {
      val tmp = tmpDir("bufsess-stage")
      spark.createDataset(evs).toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(in, s"f$mtime.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtime) // file-source processes oldest-first
    }
    land(f1, 1000000L); land(f2, 2000000L); land(f3, 3000000L)

    // one-file-per-microbatch: three batches, interleaved event times
    val n1 = StreamingSessions.runAvailableNowBuffered(spark, in, out,
      gapMinutes = 30, watermarkDelay = "1 hour", maxFilesPerTrigger = Some(1))
    // final watermark = 300min - 60min = 240min => events at or below it
    // emit (user 1: ts 0,10,50,55,120; user 2: 10,200); event 6 (300min)
    // stays buffered
    val emitted1 = StreamingSessions.readSessions(spark, out)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(n1 == 7, s"emitted after run 1: $emitted1")

    // a later run's data advances the watermark; the held event flushes
    // via the event-time timeout and the new one rides the same session
    // logic
    land(Seq(ev(7, 1, 1000 * min)), 4000000L)
    val n2 = StreamingSessions.runAvailableNowBuffered(spark, in, out,
      gapMinutes = 30, watermarkDelay = "1 hour", maxFilesPerTrigger = Some(1))
    assert(n2 == 1) // event 6 flushes; 7 itself stays above the watermark

    // everything emitted so far must equal the BATCH operator on the
    // union — out-of-order batching left no trace
    val all = f1 ++ f2 ++ f3 ++ Seq(ev(7, 1, 1000 * min))
    val batchAssign = Events.sessionize(spark.createDataset(all).toDF())
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    val streamedAssign = StreamingSessions.readSessions(spark, out)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(streamedAssign.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 10L, 11L))
    streamedAssign.foreach { case (id, idx) =>
      assert(batchAssign(id) == idx, s"event $id")
    }
  }
}
