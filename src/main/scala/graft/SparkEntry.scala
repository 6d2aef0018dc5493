package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.spark.{Chunking, Dedup, Embeddings, Events, Filtering, HtmlFunctions => H, LmScore, Mixing, Multimodal, Packing, Pipeline, SubstringDedup, Transcripts}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * All HTML-parsing queries run over a transcripts table derived
  * *algebraically* from the driver's parquet tables (Transcripts.derive),
  * so the DuckDB oracle can regenerate the exact input text and the
  * expected parse outputs — the oracle checks real parse semantics, not
  * just row counts. Parser-internal ops with no SQL analog are exposed
  * rows-only per the contract.
  */
object SparkEntry {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Register a whole temp tree for deletion at JVM exit (ADVICE r3:
    * the streaming queries staged input + sink + checkpoint copies under
    * /tmp per invocation and never deleted them, so repeated
    * Verify/Bench runs accumulated copies on disk). Called AFTER the
    * streams finish, so every file exists; the returned DataFrames still
    * read the sinks for the rest of this JVM's life, hence exit-time
    * deletion rather than immediate. Files.walk is pre-order (parents
    * first) and deleteOnExit deletes in reverse registration order, so
    * children are deleted before their directories.
    */
  private def deleteOnExitTree(root: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.foreach(_.toFile.deleteOnExit())
      finally walk.close()
    }
  }

  /** documents with deterministic exact-dup injection (doc_id%10==0 rows
    * appear twice) — mirrors the oracle's UNION ALL.
    */
  private def docsWithDups(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 10 === 0))
  }

  /** Synthetic 16-md5-word texts derived deterministically from the
    * documents table — the base universe for the near-dup GROUP oracles.
    * md5 words are unique per (doc, position), so two different base
    * docs share NO word trigram: the injected chain edges are the ONLY
    * pairs above any Jaccard threshold, which makes the component
    * structure SQL-predictable (the raw document texts contain natural
    * near-verbatim pairs — q_ngram_jaccard surfaces them — that would
    * merge unrelated groups).
    *
    * The words are salted with doc_id, NOT derived from text alone: the
    * sf0.1 documents table holds byte-identical texts under different
    * doc_ids (8 of 5000), and text-only derivation would collide their
    * chains — merging components across base docs and breaking the
    * per-doc survivor oracle (measured: the distinctness require threw
    * at sf0.1 and the bench silently recorded the time-to-failure).
    * With the salt, distinctness holds BY CONSTRUCTION at every SF.
    *
    * 16 words also pins the LSH recall bound: chain Jaccards are
    * 14/15 (A~B), 15/16 (B~C), 14/16 (A~C); per-edge band-miss
    * probability (1 - J^4)^16 is <= 7.6e-7 (A~C), and a component can
    * only split if BOTH edges at one endpoint miss (~1e-13 across the
    * corpus) — the same planted-construction argument as
    * q_neardup_siblings, an order tighter.
    */
  private def chainBase(s: SparkSession, dir: String): DataFrame = {
    val tag = concat(col("doc_id").cast("long").cast("string"), lit(":"), col("text"))
    val words = (1 to 16).map(k => md5(concat(tag, lit("#" + k))))
    docs(s, dir).select(col("doc_id"), concat_ws(" ", words: _*).as("text"))
  }

  /** DuckDB expression regenerating [[chainBase]]'s text column. */
  private val ChainTextSql: String =
    (1 to 16).map(k =>
        s"md5(CAST(CAST(doc_id AS BIGINT) AS VARCHAR) || ':' || text || '#$k')")
      .mkString(" || ' ' || ")

  /** Scan-speed fail-loudly guard for queries whose DuckDB oracle caps a
    * per-row explode with generate_series(0, N): a future SF where a
    * text exceeds `maxWords` words would silently truncate the ORACLE
    * while Spark emits all rows — an opaque hash mismatch (ADVICE r4).
    * assert_true evaluates per row inside the scan projection (no extra
    * pass, no action) and returns null when the bound holds, so the
    * filter keeps every row; a violation raises with the message instead.
    */
  private def guardMaxWords(df: DataFrame, textCol: String, maxWords: Int): DataFrame =
    // r6: the word count is Chunking.wordCount's space arithmetic —
    // EXACTLY size(split(t, " ")) (split keeps empties at limit -1)
    // without materializing a word array per row just to read its size;
    // null propagates identically (assert_true(null) does not raise)
    df.filter(assert_true(Chunking.wordCount(col(textCol)) <= lit(maxWords),
      lit(s"oracle generate_series bound exceeded: $textCol > $maxWords words — " +
        "widen the oracle's series and this guard together")).isNull)

  /** Merge budget for the q_bpe_* queries (both the Spark call and the
    * unrolled oracle below derive from this one constant).
    */
  private val bpeMerges = 12

  /** Unrolled DuckDB replay of [[graft.spark.Bpe.learn]]: s0 is the
    * initial bar-wrapped segmentation of the word-type table; each
    * iteration i extracts adjacent symbol pairs laterally (p_i), picks
    * the (count desc, l, r) argmax (b_i — binary string order, same as
    * Spark's), and applies it with a literal `replace` (s_i), which in
    * both engines scans left-to-right without re-matching inside a
    * replacement — classic BPE merge order. MATERIALIZED is load-bearing:
    * s_{i-1} is referenced twice per iteration (pairs + replay), and
    * inlined CTEs would re-evaluate the whole chain per reference
    * (measured: 2^12 blowup hangs DuckDB; materialized it's ~0.1 s).
    */
  private val bpeOracleChain: String = {
    val sb = new StringBuilder
    // no leading WITH: q_packed_bpe splices this chain into a WITH
    // RECURSIVE, the others into a plain WITH
    sb ++= "w AS (SELECT unnest(string_split(COALESCE(text,''),' ')) AS word" +
      " FROM documents), s0 AS MATERIALIZED (SELECT word," +
      " CAST(count(*) AS BIGINT) AS cnt," +
      " rtrim(regexp_replace(word, '(?s)(.)', '|\\1| ', 'g')) AS seg" +
      " FROM w WHERE word <> '' GROUP BY word)"
    for (i <- 1 to bpeMerges) {
      sb ++= s", p$i AS (SELECT s.cnt, s.ss[j] AS l, s.ss[j+1] AS r" +
        s" FROM (SELECT cnt, string_split(seg,' ') AS ss FROM s${i - 1}) s," +
        " UNNEST(generate_series(1, len(s.ss)-1)) AS g(j))"
      sb ++= s", b$i AS MATERIALIZED (SELECT l, r, CAST(sum(cnt) AS BIGINT) AS c" +
        s" FROM p$i GROUP BY 1, 2 ORDER BY c DESC, l, r LIMIT 1)"
      sb ++= s", s$i AS MATERIALIZED (SELECT s.word, s.cnt," +
        " replace(s.seg, b.l || ' ' || b.r," +
        " left(b.l, strlen(b.l)-1) || substr(b.r, 2)) AS seg" +
        s" FROM s${i - 1} s CROSS JOIN b$i b)"
    }
    sb.result()
  }

  /** Shared DuckDB replay of [[graft.spark.Dsir]] model training +
    * scoring (target = lang='en', oovBits = 20): `vw` = filtered word
    * lists, `vf` = type-salted hashed unigram+bigram buckets (the
    * bigram series caps at 99 — guardMaxWords(100) on the Spark side),
    * `vmdl` = bit-bucket log ratios for target-seen buckets, `vsc` =
    * per-doc feature count and summed bits. The q_dsir / q_dsir_sample
    * oracles append their projection/filter. No leading WITH:
    * q_dsir_pipeline splices this chain after the recursive BPE chain
    * (CTE names are v-prefixed to stay collision-free with it).
    */
  private val DsirScoreSql: String =
    """vw AS (SELECT doc_id, lang,
      |    list_filter(string_split(COALESCE(text, ''), ' '), x -> x <> '') AS ws
      |  FROM documents),
      |vf AS (SELECT doc_id, lang, substring(md5('u:' || ws[s.i]), 1, 4) AS bucket
      |    FROM vw JOIN generate_series(1, 100) AS s(i) ON s.i <= len(ws)
      |  UNION ALL
      |  SELECT doc_id, lang, substring(md5('b:' || ws[s.i] || ' ' || ws[s.i+1]), 1, 4)
      |    FROM vw JOIN generate_series(1, 99) AS s(i) ON s.i <= len(ws) - 1),
      |vmdl AS (SELECT bucket,
      |    CAST(floor(log2(count(*) FILTER (lang = 'en'))) -
      |         floor(log2(count(*))) AS BIGINT) AS bits
      |  FROM vf GROUP BY bucket HAVING count(*) FILTER (lang = 'en') >= 1),
      |vsc AS (SELECT vf.doc_id, count(*) AS n_feats,
      |    sum(COALESCE(vmdl.bits, -20)) AS score_bits
      |  FROM vf LEFT JOIN vmdl USING (bucket) GROUP BY vf.doc_id)
      |""".stripMargin.replace("\n", " ")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * (The find_links.d workload: parse every turn, emit hrefs in document
    * order — SURVEY.md §2.3.)
    */
  def entry(spark: SparkSession): DataFrame = {
    val t = Transcripts.derive(spark, "/root/testdata/sf0.001")
    t.select(col("conv_id"), col("turn_idx"),
        posexplode(H.find_links(col("text"))).as(Seq("pos", "href")))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ===== parser semantics over derived transcripts =====================
    "q_roundtrip" -> ((s, dir) => {
      Transcripts.derive(s, dir)
        .select(col("conv_id"), col("turn_idx"), H.to_html(col("text")).as("rt"))
    }),
    "q_find_links" -> ((s, dir) => {
      Transcripts.derive(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          posexplode(H.find_links(col("text"))).as(Seq("pos", "href")))
    }),
    "q_get_content" -> ((s, dir) => {
      Transcripts.derive(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          H.get_content(col("text"), lit("p")).as("content"))
    }),
    "q_tag_string" -> ((s, dir) => {
      Transcripts.derive(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          H.first_tag_string(col("text"), lit("div"), lit("id"), lit("main")).as("tag_str"))
    }),
    // Q12 re-escape on the v4 variant: the single-quoted source attr
    // normalizes to a backslash-escaped double-quoted render
    "q_span_tag_string" -> ((s, dir) => {
      Transcripts.derive(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          coalesce(
            H.first_tag_string(col("text"), lit("span"), lit("title"), lit("say \"hi\" now")),
            lit("")).as("tag_str"))
    }),
    // constructor-built DOM (ctors + closeElements, Q25): params re-render
    // sorted/escaped/double-quoted, container auto-closes the pair tag
    "q_build_dom" -> ((s, dir) => {
      Transcripts.derive(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          H.build_tag(lit("div"), lit("id"),
            col("conv_id"), concat(lit("turn "), col("turn_idx"))).as("built"))
    }),
    // the reference's generic find(tag, params) surface (SQL-registered
    // as find_nodes): params-subset match via isAlmostEqual (Q21)
    "q_find_nodes" -> ((s, dir) => {
      Transcripts.derive(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          explode(H.find_nodes(col("text"), lit("a"),
            map(lit("href"), lit("/home")))).as("n"))
        .select(col("conv_id"), col("turn_idx"),
          col("n.node_id").as("node_id"), col("n.tagname").as("tagname"),
          element_at(col("n.params"), "href").as("href"))
    }),
    "q_node_count" -> ((s, dir) => {
      Transcripts.derive(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          H.node_count(col("text")).as("n_nodes"))
    }),
    "q_extract_main" -> ((s, dir) => {
      Transcripts.derive(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          H.extractMainText(col("text")).as("extracted_text"))
    }),
    // ===== text source adapters ===========================================
    // the same extraction through a CSV round trip: transcripts staged
    // as RFC-4180 CSV (quoted multiline HTML text — the adapter risk
    // this actually tests), read back through the explicit-schema
    // adapter, extracted per turn. Any byte the CSV quoting/timestamp
    // path drops or mangles breaks the q_extract_main hash, so the
    // EXISTING oracle pins the adapter end to end at zero extra
    // derivation cost.
    "q_source_csv" -> ((s, dir) => {
      val work = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("/tmp"), "graft-src-csv").toString
      Transcripts.writeCsv(Transcripts.derive(s, dir), s"$work/in")
      deleteOnExitTree(work)
      Transcripts.readCsv(s, s"$work/in").toDF()
        .select(col("conv_id"), col("turn_idx"),
          H.extractMainText(col("text")).as("extracted_text"))
    }),
    // same through newline-delimited JSON — the PREFERRED text format at
    // scale (line-splittable; JSON escapes the newlines CSV must quote)
    "q_source_json" -> ((s, dir) => {
      val work = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("/tmp"), "graft-src-json").toString
      Transcripts.writeJson(Transcripts.derive(s, dir), s"$work/in")
      deleteOnExitTree(work)
      Transcripts.readJson(s, s"$work/in").toDF()
        .select(col("conv_id"), col("turn_idx"),
          H.extractMainText(col("text")).as("extracted_text"))
    }),
    // ===== the pipeline path (salted repartition + mapPartitions) ========
    "q_pipeline_extract" -> ((s, dir) => {
      val extracted = Pipeline.extractTurns(Transcripts.derive(s, dir))
      Pipeline.reassembled(extracted).toDF()
        .select(col("conv_id"), col("turn_idx"), col("extracted_text"),
          col("n_nodes"), col("n_errors"))
    }),
    // the turn-range-salted per-turn output shape (VERDICT r4 nit 3): a
    // single monster conversation spreads over ceil(n_turns/B)
    // partitions instead of pinning one reducer. Same rows, same
    // per-partition sort key — shares q_pipeline_extract's oracle.
    "q_pipeline_turnsalted" -> ((s, dir) => {
      val extracted = Pipeline.extractTurns(Transcripts.derive(s, dir))
      Pipeline.reassembled(extracted, turnsPerShard = 4).toDF()
        .select(col("conv_id"), col("turn_idx"), col("extracted_text"),
          col("n_nodes"), col("n_errors"))
    }),
    // extraction on scan partitions: the conversations groupBy is the
    // only exchange, and it moves extracted text — the salt repartition
    // of raw text bought nothing before a hash aggregation
    "q_conversations" -> ((s, dir) => {
      val extracted = Pipeline.extractOnScanPartitions(Transcripts.derive(s, dir))
      Pipeline.conversations(extracted)
    }),
    // conversationsCapped under a REAL truncation (cap=2): conv_text
    // holds only the first two turns by turn_idx (the bounded FirstKTurns
    // aggregator), while n_turns/n_nodes/n_errors keep the TRUE totals —
    // truncation observable, never silent. Exact DuckDB oracle via
    // rank-filtered string_agg.
    "q_conversations_capped" -> ((s, dir) => {
      val extracted = Pipeline.extractOnScanPartitions(Transcripts.derive(s, dir))
      Pipeline.conversationsCapped(extracted, maxTurns = 2)
        .select(col("conv_id"), col("n_turns"), col("n_nodes"), col("n_errors"),
          col("conv_text"))
    }),
    // the CHAR-budget cap (VERDICT r3 item 7): maxTurns alone still lets
    // 10k turns x 1 MB each build a 10 GB reducer row, so FirstKTurns
    // also bounds total characters — conv_text holds the longest
    // turn_idx prefix within 100 chars (a real truncation at every sf:
    // one extracted turn is ~60-120 chars), while n_turns/chars_total
    // keep TRUE totals and chars_dropped makes the loss observable.
    // Exact DuckDB oracle via running-sum prefix filter.
    "q_conversations_bytecapped" -> ((s, dir) => {
      val extracted = Pipeline.extractOnScanPartitions(Transcripts.derive(s, dir))
      Pipeline.conversationsCapped(extracted, maxTurns = 1000, maxChars = 100L)
    }),
    // training loss-mask spans: each turn's character span inside the
    // reassembled conv_text plus in_loss (assistant turns only) — the
    // role-masking step of transcript training, as spans over the
    // reassembled artifact rather than a duplicated text column. role is
    // re-attached by the generator's own turn_idx->role rule (extraction
    // carries (conv_id, turn_idx, text) only); in production the role
    // column rides the same projection. Exact oracle: running-sum window
    // over the replayed per-turn extraction lengths.
    "q_loss_mask" -> ((s, dir) => {
      val extracted = Pipeline.extractOnScanPartitions(Transcripts.derive(s, dir))
      Pipeline.lossMaskSpans(extracted.withColumn("role",
        expr("CASE turn_idx % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END")))
    }),
    // the one-exchange pipeline (range partition + in-partition sort):
    // same output, same oracle, half the shuffled text bytes
    "q_pipeline_onepass" -> ((s, dir) => {
      Pipeline.extractReassembledOnePass(Transcripts.derive(s, dir)).toDF()
        .select(col("conv_id"), col("turn_idx"), col("extracted_text"),
          col("n_nodes"), col("n_errors"))
    }),
    // extract-first: extraction on the byte-balanced scan partitions, one
    // exchange of EXTRACTED text only — the cheapest correct shape; same
    // oracle again
    "q_pipeline_extractfirst" -> ((s, dir) => {
      Pipeline.extractReassembledExtractFirst(Transcripts.derive(s, dir)).toDF()
        .select(col("conv_id"), col("turn_idx"), col("extracted_text"),
          col("n_nodes"), col("n_errors"))
    }),
    // the span columns of the north_rule output shape, driver-checked:
    // unpack the packed (span_pos, span_kind) wire format back to
    // (start, end, kind) rows. The oracle computes the offsets
    // ALGEBRAICALLY — every byte before each kept text node is template
    // literal or length() arithmetic over dtext/okey/lnum/rf/ls
    // (documents/lineitem text is pure ASCII, so Java UTF-16 offsets ==
    // code points == DuckDB length(); Bench asserts nothing here — the
    // driver hash does)
    "q_pipeline_spans" -> ((s, dir) => {
      Pipeline.extractReassembledExtractFirst(Transcripts.derive(s, dir)).toDF()
        .select(col("conv_id"), col("turn_idx"),
          posexplode(H.spans_view(col("span_pos"), col("span_kind")))
            .as(Seq("span_idx", "sp")))
        .select(col("conv_id"), col("turn_idx"), col("span_idx"),
          col("sp.start").as("start_off"), col("sp.end").as("end_off"),
          col("sp.kind").as("kind"))
    }),
    // find("a") expressed RELATIONALLY over the exploded node arena
    // (SURVEY.md §2.2: node-table filter; node_id order = DFS pre-order) —
    // must equal q_find_links' UDF-side result. The arena comes from the
    // native ParseHtmlNodes Generator (one fewer full-arena encode per
    // turn than explode(parse_html); the UDF explode path stays covered
    // by q_dom_nodes).
    "q_relational_find" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.spark.catalyst.GraftSparkExtensions
      GraftSparkExtensions.register(s)
      val nodes = Transcripts.derive(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          GraftSparkExtensions.parse_nodes(col("text")))
      val w = Window.partitionBy(col("conv_id"), col("turn_idx"))
        .orderBy(col("node_id"))
      nodes
        .filter(col("kind") === 2 && col("tagname") === "a" &&
          map_contains_key(col("params"), "href"))
        .withColumn("pos", row_number().over(w) - 1)
        .select(col("conv_id"), col("turn_idx"), col("pos"),
          element_at(col("params"), "href").as("href"))
    }),
    // the SAME arena through the native Catalyst Generator (ParseHtmlNodes
    // via SparkSessionExtensions) instead of the UDF+explode path — one
    // fewer full-arena materialization per turn; must hash-match the
    // q_dom_nodes oracle exactly
    "q_gen_nodes" -> ((s, dir) => {
      import graft.spark.catalyst.GraftSparkExtensions
      GraftSparkExtensions.register(s)
      Transcripts.derive(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          GraftSparkExtensions.parse_nodes(col("text")))
        .filter(col("kind") =!= 0)
        .select(col("conv_id"), col("turn_idx"), col("node_id"), col("parent_id"),
          col("pos"), col("depth"), col("kind").cast("int").as("kind"),
          col("tagname"), col("nonpair"))
    }),
    "q_dom_nodes" -> ((s, dir) => {
      Transcripts.derive(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          explode(H.dom_tag_nodes(col("text"))).as("n"))
        .select(col("conv_id"), col("turn_idx"),
          col("n._1").as("node_id"), col("n._2").as("parent_id"),
          col("n._3").as("pos"), col("n._4").as("depth"),
          col("n._5").as("kind"), col("n._6").as("tagname"),
          col("n._7").as("nonpair"))
    }),
    "q_bfs_order" -> ((s, dir) => {
      Transcripts.derive(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          explode(H.bfs_tag_order(col("text"))).as("n"))
        .select(col("conv_id"), col("turn_idx"),
          col("n._1").as("bfs_pos"), col("n._2").as("tagname"),
          col("n._3").as("is_end"))
    }),
    "q_prettify" -> ((s, dir) => {
      Transcripts.derive(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          H.prettify_html(col("text")).as("pretty"))
    }),
    "q_remove_boilerplate" -> ((s, dir) => {
      Transcripts.derive(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          H.remove_tags(col("text"),
            array(lit("nav"), lit("footer"))).as("stripped"))
    }),
    // Q23: the nonpair setter — clearing it drops footer's children and
    // orphans its endtag, so the reconstruction keeps a bare <footer>
    "q_reset_nonpair" -> ((s, dir) => {
      Transcripts.derive(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          H.reset_nonpair(col("text"), lit("footer")).as("html"))
    }),
    // Q24: replaceWith a constructor-built <h2 class="t"> on every h1 —
    // the heading subtree and its endtag vanish, the normalized
    // replacement render appears
    "q_replace_tag" -> ((s, dir) => {
      Transcripts.derive(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          H.replace_tag(col("text"), lit("h1"), lit("h2"),
            lit("class"), lit("t")).as("html"))
    }),
    // THE END-TO-END TRAINING-DATA COMPOSITION (round 4): parse ->
    // extract -> conversation reassembly -> quality filter (>= 100 ws
    // tokens) -> training-sequence chunking (16/4) -> next-fit packing
    // (capacity 24, per-conversation shard) — the full pipeline a
    // training-data team runs, in ONE query with ONE exact oracle: the
    // DuckDB side rebuilds conv_text algebraically, filters by the same
    // space-count, re-slices the chunks, and replays the packing walk
    // as a recursive CTE. Every stage's semantics is pinned end-to-end.
    "q_training_pipeline" -> ((s, dir) => {
      val ex = Pipeline.extractOnScanPartitions(Transcripts.derive(s, dir))
      // guardMaxWords: the oracle's chunk explode caps at
      // generate_series(0, 255) — covers <= 256 chunks = 3076 words at
      // 16/4 chunking (ADVICE r4). r6: the >=100-word filter is the
      // same space arithmetic as the guard (== size(split)), and the
      // chunker is the counts-only projection — nothing downstream
      // reads chunk_text, so the conv text is never split at all.
      val convs = guardMaxWords(Pipeline.conversationTexts(ex.toDF())
        .filter(Chunking.wordCount(col("conv_text")) >= 100)
        .select(col("conv_id"), col("conv_text")), "conv_text", 3076)
      val chunks = Chunking.chunkCounts(convs, maxTokens = 16, overlap = 4,
          textCol = "conv_text", idCol = "conv_id")
        .withColumn("conv_key", expr("CAST(substring(conv_id, 6) AS BIGINT)"))
      Packing.packNextFit(chunks, capacity = 24, shard = col("conv_key"),
          idCol = "conv_key")
        .select(col("conv_key"), col("chunk_idx"), col("n_tokens"),
          col("seq_idx"), col("seq_pos"))
    }),
    // the training pipeline WITH its loss mask carried to the end:
    // assistant-turn spans (lossMaskSpans, conv_text coordinates) are
    // remapped through chunking (chunkWithOffsets pins each chunk's
    // char window in the doc) and packing (sequenceSpans pins each
    // chunk's offset in seq_text) into PACKED-SEQUENCE coordinates —
    // the artifact a trainer actually consumes: packed windows plus
    // exactly the char ranges to compute loss on, no re-tokenization.
    // Oracle: the q_training_pipeline replay extended with chunk char
    // offsets (prefix join lengths), the per-sequence running offset,
    // and the span intersection — all integer arithmetic.
    "q_masked_pipeline" -> ((s, dir) => {
      // extraction feeds BOTH the conversation text (chunk side) and the
      // per-turn mask side: checkpoint it once — the same materialization
      // point the production pipeline has anyway (runResumable writes
      // extracted turns to the sink). Without it the composed plan
      // re-parsed the corpus 4x (14.4 -> 9.7 s best rep at sf0.1; BENCH/
      // BASELINE.md "Round-5 final additions ...: loss masks in packed
      // coordinates"). r6: the checkpoint is
      // SLIM — only (conv_id, turn_idx, extracted_text); the span
      // arrays and node counters are dead in this composition, so they
      // never enter the block manager.
      // r6 second pass: conv_text and the in-loss spans come out of ONE
      // conv-keyed aggregation (conversationTextsWithLossSpans) — the
      // old masks branch paid its own exchange + per-conversation sort
      // of every turn row for spans the agg's sorted turn array already
      // determines. With extraction single-consumer the checkpoint
      // moves to the aggregated conversations (text + spans, one row
      // per conv), and the masks of never-chunked (<100-word) convs are
      // dropped early — they could never survive the chunk-window join.
      val ex = Pipeline.extractOnScanPartitions(Transcripts.derive(s, dir))
        .select(col("conv_id"), col("turn_idx"),
          expr("CASE turn_idx % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END")
            .as("role"),
          col("extracted_text"))
      val convsP = guardMaxWords(
          Pipeline.conversationTextsWithLossSpans(ex.toDF())
            .filter(Chunking.wordCount(col("conv_text")) >= 100), "conv_text", 3076)
        .select(expr("CAST(substring(conv_id, 6) AS BIGINT)").as("conv_key"),
          col("conv_text"), col("loss_spans"))
        .localCheckpoint()
      // the three span consumers (packing fold, sequence offsets, chunk
      // char windows) need only ids + sizes: checkpoint the SLIM chunk
      // relation (5 numeric cols/chunk, no text). chunkOffsetsMapped —
      // the compiled one-pass form of chunkOffsetsOnly (ChunkingSpec
      // pins row-for-row equality, incl. non-BMP): the declarative
      // higher-order-function arithmetic is interpreted per element and
      // measured 2.03 s vs 0.13 s warm over this exact input
      // (OPTIMIZATION_r06.md §7); no chunk_text string is ever built.
      val chunks = Chunking.chunkOffsetsMapped(convsP, maxTokens = 16, overlap = 4,
          textCol = "conv_text", idCol = "conv_key")
        .localCheckpoint()
      // fused fold: the packing walk emits each chunk's seq_text offset
      // as it places it (PackingSpec-pinned == packNextFit +
      // sequenceSpans), so the remap below skips the sequenceSpans
      // join + (shard, seq_idx) window exchange
      val asg = Packing.packNextFitWithOffsets(chunks, capacity = 24,
        shard = col("conv_key"), idCol = "conv_key")
      val masks = convsP
        .select(col("conv_key"), explode(col("loss_spans")).as("sp"))
        .select(col("conv_key"), col("sp.span_start").as("span_start"),
          col("sp.span_end").as("span_end"))
      Packing.remapSpansToSequences(chunks, asg, masks, idCol = "conv_key")
    }),
    // ===== window / agg over transcripts ==================================
    "q_turn_rn" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx").desc)
      Transcripts.derive(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          row_number().over(w).as("rn_desc"))
    }),
    "q_role_metrics" -> ((s, dir) => {
      Transcripts.derive(s, dir)
        .groupBy(col("role"))
        .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("total_chars"))
    }),
    // ===== streaming (Trigger.AvailableNow) ================================
    // the same extraction operator driven through Structured Streaming:
    // transcripts staged as files -> readStream -> extract -> parquet sink;
    // the returned DF reads the sink, so the oracle checks the streaming
    // path end-to-end (exact per-turn text equality)
    "q_stream_extract" -> ((s, dir) => {
      import graft.spark.StreamingExtraction
      val work = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("/tmp"), "graft-stream-q").toString
      Transcripts.derive(s, dir)
        .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
          col("tool"), col("ts"))
        .write.mode("overwrite").parquet(s"$work/in")
      StreamingExtraction.runAvailableNow(s, s"$work/in", s"$work/out")
      deleteOnExitTree(work)
      StreamingExtraction.readExtracted(s, s"$work/out")
        .select(col("conv_id"), col("turn_idx"), col("extracted_text"))
    }),
    // the STATEFUL streaming path (flatMapGroupsWithState) end-to-end
    // through a file sink: one AvailableNow run over the staged events
    // must equal the batch sessionize operator exactly (in-group sort +
    // state fold), so it shares q_sessionize's DuckDB oracle
    "q_stream_sessions" -> ((s, dir) => {
      import graft.spark.StreamingSessions
      val work = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("/tmp"), "graft-stream-s").toString
      s.read.parquet(s"$dir/events.parquet")
        .write.mode("overwrite").parquet(s"$work/in")
      StreamingSessions.runAvailableNow(s, s"$work/in", s"$work/out", gapMinutes = 30)
      deleteOnExitTree(work)
      StreamingSessions.readSessions(s, s"$work/out")
        .select(col("event_id"), col("user_id"), col("session_idx"))
    }),
    // the WATERMARK-BUFFERED streaming sessionizer, driver-oracled: at
    // zero delay one run finalizes everything except events above the
    // ms-truncated watermark (the safe finality boundary); a far-future
    // SENTINEL user then advances the watermark past max(ts) and the
    // event-time timeouts flush every real user — the standard
    // punctuation pattern for draining a bounded replay. The emitted set
    // (sentinel excluded) must equal the batch operator exactly.
    "q_stream_sessions_buffered" -> ((s, dir) => {
      import graft.spark.StreamingSessions
      val work = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("/tmp"), "graft-stream-b").toString
      val events = s.read.parquet(s"$dir/events.parquet")
      events.write.mode("overwrite").parquet(s"$work/in")
      StreamingSessions.runAvailableNowBuffered(s, s"$work/in", s"$work/out",
        gapMinutes = 30, watermarkDelay = "0 seconds")
      events.agg(max(col("ts").cast("timestamp")).as("mx"))
        .select(lit(-1L).as("event_id"),
          (col("mx") + expr("INTERVAL 100 DAYS")).as("ts"),
          lit(-1L).as("user_id"), lit("flush").as("event_type"),
          lit(0.0).as("value"), lit("").as("props"))
        .write.mode("append").parquet(s"$work/in")
      StreamingSessions.runAvailableNowBuffered(s, s"$work/in", s"$work/out",
        gapMinutes = 30, watermarkDelay = "0 seconds")
      deleteOnExitTree(work)
      StreamingSessions.readSessions(s, s"$work/out")
        .filter(col("user_id") =!= -1L)
        .select(col("event_id"), col("user_id"), col("session_idx"))
    }),
    // STREAMING exact dedup end-to-end through the sink: the
    // dup-injected corpus staged as files, one AvailableNow run — the
    // emitted distinct-hash set must equal batch DISTINCT md5 exactly
    // (the surviving doc_id per hash is batch-order dependent, so the
    // deterministic claim is the hash set; a second run emits nothing,
    // StreamingSpec)
    "q_stream_dedup" -> ((s, dir) => {
      import graft.spark.StreamingDedup
      val work = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("/tmp"), "graft-stream-d").toString
      docsWithDups(s, dir).write.mode("overwrite").parquet(s"$work/in")
      StreamingDedup.runAvailableNow(s, s"$work/in", s"$work/out")
      deleteOnExitTree(work)
      StreamingDedup.readUnique(s, s"$work/out").select(col("text_hash"))
    }),
    // STREAMING near-dup ingestion end-to-end: the corpus is indexed
    // once (band index + text store), then a multi-file feed of planted
    // siblings (every %10 doc + one marker word => trigram J >= 6/7 vs
    // its source, same algebra as q_incremental_neardup) and clean
    // synthetic docs (md5-hex words: zero shared trigrams with anything,
    // so the verify tier kills any band collision) streams through in
    // several micro-batches. Siblings are rejected against the INITIAL
    // index and clean docs match nothing, so the accepted set is exactly
    // the clean docs REGARDLESS of file-to-batch assignment — which is
    // what makes a streaming operator's output SQL-predictable.
    "q_stream_neardup" -> ((s, dir) => {
      import graft.spark.StreamingNearDup
      val g = docs(s, dir).agg(
        min(size(split(col("text"), " "))).as("min_words"),
        count(lit(1)).as("n"),
        countDistinct(col("text")).as("n_distinct")).head()
      require(g.getInt(0) >= 8,
        s"sibling-rejection oracle needs >= 8 words/doc (J >= 6/7); min is ${g.getInt(0)}")
      require(g.getLong(1) == g.getLong(2),
        "sibling-rejection oracle needs all document texts distinct")
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val work = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("/tmp"), "graft-stream-nd").toString
      Dedup.writeBandIndex(corpus, "graft_stream_band_idx", nBuckets = 16)
      corpus.write.mode("overwrite").parquet(s"$work/corpus")
      val sib = corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(7000000L)).as("doc_id"),
          concat(col("text"), lit(" zzincrementalmarker")).as("text"))
      val clean = corpus.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + lit(8000000L)).as("doc_id"),
          concat_ws(" ", md5(col("text")),
            md5(concat(col("text"), lit("x"))),
            md5(concat(col("text"), lit("y")))).as("text"))
      sib.unionByName(clean).repartition(8)
        .write.mode("overwrite").parquet(s"$work/in")
      StreamingNearDup.runAvailableNow(s, s"$work/in",
        "graft_stream_band_idx", s"$work/corpus", s"$work/out",
        nBuckets = 16, maxFilesPerTrigger = 2)
      deleteOnExitTree(work)
      StreamingNearDup.readAccepted(s, s"$work/out")
    }),
    // ===== event-stream ops over events ====================================
    "q_sessionize" -> ((s, dir) =>
      Events.sessionize(s.read.parquet(s"$dir/events.parquet"), gapMinutes = 30)),
    "q_session_stats" -> ((s, dir) =>
      Events.sessionStats(s.read.parquet(s"$dir/events.parquet"), gapMinutes = 30)),
    // the skew-safe two-pass shape must produce IDENTICAL assignments
    // (same oracle as q_sessionize): per-event work partitions on
    // (user_id, day-bucket) so a monster user cannot pin one reducer;
    // the per-user sequential pass runs over per-bucket summaries only
    "q_sessionize_skewsafe" -> ((s, dir) =>
      Events.sessionizeSkewSafe(s.read.parquet(s"$dir/events.parquet"),
        gapMinutes = 30, bucketMinutes = 1440)),
    // the sketch tier: HLL++ distinct-user counts per event type —
    // map-side partial sketches merge across the exchange (fixed-size
    // state, the scalable form of distinct counting). The sketch is
    // genuinely approximate (dense registers + bias correction: 151 vs
    // 150 at sf0.01), so the driver-checkable claim is its ACCURACY
    // CONTRACT: the estimate lands within a 5x-rsd envelope of exact
    "q_sketch_users" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
      Events.distinctUsersSketch(e, rsd = 0.01)
        .join(e.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_exact")), "event_type")
        .select(col("event_type"),
          (abs(col("n_users") - col("n_exact")) <=
            greatest(lit(1L), (col("n_exact") * 0.05).cast("long")))
            .as("within_bound"))
    }),
    // ===== text analysis over documents ===================================
    "q_token_count" -> ((s, dir) => {
      val tok = udf((t: String) => graft.text.TextAnalysis.wsTokenCount(t))
      docs(s, dir).select(col("doc_id"), tok(col("text")).as("n_tokens"))
    }),
    // the same count through the codegen'd WsTokenCount expression
    // (UTF-8 bytes, no String decode, stays in WholeStageCodegen) —
    // shares q_token_count's oracle
    "q_token_count_native" -> ((s, dir) => {
      import graft.spark.catalyst.GraftSparkExtensions
      GraftSparkExtensions.register(s)
      docs(s, dir).select(col("doc_id"),
        GraftSparkExtensions.ws_token_count(col("text")).as("n_tokens"))
    }),
    // BPE-ish subword token count through the codegen'd native
    // expression (no ANSI-SQL analog — case-flip/run-length chunking;
    // semantics pinned by TextSpec equivalence properties)
    "q_bpeish_count" -> ((s, dir) => {
      import graft.spark.catalyst.GraftSparkExtensions
      GraftSparkExtensions.register(s)
      docs(s, dir).select(col("doc_id"),
        GraftSparkExtensions.bpeish_token_count(col("text")).as("n_subwords"))
    }),
    // training-sequence chunking (round 4): fixed token windows with
    // overlap over each document — pure built-in projection (split /
    // sequence / posexplode / slice), shuffle-free (ChunkingSpec gates
    // the plan). maxTokens=16, overlap=4 gives 1-8 chunks per doc at
    // every driver SF (docs run 10-99 words). Exact DuckDB oracle via
    // list slicing over the same start arithmetic.
    // guardMaxWords: the oracle's per-doc chunk explode is capped at
    // generate_series(0, 63) — covers n_chunks <= 64, i.e. <= 772 words
    // at 16/4 chunking (ADVICE r4: bound must fail loudly, not as an
    // opaque hash mismatch)
    "q_chunked" -> ((s, dir) =>
      Chunking.chunk(guardMaxWords(docs(s, dir), "text", 772),
        maxTokens = 16, overlap = 4)),
    // next-fit sequence packing over the chunk stream (round 4): the
    // general operator shards by doc-hash (PackingSpec pins the
    // cross-doc fold + one-exchange plan); the driver query shards BY
    // DOC so the exact DuckDB oracle's recursive walk stays <= 9 deep
    // (docs have <= 8 chunks at 16/4 chunking). Capacity 24 exercises
    // real variety: 16-token bodies go one per sequence, tails <= 8
    // join the preceding sequence.
    "q_packed" -> ((s, dir) => {
      val chunks = Chunking.chunk(guardMaxWords(docs(s, dir), "text", 772),
        maxTokens = 16, overlap = 4)
      Packing.packNextFit(chunks, capacity = 24, shard = col("doc_id"))
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
          col("seq_idx"), col("seq_pos"))
    }),
    // packing-efficiency report over the q_packed assignments: per
    // shard (= doc here) chunks/sequences/token sums and the padding
    // waste a trainer pads out — all integers, oracle = the q_packed
    // walk + two GROUP BYs
    "q_pack_stats" -> ((s, dir) => {
      val chunks = Chunking.chunk(guardMaxWords(docs(s, dir), "text", 772),
        maxTokens = 16, overlap = 4)
      Packing.packStats(
        Packing.packNextFit(chunks, capacity = 24, shard = col("doc_id")),
        capacity = 24)
    }),
    // the packed sequences MATERIALIZED (the model-ready artifact):
    // member chunk texts joined in seq_pos order, true token sums —
    // exact oracle by extending the q_packed walk with a re-sliced
    // chunk-text join + ordered string_agg
    "q_packed_sequences" -> ((s, dir) => {
      val chunks = Chunking.chunk(guardMaxWords(docs(s, dir), "text", 772),
        maxTokens = 16, overlap = 4)
      val asg = Packing.packNextFit(chunks, capacity = 24, shard = col("doc_id"))
      Packing.sequences(chunks, asg)
    }),
    // sample-boundary spans over the packed sequences: every chunk's
    // exact [span_start, span_end) character span inside its sequence's
    // seq_text — the block-diagonal-attention / loss-reset mask a
    // trainer consumes with the packed window. Oracle: the q_packed
    // walk + the re-sliced chunk LENGTHS + a running-sum window (the
    // same arithmetic, so substring(seq_text, span) == chunk_text by
    // construction — PackingSpec pins that invariant end-to-end).
    "q_packed_spans" -> ((s, dir) => {
      val chunks = Chunking.chunk(guardMaxWords(docs(s, dir), "text", 772),
        maxTokens = 16, overlap = 4)
      val asg = Packing.packNextFit(chunks, capacity = 24, shard = col("doc_id"))
      Packing.sequenceSpans(chunks, asg)
    }),
    // CROSS-DOCUMENT packing with provenance lineage: shard = doc_id % 8
    // puts many docs per shard, so the next-fit walk packs chunks from
    // DIFFERENT documents into one context window (the production shape)
    // and the provenance column maps every sequence back to its ordered
    // "doc:chunk" sources — the trace a takedown / contamination audit
    // replays. Oracle: the same recursive walk, keyed by a per-shard
    // dense row_number instead of chunk_idx, plus an ordered string_agg
    // of the provenance keys.
    "q_packed_provenance" -> ((s, dir) => {
      val chunks = Chunking.chunk(guardMaxWords(docs(s, dir), "text", 772),
        maxTokens = 16, overlap = 4)
      val asg = Packing.packNextFit(chunks, capacity = 48,
        shard = pmod(col("doc_id"), lit(8)))
      Packing.sequences(chunks, asg, withProvenance = true)
    }),
    // takedown traceback over the cross-doc packing: docs with
    // doc_id % 97 == 0 are "removed"; every sequence carrying any of
    // their chunks is located through the assignments index (the
    // sequence texts are never read), with the sorted hit-doc list.
    // Oracle: the q_packed_provenance walk filtered to hit docs.
    "q_takedown" -> ((s, dir) => {
      val chunks = Chunking.chunk(guardMaxWords(docs(s, dir), "text", 772),
        maxTokens = 16, overlap = 4)
      val asg = Packing.packNextFit(chunks, capacity = 48,
        shard = pmod(col("doc_id"), lit(8)))
      Packing.affectedSequences(asg, col("doc_id") % 97 === 0)
    }),
    // THE LAST MILE made concrete: packed training sequences (chunk ->
    // next-fit pack -> reassembled seq_text) get their deterministic
    // global training order — md5 order key over the unique
    // (pack_shard, seq_idx) identity, 16 hex-prefix shards, within-shard
    // rank. Reading shards in order and rows by ord IS the order the
    // trainer consumes; the oracle replays chunking, the packing walk,
    // sequence reassembly, AND the order assignment in one SQL
    "q_ordered_shards" -> ((s, dir) => {
      val chunks = Chunking.chunk(guardMaxWords(docs(s, dir), "text", 772),
        maxTokens = 16, overlap = 4)
      val asg = Packing.packNextFit(chunks, capacity = 24, shard = col("doc_id"))
      val seqs = Packing.sequences(chunks, asg)
        .withColumnRenamed("shard", "pack_shard")
      Mixing.trainingOrder(seqs,
          concat(col("pack_shard"), lit(":"), col("seq_idx")),
          shardHexDigits = 1, salt = "graft")
        .select(col("pack_shard"), col("seq_idx"), col("n_tokens"),
          col("seq_text"), col("order_key"), col("shard"), col("ord"))
    }),
    "q_langid" -> ((s, dir) => {
      val lang = udf((t: String) => graft.text.TextAnalysis.detectLanguage(t)._1)
      docs(s, dir).select(col("doc_id"), lang(col("text")).as("lang_detected"))
    }),
    "q_quality" -> ((s, dir) => {
      val qual = udf((t: String) => {
        val q = graft.text.TextAnalysis.quality(t)
        (q.nTokens, math.round(q.score * 10000).toInt)
      })
      docs(s, dir).select(col("doc_id"), qual(col("text")).as("q"))
        .select(col("doc_id"), col("q._1").as("n_tokens"), col("q._2").as("score_bp"))
    }),
    // partial oracle for q_quality (VERDICT r2 item 5): its n_tokens
    // column alone IS SQL-expressible — quality()'s regex tokenizer and
    // the ws tokenizer agree on single-space-separated ASCII text, so
    // this shares q_token_count's exact oracle
    "q_quality_tokens" -> ((s, dir) => {
      val qual = udf((t: String) => graft.text.TextAnalysis.quality(t).nTokens)
      docs(s, dir).select(col("doc_id"), qual(col("text")).as("n_tokens"))
    }),
    // cross-operator invariants of the remaining rows-only text ops,
    // surfaced as ONE driver-checkable row (VERDICT r2 item 5 pattern):
    // every BPE-ish subword count >= its ws token count (chunking never
    // merges across whitespace), every quality score lands in [0, 1e4]
    // basis points, and langid only ever claims a language from its
    // profile set (or 'und')
    "q_text_invariants" -> ((s, dir) => {
      import graft.spark.catalyst.GraftSparkExtensions
      GraftSparkExtensions.register(s)
      val lang = udf((t: String) => graft.text.TextAnalysis.detectLanguage(t)._1)
      val scoreBp = udf((t: String) =>
        math.round(graft.text.TextAnalysis.quality(t).score * 10000).toInt)
      val known = typedLit(Seq("en", "de", "fr", "es", "und"))
      docs(s, dir).select(
          GraftSparkExtensions.bpeish_token_count(col("text")).as("bpe"),
          GraftSparkExtensions.ws_token_count(col("text")).as("ws"),
          scoreBp(col("text")).as("score_bp"),
          lang(col("text")).as("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("bpe") < col("ws"), 1L).otherwise(0L)).as("n_bpe_lt_ws"),
          sum(when(col("score_bp") < 0 || col("score_bp") > 10000, 1L)
            .otherwise(0L)).as("n_score_oob"),
          sum(when(!array_contains(known, col("lang")), 1L).otherwise(0L))
            .as("n_lang_unknown"))
    }),
    // ===== dedup =========================================================
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactDupGroups(docsWithDups(s, dir))),
    // CONVERSATION-level exact dedup, end-to-end: extract-first pipeline
    // -> ordered reassembly -> md5 group — the composition a training-data
    // pipeline runs to drop duplicated conversations. Deterministic dup
    // injection (orderkey%10==0 conversations appear twice) mirrors the
    // oracle's UNION ALL; the md5 input is the EXTRACTED conversation
    // text, so the oracle checks parse+extract+ordering+dedup together.
    "q_conv_dedup" -> ((s, dir) => {
      val ex = Pipeline.extractOnScanPartitions(Transcripts.derive(s, dir))
      val convs = Pipeline.conversations(ex)
        .select(col("conv_id"), col("conv_text").as("text"))
      // duplicate injection via row replication (explode), NOT a union of
      // the pipeline with itself — extraction must run once
      val dup = convs.select(col("text"), explode(sequence(lit(1),
        when(expr("CAST(substring(conv_id, 6) AS BIGINT) % 10 = 0"), 2)
          .otherwise(1))).as("copy"))
      Dedup.exactDupGroups(dup)
    }),
    "q_neardup_pairs" -> ((s, dir) =>
      Dedup.nearDupPairs(Dedup.withPerturbed(docs(s, dir)), simThreshold = 0.8)
        .select(col("a"), col("b"))),
    // partial oracle for the LSH path (VERDICT r2 item 5): the injected
    // sibling pairs (doc_id, doc_id + 1000000) have word-3-gram Jaccard
    // w-2/(w-1) (w = words per doc), so at threshold 0.5 EVERY sibling
    // must surface — predictable in SQL as exactly one row per document.
    // DATA-DEPENDENCE (ADVICE r3): unlike the scaled-sibling bucket
    // GUARANTEE used by the ANN/IVF/cosine oracles, band recall here is
    // probabilistic — a pair misses only if all 16 four-row bands
    // differ, p = (1 - J^4)^16 <= 4.3e-6 per doc at J >= 6/7, ~2e-3
    // across 500 docs. The guard below derives the preconditions (w >= 8
    // so J >= 6/7, and all texts distinct so canonicalization collapses
    // nothing) at the ACTUAL sf, so a future SF/doc-mix change fails
    // loudly here instead of surfacing as an oracle hash mismatch.
    "q_neardup_siblings" -> ((s, dir) => {
      val g = docs(s, dir).agg(
        min(size(split(col("text"), " "))).as("min_words"),
        count(lit(1)).as("n"),
        countDistinct(col("text")).as("n_distinct")).head()
      require(g.getInt(0) >= 8,
        s"sibling-recall oracle needs >= 8 words/doc (J >= 6/7); min is ${g.getInt(0)}")
      require(g.getLong(1) == g.getLong(2),
        "sibling-recall oracle needs all document texts distinct")
      Dedup.nearDupPairs(Dedup.withPerturbed(docs(s, dir)), simThreshold = 0.5)
        .filter(col("b") === col("a") + lit(1000000L))
        .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
    }),
    "q_ngram_jaccard" -> ((s, dir) =>
      Dedup.exactNgramJaccardPairs(docs(s, dir), threshold = 0.5)),
    // the production tiering: exact n-gram Jaccard verification runs only
    // over LSH candidates (q_ngram_jaccard above is the corpus-wide exact
    // form, affordable only as a small-scale oracle)
    "q_neardup_verified" -> ((s, dir) => {
      val d = Dedup.withPerturbed(docs(s, dir))
      val cand = Dedup.nearDupPairs(d, simThreshold = 0.8).select(col("a"), col("b"))
      Dedup.ngramJaccardPairs(d, cand, threshold = 0.5).select(col("a"), col("b"))
    }),
    // EXACT oracle for the verification tier (VERDICT r4 item 5): the
    // sibling pairs' trigram arithmetic is algebraic — appending ONE
    // unique marker word adds exactly one distinct trigram, so
    // n_inter = |tri(A)| and n_union = |tri(A)| + 1, and DuckDB can
    // replay |tri(A)| by string slicing. Candidates restricted to the
    // injected pairs (b = a + 1e6) because the natural near-verbatim
    // pairs' LSH recall at J in [0.5, 0.8) is probabilistic; the same
    // data-precondition guard as q_neardup_siblings applies.
    "q_neardup_verified_exact" -> ((s, dir) => {
      val g = docs(s, dir).agg(
        min(size(split(col("text"), " "))).as("min_words"),
        count(lit(1)).as("n"),
        countDistinct(col("text")).as("n_distinct")).head()
      require(g.getInt(0) >= 8,
        s"sibling-recall oracle needs >= 8 words/doc (J >= 6/7); min is ${g.getInt(0)}")
      require(g.getLong(1) == g.getLong(2),
        "sibling-recall oracle needs all document texts distinct")
      val d = Dedup.withPerturbed(docs(s, dir))
      val cand = Dedup.nearDupPairs(d, simThreshold = 0.5)
        .filter(col("b") === col("a") + lit(1000000L))
        .select(col("a"), col("b"))
      Dedup.ngramJaccardDetail(d, cand)
        .filter(col("n_inter").cast("double") / col("n_union") >= 0.5)
        .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"),
          col("n_inter"), col("n_union"))
    }),
    // near-dup GROUP resolution (VERDICT r4 item 1): LSH pairs -> exact
    // trigram verify -> connected components -> min-id survivor, over
    // the synthetic chain universe (see chainBase: raw doc texts hold
    // natural near-verbatim pairs that would merge groups
    // unpredictably). Every member's component must be exactly its
    // chain's base doc — the full (member, survivor) map is the oracle.
    "q_neardup_groups" -> ((s, dir) => {
      // base texts are distinct BY CONSTRUCTION (doc_id-salted md5
      // words — see chainBase), so no runtime distinctness job is needed
      val base = chainBase(s, dir)
      // pin the synthesized chain universe once (nearDupGroups consults
      // it in the LSH and verify subtrees — see q_dedup_corpus's note)
      Dedup.nearDupGroups(Dedup.withPerturbedChain(base).localCheckpoint(),
          simThreshold = 0.5)
        .select(col("doc_id").cast("long").as("member"),
          col("survivor").cast("long").as("survivor"))
    }),
    // corpus -> kept docs END TO END (the dedup a user actually runs):
    // exact tier (byte-identical +3e6 copies collapse to the base id)
    // then near-dup tier (chains collapse to the base doc). The kept
    // set is exactly the base universe, text included.
    "q_dedup_corpus" -> ((s, dir) => {
      // base texts are distinct BY CONSTRUCTION (doc_id-salted md5
      // words — see chainBase), so no runtime distinctness job is needed
      val base = chainBase(s, dir)
      val chained = Dedup.withPerturbedChain(base)
      val withExact = chained.unionByName(base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(3000000L)).as("doc_id"), col("text")))
        // dedupedCorpus consults its corpus in four subtrees (exact-tier
        // hashes, LSH signatures, trigram verify, final anti-join); its
        // contract is a STORED corpus, where each consult is a pruned
        // scan — but this universe is synthesized (16 md5s/doc), so
        // each subtree would re-run the synthesis. Pin it once, as a
        // stored corpus would be (build+run 6.6 -> 4.0 s at sf0.1;
        // BENCH/BASELINE.md "q_dedup_corpus / q_neardup_groups: pin the
        // synthesized universe"; same materialize-the-derived-input call
        // as q_curation_pipeline's scored corpus).
        .localCheckpoint()
      Dedup.dedupedCorpus(withExact, simThreshold = 0.5)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    }),
    // corpus -> kept docs with the BEST-SCORE survivor policy (score =
    // doc_id % 7): same chain + byte-twin universe as q_dedup_corpus,
    // but the election is argmax score, ties to min id. Chain member
    // offsets {0,1,2} (and the twin's 3) are distinct mod 7, so every
    // election is tie-free and the survivor — exact tier first, then
    // the component vote among {exact winner, +1e6, +2e6} — collapses
    // to pure CASE arithmetic the oracle replays, INCLUDING the
    // survivor's text (base md5 words + the deterministic marker
    // suffix of whichever member won).
    "q_dedup_corpus_best" -> ((s, dir) => {
      val base = chainBase(s, dir)
      val chained = Dedup.withPerturbedChain(base)
      val withExact = chained.unionByName(base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(3000000L)).as("doc_id"), col("text")))
        .localCheckpoint() // pin the synthesized universe (q_dedup_corpus's note)
      Dedup.dedupedCorpusBy(withExact, col("doc_id") % 7, simThreshold = 0.5)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    }),
    "q_simhash" -> ((s, dir) =>
      Dedup.simhashTable(docs(s, dir))),
    // partial oracle for simhash (VERDICT r2 item 5): byte-identical
    // texts MUST get identical simhash through the whole distributed
    // path (catches per-partition nondeterminism — e.g. a seed or
    // charset drifting with the executor); run over the dup-injected
    // corpus so every %10 group genuinely exercises the cross-row claim
    "q_simhash_consistency" -> ((s, dir) => {
      import graft.spark.catalyst.GraftSparkExtensions
      GraftSparkExtensions.register(s)
      docsWithDups(s, dir).select(md5(col("text")).as("text_hash"),
          GraftSparkExtensions.simhash64(coalesce(col("text"), lit(""))).as("simhash"))
        .groupBy(col("text_hash"))
        .agg(countDistinct(col("simhash")).as("n_sh"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("n_sh") > 1, 1L).otherwise(0L)).as("n_inconsistent"))
    }),
    "q_fingerprints" -> ((s, dir) =>
      Dedup.fingerprintTable(docs(s, dir))),
    // the contamination-check composition (VERDICT r3 item 2) — the
    // flagship consumer of fingerprintTable: corpus fingerprints x a
    // test set holding planted verbatim copies of every %10 doc
    // (test_id = doc_id + 5000000) plus clean synthetic docs
    // (md5-hex text, test_id = doc_id + 6000000) that share no content.
    // A byte-identical copy reproduces its source's exact winnowing
    // fingerprint set, so every planted test doc is flagged (full
    // containment in its source at minimum) and no clean doc ever is —
    // the contaminated TEST-ID SET is SQL-predictable. (The per-pair
    // table additionally surfaces natural near-verbatim inclusions the
    // synthetic corpus contains, e.g. doc 0 ⊂ doc 50 — genuine
    // containments cross-checked fingerprint-by-fingerprint in
    // DedupSpec, but not SQL-derivable, so the driver query projects
    // the real-world deliverable: which test docs must be dropped.)
    "q_contamination" -> ((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val planted = corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(5000000L)).as("doc_id"), col("text"))
      // negative path: a 10% slice suffices (the full corpus md5-ified
      // tripled the fingerprint join volume for no extra coverage)
      val clean = corpus.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + lit(6000000L)).as("doc_id"),
          concat_ws(" ", md5(col("text")),
            md5(concat(col("text"), lit("x")))).as("text"))
      Dedup.contamination(corpus, planted.unionByName(clean))
        .select(col("test_id").cast("long").as("test_id")).distinct()
    }),
    // the PRODUCTION shape of the same check (ROADMAP r4): the corpus
    // fingerprint index is built ONCE (bucketed on the fingerprint) and
    // each test-set release probes it — no corpus re-scan, no corpus
    // winnow, no corpus-side shuffle (DedupSpec plan-gates all three).
    // Shares q_contamination's exact oracle.
    "q_contamination_indexed" -> ((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val planted = corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(5000000L)).as("doc_id"), col("text"))
      val clean = corpus.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + lit(6000000L)).as("doc_id"),
          concat_ws(" ", md5(col("text")),
            md5(concat(col("text"), lit("x")))).as("text"))
      Dedup.writeFingerprintIndex(corpus, "graft_contam_idx")
      Dedup.contaminationAgainstIndex(s, "graft_contam_idx",
          planted.unionByName(clean))
        .select(col("test_id").cast("long").as("test_id")).distinct()
    }),
    // PARTIAL-INCLUSION contamination (VERDICT r4 item 2): the realistic
    // leakage regime — a quoted fragment, not a whole-doc copy. Planted
    // test docs carry the first 3/5 (by words) of each %10 corpus doc
    // plus one synthetic md5 tail word; clean docs are pure md5 noise.
    // Ratio algebra (winnow k=8, w=4, density ~2/(w+1)): the copied
    // prefix region is selected IDENTICALLY in test doc and source
    // (windows align at offset 0; only the <= w-1 junction windows can
    // differ), so the matched share tracks the copied char fraction —
    // >= ~0.45 for the worst 10-word doc (33-char md5 tail), ~0.7
    // typical, while clean docs' random-hex fingerprints match ~0 —
    // minRatio 0.3 sits in the gap with >= 1.5x margin on both sides.
    // Flagged TEST-ID SET is SQL-predictable; the per-pair rows also
    // surface natural inclusions, so project the deliverable.
    "q_contamination_partial" -> ((s, dir) => {
      // Ratio-algebra precondition (>= 10 words/doc) enforced scan-side
      // (assert_true per row, no extra driver job — guardMaxWords
      // pattern). Duplicate corpus texts (sf0.1 has 8/5000) do NOT need
      // a guard: the oracle is the flagged test-id SET, and a planted
      // doc is flagged by its own source whether or not copies of that
      // source exist, while clean md5-noise docs match nothing either
      // way — so the set is invariant to corpus-text duplication.
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
        .filter(assert_true(Chunking.wordCount(col("text")) >= 10,
          lit("partial-inclusion oracle needs >= 10 words/doc")).isNull)
      val w = split(col("text"), " ")
      val prefixWords = floor(size(w) * lit(3) / lit(5)).cast("int")
      val planted = corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(7000000L)).as("doc_id"),
          concat_ws(" ", array_join(slice(w, lit(1), prefixWords), " "),
            md5(col("text"))).as("text"))
      val clean = corpus.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + lit(8000000L)).as("doc_id"),
          concat_ws(" ", md5(col("text")),
            md5(concat(col("text"), lit("x")))).as("text"))
      Dedup.contaminationPartial(corpus, planted.unionByName(clean),
          minRatio = 0.3)
        .select(col("test_id").cast("long").as("test_id")).distinct()
    }),
    // partial oracle for the native winnowing Generator (same pattern as
    // q_simhash_consistency): byte-identical texts must produce the
    // identical fingerprint sequence wherever they execute — doc copies
    // under shifted ids land on different partitions, and their
    // order-sensitive fingerprint-sequence hashes must still agree
    "q_fingerprint_consistency" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val dup = d.unionByName(d.select((col("doc_id") + lit(1000000L)).as("doc_id"),
        col("text")))
      Dedup.fingerprintTable(dup)
        .groupBy(col("doc_id"))
        .agg(xxhash64(array_sort(collect_list(col("fingerprint")))).as("sig"))
        .groupBy(pmod(col("doc_id"), lit(1000000L)).as("base_id"))
        .agg(countDistinct(col("sig")).as("n_sig"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_sig") > 1, 1L).otherwise(0L)).as("n_inconsistent"))
    }),
    // ===== corpus quality / selection over documents ======================
    // Gopher-style repetition stats: exact integer byte counts (UTF-8),
    // shuffle-free higher-order-function projection; top-2-gram counts
    // only grams occurring >= 2 times (count ties -> lexicographically
    // smallest gram, matching the oracle's ORDER BY c DESC, g ASC pick).
    // guardMaxWords: the oracle's gram explode joins generate_series(1,
    // 4096), covering texts <= 4097 words.
    "q_repetition" -> ((s, dir) =>
      Filtering.repetitionStats(guardMaxWords(docs(s, dir), "text", 4097))
        .select(col("doc_id"), col("n_words"), col("top2_chars"), col("dup3_chars"))),
    // the filter itself: keep iff both repetition byte-fractions are at
    // or below 20% (basis points, integer cross-multiplication)
    "q_gopher_filter" -> ((s, dir) =>
      Filtering.gopherRepetitionFilter(guardMaxWords(docs(s, dir), "text", 4097))
        .select(col("doc_id"), col("keep"))),
    // C4-style line-level cleaning over a PLANTED line structure (the
    // natural docs are single-line, unpunctuated word streams): each
    // doc's words regroup into 7-word lines whose terminal punctuation
    // cycles . ! ? <none> on (doc_id + line) % 4 — so ~1/4 of lines fail
    // the punctuation rule and the (usually short) last line fails the
    // >=5-words rule; every doc gets a 2-word 'too short.' line,
    // doc_id%5==0 docs a javascript boilerplate line (line-rule c),
    // doc_id%11==0 a lorem-ipsum line (page rule), doc_id%13==0 a
    // {-brace code line (page rule). Oracle replays construction + every
    // rule in list arithmetic — clean_text is hash-checked byte-exact.
    "q_line_clean" -> ((s, dir) => {
      val structured = docs(s, dir).select(col("doc_id"), expr(
        """element_at(transform(array(split(text, ' ')), __ws -> concat(
          | array_join(transform(sequence(0, (size(__ws) + 6) div 7 - 1),
          |   i -> concat(array_join(slice(__ws, CAST(i*7+1 AS INT), 7), ' '),
          |     element_at(array('.','!','?',''), CAST((doc_id + i) % 4 AS INT) + 1))),
          |  chr(10)),
          | CASE WHEN doc_id % 5 = 0
          |   THEN concat(chr(10), 'enable javascript in your browser settings.')
          |   ELSE '' END,
          | concat(chr(10), 'too short.'),
          | CASE WHEN doc_id % 11 = 0
          |   THEN concat(chr(10), 'this page uses lorem ipsum filler text.')
          |   ELSE '' END,
          | CASE WHEN doc_id % 13 = 0
          |   THEN concat(chr(10), 'see { code } sample block here now.')
          |   ELSE '' END)), 1)""".stripMargin.replace("\n", " ")).as("text"))
      Filtering.c4LineClean(structured)
        .select(col("doc_id"), col("clean_text"), col("n_lines"),
          col("n_kept"), col("keep"))
    }),
    // WITHIN-doc line dedup over a planted line structure: 5-word
    // lines; doc_id%7==0 docs carry their whole text TWICE (every line
    // duplicated, first copies survive in order), doc_id%2==0 docs
    // re-append their first line (a late duplicate of an early line).
    // Oracle replays the construction + the first-occurrence rule with
    // DuckDB's 1-based indexed list_filter.
    "q_line_dedup" -> ((s, dir) => {
      val structured = docs(s, dir).select(col("doc_id"), expr(
        """element_at(transform(array(split(text, ' ')), __ws ->
          | element_at(transform(array(
          |   array_join(transform(sequence(0, (size(__ws) + 4) div 5 - 1),
          |     i -> array_join(slice(__ws, CAST(i*5+1 AS INT), 5), ' ')), chr(10))),
          |  __s -> concat(
          |   CASE WHEN doc_id % 7 = 0 THEN concat(__s, chr(10), __s) ELSE __s END,
          |   CASE WHEN doc_id % 2 = 0
          |     THEN concat(chr(10), element_at(split(__s, chr(10)), 1))
          |     ELSE '' END)), 1)), 1)""".stripMargin.replace("\n", " ")).as("text"))
      Filtering.dedupLinesInDoc(structured)
        .select(col("doc_id"), col("clean_text"), col("n_lines"), col("n_kept"))
    }),
    // the LINE layer composed with the quality layer: c4LineClean ->
    // page filter -> dedupLinesInDoc -> Gopher repetition filter over
    // the flattened clean text, ONE oracle replaying all four stages.
    // Plant: 7-word '.'-terminated lines; %3 docs re-append line 0 (the
    // dedup stage's work), %5 a javascript line (c4 drop), every doc a
    // 'too short.' line (min-words drop), %11 a lorem line (page drop).
    // 417/500 docs survive at sf0.001 — every stage bites.
    "q_line_pipeline" -> ((s, dir) => {
      val structured = docs(s, dir).select(col("doc_id"), expr(
        """element_at(transform(array(split(text, ' ')), __ws ->
          | element_at(transform(array(
          |   array_join(transform(sequence(0, (size(__ws) + 6) div 7 - 1),
          |     i -> concat(array_join(slice(__ws, CAST(i*7+1 AS INT), 7), ' '), '.')),
          |    chr(10))),
          |  __s -> concat(__s,
          |   CASE WHEN doc_id % 3 = 0
          |     THEN concat(chr(10), element_at(split(__s, chr(10)), 1)) ELSE '' END,
          |   CASE WHEN doc_id % 5 = 0
          |     THEN concat(chr(10), 'enable javascript in your browser settings.')
          |     ELSE '' END,
          |   concat(chr(10), 'too short.'),
          |   CASE WHEN doc_id % 11 = 0
          |     THEN concat(chr(10), 'this page uses lorem ipsum filler text.')
          |     ELSE '' END)), 1)), 1)""".stripMargin.replace("\n", " ")).as("text"))
      val pageKept = Filtering.c4LineClean(structured)
        .filter(col("keep")).select(col("doc_id"), col("clean_text").as("text"))
      val deduped = Filtering.dedupLinesInDoc(pageKept)
        .select(col("doc_id"),
          translate(col("clean_text"), "\n", " ").as("text"))
      Filtering.gopherRepetitionFilter(guardMaxWords(deduped, "text", 4097))
        .filter(col("keep"))
        .select(col("doc_id"), col("text"))
    }),
    // vocabulary induction: top-16 words by exact corpus frequency,
    // ties to the lexicographically smaller word — the deterministic
    // seed step of a tokenizer build. 16 < the corpus's 31 distinct
    // words, so the cut is exercised.
    "q_vocab" -> ((s, dir) =>
      graft.spark.Vocab.topK(docs(s, dir), 16)),
    // per-doc OOV coverage against that induced vocabulary: one
    // broadcast join + partial agg; every doc_id present exactly once
    "q_oov" -> ((s, dir) =>
      graft.spark.Vocab.oovStats(docs(s, dir),
        graft.spark.Vocab.topK(docs(s, dir), 16))),
    // BPE tokenizer training (Sennrich 2016): 12 merge rules learned
    // from exact corpus pair frequencies, ties to the lexicographically
    // smaller pair. The bar-wrapped segmentation makes each merge ONE
    // literal replace that replays verbatim in DuckDB, so the whole
    // training loop is exactly oracle-checked (12 covers both
    // single-char and compound merges on this corpus, e.g. p+ar)
    // (r6: learnLocal — merge-for-merge equivalent to learn, BpeSpec-
    // gated; ONE distributed job instead of K sequential aggregations,
    // and this corpus's ~31-word vocabulary is far under maxTypes)
    "q_bpe_merges" -> ((s, dir) => graft.spark.Bpe.learnLocal(docs(s, dir), bpeMerges)),
    // apply the learned merges: per-doc (n_words, n_tokens) — the
    // token-budget numbers chunk/pack sizing consumes. The merge table
    // is a driver artifact (like the IVF centroids); encode itself is
    // one shuffle-free projection
    "q_bpe_encode" -> ((s, dir) => {
      val m = graft.spark.Bpe.learnLocal(docs(s, dir), bpeMerges)
        .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
      graft.spark.Bpe.encode(docs(s, dir), m)
    }),
    // tokenizer-aware packing: the q_packed walk re-weighted by LEARNED
    // BPE token counts instead of whitespace counts — the budget a real
    // trainer packs by. Chunk layout unchanged (16/4 words); only the
    // packing weight moves. Capacity 112 exercises variety at the
    // measured chunk-size distribution (12-72 BPE tokens, mean 52):
    // some pairs co-pack, large chunks ride alone
    "q_packed_bpe" -> ((s, dir) => {
      val m = graft.spark.Bpe.learnLocal(docs(s, dir), bpeMerges)
        .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
      val chunks = Chunking.chunk(guardMaxWords(docs(s, dir), "text", 772),
        maxTokens = 16, overlap = 4)
        .withColumn("n_tokens", graft.spark.Bpe.tokenCountLocal(col("chunk_text"), m))
      Packing.packNextFit(chunks, capacity = 112, shard = col("doc_id"))
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
          col("seq_idx"), col("seq_pos"))
    }),
    // the modern-pretraining closing composition: DSIR target-domain
    // selection -> chunk -> LEARNED-tokenizer token counts -> next-fit
    // pack, ONE exact oracle end-to-end (the tokenizer is trained on
    // the FULL corpus before selection — the usual order when the
    // tokenizer predates the data mix). Scale shape: score+resample =
    // one broadcast-join pass + (doc_id, longs) exchange, semi-join
    // back to the corpus scan, chunk+count shuffle-free, ONE packing
    // exchange
    "q_dsir_pipeline" -> ((s, dir) => {
      val d = guardMaxWords(docs(s, dir), "text", 100)
      val scored = graft.spark.Dsir.score(d,
        graft.spark.Dsir.featureModel(d, col("lang") === "en"),
        minCentibits = -110)
      val sampled = graft.spark.Dsir.resample(scored,
        Seq(-105 -> 65536, -110 -> 32768, -115 -> 16384), floorRate = 8192)
        .select(col("doc_id"))
      val m = graft.spark.Bpe.learnLocal(docs(s, dir), bpeMerges)
        .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
      val kept = docs(s, dir).join(sampled, Seq("doc_id"), "left_semi")
      val chunks = Chunking.chunk(guardMaxWords(kept, "text", 772),
        maxTokens = 16, overlap = 4)
        .withColumn("n_tokens", graft.spark.Bpe.tokenCountLocal(col("chunk_text"), m))
      Packing.packNextFit(chunks, capacity = 112, shard = col("doc_id"))
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
          col("seq_idx"), col("seq_pos"))
    }),
    // DSIR importance scoring (Xie 2023) against the lang='en' target
    // slice: hashed unigram+bigram buckets, bit-bucket-quantized log
    // ratios (floor-log2, engine-exact), OOV-bucket penalty 20 bits.
    // minCentibits=-110 sits inside the measured mean-score range
    // (en -106, others -112..-115 cb/feature at sf0.01) so keep is a
    // non-trivial split. guardMaxWords: the oracle's bigram explode is
    // capped at generate_series(1, 99) — 100 words max, fail-loud
    "q_dsir" -> ((s, dir) => {
      val d = guardMaxWords(docs(s, dir), "text", 100)
      graft.spark.Dsir.score(d,
        graft.spark.Dsir.featureModel(d, col("lang") === "en"),
        minCentibits = -110)
    }),
    // the resampling step: md5-coin Bernoulli with mean-score-banded
    // keep rates (full / 50% / 25% / 12.5%) — quantized importance
    // weights; at sf0.01 this enriches the en share from 44% to 65%
    "q_dsir_sample" -> ((s, dir) => {
      val d = guardMaxWords(docs(s, dir), "text", 100)
      val scored = graft.spark.Dsir.score(d,
        graft.spark.Dsir.featureModel(d, col("lang") === "en"),
        minCentibits = -110)
      graft.spark.Dsir.resample(scored,
        Seq(-105 -> 65536, -110 -> 32768, -115 -> 16384), floorRate = 8192)
        .select(col("doc_id"))
    }),
    // deterministic Bernoulli sampling at 19661/65536 ~ 30%: the 4-hex
    // md5 prefix comparison replays verbatim in ANSI SQL
    "q_hash_sample" -> ((s, dir) =>
      Filtering.hashSample(docs(s, dir), col("doc_id"), 19661, salt = "graft")
        .select(col("doc_id"))),
    // stratified: per-language keep rates (en 50%, zh 10%, rest 20%) as
    // a broadcast rates table
    "q_hash_sample_stratified" -> ((s, dir) =>
      Filtering.hashSampleStratified(docs(s, dir), col("doc_id"), col("lang"),
        Map("en" -> 32768, "de" -> 13107, "fr" -> 13107, "es" -> 13107,
          "zh" -> 6554), salt = "graft")
        .select(col("doc_id"), col("lang"))),
    // global token-budget selection: best docs by a synthetic (but
    // data-derived, SQL-exact) score until 8000 tokens — the histogram
    // two-pass plan, checked against the oracle's global window replay
    "q_budget_select" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        (octet_length(col("text")) % 997).cast("int").as("score"),
        (lit(1) + octet_length(col("text"))
          - octet_length(translate(col("text"), " ", ""))).cast("int").as("tok"))
      Filtering.selectToBudget(d, col("score"), col("tok"), col("doc_id"), 8000L)
    }),
    // PII redaction over documents with deterministic injection
    // (doc_id%7==0 docs get an email + IP + digit run appended; the
    // oracle mirrors the injection) — counts taken pre-masking
    "q_redact_pii" -> ((s, dir) => {
      val injected = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".1 ref 4921")))
          .otherwise(col("text")).as("text"))
      Filtering.redactPii(injected)
        .select(col("doc_id"), col("text"), col("n_emails"), col("n_ips"),
          col("n_nums"))
    }),
    // incremental exact dedup: corpus (doc_id%3!=0) is indexed ONCE as
    // bucketed md5 hashes; the batch (doc_id%2==0) anti-joins against
    // the index — new-to-the-corpus texts only, min-id survivor within
    // the batch (DedupSpec plan-gates the bucketed no-shuffle read)
    "q_incremental_dedup" -> ((s, dir) => {
      val corpus = docs(s, dir).filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), col("text"))
      Dedup.writeHashIndex(corpus, "graft_dedup_idx", nBuckets = 16)
      val batch = docs(s, dir).filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"))
      Dedup.newAgainstIndex(s, "graft_dedup_idx", batch)
        .select(col("doc_id"), col("text_hash"))
    }),
    // incremental NEAR-dup: a new batch probed against the persisted
    // LSH band index (hashes+ids only, no text), candidates verified by
    // the exact trigram tier over just the candidate docs — the
    // near-dup ingestion loop closed like q_incremental_dedup closes
    // the exact one. Batch = planted siblings of every %10 doc (one
    // appended marker word => trigram J = n/(n+1) >= 6/7 vs the source,
    // LSH-findable at threshold 0.5 — same derived preconditions as
    // q_neardup_siblings) + clean synthetic docs (md5-hex words, zero
    // shared trigrams => the verify tier kills any band collision).
    // Projecting DISTINCT flagged batch ids insulates the oracle from
    // the corpus's natural near-verbatim pairs (a sibling may ALSO
    // match other docs; it is flagged either way).
    "q_incremental_neardup" -> ((s, dir) => {
      val g = docs(s, dir).agg(
        min(size(split(col("text"), " "))).as("min_words"),
        count(lit(1)).as("n"),
        countDistinct(col("text")).as("n_distinct")).head()
      require(g.getInt(0) >= 8,
        s"sibling-recall oracle needs >= 8 words/doc (J >= 6/7); min is ${g.getInt(0)}")
      require(g.getLong(1) == g.getLong(2),
        "sibling-recall oracle needs all document texts distinct")
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      Dedup.writeBandIndex(corpus, "graft_band_idx", nBuckets = 16)
      val sib = corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(7000000L)).as("doc_id"),
          concat(col("text"), lit(" zzincrementalmarker")).as("text"))
      val clean = corpus.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + lit(8000000L)).as("doc_id"),
          concat_ws(" ", md5(col("text")),
            md5(concat(col("text"), lit("x"))),
            md5(concat(col("text"), lit("y")))).as("text"))
      val batch = sib.unionByName(clean)
      val cand = Dedup.newNearDupCandidates(s, "graft_band_idx", batch)
        .select(col("batch_id").as("a"), col("doc_id").as("b"))
      Dedup.ngramJaccardPairs(corpus.unionByName(batch), cand, threshold = 0.5)
        .select(col("a").cast("long").as("batch_id")).distinct()
    }),
    // deterministic train/val/test split: consecutive ranges of the same
    // 65536 md5 buckets hashSample uses (90/5/5), so splits are disjoint
    // by construction and stable under re-runs/engines/cluster sizes
    "q_split_assign" -> ((s, dir) =>
      Filtering.assignSplit(docs(s, dir), col("doc_id"),
          Seq("train" -> 58982, "val" -> 3277, "test" -> 3277), salt = "graft")
        .select(col("doc_id"), col("split"))),
    // THE END-TO-END CURATION COMPOSITION: redact PII -> Gopher
    // repetition filter -> exact dedup (min-id survivor) -> deterministic
    // 70% sample -> global token-budget selection -> train/val/test
    // split, in ONE query with ONE exact oracle replaying every stage.
    // This is the corpus-side sibling of q_training_pipeline (which
    // covers the transcript side: parse->extract->chunk->pack).
    // The accepted+scored corpus is MATERIALIZED to parquet before
    // budget selection — selectToBudget's plan traverses its input
    // three times (score histogram, full buckets, boundary window), and
    // re-running the filter chain 3x is exactly what a production
    // pipeline's stage checkpoint avoids (measured 3.96 -> 2.11 s at
    // sf0.1; at 100 TB the re-run is the whole corpus scan).
    "q_curation_pipeline" -> ((s, dir) => {
      val red = Filtering.redactPii(docs(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("text"))
      val kept = Filtering.gopherRepetitionFilter(guardMaxWords(red, "text", 4097))
        .filter(col("keep")).select(col("doc_id"), col("text"))
      val deduped = kept.groupBy(md5(col("text")).as("h"))
        .agg(min_by(struct(col("doc_id"), col("text")), col("doc_id")).as("w"))
        .select(col("w.doc_id").as("doc_id"), col("w.text").as("text"))
      val sampled = Filtering.hashSample(deduped, col("doc_id"), 45875, salt = "graft")
      val scored = sampled.select(col("doc_id"),
        (octet_length(col("text")) % 997).cast("int").as("score"),
        (lit(1) + octet_length(col("text"))
          - octet_length(translate(col("text"), " ", ""))).cast("int").as("tok"))
      val work = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("/tmp"), "graft-curation").toString
      scored.write.mode("overwrite").parquet(s"$work/scored")
      deleteOnExitTree(work)
      val scoredM = s.read.parquet(s"$work/scored")
      val selected = Filtering.selectToBudget(scoredM, col("score"), col("tok"),
        col("doc_id"), 6000L)
      Filtering.assignSplit(selected, col("doc_id"),
          Seq("train" -> 58982, "val" -> 3277, "test" -> 3277), salt = "split")
        .select(col("doc_id"), col("score"), col("tok"), col("split"))
    }),
    // THE FULL MODERN CURATION CHAIN (v2 — FineWeb-shaped): the v1
    // composition with the round-5 quality tiers spliced in where a
    // production pipeline runs them — redact -> Gopher repetition
    // filter -> LM surprisal filter (model trained on the
    // gopher-surviving en slice: the clean in-domain reference) ->
    // exact dedup (min-id survivor) -> exact-SUBSTRING span dedup (the
    // corpus-wide cut, so downstream token counts see the deduped
    // text) -> deterministic 70% sample -> token-budget selection over
    // the CUT text -> train/val/test split. ONE exact oracle replays
    // all eight stages. The cut corpus is materialized before budget
    // selection (same stage-checkpoint rationale as v1: selectToBudget
    // traverses its input three times, and re-running the whole filter
    // + dedup chain 3x is what a production checkpoint avoids).
    // The natural corpus's duplicated 8-grams all live in byte-identical
    // whole-doc copies, which the EXACT tier removes first — the
    // substring stage would be vacuous. So the corpus gets a planted
    // cross-doc boilerplate SUFFIX (10 distinct words on doc_id%7==0
    // docs, the q_paragraph_dedup plant pattern): exact dedup cannot
    // touch it (base texts differ), and the substring tier must cut it
    // from every carrier but the winner — n_spans lands in the output,
    // so the driver check proves the stage did real work.
    "q_curation_pipeline_v2" -> ((s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"), col("lang"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" shared boiler plate sentence appended to exercise span level dedup")))
          .otherwise(col("text")).as("text"))
      val red = Filtering.redactPii(planted)
        .select(col("doc_id"), col("lang"), col("text"))
      // pin the gopher-survivor stage ONCE: it has four declarative
      // consumers (model training, scoring explode, scoring re-attach,
      // text re-join), and each would replay redact+gopher — the
      // q_dedup_corpus multi-consumer lesson (measured here: 10.37 ->
      // 5.89 s at sf0.1 for the two pins together, clean windows)
      val gkept = Filtering.gopherRepetitionFilter(guardMaxWords(red, "text", 110))
        .filter(col("keep")).select(col("doc_id"), col("lang"), col("text"))
        .localCheckpoint(true)
      val model = LmScore.trainBigramModel(
        gkept.filter(col("lang") === "en"), minCount = 2)
      val lmkept = LmScore.scoreAgainstModel(gkept, model)
        .filter(col("keep")).select(col("doc_id"))
        .join(gkept.select(col("doc_id"), col("text")), Seq("doc_id"))
      // same again for the exact-dedup survivors: the substring tier
      // consumes them three times (two gram explodes + the cut join).
      // (r6: a broadcast-semi-join restructure of this election —
      // min(doc_id) per hash + text re-attach from the pinned gkept —
      // measured NO better under A/B at sf0.1: the extra broadcast
      // builds and gkept re-scans cancel the narrower exchange at this
      // corpus width, so the one-pass min_by stands.)
      val deduped = lmkept.groupBy(md5(col("text")).as("h"))
        .agg(min_by(struct(col("doc_id"), col("text")), col("doc_id")).as("w"))
        .select(col("w.doc_id").as("doc_id"), col("w.text").as("text"))
        .localCheckpoint(true)
      val cut = SubstringDedup.exactSubstringDedup(deduped, n = 8)
        .select(col("doc_id"), col("text"), col("n_spans"))
      val work = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("/tmp"), "graft-curation2").toString
      cut.write.mode("overwrite").parquet(s"$work/cut")
      deleteOnExitTree(work)
      val cutM = s.read.parquet(s"$work/cut")
      val sampled = Filtering.hashSample(cutM, col("doc_id"), 45875, salt = "graft")
      val scored = sampled.select(col("doc_id"), col("n_spans"),
        (octet_length(col("text")) % 997).cast("int").as("score"),
        (lit(1) + octet_length(col("text"))
          - octet_length(translate(col("text"), " ", ""))).cast("int").as("tok"))
      val selected = Filtering.selectToBudget(scored, col("score"), col("tok"),
        col("doc_id"), 6000L)
      Filtering.assignSplit(selected, col("doc_id"),
          Seq("train" -> 58982, "val" -> 3277, "test" -> 3277), salt = "split")
        .select(col("doc_id"), col("score"), col("tok"), col("n_spans"), col("split"))
    }),
    // decontamination as a corpus TRANSFORM (flag -> drop). The drop set
    // must be SQL-predictable on the DOC side, and the driver corpus's
    // tiny vocabulary makes natural full-containment real (measured: 6
    // extra drops at sf0.001 — short docs' whole fingerprint sets occur
    // in other docs by chance), so this query uses the same planted-
    // universe trick as q_dedup_corpus: each doc's text is 20 words
    // unique to it by construction (md5(doc_id:j)), cross-doc
    // fingerprint sharing is impossible, test set = verbatim copies of
    // doc_id%10==0 docs + disjoint-salt noise docs => dropped docs ==
    // exactly the %10==0 sources
    "q_decontaminated" -> ((s, dir) => {
      val mkText = (salt: String, n: Int) => array_join(
        transform(sequence(lit(1), lit(n)),
          j => md5(concat(lit(salt), col("doc_id"), lit(":"), j))), " ")
      val corpus = docs(s, dir).select(col("doc_id"), mkText("", 20).as("text"))
      val planted = corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(5000000L)).as("doc_id"), col("text"))
      // noise docs need only be disjoint from the corpus universe — 2
      // words suffice and keep the test-set winnow proportionate to
      // q_contamination's noise shape
      val clean = docs(s, dir).filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + lit(6000000L)).as("doc_id"), mkText("x", 2).as("text"))
      Dedup.decontaminatedCorpus(corpus, planted.unionByName(clean))
        .select(col("doc_id"), col("text"))
    }),
    // GPT-3-style exact n-gram overlap decontamination (Brown et al.
    // 2020 App. C: drop a training doc sharing ANY 13-gram with an eval
    // example). Unlike the winnowing tiers this criterion is exactly
    // SQL-expressible over NATURAL text — no planted universe: the test
    // set is verbatim copies of the %10 docs (every >=13-word source
    // must be flagged, and any OTHER doc sharing one of their 13-grams
    // is too — the oracle recomputes the grams, so natural cross-matches
    // replay exactly) plus 2-word noise docs that contribute no grams
    // (the short-test-doc path). Sources under 13 words have no grams
    // and are correctly KEPT by both engines.
    "q_ngram_decontaminated" -> ((s, dir) => {
      val corpus = guardMaxWords(docs(s, dir), "text", 100)
        .select(col("doc_id"), col("text"))
      val tests = corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(5000000L)).as("test_id"), col("text"))
        .unionByName(docs(s, dir).filter(col("doc_id") % 10 === 5)
          .select((col("doc_id") + lit(6000000L)).as("test_id"),
            concat_ws(" ",
              md5(concat(lit("x"), col("doc_id"), lit(":1"))),
              md5(concat(lit("x"), col("doc_id"), lit(":2")))).as("text")))
      Dedup.ngramDecontaminatedCorpus(corpus, tests, n = 13)
        .select(col("doc_id"), col("text"))
    }),
    // cross-doc duplicate-13-gram stats (the RefinedWeb "duplicate
    // n-gram fraction" signal): natural byte-identical twins make every
    // gram of a twinned doc cross-doc, and a planted 15-md5-word
    // boilerplate suffix on doc_id%7==0 docs adds exactly 3 shared
    // grams per planted doc (only grams fully inside the suffix repeat
    // — straddling grams carry doc-specific prefixes), so the signal
    // takes fractional values, not just 0/all. 100 natural words + 15
    // suffix = 115 <= the oracle's generate_series(0, 102) bound.
    "q_dup_gram_stats" -> ((s, dir) => {
      val bp = concat_ws(" ", (1 to 15).map(k => md5(lit("bp#" + k))): _*)
      val corpus = guardMaxWords(docs(s, dir), "text", 100)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" "), bp))
            .otherwise(col("text")).as("text"))
      Dedup.crossDocDupGrams(corpus, n = 13)
    }),
    // SPLIT self-decontamination: after assignSplit carves train/val/
    // test from one corpus, drop every TRAIN doc sharing a 13-gram with
    // any held-out (val/test) doc — the hygiene step that makes a
    // held-out split actually held out (the natural corpus has
    // byte-identical twins under different doc_ids, so real cross-split
    // leaks exist: 9 of 457 train docs at sf0.001). Pure composition of
    // assignSplit + ngramDecontaminatedCorpus; NATURAL text, full
    // 13-gram replay oracle.
    "q_split_decontam" -> ((s, dir) => {
      val d = guardMaxWords(docs(s, dir), "text", 100)
        .select(col("doc_id"), col("text"))
      val sp = Filtering.assignSplit(d, col("doc_id"),
        Seq("train" -> 58982, "val" -> 3277, "test" -> 3277), salt = "graft")
      val train = sp.filter(col("split") === "train")
        .select(col("doc_id"), col("text"))
      val held = sp.filter(col("split") =!= "train")
        .select(col("doc_id").as("test_id"), col("text"))
      Dedup.ngramDecontaminatedCorpus(train, held, n = 13)
        .select(col("doc_id"), col("text"))
    }),
    // sequence-level decontamination: the REAL contamination operator
    // (winnowing fingerprints, full containment) finds the contaminated
    // corpus docs, and the provenance traceback locates every PACKED
    // sequence that carries their chunks — the artifact a re-pack must
    // rebuild. Planted-universe corpus (doc-side verdicts must be
    // SQL-predictable: natural containments exist on real text), so
    // contaminated == doc_id%10==0 sources and every doc has exactly
    // 20 words => chunks (16, 8) — the whole composition collapses to
    // the cross-doc walk filtered to %10==0 in the oracle.
    "q_contaminated_sequences" -> ((s, dir) => {
      val mkText = (salt: String, n: Int) => array_join(
        transform(sequence(lit(1), lit(n)),
          j => md5(concat(lit(salt), col("doc_id"), lit(":"), j))), " ")
      val corpus = docs(s, dir).select(col("doc_id"), mkText("", 20).as("text"))
      val planted = corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(5000000L)).as("doc_id"), col("text"))
      val clean = docs(s, dir).filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + lit(6000000L)).as("doc_id"), mkText("x", 2).as("text"))
      val contaminated = Dedup.contamination(corpus, planted.unionByName(clean))
        .select(col("doc_id"))
      // counts-only chunker: the traceback reads ids/sizes, never text
      val chunks = Chunking.chunkCounts(corpus, maxTokens = 16, overlap = 4)
      val asg = Packing.packNextFit(chunks, capacity = 48,
        shard = pmod(col("doc_id"), lit(8)))
      Packing.affectedSequencesByDocs(asg, contaminated)
    }),
    // per-domain token-budget selection (mixture curation): each lang
    // keeps its best-scored prefix up to its own budget; the histogram
    // plan must reproduce the per-domain global running-sum rule
    "q_budget_mixture" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        (octet_length(col("text")) % 997).cast("int").as("score"),
        (lit(1) + octet_length(col("text"))
          - octet_length(translate(col("text"), " ", ""))).cast("int").as("tok"))
      Filtering.selectToBudgetByDomain(d, col("lang"), col("score"),
        col("tok"), col("doc_id"),
        Map("en" -> 3000L, "de" -> 2000L, "fr" -> 1500L,
          "es" -> 1500L, "zh" -> 1000L))
    }),
    // LM quality scoring (the CCNet/RedPajama perplexity-filter step,
    // integer-quantized so it replays exactly): bigram model trained on
    // the lang='en' slice (minCount=2 pruning — the broadcastable-model
    // contract), every doc scored by summed floor-log2 surprisal
    // buckets, OOV bigrams cost 30 bits, keep = mean-surprisal filter
    // in integer cross-multiplication. The synthetic corpus shares one
    // vocabulary across langs, so the cross-lingual separation is mild
    // but present and correctly ordered (measured at sf0.01: en 4.73
    // mean bits/bigram, fr 4.84, de 4.85, es 4.88, zh 4.89); the
    // REJECTION path is driver-checked by q_lm_junk's planted
    // construction instead. The oracle replays model training AND
    // scoring; floor(log2(BIGINT)) is exact in both engines (bit
    // length - 1; boundaries unreachable for counts < 2^40).
    "q_lm_score" -> ((s, dir) => {
      val d = guardMaxWords(docs(s, dir), "text", 100)
      val model = LmScore.trainBigramModel(d.filter(col("lang") === "en"), minCount = 2)
      LmScore.scoreAgainstModel(d, model)
    }),
    // the LM filter's REJECTION path, planted: junk docs built from
    // per-doc-unique md5 words (offset ids) are unioned with the
    // corpus — every junk bigram is OOV by construction (md5 hex words
    // never appear in the en training slice), so each costs exactly 30
    // bits and junk keep is FALSE deterministically (3000 centibits >
    // the 800 threshold), while the natural docs score identically to
    // q_lm_score. LmScoreSpec asserts the prediction; the oracle
    // replays the whole construction.
    "q_lm_junk" -> ((s, dir) => {
      val d = guardMaxWords(docs(s, dir), "text", 100)
        .select(col("doc_id"), col("text"))
      val junkWords = (1 to 6).map(k =>
        md5(concat(col("doc_id").cast("string"), lit("#" + k))))
      val junk = docs(s, dir).select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", junkWords: _*).as("text"))
      val model = LmScore.trainBigramModel(
        guardMaxWords(docs(s, dir), "text", 100).filter(col("lang") === "en"),
        minCount = 2)
      LmScore.scoreAgainstModel(d.unionByName(junk), model)
    }),
    // exact-SUBSTRING dedup, span tier (the Lee et al. ExactSubstr
    // shape re-expressed as gram joins + span-merge windows): merged
    // removal spans of every all-but-winner occurrence of a duplicated
    // word 8-gram. The natural documents table genuinely HAS duplicated
    // 8-grams across docs (the ~30-word vocabulary; ~19% of occurrences
    // at sf0.01), so this is a real workload, replayed exactly — the
    // oracle recomputes grams, offsets, winners (min packed
    // (doc_id, pos)), and the merge, all in integer arithmetic.
    "q_substr_spans" -> ((s, dir) =>
      SubstringDedup.duplicateSpans(guardMaxWords(docs(s, dir), "text", 100), n = 8)),
    // ...and the corpus artifact: spans cut out of the text, cuts
    // observable per row (n_spans / chars_removed, 0 for untouched
    // docs). Oracle rebuilds each doc from the complement intervals via
    // lag() + ordered string_agg.
    "q_substr_dedup" -> ((s, dir) =>
      SubstringDedup.exactSubstringDedup(guardMaxWords(docs(s, dir), "text", 100), n = 8)),
    // exact-substring dedup over a PLANTED within-doc duplication
    // regime: each doc's text doubled around a separator word, so every
    // 8-gram of the original recurs inside its own doc — the winner is
    // the first-half occurrence (min pos, same doc), the second copy
    // coalesces into one long INTERIOR span (mid-doc starts, tail
    // substr, long overlapping-run merges — the span shapes the natural
    // corpus at this SF doesn't produce, where duplicates are whole-doc
    // copies). Oracle replays the construction in its src CTE.
    "q_substr_planted" -> ((s, dir) => {
      val doubled = docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" MID "), col("text")).as("text"))
      SubstringDedup.exactSubstringDedup(
        guardMaxWords(doubled, "text", 201), n = 8)
    }),
    // decontamination by EXCISION: every corpus occurrence of any
    // test-set 13-gram is cut out as an exact char span (keep the doc,
    // remove the leak — the regime where dropping whole docs is too
    // lossy). Test set = verbatim %10 docs, so each >=13-word source is
    // cut to '' (its own grams tile it completely) and any doc sharing
    // a 13-gram loses exactly that span; NATURAL text, full replay —
    // the q_substr_dedup CTE with the winner logic swapped for the
    // test-gram join (no keep-one: contaminated text goes everywhere).
    "q_excised" -> ((s, dir) => {
      val corpus = guardMaxWords(docs(s, dir), "text", 100)
        .select(col("doc_id"), col("text"))
      val tests = corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(5000000L)).as("test_id"), col("text"))
      SubstringDedup.excisedCorpus(corpus, tests, n = 13)
    }),
    // corpus-wide PARAGRAPH-level exact dedup (MassiveText-style): the
    // corpus gets deterministic paragraph structure planted — every doc
    // keeps its own text as paragraph 0, doc_id%4==0 docs append a
    // shared boilerplate paragraph 'boiler <doc_id%3>' (3 distinct
    // paragraphs, each duplicated across ~SF*125 docs), doc_id%10==0
    // docs append an empty paragraph (doubled separator). The oracle
    // replays the construction and the first-occurrence-by-(doc_id,
    // idx) rule; survivors: boiler k first appears in the smallest
    // doc_id%4==0 doc with doc_id%3==k, the empty paragraph in doc 0...
    // all SQL-predictable
    "q_paragraph_dedup" -> ((s, dir) => {
      val structured = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0,
            concat(lit("\nboiler "), (col("doc_id") % 3).cast("string")))
            .otherwise(lit("")),
          when(col("doc_id") % 10 === 0, lit("\n")).otherwise(lit("")))
          .as("text"))
      Dedup.paragraphDedup(structured)
        .select(col("doc_id"), col("text"), col("n_paras"), col("n_kept"))
    }),
    // temperature-sampling mixture: FRACTIONAL per-domain repeats in
    // /65536 fixed-point (en 1.5x, de 2x, fr 0.5x DOWNSAMPLE, es 2.75x,
    // zh 1x); the fractional copy is a per-row 4-hex-digit hash compare
    // the oracle replays verbatim
    "q_temperature_mix" -> ((s, dir) =>
      Mixing.temperatureMix(docs(s, dir).select(col("doc_id"), col("lang")),
          col("lang"), col("doc_id"),
          Map("en" -> 98304, "de" -> 131072, "fr" -> 32768,
            "es" -> 180224, "zh" -> 65536),
          salt = "temp")
        .select(col("doc_id"), col("lang"), col("epoch"))),
    // per-domain epoch upsampling: repeat factors travel as a broadcast
    // rates table; epoch ∈ [1, repeats(lang)]
    "q_epoch_mix" -> ((s, dir) =>
      Mixing.epochMix(docs(s, dir).select(col("doc_id"), col("lang")),
          col("lang"),
          Map("en" -> 3, "de" -> 2, "fr" -> 1, "es" -> 1, "zh" -> 2))
        .select(col("doc_id"), col("lang"), col("epoch"))),
    // deterministic global training order: epoch mix -> md5 order key
    // over the unique (doc_id, epoch) copy key -> 16 hex-prefix shards,
    // within-shard rank. Reading shards in shard order and rows in ord
    // order IS the (reproducible) training order.
    "q_training_order" -> ((s, dir) => {
      val mixed = Mixing.epochMix(docs(s, dir).select(col("doc_id"), col("lang")),
        col("lang"),
        Map("en" -> 3, "de" -> 2, "fr" -> 1, "es" -> 1, "zh" -> 2))
      Mixing.trainingOrder(mixed,
          concat(col("doc_id"), lit(":"), col("epoch")),
          shardHexDigits = 1, salt = "graft")
        .select(col("doc_id"), col("epoch"), col("shard"), col("ord"))
    }),
    // ===== similarity search over embeddings ==============================
    "q_embed_topk" -> ((s, dir) =>
      Embeddings.bruteForceTopK(emb(s, dir), k = 5, nQueries = 10)),
    "q_embed_ann" -> ((s, dir) =>
      Embeddings.annTopK(emb(s, dir), k = 5, nQueries = 10, nbits = 4)),
    // exact partial oracle for the ANN path (scaled-sibling trick): the
    // x2 sibling shares its original's bucket BY CONSTRUCTION and has
    // cosine ~1.0 vs <= ~0.52 for any natural pair, so every query's
    // rank-1 neighbor must be exactly its sibling
    "q_embed_ann_sibling" -> ((s, dir) =>
      Embeddings.annTopK(Embeddings.withScaledSiblings(emb(s, dir)),
          k = 5, nQueries = 10, nbits = 4)
        .filter(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id"))),
    // same oracle for the IVF path: cosine's argmax centroid is
    // scale-invariant, so the sibling lands in its original's cell and
    // the query's own-cell probe must return it at rank 1
    "q_embed_ivf_sibling" -> ((s, dir) =>
      Embeddings.ivfTopK(Embeddings.withScaledSiblings(emb(s, dir)),
          k = 5, nQueries = 10, nCentroids = 8, nProbe = 4)
        .filter(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id"))),
    // IVF coarse-quantizer path with an EXACT oracle: probing every cell
    // makes the candidate set the whole corpus, so the result must equal
    // brute-force top-k — which the synthetic-data oracle below predicts
    // is dominated by same-label cluster members (checked rows-only is
    // not enough; equality with q_embed_topk is pinned in DedupSpec)
    "q_embed_ivf" -> ((s, dir) =>
      Embeddings.ivfTopK(emb(s, dir), k = 5, nQueries = 10,
        nCentroids = 8, nProbe = 4)),
    // exhaustive probe (nProbe = nCentroids): candidate set == corpus, so
    // the IVF machinery must reproduce exact brute-force top-k — shares
    // the exact DuckDB cosine oracle with q_embed_topk
    "q_embed_ivf_full" -> ((s, dir) =>
      Embeddings.ivfTopK(emb(s, dir), k = 5, nQueries = 10,
        nCentroids = 8, nProbe = 8)),
    // ANN recall as a driver-checkable number (VERDICT r3 item 4): both
    // approximate paths' recall@5 against brute force in one query,
    // gated at a 0.6 floor. Measured first (recorded in SURVEY.md's
    // ANN row; this query recomputes both on every run): multi-table
    // ann (nbits=3, 8 tables) 0.90 @ sf0.001 / 0.88 @ sf0.01; ivf
    // (8 centroids, 4 probes) 0.80 / 0.72 — all deterministic (no RNG
    // anywhere), so the floor guards SF drift, not run-to-run
    // variance. Single-table nbits=4 measured 0.12-0.22,
    // which is WHY annTopK grew the classic multi-table recall
    // amplification this round.
    "q_ann_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val bf = Embeddings.bruteForceTopK(e, k = 5, nQueries = 10)
      def row(m: String, approx: DataFrame) =
        Embeddings.recallAtK(approx, bf)
          .select(lit(m).as("method"), (col("recall") >= 0.6).as("recall_ok"))
      row("ann", Embeddings.annTopK(e, k = 5, nQueries = 10, nbits = 3, nTables = 8))
        .unionByName(
          row("ivf", Embeddings.ivfTopK(e, k = 5, nQueries = 10,
            nCentroids = 8, nProbe = 4)))
    }),
    // embedding-cosine near-dup through the PRODUCTION config (capped
    // RHP buckets, nbits=8) with an exact oracle: injected x2-scaled
    // siblings share their original's bucket deterministically (sign of
    // the hyperplane dot is scale-invariant) and cosine ~1.0, while no
    // natural pair in the synthetic corpus reaches 0.95 (max ~0.52) —
    // so the result must be exactly one (vec_id, vec_id + 1000000) pair
    // per vector
    "q_cosine_neardup" -> ((s, dir) =>
      Embeddings.cosineNearDupPairs(Embeddings.withScaledSiblings(emb(s, dir)),
          threshold = 0.95, nbits = 8)
        .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))),
    // semantic corpus dedup END TO END (the SemDeDup step): exact tier
    // (byte-identical +3e6 copies of every %10 vec collapse to the base
    // id) then cosine tier (x2- and x4-scaled siblings form a
    // per-vector CLIQUE {v, 2v, 4v} — power-of-two scaling keeps the
    // RHP bucket and cosine exactly ~1.0 — which components collapse to
    // the min-id base). Kept set == exactly the natural universe. No
    // natural pair reaches 0.95 (max ~0.52, the q_cosine_neardup
    // precondition), so the group structure is SQL-predictable. The
    // bucket cap is raised to local-scale 4096: scaled siblings triple
    // every bucket's population, and the cap's oversize semantics are
    // exercised by q_cosine_neardup's default; here an overflow would
    // silently KEEP a planted duplicate. Pinned once: the dedup
    // consults its corpus in four subtrees (exact hashes x2, cosine
    // pairs, final anti-join) and this universe is synthesized.
    "q_semantic_dedup" -> ((s, dir) => {
      val base = emb(s, dir).select(col("vec_id"), col("embedding"))
      val scaled = (k: Float, off: Long) => base.select(
        (col("vec_id") + lit(off)).as("vec_id"),
        transform(col("embedding"), x => x * lit(k)).as("embedding"))
      val planted = base
        .unionByName(scaled(2.0f, 1000000L))
        .unionByName(scaled(4.0f, 2000000L))
        .unionByName(base.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + lit(3000000L)).as("vec_id"), col("embedding")))
      Embeddings.semanticDedupCorpus(planted.localCheckpoint(),
          threshold = 0.95, nbits = 8, maxBucketSize = 4096)
        .select(col("vec_id").cast("long").as("vec_id"))
    }),
    // ===== multimodal plumbing ============================================
    "q_media_features" -> ((s, dir) =>
      Multimodal.extractFeatures(Multimodal.syntheticMedia(docs(s, dir)))
        .select(col("doc_id"), size(col("features")).as("n_dims"))),
    "q_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.syntheticMedia(docs(s, dir)))
        .select(col("doc_id"), col("frame_idx"))),
    // resize: the SQL-checkable contract half — output metadata carries
    // the target dims and the payload is exactly outW*outH bytes per row
    // (pixel mapping pinned by MultimodalSpec)
    "q_media_resize" -> ((s, dir) =>
      Multimodal.resize(Multimodal.syntheticMedia(docs(s, dir)), outW = 8, outH = 8)
        .select(col("doc_id"), col("meta.width").as("width"),
          col("meta.height").as("height"),
          octet_length(col("media")).as("n_bytes")))
  )

  // ===== per-variant oracle constants ======================================
  // The transcripts template carries a turn_idx%11-selected quirk block
  // (Transcripts.textSqlExpr). Every constant below was derived BY HAND
  // from the reference semantics (dhtmlparser.d:869-922 tree building,
  // 533-587 prettify, 287-429 classifier; quirk ledger SURVEY.md §2.5)
  // and cross-checked against the engine's parse of every variant by
  // each oracle run (graft.Verify + scripts/verify_local.py: rows,
  // schema and hash). In particular:
  //  - v1: a comment is istag (Q1) with RAW tagname (Q6) and is forced
  //    nonpair by parseDOM like any unmatched non-endtag;
  //  - v3: the OUTER of two same-name openers with one endtag is
  //    unmatched (Q17: indexOfEndTag counts the inner opener) and
  //    becomes a childless nonpair LEAF; the inner pairs, its endtag a
  //    following SIBLING;
  //  - v4: tagToString re-renders the single-quoted attr double-quoted
  //    with backslash-escaped inner quotes (Q12, quote_escaper.d:29-40).

  /** n_nodes delta per variant (nNodes = tokens - droppedEndtags):
    * v5 adds 3 tokens; v6 adds 1 token that is itself dropped => 0.
    */
  private val NodeDeltaCase =
    "CASE turn_idx % 11 WHEN 1 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 4 WHEN 4 THEN 3 WHEN 5 THEN 3 WHEN 7 THEN 3 WHEN 8 THEN 8 WHEN 9 THEN 1 WHEN 10 THEN 10 ELSE 0 END"
  /** parse-error count per variant: v3's forced-nonpair outer section and
    * v6's dropped stray endtag (comments/text forced nonpair are not
    * errors).
    */
  private val ErrDeltaCase = "CASE WHEN turn_idx % 11 IN (3, 6) THEN 1 ELSE 0 END"

  private case class DomRow(id: Int, parent: Int, pos: Int, depth: Int,
                            kind: Int, tag: String, nonpair: Boolean)

  /** dom_tag_nodes rows shared by all variants (arena ids 1..36). */
  private val DomBase: Seq[DomRow] = Seq(
    DomRow(1,0,0,1,2,"html",false), DomRow(2,1,0,2,2,"head",false),
    DomRow(3,2,0,3,2,"title",false), DomRow(5,2,1,3,3,"title",false),
    DomRow(6,2,2,3,2,"meta",true), DomRow(7,1,1,2,3,"head",false),
    DomRow(8,1,2,2,2,"body",false), DomRow(9,8,0,3,2,"nav",false),
    DomRow(10,9,0,4,2,"a",false), DomRow(12,9,1,4,3,"a",false),
    DomRow(14,9,3,4,2,"a",false), DomRow(16,9,4,4,3,"a",false),
    DomRow(17,8,1,3,3,"nav",false), DomRow(18,8,2,3,2,"div",false),
    DomRow(19,18,0,4,2,"h1",false), DomRow(21,18,1,4,3,"h1",false),
    DomRow(22,18,2,4,2,"p",false), DomRow(24,18,3,4,3,"p",false),
    DomRow(25,18,4,4,2,"p",false), DomRow(27,18,5,4,3,"p",false),
    DomRow(28,18,6,4,2,"a",false), DomRow(30,18,7,4,3,"a",false),
    DomRow(31,8,3,3,3,"div",false), DomRow(32,8,4,3,2,"footer",false),
    DomRow(33,32,0,4,2,"p",false), DomRow(35,32,1,4,3,"p",false),
    DomRow(36,8,5,3,3,"footer",false))

  /** Per-variant tail: quirk-block tag nodes + the shifted /body, /html. */
  private val DomExtra: Map[Int, Seq[DomRow]] = {
    def tails(bodyEnd: Int) = Seq(
      DomRow(bodyEnd,1,3,2,3,"body",false), DomRow(bodyEnd+1,0,1,1,3,"html",false))
    Map(
      0 -> tails(37),
      1 -> (Seq(DomRow(37,8,6,3,1,"<!-- note 11 -->",true)) ++ tails(38)),
      2 -> (Seq(DomRow(37,8,6,3,2,"br",true), DomRow(38,8,7,3,2,"hr",true),
                DomRow(39,8,8,3,2,"img",true)) ++ tails(40)),
      // v3: outer section nonpair LEAF (Q17); inner's text child id 39 is
      // kind 0 (omitted here); endtag id 40 is the inner's sibling
      3 -> (Seq(DomRow(37,8,6,3,2,"section",true), DomRow(38,8,7,3,2,"section",false),
                DomRow(40,8,8,3,3,"section",false)) ++ tails(41)),
      // v4: text child id 38 omitted
      4 -> (Seq(DomRow(37,8,6,3,2,"span",false), DomRow(39,8,7,3,3,"span",false)) ++ tails(40)),
      // v5: same shape as v4 (pre + text(38, omitted) + /pre)
      5 -> (Seq(DomRow(37,8,6,3,2,"pre",false), DomRow(39,8,7,3,3,"pre",false)) ++ tails(40)),
      // v6: the stray endtag never enters the tree (Q18) — arena = base
      6 -> tails(37),
      // v7: multi-attr em (text child id 38 omitted) — arena shape = v4
      7 -> (Seq(DomRow(37,8,6,3,2,"em",false), DomRow(39,8,7,3,3,"em",false)) ++ tails(40)),
      // v8: nested list — li pairs are ul's CHILDREN (depth 4); text
      // children ids 39, 42 omitted
      8 -> (Seq(DomRow(37,8,6,3,2,"ul",false),
                DomRow(38,37,0,4,2,"li",false), DomRow(40,37,1,4,3,"li",false),
                DomRow(41,37,2,4,2,"li",false), DomRow(43,37,3,4,3,"li",false),
                DomRow(44,8,7,3,3,"ul",false)) ++ tails(45)),
      // v9: void input (Q4 nonpair) with a Q7 bare param — one tag node
      9 -> (Seq(DomRow(37,8,6,3,2,"input",true)) ++ tails(38)),
      // v10: three-level table — td pairs at depth 5; text children ids
      // 40, 43 omitted
      10 -> (Seq(DomRow(37,8,6,3,2,"table",false),
                 DomRow(38,37,0,4,2,"tr",false),
                 DomRow(39,38,0,5,2,"td",false), DomRow(41,38,1,5,3,"td",false),
                 DomRow(42,38,2,5,2,"td",false), DomRow(44,38,3,5,3,"td",false),
                 DomRow(45,37,1,4,3,"tr",false),
                 DomRow(46,8,7,3,3,"table",false)) ++ tails(47)))
  }

  private def sqlStr(s: String) = "'" + s.replace("'", "''") + "'"

  /** DuckDB brute-force cosine top-k (k=5, 10 queries) — the exact oracle
    * for q_embed_topk and the exhaustive-probe IVF query.
    */
  private val EmbedTopkOracleSql: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM e WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |         list_cosine_similarity(q.q_emb, e.embedding) AS sim
      |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id,
      |         CAST(row_number() OVER (PARTITION BY query_id
      |           ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5"""
      .stripMargin.replace("\n", " ")

  /** DuckDB VALUES list of (variant, node rows) for q_dom_nodes. */
  private def domValuesSql: String =
    (0 to 10).flatMap { v =>
      (DomBase ++ DomExtra(v)).map(r =>
        s"($v,${r.id},${r.parent},${r.pos},${r.depth},${r.kind},${sqlStr(r.tag)},${r.nonpair})")
    }.mkString(",")

  /** BFS level-order among tag nodes (findAllB, Q20): the quirk block's
    * tags are body children enqueued after /footer, so they surface at
    * positions 15.. and shift the grandchildren after them.
    */
  private def bfsValuesSql: String = {
    val prefix = Seq(
      ("html",false),("html",true),("head",false),("head",true),
      ("body",false),("body",true),("title",false),("title",true),
      ("meta",false),("nav",false),("nav",true),("div",false),("div",true),
      ("footer",false),("footer",true))
    val tail = Seq(
      ("a",false),("a",true),("a",false),("a",true),("h1",false),("h1",true),
      ("p",false),("p",true),("p",false),("p",true),("a",false),("a",true),
      ("p",false),("p",true))
    // (level-3 tags in the quirk slot, level-4 tags surfacing AFTER the
    // tail — only v8's li pairs, children of the last body child)
    val variantTags: Map[Int, (Seq[(String, Boolean)], Seq[(String, Boolean)])] = Map(
      0 -> (Seq.empty, Seq.empty),
      1 -> (Seq(("<!-- note 11 -->", false)), Seq.empty), // comments are tags (Q1), raw tagname (Q6)
      2 -> (Seq(("br",false),("hr",false),("img",false)), Seq.empty),
      3 -> (Seq(("section",false),("section",false),("section",true)), Seq.empty),
      4 -> (Seq(("span",false),("span",true)), Seq.empty),
      5 -> (Seq(("pre",false),("pre",true)), Seq.empty),
      6 -> (Seq.empty, Seq.empty), // stray endtag dropped before the tree exists
      7 -> (Seq(("em",false),("em",true)), Seq.empty),
      8 -> (Seq(("ul",false),("ul",true)),
            Seq(("li",false),("li",true),("li",false),("li",true))),
      9 -> (Seq(("input",false)), Seq.empty),
      10 -> (Seq(("table",false),("table",true)),
             Seq(("tr",false),("tr",true),("td",false),("td",true),("td",false),("td",true))))
    (0 to 10).flatMap { v =>
      val (l3, l4) = variantTags(v)
      (prefix ++ l3 ++ tail ++ l4).zipWithIndex.map { case ((t, e), i) =>
        s"($v,$i,${sqlStr(t)},$e)"
      }
    }.mkString(",")
  }

  /** The quirk block's prettify lines (body-child indent = 4 spaces),
    * as a DuckDB expression. v3: the nonpair outer section renders bare;
    * the inner renders INLINE (text child => Q15 inline mode). v4: Q12
    * normalized re-escape.
    */
  private val PrettyVariantExpr: String =
    """CASE turn_idx % 11
      | WHEN 1 THEN '    <!-- note 11 -->' || chr(10)
      | WHEN 2 THEN '    <br>' || chr(10) || '    <hr>' || chr(10) || '    <img src="/x.png">' || chr(10)
      | WHEN 3 THEN '    <section>' || chr(10) || '    <section>nested</section>' || chr(10)
      | WHEN 4 THEN '    <span title="say \"hi\" now">q</span>' || chr(10)
      | WHEN 5 THEN '    <pre> a  b </pre>' || chr(10)
      | WHEN 7 THEN '    <em class="a1" id="z2">x</em>' || chr(10)
      | WHEN 8 THEN '    <ul>' || chr(10) || '      <li>one</li>' || chr(10)
      |   || '      <li>two</li>' || chr(10) || '    </ul>' || chr(10)
      | WHEN 9 THEN '    <input disabled type="text">' || chr(10)
      | WHEN 10 THEN '    <table>' || chr(10) || '      <tr>' || chr(10)
      |   || '        <td>c1</td>' || chr(10) || '        <td>c2</td>' || chr(10)
      |   || '      </tr>' || chr(10) || '    </table>' || chr(10)
      | ELSE '' END""".stripMargin.replace("\n", "")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    *
    * DuckDB type discipline: every aggregate the engine computes as
    * BIGINT is CAST explicitly — DuckDB's sum(BIGINT) yields HUGEINT,
    * which hash-mismatches Spark's LongType even when values agree
    * (the round-1 q_role_metrics failure).
    */
  def oracleSql: Map[String, String] = {
    val cte = Transcripts.OracleCte
    val textExpr = Transcripts.OracleTextExpr
    val extractExpr = Transcripts.OracleExtractExpr
    Map(
      "q_roundtrip" ->
        s"$cte SELECT conv_id, turn_idx, ${Transcripts.OracleRoundtripExpr} AS rt FROM t",
      "q_find_links" ->
        s"""$cte SELECT conv_id, turn_idx, 0 AS pos, '/home' AS href FROM t
           | UNION ALL SELECT conv_id, turn_idx, 1, '/about' FROM t
           | UNION ALL SELECT conv_id, turn_idx, 2, '/ord/' || okey || '/' || lnum FROM t"""
          .stripMargin.replace("\n", ""),
      "q_get_content" ->
        s"$cte SELECT conv_id, turn_idx, dtext AS content FROM t",
      "q_tag_string" ->
        s"""$cte SELECT conv_id, turn_idx, '<div class="main" id="main">' AS tag_str FROM t""",
      "q_span_tag_string" ->
        s"""$cte SELECT conv_id, turn_idx,
           | CASE WHEN turn_idx % 11 = 4 THEN '<span title="say \\"hi\\" now">' ELSE '' END AS tag_str
           | FROM t""".stripMargin.replace("\n", ""),
      "q_find_nodes" ->
        s"""$cte SELECT conv_id, turn_idx, 10 AS node_id, 'a' AS tagname, '/home' AS href FROM t""",
      "q_build_dom" ->
        s"""$cte SELECT conv_id, turn_idx,
           | '<div id="' || conv_id || '">turn ' || turn_idx || '</div>' AS built
           | FROM t""".stripMargin.replace("\n", ""),
      "q_node_count" ->
        s"$cte SELECT conv_id, turn_idx, 38 + $NodeDeltaCase AS n_nodes FROM t",
      "q_extract_main" ->
        s"$cte SELECT conv_id, turn_idx, $extractExpr AS extracted_text FROM t",
      // the adapters must be IDENTITY on the transcripts, so the text
      // round trips share q_extract_main's oracle verbatim
      "q_source_csv" ->
        s"$cte SELECT conv_id, turn_idx, $extractExpr AS extracted_text FROM t",
      "q_source_json" ->
        s"$cte SELECT conv_id, turn_idx, $extractExpr AS extracted_text FROM t",
      "q_pipeline_extract" ->
        s"""$cte SELECT conv_id, turn_idx, $extractExpr AS extracted_text,
           | 38 + $NodeDeltaCase AS n_nodes, $ErrDeltaCase AS n_errors FROM t"""
          .stripMargin.replace("\n", ""),
      "q_pipeline_turnsalted" ->
        s"""$cte SELECT conv_id, turn_idx, $extractExpr AS extracted_text,
           | 38 + $NodeDeltaCase AS n_nodes, $ErrDeltaCase AS n_errors FROM t"""
          .stripMargin.replace("\n", ""),
      "q_pipeline_onepass" ->
        s"""$cte SELECT conv_id, turn_idx, $extractExpr AS extracted_text,
           | 38 + $NodeDeltaCase AS n_nodes, $ErrDeltaCase AS n_errors FROM t"""
          .stripMargin.replace("\n", ""),
      "q_pipeline_extractfirst" ->
        s"""$cte SELECT conv_id, turn_idx, $extractExpr AS extracted_text,
           | 38 + $NodeDeltaCase AS n_nodes, $ErrDeltaCase AS n_errors FROM t"""
          .stripMargin.replace("\n", ""),
      // span offsets, algebraically: s1 = chars before the h1 text node
      // (all template literal); 19 = length('Conversation record');
      // 27 = 19 + length('</h1><p>'); 34 = 27 + length('</p><p>').
      // Exactly 3 kept spans per turn in EVERY variant — the quirk
      // blocks' text nodes all land in dropped blocks (< MinBlockChars).
      "q_pipeline_spans" ->
        s"""$cte, o AS (SELECT conv_id, turn_idx, dtext,
           | 'order ' || okey || ' line ' || lnum || ' flag ' || rf || ' status ' || ls AS facts,
           | length('<html><head><title>conv</title><meta charset="utf-8"></head><body>'
           | || '<nav><a href="/home">Home</a> <a href="/about">About</a></nav>'
           | || '<div class="main" id="main"><h1>') AS s1 FROM t)
           |SELECT conv_id, turn_idx, 0 AS span_idx, CAST(s1 AS INT) AS start_off,
           | CAST(s1 + 19 AS INT) AS end_off, 'text' AS kind FROM o
           | UNION ALL SELECT conv_id, turn_idx, 1, CAST(s1 + 27 AS INT),
           | CAST(s1 + 27 + length(dtext) AS INT), 'text' FROM o
           | UNION ALL SELECT conv_id, turn_idx, 2, CAST(s1 + 34 + length(dtext) AS INT),
           | CAST(s1 + 34 + length(dtext) + length(facts) AS INT), 'text' FROM o"""
          .stripMargin.replace("\n", ""),
      "q_conversations" ->
        s"""$cte SELECT conv_id, count(*) AS n_turns,
           | CAST(sum(38 + $NodeDeltaCase) AS BIGINT) AS n_nodes,
           | CAST(sum($ErrDeltaCase) AS BIGINT) AS n_errors,
           | string_agg($extractExpr, chr(10) ORDER BY turn_idx) AS conv_text
           | FROM t GROUP BY conv_id""".stripMargin.replace("\n", ""),
      "q_conversations_capped" ->
        s"""$cte, r AS (SELECT conv_id, turn_idx, $extractExpr AS x,
           | 38 + $NodeDeltaCase AS nn, $ErrDeltaCase AS ne,
           | row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
           | FROM t)
           |SELECT conv_id, count(*) AS n_turns,
           | CAST(sum(nn) AS BIGINT) AS n_nodes,
           | CAST(sum(ne) AS BIGINT) AS n_errors,
           | string_agg(CASE WHEN rn <= 2 THEN x END, chr(10) ORDER BY turn_idx) AS conv_text
           | FROM r GROUP BY conv_id""".stripMargin.replace("\n", ""),
      "q_conversations_bytecapped" ->
        s"""$cte, r AS (SELECT conv_id, turn_idx, $extractExpr AS x,
           | 38 + $NodeDeltaCase AS nn, $ErrDeltaCase AS ne,
           | row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn,
           | sum(length($extractExpr)) OVER (PARTITION BY conv_id ORDER BY turn_idx
           |   ROWS UNBOUNDED PRECEDING) AS cum
           | FROM t)
           |SELECT conv_id, count(*) AS n_turns,
           | CAST(sum(nn) AS BIGINT) AS n_nodes,
           | CAST(sum(ne) AS BIGINT) AS n_errors,
           | coalesce(string_agg(CASE WHEN rn <= 1000 AND cum <= 100 THEN x END,
           |   chr(10) ORDER BY turn_idx), '') AS conv_text,
           | CAST(sum(length(x)) AS BIGINT) AS chars_total,
           | CAST(sum(length(x)) - coalesce(sum(CASE WHEN rn <= 1000 AND cum <= 100
           |   THEN length(x) END), 0) AS BIGINT) AS chars_dropped
           | FROM r GROUP BY conv_id""".stripMargin.replace("\n", ""),
      // loss-mask spans: the same replayed per-turn extraction lengths,
      // prefix-summed per conversation (separator = chr(10), length 1)
      "q_loss_mask" ->
        s"""$cte, m AS (SELECT conv_id, turn_idx, length($extractExpr) AS len FROM t)
           |SELECT conv_id, turn_idx,
           | CASE turn_idx % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
           |   ELSE 'tool' END AS role,
           | CAST(coalesce(sum(len + 1) OVER w, 0) AS BIGINT) AS span_start,
           | CAST(coalesce(sum(len + 1) OVER w, 0) + len AS BIGINT) AS span_end,
           | (turn_idx % 3 = 1) AS in_loss
           | FROM m WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
           |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"""
          .stripMargin.replace("\n", ""),
      // end-to-end: conv_text rebuilt algebraically, same space-count
      // quality filter, same chunk slicing, same next-fit walk as a
      // recursive CTE (the WITH list is promoted to WITH RECURSIVE)
      "q_training_pipeline" ->
        (s"""$cte, conv AS (SELECT CAST(substring(conv_id, 6) AS BIGINT) AS conv_key,
           | string_agg($extractExpr, chr(10) ORDER BY turn_idx) AS ct
           | FROM t GROUP BY conv_id),
           |q AS (SELECT conv_key, ct FROM conv
           | WHERE 1 + length(ct) - length(replace(ct, ' ', '')) >= 100),
           |w AS (SELECT conv_key, string_split(ct, ' ') AS ws FROM q),
           |cc AS (SELECT conv_key, CAST(ceil(greatest(len(ws) - 4, 1) / 12.0) AS INT) AS nch,
           | len(ws) AS n FROM w),
           |ch AS (SELECT conv_key, CAST(s.i AS INT) AS chunk_idx,
           | CAST(least(n - s.i*12, 16) AS INT) AS tok
           | FROM cc JOIN generate_series(0, 255) AS s(i) ON s.i < cc.nch),
           |walk AS (
           | SELECT conv_key, chunk_idx, tok, CAST(0 AS BIGINT) AS seq_idx,
           |  0 AS seq_pos, tok AS cum
           | FROM ch WHERE chunk_idx = 0
           | UNION ALL
           | SELECT ch.conv_key, ch.chunk_idx, ch.tok,
           |  CASE WHEN walk.cum + ch.tok > 24 THEN walk.seq_idx + 1 ELSE walk.seq_idx END,
           |  CASE WHEN walk.cum + ch.tok > 24 THEN 0 ELSE walk.seq_pos + 1 END,
           |  CASE WHEN walk.cum + ch.tok > 24 THEN ch.tok ELSE walk.cum + ch.tok END
           | FROM walk JOIN ch ON ch.conv_key = walk.conv_key
           |  AND ch.chunk_idx = walk.chunk_idx + 1)
           |SELECT conv_key, chunk_idx, tok AS n_tokens, seq_idx,
           | CAST(seq_pos AS INT) AS seq_pos FROM walk"""
          .stripMargin.replace("\n", " ")
          .replaceFirst("^WITH ", "WITH RECURSIVE ")),
      // the q_training_pipeline replay + chunk char offsets (prefix
      // join lengths over the word list) + the per-sequence running
      // text offset + the in-loss span intersection, all exact integer
      // arithmetic over the same fold
      "q_masked_pipeline" ->
        (s"""$cte, conv AS (SELECT conv_id, CAST(substring(conv_id, 6) AS BIGINT) AS conv_key,
           | string_agg($extractExpr, chr(10) ORDER BY turn_idx) AS ct
           | FROM t GROUP BY conv_id),
           |q AS (SELECT conv_key, ct FROM conv
           | WHERE 1 + length(ct) - length(replace(ct, ' ', '')) >= 100),
           |w AS (SELECT conv_key, string_split(ct, ' ') AS ws FROM q),
           |cc AS (SELECT conv_key, CAST(ceil(greatest(len(ws) - 4, 1) / 12.0) AS INT) AS nch,
           | len(ws) AS n FROM w),
           |ch AS (SELECT w.conv_key, CAST(s.i AS INT) AS chunk_idx,
           | CAST(least(cc.n - s.i*12, 16) AS INT) AS tok,
           | CAST(CASE WHEN s.i = 0 THEN 0
           |   ELSE length(array_to_string(ws[1 : s.i*12], ' ')) + 1 END AS BIGINT) AS char_start,
           | CAST(length(array_to_string(ws[s.i*12+1 : s.i*12+16], ' ')) AS BIGINT) AS clen
           | FROM w JOIN cc ON cc.conv_key = w.conv_key
           | JOIN generate_series(0, 255) AS s(i) ON s.i < cc.nch),
           |walk AS (
           | SELECT conv_key, chunk_idx, tok, CAST(0 AS BIGINT) AS seq_idx,
           |  0 AS seq_pos, tok AS cum
           | FROM ch WHERE chunk_idx = 0
           | UNION ALL
           | SELECT ch.conv_key, ch.chunk_idx, ch.tok,
           |  CASE WHEN walk.cum + ch.tok > 24 THEN walk.seq_idx + 1 ELSE walk.seq_idx END,
           |  CASE WHEN walk.cum + ch.tok > 24 THEN 0 ELSE walk.seq_pos + 1 END,
           |  CASE WHEN walk.cum + ch.tok > 24 THEN ch.tok ELSE walk.cum + ch.tok END
           | FROM walk JOIN ch ON ch.conv_key = walk.conv_key
           |  AND ch.chunk_idx = walk.chunk_idx + 1),
           |sq AS (SELECT walk.conv_key, walk.chunk_idx, walk.seq_idx, walk.seq_pos,
           | ch.char_start, ch.clen,
           | COALESCE(sum(ch.clen + 1) OVER (PARTITION BY walk.conv_key, walk.seq_idx
           |  ORDER BY walk.seq_pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |  0) AS seq_off
           | FROM walk JOIN ch ON ch.conv_key = walk.conv_key
           |  AND ch.chunk_idx = walk.chunk_idx),
           |m0 AS (SELECT conv_id, CAST(substring(conv_id, 6) AS BIGINT) AS conv_key,
           | turn_idx, length($extractExpr) AS len FROM t),
           |m AS (SELECT conv_key, turn_idx,
           | CAST(coalesce(sum(len + 1) OVER mw, 0) AS BIGINT) AS d_start,
           | CAST(coalesce(sum(len + 1) OVER mw, 0) + len AS BIGINT) AS d_end
           | FROM m0 WINDOW mw AS (PARTITION BY conv_id ORDER BY turn_idx
           |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
           |ml AS (SELECT conv_key, d_start, d_end FROM m
           | WHERE turn_idx % 3 = 1 AND d_start < d_end)
           |SELECT CAST(sq.conv_key AS BIGINT) AS shard, sq.seq_idx,
           | CAST(sq.seq_pos AS INT) AS seq_pos, sq.conv_key, sq.chunk_idx,
           | CAST(sq.seq_off + greatest(ml.d_start, sq.char_start) - sq.char_start
           |  AS BIGINT) AS span_start,
           | CAST(sq.seq_off + least(ml.d_end, sq.char_start + sq.clen) - sq.char_start
           |  AS BIGINT) AS span_end
           |FROM sq JOIN ml ON ml.conv_key = sq.conv_key
           | AND ml.d_start < sq.char_start + sq.clen AND ml.d_end > sq.char_start"""
          .stripMargin.replace("\n", " ")
          .replaceFirst("^WITH ", "WITH RECURSIVE ")),
      "q_turn_rn" ->
        s"""$cte SELECT conv_id, turn_idx,
           | CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx DESC) AS INT) AS rn_desc
           | FROM t""".stripMargin.replace("\n", ""),
      "q_role_metrics" ->
        s"""$cte SELECT CASE turn_idx % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
           | ELSE 'tool' END AS role, count(*) AS n,
           | CAST(sum(length($textExpr)) AS BIGINT) AS total_chars
           | FROM t GROUP BY 1""".stripMargin.replace("\n", ""),
      "q_relational_find" ->
        s"""$cte SELECT conv_id, turn_idx, 0 AS pos, '/home' AS href FROM t
           | UNION ALL SELECT conv_id, turn_idx, 1, '/about' FROM t
           | UNION ALL SELECT conv_id, turn_idx, 2, '/ord/' || okey || '/' || lnum FROM t"""
          .stripMargin.replace("\n", ""),
      "q_dom_nodes" ->
        s"""$cte SELECT t.conv_id, t.turn_idx, v.node_id, v.parent_id, v.pos,
           | v.depth, v.kind, v.tagname, v.nonpair
           | FROM t JOIN (VALUES $domValuesSql)
           | AS v(variant,node_id,parent_id,pos,depth,kind,tagname,nonpair)
           | ON v.variant = t.turn_idx % 11""".stripMargin.replace("\n", ""),
      "q_gen_nodes" ->
        s"""$cte SELECT t.conv_id, t.turn_idx, v.node_id, v.parent_id, v.pos,
           | v.depth, v.kind, v.tagname, v.nonpair
           | FROM t JOIN (VALUES $domValuesSql)
           | AS v(variant,node_id,parent_id,pos,depth,kind,tagname,nonpair)
           | ON v.variant = t.turn_idx % 11""".stripMargin.replace("\n", ""),
      "q_bfs_order" ->
        s"""$cte SELECT t.conv_id, t.turn_idx, v.bfs_pos, v.tagname, v.is_end
           | FROM t JOIN (VALUES $bfsValuesSql)
           | AS v(variant,bfs_pos,tagname,is_end)
           | ON v.variant = t.turn_idx % 11""".stripMargin.replace("\n", ""),
      "q_prettify" ->
        s"""$cte SELECT conv_id, turn_idx,
           | '<html>' || chr(10) ||
           | '  <head>' || chr(10) ||
           | '    <title>conv</title>' || chr(10) ||
           | '    <meta charset="utf-8">' || chr(10) ||
           | '  </head>' || chr(10) ||
           | '  <body>' || chr(10) ||
           | '    <nav>' || chr(10) ||
           | '      <a href="/home">Home</a>' || chr(10) ||
           | '      <a href="/about">About</a>' || chr(10) ||
           | '    </nav>' || chr(10) ||
           | '    <div class="main" id="main">' || chr(10) ||
           | '      <h1>Conversation record</h1>' || chr(10) ||
           | '      <p>' || dtext || '</p>' || chr(10) ||
           | '      <p>order ' || okey || ' line ' || lnum || ' flag ' || rf || ' status ' || ls || '</p>' || chr(10) ||
           | '      <a href="/ord/' || okey || '/' || lnum || '">details</a>' || chr(10) ||
           | '    </div>' || chr(10) ||
           | '    <footer>' || chr(10) ||
           | '      <p>footer boilerplate text</p>' || chr(10) ||
           | '    </footer>' || chr(10) ||
           | ($PrettyVariantExpr) ||
           | '  </body>' || chr(10) ||
           | '</html>' || chr(10) AS pretty FROM t"""
          .stripMargin.replace("\n", ""),
      "q_reset_nonpair" ->
        s"""$cte SELECT conv_id, turn_idx,
           | '<html><head><title>conv</title><meta charset="utf-8"></head><body>'
           | || '<nav><a href="/home">Home</a> <a href="/about">About</a></nav>'
           | || '<div class="main" id="main"><h1>Conversation record</h1>'
           | || '<p>' || dtext || '</p>'
           | || '<p>order ' || okey || ' line ' || lnum || ' flag ' || rf || ' status ' || ls || '</p>'
           | || '<a href="/ord/' || okey || '/' || lnum || '">details</a></div>'
           | || '<footer>'
           | || (${Transcripts.OracleKeptVariantExpr})
           | || '</body></html>' AS html FROM t""".stripMargin.replace("\n", ""),
      "q_replace_tag" ->
        s"""$cte SELECT conv_id, turn_idx,
           | '<html><head><title>conv</title><meta charset="utf-8"></head><body>'
           | || '<nav><a href="/home">Home</a> <a href="/about">About</a></nav>'
           | || '<div class="main" id="main"><h2 class="t">'
           | || '<p>' || dtext || '</p>'
           | || '<p>order ' || okey || ' line ' || lnum || ' flag ' || rf || ' status ' || ls || '</p>'
           | || '<a href="/ord/' || okey || '/' || lnum || '">details</a></div>'
           | || '<footer><p>footer boilerplate text</p></footer>'
           | || (${Transcripts.OracleKeptVariantExpr})
           | || '</body></html>' AS html FROM t""".stripMargin.replace("\n", ""),
      "q_remove_boilerplate" ->
        s"""$cte SELECT conv_id, turn_idx,
           | '<html><head><title>conv</title><meta charset="utf-8"></head><body>'
           | || '<div class="main" id="main"><h1>Conversation record</h1>'
           | || '<p>' || dtext || '</p>'
           | || '<p>order ' || okey || ' line ' || lnum || ' flag ' || rf || ' status ' || ls || '</p>'
           | || '<a href="/ord/' || okey || '/' || lnum || '">details</a></div>'
           | || (${Transcripts.OracleKeptVariantExpr})
           | || '</body></html>' AS stripped FROM t"""
          .stripMargin.replace("\n", ""),
      "q_stream_extract" ->
        s"$cte SELECT conv_id, turn_idx, $extractExpr AS extracted_text FROM t",
      "q_cosine_neardup" ->
        """SELECT CAST(vec_id AS BIGINT) AS a, CAST(vec_id + 1000000 AS BIGINT) AS b
          | FROM embeddings""".stripMargin.replace("\n", ""),
      // every planted id (+1e6 x2-scaled, +2e6 x4-scaled, +3e6
      // byte-identical) is a dropped duplicate of its base; the kept set
      // is exactly the natural universe
      "q_semantic_dedup" ->
        "SELECT CAST(vec_id AS BIGINT) AS vec_id FROM embeddings",
      "q_stream_sessions_buffered" ->
        """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
          | lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
          | FROM events)
          |SELECT event_id, user_id,
          | CAST(sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END)
          |   OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
          |   AS session_idx
          |FROM e""".stripMargin.replace("\n", " "),
      "q_stream_sessions" ->
        """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
          | lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
          | FROM events)
          |SELECT event_id, user_id,
          | CAST(sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END)
          |   OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
          |   AS session_idx
          |FROM e""".stripMargin.replace("\n", " "),
      "q_sessionize" ->
        """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
          | lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
          | FROM events)
          |SELECT event_id, user_id,
          | CAST(sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END)
          |   OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
          |   AS session_idx
          |FROM e""".stripMargin.replace("\n", " "),
      "q_sessionize_skewsafe" ->
        """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
          | lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
          | FROM events)
          |SELECT event_id, user_id,
          | CAST(sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END)
          |   OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
          |   AS session_idx
          |FROM e""".stripMargin.replace("\n", " "),
      "q_session_stats" ->
        """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
          | lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
          | FROM events),
          |s AS (SELECT event_id, user_id, ts_us,
          | CAST(sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END)
          |   OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
          |   AS session_idx FROM e)
          |SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS n_events,
          | CAST(max(ts_us) - min(ts_us) AS BIGINT) AS span_us
          |FROM s GROUP BY 1, 2""".stripMargin.replace("\n", " "),
      "q_sketch_users" ->
        """SELECT DISTINCT event_type, true AS within_bound FROM events"""
          .stripMargin.replace("\n", ""),
      // chunk starts at multiples of step=12 below max(1, n_words-4);
      // DuckDB list slicing is 1-based inclusive, matching Spark's
      // slice(words, start+1, maxTokens) elementwise
      "q_chunked" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |c AS (SELECT doc_id, ws,
          |  CAST(ceil(greatest(len(ws) - 4, 1) / 12.0) AS INT) AS nch FROM w)
          |SELECT doc_id, CAST(s.i AS INT) AS chunk_idx,
          |  array_to_string(ws[s.i*12+1 : s.i*12+16], ' ') AS chunk_text,
          |  CAST(least(len(ws) - s.i*12, 16) AS INT) AS n_tokens
          |FROM c JOIN generate_series(0, 63) AS s(i) ON s.i < c.nch"""
          .stripMargin.replace("\n", " "),
      // the next-fit walk replayed exactly as a recursive CTE: the
      // anchor is each doc's chunk 0, each step folds chunk i+1 through
      // the same (fill + tok > 24 => new sequence) rule
      "q_packed" ->
        """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |c AS (SELECT doc_id, CAST(ceil(greatest(len(ws) - 4, 1) / 12.0) AS INT) AS nch,
          |  len(ws) AS n FROM w),
          |ch AS (SELECT doc_id, CAST(s.i AS INT) AS chunk_idx,
          |  CAST(least(n - s.i*12, 16) AS INT) AS tok
          |  FROM c JOIN generate_series(0, 63) AS s(i) ON s.i < c.nch),
          |walk AS (
          |  SELECT doc_id, chunk_idx, tok, CAST(0 AS BIGINT) AS seq_idx,
          |    0 AS seq_pos, tok AS cum
          |  FROM ch WHERE chunk_idx = 0
          |  UNION ALL
          |  SELECT ch.doc_id, ch.chunk_idx, ch.tok,
          |    CASE WHEN walk.cum + ch.tok > 24 THEN walk.seq_idx + 1 ELSE walk.seq_idx END,
          |    CASE WHEN walk.cum + ch.tok > 24 THEN 0 ELSE walk.seq_pos + 1 END,
          |    CASE WHEN walk.cum + ch.tok > 24 THEN ch.tok ELSE walk.cum + ch.tok END
          |  FROM walk JOIN ch ON ch.doc_id = walk.doc_id AND ch.chunk_idx = walk.chunk_idx + 1)
          |SELECT doc_id, chunk_idx, tok AS n_tokens, seq_idx,
          |  CAST(seq_pos AS INT) AS seq_pos FROM walk"""
          .stripMargin.replace("\n", " "),
      "q_pack_stats" ->
        """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |c AS (SELECT doc_id, CAST(ceil(greatest(len(ws) - 4, 1) / 12.0) AS INT) AS nch,
          |  len(ws) AS n FROM w),
          |ch AS (SELECT doc_id, CAST(s.i AS INT) AS chunk_idx,
          |  CAST(least(n - s.i*12, 16) AS INT) AS tok
          |  FROM c JOIN generate_series(0, 63) AS s(i) ON s.i < c.nch),
          |walk AS (
          |  SELECT doc_id, chunk_idx, tok, CAST(0 AS BIGINT) AS seq_idx,
          |    0 AS seq_pos, tok AS cum
          |  FROM ch WHERE chunk_idx = 0
          |  UNION ALL
          |  SELECT ch.doc_id, ch.chunk_idx, ch.tok,
          |    CASE WHEN walk.cum + ch.tok > 24 THEN walk.seq_idx + 1 ELSE walk.seq_idx END,
          |    CASE WHEN walk.cum + ch.tok > 24 THEN 0 ELSE walk.seq_pos + 1 END,
          |    CASE WHEN walk.cum + ch.tok > 24 THEN ch.tok ELSE walk.cum + ch.tok END
          |  FROM walk JOIN ch ON ch.doc_id = walk.doc_id AND ch.chunk_idx = walk.chunk_idx + 1),
          |ps AS (SELECT doc_id, seq_idx, count(*) AS c, sum(tok) AS t
          |  FROM walk GROUP BY 1, 2)
          |SELECT doc_id AS shard, CAST(sum(c) AS BIGINT) AS n_chunks,
          |  CAST(count(*) AS BIGINT) AS n_seqs, CAST(sum(t) AS BIGINT) AS sum_tokens,
          |  CAST(max(t) AS BIGINT) AS max_seq_tokens,
          |  CAST(count(*) * 24 - sum(t) AS BIGINT) AS padding_tokens
          |FROM ps GROUP BY doc_id""".stripMargin.replace("\n", " "),
      "q_packed_sequences" ->
        """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |c AS (SELECT doc_id, CAST(ceil(greatest(len(ws) - 4, 1) / 12.0) AS INT) AS nch,
          |  len(ws) AS n FROM w),
          |ch AS (SELECT doc_id, CAST(s.i AS INT) AS chunk_idx,
          |  CAST(least(n - s.i*12, 16) AS INT) AS tok
          |  FROM c JOIN generate_series(0, 63) AS s(i) ON s.i < c.nch),
          |walk AS (
          |  SELECT doc_id, chunk_idx, tok, CAST(0 AS BIGINT) AS seq_idx,
          |    0 AS seq_pos, tok AS cum
          |  FROM ch WHERE chunk_idx = 0
          |  UNION ALL
          |  SELECT ch.doc_id, ch.chunk_idx, ch.tok,
          |    CASE WHEN walk.cum + ch.tok > 24 THEN walk.seq_idx + 1 ELSE walk.seq_idx END,
          |    CASE WHEN walk.cum + ch.tok > 24 THEN 0 ELSE walk.seq_pos + 1 END,
          |    CASE WHEN walk.cum + ch.tok > 24 THEN ch.tok ELSE walk.cum + ch.tok END
          |  FROM walk JOIN ch ON ch.doc_id = walk.doc_id AND ch.chunk_idx = walk.chunk_idx + 1),
          |tx AS (SELECT w.doc_id, CAST(s.i AS INT) AS chunk_idx,
          |  array_to_string(ws[s.i*12+1 : s.i*12+16], ' ') AS chunk_text
          |  FROM w JOIN c ON c.doc_id = w.doc_id
          |  JOIN generate_series(0, 63) AS s(i) ON s.i < c.nch)
          |SELECT CAST(walk.doc_id AS BIGINT) AS shard, walk.seq_idx,
          |  CAST(count(*) AS BIGINT) AS n_chunks,
          |  CAST(sum(walk.tok) AS BIGINT) AS n_tokens,
          |  string_agg(tx.chunk_text, chr(10) ORDER BY walk.seq_pos) AS seq_text
          |FROM walk JOIN tx ON tx.doc_id = walk.doc_id AND tx.chunk_idx = walk.chunk_idx
          |GROUP BY 1, 2""".stripMargin.replace("\n", " "),
      // the q_packed walk + chunk LENGTHS + a running-sum window — the
      // span arithmetic replayed over the same fold
      "q_packed_spans" ->
        """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |c AS (SELECT doc_id, CAST(ceil(greatest(len(ws) - 4, 1) / 12.0) AS INT) AS nch,
          |  len(ws) AS n FROM w),
          |ch AS (SELECT doc_id, CAST(s.i AS INT) AS chunk_idx,
          |  CAST(least(n - s.i*12, 16) AS INT) AS tok
          |  FROM c JOIN generate_series(0, 63) AS s(i) ON s.i < c.nch),
          |walk AS (
          |  SELECT doc_id, chunk_idx, tok, CAST(0 AS BIGINT) AS seq_idx,
          |    0 AS seq_pos, tok AS cum
          |  FROM ch WHERE chunk_idx = 0
          |  UNION ALL
          |  SELECT ch.doc_id, ch.chunk_idx, ch.tok,
          |    CASE WHEN walk.cum + ch.tok > 24 THEN walk.seq_idx + 1 ELSE walk.seq_idx END,
          |    CASE WHEN walk.cum + ch.tok > 24 THEN 0 ELSE walk.seq_pos + 1 END,
          |    CASE WHEN walk.cum + ch.tok > 24 THEN ch.tok ELSE walk.cum + ch.tok END
          |  FROM walk JOIN ch ON ch.doc_id = walk.doc_id AND ch.chunk_idx = walk.chunk_idx + 1),
          |tx AS (SELECT w.doc_id, CAST(s.i AS INT) AS chunk_idx,
          |  CAST(length(array_to_string(ws[s.i*12+1 : s.i*12+16], ' ')) AS BIGINT) AS len
          |  FROM w JOIN c ON c.doc_id = w.doc_id
          |  JOIN generate_series(0, 63) AS s(i) ON s.i < c.nch),
          |sp AS (SELECT walk.doc_id, walk.chunk_idx, walk.seq_idx, walk.seq_pos, tx.len,
          |  COALESCE(sum(tx.len + 1) OVER (PARTITION BY walk.doc_id, walk.seq_idx
          |    ORDER BY walk.seq_pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          |    0) AS span_start
          |  FROM walk JOIN tx ON tx.doc_id = walk.doc_id AND tx.chunk_idx = walk.chunk_idx)
          |SELECT CAST(doc_id AS BIGINT) AS shard, seq_idx, CAST(seq_pos AS INT) AS seq_pos,
          |  doc_id, chunk_idx, CAST(span_start AS BIGINT) AS span_start,
          |  CAST(span_start + len AS BIGINT) AS span_end FROM sp"""
          .stripMargin.replace("\n", " "),
      // cross-doc walk: recursion advances a per-shard dense row_number
      // (docs interleave within shard in (doc_id, chunk_idx) order)
      "q_packed_provenance" ->
        """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |c AS (SELECT doc_id, CAST(ceil(greatest(len(ws) - 4, 1) / 12.0) AS INT) AS nch,
          |  len(ws) AS n FROM w),
          |ch0 AS (SELECT doc_id, CAST(s.i AS INT) AS chunk_idx,
          |  CAST(least(n - s.i*12, 16) AS INT) AS tok
          |  FROM c JOIN generate_series(0, 63) AS s(i) ON s.i < c.nch),
          |ch AS (SELECT doc_id % 8 AS shard, doc_id, chunk_idx, tok,
          |  CAST(row_number() OVER (PARTITION BY doc_id % 8
          |    ORDER BY doc_id, chunk_idx) AS INT) AS rn FROM ch0),
          |walk AS (
          |  SELECT shard, doc_id, chunk_idx, tok, rn, CAST(0 AS BIGINT) AS seq_idx,
          |    0 AS seq_pos, tok AS cum
          |  FROM ch WHERE rn = 1
          |  UNION ALL
          |  SELECT ch.shard, ch.doc_id, ch.chunk_idx, ch.tok, ch.rn,
          |    CASE WHEN walk.cum + ch.tok > 48 THEN walk.seq_idx + 1 ELSE walk.seq_idx END,
          |    CASE WHEN walk.cum + ch.tok > 48 THEN 0 ELSE walk.seq_pos + 1 END,
          |    CASE WHEN walk.cum + ch.tok > 48 THEN ch.tok ELSE walk.cum + ch.tok END
          |  FROM walk JOIN ch ON ch.shard = walk.shard AND ch.rn = walk.rn + 1),
          |tx AS (SELECT w.doc_id, CAST(s.i AS INT) AS chunk_idx,
          |  array_to_string(ws[s.i*12+1 : s.i*12+16], ' ') AS chunk_text
          |  FROM w JOIN c ON c.doc_id = w.doc_id
          |  JOIN generate_series(0, 63) AS s(i) ON s.i < c.nch)
          |SELECT CAST(walk.shard AS BIGINT) AS shard, walk.seq_idx,
          |  CAST(count(*) AS BIGINT) AS n_chunks,
          |  CAST(sum(walk.tok) AS BIGINT) AS n_tokens,
          |  string_agg(tx.chunk_text, chr(10) ORDER BY walk.seq_pos) AS seq_text,
          |  string_agg(CAST(walk.doc_id AS VARCHAR) || ':' || CAST(walk.chunk_idx AS VARCHAR),
          |    ',' ORDER BY walk.seq_pos) AS provenance
          |FROM walk JOIN tx ON tx.doc_id = walk.doc_id AND tx.chunk_idx = walk.chunk_idx
          |GROUP BY 1, 2""".stripMargin.replace("\n", " "),
      // the cross-doc walk again, filtered to the takedown docs
      "q_takedown" ->
        """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |c AS (SELECT doc_id, CAST(ceil(greatest(len(ws) - 4, 1) / 12.0) AS INT) AS nch,
          |  len(ws) AS n FROM w),
          |ch0 AS (SELECT doc_id, CAST(s.i AS INT) AS chunk_idx,
          |  CAST(least(n - s.i*12, 16) AS INT) AS tok
          |  FROM c JOIN generate_series(0, 63) AS s(i) ON s.i < c.nch),
          |ch AS (SELECT doc_id % 8 AS shard, doc_id, chunk_idx, tok,
          |  CAST(row_number() OVER (PARTITION BY doc_id % 8
          |    ORDER BY doc_id, chunk_idx) AS INT) AS rn FROM ch0),
          |walk AS (
          |  SELECT shard, doc_id, tok, rn, CAST(0 AS BIGINT) AS seq_idx, tok AS cum
          |  FROM ch WHERE rn = 1
          |  UNION ALL
          |  SELECT ch.shard, ch.doc_id, ch.tok, ch.rn,
          |    CASE WHEN walk.cum + ch.tok > 48 THEN walk.seq_idx + 1 ELSE walk.seq_idx END,
          |    CASE WHEN walk.cum + ch.tok > 48 THEN ch.tok ELSE walk.cum + ch.tok END
          |  FROM walk JOIN ch ON ch.shard = walk.shard AND ch.rn = walk.rn + 1)
          |SELECT CAST(shard AS BIGINT) AS shard, seq_idx,
          |  string_agg(DISTINCT CAST(doc_id AS VARCHAR), ','
          |    ORDER BY CAST(doc_id AS VARCHAR)) AS hit_docs
          |FROM walk WHERE doc_id % 97 = 0 GROUP BY 1, 2""".stripMargin.replace("\n", " "),
      // q_packed_sequences' full replay + the md5 training order over
      // the unique (pack_shard, seq_idx) identity
      "q_ordered_shards" ->
        """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |c AS (SELECT doc_id, CAST(ceil(greatest(len(ws) - 4, 1) / 12.0) AS INT) AS nch,
          |  len(ws) AS n FROM w),
          |ch AS (SELECT doc_id, CAST(s.i AS INT) AS chunk_idx,
          |  CAST(least(n - s.i*12, 16) AS INT) AS tok
          |  FROM c JOIN generate_series(0, 63) AS s(i) ON s.i < c.nch),
          |walk AS (
          |  SELECT doc_id, chunk_idx, tok, CAST(0 AS BIGINT) AS seq_idx,
          |    0 AS seq_pos, tok AS cum
          |  FROM ch WHERE chunk_idx = 0
          |  UNION ALL
          |  SELECT ch.doc_id, ch.chunk_idx, ch.tok,
          |    CASE WHEN walk.cum + ch.tok > 24 THEN walk.seq_idx + 1 ELSE walk.seq_idx END,
          |    CASE WHEN walk.cum + ch.tok > 24 THEN 0 ELSE walk.seq_pos + 1 END,
          |    CASE WHEN walk.cum + ch.tok > 24 THEN ch.tok ELSE walk.cum + ch.tok END
          |  FROM walk JOIN ch ON ch.doc_id = walk.doc_id AND ch.chunk_idx = walk.chunk_idx + 1),
          |tx AS (SELECT w.doc_id, CAST(s.i AS INT) AS chunk_idx,
          |  array_to_string(ws[s.i*12+1 : s.i*12+16], ' ') AS chunk_text
          |  FROM w JOIN c ON c.doc_id = w.doc_id
          |  JOIN generate_series(0, 63) AS s(i) ON s.i < c.nch),
          |seqs AS (SELECT CAST(walk.doc_id AS BIGINT) AS pack_shard, walk.seq_idx,
          |  CAST(sum(walk.tok) AS BIGINT) AS n_tokens,
          |  string_agg(tx.chunk_text, chr(10) ORDER BY walk.seq_pos) AS seq_text
          |  FROM walk JOIN tx ON tx.doc_id = walk.doc_id AND tx.chunk_idx = walk.chunk_idx
          |  GROUP BY 1, 2),
          |o AS (SELECT pack_shard, seq_idx, n_tokens, seq_text,
          |  CAST(pack_shard AS VARCHAR) || ':' || CAST(seq_idx AS VARCHAR) AS k,
          |  md5('graft:' || CAST(pack_shard AS VARCHAR) || ':' || CAST(seq_idx AS VARCHAR)) AS ok
          |  FROM seqs)
          |SELECT pack_shard, seq_idx, n_tokens, seq_text, ok AS order_key,
          |  substring(ok, 1, 1) AS shard,
          |  CAST(row_number() OVER (PARTITION BY substring(ok, 1, 1) ORDER BY ok ASC, k ASC) AS INT) AS ord
          |FROM o""".stripMargin.replace("\n", " "),
      "q_token_count" ->
        """SELECT doc_id, CAST(1 + length(text) - length(replace(text, ' ', '')) AS INT)
          | AS n_tokens FROM documents""".stripMargin.replace("\n", ""),
      "q_token_count_native" ->
        """SELECT doc_id, CAST(1 + length(text) - length(replace(text, ' ', '')) AS INT)
          | AS n_tokens FROM documents""".stripMargin.replace("\n", ""),
      "q_quality_tokens" ->
        """SELECT doc_id, CAST(1 + length(text) - length(replace(text, ' ', '')) AS INT)
          | AS n_tokens FROM documents""".stripMargin.replace("\n", ""),
      "q_neardup_siblings" ->
        """SELECT CAST(doc_id AS BIGINT) AS a, CAST(doc_id + 1000000 AS BIGINT) AS b
          | FROM documents""".stripMargin.replace("\n", ""),
      "q_contamination" ->
        """SELECT CAST(doc_id + 5000000 AS BIGINT) AS test_id
          | FROM documents WHERE doc_id % 10 = 0""".stripMargin.replace("\n", ""),
      "q_contamination_indexed" ->
        """SELECT CAST(doc_id + 5000000 AS BIGINT) AS test_id
          | FROM documents WHERE doc_id % 10 = 0""".stripMargin.replace("\n", ""),
      "q_contamination_partial" ->
        """SELECT CAST(doc_id + 7000000 AS BIGINT) AS test_id
          | FROM documents WHERE doc_id % 10 = 0""".stripMargin.replace("\n", ""),
      // sibling trigram arithmetic: appending one unique marker word to a
      // doc with sz distinct trigrams gives intersection sz, union sz+1
      "q_neardup_verified_exact" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |n AS (SELECT i FROM generate_series(1, 4096) AS s(i)),
          |tri AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
          |        FROM w JOIN n ON n.i <= len(ws) - 2),
          |sizes AS (SELECT doc_id, count(*) AS sz FROM tri GROUP BY 1)
          |SELECT CAST(doc_id AS BIGINT) AS a, CAST(doc_id + 1000000 AS BIGINT) AS b,
          |  CAST(sz AS BIGINT) AS n_inter, CAST(sz + 1 AS BIGINT) AS n_union
          |FROM sizes""".stripMargin.replace("\n", " "),
      "q_neardup_groups" ->
        """SELECT CAST(doc_id + v.o AS BIGINT) AS member, CAST(doc_id AS BIGINT) AS survivor
          | FROM documents CROSS JOIN (VALUES (0), (1000000), (2000000)) v(o)"""
          .stripMargin.replace("\n", ""),
      "q_dedup_corpus" ->
        s"""SELECT CAST(doc_id AS BIGINT) AS doc_id, $ChainTextSql AS text
           | FROM documents""".stripMargin.replace("\n", ""),
      // the whole two-tier best-score election as CASE arithmetic: the
      // exact tier keeps the byte twin with max(id % 7) (offsets 0 vs 3
      // are never tied mod 7), then the component vote among the exact
      // winner and the two chain siblings (offsets 1, 2 — all three
      // scores distinct mod 7); the survivor's text is the base 16-md5
      // string plus its member's marker suffix
      "q_dedup_corpus_best" ->
        s"""WITH b AS (SELECT doc_id AS d, $ChainTextSql AS base FROM documents),
           |e AS (SELECT d, base,
           |  CASE WHEN d % 10 = 0 AND (d + 3) % 7 > d % 7 THEN d + 3000000 ELSE d END AS eid,
           |  CASE WHEN d % 10 = 0 AND (d + 3) % 7 > d % 7 THEN (d + 3) % 7 ELSE d % 7 END AS se
           |  FROM b)
           |SELECT CAST(CASE WHEN se > (d+1) % 7 AND se > (d+2) % 7 THEN eid
           |  WHEN (d+1) % 7 > (d+2) % 7 THEN d + 1000000 ELSE d + 2000000 END AS BIGINT) AS doc_id,
           | base || CASE WHEN se > (d+1) % 7 AND se > (d+2) % 7 THEN ''
           |  WHEN (d+1) % 7 > (d+2) % 7 THEN ' zzchainmarkerone'
           |  ELSE ' zzchainmarkerone zzchainmarkertwo' END AS text
           |FROM e""".stripMargin.replace("\n", " "),
      "q_fingerprint_consistency" ->
        """SELECT CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(0 AS BIGINT) AS n_inconsistent FROM documents"""
          .stripMargin.replace("\n", ""),
      "q_simhash_consistency" ->
        """SELECT CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_groups,
          | CAST(0 AS BIGINT) AS n_inconsistent FROM (
          | SELECT text FROM documents
          | UNION ALL SELECT text FROM documents WHERE doc_id % 10 = 0)"""
          .stripMargin.replace("\n", ""),
      "q_text_invariants" ->
        """SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(0 AS BIGINT) AS n_bpe_lt_ws,
          | CAST(0 AS BIGINT) AS n_score_oob, CAST(0 AS BIGINT) AS n_lang_unknown
          | FROM documents""".stripMargin.replace("\n", ""),
      "q_stream_dedup" ->
        "SELECT DISTINCT md5(text) AS text_hash FROM documents",
      // planted construction: every streamed sibling is rejected against
      // its source in the INITIAL index (J >= 6/7 > 0.5) and every
      // md5-word clean doc matches nothing (zero shared trigrams; the
      // exact verify tier kills band collisions) — so the accepted set
      // is exactly the clean docs, independent of micro-batch boundaries
      "q_stream_neardup" ->
        """SELECT CAST(doc_id + 8000000 AS BIGINT) AS doc_id,
          |md5(text) || ' ' || md5(text || 'x') || ' ' || md5(text || 'y') AS text
          |FROM documents WHERE doc_id % 10 = 5""".stripMargin.replace("\n", " "),
      "q_dedup_exact" ->
        """SELECT md5(text) AS text_hash, count(*) AS cnt FROM (
          | SELECT text FROM documents
          | UNION ALL SELECT text FROM documents WHERE doc_id % 10 = 0
          |) GROUP BY 1""".stripMargin.replace("\n", ""),
      "q_conv_dedup" ->
        s"""$cte, c AS (SELECT conv_id,
           | string_agg($extractExpr, chr(10) ORDER BY turn_idx) AS text
           | FROM t GROUP BY conv_id),
           |d AS (SELECT text FROM c UNION ALL SELECT text FROM c
           | WHERE CAST(substring(conv_id, 6) AS BIGINT) % 10 = 0)
           |SELECT md5(text) AS text_hash, count(*) AS cnt FROM d GROUP BY 1"""
          .stripMargin.replace("\n", ""),
      "q_ngram_jaccard" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |n AS (SELECT i FROM generate_series(1, 4096) AS s(i)),
          |tri AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
          |        FROM w JOIN n ON n.i <= len(ws) - 2),
          |sizes AS (SELECT doc_id, count(*) AS sz FROM tri GROUP BY 1),
          |inter AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
          |          FROM tri a JOIN tri b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
          |SELECT a, b FROM inter
          |JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
          |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5""".stripMargin.replace("\n", " "),
      // exact brute-force cosine top-k oracle. Safe despite floats: the
      // smallest rank-5/6 sim gap in the synthetic data is ~2e-5 at
      // sf0.01 — two orders of magnitude above float32-vs-float64
      // rounding — and ties break on neighbor_id in both engines.
      "q_embed_topk" -> EmbedTopkOracleSql,
      "q_ann_recall" ->
        """SELECT 'ann' AS method, true AS recall_ok
          | UNION ALL SELECT 'ivf', true""".stripMargin.replace("\n", ""),
      "q_embed_ivf_full" -> EmbedTopkOracleSql,
      "q_embed_ann_sibling" ->
        """SELECT CAST(vec_id AS BIGINT) AS query_id,
          | CAST(vec_id + 1000000 AS BIGINT) AS neighbor_id
          | FROM embeddings WHERE vec_id < 10""".stripMargin.replace("\n", ""),
      "q_embed_ivf_sibling" ->
        """SELECT CAST(vec_id AS BIGINT) AS query_id,
          | CAST(vec_id + 1000000 AS BIGINT) AS neighbor_id
          | FROM embeddings WHERE vec_id < 10""".stripMargin.replace("\n", ""),
      // repetition stats replay: same gram explode as q_ngram_jaccard,
      // top-2-gram picked by (count DESC, gram ASC) and zeroed when the
      // max count is 1; byte counts via strlen (UTF-8), matching
      // Spark's octet_length
      "q_repetition" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |n AS (SELECT i FROM generate_series(1, 4096) AS s(i)),
          |g2 AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g FROM w JOIN n ON n.i <= len(ws) - 1),
          |g3 AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g FROM w JOIN n ON n.i <= len(ws) - 2),
          |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
          |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
          |t2 AS (SELECT doc_id, CASE WHEN c >= 2 THEN c * strlen(g) ELSE 0 END AS topc,
          |  row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn FROM c2),
          |d3 AS (SELECT doc_id, COALESCE(SUM(CASE WHEN c >= 2 THEN c * strlen(g) END), 0) AS dupc
          |  FROM c3 GROUP BY 1)
          |SELECT w.doc_id, CAST(len(ws) AS INT) AS n_words,
          |  CAST(COALESCE(t2.topc, 0) AS BIGINT) AS top2_chars,
          |  CAST(COALESCE(d3.dupc, 0) AS BIGINT) AS dup3_chars
          |FROM w LEFT JOIN t2 ON t2.doc_id = w.doc_id AND t2.rn = 1
          |LEFT JOIN d3 ON d3.doc_id = w.doc_id""".stripMargin.replace("\n", " "),
      "q_gopher_filter" ->
        """WITH w AS (SELECT doc_id, strlen(text) AS nb, string_split(text, ' ') AS ws FROM documents),
          |n AS (SELECT i FROM generate_series(1, 4096) AS s(i)),
          |g2 AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g FROM w JOIN n ON n.i <= len(ws) - 1),
          |g3 AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g FROM w JOIN n ON n.i <= len(ws) - 2),
          |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
          |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
          |t2 AS (SELECT doc_id, CASE WHEN c >= 2 THEN c * strlen(g) ELSE 0 END AS topc,
          |  row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn FROM c2),
          |d3 AS (SELECT doc_id, COALESCE(SUM(CASE WHEN c >= 2 THEN c * strlen(g) END), 0) AS dupc
          |  FROM c3 GROUP BY 1)
          |SELECT w.doc_id,
          |  (COALESCE(t2.topc, 0) * 10000 <= 2000 * w.nb
          |   AND COALESCE(d3.dupc, 0) * 10000 <= 2000 * w.nb) AS keep
          |FROM w LEFT JOIN t2 ON t2.doc_id = w.doc_id AND t2.rn = 1
          |LEFT JOIN d3 ON d3.doc_id = w.doc_id""".stripMargin.replace("\n", " "),
      // replay of the line-structure plant + every C4 rule: 7-word line
      // regrouping with (doc_id+i)%4 punctuation, the planted javascript
      // / too-short / lorem-ipsum / brace lines, then the line filter
      // (terminal punct, >=5 non-empty words, no 'javascript') and the
      // page verdict (>=3 kept lines, no 'lorem ipsum', no '{')
      "q_line_clean" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |s AS (SELECT doc_id,
          |  array_to_string(list_transform(range(0, (len(ws)+6)//7),
          |    i -> array_to_string(ws[i*7+1:i*7+7], ' ') ||
          |         ['.','!','?',''][CAST((doc_id + i) % 4 AS INT) + 1]), chr(10))
          |  || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'enable javascript in your browser settings.' ELSE '' END
          |  || chr(10) || 'too short.'
          |  || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'this page uses lorem ipsum filler text.' ELSE '' END
          |  || CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'see { code } sample block here now.' ELSE '' END AS text
          |  FROM w),
          |l AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM s),
          |k AS (SELECT doc_id, text, len(ls) AS n_lines,
          |  list_filter(ls, x -> right(rtrim(x), 1) IN ('.', '!', '?', '"')
          |    AND len(list_filter(string_split(trim(x), ' '), w2 -> w2 <> '')) >= 5
          |    AND NOT contains(lower(x), 'javascript')) AS kept FROM l)
          |SELECT doc_id, COALESCE(array_to_string(kept, chr(10)), '') AS clean_text,
          |  CAST(n_lines AS INT) AS n_lines, CAST(len(kept) AS INT) AS n_kept,
          |  (len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
          |   AND NOT contains(text, '{')) AS keep
          |FROM k""".stripMargin.replace("\n", " "),
      // construction replay + first-occurrence rule; DuckDB's indexed
      // list_filter lambda is 1-based (Spark's is 0-based, hence = i+1
      // there and = i here)
      "q_line_dedup" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |s0 AS (SELECT doc_id, array_to_string(list_transform(range(0, (len(ws)+4)//5),
          |    i -> array_to_string(ws[i*5+1:i*5+5], ' ')), chr(10)) AS s FROM w),
          |s AS (SELECT doc_id,
          |    (CASE WHEN doc_id % 7 = 0 THEN s || chr(10) || s ELSE s END)
          |    || CASE WHEN doc_id % 2 = 0 THEN chr(10) || string_split(s, chr(10))[1] ELSE '' END AS text
          |  FROM s0),
          |l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM s),
          |k AS (SELECT doc_id, len(ls) AS n_lines,
          |    list_filter(ls, (x, i) -> list_position(ls, x) = i) AS kept FROM l)
          |SELECT doc_id, COALESCE(array_to_string(kept, chr(10)), '') AS clean_text,
          |  CAST(n_lines AS INT) AS n_lines, CAST(len(kept) AS INT) AS n_kept
          |FROM k""".stripMargin.replace("\n", " "),
      // all four stages replayed: the plant, the c4 line + page rules,
      // the 1-based indexed first-occurrence dedup, and the Gopher gram
      // machinery over the flattened clean text
      "q_line_pipeline" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |s0 AS (SELECT doc_id, array_to_string(list_transform(range(0, (len(ws)+6)//7),
          |    i -> array_to_string(ws[i*7+1:i*7+7], ' ') || '.'), chr(10)) AS s FROM w),
          |st AS (SELECT doc_id, s
          |  || CASE WHEN doc_id % 3 = 0 THEN chr(10) || string_split(s, chr(10))[1] ELSE '' END
          |  || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'enable javascript in your browser settings.' ELSE '' END
          |  || chr(10) || 'too short.'
          |  || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'this page uses lorem ipsum filler text.' ELSE '' END AS text
          |  FROM s0),
          |l AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM st),
          |c4 AS (SELECT doc_id, text, list_filter(ls, x -> right(rtrim(x), 1) IN ('.', '!', '?', '"')
          |    AND len(list_filter(string_split(trim(x), ' '), w2 -> w2 <> '')) >= 5
          |    AND NOT contains(lower(x), 'javascript')) AS kept FROM l),
          |pk AS (SELECT doc_id, kept FROM c4 WHERE len(kept) >= 3
          |  AND NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{')),
          |dd AS (SELECT doc_id, list_filter(kept, (x, i) -> list_position(kept, x) = i) AS ded FROM pk),
          |gt AS (SELECT doc_id, replace(COALESCE(array_to_string(ded, chr(10)), ''), chr(10), ' ') AS text,
          |  strlen(replace(COALESCE(array_to_string(ded, chr(10)), ''), chr(10), ' ')) AS nb,
          |  string_split(replace(COALESCE(array_to_string(ded, chr(10)), ''), chr(10), ' '), ' ') AS gws FROM dd),
          |n AS (SELECT i FROM generate_series(1, 4096) AS sq(i)),
          |g2 AS (SELECT doc_id, gws[i] || ' ' || gws[i+1] AS gm FROM gt JOIN n ON n.i <= len(gws) - 1),
          |g3 AS (SELECT doc_id, gws[i] || ' ' || gws[i+1] || ' ' || gws[i+2] AS gm FROM gt JOIN n ON n.i <= len(gws) - 2),
          |c2 AS (SELECT doc_id, gm, count(*) AS c FROM g2 GROUP BY 1, 2),
          |c3 AS (SELECT doc_id, gm, count(*) AS c FROM g3 GROUP BY 1, 2),
          |t2 AS (SELECT doc_id, CASE WHEN c >= 2 THEN c * strlen(gm) ELSE 0 END AS topc,
          |  row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gm ASC) AS rn FROM c2),
          |d3 AS (SELECT doc_id, COALESCE(SUM(CASE WHEN c >= 2 THEN c * strlen(gm) END), 0) AS dupc
          |  FROM c3 GROUP BY 1)
          |SELECT gt.doc_id, gt.text FROM gt
          |  LEFT JOIN t2 ON t2.doc_id = gt.doc_id AND t2.rn = 1
          |  LEFT JOIN d3 ON d3.doc_id = gt.doc_id
          |  WHERE COALESCE(t2.topc, 0) * 10000 <= 2000 * gt.nb
          |    AND COALESCE(d3.dupc, 0) * 10000 <= 2000 * gt.nb"""
          .stripMargin.replace("\n", " "),
      "q_vocab" ->
        """WITH w AS (SELECT unnest(string_split(COALESCE(text, ''), ' ')) AS word
          |    FROM documents),
          |c AS (SELECT word, count(*) AS cnt FROM w WHERE word <> '' GROUP BY word),
          |r AS (SELECT word, CAST(cnt AS BIGINT) AS cnt,
          |    CAST(row_number() OVER (ORDER BY cnt DESC, word) AS INT) AS rank FROM c)
          |SELECT word, cnt, rank FROM r WHERE rank <= 16""".stripMargin.replace("\n", " "),
      "q_oov" ->
        """WITH wd AS (SELECT doc_id, unnest(string_split(COALESCE(text, ''), ' ')) AS word
          |    FROM documents),
          |w AS (SELECT doc_id, word FROM wd WHERE word <> ''),
          |c AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
          |v AS (SELECT word FROM c ORDER BY cnt DESC, word LIMIT 16),
          |st AS (SELECT w.doc_id, count(*) AS n_tokens,
          |    sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS n_oov
          |  FROM w LEFT JOIN v ON w.word = v.word GROUP BY w.doc_id)
          |SELECT d.doc_id, CAST(COALESCE(st.n_tokens, 0) AS BIGINT) AS n_tokens,
          |  CAST(COALESCE(st.n_oov, 0) AS BIGINT) AS n_oov
          |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id"""
          .stripMargin.replace("\n", " "),
      "q_bpe_merges" -> ("WITH " + bpeOracleChain + ", m AS (" +
        (1 to bpeMerges).map(i =>
          s"SELECT CAST($i AS INT) AS iter, substr(l,2,strlen(l)-2) AS l_sym," +
            s" substr(r,2,strlen(r)-2) AS r_sym," +
            s" substr(l,2,strlen(l)-2)||substr(r,2,strlen(r)-2) AS merged," +
            s" c AS cnt FROM b$i").mkString(" UNION ALL ") +
        ") SELECT iter, l_sym, r_sym, merged, cnt FROM m"),
      "q_bpe_encode" -> ("WITH " + bpeOracleChain +
        ", wd AS (SELECT doc_id, unnest(string_split(COALESCE(text,''),' ')) AS word" +
        " FROM documents)" +
        ", wf AS (SELECT doc_id, word FROM wd WHERE word <> '')" +
        ", enc AS (SELECT wf.doc_id, count(*) AS n_words," +
        " sum(len(string_split(sk.seg,' '))) AS n_tokens" +
        s" FROM wf JOIN s$bpeMerges sk ON wf.word = sk.word GROUP BY 1)" +
        " SELECT d.doc_id, CAST(COALESCE(enc.n_words,0) AS BIGINT) AS n_words," +
        " CAST(COALESCE(enc.n_tokens,0) AS BIGINT) AS n_tokens" +
        " FROM documents d LEFT JOIN enc ON d.doc_id = enc.doc_id"),
      // the q_packed recursive walk with the chunk weight re-derived
      // through the BPE chain: chunk words re-sliced, joined to the
      // final type segmentation s12, token counts summed per chunk.
      // The join to s12 is inner: every chunk word is a corpus word by
      // construction (same table, same split)
      "q_packed_bpe" -> ("WITH RECURSIVE " + bpeOracleChain + s""",
          |dw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |dc AS (SELECT doc_id, ws,
          |  CAST(ceil(greatest(len(ws) - 4, 1) / 12.0) AS INT) AS nch FROM dw),
          |dch AS (SELECT doc_id, CAST(s.i AS INT) AS chunk_idx,
          |    ws[s.i*12+1 : s.i*12+16] AS cw
          |  FROM dc JOIN generate_series(0, 63) AS s(i) ON s.i < dc.nch),
          |dtok AS (SELECT d.doc_id, d.chunk_idx,
          |    CAST(sum(len(string_split(sk.seg, ' '))) AS INT) AS tok
          |  FROM dch d, UNNEST(d.cw) AS u(word)
          |  JOIN s$bpeMerges sk ON sk.word = u.word
          |  GROUP BY d.doc_id, d.chunk_idx),
          |walk AS (
          |  SELECT doc_id, chunk_idx, tok, CAST(0 AS BIGINT) AS seq_idx,
          |    0 AS seq_pos, tok AS cum
          |  FROM dtok WHERE chunk_idx = 0
          |  UNION ALL
          |  SELECT d.doc_id, d.chunk_idx, d.tok,
          |    CASE WHEN walk.cum + d.tok > 112 THEN walk.seq_idx + 1 ELSE walk.seq_idx END,
          |    CASE WHEN walk.cum + d.tok > 112 THEN 0 ELSE walk.seq_pos + 1 END,
          |    CASE WHEN walk.cum + d.tok > 112 THEN d.tok ELSE walk.cum + d.tok END
          |  FROM walk JOIN dtok d ON d.doc_id = walk.doc_id
          |    AND d.chunk_idx = walk.chunk_idx + 1)
          |SELECT doc_id, chunk_idx, tok AS n_tokens, seq_idx,
          |  CAST(seq_pos AS INT) AS seq_pos FROM walk"""
          .stripMargin.replace("\n", " ")),
      // the full composition: BPE chain + DSIR chain share one WITH
      // RECURSIVE; `kp` is the q_dsir_sample keep set, and the
      // q_packed_bpe walk runs over only those docs
      "q_dsir_pipeline" -> ("WITH RECURSIVE " + bpeOracleChain + ", " +
        DsirScoreSql + s""",
          |kp AS (SELECT vw.doc_id FROM vw LEFT JOIN vsc USING (doc_id)
          |  WHERE substring(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 4) <
          |    CASE WHEN COALESCE(vsc.score_bits, 0) * 100 >= -105 * COALESCE(vsc.n_feats, 0) THEN 'g'
          |         WHEN COALESCE(vsc.score_bits, 0) * 100 >= -110 * COALESCE(vsc.n_feats, 0) THEN '8000'
          |         WHEN COALESCE(vsc.score_bits, 0) * 100 >= -115 * COALESCE(vsc.n_feats, 0) THEN '4000'
          |         ELSE '2000' END),
          |dw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
          |  WHERE doc_id IN (SELECT doc_id FROM kp)),
          |dc AS (SELECT doc_id, ws,
          |  CAST(ceil(greatest(len(ws) - 4, 1) / 12.0) AS INT) AS nch FROM dw),
          |dch AS (SELECT doc_id, CAST(s.i AS INT) AS chunk_idx,
          |    ws[s.i*12+1 : s.i*12+16] AS cw
          |  FROM dc JOIN generate_series(0, 63) AS s(i) ON s.i < dc.nch),
          |dtok AS (SELECT d.doc_id, d.chunk_idx,
          |    CAST(sum(len(string_split(sk.seg, ' '))) AS INT) AS tok
          |  FROM dch d, UNNEST(d.cw) AS u(word)
          |  JOIN s$bpeMerges sk ON sk.word = u.word
          |  GROUP BY d.doc_id, d.chunk_idx),
          |walk AS (
          |  SELECT doc_id, chunk_idx, tok, CAST(0 AS BIGINT) AS seq_idx,
          |    0 AS seq_pos, tok AS cum
          |  FROM dtok WHERE chunk_idx = 0
          |  UNION ALL
          |  SELECT d.doc_id, d.chunk_idx, d.tok,
          |    CASE WHEN walk.cum + d.tok > 112 THEN walk.seq_idx + 1 ELSE walk.seq_idx END,
          |    CASE WHEN walk.cum + d.tok > 112 THEN 0 ELSE walk.seq_pos + 1 END,
          |    CASE WHEN walk.cum + d.tok > 112 THEN d.tok ELSE walk.cum + d.tok END
          |  FROM walk JOIN dtok d ON d.doc_id = walk.doc_id
          |    AND d.chunk_idx = walk.chunk_idx + 1)
          |SELECT doc_id, chunk_idx, tok AS n_tokens, seq_idx,
          |  CAST(seq_pos AS INT) AS seq_pos FROM walk"""
          .stripMargin.replace("\n", " ")),
      "q_dsir" -> ("WITH " + DsirScoreSql +
        """SELECT vw.doc_id, CAST(COALESCE(vsc.n_feats, 0) AS BIGINT) AS n_feats,
          |  CAST(COALESCE(vsc.score_bits, 0) AS BIGINT) AS score_bits,
          |  COALESCE(vsc.score_bits, 0) * 100 >= -110 * COALESCE(vsc.n_feats, 0) AS keep
          |FROM vw LEFT JOIN vsc USING (doc_id)"""
          .stripMargin.replace("\n", " ")),
      "q_dsir_sample" -> ("WITH " + DsirScoreSql +
        """SELECT doc_id FROM (
          |  SELECT vw.doc_id, COALESCE(vsc.n_feats, 0) AS n_feats,
          |    COALESCE(vsc.score_bits, 0) AS score_bits
          |  FROM vw LEFT JOIN vsc USING (doc_id))
          |WHERE substring(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 4) <
          |  CASE WHEN score_bits * 100 >= -105 * n_feats THEN 'g'
          |       WHEN score_bits * 100 >= -110 * n_feats THEN '8000'
          |       WHEN score_bits * 100 >= -115 * n_feats THEN '4000'
          |       ELSE '2000' END"""
          .stripMargin.replace("\n", " ")),
      // 19661 = 0x4ccd; the 4-hex md5 prefix comparison is engine-neutral
      "q_hash_sample" ->
        """SELECT doc_id FROM documents
          | WHERE substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 4) < '4ccd'"""
          .stripMargin.replace("\n", ""),
      // 32768 = 0x8000, 13107 = 0x3333, 6554 = 0x199a
      "q_hash_sample_stratified" ->
        """SELECT doc_id, lang FROM documents
          | WHERE substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 4) <
          |  CASE lang WHEN 'en' THEN '8000' WHEN 'zh' THEN '199a' ELSE '3333' END"""
          .stripMargin.replace("\n", ""),
      // the global prefix rule the histogram plan must reproduce
      "q_budget_select" ->
        """WITH t AS (SELECT doc_id, CAST(strlen(text) % 997 AS INT) AS score,
          |  CAST(1 + strlen(text) - strlen(replace(text, ' ', '')) AS INT) AS tok
          |  FROM documents),
          |r AS (SELECT doc_id, score, tok,
          |  sum(tok) OVER (ORDER BY score DESC, doc_id ASC ROWS UNBOUNDED PRECEDING) AS cum
          |  FROM t)
          |SELECT doc_id, score, tok FROM r WHERE cum <= 8000"""
          .stripMargin.replace("\n", " "),
      "q_redact_pii" ->
        """WITH inj AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
          |  THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 10.0.'
          |    || CAST(doc_id % 256 AS VARCHAR) || '.1 ref 4921'
          |  ELSE text END AS text FROM documents)
          |SELECT doc_id,
          |  regexp_replace(regexp_replace(regexp_replace(text,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
          |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '[IP]', 'g'),
          |    '[0-9]{4,}', '[NUM]', 'g') AS text,
          |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
          |  CAST(len(regexp_extract_all(text, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS INT) AS n_ips,
          |  CAST(len(regexp_extract_all(regexp_replace(regexp_replace(text,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
          |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '[IP]', 'g'), '[0-9]{4,}')) AS INT) AS n_nums
          |FROM inj""".stripMargin.replace("\n", " "),
      "q_incremental_dedup" ->
        """WITH corpus AS (SELECT text FROM documents WHERE doc_id % 3 <> 0),
          |b AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
          |nw AS (SELECT doc_id, text FROM b
          |  WHERE text NOT IN (SELECT text FROM corpus))
          |SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, md5(text) AS text_hash
          |FROM nw GROUP BY md5(text)""".stripMargin.replace("\n", " "),
      // planted construction: every %10 sibling is flagged (its source
      // pair alone is J >= 6/7 > 0.5), every md5-word clean doc is not
      // (zero shared trigrams with anything; the verify tier kills band
      // collisions) — so the flagged batch-id set is algebraic
      "q_incremental_neardup" ->
        """SELECT DISTINCT CAST(doc_id + 7000000 AS BIGINT) AS batch_id
          |FROM documents WHERE doc_id % 10 = 0""".stripMargin.replace("\n", " "),
      // 58982 = 0xe666 (90%), 58982+3277 = 62259 = 0xf333 (+5%), rest test
      "q_split_assign" ->
        """SELECT doc_id, CASE
          | WHEN substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
          | WHEN substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'f333' THEN 'val'
          | ELSE 'test' END AS split FROM documents""".stripMargin.replace("\n", ""),
      // every stage of the curation composition replayed: PII regexes,
      // the Gopher gram machinery (as in q_gopher_filter, over REDACTED
      // text), GROUP BY text min-id dedup, the 0xb333 (~70%) hash
      // sample, the global (score DESC, id ASC) budget prefix, and the
      // split CASE
      "q_curation_pipeline" ->
        """WITH red AS (SELECT doc_id,
          |  regexp_replace(regexp_replace(regexp_replace(text,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
          |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '[IP]', 'g'),
          |    '[0-9]{4,}', '[NUM]', 'g') AS text FROM documents),
          |w AS (SELECT doc_id, strlen(text) AS nb, string_split(text, ' ') AS ws, text FROM red),
          |n AS (SELECT i FROM generate_series(1, 4096) AS s(i)),
          |g2 AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g FROM w JOIN n ON n.i <= len(ws) - 1),
          |g3 AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g FROM w JOIN n ON n.i <= len(ws) - 2),
          |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
          |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
          |t2 AS (SELECT doc_id, CASE WHEN c >= 2 THEN c * strlen(g) ELSE 0 END AS topc,
          |  row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn FROM c2),
          |d3 AS (SELECT doc_id, COALESCE(SUM(CASE WHEN c >= 2 THEN c * strlen(g) END), 0) AS dupc
          |  FROM c3 GROUP BY 1),
          |kept AS (SELECT w.doc_id, w.text FROM w
          |  LEFT JOIN t2 ON t2.doc_id = w.doc_id AND t2.rn = 1
          |  LEFT JOIN d3 ON d3.doc_id = w.doc_id
          |  WHERE COALESCE(t2.topc, 0) * 10000 <= 2000 * w.nb
          |    AND COALESCE(d3.dupc, 0) * 10000 <= 2000 * w.nb),
          |ded AS (SELECT min(doc_id) AS doc_id, text FROM kept GROUP BY text),
          |samp AS (SELECT doc_id, text FROM ded
          |  WHERE substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'b333'),
          |scored AS (SELECT doc_id, CAST(strlen(text) % 997 AS INT) AS score,
          |  CAST(1 + strlen(text) - strlen(replace(text, ' ', '')) AS INT) AS tok FROM samp),
          |r AS (SELECT doc_id, score, tok,
          |  sum(tok) OVER (ORDER BY score DESC, doc_id ASC ROWS UNBOUNDED PRECEDING) AS cum
          |  FROM scored)
          |SELECT doc_id, score, tok, CASE
          |  WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
          |  WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'f333' THEN 'val'
          |  ELSE 'test' END AS split
          |FROM r WHERE cum <= 6000""".stripMargin.replace("\n", " "),
      // the v1 oracle with the LM-filter CTEs (model over the
      // gopher-surviving en slice) and the substring-cut CTEs (the
      // q_substr_dedup walk over the exact-deduped survivors) spliced
      // in; token counts downstream read the CUT text
      "q_curation_pipeline_v2" ->
        """WITH src AS (SELECT doc_id, lang, CASE WHEN doc_id % 7 = 0
          |  THEN text || ' shared boiler plate sentence appended to exercise span level dedup'
          |  ELSE text END AS text FROM documents),
          |red AS (SELECT doc_id, lang,
          |  regexp_replace(regexp_replace(regexp_replace(text,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
          |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '[IP]', 'g'),
          |    '[0-9]{4,}', '[NUM]', 'g') AS text FROM src),
          |w AS (SELECT doc_id, lang, strlen(text) AS nb, string_split(text, ' ') AS ws, text FROM red),
          |n AS (SELECT i FROM generate_series(1, 4096) AS s(i)),
          |g2 AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g FROM w JOIN n ON n.i <= len(ws) - 1),
          |g3 AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g FROM w JOIN n ON n.i <= len(ws) - 2),
          |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
          |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
          |t2 AS (SELECT doc_id, CASE WHEN c >= 2 THEN c * strlen(g) ELSE 0 END AS topc,
          |  row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn FROM c2),
          |d3 AS (SELECT doc_id, COALESCE(SUM(CASE WHEN c >= 2 THEN c * strlen(g) END), 0) AS dupc
          |  FROM c3 GROUP BY 1),
          |gkept AS (SELECT w.doc_id, w.lang, w.text, w.ws FROM w
          |  LEFT JOIN t2 ON t2.doc_id = w.doc_id AND t2.rn = 1
          |  LEFT JOIN d3 ON d3.doc_id = w.doc_id
          |  WHERE COALESCE(t2.topc, 0) * 10000 <= 2000 * w.nb
          |    AND COALESCE(d3.dupc, 0) * 10000 <= 2000 * w.nb),
          |rbg AS (SELECT ws[n.i] AS w1, ws[n.i+1] AS w2 FROM gkept JOIN n
          |  ON n.i <= len(ws) - 1 WHERE lang = 'en'),
          |mc12 AS (SELECT w1, w2, count(*) AS c12 FROM rbg GROUP BY w1, w2),
          |mc1 AS (SELECT w1, count(*) AS c1 FROM rbg GROUP BY w1),
          |model AS (SELECT mc12.w1, mc12.w2,
          |    CAST(floor(log2(mc1.c1)) - floor(log2(mc12.c12)) AS BIGINT) AS bits
          |  FROM mc12 JOIN mc1 ON mc1.w1 = mc12.w1 WHERE mc12.c12 >= 2),
          |dbg AS (SELECT doc_id, ws[n.i] AS w1, ws[n.i+1] AS w2 FROM gkept JOIN n
          |  ON n.i <= len(ws) - 1),
          |lmsc AS (SELECT dbg.doc_id, count(*) AS n_bigrams,
          |    sum(COALESCE(model.bits, 30)) AS sbits
          |  FROM dbg LEFT JOIN model ON model.w1 = dbg.w1 AND model.w2 = dbg.w2
          |  GROUP BY dbg.doc_id),
          |lmkept AS (SELECT g.doc_id, g.text FROM gkept g
          |  LEFT JOIN lmsc ON lmsc.doc_id = g.doc_id
          |  WHERE COALESCE(lmsc.sbits, 0) * 100 <= 800 * COALESCE(lmsc.n_bigrams, 0)),
          |ded AS (SELECT min(doc_id) AS doc_id, text FROM lmkept GROUP BY text),
          |dw AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM ded),
          |socc0 AS (SELECT doc_id, CAST(s.i AS BIGINT) AS pos,
          |    length(ws[s.i+1]) AS wlen,
          |    array_to_string(ws[s.i+1 : s.i+8], ' ') AS g
          |  FROM dw JOIN generate_series(0, 102) AS s(i) ON s.i <= len(ws) - 8),
          |socc AS (SELECT doc_id, pos, g, length(g) AS glen,
          |    COALESCE(sum(wlen + 1) OVER (PARTITION BY doc_id ORDER BY pos
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS char_start,
          |    doc_id * 2097152 + pos AS pk
          |  FROM socc0),
          |sbg AS (SELECT g, count(*) AS c, min(pk) AS wn FROM socc GROUP BY g),
          |srem AS (SELECT socc.doc_id, char_start, char_start + glen AS char_end
          |  FROM socc JOIN sbg USING (g) WHERE c >= 2 AND pk <> wn),
          |smrg0 AS (SELECT doc_id, char_start, char_end,
          |    max(char_end) OVER (PARTITION BY doc_id ORDER BY char_start, char_end
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
          |  FROM srem),
          |smrg1 AS (SELECT doc_id, char_start, char_end,
          |    sum(CASE WHEN prev_end IS NULL OR char_start > prev_end THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY doc_id ORDER BY char_start, char_end
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
          |  FROM smrg0),
          |sspans AS (SELECT doc_id, min(char_start) AS span_start,
          |    max(char_end) AS span_end
          |  FROM smrg1 GROUP BY doc_id, seg),
          |scut0 AS (SELECT doc_id, span_start, span_end,
          |    COALESCE(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start), 0)
          |      AS prev_end
          |  FROM sspans),
          |scut AS (SELECT c.doc_id,
          |    string_agg(substr(dw.text, CAST(c.prev_end + 1 AS BIGINT),
          |      CAST(c.span_start - c.prev_end AS BIGINT)), '' ORDER BY c.span_start)
          |      AS kept_head,
          |    max(c.span_end) AS last_end,
          |    count(*) AS n_spans
          |  FROM scut0 c JOIN dw ON dw.doc_id = c.doc_id
          |  GROUP BY c.doc_id),
          |cuttext AS (SELECT dw.doc_id,
          |  CASE WHEN scut.doc_id IS NULL THEN dw.text
          |    ELSE COALESCE(scut.kept_head, '') || substr(dw.text, CAST(scut.last_end + 1 AS BIGINT))
          |    END AS text,
          |  COALESCE(scut.n_spans, 0) AS n_spans
          |  FROM dw LEFT JOIN scut ON scut.doc_id = dw.doc_id),
          |samp AS (SELECT doc_id, text, n_spans FROM cuttext
          |  WHERE substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'b333'),
          |scored AS (SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
          |  CAST(strlen(text) % 997 AS INT) AS score,
          |  CAST(1 + strlen(text) - strlen(replace(text, ' ', '')) AS INT) AS tok FROM samp),
          |r AS (SELECT doc_id, n_spans, score, tok,
          |  sum(tok) OVER (ORDER BY score DESC, doc_id ASC ROWS UNBOUNDED PRECEDING) AS cum
          |  FROM scored)
          |SELECT doc_id, score, tok, n_spans, CASE
          |  WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
          |  WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'f333' THEN 'val'
          |  ELSE 'test' END AS split
          |FROM r WHERE cum <= 6000""".stripMargin.replace("\n", " "),
      "q_decontaminated" ->
        """SELECT doc_id,
          |  (SELECT string_agg(md5('' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), ' ' ORDER BY i)
          |   FROM generate_series(1, 20) AS s(i)) AS text
          |FROM documents WHERE doc_id % 10 <> 0""".stripMargin.replace("\n", " "),
      // full 13-gram replay over natural text (no md5 transport needed
      // oracle-side: gram equality is gram equality); the noise test
      // docs are 2 words — no 13-grams — so the test gram set is exactly
      // the %10 docs' grams
      "q_ngram_decontaminated" ->
        """WITH w AS (SELECT doc_id, COALESCE(text, '') AS text,
          |    string_split(COALESCE(text, ''), ' ') AS ws FROM documents),
          |tg AS (SELECT DISTINCT array_to_string(ws[s.i+1 : s.i+13], ' ') AS g
          |  FROM w JOIN generate_series(0, 87) AS s(i) ON s.i <= len(ws) - 13
          |  WHERE doc_id % 10 = 0),
          |flagged AS (SELECT DISTINCT w.doc_id
          |  FROM w JOIN generate_series(0, 87) AS s(i) ON s.i <= len(ws) - 13
          |  JOIN tg ON array_to_string(ws[s.i+1 : s.i+13], ' ') = tg.g)
          |SELECT d.doc_id, d.text FROM documents d
          |  LEFT JOIN flagged f ON d.doc_id = f.doc_id
          |  WHERE f.doc_id IS NULL""".stripMargin.replace("\n", " "),
      // full 13-gram replay of the planted-suffix construction: a gram
      // is cross-doc iff its occurrences span two doc_ids (min<>max);
      // per-doc totals and dup counts restored LEFT so gramless docs
      // report (0, 0)
      "q_dup_gram_stats" -> {
        val bp = (1 to 15).map(k => s"md5('bp#$k')").mkString(" || ' ' || ")
        s"""WITH base AS (SELECT doc_id,
           |    CASE WHEN doc_id % 7 = 0 THEN text || ' ' || $bp
           |         ELSE text END AS text FROM documents),
           |w AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS ws FROM base),
           |gr AS (SELECT doc_id, array_to_string(ws[s.i+1 : s.i+13], ' ') AS g
           |  FROM w JOIN generate_series(0, 102) AS s(i) ON s.i <= len(ws) - 13),
           |x AS (SELECT g FROM gr GROUP BY g HAVING min(doc_id) <> max(doc_id)),
           |t AS (SELECT doc_id, count(*) AS n_grams FROM gr GROUP BY doc_id),
           |d AS (SELECT gr.doc_id, count(*) AS n_dup_grams FROM gr
           |  JOIN x ON gr.g = x.g GROUP BY gr.doc_id)
           |SELECT b.doc_id, CAST(COALESCE(t.n_grams, 0) AS BIGINT) AS n_grams,
           |  CAST(COALESCE(d.n_dup_grams, 0) AS BIGINT) AS n_dup_grams
           |FROM base b LEFT JOIN t ON b.doc_id = t.doc_id
           |  LEFT JOIN d ON b.doc_id = d.doc_id""".stripMargin.replace("\n", " ")
      },
      // the q_split_assign CASE + the 13-gram machinery: held-out grams
      // from val/test docs, train docs flagged on any shared gram
      "q_split_decontam" ->
        """WITH s AS (SELECT doc_id, COALESCE(text, '') AS text,
          |    string_split(COALESCE(text, ''), ' ') AS ws,
          |  CASE WHEN substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
          |       WHEN substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'f333' THEN 'val'
          |       ELSE 'test' END AS split FROM documents),
          |hg AS (SELECT DISTINCT array_to_string(ws[t.i+1 : t.i+13], ' ') AS g
          |  FROM s JOIN generate_series(0, 87) AS t(i) ON t.i <= len(ws) - 13
          |  WHERE split <> 'train'),
          |flagged AS (SELECT DISTINCT s.doc_id
          |  FROM s JOIN generate_series(0, 87) AS t(i) ON t.i <= len(ws) - 13
          |  JOIN hg ON array_to_string(ws[t.i+1 : t.i+13], ' ') = hg.g
          |  WHERE split = 'train')
          |SELECT d.doc_id, d.text FROM documents d
          |  JOIN (SELECT doc_id FROM s WHERE split = 'train') tr ON d.doc_id = tr.doc_id
          |  LEFT JOIN flagged f ON d.doc_id = f.doc_id
          |  WHERE f.doc_id IS NULL""".stripMargin.replace("\n", " "),
      // planted 20-word universe => every doc chunks to (16, 8); the
      // contaminated set collapses to doc_id % 10 = 0 by construction
      "q_contaminated_sequences" ->
        """WITH RECURSIVE ch AS (
          |  SELECT doc_id % 8 AS shard, doc_id, c.chunk_idx, c.tok,
          |    CAST(row_number() OVER (PARTITION BY doc_id % 8
          |      ORDER BY doc_id, c.chunk_idx) AS INT) AS rn
          |  FROM documents CROSS JOIN (VALUES (0, 16), (1, 8)) AS c(chunk_idx, tok)),
          |walk AS (
          |  SELECT shard, doc_id, tok, rn, CAST(0 AS BIGINT) AS seq_idx, tok AS cum
          |  FROM ch WHERE rn = 1
          |  UNION ALL
          |  SELECT ch.shard, ch.doc_id, ch.tok, ch.rn,
          |    CASE WHEN walk.cum + ch.tok > 48 THEN walk.seq_idx + 1 ELSE walk.seq_idx END,
          |    CASE WHEN walk.cum + ch.tok > 48 THEN ch.tok ELSE walk.cum + ch.tok END
          |  FROM walk JOIN ch ON ch.shard = walk.shard AND ch.rn = walk.rn + 1)
          |SELECT CAST(shard AS BIGINT) AS shard, seq_idx,
          |  string_agg(DISTINCT CAST(doc_id AS VARCHAR), ','
          |    ORDER BY CAST(doc_id AS VARCHAR)) AS hit_docs
          |FROM walk WHERE doc_id % 10 = 0 GROUP BY 1, 2""".stripMargin.replace("\n", " "),
      "q_budget_mixture" ->
        """WITH t AS (SELECT doc_id, lang, CAST(strlen(text) % 997 AS INT) AS score,
          |  CAST(1 + strlen(text) - strlen(replace(text, ' ', '')) AS INT) AS tok
          |  FROM documents),
          |r AS (SELECT doc_id, lang, score, tok,
          |  sum(tok) OVER (PARTITION BY lang ORDER BY score DESC, doc_id ASC
          |    ROWS UNBOUNDED PRECEDING) AS cum FROM t)
          |SELECT doc_id, lang, score, tok FROM r WHERE cum <= CASE lang
          |  WHEN 'en' THEN 3000 WHEN 'de' THEN 2000 WHEN 'fr' THEN 1500
          |  WHEN 'es' THEN 1500 WHEN 'zh' THEN 1000 END"""
          .stripMargin.replace("\n", " "),
      // paragraph-level dedup: replay the planted paragraph structure
      // (<= 3 paragraphs per doc by construction, series bound 8), the
      // first-occurrence-by-(doc_id, idx) winner rule, and the ordered
      // reassembly; string_agg skips the NULLed-out losers exactly as
      // Spark's array_join skips nulls, and COALESCE('') matches
      // array_join's empty result for a doc that lost every paragraph
      // model training + scoring replayed end-to-end: c12/c1 from the
      // en slice, minCount pruning in the model CTE (c1 counted
      // pre-pruning), quantized surprisal = floor(log2(c1)) -
      // floor(log2(c12)), OOV = 30 bits, keep via cross-multiplication
      "q_lm_score" ->
        """WITH w AS (SELECT doc_id, lang,
          |    string_split(COALESCE(text, ''), ' ') AS ws FROM documents),
          |bg AS (SELECT doc_id, lang, ws[s.i] AS w1, ws[s.i+1] AS w2
          |  FROM w JOIN generate_series(1, 99) AS s(i) ON s.i <= len(ws) - 1),
          |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg WHERE lang = 'en' GROUP BY w1, w2),
          |c1 AS (SELECT w1, count(*) AS c1 FROM bg WHERE lang = 'en' GROUP BY w1),
          |model AS (SELECT c12.w1, c12.w2,
          |    CAST(floor(log2(c1.c1)) - floor(log2(c12.c12)) AS BIGINT) AS bits
          |  FROM c12 JOIN c1 ON c1.w1 = c12.w1 WHERE c12.c12 >= 2),
          |sc AS (SELECT bg.doc_id, count(*) AS n_bigrams,
          |    sum(CASE WHEN model.bits IS NULL THEN 1 ELSE 0 END) AS n_oov,
          |    sum(COALESCE(model.bits, 30)) AS surprisal_bits
          |  FROM bg LEFT JOIN model ON model.w1 = bg.w1 AND model.w2 = bg.w2
          |  GROUP BY bg.doc_id)
          |SELECT w.doc_id,
          |  CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
          |  CAST(COALESCE(sc.n_oov, 0) AS BIGINT) AS n_oov,
          |  CAST(COALESCE(sc.surprisal_bits, 0) AS BIGINT) AS surprisal_bits,
          |  COALESCE(sc.surprisal_bits, 0) * 100 <= 800 * COALESCE(sc.n_bigrams, 0) AS keep
          |FROM w LEFT JOIN sc ON sc.doc_id = w.doc_id""".stripMargin.replace("\n", " "),
      "q_lm_junk" ->
        """WITH src AS (SELECT doc_id, COALESCE(text, '') AS text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000,
          |    md5(CAST(doc_id AS VARCHAR) || '#1') || ' ' ||
          |    md5(CAST(doc_id AS VARCHAR) || '#2') || ' ' ||
          |    md5(CAST(doc_id AS VARCHAR) || '#3') || ' ' ||
          |    md5(CAST(doc_id AS VARCHAR) || '#4') || ' ' ||
          |    md5(CAST(doc_id AS VARCHAR) || '#5') || ' ' ||
          |    md5(CAST(doc_id AS VARCHAR) || '#6')
          |  FROM documents),
          |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM src),
          |ref AS (SELECT string_split(COALESCE(text, ''), ' ') AS ws
          |  FROM documents WHERE lang = 'en'),
          |rbg AS (SELECT ws[s.i] AS w1, ws[s.i+1] AS w2
          |  FROM ref JOIN generate_series(1, 99) AS s(i) ON s.i <= len(ws) - 1),
          |c12 AS (SELECT w1, w2, count(*) AS c12 FROM rbg GROUP BY w1, w2),
          |c1 AS (SELECT w1, count(*) AS c1 FROM rbg GROUP BY w1),
          |model AS (SELECT c12.w1, c12.w2,
          |    CAST(floor(log2(c1.c1)) - floor(log2(c12.c12)) AS BIGINT) AS bits
          |  FROM c12 JOIN c1 ON c1.w1 = c12.w1 WHERE c12.c12 >= 2),
          |bg AS (SELECT doc_id, ws[s.i] AS w1, ws[s.i+1] AS w2
          |  FROM w JOIN generate_series(1, 99) AS s(i) ON s.i <= len(ws) - 1),
          |sc AS (SELECT bg.doc_id, count(*) AS n_bigrams,
          |    sum(CASE WHEN model.bits IS NULL THEN 1 ELSE 0 END) AS n_oov,
          |    sum(COALESCE(model.bits, 30)) AS surprisal_bits
          |  FROM bg LEFT JOIN model ON model.w1 = bg.w1 AND model.w2 = bg.w2
          |  GROUP BY bg.doc_id)
          |SELECT src.doc_id,
          |  CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
          |  CAST(COALESCE(sc.n_oov, 0) AS BIGINT) AS n_oov,
          |  CAST(COALESCE(sc.surprisal_bits, 0) AS BIGINT) AS surprisal_bits,
          |  COALESCE(sc.surprisal_bits, 0) * 100 <= 800 * COALESCE(sc.n_bigrams, 0) AS keep
          |FROM src LEFT JOIN sc ON sc.doc_id = src.doc_id""".stripMargin.replace("\n", " "),
      // full algorithm replay in integer arithmetic: grams + char
      // offsets (window prefix sum), winner = min(doc_id*2^21 + pos)
      // per gram, removal = duplicated non-winners, merge via
      // running-max/segment-sum windows — the same walk as the Spark
      // plan, keyed on the gram text (Spark keys on its md5; same
      // partition). generate_series bound 92 == guardMaxWords(100) - 8.
      "q_substr_spans" ->
        """WITH w AS (SELECT doc_id, COALESCE(text, '') AS text,
          |    string_split(COALESCE(text, ''), ' ') AS ws FROM documents),
          |occ0 AS (SELECT doc_id, CAST(s.i AS BIGINT) AS pos,
          |    length(ws[s.i+1]) AS wlen,
          |    array_to_string(ws[s.i+1 : s.i+8], ' ') AS g
          |  FROM w JOIN generate_series(0, 92) AS s(i) ON s.i <= len(ws) - 8),
          |occ AS (SELECT doc_id, pos, g, length(g) AS glen,
          |    COALESCE(sum(wlen + 1) OVER (PARTITION BY doc_id ORDER BY pos
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS char_start,
          |    doc_id * 2097152 + pos AS pk
          |  FROM occ0),
          |bg AS (SELECT g, count(*) AS c, min(pk) AS wn FROM occ GROUP BY g),
          |rem AS (SELECT occ.doc_id, char_start, char_start + glen AS char_end
          |  FROM occ JOIN bg USING (g) WHERE c >= 2 AND pk <> wn),
          |mrg0 AS (SELECT doc_id, char_start, char_end,
          |    max(char_end) OVER (PARTITION BY doc_id ORDER BY char_start, char_end
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
          |  FROM rem),
          |mrg1 AS (SELECT doc_id, char_start, char_end,
          |    sum(CASE WHEN prev_end IS NULL OR char_start > prev_end THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY doc_id ORDER BY char_start, char_end
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
          |  FROM mrg0)
          |SELECT doc_id, CAST(min(char_start) AS BIGINT) AS span_start,
          |  CAST(max(char_end) AS BIGINT) AS span_end
          |FROM mrg1 GROUP BY doc_id, seg""".stripMargin.replace("\n", " "),
      // the q_substr_dedup walk with removal = test-gram occurrences
      // (13-grams of the %10 docs) instead of dup losers; same merge +
      // complement-interval reassembly
      "q_excised" ->
        """WITH w AS (SELECT doc_id, COALESCE(text, '') AS text,
          |    string_split(COALESCE(text, ''), ' ') AS ws FROM documents),
          |tg AS (SELECT DISTINCT array_to_string(ws[s.i+1 : s.i+13], ' ') AS g
          |  FROM w JOIN generate_series(0, 87) AS s(i) ON s.i <= len(ws) - 13
          |  WHERE doc_id % 10 = 0),
          |occ0 AS (SELECT doc_id, CAST(s.i AS BIGINT) AS pos,
          |    length(ws[s.i+1]) AS wlen,
          |    array_to_string(ws[s.i+1 : s.i+13], ' ') AS g
          |  FROM w JOIN generate_series(0, 87) AS s(i) ON s.i <= len(ws) - 13),
          |occ AS (SELECT doc_id, pos, g, length(g) AS glen,
          |    COALESCE(sum(wlen + 1) OVER (PARTITION BY doc_id ORDER BY pos
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS char_start
          |  FROM occ0),
          |rem AS (SELECT occ.doc_id, char_start, char_start + glen AS char_end
          |  FROM occ JOIN tg USING (g)),
          |mrg0 AS (SELECT doc_id, char_start, char_end,
          |    max(char_end) OVER (PARTITION BY doc_id ORDER BY char_start, char_end
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
          |  FROM rem),
          |mrg1 AS (SELECT doc_id, char_start, char_end,
          |    sum(CASE WHEN prev_end IS NULL OR char_start > prev_end THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY doc_id ORDER BY char_start, char_end
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
          |  FROM mrg0),
          |spans AS (SELECT doc_id, min(char_start) AS span_start,
          |    max(char_end) AS span_end
          |  FROM mrg1 GROUP BY doc_id, seg),
          |cut0 AS (SELECT doc_id, span_start, span_end,
          |    COALESCE(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start), 0)
          |      AS prev_end
          |  FROM spans),
          |cut AS (SELECT c.doc_id,
          |    string_agg(substr(w.text, CAST(c.prev_end + 1 AS BIGINT),
          |      CAST(c.span_start - c.prev_end AS BIGINT)), '' ORDER BY c.span_start)
          |      AS kept_head,
          |    max(c.span_end) AS last_end,
          |    count(*) AS n_spans,
          |    sum(c.span_end - c.span_start) AS chars_removed
          |  FROM cut0 c JOIN w ON w.doc_id = c.doc_id
          |  GROUP BY c.doc_id)
          |SELECT w.doc_id,
          |  CASE WHEN cut.doc_id IS NULL THEN w.text
          |    ELSE COALESCE(cut.kept_head, '') || substr(w.text, CAST(cut.last_end + 1 AS BIGINT))
          |    END AS text,
          |  CAST(COALESCE(cut.n_spans, 0) AS BIGINT) AS n_spans,
          |  CAST(COALESCE(cut.chars_removed, 0) AS BIGINT) AS chars_removed
          |FROM w LEFT JOIN cut ON cut.doc_id = w.doc_id""".stripMargin.replace("\n", " "),
      // the q_substr_spans walk + complement-interval reassembly:
      // kept piece before span k = substr(text, prev_end+1,
      // start_k - prev_end) with prev_end = lag(span_end) default 0,
      // tail = substr(text, last_end+1); untouched docs pass through
      // with zero counters
      "q_substr_dedup" ->
        """WITH w AS (SELECT doc_id, COALESCE(text, '') AS text,
          |    string_split(COALESCE(text, ''), ' ') AS ws FROM documents),
          |occ0 AS (SELECT doc_id, CAST(s.i AS BIGINT) AS pos,
          |    length(ws[s.i+1]) AS wlen,
          |    array_to_string(ws[s.i+1 : s.i+8], ' ') AS g
          |  FROM w JOIN generate_series(0, 92) AS s(i) ON s.i <= len(ws) - 8),
          |occ AS (SELECT doc_id, pos, g, length(g) AS glen,
          |    COALESCE(sum(wlen + 1) OVER (PARTITION BY doc_id ORDER BY pos
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS char_start,
          |    doc_id * 2097152 + pos AS pk
          |  FROM occ0),
          |bg AS (SELECT g, count(*) AS c, min(pk) AS wn FROM occ GROUP BY g),
          |rem AS (SELECT occ.doc_id, char_start, char_start + glen AS char_end
          |  FROM occ JOIN bg USING (g) WHERE c >= 2 AND pk <> wn),
          |mrg0 AS (SELECT doc_id, char_start, char_end,
          |    max(char_end) OVER (PARTITION BY doc_id ORDER BY char_start, char_end
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
          |  FROM rem),
          |mrg1 AS (SELECT doc_id, char_start, char_end,
          |    sum(CASE WHEN prev_end IS NULL OR char_start > prev_end THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY doc_id ORDER BY char_start, char_end
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
          |  FROM mrg0),
          |spans AS (SELECT doc_id, min(char_start) AS span_start,
          |    max(char_end) AS span_end
          |  FROM mrg1 GROUP BY doc_id, seg),
          |cut0 AS (SELECT doc_id, span_start, span_end,
          |    COALESCE(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start), 0)
          |      AS prev_end
          |  FROM spans),
          |cut AS (SELECT c.doc_id,
          |    string_agg(substr(w.text, CAST(c.prev_end + 1 AS BIGINT),
          |      CAST(c.span_start - c.prev_end AS BIGINT)), '' ORDER BY c.span_start)
          |      AS kept_head,
          |    max(c.span_end) AS last_end,
          |    count(*) AS n_spans,
          |    sum(c.span_end - c.span_start) AS chars_removed
          |  FROM cut0 c JOIN w ON w.doc_id = c.doc_id
          |  GROUP BY c.doc_id)
          |SELECT w.doc_id,
          |  CASE WHEN cut.doc_id IS NULL THEN w.text
          |    ELSE COALESCE(cut.kept_head, '') || substr(w.text, CAST(cut.last_end + 1 AS BIGINT))
          |    END AS text,
          |  CAST(COALESCE(cut.n_spans, 0) AS BIGINT) AS n_spans,
          |  CAST(COALESCE(cut.chars_removed, 0) AS BIGINT) AS chars_removed
          |FROM w LEFT JOIN cut ON cut.doc_id = w.doc_id""".stripMargin.replace("\n", " "),
      "q_substr_planted" ->
        """WITH w AS (SELECT doc_id,
          |    COALESCE(text, '') || ' MID ' || COALESCE(text, '') AS text,
          |    string_split(COALESCE(text, '') || ' MID ' || COALESCE(text, ''), ' ') AS ws
          |  FROM documents),
          |occ0 AS (SELECT doc_id, CAST(s.i AS BIGINT) AS pos,
          |    length(ws[s.i+1]) AS wlen,
          |    array_to_string(ws[s.i+1 : s.i+8], ' ') AS g
          |  FROM w JOIN generate_series(0, 193) AS s(i) ON s.i <= len(ws) - 8),
          |occ AS (SELECT doc_id, pos, g, length(g) AS glen,
          |    COALESCE(sum(wlen + 1) OVER (PARTITION BY doc_id ORDER BY pos
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS char_start,
          |    doc_id * 2097152 + pos AS pk
          |  FROM occ0),
          |bg AS (SELECT g, count(*) AS c, min(pk) AS wn FROM occ GROUP BY g),
          |rem AS (SELECT occ.doc_id, char_start, char_start + glen AS char_end
          |  FROM occ JOIN bg USING (g) WHERE c >= 2 AND pk <> wn),
          |mrg0 AS (SELECT doc_id, char_start, char_end,
          |    max(char_end) OVER (PARTITION BY doc_id ORDER BY char_start, char_end
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
          |  FROM rem),
          |mrg1 AS (SELECT doc_id, char_start, char_end,
          |    sum(CASE WHEN prev_end IS NULL OR char_start > prev_end THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY doc_id ORDER BY char_start, char_end
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
          |  FROM mrg0),
          |spans AS (SELECT doc_id, min(char_start) AS span_start,
          |    max(char_end) AS span_end
          |  FROM mrg1 GROUP BY doc_id, seg),
          |cut0 AS (SELECT doc_id, span_start, span_end,
          |    COALESCE(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start), 0)
          |      AS prev_end
          |  FROM spans),
          |cut AS (SELECT c.doc_id,
          |    string_agg(substr(w.text, CAST(c.prev_end + 1 AS BIGINT),
          |      CAST(c.span_start - c.prev_end AS BIGINT)), '' ORDER BY c.span_start)
          |      AS kept_head,
          |    max(c.span_end) AS last_end,
          |    count(*) AS n_spans,
          |    sum(c.span_end - c.span_start) AS chars_removed
          |  FROM cut0 c JOIN w ON w.doc_id = c.doc_id
          |  GROUP BY c.doc_id)
          |SELECT w.doc_id,
          |  CASE WHEN cut.doc_id IS NULL THEN w.text
          |    ELSE COALESCE(cut.kept_head, '') || substr(w.text, CAST(cut.last_end + 1 AS BIGINT))
          |    END AS text,
          |  CAST(COALESCE(cut.n_spans, 0) AS BIGINT) AS n_spans,
          |  CAST(COALESCE(cut.chars_removed, 0) AS BIGINT) AS chars_removed
          |FROM w LEFT JOIN cut ON cut.doc_id = w.doc_id""".stripMargin.replace("\n", " "),
      "q_paragraph_dedup" ->
        """WITH src AS (SELECT doc_id, text
          |  || CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'boiler ' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END
          |  || CASE WHEN doc_id % 10 = 0 THEN chr(10) ELSE '' END AS text
          |  FROM documents),
          |w AS (SELECT doc_id, string_split(text, chr(10)) AS ps FROM src),
          |n AS (SELECT i FROM generate_series(1, 8) AS s(i)),
          |p AS (SELECT doc_id, n.i AS idx, ps[n.i] AS para FROM w JOIN n ON n.i <= len(ps)),
          |k AS (SELECT doc_id, idx, para,
          |  row_number() OVER (PARTITION BY para ORDER BY doc_id ASC, idx ASC) = 1 AS keep
          |  FROM p)
          |SELECT doc_id,
          |  COALESCE(string_agg(CASE WHEN keep THEN para END, chr(10) ORDER BY idx), '') AS text,
          |  CAST(count(*) AS BIGINT) AS n_paras,
          |  CAST(COALESCE(sum(CASE WHEN keep THEN 1 END), 0) AS BIGINT) AS n_kept
          |FROM k GROUP BY doc_id""".stripMargin.replace("\n", " "),
      "q_epoch_mix" ->
        """SELECT doc_id, lang, CAST(s.i AS INT) AS epoch FROM documents
          | JOIN generate_series(1, 3) AS s(i)
          |  ON s.i <= CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 2 WHEN 'zh' THEN 2 ELSE 1 END"""
          .stripMargin.replace("\n", ""),
      // fixed-point rates: 98304=1+0x8000, 131072=2+0x0000, 32768=0+0x8000,
      // 180224=2+0xc000, 65536=1+0x0000; bucket < '0000' is never true
      "q_temperature_mix" ->
        """WITH c AS (SELECT doc_id, lang,
          |  CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 2 WHEN 'fr' THEN 0
          |    WHEN 'es' THEN 2 WHEN 'zh' THEN 1 END
          |  + CASE WHEN substring(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 4) <
          |      CASE lang WHEN 'en' THEN '8000' WHEN 'de' THEN '0000' WHEN 'fr' THEN '8000'
          |        WHEN 'es' THEN 'c000' WHEN 'zh' THEN '0000' END
          |    THEN 1 ELSE 0 END AS copies
          |  FROM documents)
          |SELECT doc_id, lang, CAST(s.i AS INT) AS epoch
          |FROM c JOIN generate_series(1, 3) AS s(i) ON s.i <= copies"""
          .stripMargin.replace("\n", " "),
      // the reproducible-training-order contract: shard = first hex
      // digit of md5('graft:' || doc_id || ':' || epoch), ord = rank of
      // the full md5 within the shard (ties impossible: copy keys are
      // unique and the key itself is the final tiebreak)
      "q_training_order" ->
        """WITH m AS (SELECT doc_id, CAST(s.i AS INT) AS epoch FROM documents
          |  JOIN generate_series(1, 3) AS s(i)
          |   ON s.i <= CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 2 WHEN 'zh' THEN 2 ELSE 1 END),
          |o AS (SELECT doc_id, epoch,
          |  CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR) AS k,
          |  md5('graft:' || CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)) AS ok
          |  FROM m)
          |SELECT doc_id, epoch, substring(ok, 1, 1) AS shard,
          |  CAST(row_number() OVER (PARTITION BY substring(ok, 1, 1) ORDER BY ok ASC, k ASC) AS INT) AS ord
          |FROM o""".stripMargin.replace("\n", " "),
      "q_media_features" ->
        "SELECT doc_id, 18 AS n_dims FROM documents",
      "q_frame_sample" ->
        """SELECT doc_id, f AS frame_idx FROM documents
          | CROSS JOIN (VALUES (0),(2),(4),(6)) AS v(f)
          | WHERE f < length(text) % 7 + 1""".stripMargin.replace("\n", ""),
      "q_media_resize" ->
        """SELECT doc_id, 8 AS width, 8 AS height, CAST(64 AS INT) AS n_bytes
          | FROM documents""".stripMargin.replace("\n", "")
    )
  }
}
