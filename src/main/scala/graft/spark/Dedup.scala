package graft.spark

import graft.spark.catalyst.GraftSparkExtensions
import graft.text.Fingerprints
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data deduplication operators over a documents table
  * (doc_id, text, ...): exact (hash groupBy), MinHash+LSH banding,
  * SimHash, and exact n-gram Jaccard verification.
  *
  * Scale notes:
  *  - exact dedup is one hash-aggregate (map-side partial + final);
  *  - LSH candidate generation is explode(bands) -> self-join on the
  *    band key: the join is hash-partitioned on band_hash, so each
  *    bucket is colocated; candidate count per bucket is bounded by the
  *    band collision rate, not the corpus size;
  *  - signatures are computed once per doc in a single projection
  *    (no shuffle) — at 100 TB this stage is embarrassingly parallel.
  */
object Dedup {

  // word-3-gram shingles: for natural text they separate near-dups from
  // same-vocabulary neighbors far better than char shingles (two random
  // docs over a small shared vocabulary share most char-5-grams but
  // almost no word trigrams)
  private val sigUdf = udf((text: String) =>
    Fingerprints.minHash(Fingerprints.wordShingles(if (text == null) "" else text)).toSeq)
  private val bandsUdf = udf((sig: Seq[Long]) =>
    Fingerprints.lshBands(sig.toArray).toSeq)
  private val minhashSimUdf = udf((a: Seq[Long], b: Seq[Long]) =>
    Fingerprints.minHashSimilarity(a.toArray, b.toArray))

  /** Exact duplicate groups: md5(text) -> count. */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("cnt"))

  /** Deterministic near-duplicates for exercising the LSH path on
    * synthetic data: each doc gets a sibling (doc_id + offset) with one
    * word appended — word-3-gram Jaccard n/(n+1), far above any random
    * same-vocabulary pair (~0.002), and all original shingles preserved.
    */
  def withPerturbed(docs: DataFrame, offset: Long = 1000000L): DataFrame = {
    val perturbed = docs.select(
      (col("doc_id") + lit(offset)).as("doc_id"),
      concat(col("text"), lit(" zzappendedmarker")).as("text"))
    docs.select(col("doc_id"), col("text")).unionByName(perturbed)
  }

  /** Deterministic near-dup CHAINS for exercising group resolution: each
    * doc A gets sibling B (doc_id + offset, one marker word appended) and
    * sibling C (doc_id + 2*offset, two marker words appended). All three
    * pairwise word-3-gram Jaccards are high (A~B = t/(t+1), B~C =
    * (t+1)/(t+2), A~C = t/(t+2), t = the doc's distinct-trigram count),
    * so {A, B, C} must resolve to ONE connected component with survivor
    * min(doc_id) = A — SQL-predictable. The marker words never occur in
    * document text, so chains from different base docs share no trigram.
    */
  def withPerturbedChain(docs: DataFrame, offset: Long = 1000000L): DataFrame = {
    val b = docs.select(col("doc_id"), col("text"))
    b.unionByName(b.select((col("doc_id") + lit(offset)).as("doc_id"),
        concat(col("text"), lit(" zzchainmarkerone")).as("text")))
      .unionByName(b.select((col("doc_id") + lit(2 * offset)).as("doc_id"),
        concat(col("text"), lit(" zzchainmarkerone zzchainmarkertwo")).as("text")))
  }

  /** Default per-band-bucket population cap for near-dup candidate
    * generation. A real crawl corpus is GUARANTEED to contain
    * mass-duplicated boilerplate; one such cluster of m docs in a single
    * band bucket yields m^2/2 candidate pairs. Two defenses, both on by
    * default in [[nearDupPairs]]:
    *  1. exact-dedup tier first — byte-identical texts collapse to one
    *     canonical doc (min doc_id) BEFORE banding, so exact-dup clusters
    *     can't flood a bucket at all;
    *  2. any band bucket still holding more than `maxBucketSize` distinct
    *     (near- but not byte-identical) docs is dropped from candidate
    *     generation and surfaced via [[oversizeBuckets]] — a bounded,
    *     observable loss instead of an unbounded quadratic join.
    */
  val DefaultMaxBucketSize = 64

  /** Canonical-doc minhash signatures: one row per distinct text
    * (min doc_id wins). Text is hashed in the projection; only
    * (md5, doc_id, sig) — never the text itself — reaches the shuffle.
    */
  private def canonicalSignatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("text_hash"),
        sigUdf(col("text")).as("sig"))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"), first(col("sig")).as("sig"))
      .select(col("doc_id"), col("sig"))

  /** Exploded band table over canonical signatures (one row per
    * (doc, band)). The band_hash shuffle this feeds is the subtree every
    * consumer — candidate self-join sides and the oversize-bucket
    * aggregate — shares via exchange reuse.
    */
  private def canonicalBands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), explode(bandsUdf(col("sig"))).as("band_hash"))

  /** (doc_id, band_hash) of `docs`' canonical docs, one per distinct text
    * (an index's and a probe's rows): twins count once toward a bucket cap. */
  private[spark] def bandRows(docs: DataFrame): DataFrame =
    canonicalBands(canonicalSignatures(docs))

  /** Keys of band buckets whose population exceeds the cap — a TINY
    * relation by construction (each row is a mass-collision cluster), so
    * the bucket cap is enforced with a broadcast anti-join instead of a
    * per-bucket count Window: the Window's partitionBy(band_hash) sort
    * over the FULL band table (twice — once per self-join side above the
    * reused exchange) was the measured cost of dropping the old .cache(),
    * and at corpus scale sorting every band row just to read a count is
    * the wrong plan shape anyway. A hash aggregate + broadcast anti-join
    * does the same gating sort-free.
    */
  private def oversizeBucketKeys(bands: DataFrame, maxBucketSize: Int): DataFrame =
    bands.groupBy(col("band_hash"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucketSize)
      .select(col("band_hash"))

  /** The dropped-candidate metric for [[nearDupPairs]]: band buckets
    * whose population exceeded the cap, with the pair count each would
    * have contributed. Emit/inspect this alongside the pairs (never
    * silently truncate — SURVEY "no silent caps").
    */
  def oversizeBuckets(docs: DataFrame,
                      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    bandRows(docs)
      .groupBy(col("band_hash"))
      .agg(count(lit(1)).as("bucket_n_docs"))
      .filter(col("bucket_n_docs") > maxBucketSize)
      .select(col("band_hash"), col("bucket_n_docs"),
        (col("bucket_n_docs") * (col("bucket_n_docs") - 1) / 2).as("pairs_dropped"))

  /** Near-dup candidate pairs via capped band-bucket self-join, verified
    * with minhash similarity >= simThreshold. Returns (a, b, est_sim),
    * a < b, over canonical docs (exact dups collapse to min doc_id first;
    * recover full groups by composing with [[exactDupGroups]]).
    *
    * NO .cache() despite four consumers of the
    * signature subtree (both self-join sides + two sig-attach joins):
    * every consumer sits downstream of the canonicalization EXCHANGE
    * (groupBy text_hash), whose canonical plan is identical across
    * consumers, so Spark's exchange reuse executes the scan + minhash
    * UDF once and serves the other consumers from the shuffle files —
    * the same work-sharing the old cache bought, without pinning blocks
    * in the block manager for the session lifetime (ADVICE r3: repeated
    * verify/bench invocations accumulated cached partitions). DedupSpec
    * gates both the ReusedExchange in the plan and the empty post-query
    * block manager.
    */
  def nearDupPairs(docs: DataFrame, simThreshold: Double = 0.7,
                   maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val sigs = canonicalSignatures(docs)
    val allBands = canonicalBands(sigs)
    val bands = allBands.join(
      broadcast(oversizeBucketKeys(allBands, maxBucketSize)),
      Seq("band_hash"), "left_anti")
    val cand = bands.as("l").join(bands.as("r"),
        col("l.band_hash") === col("r.band_hash") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .distinct()
    cand
      .join(sigs.withColumnRenamed("doc_id", "a").withColumnRenamed("sig", "sig_a"), "a")
      .join(sigs.withColumnRenamed("doc_id", "b").withColumnRenamed("sig", "sig_b"), "b")
      .select(col("a"), col("b"), minhashSimUdf(col("sig_a"), col("sig_b")).as("est_sim"))
      .filter(col("est_sim") >= simThreshold)
  }

  /** Exact word-3-gram Jaccard for verified pairs (joins text back):
    * n_inter / n_union of [[ngramJaccardDetail]]. A shingle set is never
    * empty, so n_union >= 1 and the double equals Fingerprints.jaccard.
    */
  def ngramJaccardPairs(docs: DataFrame, pairs: DataFrame,
                        threshold: Double = 0.5): DataFrame =
    ngramJaccardDetail(docs, pairs)
      .select(col("a"), col("b"), (col("n_inter") / col("n_union")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  // null texts shingle as "" (the sigUdf convention): Scala UDFs over
  // String args ARE invoked with null, and an unguarded null would NPE
  // the verification tier mid-composition
  private val jaccardDetailUdf = udf((a: String, b: String) => {
    val sa = Fingerprints.wordShingles(if (a == null) "" else a)
    val sb = Fingerprints.wordShingles(if (b == null) "" else b)
    val inter = Fingerprints.intersectionCount(sa, sb)
    (inter.toLong, (sa.length + sb.length - inter).toLong)
  })

  /** Exact word-3-gram intersection/union COUNTS for candidate pairs —
    * the verification tier with its arithmetic exposed (integer counts,
    * so an oracle can pin the verified set without floating-point
    * hashing). Returns (a, b, n_inter, n_union); Jaccard =
    * n_inter / n_union. The counts leave through a one-row generator,
    * so a filter on them does not re-run the UDF (as in
    * Filtering.c4LineClean).
    */
  def ngramJaccardDetail(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), col("text"))
    pairs
      .join(t.withColumnRenamed("doc_id", "a").withColumnRenamed("text", "text_a"), "a")
      .join(t.withColumnRenamed("doc_id", "b").withColumnRenamed("text", "text_b"), "b")
      .select(col("a"), col("b"), inline(array(jaccardDetailUdf(col("text_a"), col("text_b")))))
      .select(col("a"), col("b"), col("_1").as("n_inter"), col("_2").as("n_union"))
  }

  private val triUdf = udf((text: String) => {
    val ws = (if (text == null) "" else text).split(" ", -1)
    if (ws.length < 3) Seq.empty[String]
    else (0 to ws.length - 3).map(i => ws(i) + " " + ws(i + 1) + " " + ws(i + 2)).distinct
  })

  /** Exact all-pairs word-trigram Jaccard >= threshold (no sketching):
    * distinct-gram explode -> gram-key equi-join (hash-partitioned on the
    * gram, so co-occurring docs colocate) -> per-pair intersection count
    * -> Jaccard from per-doc sizes. This is the *verification* tier; at
    * corpus scale the LSH candidates (nearDupPairs) bound the pair space
    * first. Returns (a, b), a < b.
    */
  def exactNgramJaccardPairs(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val tri = docs.select(col("doc_id"), explode(triUdf(col("text"))).as("g"))
    val sizes = tri.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = tri.as("l").join(tri.as("r"),
        col("l.g") === col("r.g") && col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sz_a")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("sz_b")), "b")
      .filter(col("i").cast("double") / (col("sz_a") + col("sz_b") - col("i")) >= threshold)
      .select(col("a"), col("b"))
  }

  /** SimHash per doc + 16-bit prefix bucket (near-dup blocking key).
    * Uses the native codegen'd [[graft.spark.catalyst.SimHash64]]
    * expression (bit-identical to Fingerprints.simHash; nulls hash as
    * the empty string, matching the old UDF's guard).
    */
  def simhashTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        GraftSparkExtensions.simhash64(coalesce(col("text"), lit(""))).as("simhash"))
      .withColumn("bucket", shiftrightunsigned(col("simhash"), 48))

  /** Winnowing fingerprints (doc_id, fingerprint) exploded — substring-
    * level dedup/contamination lookup table. Plans the native
    * [[graft.spark.catalyst.WinnowFingerprints]] Generator (no
    * intermediate array encode; null text hashes as the empty string,
    * matching the old UDF's guard).
    */
  def fingerprintTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      GraftSparkExtensions.winnow_fingerprints(coalesce(col("text"), lit(""))))

  /** Default corpus document-frequency cap for [[contamination]]: a
    * fingerprint appearing in more corpus docs than this is boilerplate
    * (license headers, navigation chrome), not evidence of copying, and
    * its bucket would contribute df × testDocs join rows. Dropped from
    * BOTH sides, so containment stays well-defined; the drop is
    * observable via [[contaminationHotFingerprints]].
    */
  val DefaultMaxFingerprintDocFreq = 10000

  /** The dropped-fingerprint metric for [[contamination]]: corpus
    * fingerprints whose document frequency exceeds the cap (never drop
    * silently — SURVEY "no silent caps").
    */
  def contaminationHotFingerprints(corpus: DataFrame,
                                   maxDocFreq: Int = DefaultMaxFingerprintDocFreq): DataFrame =
    fingerprintTable(corpus).distinct()
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") > maxDocFreq)

  /** Contamination check — THE flagship consumer of [[fingerprintTable]]
    * in a training-data pipeline (SURVEY §2.2b): which test-set
    * documents appear verbatim inside the training corpus, and in which
    * corpus document. A test doc is flagged against corpus doc `doc_id`
    * when EVERY one of its (non-boilerplate) winnowing fingerprints
    * occurs in that doc — full containment, not any-overlap: natural
    * corpora share common k-grams, so any-overlap flags everything. A
    * byte-identical copy has the identical fingerprint set (the
    * deterministic winnow of the same text), so exact-copy contamination
    * is flagged with certainty; partial verbatim inclusions share a run
    * of fingerprints (the Schleimer et al. SIGMOD'03 guarantee: any
    * match of length >= w+k-1 shares at least one) and surface as high
    * n_fp short of full containment — relax the filter to a ratio for
    * that regime. Returns (test_id, doc_id, n_fp).
    *
    * Scale shape: corpus fingerprints are built once (at 100 TB, write
    * them partitioned by fingerprint and reuse across test-set
    * releases); the candidate join is hash-partitioned on the
    * fingerprint; fingerprints above `maxDocFreq` corpus docs are
    * removed from both sides by a broadcast anti-join (the hot-key
    * defense — one boilerplate gram in 10^8 docs would otherwise emit
    * 10^8 join rows per test doc containing it). A test doc ALL of
    * whose fingerprints are boilerplate (n_fp_total == 0) cannot be
    * flagged — inspect [[contaminationHotFingerprints]] when that
    * matters.
    */
  def contamination(corpus: DataFrame, testSet: DataFrame,
                    maxDocFreq: Int = DefaultMaxFingerprintDocFreq): DataFrame =
    // contaminationFrom consults the corpus fingerprints three times
    // (doc-freq ranking, candidate postings, verification) — declarative,
    // each consumer re-scans AND re-winnows the corpus (same plan-copy
    // effect as symClosure's edges; measured 7.2 -> 3.9 s on the
    // q_decontaminated composition at sf0.1). Materialize the bounded
    // ids-only (doc_id, fingerprint) relation once; at corpus scale use
    // [[contaminationAgainstIndex]], where the persisted bucketed index
    // makes the re-reads cheap instead.
    contaminationFrom(fingerprintTable(corpus).distinct().localCheckpoint(),
      testSet, maxDocFreq)

  /** Build the PERSISTED corpus fingerprint index — the production shape
    * of [[contamination]] at 100 TB: winnowing the corpus is by far the
    * dominant cost and is independent of any test set, so it runs ONCE;
    * the index is written bucketed on the fingerprint (the key every
    * contamination join and the doc-freq aggregate use), and each
    * test-set release probes it with no corpus re-scan, no corpus-side
    * winnow, and no corpus-side shuffle (the bucketed layout already
    * satisfies the join/agg clustering — PlanSpec-gated).
    */
  /** Shared writer for the three persisted dedup indexes (fingerprint /
    * hash / band): drop any existing table, clear an orphaned managed
    * location (a previous session may have left files behind with no
    * catalog entry in THIS session's metastore — saveAsTable then
    * refuses with LOCATION_ALREADY_EXISTS), and write bucketed+sorted
    * on the probe key. ONE implementation so the path logic cannot
    * drift between the three indexes.
    *
    * The orphan path comes from the CATALOG's own placement rule
    * (`defaultTablePath`), not string concatenation off the warehouse
    * dir: with a non-default current database the managed location is
    * <warehouse>/<db>.db/<table>, and a name-concatenated path would
    * delete a DIFFERENT database's directory while missing the real
    * orphan. Single-part names only — a qualified name or custom
    * location is outside this helper's contract.
    */
  private def writeBucketedIndex(df: DataFrame, table: String,
                                 keyCol: String, nBuckets: Int): Unit = {
    require(!table.contains(".") && !table.contains("/"),
      s"index writer requires a single-part managed table name, got '$table'")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite")
      .bucketBy(nBuckets, keyCol)
      .sortBy(keyCol)
      .format("parquet")
      .saveAsTable(table)
  }

  def writeFingerprintIndex(corpus: DataFrame, table: String,
                            nBuckets: Int = 64): Unit =
    writeBucketedIndex(fingerprintTable(corpus).distinct(),
      table, "fingerprint", nBuckets)

  /** Contamination check against a persisted index written by
    * [[writeFingerprintIndex]] — identical output to [[contamination]]
    * on the same corpus (DedupSpec-pinned equality).
    */
  def contaminationAgainstIndex(spark: SparkSession, indexTable: String,
                                testSet: DataFrame,
                                maxDocFreq: Int = DefaultMaxFingerprintDocFreq): DataFrame =
    contaminationFrom(spark.table(indexTable), testSet, maxDocFreq)

  private def contaminationFrom(cfp: DataFrame, testSet: DataFrame,
                                maxDocFreq: Int): DataFrame = {
    // test side is consulted three times (totals, rarest-fp ranking, the
    // verification join) and a test-set release is SMALL by definition —
    // materialize its fingerprints once (same move as the partial
    // regime; measured: the 3x re-winnow of a corpus-sized planted test
    // set dominated q_decontaminated, 7.4 -> 4.4 s at sf0.1). This also
    // empties the probe plan of winnows entirely, so DedupSpec's index
    // gate asserts ZERO winnow nodes — any corpus re-winnow regression
    // reappears as a plan line and fails the gate.
    val tfp = fingerprintTable(testSet).distinct()
      .withColumnRenamed("doc_id", "test_id")
      .localCheckpoint()
    val dfreq = cfp.groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("doc_freq"))
    val hot = dfreq.filter(col("doc_freq") > maxDocFreq).select(col("fingerprint"))
    val cKept = cfp.join(broadcast(hot), Seq("fingerprint"), "left_anti")
    val tKept = tfp.join(broadcast(hot), Seq("fingerprint"), "left_anti")

    // Candidate generation via PREFIX FILTERING (the rarest-token trick
    // of set-similarity joins): a naive any-shared-fingerprint join
    // emits one row per (test doc x corpus doc x common gram) — measured
    // 21.8M rows / 2.4M candidate pairs at sf0.1, nearly all failing
    // containment. Since containment requires EVERY fingerprint to
    // match, it suffices to generate candidates through each test doc's
    // LOWEST-doc-freq fingerprint: candidate volume drops to
    // sum_t df(rarest_fp(t)) — ~1 per verbatim copy — and a test doc
    // with any fingerprint absent from the corpus (n_found < n_total,
    // e.g. every clean doc) is pruned before generation entirely.
    val tTotals = tKept.groupBy(col("test_id")).agg(count(lit(1)).as("n_fp_total"))
    val tFound = tKept.join(dfreq, "fingerprint")
      .groupBy(col("test_id"))
      .agg(count(lit(1)).as("n_found"),
        min_by(col("fingerprint"), col("doc_freq")).as("fingerprint"))
    val viable = tFound.join(tTotals, "test_id")
      .filter(col("n_found") === col("n_fp_total"))
      .select(col("test_id"), col("fingerprint"), col("n_fp_total"))
    val cand = viable.join(cKept, "fingerprint")
      .select(col("test_id"), col("doc_id"), col("n_fp_total"))

    // exact verification, bounded by the candidate pairs: count the test
    // doc's fingerprints present in the candidate corpus doc; both fp
    // tables are distinct per (id, fingerprint), so the count is exact
    cand.join(tKept, "test_id")
      .join(cKept, Seq("doc_id", "fingerprint"))
      .groupBy(col("test_id"), col("doc_id"), col("n_fp_total"))
      .agg(count(lit(1)).as("n_fp"))
      .filter(col("n_fp") === col("n_fp_total"))
      .select(col("test_id"), col("doc_id"), col("n_fp"))
  }

  // ===== near-dup GROUP resolution (round 5) ===============================

  /** Symmetric edge closure of an undirected edge list (a, b), with a
    * self-loop per vertex, MATERIALIZED (localCheckpoint) — the one
    * relation every hash-min propagation step scans. The self-loops make
    * each step exactly `join labels on src -> min(comp) per dst`.
    *
    * The checkpoint is deliberate, and it matters: a purely declarative
    * chain re-embeds the caller's whole upstream pipeline (here LSH
    * banding -> trigram verify) once per reference, ~4 copies per
    * iteration, and AQE re-optimizes each copy separately so exchange
    * reuse does NOT collapse them — the upstream pipeline re-executes
    * tens of times (measured on the q_dedup_corpus composition at
    * sf0.01: 95-113 s declarative vs ~3 s materialized). The
    * materialization is bounded at 2|E| + |V| two-long-column rows (no
    * text), lives on the executors, and is released with the result —
    * the standard checkpoint step of distributed CC (GraphX/GraphFrames
    * checkpoint for exactly this lineage/plan-blowup reason).
    */
  private def symClosure(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a").as("src"), col("b").as("dst"))
    val verts = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
    e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .unionByName(verts.select(col("id").as("src"), col("id").as("dst")))
      .localCheckpoint()
  }

  /** Every vertex starts as its own component. The self-loops make
    * `sym`'s distinct sources exactly the vertex set. */
  private def initLabels(sym: DataFrame): DataFrame =
    sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))

  /** One hash-min hop: each vertex adopts the minimum component label
    * among its neighbors (self-loop included, so labels never regress). */
  private def propagateMin(sym: DataFrame, labels: DataFrame): DataFrame =
    sym.join(labels.withColumnRenamed("id", "src"), Seq("src"))
      .groupBy(col("dst"))
      .agg(min(col("comp")).as("comp"))
      .select(col("dst").as("id"), col("comp"))

  /** Connected components over an undirected edge list (a, b) by
    * hash-min label propagation over the materialized [[symClosure]],
    * with OBSERVED convergence instead of a trusted iteration bound:
    * propagate in blocks of `blockIters` hops, materialize the labels,
    * and stop as soon as no edge crosses two components (the
    * [[unstableEdges]] predicate evaluated on the symmetric closure).
    * Hash-min moves the minimum label one hop per iteration, so a
    * component needs as many hops as its diameter. Near-dup graphs
    * converge in 1-2 hops (dense sibling/boilerplate families), so the
    * common cost is ONE block plus one convergence count — measured 2-3x
    * cheaper than a fixed 8-iteration chain at sf0.1 — while a
    * pathological high-diameter graph keeps iterating up to `maxIters`
    * and a non-converged exit THROWS rather than returning half-merged
    * components (the GraphFrames / Pregel loop shape: driver-side counts
    * between blocks, every iterated relation checkpointed so plans stay
    * shallow). At 10^12-row scale swap in the large-star/small-star
    * contraction if components with huge diameters appear; for dedup
    * graphs they do not.
    *
    * Returns (id, comp) — comp = min vertex id of the component.
    */
  def connectedComponentsConverged(edges: DataFrame, blockIters: Int = 2,
                                   maxIters: Int = 32): DataFrame = {
    require(blockIters > 0, s"blockIters must be positive, got $blockIters")
    require(maxIters >= blockIters, s"maxIters ($maxIters) < blockIters ($blockIters)")
    val sym = symClosure(edges)
    var labels = initLabels(sym)
    var done = false
    var it = 0
    while (!done && it < maxIters) {
      var b = 0
      while (b < blockIters) { labels = propagateMin(sym, labels); b += 1 }
      labels = labels.localCheckpoint()
      it += blockIters
      // converged iff no (symmetric-closure) edge spans two components;
      // self-loops are trivially stable and cost two broadcastable joins
      done = unstableEdges(labels,
        sym.select(col("src").as("a"), col("dst").as("b"))).isEmpty
    }
    if (!done)
      throw new IllegalStateException(
        s"connectedComponentsConverged: not converged after $it hops " +
          s"(component diameter exceeds maxIters=$maxIters) — raise maxIters")
    labels
  }

  /** Convergence check for [[connectedComponentsConverged]]: edges whose
    * endpoints were assigned different components. Empty iff the label
    * propagation has converged.
    */
  def unstableEdges(labels: DataFrame, edges: DataFrame): DataFrame =
    edges
      .join(labels.select(col("id").as("a"), col("comp").as("comp_a")), Seq("a"))
      .join(labels.select(col("id").as("b"), col("comp").as("comp_b")), Seq("b"))
      .filter(col("comp_a") =!= col("comp_b"))

  /** Near-duplicate GROUPS with a keep-one survivor policy — the
    * composition a corpus dedup actually runs (pairs alone are not a
    * dedup): LSH candidates -> exact word-3-gram verification ->
    * connected components (convergence OBSERVED, `iters` as the hop
    * cap — see [[connectedComponentsConverged]]) -> survivor = min
    * doc_id per component. Returns (doc_id, survivor) for every doc
    * that belongs to some verified near-dup pair (docs with no
    * near-dup are absent — they are their own trivial group).
    */
  def nearDupGroups(docs: DataFrame, simThreshold: Double = 0.7,
                    jaccardThreshold: Double = 0.5, iters: Int = 8,
                    maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val cand = nearDupPairs(docs, simThreshold, maxBucketSize)
      .select(col("a"), col("b"))
    val verified = ngramJaccardPairs(docs, cand, jaccardThreshold)
      .select(col("a"), col("b"))
    connectedComponentsConverged(verified, blockIters = 2, maxIters = iters)
      .select(col("id").as("doc_id"), col("comp").as("survivor"))
  }

  /** Corpus -> kept documents, END TO END: exact tier (byte-identical
    * texts collapse to min doc_id) then near-dup tier (LSH -> verify ->
    * components -> min-id survivor). Returns the kept docs with their
    * original columns.
    *
    * Scale shape: only (doc_id, md5) rows cross the exact tier's
    * exchange and only ids cross the near-dup tier (both tiers reuse
    * [[nearDupPairs]]' guarantees); the single full-width corpus
    * movement is the final left_anti join on doc_id, whose loser side
    * holds ONLY the duplicates. A corpus stored bucketed on doc_id makes
    * that join shuffle-free on the corpus side.
    */
  def dedupedCorpus(docs: DataFrame, simThreshold: Double = 0.7,
                    jaccardThreshold: Double = 0.5, iters: Int = 8,
                    maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // hash coalesce(text, ''): md5(null) is SQL null, and null never
    // equals null in the equi-join below — null-text duplicates would
    // silently escape the exact tier (sigUdf already treats null as ""
    // on the near-dup tier, so the two tiers now agree)
    val ids = docs.select(col("doc_id"),
      md5(coalesce(col("text"), lit(""))).as("h"))
    val keep = ids.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    val exactLosers = ids.join(keep, "h")
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"))
    val nearLosers = nearDupGroups(docs, simThreshold, jaccardThreshold,
        iters, maxBucketSize)
      .filter(col("doc_id") =!= col("survivor"))
      .select(col("doc_id"))
    docs.join(exactLosers.unionByName(nearLosers).distinct(),
      Seq("doc_id"), "left_anti")
  }

  /** [[nearDupGroups]] with a caller-supplied SURVIVOR POLICY: the kept
    * doc per component is the one with the highest `scoreCol` (longest /
    * highest-quality — what production dedup actually keeps; min-id is
    * an arbitrary choice that systematically discards the better copy
    * when near-dups differ in quality), ties broken to min doc_id so
    * the choice stays deterministic. `scoreCol` must be non-null
    * (fail-loud) and exactly representable (integer-like) — the
    * survivor election joins on score EQUALITY, so a score whose
    * recomputation can drift (float expression re-planned differently)
    * would corrupt the election silently.
    *
    * Scale shape: components come from [[nearDupGroups]] (its label IS
    * the component key); the election is two hash-aggregable passes —
    * max(score) per component, then min(doc_id) among the maximal —
    * plus key-only joins. Only (doc_id, comp, score) triples ever move;
    * group membership is tiny relative to the corpus (near-dup members
    * only).
    */
  def nearDupGroupsBy(docs: DataFrame, scoreCol: Column,
                      simThreshold: Double = 0.7,
                      jaccardThreshold: Double = 0.5, iters: Int = 8,
                      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val comp = nearDupGroups(docs, simThreshold, jaccardThreshold, iters,
        maxBucketSize)
      .select(col("doc_id"), col("survivor").as("__comp"))
    val scored = comp.join(
      docs.select(col("doc_id"), guardedScore(scoreCol).as("__score")),
      Seq("doc_id"))
    val best = scored.groupBy(col("__comp")).agg(max(col("__score")).as("__score"))
    val surv = scored.join(best, Seq("__comp", "__score"))
      .groupBy(col("__comp")).agg(min(col("doc_id")).as("survivor"))
    comp.join(surv, Seq("__comp")).select(col("doc_id"), col("survivor"))
  }

  /** [[dedupedCorpus]] with the best-score survivor policy, applied
    * SEQUENTIALLY the way a production pipeline runs it: exact tier
    * first (byte-identical texts keep the best-scored copy, ties to min
    * doc_id), then the near-dup tier ([[nearDupGroupsBy]]) over the
    * exact survivors. Sequencing matters under a score policy: running
    * the near tier over the raw corpus would let a byte-twin the exact
    * tier discards cast a component vote, and the two tiers could elect
    * DIFFERENT survivors for the same text (with min-id the tiers agree
    * by construction, so [[dedupedCorpus]] can run them independently).
    * Same movement bound as [[dedupedCorpus]]: ids/hashes/scores cross
    * the exchanges, full-width rows only in the two left_anti joins.
    */
  def dedupedCorpusBy(docs: DataFrame, scoreCol: Column,
                      simThreshold: Double = 0.7,
                      jaccardThreshold: Double = 0.5, iters: Int = 8,
                      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val ids = docs.select(col("doc_id"), guardedScore(scoreCol).as("__score"),
      md5(coalesce(col("text"), lit(""))).as("h"))
    val best = ids.groupBy(col("h")).agg(max(col("__score")).as("__score"))
    val keep = ids.join(best, Seq("h", "__score"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    // pin the loser ids (r6): `kept` below is consulted by every
    // near-tier subtree (signatures, both verify text joins, the score
    // attach), and declaratively each consult would re-run the whole
    // exact tier (corpus md5 + two exchanges) — AQE re-optimizes each
    // copy, so exchange reuse does not collapse them (the
    // symClosure edge lesson). The pinned relation is ids
    // ONLY, bounded by the duplicate count; with it every `kept`
    // consult is one scan + one broadcastable anti-join.
    val exactLosers = ids.join(keep, Seq("h"))
      .filter(col("doc_id") =!= col("keep_id")).select(col("doc_id"))
      .localCheckpoint()
    val kept = docs.join(exactLosers, Seq("doc_id"), "left_anti")
    val nearLosers = nearDupGroupsBy(kept, scoreCol, simThreshold,
        jaccardThreshold, iters, maxBucketSize)
      .filter(col("doc_id") =!= col("survivor")).select(col("doc_id"))
    kept.join(nearLosers, Seq("doc_id"), "left_anti")
  }

  // a NULL score would vanish from max() and elect a wrong (or no)
  // survivor silently — the same corruption class as a null hash key
  private def guardedScore(scoreCol: Column): Column =
    when(scoreCol.isNull,
      raise_error(lit("survivor score is NULL — nearDupGroupsBy/" +
        "dedupedCorpusBy require a non-null score for every doc"))
        .cast("long"))
      .otherwise(scoreCol)

  // ===== partial-inclusion contamination (round 5) =========================

  /** Partial-inclusion contamination check — the regime [[contamination]]
    * documents but does not cover: real test-set leakage is usually a
    * quoted PARAGRAPH inside a training doc, not a whole-doc copy. Flags
    * (test_id, doc_id) when at least `minRatio` of the test doc's
    * (non-boilerplate) winnowing fingerprints occur in that corpus doc.
    * The Schleimer et al. SIGMOD'03 winnowing guarantee makes the count
    * meaningful: every shared substring of length >= w+k-1 contributes a
    * shared fingerprint, and a shared region of length L contributes
    * ~2L/(w+1) of them (window-aligned interior minima are selected
    * identically in both docs), so the matched-fingerprint ratio tracks
    * the copied fraction of the test doc.
    *
    * Shape: a DIRECT overlap count — broadcast the test-set fingerprints
    * (a release is small by definition), join the corpus postings once,
    * and count matches per (test_id, doc_id) in a partial-aggregating
    * hash agg. The prefix filter that powers [[contamination]] is
    * deliberately NOT used here: with m = ceil(minRatio * n) required
    * matches it may only skip the n - m + 1 rarest probes — at
    * full containment (m = n) that is all-but-one and the filter is the
    * whole optimization, but at a moderate ratio it trims the probe side
    * by just (1-r)·n while forcing a SECOND exact-verification pass over
    * the surviving candidate pairs. Measured at sf0.1 against this
    * corpus's low-selectivity fingerprint space (6.2k distinct
    * fingerprints, mean df ~87, 1.49M candidate pairs at r=0.3): prefix
    * filter + pair-local array verify 17.6 s; this direct count 4-5 s.
    * The scale bound is the hot-fingerprint cap, not the filter: join
    * volume <= |test fingerprints| x maxDocFreq, the corpus postings
    * never shuffle (scan -> broadcast join -> partial agg), and
    * fingerprints in more than `maxDocFreq` corpus docs are boilerplate,
    * dropped from BOTH sides (same defense, same observability via
    * [[contaminationHotFingerprints]] as the full-containment check).
    * Returns (test_id, doc_id, n_fp, n_fp_total).
    */
  def contaminationPartial(corpus: DataFrame, testSet: DataFrame,
                           minRatio: Double = 0.5,
                           maxDocFreq: Int = DefaultMaxFingerprintDocFreq): DataFrame =
    // The plan consults the corpus fingerprint relation twice (hot-df
    // ranking, count-join postings); winnowed on the fly it would
    // re-scan + re-winnow the corpus per reference (AQE re-optimizes
    // each copy, so exchange reuse does not collapse them — same
    // failure mode as symClosure's edges). Materialize it once:
    // bounded, ids-only (doc_id, fingerprint). At real corpus scale use
    // [[contaminationPartialAgainstIndex]] — there the corpus side is a
    // persisted bucketed table whose re-scan is cheap and pruned, and
    // nothing is checkpointed.
    contaminationPartialFrom(
      fingerprintTable(corpus).distinct().localCheckpoint(), testSet,
      minRatio, maxDocFreq)

  /** [[contaminationPartial]] against a persisted index written by
    * [[writeFingerprintIndex]] — the per-release production probe, no
    * corpus re-scan/winnow.
    */
  def contaminationPartialAgainstIndex(spark: SparkSession, indexTable: String,
                                       testSet: DataFrame, minRatio: Double = 0.5,
                                       maxDocFreq: Int = DefaultMaxFingerprintDocFreq): DataFrame =
    contaminationPartialFrom(spark.table(indexTable), testSet, minRatio, maxDocFreq)

  private def contaminationPartialFrom(cfp: DataFrame, testSet: DataFrame,
                                       minRatio: Double, maxDocFreq: Int): DataFrame = {
    require(minRatio > 0.0 && minRatio <= 1.0,
      s"minRatio must be in (0, 1], got $minRatio")
    // test side is consulted twice (totals + the count join) and a
    // test-set release is SMALL by definition — materialize its
    // fingerprints once and broadcast them below
    val tfp = fingerprintTable(testSet).distinct()
      .withColumnRenamed("doc_id", "test_id")
      .localCheckpoint()
    val dfreq = cfp.groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("doc_freq"))
    val hot = dfreq.filter(col("doc_freq") > maxDocFreq).select(col("fingerprint"))
    val cKept = cfp.join(broadcast(hot), Seq("fingerprint"), "left_anti")
    val tKept = tfp.join(broadcast(hot), Seq("fingerprint"), "left_anti")

    val tTotals = tKept.groupBy(col("test_id")).agg(count(lit(1)).as("n_fp_total"))

    // direct overlap count (see the Scaladoc regime analysis): one
    // broadcast hash join on the corpus-postings scan — nothing
    // corpus-sized shuffles — and the per-pair match count folds in the
    // map-side partial aggregate, so only distinct (test, doc) pairs
    // with their counts cross the exchange (<= |test fps| x maxDocFreq
    // rows pre-agg, by the hot cap)
    cKept.join(broadcast(tKept), "fingerprint")
      .groupBy(col("test_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_fp"))
      .join(broadcast(tTotals), "test_id")
      .filter(col("n_fp") >= ceil(col("n_fp_total") * lit(minRatio)).cast("long"))
      .select(col("test_id"), col("doc_id"), col("n_fp"), col("n_fp_total"))
  }

  /** Build the PERSISTED exact-dedup hash index — the production shape
    * of incremental ingestion at 100 TB: the already-accepted corpus is
    * hashed ONCE and stored as 16-byte md5 hex keys (no text), bucketed
    * AND sorted on the hash so every future batch anti-joins against it
    * with no corpus-side shuffle or sort (the bucketed layout already
    * satisfies the join clustering — same contract as
    * [[writeFingerprintIndex]], FilteringSpec plan-gates it). After
    * accepting a batch, append its new hashes (`.mode("append")` keeps
    * the bucket spec) and the loop continues.
    */
  def writeHashIndex(corpus: DataFrame, table: String,
                     nBuckets: Int = 64): Unit =
    // null text hashes as '' (not SQL null): a null md5 never equals
    // anything in the anti-join below, so a null-text doc would be
    // re-accepted as "new" in EVERY batch — unbounded duplicates
    writeBucketedIndex(
      corpus.select(md5(coalesce(col("text"), lit(""))).as("text_hash")).distinct(),
      table, "text_hash", nBuckets)

  /** Incremental exact dedup of a new batch against a [[writeHashIndex]]
    * corpus: rows whose text was never seen — neither in the indexed
    * corpus nor earlier (by `idCol` ascending) in the batch itself.
    * Returns one row per NEW distinct hash: (min id, text_hash, text).
    *
    * Scale shape: the batch is hashed scan-side, deduped within itself
    * by ONE hash aggregate (min-id survivor), and anti-joined against
    * the index on the hash. The index side is pre-bucketed on the join
    * key, so only the (already hash-collapsed) batch shuffles; corpus
    * text is never read at all — the index stores hashes only.
    */
  def newAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                      indexTable: String, batch: DataFrame,
                      idCol: String = "doc_id"): DataFrame = {
    val inBatch = batch
      .select(col(idCol),
        md5(coalesce(col("text"), lit(""))).as("text_hash"), col("text"))
      .groupBy(col("text_hash"))
      .agg(min_by(struct(col(idCol), col("text")), col(idCol)).as("w"))
      .select(col(s"w.$idCol").as(idCol), col("text_hash"), col("w.text").as("text"))
    inBatch.join(spark.table(indexTable), Seq("text_hash"), "left_anti")
  }

  /** Persisted LSH BAND index — the NEAR-dup sibling of
    * [[writeHashIndex]]: the accepted corpus's canonical minhash band
    * keys stored as (doc_id, band_hash) — no text, no signatures —
    * bucketed AND sorted on band_hash, so every future batch probes it
    * with no corpus-side shuffle (and the hot-bucket census below
    * aggregates on the bucket column shuffle-free too). After accepting
    * a batch, append its band rows (`.mode("append")` keeps the bucket
    * spec) and the near-dup ingestion loop closes exactly like the
    * exact-dedup one.
    */
  def writeBandIndex(corpus: DataFrame, table: String,
                     nBuckets: Int = 64): Unit =
    writeBucketedIndex(bandRows(corpus),
      table, "band_hash", nBuckets)

  /** Near-dup CANDIDATES of a new batch against a [[writeBandIndex]]
    * corpus: one row per (batch_id, doc_id) pair sharing at least one
    * band bucket, with the shared-band count. The batch is signed and
    * banded scan-side (its text never shuffles — only (id, band_hash)
    * rows move toward the pre-bucketed index), and band buckets whose
    * INDEX population exceeds `maxBucketSize` are excluded via the same
    * broadcast anti-join gating as [[nearDupPairs]] — a bounded,
    * observable loss ([[oversizeIndexBuckets]]) instead of an unbounded
    * join blow-up on boilerplate clusters.
    *
    * This is the candidate tier only, by design: confirmation stays
    * the existing exact verification ([[ngramJaccardPairs]] /
    * [[ngramJaccardDetail]]) over the candidate docs' texts — point
    * reads at corpus scale, never a corpus sweep.
    */
  def newNearDupCandidates(spark: org.apache.spark.sql.SparkSession,
                           indexTable: String, batch: DataFrame,
                           maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val idx = spark.table(indexTable)
    // DISTINCT docs per bucket, not rows: a crash-window replay can
    // legally append a batch's band rows twice (the ledger commits
    // last), and a row count would let those duplicates push a bucket
    // over the cap and silently drop it from every future probe — the
    // duplicate rows must stay storage-only. The distinct agg still
    // rides the bucketed layout (band_hash is the clustering column).
    val hot = idx.groupBy(col("band_hash"))
      .agg(countDistinct(col("doc_id")).as("bucket_n"))
      .filter(col("bucket_n") > maxBucketSize)
      .select(col("band_hash"))
    bandRows(batch)
      .withColumnRenamed("doc_id", "batch_id")
      .join(broadcast(hot), Seq("band_hash"), "left_anti")
      .join(idx, Seq("band_hash"))
      .groupBy(col("batch_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** The dropped-bucket metric for [[newNearDupCandidates]]: index band
    * buckets over the cap, with their DISTINCT-doc populations (never
    * silently truncate; distinct for the same replay-duplicate reason
    * as the gating above). Aggregates on the index's bucket column —
    * shuffle-free.
    */
  def oversizeIndexBuckets(spark: org.apache.spark.sql.SparkSession,
                           indexTable: String,
                           maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    spark.table(indexTable)
      .groupBy(col("band_hash"))
      .agg(countDistinct(col("doc_id")).as("bucket_n"))
      .filter(col("bucket_n") > maxBucketSize)

  /** Decontamination as a corpus transform — the flag→DROP composition
    * that closes the loop [[contamination]]/[[contaminationPartial]]
    * open: remove from the corpus every document flagged as containing
    * test-set material, and keep the removal observable (the flagged
    * (test_id, doc_id) pairs are what an eval-integrity audit wants,
    * so callers needing them run the flag stage directly).
    *
    * `minRatio = 1.0` is full containment ([[contamination]]); below it
    * the partial-inclusion regime ([[contaminationPartial]]). The drop
    * is a left_anti join on doc_id against the DISTINCT flagged doc set
    * — full-width corpus rows move only in that final join (shuffle-free
    * corpus side if the corpus is stored bucketed on doc_id); everything
    * upstream handles fingerprints and ids only.
    */
  def decontaminatedCorpus(corpus: DataFrame, testSet: DataFrame,
                           minRatio: Double = 1.0,
                           maxDocFreq: Int = DefaultMaxFingerprintDocFreq): DataFrame = {
    val flagged =
      if (minRatio >= 1.0) contamination(corpus, testSet, maxDocFreq)
      else contaminationPartial(corpus, testSet, minRatio, maxDocFreq)
    corpus.join(flagged.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
  }

  /** The words of a text for the word-n-gram operators: its split on
    * single spaces (empties kept), a null text counting as ''.
    */
  private[spark] def gramWords(text: Column): Column =
    split(coalesce(text, lit("")), " ")

  /** 1-based start positions of the word n-grams of the words `ws`,
    * [1, size - n + 1]. sequence() DESCENDS when start > stop, so a text
    * shorter than n gets an empty array, not sequence(1, 0).
    */
  private[spark] def gramStarts(ws: Column, n: Int): Column =
    when(size(ws) >= n, sequence(lit(1), size(ws) - (n - 1)))
      .otherwise(array().cast("array<int>"))

  /** md5 of each word n-gram of `ws` (its words joined by ' '), in
    * position order.
    */
  private[spark] def gramHashes(ws: Column, n: Int): Column =
    transform(gramStarts(ws, n), i => md5(array_join(slice(ws, i, lit(n)), " ")))

  /** Exact word-n-gram overlap contamination — the GPT-3/Llama-style
    * decontamination criterion (Brown et al. 2020 Appendix C: flag a
    * training doc if it shares ANY 13-gram with an eval example),
    * complementing the winnowing tiers: [[contamination]] needs (a
    * sampled cover of) the WHOLE test doc present, [[contaminationPartial]]
    * a fingerprint RATIO; this flags on a single verbatim n-gram — the
    * strictest published criterion, and exactly replayable (no sampling:
    * every gram is hashed, so the check is deterministic, which is also
    * why it is the most join-volume-hungry of the three and hides behind
    * the smaller default n only at the caller's choice).
    *
    * Returns (doc_id, n_shared_grams) for flagged corpus docs —
    * n_shared_grams counts the doc's gram POSITIONS whose gram occurs
    * anywhere in the test set (the audit number: how much of the doc is
    * compromised), not distinct grams.
    *
    * Scale shape: gram text never crosses an exchange — both sides
    * project to md5 hashes scan-side (the SubstringDedup pattern). The
    * test-set gram set is DISTINCT and broadcast (a release is small by
    * definition — the [[contamination]] contract), so the corpus side is
    * scan → broadcast LEFT SEMI join → one partial-aggregating hash agg
    * on doc_id: zero shuffles of corpus data beyond (doc_id, count)
    * partials. No hot-gram cap is needed: the semi join emits at most
    * one row per corpus gram position regardless of test-side frequency.
    */
  def ngramContamination(corpus: DataFrame, testSet: DataFrame,
                         n: Int = 13): DataFrame = {
    require(n >= 2, s"gram size must be >= 2, got $n")
    val grams = (df: DataFrame, idCol: String) =>
      df.select(col(idCol), gramWords(col("text")).as("ws"))
        .select(col(idCol), explode(gramHashes(col("ws"), n)).as("h"))
    val testGrams = broadcast(grams(testSet, "test_id").select(col("h")).distinct())
    grams(corpus, "doc_id")
      .join(testGrams, Seq("h"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** [[ngramContamination]] as a corpus transform: drop every corpus doc
    * sharing at least one word n-gram with the test set (the GPT-3
    * decontamination applied at doc granularity; span-level surgery on
    * flagged docs is [[SubstringDedup]]'s job). Same shape as
    * [[decontaminatedCorpus]]: full-width rows move only in the final
    * left_anti join on doc_id.
    */
  def ngramDecontaminatedCorpus(corpus: DataFrame, testSet: DataFrame,
                                n: Int = 13): DataFrame =
    corpus.join(ngramContamination(corpus, testSet, n).select(col("doc_id")),
      Seq("doc_id"), "left_anti")

  /** Per-document CROSS-document duplication signal: for each doc, how
    * many of its word-n-gram positions carry a gram that also occurs in
    * at least one OTHER document (the RefinedWeb/MassiveText
    * "duplicate n-gram fraction" quality feature, cross-doc flavor —
    * WITHIN-doc repetition is [[graft.spark.Filtering]]'s Gopher stats'
    * domain, and a gram repeated only inside one doc is deliberately
    * NOT counted here). Returns (doc_id, n_grams, n_dup_grams); docs
    * with fewer than n words have no grams and report (0, 0) rather
    * than disappearing. The caller derives the fraction — integers
    * only here so the result hashes exactly cross-engine.
    *
    * Scale shape: grams are md5-hashed scan-side (gram text never
    * crosses an exchange — the [[ngramContamination]] transport). A
    * gram is cross-doc iff min(doc_id) != max(doc_id) over its
    * occurrences — ONE hash aggregate keyed on the gram hash with
    * map-side partial min/max (never a countDistinct, whose partials
    * are unbounded sets). The census covers EVERY gram hash, so an
    * inner join back to the position table keeps every position row
    * and ONE per-doc aggregate produces BOTH counts (total and
    * flagged) — a separate totals branch would re-run the corpus scan
    * + gram hashing a third time. Exchanges carry fixed-width rows
    * only, never wider than (16-byte hash, id, boolean); the corpus is
    * scanned twice (census + join probe) — a stored gram-position
    * table would make it once.
    */
  def crossDocDupGrams(corpus: DataFrame, n: Int = 13,
                       textCol: String = "text"): DataFrame = {
    require(n >= 2, s"gram size must be >= 2, got $n")
    val positions = corpus
      .select(col("doc_id"), gramWords(col(textCol)).as("ws"))
      .select(col("doc_id"), explode(gramHashes(col("ws"), n)).as("h"))
    val census = positions
      .groupBy(col("h"))
      .agg((min(col("doc_id")) =!= max(col("doc_id"))).as("dup"))
    val perDoc = positions
      .join(census, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("dup"), 1)).as("n_dup_grams"))
    corpus.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"))
  }

  /** Corpus-wide PARAGRAPH-level exact dedup (the MassiveText /
    * RefinedWeb "remove duplicated paragraphs across documents" stage —
    * doc-level dedup misses boilerplate that repeats INSIDE otherwise
    * distinct pages). A paragraph keeps its first occurrence in
    * (doc_id, paragraph index) order and is removed everywhere else;
    * documents are reassembled from their surviving paragraphs in
    * original order. Empty paragraphs (from doubled separators) are
    * treated uniformly — they dedup like any other paragraph, so the
    * output is a pure function of the corpus, not of a skip-list.
    *
    * Every input document stays in the output (no silent row drops): a
    * document whose every paragraph lost is an empty-text row with its
    * `n_paras`/`n_kept` counters telling the story.
    *
    * Scale shape (the 100 TB plan):
    *  1. posexplode(split) — shuffle-free, scan-speed;
    *  2. winner per paragraph = ONE hash aggregate of min(packed
    *     (doc_id, idx)) keyed by md5(para) — the occurrence coordinate
    *     is PACKED into a single BIGINT (doc_id << 21 | idx, loud
    *     range guards below) precisely so the min is a codegen'd
    *     HashAggregate with map-side partials; min over the
    *     struct/string encodings is not hash-aggregable and planned a
    *     per-partition SORT of the whole gram table. Paragraph text
    *     does NOT cross this exchange — only (16-byte hash, 8-byte
    *     coordinate);
    *  3. exploded rows join winners on the hash — paragraph text
    *     crosses exactly one exchange, as a plain hash join (no sort;
    *     a hot boilerplate paragraph colocates its copies but AQE skew
    *     split applies — contrast a Window over the hash, which would
    *     SORT the hot partition);
    *  4. reassembly = one aggregate on doc_id; array_sort on the
    *     collected (idx, keep, para) structs restores original order,
    *     and array_join skips the NULLed-out losers.
    */
  def paragraphDedup(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text",
                     sep: String = "\n"): DataFrame = {
    // packed occurrence coordinate: doc_id in the high 42 bits, idx in
    // the low 21 — BIGINT ordering == (doc_id, idx) lexicographic.
    // Out-of-range rows fail LOUDLY (a wrapped coordinate would pick a
    // wrong winner silently): doc_id ∈ [0, 2^42) covers 4.4e12 docs,
    // idx < 2^21 allows 2M paragraphs per doc.
    // the isnull arm matters: for a NULL (or null-casting) id the range
    // predicates evaluate to SQL null, the otherwise branch would pack a
    // null key, keep would be null for every paragraph, and the doc's
    // text would silently empty — the exact outcome this guard exists
    // to prevent
    val packed = when(
      isnull(col(idCol).cast("long")) ||
        col(idCol) < 0L || col(idCol) >= (1L << 42) || col("idx") >= (1L << 21),
      raise_error(concat(lit("paragraphDedup: coordinate out of packable range: "),
        coalesce(col(idCol).cast("string"), lit("NULL")), lit(":"),
        col("idx").cast("string"))).cast("long"))
      .otherwise(shiftleft(col(idCol).cast("long"), 21) + col("idx"))
    val exploded = docs
      .select(col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")), java.util.regex.Pattern.quote(sep)))
          .as(Seq("idx", "para")))
      .withColumn("h", md5(col("para")))
      .withColumn("pk", packed)
    val winners = exploded
      .groupBy(col("h"))
      .agg(min(col("pk")).as("w"))
    exploded.join(winners, Seq("h"))
      .withColumn("keep", col("pk") === col("w"))
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("keep"), col("para")))),
          x => when(x("keep"), x("para")).otherwise(lit(null).cast("string"))
        ), sep).as(textCol),
        count(lit(1)).as("n_paras"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
  }
}
