package graft.spark

import org.apache.spark.sql.functions._

/** Dedup / similarity operators: LSH recall against exact pairs, exact
  * dedup counts, simhash blocking, ANN vs brute-force agreement.
  */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("exact dedup finds injected duplicates and nothing else") {
    val d = docs.select(col("doc_id"), col("text"))
    val withDups = d.unionByName(d.filter(col("doc_id") % 10 === 0))
    val groups = Dedup.exactDupGroups(withDups).collect()
    assert(groups.count(_.getLong(1) == 2) == 50)
    assert(groups.count(_.getLong(1) == 1) == 450)
  }

  test("incremental dedup vs persisted hash index: batch-new texts only, then the append loop closes") {
    val corpus = docs.filter(col("doc_id") % 3 =!= 0).select(col("doc_id"), col("text"))
    Dedup.writeHashIndex(corpus, "dedup_idx_spec", nBuckets = 8)
    // batch: half overlaps the corpus, plus two genuinely new texts, one duplicated in-batch
    val batch = docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
      .unionByName(Seq((900001L, "brand new text one"), (900002L, "brand new text one"),
        (900003L, "brand new text two")).toDF("doc_id", "text"))
    // force the sort-merge shape the gate asserts (at scale the index is
    // far above any broadcast threshold; locally it would be broadcast
    // and the bucketed layout legitimately unused)
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val got = try {
      val g = Dedup.newAgainstIndex(spark, "dedup_idx_spec", batch)
      g.collect(); g
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    val gotRows = got.select($"doc_id", $"text").as[(Long, String)].collect().toSet
    // reference: distinct batch texts not in corpus, min-id survivor
    val corpusTexts = corpus.select($"text").as[String].collect().toSet
    val want = batch.select($"doc_id", $"text").as[(Long, String)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
      .collect { case (t, id) if !corpusTexts.contains(t) => (id, t) }.toSet
    assert(gotRows == want)
    assert(gotRows.exists(_._1 == 900001L) && !gotRows.exists(_._1 == 900002L))
    // plan gate: the index side is read through its bucketed layout —
    // no corpus-side exchange, corpus text never scanned (hashes only)
    val p = got.queryExecution.executedPlan.toString
    val fin = p.indexOf("== Initial Plan ==") match {
      case -1 => p; case i => p.substring(0, i)
    }
    assert(fin.linesIterator.exists(_.contains("Bucketed: true")),
      "the hash index must be read through its bucketed layout")
    // the incremental loop: append the accepted hashes, re-run -> empty
    got.select(md5($"text").as("text_hash"))
      .write.mode("append").bucketBy(8, "text_hash").sortBy("text_hash")
      .format("parquet").saveAsTable("dedup_idx_spec")
    assert(Dedup.newAgainstIndex(spark, "dedup_idx_spec", batch).isEmpty)
  }

  test("incremental near-dup vs persisted band index: siblings flagged, clean doc killed, append loop closes") {
    val corpus = docs.select(col("doc_id"), col("text"))
    Dedup.writeBandIndex(corpus, "band_idx_spec", nBuckets = 8)
    val sib = corpus.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(7000000L)).as("doc_id"),
        concat(col("text"), lit(" zzincrementalmarker")).as("text"))
    val clean = Seq((8000001L, "qqgibber wwgibber eegibber rrgibber ttgibber yygibber"))
      .toDF("doc_id", "text")
    val batch = sib.unionByName(clean)
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val cand = try {
      val c = Dedup.newNearDupCandidates(spark, "band_idx_spec", batch)
      c.collect(); c
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    // recall: every sibling's SOURCE is among its candidates
    val nSib = sib.count()
    assert(cand.filter(col("batch_id") === col("doc_id") + 7000000L).count() == nSib)
    // plan gate: the band index side is read through its bucketed layout
    val p = cand.queryExecution.executedPlan.toString
    val fin = p.indexOf("== Initial Plan ==") match {
      case -1 => p; case i => p.substring(0, i)
    }
    assert(fin.linesIterator.exists(_.contains("Bucketed: true")),
      "the band index must be read through its bucketed layout")
    // the verify tier kills any clean-doc band collision (zero shared
    // trigrams) and keeps exactly the sibling set
    val verified = Dedup.ngramJaccardPairs(corpus.unionByName(batch),
      cand.select(col("batch_id").as("a"), col("doc_id").as("b")), threshold = 0.5)
    val flagged = verified.select(col("a")).distinct()
      .as[Long].collect().toSet
    assert(flagged == sib.select($"doc_id").as[Long].collect().toSet)
    assert(!flagged.contains(8000001L))
    // the loop closes: append the accepted batch's band rows, re-probe —
    // every batch doc (clean one included) now collides with itself
    Dedup.bandTable(batch).select(col("doc_id"), col("band_hash"))
      .write.mode("append").bucketBy(8, "band_hash").sortBy("band_hash")
      .format("parquet").saveAsTable("band_idx_spec")
    val self = Dedup.newNearDupCandidates(spark, "band_idx_spec", batch)
      .filter(col("batch_id") === col("doc_id"))
    assert(self.count() == batch.count())
  }

  test("oversizeIndexBuckets census aggregates on the bucket column shuffle-free") {
    val corpus = docs.select(col("doc_id"), col("text"))
    Dedup.writeBandIndex(corpus, "band_idx_census_spec", nBuckets = 8)
    val census = Dedup.oversizeIndexBuckets(spark, "band_idx_census_spec")
    census.collect()
    val p = census.queryExecution.executedPlan.toString
    val fin = p.indexOf("== Initial Plan ==") match {
      case -1 => p; case i => p.substring(0, i)
    }
    assert(!fin.contains("Exchange"),
      s"the bucket census must ride the index's bucketed layout, no shuffle:\n$fin")
    assert(fin.linesIterator.exists(_.contains("Bucketed: true")),
      "the census must read the index through its bucketed layout")
  }

  test("null-text docs flow through the whole dedup stack without NPE or silent escape") {
    val weird = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, ""),
      (4L, "regular words sit here calmly"))
      .toDF("doc_id", "text")
    // null and "" shingle identically (the sigUdf convention), so the
    // verify tier must survive the null and the exact tier must collapse
    // the null/"" family to min doc_id instead of letting null md5 keys
    // slip every equi-join
    val kept = Dedup.dedupedCorpus(weird, simThreshold = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L), s"null/empty family must collapse to min id: $kept")
    // the incremental loop must not re-accept a null-text doc forever
    Dedup.writeHashIndex(weird, "nulltext_idx_spec", nBuckets = 4)
    val again = Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text")
    assert(Dedup.newAgainstIndex(spark, "nulltext_idx_spec", again).isEmpty)
    // a null doc id must fail paragraphDedup loudly, not empty the doc
    val badId = Seq((java.lang.Long.valueOf(5L), "a.b"), (null.asInstanceOf[java.lang.Long], "c.d"))
      .toDF("doc_id", "text")
    val ex = intercept[Exception](Dedup.paragraphDedup(badId, sep = ".").collect())
    assert(ex.getMessage.contains("out of packable range") ||
      Option(ex.getCause).exists(_.getMessage.contains("out of packable range")))
  }

  test("LSH near-dup recall: every injected append-one-word sibling is found") {
    val withP = Dedup.withPerturbed(docs)
    val pairs = Dedup.nearDupPairs(withP, simThreshold = 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val missing = (0L until 500L).filterNot(id => pairs.contains((id, id + 1000000L)))
    assert(missing.isEmpty, s"missed siblings: ${missing.take(5)}")
  }

  test("LSH candidates are a superset of exact jaccard>=0.5 pairs (natural dups)") {
    val exact = Dedup.exactNgramJaccardPairs(docs, 0.5)
      .as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty) // the driver data contains natural near-dups
    val lsh = Dedup.nearDupPairs(docs, simThreshold = 0.4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val missed = exact -- lsh
    assert(missed.isEmpty, s"LSH missed high-jaccard pairs: ${missed.take(5)}")
  }

  test("LSH bucket cap: a 1000-way duplicate cluster cannot flood candidate generation") {
    // 1000 byte-identical docs (mass-duplicated boilerplate) + the normal corpus
    val boiler = spark.range(1000000L, 1001000L)
      .select(col("id").as("doc_id"),
        lit("mass duplicated boilerplate body text that repeats verbatim across the crawl corpus").as("text"))
    val corpus = docs.select(col("doc_id"), col("text")).unionByName(boiler)
    // exact-dup canonicalization collapses the cluster to ONE doc before
    // banding: candidate pairs stay bounded by the real near-dup structure
    val pairs = Dedup.nearDupPairs(corpus, simThreshold = 0.8)
    val n = pairs.count()
    assert(n < 5000, s"candidate/verified pair count must stay bounded, got $n")
    // the cluster itself is still fully recoverable from the exact tier
    val groups = Dedup.exactDupGroups(corpus).filter(col("cnt") === 1000)
    assert(groups.count() == 1)
    // and a capped band bucket is observable, never silent: inject
    // near-identical-but-distinct docs sharing every band (same text + a
    // distinct suffix word far beyond the shingle window would NOT share
    // bands, so instead check the metric over an empty-cap run)
    val dropped = Dedup.oversizeBuckets(corpus, maxBucketSize = 1)
    // with cap=1 every 2+ bucket is reported
    assert(dropped.count() > 0)
  }

  test("cosine bucket cap: a 1000-identical-embedding cluster cannot flood the pair join") {
    // the embedding twin of the LSH cap (VERDICT r2 item 3): identical
    // vectors share one RHP bucket; uncapped that's m^2/2 pairs
    val base = emb.select(col("vec_id"), col("embedding"))
    val cluster = base.filter(col("vec_id") === 0)
      .crossJoin(spark.range(1000000L, 1001000L).select(col("id")))
      .select(col("id").as("vec_id"), col("embedding"))
    val corpus = base.unionByName(cluster)
    // canonicalization collapses the identical cluster to ONE vector
    // before bucketing, so candidates stay bounded by real structure
    val pairs = Embeddings.cosineNearDupPairs(corpus, threshold = 0.95, nbits = 4)
    val n = pairs.count()
    assert(n < 20000, s"pair count must stay bounded, got $n")
    // the cap itself is observable, never silent: with cap=1 every
    // bucket holding 2+ DISTINCT canonical vectors is reported with its
    // dropped-pair count
    val dropped = Embeddings.cosineOversizeBuckets(corpus, nbits = 4, maxBucketSize = 1)
    assert(dropped.count() > 0)
    // and near-dup vectors beyond the cap are genuinely excluded, not
    // just unreported: capped run emits no pair from an oversize bucket
    val capped = Embeddings.cosineNearDupPairs(corpus, threshold = 0.95,
      nbits = 4, maxBucketSize = 1)
    assert(capped.count() == 0)
  }

  test("contamination: planted copies are flagged with their source, clean docs never") {
    val corpus = docs.select(col("doc_id"), col("text"))
    val planted = corpus.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(5000000L)).as("doc_id"), col("text"))
    val clean = corpus.select((col("doc_id") + lit(6000000L)).as("doc_id"),
      concat_ws(" ", md5(col("text")), md5(concat(col("text"), lit("x")))).as("text"))
    val out = Dedup.contamination(corpus, planted.unionByName(clean))
      .as[(Long, Long, Long)].collect()
    val pairs = out.map(r => (r._1, r._2)).toSet
    // every planted copy is flagged against its source...
    val wanted = (0L until 500L by 10).map(id => (id + 5000000L, id)).toSet
    assert((wanted -- pairs).isEmpty, s"missed planted pairs: ${(wanted -- pairs).take(5)}")
    // ...and no clean doc is ever flagged
    assert(pairs.forall(_._1 < 6000000L), s"clean doc flagged: ${pairs.filter(_._1 >= 6000000L)}")
    assert(out.forall(_._3 > 0))
    // extra pairs beyond the planted ones must be GENUINE containments
    // (the synthetic corpus holds natural near-verbatim inclusions):
    // recheck each against a local winnow of the actual texts
    val texts = corpus.as[(Long, String)].collect().toMap
    (pairs -- wanted).foreach { case (t, d) =>
      val tf = graft.text.Fingerprints.winnow(texts(t - 5000000L)).toSet
      val df = graft.text.Fingerprints.winnow(texts(d)).toSet
      assert(tf.nonEmpty && tf.subsetOf(df), s"($t, $d) is not a real containment")
    }

    // hot-fingerprint cap: with cap 0 every fingerprint is boilerplate,
    // nothing can be flagged, and the drop is observable - never silent
    assert(Dedup.contamination(corpus, planted, maxDocFreq = 0).count() == 0)
    assert(Dedup.contaminationHotFingerprints(corpus, maxDocFreq = 0).count() > 0)
  }

  test("persisted fingerprint index: same answer, zero corpus re-scan, bucketed joins") {
    val corpus = docs.select(col("doc_id"), col("text"))
    val planted = corpus.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(5000000L)).as("doc_id"), col("text"))
    val direct = Dedup.contamination(corpus, planted)
      .as[(Long, Long, Long)].collect().toSet
    Dedup.writeFingerprintIndex(corpus, "contam_idx_spec", nBuckets = 8)
    val viaIndex = Dedup.contaminationAgainstIndex(spark, "contam_idx_spec", planted)
    viaIndex.collect()
    assert(viaIndex.as[(Long, Long, Long)].collect().toSet == direct)
    // the production claim, plan-gated: probing the index never
    // re-fingerprints the CORPUS, and reads the index through its
    // bucketed layout (no corpus-side exchange). The test set's one
    // winnow happens at its materialization (contaminationFrom
    // localCheckpoints the small test side), so the probe plan must
    // contain ZERO winnow nodes — a corpus re-winnow regression would
    // reappear as a plan line and fail here.
    val p = viaIndex.queryExecution.executedPlan.toString
    val fin = p.indexOf("== Initial Plan ==") match {
      case -1 => p
      case i  => p.substring(0, i)
    }
    assert(fin.linesIterator.count(_.contains("winnow_fingerprints")) == 0,
      "the probe plan may not winnow anything (corpus is indexed, test set pre-materialized)")
    assert(fin.linesIterator.exists(_.contains("Bucketed: true")),
      "the index must be read through its bucketed layout")
  }

  test("cache hygiene: near-dup queries leave no cached blocks and share work via exchange reuse") {
    // ADVICE r3: the old .cache() in nearDupPairs/cosineNearDupPairs
    // pinned blocks for the session lifetime. The work-sharing now comes
    // from exchange reuse (identical canonical subtrees on both
    // self-join sides), so the near-dup queries must register no NEW
    // persistent RDD and the executed plan must contain ReusedExchange
    // nodes. (Assert on the before/after DIFF, not global emptiness:
    // the SparkContext is shared across suites and Transcripts.derive
    // legitimately persists the transcripts table — whether that block
    // is live here depends on suite ordering, not on this code path.)
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val nd = Dedup.nearDupPairs(Dedup.withPerturbed(docs), simThreshold = 0.5)
    nd.collect()
    val ndPlan = nd.queryExecution.executedPlan.toString
    assert(ndPlan.contains("isFinalPlan=true"))
    assert(ndPlan.contains("ReusedExchange"), "signature subtree must be shared")
    val cd = Embeddings.cosineNearDupPairs(
      Embeddings.withScaledSiblings(emb), threshold = 0.95, nbits = 4)
    cd.collect()
    val cdPlan = cd.queryExecution.executedPlan.toString
    assert(cdPlan.contains("ReusedExchange"), "bucketed subtree must be shared")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty,
      s"no cached blocks may outlive a near-dup query; new persistent RDD ids: $leaked")
  }

  test("scaled siblings: x2 vector keeps its RHP bucket exactly (scale-invariant sign)") {
    // the invariant q_cosine_neardup's exact oracle rests on: doubling a
    // float vector only shifts exponents, so every hyperplane dot keeps
    // its sign and the bucket is IDENTICAL, not merely close
    val vecs = emb.select(col("embedding")).as[Seq[Float]].take(100)
    for (v <- vecs; nbits <- Seq(4, 8, 16)) {
      val a = v.toArray
      val b = a.map(_ * 2.0f)
      assert(graft.text.Fingerprints.rhpBucket(a, nbits) ==
        graft.text.Fingerprints.rhpBucket(b, nbits))
      assert(graft.text.Fingerprints.cosine(a, b) > 0.999)
    }
    // and the end-to-end pairs are exactly one (id, id+offset) per vector
    val pairs = Embeddings.cosineNearDupPairs(
        Embeddings.withScaledSiblings(emb), threshold = 0.95, nbits = 8)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    val n = emb.count()
    assert(pairs == (0L until n).map(id => (id, id + 1000000L)).toSet)
  }

  test("simhash: near-dup siblings land within small hamming distance") {
    val table = Dedup.simhashTable(Dedup.withPerturbed(docs))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    val dists = (0L until 500L).map { id =>
      graft.text.Fingerprints.hammingDistance(table(id), table(id + 1000000L))
    }
    // one appended word flips few bits: all well under the ~32 expected
    // for unrelated docs, most very close
    assert(dists.max <= 16, s"max simhash distance ${dists.max}")
    assert(dists.count(_ <= 8) >= 450)
  }

  test("ANN top-k agrees with brute force for same-bucket neighbors") {
    val bf = Embeddings.bruteForceTopK(emb, k = 5, nQueries = 10)
      .as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    val ann = Embeddings.annTopK(emb, k = 5, nQueries = 10, nbits = 4)
      .as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    assert(bf.keySet == (0L until 10L).toSet)
    // ANN returns a (possibly shorter) list; every ANN hit at rank r must
    // appear in brute-force order restricted to the ANN candidate set
    ann.foreach { case (q, neighbors) =>
      assert(neighbors.nonEmpty)
      assert(neighbors.toSet.subsetOf(bf(q).toSet ++ neighbors.toSet))
    }
  }

  test("multi-table ANN: recall amplifies with tables; top-k stays duplicate-free") {
    val bf = Embeddings.bruteForceTopK(emb, k = 5, nQueries = 10)
    def recall(tables: Int) = Embeddings.recallAtK(
      Embeddings.annTopK(emb, k = 5, nQueries = 10, nbits = 3, nTables = tables), bf)
      .head().getDouble(0)
    val r1 = recall(1)
    val r8 = recall(8)
    assert(r8 >= r1, s"more tables may only add candidates: $r1 -> $r8")
    assert(r8 >= 0.6, s"the q_ann_recall floor must hold with margin, got $r8")
    // a neighbor found by several tables must appear ONCE in the top-k
    val topk = Embeddings.annTopK(emb, k = 5, nQueries = 10, nbits = 3, nTables = 8)
      .as[(Long, Long, Int)].collect()
    val dups = topk.groupBy(t => (t._1, t._2)).filter(_._2.length > 1)
    assert(dups.isEmpty, s"duplicate neighbors in top-k: ${dups.keys.take(3)}")
  }

  test("IVF top-k: probing every cell reproduces brute force exactly; partial probe recalls most") {
    def byQuery(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Int)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    val bf = byQuery(Embeddings.bruteForceTopK(emb, k = 5, nQueries = 10))
    // exhaustive probe: candidate set == corpus, so ranks must be identical
    val full = byQuery(Embeddings.ivfTopK(emb, k = 5, nQueries = 10,
      nCentroids = 8, nProbe = 8))
    assert(full == bf)
    // partial probe (half the cells): approximate, but must keep most of
    // the true top-5 (embeddings are label-clustered; neighbors co-cell)
    val ivf = byQuery(Embeddings.ivfTopK(emb, k = 5, nQueries = 10,
      nCentroids = 8, nProbe = 4))
    val recall = (0L until 10L).map { q =>
      bf(q).toSet.intersect(ivf.getOrElse(q, Seq.empty).toSet).size / 5.0
    }.sum / 10.0
    assert(recall >= 0.5, s"IVF recall@5 too low: $recall")
    // Lloyd refinement path stays functional and complete
    val refined = byQuery(Embeddings.ivfTopK(emb, k = 5, nQueries = 10,
      nCentroids = 8, nProbe = 8, lloydIters = 1))
    assert(refined.keySet == (0L until 10L).toSet)
    refined.values.foreach(v => assert(v.size == 5))
  }

  test("IVF plan: corpus assignment is scan-side (no index shuffle), rank is bounded agg") {
    val plan = Embeddings.ivfTopK(emb, 5, 10, nCentroids = 8, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"))
    val firstAgg = plan.indexOf("ObjectHashAggregate")
    assert(firstAgg >= 0 && plan.lastIndexOf("ObjectHashAggregate") > firstAgg)
    // the probe join broadcasts the query side; the corpus side has no
    // Exchange between scan and join
    assert(plan.contains("BroadcastExchange"))
  }

  test("connectedComponentsConverged: hash-min labels, chains merge, singletons self-label") {
    // components: {1,2,3,4} (a path, diameter 3), {10,11}, {20} (self-loop)
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (20L, 20L))
      .toDF("a", "b")
    val labels = Dedup.connectedComponentsConverged(edges, blockIters = 1, maxIters = 4)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
    assert(Dedup.unstableEdges(labels, edges).count() == 0)
    // too few hops for the diameter => reported, never half-merged labels
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponentsConverged(edges, blockIters = 1, maxIters = 1)
    }
    assert(e.getMessage.contains("not converged"))
  }

  test("connectedComponentsConverged: random graphs match a union-find oracle") {
    // property: seeded random graphs vs a driver-side union-find — pins
    // the distributed label propagation against the textbook sequential
    // answer (maxIters = 16 > any diameter at n = 40)
    val rnd = new scala.util.Random(41)
    for (_ <- 0 until 8) {
      val n = 2 + rnd.nextInt(39)
      val edges = (0 until n).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val parent = scala.collection.mutable.ArrayBuffer.tabulate(n)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) => parent(find(a.toInt)) = find(b.toInt) }
      // union-find roots are arbitrary — remap each root to the min
      // member, the survivor policy the label propagation guarantees
      val byRoot = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        .groupBy(v => find(v.toInt))
      val want = byRoot.values.flatMap { vs => val m = vs.min; vs.map(_ -> m) }.toMap
      val got = Dedup.connectedComponentsConverged(edges.toDF("a", "b"), maxIters = 16)
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"n=$n edges=$edges")
    }
  }

  test("connectedComponentsConverged: matches oracle, handles high diameter, throws past maxIters") {
    // same union-find oracle as the case above, default block/hop bounds
    val rnd = new scala.util.Random(43)
    for (_ <- 0 until 4) {
      val n = 2 + rnd.nextInt(39)
      val edges = (0 until n).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val parent = scala.collection.mutable.ArrayBuffer.tabulate(n)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) => parent(find(a.toInt)) = find(b.toInt) }
      val want = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        .groupBy(v => find(v.toInt))
        .values.flatMap { vs => val m = vs.min; vs.map(_ -> m) }.toMap
      val got = Dedup.connectedComponentsConverged(edges.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"n=$n edges=$edges")
    }
    // a diameter-19 path converges ADAPTIVELY (needs 19 hops — more than
    // nearDupGroups' default 8-hop bound would have run fixed)
    val path = (0L until 19L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = Dedup.connectedComponentsConverged(path, blockIters = 2, maxIters = 32)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 20 && labels.values.forall(_ == 0L))
    // and a too-small hop cap fails LOUDLY, never returning half-merged
    // components
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponentsConverged(path, blockIters = 2, maxIters = 4)
    }
    assert(e.getMessage.contains("not converged"))
  }

  private def chainUniverse = {
    val words = (1 to 16).map(k => md5(concat(col("text"), lit("#" + k))))
    val base = docs.select(col("doc_id"),
      concat_ws(" ", words: _*).as("text"))
    (base, Dedup.withPerturbedChain(base))
  }

  test("nearDupGroups: injected chains collapse to one group with min-id survivor") {
    val (base, chained) = chainUniverse
    val n = base.count()
    val groups = Dedup.nearDupGroups(chained, simThreshold = 0.5)
      .as[(Long, Long)].collect()
    assert(groups.length == 3 * n, s"expected ${3 * n} members, got ${groups.length}")
    groups.foreach { case (member, survivor) =>
      assert(survivor == member % 1000000L, s"member $member -> $survivor")
    }
  }

  test("dedupedCorpus: exact copies and chain siblings drop, base docs survive") {
    val (base, chained) = chainUniverse
    val withExact = chained.unionByName(base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(3000000L)).as("doc_id"), col("text")))
    val kept = Dedup.dedupedCorpus(withExact, simThreshold = 0.5)
      .select(col("doc_id")).as[Long].collect().toSet
    val expected = base.select(col("doc_id")).as[Long].collect().toSet
    assert(kept == expected,
      s"extra: ${(kept -- expected).take(5)}, missing: ${(expected -- kept).take(5)}")
  }

  test("nearDupGroupsBy: best-score survivor, ties to min id, null score fails loudly") {
    val (_, chained) = chainUniverse
    // score = doc_id % 7: chain member offsets {0, 1e6, 2e6} are {0,1,2}
    // mod 7, so the elected survivor differs from min-id on most chains
    val groups = Dedup.nearDupGroupsBy(chained, col("doc_id") % 7,
        simThreshold = 0.5).as[(Long, Long)].collect()
    groups.foreach { case (member, survivor) =>
      val d = member % 1000000L
      val expected = Seq(d, d + 1000000L, d + 2000000L).maxBy(m => (m % 7, -m))
      assert(survivor == expected, s"member $member -> $survivor, want $expected")
    }
    // at least one chain must elect a non-min survivor or the test is vacuous
    assert(groups.exists { case (m, s) => s != m % 1000000L })
    // tie-break: equal scores -> min doc_id (constant score ties everything)
    val tied = Dedup.nearDupGroupsBy(chained, lit(1L), simThreshold = 0.5)
      .as[(Long, Long)].collect()
    tied.foreach { case (member, survivor) =>
      assert(survivor == member % 1000000L, s"tie: $member -> $survivor")
    }
    // null score: loud failure, not a silent mis-election
    val ex = intercept[Exception] {
      Dedup.nearDupGroupsBy(chained,
        when(col("doc_id") % 1000000L === 0, lit(null).cast("long"))
          .otherwise(col("doc_id") % 7), simThreshold = 0.5).count()
    }
    assert(ex.getMessage != null)
  }

  test("dedupedCorpusBy: exact tier keeps best-scored twin, then the component vote") {
    val (base, chained) = chainUniverse
    val withExact = chained.unionByName(base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(3000000L)).as("doc_id"), col("text")))
    val kept = Dedup.dedupedCorpusBy(withExact, col("doc_id") % 7,
        simThreshold = 0.5)
      .select(col("doc_id")).as[Long].collect().toSet
    val expected = base.select(col("doc_id")).as[Long].collect().toSet.map { d: Long =>
      // exact tier: d vs d+3e6 (offsets 0 vs 3 mod 7, never tied)
      val e = if (d % 10 == 0 && (d + 3) % 7 > d % 7) d + 3000000L else d
      // component vote among {exact winner, +1e6, +2e6}
      Seq(e, d + 1000000L, d + 2000000L).maxBy(m => (m % 7, -m))
    }
    assert(kept == expected,
      s"extra: ${(kept -- expected).take(5)}, missing: ${(expected -- kept).take(5)}")
    // the policy must actually bite: some survivor is a byte twin or sibling
    assert(expected.exists(_ >= 1000000L))
  }

  test("decontaminatedCorpus drops exactly the containing docs, full and partial regimes") {
    // unique-word universe: no natural cross-doc fingerprint sharing
    val corpus = spark.range(0, 60).toDF("doc_id")
      .select(col("doc_id"), array_join(
        transform(sequence(lit(1), lit(20)),
          j => md5(concat(col("doc_id"), lit(":"), j))), " ").as("text"))
    val testSet = corpus.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(5000L)).as("doc_id"), col("text"))
    val keptFull = Dedup.decontaminatedCorpus(corpus, testSet)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(keptFull == (0L until 60L).filter(_ % 10 != 0).toSet)
    // partial regime: test docs = 60% prefix of the source + unique tail
    val w = split(col("text"), " ")
    val partial = corpus.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(6000L)).as("doc_id"),
        concat_ws(" ", array_join(slice(w, lit(1), lit(12)), " "),
          md5(col("text"))).as("text"))
    val keptPartial = Dedup.decontaminatedCorpus(corpus, partial, minRatio = 0.3)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(keptPartial == (0L until 60L).filter(_ % 10 != 0).toSet)
  }

  test("contaminationPartial: planted partial inclusions flagged, noise docs never") {
    val corpus = docs.select(col("doc_id"), col("text"))
    val w = split(col("text"), " ")
    val planted = corpus.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(7000000L)).as("doc_id"),
        concat_ws(" ", array_join(slice(w, lit(1),
          floor(size(w) * lit(3) / lit(5)).cast("int")), " "),
          md5(col("text"))).as("text"))
    val clean = corpus.filter(col("doc_id") % 10 === 5)
      .select((col("doc_id") + lit(8000000L)).as("doc_id"),
        concat_ws(" ", md5(col("text")),
          md5(concat(col("text"), lit("x")))).as("text"))
    val flagged = Dedup.contaminationPartial(corpus,
        planted.unionByName(clean), minRatio = 0.3)
      .select(col("test_id"), col("doc_id"), col("n_fp"), col("n_fp_total"))
      .as[(Long, Long, Long, Long)].collect()
    val ids = flagged.map(_._1).toSet
    val wanted = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(7000000L)).cast("long")).as[Long].collect().toSet
    assert((wanted -- ids).isEmpty, s"missed planted: ${(wanted -- ids).take(5)}")
    assert(ids.forall(_ < 8000000L), s"noise doc flagged: ${ids.filter(_ >= 8000000L)}")
    // every planted doc's match against its SOURCE clears the ratio with
    // real margin (the comment in SparkEntry derives ~0.45 worst-case)
    flagged.filter { case (t, d, _, _) => t - 7000000L == d }
      .foreach { case (t, _, nfp, tot) =>
        assert(nfp.toDouble / tot >= 0.3, s"test $t ratio ${nfp.toDouble / tot}")
      }
  }

  test("contaminationPartial against persisted index == direct answer") {
    val corpus = docs.select(col("doc_id"), col("text"))
    val w = split(col("text"), " ")
    val planted = corpus.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(7000000L)).as("doc_id"),
        concat_ws(" ", array_join(slice(w, lit(1),
          floor(size(w) * lit(3) / lit(5)).cast("int")), " "),
          md5(col("text"))).as("text"))
    Dedup.writeFingerprintIndex(corpus, "contam_idx_partial_spec", nBuckets = 8)
    val direct = Dedup.contaminationPartial(corpus, planted, minRatio = 0.3)
      .as[(Long, Long, Long, Long)].collect().toSet
    val viaIdx = Dedup.contaminationPartialAgainstIndex(spark,
        "contam_idx_partial_spec", planted, minRatio = 0.3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(direct == viaIdx)
    spark.sql("DROP TABLE IF EXISTS contam_idx_partial_spec")
  }

  test("ngram decontamination: any shared 13-gram flags the doc; short and disjoint docs survive") {
    // unique-word universe (the decontaminatedCorpus pattern): 20
    // doc_id-salted md5 words per doc, so cross-doc gram sharing is
    // impossible by construction and every verdict is predictable
    val corpus = spark.range(0, 60).toDF("doc_id")
      .select(col("doc_id"), array_join(
        transform(sequence(lit(1), lit(20)),
          j => md5(concat(col("doc_id"), lit(":"), j))), " ").as("text"))
    val w = split(col("text"), " ")
    // test docs: the middle 13 words of each %10 doc (ONE shared
    // 13-gram — the minimal flagging condition), plus a 12-word prefix
    // of each %10==5 doc (12 < n: must NOT flag), plus disjoint noise
    val oneGram = corpus.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(5000L)).as("test_id"),
        array_join(slice(w, lit(4), lit(13)), " ").as("text"))
    val tooShort = corpus.filter(col("doc_id") % 10 === 5)
      .select((col("doc_id") + lit(6000L)).as("test_id"),
        array_join(slice(w, lit(1), lit(12)), " ").as("text"))
    val noise = corpus.select((col("doc_id") + lit(7000L)).as("test_id"),
      md5(col("text")).as("text"))
    val tests = oneGram.unionByName(tooShort).unionByName(noise)
    val flagged = Dedup.ngramContamination(corpus, tests, n = 13)
      .as[(Long, Long)].collect().toMap
    assert(flagged.keySet == (0L until 60L by 10).toSet,
      s"flagged ${flagged.keySet} != the %10 sources")
    // the source holds the test doc's single 13-gram at exactly one position
    assert(flagged.values.toSet == Set(1L), s"per-doc counts: $flagged")
    val kept = Dedup.ngramDecontaminatedCorpus(corpus, tests, n = 13)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(kept == (0L until 60L).filterNot(_ % 10 == 0).toSet)
  }

  test("crossDocDupGrams: positional cross-doc counts; within-doc repeats and short/null docs excluded") {
    val corpus = Seq(
      (1L, "a b c d e"),          // shares "a b c" with doc 2
      (2L, "x y a b c"),
      (3L, "p q r p q r p q"),    // 6 grams; "p q r" repeats WITHIN the
                                  // doc at 2 positions — cross-doc only
                                  // via doc 6, the rest stay unflagged
      (4L, "m n"),                // < n words: no grams
      (5L, null.asInstanceOf[String]),
      (6L, "p q r z z")
    ).toDF("doc_id", "text")
    val got = Dedup.crossDocDupGrams(corpus, n = 3)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map(
      1L -> (3L, 1L), 2L -> (3L, 1L),
      // both "p q r" POSITIONS in doc 3 count once doc 6 shares the gram
      3L -> (6L, 2L),
      4L -> (0L, 0L), 5L -> (0L, 0L),
      6L -> (3L, 1L)), s"got $got")
  }

  test("semanticDedupCorpus: byte-identical and scaled-sibling cliques collapse to the base vec") {
    val base = emb.select(col("vec_id"), col("embedding"))
    def scaled(k: Float, off: Long) = base.select(
      (col("vec_id") + lit(off)).as("vec_id"),
      transform(col("embedding"), x => x * lit(k)).as("embedding"))
    val planted = base
      .unionByName(scaled(2.0f, 1000000L))
      .unionByName(scaled(4.0f, 2000000L))
      .unionByName(base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + lit(3000000L)).as("vec_id"), col("embedding")))
    val kept = Embeddings.semanticDedupCorpus(planted.localCheckpoint(),
        threshold = 0.95, nbits = 8, maxBucketSize = 4096)
      .select(col("vec_id")).as[Long].collect().toSet
    val expected = base.select(col("vec_id")).as[Long].collect().toSet
    assert(kept == expected,
      s"extra: ${(kept -- expected).take(5)}, missing: ${(expected -- kept).take(5)}")
  }

  test("multimodal: features are 18-dim; frame sampling respects n_frames") {
    val media = Multimodal.syntheticMedia(docs)
    val feats = Multimodal.extractFeatures(media)
    assert(feats.select(size(col("features"))).distinct().as[Int].collect().toSeq == Seq(18))
    val frames = Multimodal.sampleFrames(media, stride = 2)
      .groupBy("doc_id").agg(max("frame_idx").as("mx"), count(lit(1)).as("n"))
      .join(media.select(col("doc_id"), col("meta.n_frames").as("nf")), "doc_id")
    assert(frames.filter(col("mx") >= col("nf")).count() == 0)
  }
}
