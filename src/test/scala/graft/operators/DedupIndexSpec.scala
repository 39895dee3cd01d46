package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The [[DedupIndex]] equivalence contract: a build→save→load→delta
  * probe must reproduce EXACTLY what the full-corpus [[Dedup.minhashLsh]]
  * run over (corpus ∪ delta) decides for the delta's ids — same hash
  * family, same COMBINED bucket cap — and the saved band table must
  * support static partition pruning (the property that makes the probe
  * I/O delta-proportional at scale). */
class DedupIndexSpec extends SparkSpec {

  private val Tau = (1, 2)
  private val Cap = 50 // small enough to bite at sf0.001

  test("delta dedup equals the full-corpus run restricted to delta ids") {
    val docs = graft.sources.Tables.table(spark, sf("sf0.001"), "documents")
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val delta = docs.where(col("doc_id") % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("dedup_idx").toString

    DedupIndex.build(corpus, "doc_id", "text",
      shingleK = 3, numBands = 4, rowsPerBand = 2, seed = 42L,
      bandBuckets = 4, idBuckets = 4).save(dir)
    val loaded = DedupIndex.load(spark, dir, "doc_id")
    assert(loaded.meta.numBands == 4 && loaded.meta.rowsPerBand == 2 &&
      !loaded.meta.sqlMirroredHashes, "meta must round-trip")

    val deltaRes = loaded
      .deltaDedup(delta, "text", tauNum = Tau._1, tauDenom = Tau._2,
        maxBucket = Cap)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fullRes = Dedup.minhashLsh(docs, "doc_id", "text",
        shingleK = 3, numBands = 4, rowsPerBand = 2,
        tauNum = Tau._1, tauDenom = Tau._2, seed = 42L, maxBucket = Cap)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .filter(_._1 % 5 == 0).toMap
    graft.Caches.release()

    assert(deltaRes.keySet == fullRes.keySet,
      "one keeper row per delta doc")
    val diffs = deltaRes.collect {
      case (id, k) if fullRes(id) != k => (id, k, fullRes(id))
    }
    assert(diffs.isEmpty, s"delta/full keeper mismatches: ${diffs.take(5)}")
    // the fixture must exercise both outcomes or the test proves nothing
    assert(deltaRes.exists { case (id, k) => k != id },
      "some delta doc must have a duplicate")
    assert(deltaRes.exists { case (id, k) => k == id },
      "some delta doc must be unique")
  }

  test("append folds a delta into the index: next probe sees corpus ∪ delta") {
    val docs = graft.sources.Tables.table(spark, sf("sf0.001"), "documents")
    val corpus = docs.where(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1)
    val d1 = docs.where(col("doc_id") % 5 === 1) // day-1 delta, accepted whole
    val d2 = docs.where(col("doc_id") % 5 === 0) // day-2 delta, the probe
    val dir = java.nio.file.Files.createTempDirectory("dedup_idx_a").toString

    DedupIndex.build(corpus, "doc_id", "text",
      shingleK = 3, numBands = 4, rowsPerBand = 2, seed = 42L,
      bandBuckets = 4, idBuckets = 4).save(dir)
    DedupIndex.load(spark, dir, "doc_id").append(d1, "text", dir)
    val deltaRes = DedupIndex.load(spark, dir, "doc_id") // reload post-append
      .deltaDedup(d2, "text", tauNum = Tau._1, tauDenom = Tau._2,
        maxBucket = Cap)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fullRes = Dedup.minhashLsh(docs, "doc_id", "text",
        shingleK = 3, numBands = 4, rowsPerBand = 2,
        tauNum = Tau._1, tauDenom = Tau._2, seed = 42L, maxBucket = Cap)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .filter(_._1 % 5 == 0).toMap
    graft.Caches.release()
    assert(deltaRes == fullRes,
      "post-append probe must equal the full-corpus run on the union")
  }

  test("randomized corpora: delta ≡ full-corpus restricted, any split") {
    import spark.implicits._
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    for (seed <- Seq(11, 23, 37)) {
      val rnd = new scala.util.Random(seed)
      // 60 docs with planted duplicate pressure: half are copies of an
      // earlier doc with 0–2 word edits, so near-dups cross any split
      val texts = scala.collection.mutable.ArrayBuffer.empty[String]
      (0 until 60).foreach { i =>
        if (i > 0 && rnd.nextBoolean()) {
          val base = texts(rnd.nextInt(i)).split(" ")
          (0 until rnd.nextInt(3)).foreach { _ =>
            base(rnd.nextInt(base.length)) = words(rnd.nextInt(words.length))
          }
          texts += base.mkString(" ")
        } else {
          texts += Seq.fill(8 + rnd.nextInt(6))(
            words(rnd.nextInt(words.length))).mkString(" ")
        }
      }
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toSeq.toDF("doc_id", "text")
      val m = 2 + rnd.nextInt(3) // random split modulus 2..4
      val corpus = docs.where(col("doc_id") % m =!= 0)
      val delta = docs.where(col("doc_id") % m === 0)
      val dir = java.nio.file.Files.createTempDirectory(s"dedup_idx_r$seed")
        .toString
      DedupIndex.build(corpus, "doc_id", "text",
        shingleK = 2, numBands = 4, rowsPerBand = 2, seed = seed,
        bandBuckets = 4, idBuckets = 4).save(dir)
      val deltaRes = DedupIndex.load(spark, dir, "doc_id")
        .deltaDedup(delta, "text", tauNum = Tau._1, tauDenom = Tau._2,
          maxBucket = 20) // tight cap: the combined-size rule must bite
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val fullRes = Dedup.minhashLsh(docs, "doc_id", "text",
          shingleK = 2, numBands = 4, rowsPerBand = 2,
          tauNum = Tau._1, tauDenom = Tau._2, seed = seed, maxBucket = 20)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
        .filter(_._1 % m == 0).toMap
      graft.Caches.release()
      assert(deltaRes == fullRes, s"seed $seed mod $m: delta/full diverged")
    }
  }

  test("compact rewrites only crowded partitions and changes no probe result") {
    val docs = graft.sources.Tables.table(spark, sf("sf0.001"), "documents")
    val corpus = docs.where(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1)
    val d2 = docs.where(col("doc_id") % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("dedup_idx_c").toString

    DedupIndex.build(corpus, "doc_id", "text",
      shingleK = 3, numBands = 4, rowsPerBand = 2, seed = 42L,
      bandBuckets = 4, idBuckets = 4).save(dir)
    val idx = DedupIndex.load(spark, dir, "doc_id")
    // two append generations — the daily cadence that crowds partitions
    idx.append(docs.where(col("doc_id") % 10 === 1), "text", dir)
    idx.append(docs.where(col("doc_id") % 10 === 6), "text", dir)

    val auditBefore = DedupIndex.audit(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(auditBefore.exists(_._3 > 1),
      "fixture must accumulate multi-file partitions or the test is vacuous")
    val before = DedupIndex.load(spark, dir, "doc_id")
      .deltaDedup(d2, "text", tauNum = Tau._1, tauDenom = Tau._2,
        maxBucket = Cap)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.Caches.release()

    val stats = DedupIndex.compact(spark, dir, maxFilesPerPartition = 1)
    assert(stats.nonEmpty && stats.forall(s =>
      s.filesAfter == 1 && s.filesBefore > 1),
      s"compact must rewrite exactly the crowded partitions: $stats")
    val auditAfter = DedupIndex.audit(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(auditAfter.forall(_._3 == 1L),
      s"every partition must be single-file after compact: " +
        s"${auditAfter.filter(_._3 > 1).toSeq}")
    // same partitions exist (compact moves bytes, never partitions)
    assert(auditAfter.map(a => (a._1, a._2)).toSet ==
      auditBefore.map(a => (a._1, a._2)).toSet)

    val after = DedupIndex.load(spark, dir, "doc_id")
      .deltaDedup(d2, "text", tauNum = Tau._1, tauDenom = Tau._2,
        maxBucket = Cap)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.Caches.release()
    assert(after == before, "probe-after-compact must equal probe-before")
  }

  test("the saved band table prunes statically on (_band, _bkt)") {
    val docs = graft.sources.Tables.table(spark, sf("sf0.001"), "documents")
    val dir = java.nio.file.Files.createTempDirectory("dedup_idx_p").toString
    DedupIndex.build(docs.where(col("doc_id") % 5 =!= 0), "doc_id", "text",
      numBands = 4, rowsPerBand = 2, bandBuckets = 4, idBuckets = 4).save(dir)
    val loaded = DedupIndex.load(spark, dir, "doc_id")
    val plan = loaded.bands
      .where(col("_band") === 0 && col("_bkt") === 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("_band"),
      s"band probe must be a partition-pruned scan, got:\n$plan")
    // docs side prunes on the id bucket the same way
    val dplan = loaded.docs.where(col("_ibkt").isin(0, 2))
      .queryExecution.executedPlan.toString
    assert(dplan.contains("PartitionFilters") && dplan.contains("_ibkt"),
      s"docs probe must be a partition-pruned scan, got:\n$dplan")
  }

  /** (table, partition) leaves of a saved index. */
  private def leaves(dir: String): Seq[(String, String)] =
    DedupIndex.audit(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  test("bucketsFor: tiny gives 1, past the target more than 1, always a " +
    "power of two and monotone in size") {
    val target = graft.sources.PartitionMaintenance.DefaultTargetBytesPerFile
    assert(DedupIndex.bucketsFor(0L) == 1)
    assert(DedupIndex.bucketsFor(1L) == 1)
    assert(DedupIndex.bucketsFor(target) == 1)
    assert(DedupIndex.bucketsFor(target + 1) == 2)
    assert(DedupIndex.bucketsFor(2 * target + 1) == 4)
    val sizes = (0 to 40).map(i => (1L << i) + i) ++
      Seq(target - 1, target, target + 1, 5 * target, 100 * target)
    val got = sizes.sorted.map(DedupIndex.bucketsFor(_))
    assert(got.forall(b => b >= 1 && (b & (b - 1)) == 0),
      s"every bucket count must be a power of two: $got")
    assert(got.zip(got.tail).forall { case (a, b) => a <= b },
      s"bucket counts must not shrink as size grows: $got")
    sizes.zip(sizes.map(DedupIndex.bucketsFor(_))).foreach { case (n, b) =>
      assert(n <= target * b, s"$n bytes over $b buckets exceed the target")
      assert(b == 1 || n > target * (b / 2), s"$b buckets for $n is not the smallest")
    }
  }

  test("derived and explicit 16/16 layouts give identical probes and " +
    "arrival-loop keepers; the derived layout is one leaf per table") {
    val docs = graft.sources.Tables.table(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val delta = docs.where(col("doc_id") % 5 === 0)
    val tmp = java.nio.file.Files.createTempDirectory("dedup_layout").toString
    def build(dir: String, buckets: Int) =
      DedupIndex.build(corpus, "doc_id", "text", shingleK = 3, numBands = 4,
        rowsPerBand = 2, seed = 42L, bandBuckets = buckets, idBuckets = buckets,
        sqlMirroredHashes = true).save(dir)
    build(s"$tmp/derived", 0)
    build(s"$tmp/fixed", 16)
    val derived = DedupIndex.load(spark, s"$tmp/derived", "doc_id")
    val fixed = DedupIndex.load(spark, s"$tmp/fixed", "doc_id")
    assert((derived.meta.bandBuckets, derived.meta.idBuckets) == ((1, 1)))
    assert((fixed.meta.bandBuckets, fixed.meta.idBuckets) == ((16, 16)))
    val derivedLeaves = leaves(s"$tmp/derived")
    assert(derivedLeaves.count(_._1 == "docs") == 1 &&
      derivedLeaves.count(_._1 == "bands") == 4, s"$derivedLeaves")
    assert(leaves(s"$tmp/fixed").size > derivedLeaves.size)

    def probe(idx: DedupIndex) = idx.deltaDedup(delta, "text",
        tauNum = Tau._1, tauDenom = Tau._2, maxBucket = Cap)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDerived = probe(derived)
    graft.Caches.release()
    assert(viaDerived == probe(fixed))
    graft.Caches.release()
    assert(viaDerived.exists { case (id, k) => k != id },
      "some delta doc must have a duplicate")

    // the arrival loop: replayFrames builds the derived layout itself;
    // the explicit layout runs the same loop over the 16/16 index
    def keepers(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loopDerived = keepers(graft.streaming.StreamDeltaDedupArrival
      .replayFrames(spark, corpus, delta, s"$tmp/loop_derived", shingleK = 3,
        numBands = 4, rowsPerBand = 2, seed = 42L, tauNum = 7, tauDenom = 10,
        queryName = "layout", numBatches = 3))
    graft.Caches.release()
    build(s"$tmp/loop_fixed/idx", 16)
    val loopFixed = keepers(graft.streaming.StreamDeltaDedupArrival
      .replaySaved(spark, delta, s"$tmp/loop_fixed", tauNum = 7,
        tauDenom = 10, queryName = "layout", numBatches = 3))
    graft.Caches.release()
    assert(loopDerived.size == delta.count() && loopDerived == loopFixed,
      "3-batch arrival keepers must not depend on the bucket layout")
    assert(loopDerived.exists { case (id, k) => k != id })
    val seenLeaves = graft.streaming.StreamDeltaDedupArrival
      .auditSeen(spark, s"$tmp/loop_derived/seen_layout")
      .collect().map(_.getString(1)).toSeq
    assert(seenLeaves == Seq("_ibkt=0"),
      s"the seen-map must follow the index's one id bucket: $seenLeaves")
  }

  test("an index saved with explicit 16/16 keeps its layout through " +
    "load → appendTagged → probe, with the same keepers") {
    val docs = graft.sources.Tables.table(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") % 5 > 1)
    val d1 = docs.where(col("doc_id") % 5 === 1)
    val d2 = docs.where(col("doc_id") % 5 === 0)
    val tmp = java.nio.file.Files.createTempDirectory("dedup_compat").toString
    def lifecycle(dir: String, buckets: Int) = {
      DedupIndex.build(corpus, "doc_id", "text", numBands = 4, rowsPerBand = 2,
        bandBuckets = buckets, idBuckets = buckets).save(dir)
      DedupIndex.load(spark, dir, "doc_id").appendTagged(d1, "text", dir, "b0")
      val idx = DedupIndex.load(spark, dir, "doc_id")
      val out = idx.deltaDedup(d2, "text", tauNum = Tau._1, tauDenom = Tau._2,
          maxBucket = Cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.Caches.release()
      (idx.meta, out)
    }
    val (fixedMeta, fixedOut) = lifecycle(s"$tmp/fixed", 16)
    assert((fixedMeta.bandBuckets, fixedMeta.idBuckets) == ((16, 16)))
    val fixedLeaves = leaves(s"$tmp/fixed")
    val bkts = fixedLeaves.collect { case ("bands", p) => p.split("=").last.toInt }
    val ibkts = fixedLeaves.collect { case ("docs", p) => p.stripPrefix("_ibkt=").toInt }
    assert(bkts.max > 0 && bkts.forall(_ < 16) && ibkts.toSet == (0 until 16).toSet,
      s"appendTagged must write into the saved 16/16 leaves: $fixedLeaves")
    val (_, derivedOut) = lifecycle(s"$tmp/derived", 0)
    assert(fixedOut == derivedOut && fixedOut.exists { case (id, k) => k != id })
  }
}
