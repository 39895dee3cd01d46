package perfbench

import java.io.File

import scala.collection.mutable

import graft.cluster.{Clustering, Coherence, Comparison, Topics}
import graft.embed.Sgns
import graft.export.Tsne
import graft.operators._
import graft.pipelines.Community2Vec
import graft.sources.Readers
import graft.streaming.{StreamDeltaDedupArrival, StreamIvfIngest}
import graft.text.TextPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What every workload gives the loop in [[Main]]. A cycle is one closed-loop
  * iteration of the workload. Each cycle keeps its results until the
  * next cycle starts, so `verify` can write the last timed cycle's
  * outputs for the external checks after the loop, untimed. */
abstract class Workload(val spark: SparkSession, val data: String,
                        val span: Spans) {
  val name: String
  /** Named per-cycle values (unit, values). */
  val samples = mutable.LinkedHashMap.empty[String, (String, mutable.ArrayBuffer[Double])]
  def sample(metric: String, unit: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, (unit, mutable.ArrayBuffer.empty))._2 += v

  def prepare(): Unit
  /** The untimed warm-up slice that ends setup. */
  def warmup(): Unit
  def cycle(c: Int): Unit
  /** Writes the last cycle's outputs under `out`; returns the checks
    * that need Spark as (check name, passed). */
  def verify(out: String): Seq[(String, Boolean)]
  /** Values derived after the loop (e.g. from the streaming listener). */
  def finish(batches: BatchTrace): Unit = ()

  def commentsPath: String = s"$data/comments.json"
  def submissionsPath: String = s"$data/submissions.json"

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Persist and count: the layer boundary where a lazy result is made
    * concrete, so the next layer starts from materialized rows. */
  def pin(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }

  /** Frames pinned by the current cycle, released when the next starts. */
  private val held = mutable.ArrayBuffer.empty[DataFrame]
  def hold(df: DataFrame): DataFrame = { val p = pin(df); held += p; p }
  def releaseHeld(): Unit = {
    held.foreach(_.unpersist()); held.clear()
    graft.Caches.release()
  }

  def writeOut(df: DataFrame, out: String, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$out/$name")

  def delete(f: File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(delete)
    f.delete(); ()
  }
}

object Workload {
  /** Planted communities in the generated month (gen.py SIZES). */
  val Communities = 8

  def apply(name: String, spark: SparkSession, data: String, work: String,
            span: Spans): Workload = name match {
    case "ihop_month" => new IhopMonth(spark, data, span)
    case "index_ingest" => new IndexIngest(spark, data, work, span)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The paper's monthly lifecycle: the c2v branch and the lda branch,
  * each reading the raw JSON itself, as the reference's DVC stages do. */
final class IhopMonth(spark: SparkSession, data: String, span: Spans)
    extends Workload(spark, data, span) {
  val name = "ihop_month"
  /** Lowest acceptable ARI of the c2v clustering against the planted
    * communities (every generated month clears it by a wide margin). */
  val AriFloor = 0.6
  private var labels: DataFrame = _
  private val ari = mutable.ArrayBuffer.empty[Double]
  private var contexts: DataFrame = _
  private var joined: DataFrame = _

  def prepare(): Unit = {
    labels = pin(spark.read.schema("subreddit STRING, label INT")
      .json(s"$data/labels.json"))
  }

  def warmup(): Unit = { Readers.comments(spark, commentsPath).count(); () }

  private def sgnsCfg = Sgns.Config(vectorSize = 32, window = 1000, negative = 10,
    epochs = 5, minCount = 0, numPartitions = spark.sparkContext.defaultParallelism,
    seed = 1L)

  /** comments → contexts → SGNS → KMeans → comparison → t-SNE. */
  private def c2v(): Double = {
    val comments = span("sources.Readers.json")(hold(Readers.comments(spark, commentsPath)))
    contexts = span("pipelines.Community2Vec.userContexts") {
      hold(Community2Vec.userContexts(comments)._1)
    }
    val model = span("embed.Sgns.fit") {
      Sgns.fit(contexts.select(split(col("subreddit_concat"), " ").as("context_words")),
        sgnsCfg)
    }
    val vectors = model.vectors(spark).withColumnRenamed("word", "subreddit")
      .join(labels, Seq("subreddit"))
    val cfg = Clustering.Config(k = Workload.Communities, seed = 100L, maxIter = 20,
      vecCol = "vector")
    val km = span("cluster.Clustering.fit")(Clustering.fit(vectors, cfg))
    val assigned = span("cluster.Clustering.assign")(hold(Clustering.assign(km, vectors, cfg)))
    span("cluster.Clustering.metrics")(Clustering.metrics(assigned))
    val cont = span("cluster.Comparison.contingency") {
      Comparison.contingency(assigned, "cluster", "label")
    }
    val cmp = span("cluster.Comparison.compareAll")(Comparison.compareAll(cont))
    span("export.Tsne.project") {
      Tsne.project(vectors, "subreddit", "vector", Tsne.Config(maxIter = 300)).count()
    }
    cmp("adjusted_rand")
  }

  /** submissions + comments → joined → thread docs → text → LDA → u_mass. */
  private def lda(): Seq[Double] = {
    val subs = span("sources.Readers.json")(hold(Readers.submissions(spark, submissionsPath)))
    val comments = span("sources.Readers.json")(hold(Readers.comments(spark, commentsPath)))
    joined = span("pipelines.Community2Vec.joinedSubmissionsComments") {
      hold(Community2Vec.joinedSubmissionsComments(subs, comments))
    }
    val docs = span("operators.Relational.threadDoc") {
      hold(Relational.threadDoc(joined, "fullname_id", Seq("subreddit"),
        "comments_created_utc", "body"))
    }
    val (pm, vectorized) = span("text.TextPipeline.fitTransform") {
      val (m, v) = TextPipeline.fitTransform(docs)
      (m, hold(v))
    }
    val model = span("cluster.Topics.fit") {
      Topics.fit(vectorized, Topics.Config(k = Workload.Communities, maxIter = 8))
    }
    val topics = span("cluster.Topics.describeTopicsWithWords") {
      Topics.describeTopicsWithWords(spark, model, TextPipeline.vocabulary(pm), maxTerms = 8)
        .orderBy(col("topic")).collect().map(_.getString(1).split(" ").toSeq).toSeq
    }
    span("cluster.Coherence.uMass") {
      Coherence.uMass(vectorized, "fullname_id", "tokensNoStopWords", topics)
    }
  }

  def cycle(c: Int): Unit = {
    releaseHeld()
    val (a, c2vS) = timed(c2v())
    ari += a
    val (scores, ldaS) = timed(lda())
    require(scores.nonEmpty && !scores.exists(_.isNaN), "uMass gave no scores")
    sample("c2v_s", "s", c2vS)
    sample("lda_s", "s", ldaS)
    sample("cycle_s", "s", c2vS + ldaS)
  }

  def verify(out: String): Seq[(String, Boolean)] = {
    writeOut(contexts, out, "user_contexts")
    writeOut(joined.select(col("fullname_id"), col("comments_id"), col("body"),
      col("time_to_comment_in_seconds")), out, "joined")
    // SGNS (content-hash partitions, splitmix64) and seeded KMeans are
    // deterministic: every cycle must give the same ARI. A run of one
    // cycle has nothing to compare; traced runs have at least three.
    Seq("c2v_ari_floor" -> (ari.nonEmpty && ari.forall(_ >= AriFloor))) ++
      (if (ari.size >= 2) Seq("c2v_ari_stable" -> (ari.distinct.size == 1)) else Nil)
  }

  override def finish(batches: BatchTrace): Unit =
    ari.headOption.foreach(sample("c2v_ari", "ratio", _))
}

/** Daily ingest over the month's comment bodies and vectors: bulk index
  * builds, the two live ingest loops, read batches beside the writes,
  * then compaction and audit. Runs no JSON scan, text or graph code. */
final class IndexIngest(spark: SparkSession, data: String, work: String, span: Spans)
    extends Workload(spark, data, span) {
  val name = "index_ingest"
  /** Micro-batches per loop; gen.py plants its reordered copies for this count. */
  val Batches = 3
  val ReadBatches = 2
  private var corpus: DataFrame = _
  private var delta: DataFrame = _
  private var corpusVec: DataFrame = _
  private var deltaVec: DataFrame = _
  private var deltaRows = 0L
  private var deltaMinId = 0L
  private var inputBytes = 0L
  private val queries = mutable.ArrayBuffer.empty[DataFrame]
  private var last: Option[(Int, String)] = None
  private val searchSame = mutable.ArrayBuffer.empty[Boolean]
  private val compactedOk = mutable.ArrayBuffer.empty[Boolean]
  /** Per cycle and index: (files, bytes) before and after compaction. */
  val compaction = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long, Long, Long)]]

  def prepare(): Unit = {
    val meta = spark.read.option("multiLine", "true").json(s"$data/meta.json").head()
    deltaMinId = meta.getAs[Long]("delta_min_id")
    inputBytes = meta.getAs[Long]("text_bytes") + meta.getAs[Long]("vector_bytes")
    // the month's bodies are read here, once: cycles scan no JSON
    val docs = pin(Readers.comments(spark, commentsPath)
      .where(col("id").isNotNull && col("body").isNotNull)
      .select(conv(col("id"), 36, 10).cast("long").as("doc_id"), col("body").as("text")))
    corpus = pin(docs.where(col("doc_id") < deltaMinId))
    delta = pin(docs.where(col("doc_id") >= deltaMinId))
    deltaRows = delta.count()
    val vec = spark.read.parquet(s"$data/vectors.parquet")
    corpusVec = pin(vec.where(col("vec_id") < deltaMinId))
    deltaVec = pin(vec.where(col("vec_id") >= deltaMinId))
    (0 until ReadBatches).foreach { q =>
      queries += pin(vec.where(pmod(col("vec_id"), lit(97)) === q)
        .select(col("vec_id").as("query_id"), col("embedding")))
    }
  }

  def warmup(): Unit = { corpus.count(); corpusVec.count(); () }

  def cycle(c: Int): Unit = {
    releaseHeld()
    val dir = s"$work/ingest_c$c"
    ingest(c, dir)
    last.foreach { case (_, d) => delete(new File(d)) }
    last = Some((c, dir))
  }

  private def ingest(c: Int, dir: String): Unit = {
    val t0 = System.nanoTime()
    span("operators.DedupIndex.build") {
      DedupIndex.build(corpus, "doc_id", "text", shingleK = 3, numBands = 4,
        rowsPerBand = 2, seed = 42L, sqlMirroredHashes = true).save(s"$dir/dedup_bulk")
    }
    val (_, loopA) = timed(span("streaming.StreamDeltaDedupArrival.replayFrames") {
      StreamDeltaDedupArrival.replayFrames(spark, corpus, delta, s"$dir/arrival",
        shingleK = 3, numBands = 4, rowsPerBand = 2, seed = 42L, tauNum = 1,
        tauDenom = 2, queryName = s"dedup_c$c", numBatches = Batches)
    })
    span("operators.IvfIndex.build") {
      val idx = IvfIndex.build(corpusVec, "vec_id", "embedding", nlist = 16,
        cellIter = 8, track = false)
      idx.save(s"$dir/ivf"); idx.close()
    }
    val (_, loopB) = timed(span("streaming.StreamIvfIngest.streamFold") {
      StreamIvfIngest.streamFold(spark, s"$dir/ivf", deltaVec, Batches, s"ivf_c$c")
    })
    val idx = IvfIndex.load(spark, s"$dir/ivf", "vec_id")
    val before = queries.map { q =>
      val (r, s) = timed(search(idx, q))
      sample("search_p50_ms", "ms", s * 1e3)
      r
    }
    val (bytes, compactS) = timed {
      compact("DedupIndex", "dedup") {
        DedupIndex.compact(spark, s"$dir/arrival/idx", maxFilesPerPartition = 1); ()
      }(DedupIndex.audit(spark, s"$dir/arrival/idx")) +
        compact("IvfIndex", "ivf") {
          IvfIndex.compact(spark, s"$dir/ivf", maxFilesPerPartition = 1); ()
        }(IvfIndex.audit(spark, s"$dir/ivf"))
    }
    // a read after compaction must see exactly what the read before saw
    searchSame += (search(IvfIndex.load(spark, s"$dir/ivf", "vec_id"), queries.head) ==
      before.head)
    sample("ingest_rows_per_s", "rows/s", 2.0 * deltaRows / (loopA + loopB))
    sample("compact_s", "s", compactS)
    sample("index_bytes_per_input_byte", "ratio", bytes.toDouble / inputBytes)
    sample("cycle_s", "s", (System.nanoTime() - t0) / 1e9)
  }

  private def search(idx: IvfIndex, q: DataFrame): Seq[String] =
    span("operators.IvfIndex.searchBulk") {
      idx.searchBulk(q, "query_id", "embedding", k = 10, nprobe = 4).collect()
    }.map(_.toString).sorted.toSeq

  /** (files, bytes, most files in one partition) of an index's audit table. */
  private def audit(what: String)(df: => DataFrame): (Long, Long, Long) =
    span(s"operators.$what.audit") {
      val r = df.agg(sum(col("files")), sum(col("bytes")), max(col("files"))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

  /** Compacts one index between two audits; returns its bytes on disk
    * afterwards. */
  private def compact(what: String, key: String)(run: => Unit)
                     (auditDf: => DataFrame): Long = span(s"operators.$what.compact") {
    val pre = audit(what)(auditDf)
    run
    val post = audit(what)(auditDf)
    compaction.getOrElseUpdate(key, mutable.ArrayBuffer.empty) +=
      ((pre._1, pre._2, post._1, post._2))
    compactedOk += (post._3 <= 1)
    post._2
  }

  def verify(out: String): Seq[(String, Boolean)] = {
    val (c, dir) = last.get
    // the x60 exactness contract: the union of per-batch keepers equals
    // the earliest-seen keepers recomputed here from one one-shot probe
    // of the bulk-built corpus index
    val perBatch = spark.read.schema("doc_id BIGINT, keep_id BIGINT")
      .option("recursiveFileLookup", "true").parquet(s"$dir/arrival/out_dedup_c$c")
    val got = perBatch.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val bulk = DedupIndex.load(spark, s"$dir/dedup_bulk", "doc_id")
    val pairs = bulk.deltaPairs(delta, "text", tauNum = 1, tauDenom = 2,
        maxBucket = Int.MaxValue, anyIndexedPartner = true)
      .select(col("a").cast("long"), col("b").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ids = delta.select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val want = IndexIngest.earliestSeen(ids, pairs, deltaMinId, Batches)
    val minId = bulk.deltaDedup(delta, "text", tauNum = 1, tauDenom = 2,
        maxBucket = Int.MaxValue)
      .select(col("doc_id"), col("keep_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    Seq("dedup_keepers_earliest_seen" -> (got == want && got.size == deltaRows),
      "dedup_found_duplicates" -> got.exists { case (d, k) => d != k },
      // arrival order differs from id order somewhere, so the contract
      // tests the ranking and not only the pair set
      "dedup_arrival_reorders_keepers" -> (want != minId),
      "search_same_after_compact" -> (searchSame.nonEmpty && searchSame.forall(identity)),
      "compaction_one_file_per_partition" -> compactedOk.forall(identity))
  }

  override def finish(batches: BatchTrace): Unit =
    batches.batches.filter(_.query.startsWith("dedup_c"))
      .foreach(b => sample("batch_ms", "ms", b.triggerMs.toDouble))
}

object IndexIngest {
  /** The loop's arrival batch of a delta doc: the first 15 hex digits of
    * md5("arr:" + id), mod the batch count. */
  def arrivalBatch(id: Long, batches: Int): Long = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(s"arr:$id".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(md5.substring(0, 15), 16) % batches
  }

  /** Earliest-seen keepers from verified duplicate pairs `(a, b)`, `b` a
    * delta doc: a doc keeps the partner seen first, ranked by (arrival
    * batch, id) with corpus docs at batch -1, among partners seen before
    * it; with none it keeps itself. Sorted by doc id. */
  def earliestSeen(deltaIds: Seq[Long], pairs: Seq[(Long, Long)], deltaMinId: Long,
                   batches: Int): Seq[(Long, Long)] = {
    def rank(id: Long): (Long, Long) =
      (if (id < deltaMinId) -1L else arrivalBatch(id, batches), id)
    val partners = (pairs ++ pairs.map(_.swap)).groupBy(_._2)
    val order = Ordering[(Long, Long)]
    deltaIds.sorted.map { d =>
      val earlier = partners.getOrElse(d, Nil).map(p => rank(p._1))
        .filter(order.lt(_, rank(d)))
      d -> (if (earlier.isEmpty) d else earlier.min(order)._2)
    }
  }
}
