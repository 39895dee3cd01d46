package perfbench

/** Per-layer metrics of a traced run, named
  * `<layer>.<Object>.<fn>.<quantity>`. Each value is the median over the
  * span's calls in the traced cycles; a span the workload never calls
  * reads 0. Every span reports `wall_s`, `driver_s` and `jobs`; the
  * extra quantities per span are listed in [[Extras]]. */
object Layers {

  private val prep = Seq("shuffle_bytes", "task_skew")
  private val ml = Seq("executor_cpu_s", "tasks")
  private val stream = Seq("batch_ms", "addBatch_ms", "tasks", "task_wait_s")
  private val compact = Seq("files_before", "files_after", "bytes_before", "bytes_after")

  val Extras: Seq[(String, Seq[String])] = Seq(
    "sources.Readers.json" -> Seq("executor_cpu_s", "input_bytes"),
    "pipelines.Community2Vec.userContexts" -> prep,
    "pipelines.Community2Vec.joinedSubmissionsComments" -> prep,
    "operators.Relational.threadDoc" -> prep,
    "text.TextPipeline.fitTransform" -> Seq("executor_cpu_s"),
    "cluster.Topics.fit" -> Seq("executor_cpu_s"),
    "cluster.Coherence.uMass" -> Seq("executor_cpu_s"),
    "embed.Sgns.fit" -> ml,
    "cluster.Clustering.fit" -> ml,
    "cluster.Clustering.metrics" -> ml,
    "cluster.Comparison.compareAll" -> Nil,
    "export.Tsne.project" -> ml,
    "streaming.StreamDeltaDedupArrival.replayFrames" -> stream,
    "streaming.StreamIvfIngest.streamFold" -> stream,
    "operators.DedupIndex.build" -> Seq("shuffle_bytes", "task_skew"),
    "operators.IvfIndex.build" -> Seq("shuffle_bytes", "task_skew"),
    "operators.IvfIndex.searchBulk" -> Seq("shuffle_bytes", "task_skew"),
    "operators.DedupIndex.compact" -> compact,
    "operators.IvfIndex.compact" -> compact)

  val Totals: Seq[String] = Seq("spark.jobs", "spark.tasks", "spark.task_wait_s",
    "spark.gc_s", "spark.failed_tasks")

  def unit(q: String): String = q match {
    case "wall_s" | "driver_s" | "executor_cpu_s" | "task_wait_s" => "s"
    case "batch_ms" | "addBatch_ms" => "ms"
    case "input_bytes" | "shuffle_bytes" |
         "bytes_before" | "bytes_after" => "bytes"
    case "task_skew" => "ratio"
    case _ => "count"
  }

  /** Every metric name, in output order. */
  def names: Seq[(String, String)] =
    Extras.flatMap { case (span, extra) =>
      (Seq("wall_s", "driver_s", "jobs") ++ extra).map(q => s"$span.$q" -> unit(q))
    } ++
      Totals.map(t => t -> (if (t.endsWith("_s")) "s" else "count")) ++
      Seq("bench.trace.overhead_s" -> "s", "bench.trace.coverage" -> "ratio")

  def metrics(spans: Seq[Span], jt: JobTrace, batches: BatchTrace,
              cycles: Seq[(Boolean, Double)], w: Workload): Seq[(String, (Double, String))] = {
    val traced = spans.filter(_.traced)
    val sub = Attribution.subtree(traced)
    val byName = traced.groupBy(_.name)
    val tracedCycles = math.max(1, cycles.count(_._1))
    val compactions = w match {
      case ix: IndexIngest => ix.compaction.toMap
      case _ => Map.empty[String, collection.Seq[(Long, Long, Long, Long)]]
    }

    def perCall(span: String, q: String): Double = {
      val calls = byName.getOrElse(span, Nil)
      if (q.startsWith("files_") || q.startsWith("bytes_")) {
        val key = if (span.contains("Dedup")) "dedup" else "ivf"
        val rows = compactions.getOrElse(key, Nil).toSeq
        val pick: ((Long, Long, Long, Long)) => Long = q match {
          case "files_before" => _._1
          case "bytes_before" => _._2
          case "files_after" => _._3
          case _ => _._4
        }
        return Stats.median(rows.map(r => pick(r).toDouble)).orElse0
      }
      if (q == "batch_ms" || q == "addBatch_ms") {
        val prefix = if (span.contains("Dedup")) "dedup_c" else "ivf_c"
        val bs = batches.batches.filter(b => b.query.startsWith(prefix) &&
          traced.exists(s => s.name == span && s.cycle.toString == b.query.stripPrefix(prefix)))
        return Stats.median(bs.map(b => (if (q == "batch_ms") b.triggerMs else b.addBatchMs)
          .toDouble).toSeq).orElse0
      }
      val vals = calls.map { s =>
        lazy val wk = Attribution.work(sub(s.id), jt)
        q match {
          case "wall_s" => s.wallS
          case "driver_s" => Attribution.driverS(s, sub(s.id), jt)
          case "jobs" => wk.jobs.toDouble
          case "tasks" => wk.tasks.toDouble
          case "executor_cpu_s" => wk.cpuNs / 1e9
          case "task_wait_s" => wk.waitMs / 1e3
          case "input_bytes" => wk.inputBytes.toDouble
          case "shuffle_bytes" => wk.shuffleWrite.toDouble
          case "task_skew" => wk.taskSkew
        }
      }
      Stats.median(vals).orElse0
    }

    val total = new Work
    jt.perSpan.values.foreach(total += _)
    val totals = Map(
      "spark.jobs" -> total.jobs.toDouble / tracedCycles,
      "spark.tasks" -> total.tasks.toDouble / tracedCycles,
      "spark.task_wait_s" -> total.waitMs / 1e3 / tracedCycles,
      "spark.gc_s" -> total.gcMs / 1e3 / tracedCycles,
      "spark.failed_tasks" -> total.failedTasks.toDouble / tracedCycles)
    // the first cycle runs cold and untraced: it is no baseline
    val plain = Stats.median(cycles.drop(1).filterNot(_._1).map(_._2))
    val withTrace = Stats.median(cycles.filter(_._1).map(_._2))
    val roots = traced.filter(_.parent == -1)
    val coverage = roots.map(_.wallS).sum / cycles.filter(_._1).map(_._2).sum

    names.map { case (n, u) =>
      val v = n match {
        case t if totals.contains(t) => totals(t)
        case "bench.trace.overhead_s" => (withTrace - plain).orElse0
        case "bench.trace.coverage" => coverage
        case _ =>
          val i = n.lastIndexOf('.')
          perCall(n.substring(0, i), n.substring(i + 1))
      }
      n -> (v, u)
    }
  }

  private implicit class NanToZero(val d: Double) extends AnyVal {
    def orElse0: Double = if (d.isNaN) 0.0 else d
  }
}
