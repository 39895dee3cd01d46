package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the result files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
  def writeFile(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
}

/** Old-generation occupancy right after a full collection: what the
  * workload still holds (cached blocks, broadcasts, driver state). Taken
  * between cycles, outside their timers; GC-timing noise of the peak
  * seen by young collections would not repeat from run to run. */
object OldGen {
  def afterFullGcBytes(): Long = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum
  }
}

/** Benchmark process: one workload in a closed loop on `local[N]`.
  *
  * Args: `--workload W --data DIR --work DIR --out DIR --seconds S
  * --trace 0|1`. Writes `result.json` and `spans.jsonl` into `--out`. */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = args("workload")
    val out = args("out")
    val work = args("work")
    val seconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(Paths.get(out))
    Files.createDirectories(Paths.get(work))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val span = new Spans(sc)
    val batches = new BatchTrace
    spark.streams.addListener(batches)
    var heapPeak = 0L
    val w = Workload(workload, spark, args("data"), work, span)
    // setup: session up, inputs prepared, one warm-up slice; measured
    // once from process start, cold, as every real process pays it
    w.prepare()
    w.warmup()
    val setupS = (System.currentTimeMillis() - processStartMs) / 1e3
    def phase(what: String): Unit = System.err.println(
      f"[perfbench] $what at ${(System.currentTimeMillis() - processStartMs) / 1e3}%.1f s")
    phase("setup done")

    var attempted = 0L
    var failed = 0L
    val checks = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val cycleWall = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Double)]

    // Closed loop: cycles until `seconds` have passed, at least one. A
    // traced run leaves its first (cold) cycle untraced and then
    // alternates traced and untraced cycles until it has one of each
    // warm: their median difference is the tracing overhead.
    val jobTrace = if (traced) new JobTrace else null
    def traceCycle(c: Int): Boolean = traced && c % 2 == 1
    def enough(c: Int): Boolean = !traced || c >= 3
    val t0 = System.nanoTime()
    var c = 0
    while (c == 0 || (System.nanoTime() - t0) / 1e9 < seconds || !enough(c)) {
      val trace = traceCycle(c)
      if (trace) sc.addSparkListener(jobTrace)
      span.tracing = trace
      span.cycle = c
      val before = span.all.size
      val c0 = System.nanoTime()
      val cpu0 = processCpuNs()
      try w.cycle(c)
      catch { case e: Throwable => failed += 1; errors += s"cycle $c: $e" }
      cycleWall += ((trace, (System.nanoTime() - c0) / 1e9))
      if (!trace) w.sample("cycle_cpu_s", "s", (processCpuNs() - cpu0) / 1e9)
      span.tracing = false
      span.cycle = -1
      if (trace) drain(spark, jobTrace)
      System.err.println(f"[perfbench] cycle $c ${cycleWall.last._2}%.2f s")
      if (!trace) heapPeak = math.max(heapPeak, OldGen.afterFullGcBytes())
      attempted += span.all.drop(before).count(_.parent == -1)
      c += 1
    }
    phase("timed loop done")
    awaitStreams()
    w.finish(batches)
    // untimed: write the last cycle's outputs for the external checks
    try checks ++= w.verify(s"$out/outputs")
    catch { case e: Throwable => errors += s"verify: $e"; checks += ("verify" -> false) }
    attempted += checks.size
    failed += checks.count(!_._2)
    phase("verify done")

    val spans = span.all
    val timedSpans = spans.filter(_.cycle >= 0)
    val metrics = Seq.newBuilder[(String, String)]
    def m(name: String, unit: String, v: Double): Unit =
      metrics += name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
    m("setup_s", "s", setupS)
    m("peak_heap_mb", "MB", heapPeak / 1048576.0)
    w.samples.foreach { case (k, (unit, vs)) =>
      if (k == "batch_ms") {
        m("batch_p50_ms", "ms", Stats.quantile(vs.toSeq, 0.5))
        // too few batches per run for a percentile with ten beyond it:
        // the tail is the slowest batch, reported with the count
        m("batch_max_ms", "ms", vs.max)
        m("batch_count", "count", vs.size.toDouble)
      } else m(k, unit, Stats.median(vs.toSeq))
    }
    m("cycles", "count", cycleWall.count(!_._1).toDouble)
    val layer = if (traced && jobTrace != null) Layers.metrics(timedSpans, jobTrace, batches,
      cycleWall.toSeq, w) else Seq.empty

    val host = Seq(
      "nproc" -> cores.toString,
      "local" -> Json.str(s"local[$cores]"),
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jvm" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
      "spark" -> Json.str(spark.version))
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "checks" -> Json.obj(checks.toSeq.map { case (k, v) => k -> v.toString }),
      "errors" -> Json.arr(errors.toSeq.map(Json.str)),
      "host" -> Json.obj(host),
      "metrics" -> Json.obj(metrics.result()),
      "layers" -> Json.obj(layer.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    Json.writeFile(s"$out/result.json", result)
    Json.writeFile(s"$out/spans.jsonl", spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "run" -> s.cycle.toString,
        "traced" -> s.traced.toString, "start_ms" -> s.startMs.toString,
        "end_ms" -> s.endMs.toString, "wall_s" -> Json.num(s.wallS),
        "self_s" -> Json.num(Attribution.selfS(s, spans)),
        "failed" -> s.failed.toString))
    }.mkString("", "\n", "\n"))
    phase("results written")
    spark.stop()
    phase("session stopped")
  }

  /** CPU time of the whole process: driver, executor threads, JIT and GC. */
  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Wait until the listener has seen the end of a marker job started
    * after the traced cycle, so every earlier event has been delivered;
    * then unregister it. */
  private def drain(spark: SparkSession, jt: JobTrace): Unit = {
    val sc = spark.sparkContext
    val jobId = new java.util.concurrent.atomic.AtomicInteger(-1)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobId.compareAndSet(-1, e.jobId)
    }
    sc.addSparkListener(l)
    sc.setLocalProperty(JobTrace.Marker, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(JobTrace.Marker, null)
    val deadline = System.currentTimeMillis() + 30000
    while ((jobId.get < 0 || !jt.sawJobEnd(jobId.get)) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    sc.removeSparkListener(l)
    sc.removeSparkListener(jt)
  }

  /** Streaming progress events are delivered asynchronously; give the
    * listener bus a moment to flush the last batches. */
  private def awaitStreams(): Unit = Thread.sleep(300)
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
