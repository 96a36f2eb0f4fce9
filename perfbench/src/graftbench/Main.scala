package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (normally started by `perfbench/run.py`):
  *
  *   graftbench.Main --workload <dashboard|adhoc|rebuild|pipelines>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> [--data <dir>]
  *
  * The last stdout line is the result object; the line before it is a
  * human-readable report (failures by class, workload-specific figures).
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, data: Option[Path], recordExpected: Boolean)

  final case class Metric(name: String, value: Double, unit: String)

  /** What one run produced. `extras` are reported, not gated. */
  final case class Outcome(attempted: Long, failures: Failures,
      metrics: Seq[Metric], extras: Seq[(String, String)])

  def main(args: Array[String]): Unit = {
    val code = try {
      val o = parse(args)
      val out = o.workload match {
        case "dashboard" | "adhoc" | "rebuild" => new HttpBench(o).run()
        case "pipelines" => new PipelineBench(o).run()
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
      report(o, out)
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        2
    }
    // Explicit exit: GraftServer.stop() never shuts down the server's
    // fixed executor, whose non-daemon threads would keep this JVM alive.
    System.exit(code)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(req("--workload"), req("--seed").toLong, req("--seconds").toInt,
      req("--trace") == "1", Paths.get(req("--work")).toAbsolutePath,
      m.get("--data").map(Paths.get(_).toAbsolutePath),
      m.get("--record-expected").contains("1"))
  }

  private def report(o: Opts, out: Outcome): Unit = {
    val failed = out.failures.total
    val attempted = math.max(1L, out.attempted)
    val classes = out.failures.byClass.toSeq.sorted
      .map { case (k, v) => s"${JsonOut.str(k)}:$v" }.mkString("{", ",", "}")
    val extras = (Seq("workload" -> JsonOut.str(o.workload), "seed" -> o.seed.toString,
      "failed_ratio" -> JsonOut.num(failed.toDouble / attempted),
      "failures_by_class" -> classes,
      "failure_examples" -> out.failures.firstExamples.map(JsonOut.str).mkString("[", ",", "]")) ++
      out.extras).map { case (k, v) => s"${JsonOut.str(k)}:$v" }.mkString("{", ",", "}")
    println(s"report $extras")
    val metrics = out.metrics.map(m =>
      s"""${JsonOut.str(m.name)}:{"value":${JsonOut.num(m.value)},"unit":${JsonOut.str(m.unit)}}""")
      .mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":$metrics}""")
  }

  // ---- shared helpers -------------------------------------------------------

  def percentile(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0 else {
      val x = p * (sorted.length - 1)
      val lo = math.floor(x).toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (x - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs.sorted.toArray, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Live heap after full collections, in MB: the memory the process
    * retains (caches, cached frames, leaked state). Steadier than VmHWM,
    * which follows the collector's heap-growth decisions.
    *
    * Spark frees memory asynchronously: listener-bus events hold task and
    * plan data until delivered, `unpersist(blocking = false)` drops blocks
    * later, and the ContextCleaner releases shuffle map statuses and
    * broadcasts only after a collection has queued their references, one
    * blocking call each. On a loaded box one short pause covers none of
    * that. So each reading settles the bus, collects, waits until the
    * cleaner's thread is back waiting on its empty reference queue,
    * collects again and reads; readings go on until two in a row find the
    * block manager's storage unchanged and the heap no lower. The figure
    * is the lowest heap. Returns it and every reading (heap MB, storage MB).
    */
  def retainedHeapMb(spark: SparkSession): (Double, Seq[(Double, Double)]) = {
    val sc = spark.sparkContext
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val readings = ArrayBuffer.empty[(Double, Double)]
    var low = Double.MaxValue
    var stored = -1L
    var steady = 0
    while (steady < 2 && readings.size < HeapMaxReadings) {
      org.apache.spark.BenchBus.settle(sc)
      System.gc()
      awaitCleanerIdle()
      System.gc()
      val mb = mem.getHeapMemoryUsage.getUsed / 1048576.0
      val st = org.apache.spark.BenchBus.storageUsed(sc)
      readings += mb -> st / 1048576.0
      steady = if (mb > low - HeapSteadyMb && st == stored) steady + 1 else 0
      low = math.min(low, mb)
      stored = st
    }
    (low, readings.toSeq)
  }

  private val HeapMaxReadings = 20
  private val HeapSteadyMb = 0.5

  /** Waits (at most 10 s) until Spark's ContextCleaner thread is blocked in
    * `ReferenceQueue.remove`, which it only is with an empty queue and no
    * clean-up under way. Two polls in a row, since a reference queued by
    * the last collection may still be on its way to the queue.
    */
  private def awaitCleanerIdle(): Unit = {
    val cleaner = Thread.getAllStackTraces.keySet.toArray.map(_.asInstanceOf[Thread])
      .find(_.getName == "Spark Context Cleaner")
    def idle(t: Thread) = t.getStackTrace.exists(f =>
      f.getClassName == "java.lang.ref.ReferenceQueue" && f.getMethodName == "remove")
    cleaner.foreach { t =>
      val deadline = System.nanoTime() + 10000000000L
      var quiet = 0
      while (quiet < 2 && System.nanoTime() < deadline) {
        Thread.sleep(150)
        quiet = if (idle(t)) quiet + 1 else 0
      }
    }
  }

  /** The retained-heap metric plus its readings and the live thread count
    * (idle pool threads that have not yet timed out hold heap too) for the
    * report line.
    */
  def heapMetric(spark: SparkSession): (Metric, Seq[(String, String)]) = {
    val (mb, readings) = retainedHeapMb(spark)
    (Metric("retained_heap_mb", mb, "MB"), Seq(
      "heap_readings_mb" -> readings.map { case (h, s) =>
        s"[${JsonOut.num(h)},${JsonOut.num(s)}]" }.mkString("[", ",", "]"),
      "live_threads" -> Thread.activeCount.toString))
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Latency summary metrics over one timed window. */
  def latencyMetrics(latNs: Seq[Long], windowS: Double): (Seq[Metric], Seq[(String, String)]) = {
    val ms = latNs.map(_ / 1e6).sorted.toArray
    val p95 = percentile(ms, 0.95)
    (Seq(
      Metric("throughput_rps", ms.length / math.max(windowS, 1e-9), "1/s"),
      Metric("latency_p50_ms", percentile(ms, 0.5), "ms"),
      Metric("latency_p95_ms", p95, "ms")),
      Seq("samples" -> ms.length.toString,
        "p95_tail_samples" -> ms.count(_ > p95).toString,
        "window_s" -> JsonOut.num(windowS)))
  }

  def treeBytesAndFiles(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      val files = s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      (files.map(Files.size).sum, files.length.toLong)
    } finally s.close()
  }

  /** Per-layer metrics a workload does not exercise, reported as measured
    * zero so every traced run prints the same metric set.
    */
  def zeros(names: Seq[(String, String)]): Seq[Metric] =
    names.map { case (n, u) => Metric(n, 0.0, u) }

  val ServerLayer = Seq("server.replay_p50_ms" -> "ms", "server.frame_page_p50_ms" -> "ms",
    "server.compute_p50_ms" -> "ms", "server.jobs_per_replay" -> "count",
    "server.jobs_per_frame_page" -> "count", "server.jobs_per_compute" -> "count",
    "server.response_bytes" -> "bytes", "server.overhead_ms" -> "ms",
    "query.parse_us" -> "us", "registry.register_s" -> "s",
    "registry.cache_warm_s" -> "s", "registry.reload_s" -> "s",
    "engine.compose_ms" -> "ms", "engine.rolled_frame_ms" -> "ms",
    "engine.page_ms" -> "ms", "engine.collect_ms" -> "ms",
    "etl.read_inputs_s" -> "s", "etl.validate_s" -> "s", "etl.write_cubes_s" -> "s",
    "etl.assets_s" -> "s", "etl.files_written" -> "count",
    "etl.bytes_written_per_input_byte" -> "ratio")

  val PipelineLayer: Seq[(String, String)] =
    PipelineBench.Families.map(f => s"pipeline.${f}_s" -> "s") ++
      PipelineBench.Families.map(f => s"pipeline.${f}_jobs" -> "count") ++
      PipelineBench.Watched.map(q => s"pipeline.${q.takeWhile(_ != '_')}_jobs" -> "count")

  /** Spark execution counters, per operation (request or query). */
  def sparkMetrics(c: SparkCounters, ops: Long, rowsReturned: Long): Seq[Metric] = {
    val s = c.snapshot
    val n = math.max(1L, ops).toDouble
    Seq(Metric("spark.planning_ms", s("planning_ms") / n, "ms"),
      Metric("spark.jobs", s("jobs") / n, "count"),
      Metric("spark.stages", s("stages") / n, "count"),
      Metric("spark.tasks", s("tasks") / n, "count"),
      Metric("spark.sched_delay_ms", s("sched_delay_ms") / n, "ms"),
      Metric("spark.executor_run_ms", s("executor_run_ms") / n, "ms"),
      Metric("spark.executor_cpu_ms", s("executor_cpu_ms") / n, "ms"),
      Metric("spark.shuffle_bytes", s("shuffle_bytes") / n, "bytes"),
      Metric("spark.spill_bytes", s("spill_bytes") / n, "bytes"),
      Metric("spark.gc_ms", s("gc_ms") / n, "ms"),
      Metric("spark.records_read_per_row_returned",
        s("records_read").toDouble / math.max(1L, rowsReturned), "ratio"))
  }

  def writeTraceFiles(o: Opts, spans: Spans, layers: Seq[Metric]): Path = {
    val dir = o.work.getParent.resolveSibling("trace")
    Files.createDirectories(dir)
    spans.writeJsonl(dir.resolve(s"${o.workload}-${o.seed}.spans.jsonl"))
    val self = spans.selfTimes.toSeq.sortBy(-_._2)
    val table = ArrayBuffer("| span | self s |", "|---|---|")
    self.foreach { case (n, s) => table += f"| $n | $s%.4f |" }
    table += ""; table += "| per-layer metric | value | unit |"; table += "|---|---|---|"
    layers.foreach(m => table += s"| ${m.name} | ${JsonOut.num(m.value)} | ${m.unit} |")
    val md = dir.resolve(s"${o.workload}-${o.seed}.layers.md")
    Files.write(md, java.util.Arrays.asList(table.toSeq: _*))
    md
  }
}
