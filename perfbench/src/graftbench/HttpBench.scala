package graftbench

import java.net.URLDecoder
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.OpenApcMain
import graft.engine.{Browser, CacheScope}
import graft.etl.{Assets, CubeBuilder, OpenApcModels}
import graft.query.{CubeQuery, Page, QueryParser}
import graft.registry.CubeRegistry
import graft.server.GraftServer

import Corpus.ApcRows
import Main.{Metric, Outcome, Opts}

/** The served-instance workloads (`dashboard`, `adhoc`, `rebuild`): a seeded
  * corpus goes through the served pipeline, and traffic goes over loopback
  * HTTP from this process.
  */
final class HttpBench(o: Opts) {
  import HttpBench._

  private val failures = new Failures
  private val attempted = new AtomicLong()
  private val spans = new Spans

  // exactly the served instance's session (OpenApcMain.main)
  private val sessionT0 = System.nanoTime()
  private val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
  private val spark = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  private val sessionS = Main.seconds(sessionT0)

  private val corpus = Corpus.write(o.seed, o.work.resolve("corpus"))
  private val csvDir = corpus.dir.toString
  private val outDir = o.work.resolve("out")

  // ---- checked requests ---------------------------------------------------

  private def fetch(client: Client, checker: Checker, req: Req,
      allowed: => Set[Long] = Set.empty): Resp = {
    checker.begin()
    val r = client.get(req.path)
    attempted.incrementAndGet()
    checker.check(req, r, allowed)
    r
  }

  /** Materialize every static cube's cached frame (one summary each). */
  private def warmStatic(port: Int): Unit = {
    val c = new Client(port); val ck = new Checker(failures)
    OpenApcModels.staticModels.foreach(m =>
      fetch(c, ck, Req(s"/cube/${m.name}/aggregate", Check.Json)))
  }

  /** Fill both server caches with every dashboard URL: one thread per
    * group of institutions, so no two threads race for the same frame.
    */
  private def warmDashboard(port: Int): Unit = {
    val groups = Streams.dashboardUniverse(corpus).groupBy(_.path.split('/').lift(2))
      .values.toSeq.sortBy(_.head.path).zipWithIndex.groupBy(_._2 % Clients).values
    val threads = groups.map(g => new Thread(() => {
      val c = new Client(port); val ck = new Checker(failures)
      g.flatMap(_._1).foreach(r => fetch(c, ck, r))
    }))
    threads.foreach(_.start()); threads.foreach(_.join())
  }

  /** `OpenApcMain.launch` plus the static-cube warm, timed. */
  private def setUp(): (GraftServer, Double) = {
    val t0 = System.nanoTime()
    val server = OpenApcMain.launch(spark, csvDir, outDir.toString)
    warmStatic(server.boundPort)
    (server, Main.seconds(t0))
  }

  private def tearDown(s: GraftServer): Unit = {
    s.stop()
    s.registry.unregisterAll()
  }

  // ---- timed windows --------------------------------------------------------

  /** Closed loop: each client issues its stream back to back until the
    * deadline. Returns per-request latencies (ns) and the window length.
    */
  private def closedLoop(port: Int, streams: Seq[Iterator[Req]],
      seconds: Double): (Seq[Long], Double) = {
    val lat = streams.map(_ => ArrayBuffer.empty[Long])
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = streams.zipWithIndex.map { case (it, i) =>
      new Thread(() => {
        val c = new Client(port); val ck = new Checker(failures)
        while (System.nanoTime() < deadline && it.hasNext) {
          lat(i) += fetch(c, ck, it.next()).nanos
        }
      }, s"bench-client-$i")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    (lat.flatten.toSeq, Main.seconds(t0))
  }

  /** Cache-served bodies must equal the `nocache=1` body byte for byte. */
  private def compareWithNocache(port: Int, sample: Seq[Req]): Unit = {
    val c = new Client(port)
    sample.foreach { req =>
      val sep = if (req.path.contains("?")) "&" else "?"
      val cached = c.get(req.path)
      val fresh = c.get(req.path + sep + "nocache=1")
      attempted.incrementAndGet()
      if (cached.status != 200 || fresh.status != 200 || cached.body != fresh.body)
        failures.add("cache_mismatch", s"${req.path} (${cached.status}/${fresh.status}, " +
          s"${cached.body.length}/${fresh.body.length} bytes)")
    }
  }

  // ---- untraced runs ----------------------------------------------------------

  def run(): Outcome = if (o.trace) traced() else {
    val (server, setupS) = setUp()
    val port = server.boundPort
    val (lat, window, extras) = o.workload match {
      case "dashboard" =>
        warmDashboard(port)
        val (l, w) = closedLoop(port, (0 until Clients).map(i =>
          Iterator.continually(Streams.dashboard(corpus, o.seed, i, 4000)).flatten), o.seconds)
        compareWithNocache(port, pick(Streams.dashboardUniverse(corpus), 8))
        (l, w, Seq.empty)
      case "adhoc" =>
        val ad = new Streams.Adhoc(corpus, o.seed)
        val streams = (0 until Clients).map(i => ad.stream(i, AdhocPerClient))
        val used = streams.map(_ => new AtomicLong())
        val (l, w) = closedLoop(port, streams.zip(used).map { case (s, u) =>
          s.iterator.map { r => u.incrementAndGet(); r } }, o.seconds)
        // sample the tail of what each client issued: those are the
        // entries the LRU response cache still holds
        val issued = streams.zip(used).flatMap { case (s, u) =>
          s.take(u.get.toInt).takeRight(4) }
        compareWithNocache(port, issued)
        (l, w, Seq("adhoc_exhausted" -> streams.zip(used).count { case (s, u) =>
          u.get >= s.size }.toString))
      case "rebuild" =>
        warmDashboard(port)
        val (l, w, ex) = rebuildWindow(server)
        (l, w, ex)
    }
    val (lm, lx) = Main.latencyMetrics(lat, window)
    val (heap, heapX) = Main.heapMetric(spark)
    tearDown(server)
    Outcome(attempted.get, failures,
      Metric("setup_s", setupS, "s") +: lm :+ heap,
      Seq("session_s" -> JsonOut.num(sessionS),
        "peak_rss_mb" -> JsonOut.num(Main.peakRssMb())) ++ heapX ++ lx ++ extras)
  }

  private def pick[T](xs: Seq[T], n: Int): Seq[T] = {
    val r = new java.util.Random(o.seed)
    scala.util.Random.javaRandomToRandom(r).shuffle(xs).take(n)
  }

  // ---- rebuild ----------------------------------------------------------------

  /** The served pipeline's ETL, step by step in `OpenApcMain.launch`'s
    * order, with a span around each module's call. Returns the manifest.
    */
  private def etl(): Seq[graft.etl.ManifestEntry] = {
    val inputs = spans("etl.read_inputs")(CubeBuilder.readInputs(spark, csvDir))
    val outputs = spans("etl.build")(CubeBuilder.build(inputs))
    spans("etl.validate") {
      val unknown = outputs.unknownInstitutions.collect()
      if (unknown.nonEmpty) failures.add("etl_validate", unknown.mkString(","))
    }
    spans("etl.write_cubes")(CubeBuilder.writeCubes(outputs, s"$outDir/cubes",
      partitionCols = OpenApcMain.servedPartitionCols,
      sortedCols = OpenApcMain.servedSortedCols))
    spans("etl.assets") {
      val m = Assets.manifestEntries(outputs.institutionalManifest)
      Assets.writeModelJson(m, outDir.toString)
      Assets.writeYamls(m, Assets.institutionInfo(inputs.institutions), s"$outDir/yamls")
      m
    }
  }

  /** One update cycle: append a seeded delta to the CSVs, rerun the ETL,
    * reload the live registry, re-warm. Returns the new APC row count.
    */
  private def updateCycle(server: GraftServer, k: Int): Long = {
    val expect = spans("rebuild.delta")(corpus.appendDelta(k, ApcRows / DeltaShare))
    val manifest = etl()
    spans("registry.reload")(OpenApcMain.reload(spark, server.registry, s"$outDir/cubes", manifest))
    spans("registry.cache_warm")(warmStatic(server.boundPort))
    expect
  }

  private def checkTotal(port: Int, expect: Long): Unit =
    fetch(new Client(port), new Checker(failures), Req("/cube/openapc/aggregate",
      Check.OpenApcTotal), Set(expect))

  /** 3 readers replay dashboard traffic while the fourth thread runs update
    * cycles back to back (at least [[MinCycles]], until the window ends).
    * Only reads issued while a cycle runs are timed.
    */
  private def rebuildWindow(server: GraftServer): (Seq[Long], Double, Seq[(String, String)]) = {
    val port = server.boundPort
    @volatile var inCycle = false
    @volatile var cycle = 0 // index of the cycle in progress (or last run)
    val cycleS = ArrayBuffer.empty[Double]
    val writer = new Thread(() => {
      val t0 = System.nanoTime()
      var k = 1
      while (k <= MinCycles || Main.seconds(t0) < o.seconds) {
        cycle = k; inCycle = true
        val c0 = System.nanoTime()
        val expect = updateCycle(server, k)
        cycleS += Main.seconds(c0)
        inCycle = false
        checkTotal(port, expect)
        k += 1
      }
    }, "bench-rebuild")
    // a read may see the generation before or after any cycle that
    // overlaps it
    def allowed(issuedAt: Int): Set[Long] =
      (math.max(0, issuedAt - 1) to cycle).map(g => ApcRows + g.toLong * (ApcRows / DeltaShare)).toSet
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readers = (0 until Clients - 1).map { i =>
      val base = Streams.dashboard(corpus, o.seed, i, 4000)
      // every tenth read asks for the openapc total
      Iterator.continually(base.grouped(10).flatMap(g =>
        g :+ Req("/cube/openapc/aggregate", Check.OpenApcTotal))).flatten
    }
    val lat = readers.map(_ => ArrayBuffer.empty[Long])
    val t0 = System.nanoTime()
    writer.start()
    val threads = readers.zipWithIndex.map { case (it, i) =>
      new Thread(() => {
        val c = new Client(port)
        val ck = new Checker(failures, () => server.registry.generation)
        while (!done.get) {
          val req = it.next()
          val timed = inCycle
          val issuedAt = cycle
          val r = fetch(c, ck, req, allowed(issuedAt))
          if (timed && inCycle) lat(i) += r.nanos
        }
      }, s"bench-reader-$i")
    }
    threads.foreach(_.start())
    writer.join()
    done.set(true)
    threads.foreach(_.join())
    val window = Main.seconds(t0)
    attempted.addAndGet(cycleS.size.toLong)
    // reads only count inside cycles, so the window is the summed cycle time
    (lat.flatten.toSeq, cycleS.sum, Seq(
      "rebuild_s" -> JsonOut.num(Main.median(cycleS.toSeq)),
      "cycles" -> cycleS.size.toString,
      "cycles_s" -> cycleS.map(JsonOut.num).mkString("[", ",", "]"),
      "rebuild_window_s" -> JsonOut.num(window)))
  }

  // ---- traced run ------------------------------------------------------------

  /** `OpenApcMain.launch` step by step, with spans. */
  private def tracedLaunch(): (GraftServer, Seq[graft.etl.ManifestEntry]) = {
    val manifest = etl()
    spans("registry.register") {
      val registry = new CubeRegistry
      val info = java.nio.file.Paths.get(csvDir, "info.json")
      if (Files.exists(info)) registry.setInfo(Files.readString(info))
      OpenApcMain.registerAll(spark, registry, s"$outDir/cubes", manifest)
      val server = new GraftServer(registry, 0)
      server.start()
      (server, manifest)
    }
  }

  private def traced(): Outcome = {
    val t0 = System.nanoTime()
    val (server, manifest) = tracedLaunch()
    spans("registry.cache_warm")(warmStatic(server.boundPort))
    val setupS = Main.seconds(t0)
    val (written, files) = Main.treeBytesAndFiles(outDir)
    val (inputBytes, _) = Main.treeBytesAndFiles(corpus.dir)
    val port = server.boundPort

    val stream: Seq[Req] = o.workload match {
      case "adhoc" => new Streams.Adhoc(corpus, o.seed).stream(0, AdhocPerClient)
      case _ => Streams.dashboard(corpus, o.seed, 0, 4000)
    }
    val counters = new SparkCounters().attach(spark)
    val classes = ArrayBuffer.empty[(String, Double, Long, Int)] // class, ms, jobs, bytes
    val seenUrls = scala.collection.mutable.HashSet.empty[String]
    val seenFrames = scala.collection.mutable.HashSet.empty[String]
    val client = new Client(port); val checker = new Checker(failures)
    val replayed = ArrayBuffer.empty[Req]
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    val half = System.nanoTime() + o.seconds * 500000000L
    var cycled = false
    val it = stream.iterator
    // at least TracedMin requests, so every class gets samples
    while ((System.nanoTime() < deadline || replayed.size < TracedMin) && it.hasNext) {
      if (o.workload == "rebuild" && !cycled && System.nanoTime() > half) {
        spans("rebuild.cycle") {
          val expect = updateCycle(server, 1)
          checkTotal(port, expect)
        }
        seenUrls.clear(); seenFrames.clear() // the generation bump empties both caches
        cycled = true
      }
      val req = it.next()
      val cls = classify(req.path, seenUrls, seenFrames)
      counters.settle(spark)
      val j0 = counters.jobs.get
      spans.request = replayed.size.toLong
      checker.begin()
      val r = spans(s"http.$cls")(client.get(req.path))
      attempted.incrementAndGet()
      checker.check(req, r)
      counters.settle(spark)
      classes += ((cls, r.nanos / 1e6, counters.jobs.get - j0, r.body.length))
      replayed += req
    }
    val httpOps = replayed.size.toLong
    counters.detach(spark)

    // the same requests straight through the engine, no HTTP and no
    // response cache; rolled frames are kept like the frame cache keeps them
    val direct = new DirectReplay(server.registry, spans)
    val engineCounters = new SparkCounters().attach(spark)
    val directMs = replayed.map(r => direct.run(r.path))
    engineCounters.settle(spark)
    engineCounters.detach(spark)
    direct.release()

    val overheadPct = tracingOverhead(port, replayed.filterNot(_.path.startsWith("/cubes")).toSeq)
    val reloadS = if (o.workload == "rebuild") spans.totalS("registry.reload") else {
      spans("registry.reload")(OpenApcMain.reload(spark, server.registry,
        s"$outDir/cubes", manifest))
      spans.totalS("registry.reload")
    }
    tearDown(server)

    def p50(cls: String) = Main.percentile(classes.filter(_._1 == cls).map(_._2).sorted.toArray, 0.5)
    def jobsPer(cls: String) = {
      val c = classes.filter(_._1 == cls)
      if (c.isEmpty) 0.0 else c.map(_._3).sum.toDouble / c.size
    }
    val firstTouch = replayed.indices.filter(i => classes(i)._1 != "replay")
    val overheadMs = Main.median(firstTouch.map(i => classes(i)._2 - directMs(i)))
    def perCall(name: String) = {
      val n = spans.all.count(_.name == name)
      if (n == 0) 0.0 else spans.totalS(name) * 1000.0 / n
    }
    val layers = Seq(
      Metric("server.replay_p50_ms", p50("replay"), "ms"),
      Metric("server.frame_page_p50_ms", p50("frame_page"), "ms"),
      Metric("server.compute_p50_ms", p50("compute"), "ms"),
      Metric("server.jobs_per_replay", jobsPer("replay"), "count"),
      Metric("server.jobs_per_frame_page", jobsPer("frame_page"), "count"),
      Metric("server.jobs_per_compute", jobsPer("compute"), "count"),
      Metric("server.response_bytes", classes.map(_._4.toDouble).sum / math.max(1, classes.size), "bytes"),
      Metric("server.overhead_ms", overheadMs, "ms"),
      Metric("query.parse_us", perCall("query.parse") * 1000.0, "us"),
      Metric("registry.register_s", spans.totalS("registry.register"), "s"),
      Metric("registry.cache_warm_s", firstSpanS("registry.cache_warm"), "s"),
      Metric("registry.reload_s", reloadS, "s"),
      Metric("engine.compose_ms", perCall("engine.compose"), "ms"),
      Metric("engine.rolled_frame_ms", perCall("engine.rolled_frame"), "ms"),
      Metric("engine.page_ms", perCall("engine.page"), "ms"),
      Metric("engine.collect_ms", perCall("engine.collect"), "ms"),
      Metric("engine.scope_leaks", direct.maxLeaks.toDouble, "count"),
      Metric("etl.read_inputs_s", firstSpanS("etl.read_inputs"), "s"),
      Metric("etl.validate_s", firstSpanS("etl.validate"), "s"),
      Metric("etl.write_cubes_s", firstSpanS("etl.write_cubes"), "s"),
      Metric("etl.assets_s", firstSpanS("etl.assets"), "s"),
      Metric("etl.files_written", files.toDouble, "count"),
      Metric("etl.bytes_written_per_input_byte", written.toDouble / math.max(1L, inputBytes), "ratio"),
      Metric("trace.overhead_pct", overheadPct, "%")) ++
      Main.sparkMetrics(engineCounters, replayed.size.toLong, direct.rows) ++
      Main.zeros(Main.PipelineLayer)
    val md = Main.writeTraceFiles(o, spans, layers)
    Outcome(attempted.get, failures, layers, Seq(
      "traced_setup_s" -> JsonOut.num(setupS), "http_requests" -> httpOps.toString,
      "classes" -> Seq("replay", "frame_page", "compute").map(c =>
        s""""$c":${classes.count(_._1 == c)}""").mkString("{", ",", "}"),
      "http_spark_jobs" -> counters.jobs.get.toString,
      "layers_table" -> JsonOut.str(md.toString)))
  }

  private def firstSpanS(name: String): Double =
    spans.all.find(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).getOrElse(0.0)

  /** Traced vs untraced latency of the same compute-path requests
    * (`nocache=1`), in percent: four rounds over the sample, traced,
    * untraced, untraced, traced, so drift cancels.
    */
  private def tracingOverhead(port: Int, sample: Seq[Req]): Double = {
    val reqs = pick(sample.distinctBy(_.path), 12)
    if (reqs.isEmpty) return 0.0
    val client = new Client(port)
    def url(r: Req) = r.path + (if (r.path.contains("?")) "&" else "?") + "nocache=1"
    def round(): Double = reqs.map(r => client.get(url(r)).nanos / 1e6).sum
    round() // first touch compiles the plans
    def tracedRound(): Double = {
      val c = new SparkCounters().attach(spark)
      try spans("trace.overhead")(round()) finally { c.settle(spark); c.detach(spark) }
    }
    val on = tracedRound()
    val off = round() + round()
    ((on + tracedRound()) / off - 1.0) * 100.0
  }
}

object HttpBench {
  val Clients = 4
  val DeltaShare = 20
  val MinCycles = 2
  val AdhocPerClient = 3000
  val TracedMin = 60

  /** URL-history class: `replay` (URL seen before), `frame_page` (new URL
    * over a drilldown frame seen before), `compute` (anything else).
    */
  def classify(path: String, urls: scala.collection.mutable.Set[String],
      frames: scala.collection.mutable.Set[String]): String =
    if (!urls.add(path)) "replay" else {
      val (p, params) = split(path)
      val segs = p.split('/').filter(_.nonEmpty)
      val drill = params.get("drilldown").filter(_.nonEmpty)
      if (segs.length == 3 && segs(2) == "aggregate" && drill.isDefined &&
          !params.contains("share")) {
        val key = s"${segs(1)}|${params.getOrElse("cut", "")}|${drill.get}"
        if (frames.add(key)) "compute" else "frame_page"
      } else "compute"
    }

  /** Path and decoded query parameters, decoded as the server decodes them. */
  def split(path: String): (String, Map[String, String]) = {
    val i = path.indexOf('?')
    if (i < 0) (path, Map.empty) else (path.take(i), path.drop(i + 1).split('&').toSeq
      .filter(_.nonEmpty).map { kv =>
        val j = kv.indexOf('=')
        val (k, v) = if (j < 0) (kv, "") else (kv.take(j), kv.drop(j + 1))
        URLDecoder.decode(k, StandardCharsets.UTF_8) -> URLDecoder.decode(v, StandardCharsets.UTF_8)
      }.toMap)
  }
}

/** Replays a request straight through `QueryParser.parse` →
  * `CubeRegistry.browser` → `Browser.*` → `toJSON.collect`, with spans
  * around each layer. Rolled frames are kept per (cube, cuts, drilldown),
  * mirroring the server's frame cache.
  */
final class DirectReplay(registry: CubeRegistry, spans: Spans) {
  private val frames = scala.collection.mutable.HashMap.empty[String, Browser.RolledFrame]
  var rows = 0L
  var maxLeaks = 0

  def release(): Unit = { frames.values.foreach(_.release()); frames.clear() }

  /** Returns the wall time in ms. */
  def run(path: String): Double = {
    val t0 = System.nanoTime()
    val (p, params) = HttpBench.split(path)
    val segs = p.split('/').filter(_.nonEmpty).toSeq
    try segs match {
      case Seq("cubes") => registry.listJson
      case Seq("cube", c, "model") => registry.model(c).map(_.toJson)
      case Seq("cube", c, "fact", id @ _*) =>
        val b = registry.browser(c)
        collect(spans("engine.compose")(b.fact(id.mkString("/"))))
      case Seq("cube", c, endpoint, rest @ _*) =>
        val q0 = spans("query.parse")(QueryParser.parse(params))
        val q = q0.copy(page = q0.page.map(pg => pg.copy(pagesize = math.min(pg.pagesize, 500))))
        val b = registry.browser(c)
        endpoint match {
          case "facts" =>
            collect(spans("engine.compose")(b.facts(
              if (q.page.isDefined) q else q.copy(page = Some(Page(0, 500))))))
          case "members" =>
            collect(spans("engine.compose")(b.members(rest.head, q.cuts, q.page, q.after)))
          case "aggregate" => aggregate(c, b, q, params)
        }
      case _ =>
    } catch {
      case e: Exception => System.err.println(s"direct replay of $path failed: $e")
    } finally {
      CacheScope.drain()
      maxLeaks = math.max(maxLeaks, CacheScope.trackedCount + CacheScope.trackedRddCount)
    }
    (System.nanoTime() - t0) / 1e6
  }

  private def collect(df: org.apache.spark.sql.DataFrame): Unit = {
    val out = spans("engine.collect")(df.toJSON.collect())
    rows += out.length
  }

  private def aggregate(cube: String, b: Browser, q: CubeQuery,
      params: Map[String, String]): Unit =
    params.get("share").filter(_.nonEmpty) match {
      case Some(agg) =>
        collect(spans("engine.compose")(b.aggregateWithShare(q, agg, s"${agg}_pct")))
      case None if q.drilldown.isEmpty =>
        collect(spans("engine.compose")(b.summary(q)))
      case None =>
        val key = s"$cube|${q.cuts}|${q.drilldown}"
        val rf = frames.getOrElseUpdate(key, spans("engine.rolled_frame")(b.rolledFrame(q)))
        spans("engine.page") {
          val r = spans("engine.compose")(b.pageOf(rf, q))
          collect(r.summary); collect(r.cells)
        }
    }
}
