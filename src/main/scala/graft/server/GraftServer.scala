package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.query.QueryParser
import graft.registry.CubeRegistry

/** Thin HTTP JSON facade over the cube engine — the Spark-native stand-in
  * for the reference's slicer blueprint mount (/root/reference/
  * olap_server.py:3,11) with the endpoint surface documented in
  * /root/reference/HOWTO.md:
  *
  *   GET /info                        → workspace metadata blob
  *                                                        (slicer.ini:11 info_file)
  *   GET /cubes                       → cube list         (HOWTO.md:31-33)
  *   GET /cube/<c>/model              → cube model        (HOWTO.md:69-71)
  *   GET /cube/<c>/aggregate?cut&drilldown&order&page&pagesize&format=csv
  *                                    → {summary, cells, total_cell_count}
  *                                      (format=csv: the cells as CSV)
  *                                                        (HOWTO.md:44-91)
  *   GET /cube/<c>/aggregate?drilldown&share=<agg>
  *                                    → {cells, cell_count} with
  *                                      <agg>_pct share-of-total per cell
  *   GET /cube/<c>/facts?cut&order&page&pagesize&fields&format=csv
  *                                    → row list          (HOWTO.md:35-42,93-104;
  *                                      fields/format are cubes-server params)
  *   GET /cube/<c>/fact/<id>          → single fact by factKey (cubes server
  *                                      surface; SURVEY §1.3)
  *   GET /cube/<c>/members/<dim>      → distinct values   (HOWTO.md:5 → cubes docs)
  *
  * The JDK's built-in HttpServer keeps the facade dependency-free; all data
  * work stays in Spark (`Dataset.toJSON`), nothing is post-processed on the
  * driver beyond string assembly. `recordLimit` mirrors the reference's
  * `json_record_limit: 500` (slicer.ini:6): pagesize is capped, and an
  * unpaginated facts listing is truncated to the limit.
  *
  * Connections run with TCP_NODELAY. The JDK server flushes the response
  * headers as one TCP segment (`sendResponseHeaders`) and [[respond]]
  * then writes the body as a second small one. Under Nagle's algorithm
  * the body waits for the ACK of the headers, and the client's kernel
  * delays that ACK (~40 ms) — so without nodelay every response, a
  * response-cache replay included, took ~44 ms on loopback. The JDK reads
  * `sun.net.httpserver.nodelay` exactly once, in the static initializer
  * of its `ServerConfig`, so the property is set in the companion object,
  * which initializes before this class makes its first `HttpServer`.
  *
  * Requests run on a fixed pool of four non-daemon `graft-http-<id>-<n>`
  * threads (a process that only serves stays alive); `stop()` shuts the
  * pool down with the listener.
  */
final class GraftServer(val registry: CubeRegistry, port: Int = 0,
    recordLimit: Int = 500) {

  private val server = GraftServer.bind(port)
  private val pool = Executors.newFixedThreadPool(4, GraftServer.threadFactory())
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))

  def start(): Unit = server.start()
  def stop(): Unit = {
    server.stop(0)
    // bounded: an in-flight Spark job keeps its worker until it finishes
    pool.shutdown()
    pool.awaitTermination(30, TimeUnit.SECONDS): Unit
    frameCache.synchronized {
      frameCache.values().forEach(_.release())
      frameCache.clear()
    }
  }
  def boundPort: Int = server.getAddress.getPort

  // ---- response cache ---------------------------------------------------

  /** LRU response cache for successful GETs. Every endpoint is a pure
    * function of (request URI, registry contents), so a 200 response can
    * be replayed byte-identically until the registry changes — entries
    * are stamped with [[CubeRegistry.generation]] and a reload
    * (register/unregisterAll bumps it) makes them unreachable without any
    * coordinated flush. The serving win is the point at scale: the repeat
    * aggregate page costs a map lookup instead of a Spark job. Access-
    * ordered LinkedHashMap, capped — ~500-cell JSON bodies are ≤100 KB,
    * so the cache is bounded at tens of MB of heap.
    */
  private val ResponseCacheCap = 512
  private val respCache =
    new java.util.LinkedHashMap[String, (Long, String, String)](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Long, String, String)]): Boolean =
        size() > ResponseCacheCap
    }

  private def cached(key: String): Option[(String, String)] =
    respCache.synchronized {
      Option(respCache.get(key)).collect {
        case (g, body, ct) if g == registry.generation => (body, ct)
      }
    }

  private def cachePut(key: String, gen: Long, body: String, ct: String): Unit =
    // gen < 0 = the nocache hatch: don't populate either
    if (gen >= 0) respCache.synchronized {
      // stamp with the generation read BEFORE the body was computed: a
      // reload that lands mid-computation leaves the entry already stale
      respCache.put(key, (gen, body, ct)): Unit
    }

  // ---- drilldown frame cache --------------------------------------------

  /** LRU cache of PERSISTED two-level aggregate frames keyed by
    * (generation, cube, cuts, drilldown): page N+1 of the same drilldown
    * — any page=, pagesize=, order=, after= — pages the materialized
    * cells instead of re-running the scan + aggregation, so deep
    * dashboard paging costs a sort+limit over an InMemoryRelation
    * instead of the cube aggregation. Response bytes are unchanged (the
    * per-page work runs on exactly the frame the one-shot path builds).
    * Entries pin one cells-sized cached frame each (bounded by the cap);
    * eviction, stale generations, and `stop()` unpersist via
    * `release()`. An in-flight page over a just-released frame silently
    * recomputes from the plan — correct, slower — so no refcounting.
    * `nocache=1` bypasses this cache too (the compute-path hatch).
    */
  private val FrameCacheCap = 16
  private val frameCache =
    new java.util.LinkedHashMap[String, graft.engine.Browser.RolledFrame](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, graft.engine.Browser.RolledFrame]): Boolean =
        if (size() > FrameCacheCap) { e.getValue.release(); true } else false
    }

  private def rolledFor(cube: String, b: graft.engine.Browser,
      q: graft.query.CubeQuery,
      noCache: Boolean): (graft.engine.Browser.RolledFrame, () => Unit) =
    if (noCache) { val rf = b.rolledFrame(q); (rf, rf.release) }
    else {
      val gen = registry.generation
      val key = s"$gen|$cube|${q.cuts}|${q.drilldown}"
      frameCache.synchronized(Option(frameCache.get(key))) match {
        case Some(rf) => (rf, () => ())
        case None =>
          // built OUTSIDE the lock: concurrent first-pagers may race the
          // same aggregation; the loser's frame is released, the winner's
          // is shared — never a Spark job under the cache lock
          val rf = b.rolledFrame(q)
          val winner = frameCache.synchronized {
            // sweep frames from older registry generations: unreachable
            // (keys carry the generation) but still pinning memory
            val it = frameCache.entrySet().iterator()
            while (it.hasNext) {
              val e = it.next()
              if (!e.getKey.startsWith(s"$gen|")) { e.getValue.release(); it.remove() }
            }
            Option(frameCache.get(key)) match {
              case Some(existing) => existing
              case None => frameCache.put(key, rf); rf
            }
          }
          if (!(winner eq rf)) rf.release()
          (winner, () => ())
      }
    }

  // ---- routing ----------------------------------------------------------

  private def handle(ex: HttpExchange): Unit =
    try {
      // CORS parity with the reference server (olap_server.py:7-8 applies
      // flask-cors globally): every response — success, error, and the
      // OPTIONS preflight — carries Access-Control-Allow-Origin, so a
      // browser-hosted frontend (the YAML configs' treemap consumer) can
      // call the API cross-origin. Set here once: all exits below
      // (respond / the catch arms) share this exchange.
      ex.getResponseHeaders.set("Access-Control-Allow-Origin", "*")
      if (ex.getRequestMethod.equalsIgnoreCase("OPTIONS")) {
        ex.getResponseHeaders.set("Access-Control-Allow-Methods", "GET, OPTIONS")
        ex.getResponseHeaders.set("Access-Control-Allow-Headers", "Content-Type")
        ex.sendResponseHeaders(204, -1)
        return
      }
      val key = ex.getRequestURI.toString
      val params = queryParams(ex)
      // nocache=1: bypass AND don't populate — the debugging/benchmark
      // hatch for measuring the compute path on a warm server
      val noCache = params.get("nocache").contains("1")
      if (!noCache) cached(key) match {
        case Some((body, ct)) => respond(ex, 200, body, ct); return
        case None =>
      }
      val genAtStart = if (noCache) -1L else registry.generation
      val path = ex.getRequestURI.getPath.split('/').toSeq.filter(_.nonEmpty)
      // facts AND aggregate support the cubes `format=csv` rendering
      if (path.length == 3 && path(0) == "cube" &&
          (path(2) == "facts" || path(2) == "aggregate") &&
          params.get("format").contains("csv")) {
        val csv = if (path(2) == "facts") factsCsv(path(1), params)
          else aggregateCsv(path(1), params)
        cachePut(key, genAtStart, csv, "text/csv; charset=utf-8")
        respond(ex, 200, csv, "text/csv; charset=utf-8")
        return
      }
      val body = path match {
        case Seq("info") => registry.infoJson
        case Seq("cubes") => registry.listJson
        case Seq("cube", c, "model") => modelJson(c)
        case Seq("cube", c, "aggregate") => aggregateJson(c, params)
        case Seq("cube", c, "facts") => factsJson(c, params)
        // fact ids may themselves contain '/' (DOIs): everything after
        // /fact/ is the id
        case Seq("cube", c, "fact", idParts @ _*) if idParts.nonEmpty =>
          factJson(c, idParts.mkString("/"))
        case Seq("cube", c, "members", dim) => membersJson(c, dim, params)
        case _ => throw new NoSuchElementException(s"no such endpoint: ${ex.getRequestURI.getPath}")
      }
      cachePut(key, genAtStart, body, "application/json; charset=utf-8")
      respond(ex, 200, body)
    } catch {
      case e: NoSuchElementException => respond(ex, 404, errJson(e))
      case e: IllegalArgumentException => respond(ex, 400, errJson(e))
      case e: Exception => respond(ex, 500, errJson(e))
    } finally {
      // Per-REQUEST cache scope: a request is handled synchronously on one
      // executor thread, and CacheScope.drain() releases only the CALLING
      // thread's tracked frames — so this drains exactly what this request
      // registered (the share= path's tracked rollup), never frames a
      // concurrent request on another pool thread is still computing over.
      // Endpoints that persist outside CacheScope (aggregateResponse)
      // keep their own explicit release().
      graft.engine.CacheScope.drain()
      ex.close()
    }

  private def errJson(e: Exception): String =
    s"""{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getSimpleName))}}"""

  private def jstr(s: String): String = graft.util.Json.str(s)

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json; charset=utf-8"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&').toSeq
      .filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  // ---- endpoints --------------------------------------------------------

  private def modelJson(cube: String): String =
    registry.model(cube).getOrElse(
      throw new NoSuchElementException(s"no such cube: $cube")).toJson

  /** Cap the client's pagesize at the record limit (slicer.ini:6 parity). */
  private def parseQuery(params: Map[String, String]) = {
    val q = QueryParser.parse(params)
    q.copy(page = q.page.map(p =>
      p.copy(pagesize = math.min(p.pagesize, recordLimit))))
  }

  /** Summary + cells + total from Browser.aggregateResponse's single
    * ROLLUP pass (one scan+aggregate per request, atomic snapshot —
    * previously three independent Spark computations).
    *
    * `share=<aggregate>` (extension; the treemap frontend's
    * `total_percentage` relates_to semantics, YAML_STATIC_PART_APC:23-27,
    * served engine-side): each cell additionally carries
    * `<aggregate>_pct`, its share of the grand total, from
    * Browser.aggregateWithShare's single ROLLUP pass. The tracked rollup
    * cache is released by the per-request drain in [[handle]].
    */
  private def aggregateJson(cube: String, params: Map[String, String]): String = {
    val b = registry.browser(cube)
    val q = parseQuery(params)
    params.get("share").filter(_.nonEmpty) match {
      case Some(aggName) =>
        val cells = shareCells(b, q, aggName).toJSON.collect()
        // cell_count = cells in THIS response (the page, when paginated) —
        // not the unpaged total the plain aggregate response reports
        return s"""{"cells":[${cells.mkString(",")}],""" +
          s""""cell_count":${cells.length}}"""
      case None => ()
    }
    if (q.drilldown.isEmpty) {
      // no drilldown: the summary IS the result (HOWTO.md:51-55); one job
      val summary = b.summary(q).toJSON.collect().headOption.getOrElse("{}")
      s"""{"summary":$summary,"cells":[],"total_cell_count":1}"""
    } else {
      val (rf, done) = rolledFor(cube, b, q,
        params.get("nocache").contains("1"))
      try {
        val r = b.pageOf(rf, q)
        // ROLLUP over zero matching rows emits no grand-total row; fall
        // back to the ungrouped aggregate (count=0 / null sums) for the
        // summary shape the no-drilldown path produces
        val summary = r.summary.toJSON.collect().headOption
          .orElse(b.summary(q).toJSON.collect().headOption)
          .getOrElse("{}")
        val cells = r.cells.toJSON.collect()
        s"""{"summary":$summary,"cells":[${cells.mkString(",")}],""" +
          s""""total_cell_count":${r.totalCellCount}}"""
      } finally done()
    }
  }

  /** The validated share-of-total cells frame — ONE definition of the
    * share= guards and semantics for both the JSON and CSV renderings.
    */
  private def shareCells(b: graft.engine.Browser, q: graft.query.CubeQuery,
      aggName: String): org.apache.spark.sql.DataFrame = {
    if (q.drilldown.isEmpty) throw new IllegalArgumentException(
      "share= needs a drilldown (a grand total has no cells to share)")
    if (b.model.aggregate(aggName).isEmpty) throw new IllegalArgumentException(
      s"unknown aggregate '$aggName' for share=")
    if (q.after.nonEmpty) throw new IllegalArgumentException(
      "after= is not supported with share= (share cells page by offset)")
    b.aggregateWithShare(q, aggName, s"${aggName}_pct")
  }

  /** `GET /cube/<c>/fact/<id>`: single fact by factKey (comma-separated
    * parts for composite keys); 404 when absent.
    */
  private def factJson(cube: String, id: String): String = {
    val b = registry.browser(cube)
    b.fact(id).toJSON.collect().headOption.getOrElse(
      throw new NoSuchElementException(s"no fact '$id' in cube '$cube'"))
  }

  private def factsJson(cube: String, params: Map[String, String]): String = {
    val b = registry.browser(cube)
    val q = parseQuery(params)
    val rows = q.page match {
      case Some(_) => b.facts(q).toJSON.collect()
      // unpaginated listing: truncate at the record limit like the
      // reference server, over the stable factKey order
      case None => b.facts(q.copy(page = Some(graft.query.Page(0, recordLimit))))
        .toJSON.collect()
    }
    rows.mkString("[", ",", "]")
  }

  /** `GET /cube/<c>/facts?format=csv` (cubes server alternative rendering):
    * header row + RFC-4180-quoted values over the same stable listing the
    * JSON form serves. Bounded by the record limit, so the driver-side
    * string assembly stays small.
    */
  private def factsCsv(cube: String, params: Map[String, String]): String = {
    val b = registry.browser(cube)
    val q = parseQuery(params)
    val frame = b.facts(q.page match {
      case Some(_) => q
      case None => q.copy(page = Some(graft.query.Page(0, recordLimit)))
    })
    csvRender(frame.columns, frame.collect())
  }

  /** `GET /cube/<c>/aggregate?format=csv` (cubes server alternative
    * rendering): the drilldown cells — or the single summary row when
    * there is no drilldown — as CSV over the same ordered, paginated
    * listing the JSON form serves. Cells are bounded by the drilldown's
    * group count (and the pagesize cap when paginated), so the
    * driver-side string assembly stays small.
    */
  private def aggregateCsv(cube: String, params: Map[String, String]): String = {
    val b = registry.browser(cube)
    val q = parseQuery(params)
    params.get("share").filter(_.nonEmpty) match {
      case Some(aggName) =>
        val cells = shareCells(b, q, aggName)
        csvRender(cells.columns, cells.collect())
      case None =>
        if (q.drilldown.isEmpty) {
          val s = b.summary(q)
          csvRender(s.columns, s.collect())
        } else {
          val (rf, done) = rolledFor(cube, b, q,
            params.get("nocache").contains("1"))
          try {
            val r = b.pageOf(rf, q)
            csvRender(r.cells.columns, r.cells.collect())
          } finally done()
        }
    }
  }

  private def csvRender(columns: Seq[String],
      rows: Array[org.apache.spark.sql.Row]): String = {
    def cell(v: Any): String = v match {
      case null => ""
      case s =>
        val t = s.toString
        if (t.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
          "\"" + t.replace("\"", "\"\"") + "\""
        else t
    }
    val header = columns.map(cell).mkString(",")
    val body = rows.map(r =>
      (0 until r.length).map(i => cell(r.get(i))).mkString(","))
    (header +: body).mkString("\r\n")
  }

  private def membersJson(cube: String, dim: String, params: Map[String, String]): String = {
    val b = registry.browser(cube)
    val q = parseQuery(params)
    val vals = b.members(dim, q.cuts, q.page, q.after).toJSON.collect()
    s"""{"dimension":${jstr(dim)},"values":[${vals.mkString(",")}]}"""
  }
}

object GraftServer {

  // before any HttpServer.create in this JVM: see the class scaladoc
  System.setProperty("sun.net.httpserver.nodelay", "true")

  // creating through this object orders the property before the server
  private def bind(port: Int): HttpServer =
    HttpServer.create(new InetSocketAddress(port), 0)

  private val serverIds = new AtomicInteger(0)

  private def threadFactory(): ThreadFactory = {
    val id = serverIds.incrementAndGet()
    val n = new AtomicInteger(0)
    (r: Runnable) => {
      val t = new Thread(r, s"graft-http-$id-${n.incrementAndGet()}")
      t.setDaemon(false) // a thread inherits daemon status from its creator
      t
    }
  }
}
