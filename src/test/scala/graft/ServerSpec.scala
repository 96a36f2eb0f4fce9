package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.registry.CubeRegistry
import graft.server.GraftServer

/** End-to-end HTTP facade tests: the endpoint surface of HOWTO.md served
  * over a live socket, checked against direct Browser results.
  */
class ServerSpec extends SparkSpec {

  private lazy val registry = {
    val r = new CubeRegistry
    r.register(TestCubes.lineitemModel, TestCubes.lineitemDf(spark, sf()))
    r.register(TestCubes.ordersModel, TestCubes.ordersDf(spark, sf()))
    r
  }
  private lazy val server = { val s = new GraftServer(registry); s.start(); s }
  private lazy val client = HttpClient.newHttpClient()

  override def afterAll(): Unit = { server.stop(); super.afterAll() }

  private def get(path: String): (Int, String) = {
    val req = HttpRequest.newBuilder(
      URI.create(s"http://localhost:${server.boundPort}$path")).GET().build()
    val res = client.send(req, HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  test("GET /cubes lists registered cubes (HOWTO q1)") {
    val (code, body) = get("/cubes")
    assert(code == 200)
    assert(body.contains("\"lineitem\"") && body.contains("\"orders\""))
  }

  test("CORS parity (olap_server.py:7-8): ACAO on success, error, and preflight") {
    def headersOf(path: String, method: String = "GET"): (Int, java.net.http.HttpHeaders) = {
      val b = HttpRequest.newBuilder(
        URI.create(s"http://localhost:${server.boundPort}$path"))
      val req = (if (method == "OPTIONS")
        b.method("OPTIONS", HttpRequest.BodyPublishers.noBody()) else b.GET()).build()
      val res = client.send(req, HttpResponse.BodyHandlers.ofString())
      (res.statusCode(), res.headers())
    }
    val (okCode, okHdrs) = headersOf("/cubes")
    assert(okCode == 200)
    assert(okHdrs.firstValue("Access-Control-Allow-Origin").orElse("") == "*")
    // error responses carry the header too — a browser must be able to
    // READ the 404 body, not just successful responses
    val (errCode, errHdrs) = headersOf("/cube/no_such_cube/model")
    assert(errCode == 404)
    assert(errHdrs.firstValue("Access-Control-Allow-Origin").orElse("") == "*")
    val (preCode, preHdrs) = headersOf("/cube/lineitem/aggregate", "OPTIONS")
    assert(preCode == 204)
    assert(preHdrs.firstValue("Access-Control-Allow-Origin").orElse("") == "*")
    assert(preHdrs.firstValue("Access-Control-Allow-Methods").orElse("").contains("GET"))
  }

  test("GET /info: {} by default; serves the registered blob verbatim; cache invalidates") {
    val (code0, body0) = get("/info")
    assert(code0 == 200 && body0 == "{}")
    val blob = """{"name":"test.olap","label":"Test","keywords":["a","b"]}"""
    registry.setInfo(blob)
    val (code1, body1) = get("/info")
    assert(code1 == 200 && body1 == blob,
      "setInfo must bump the generation so the cached {} is unreachable")
    registry.setInfo("{}") // restore for other tests (suite order free)
  }

  test("GET /cube/<c>/model returns dims + aggregates (HOWTO q9)") {
    val (code, body) = get("/cube/lineitem/model")
    assert(code == 200)
    assert(body.contains("\"l_shipyear\"") && body.contains("\"rangeable\":true"))
    assert(body.contains("\"price_sum\"") && body.contains("\"function\":\"sum\""))
  }

  test("GET aggregate: summary + cells + total_cell_count (HOWTO q5/q6)") {
    val (code, body) = get("/cube/lineitem/aggregate?drilldown=l_returnflag")
    assert(code == 200)
    assert(body.contains("\"summary\":{") && body.contains("\"cells\":["))
    val expectCells = TestCubes.lineitem(spark, sf())
      .aggregate(query.CubeQuery(drilldown = Seq("l_returnflag"))).count()
    assert(body.contains(s""""total_cell_count":$expectCells"""))
    // every returnflag value appears as a cell
    Seq("A", "N", "R").foreach(v =>
      assert(body.contains(s""""l_returnflag":"$v"""")))
  }

  test("aggregate with cut == aggregate of pre-filtered data (HOWTO q10≡q5)") {
    val (_, viaCut) = get("/cube/lineitem/aggregate?cut=l_returnflag:R")
    val direct = TestCubes.lineitem(spark, sf())
      .summary(query.CubeQuery(cuts = Seq(query.PointCut("l_returnflag", "R"))))
      .toJSON.collect().head
    assert(viaCut.contains(s""""summary":$direct"""))
  }

  test("one-pass aggregate response matches the direct three-part composition") {
    // the ROLLUP-served response must byte-match what summary() +
    // aggregate() + unpaged count would have produced independently
    val (code, body) = get(
      "/cube/lineitem/aggregate?drilldown=l_returnflag&order=n_items:desc&page=0&pagesize=2")
    assert(code == 200)
    val q = query.CubeQuery(drilldown = Seq("l_returnflag"),
      orders = query.QueryParser.parseOrders("n_items:desc"),
      page = Some(query.Page(0, 2)))
    val b = TestCubes.lineitem(spark, sf())
    val summary = b.summary(q).toJSON.collect().head
    val cells = b.aggregate(q).toJSON.collect().mkString(",")
    val total = b.aggregate(q.copy(page = None, orders = Nil)).count()
    assert(body ==
      s"""{"summary":$summary,"cells":[$cells],"total_cell_count":$total}""")
  }

  test("GET fact/<id>: single fact by composite factKey; 404 when absent") {
    val (code, body) = get("/cube/lineitem/fact/1,3")
    assert(code == 200)
    val direct = TestCubes.lineitem(spark, sf()).fact("1,3").toJSON.collect().head
    assert(body == direct)
    assert(body.contains("\"l_orderkey\":1") && body.contains("\"l_linenumber\":3"))
    assert(get("/cube/lineitem/fact/999999999,9")._1 == 404)
    assert(get("/cube/lineitem/fact/1")._1 == 400) // arity mismatch
    // malformed id part on a typed key column: clean 404 via try_cast,
    // not an ANSI cast 500
    assert(get("/cube/lineitem/fact/abc,1")._1 == 404)
    // a bad order key errors without wedging the server (the persisted
    // rollup is released on the failure path)
    assert(get("/cube/lineitem/aggregate?drilldown=l_returnflag&order=bogus:desc")._1 == 500)
    assert(get("/cube/lineitem/aggregate?drilldown=l_returnflag")._1 == 200)
  }

  test("aggregate with a nothing-matches cut: empty cells, zero-count summary") {
    val (code, body) = get(
      "/cube/lineitem/aggregate?drilldown=l_returnflag&cut=l_returnflag:ZZZ")
    assert(code == 200)
    // ROLLUP over zero rows emits no grand-total row; the server falls
    // back to the ungrouped aggregate (count 0, null sums)
    assert(body.contains("\"cells\":[]") && body.contains("\"total_cell_count\":0"))
    assert(body.contains("\"n_items\":0"))
  }

  test("GET facts: pagination is stable, pages concatenate (HOWTO q3/q4)") {
    val p0 = get("/cube/lineitem/facts?page=0&pagesize=5")._2
    val p1 = get("/cube/lineitem/facts?page=1&pagesize=5")._2
    val both = get("/cube/lineitem/facts?page=0&pagesize=10")._2
    assert(both == p0.dropRight(1) + "," + p1.drop(1))
  }

  test("facts fields= projection: same page order, only requested columns") {
    val proj = get("/cube/lineitem/facts?fields=l_orderkey,l_linenumber&page=0&pagesize=3")._2
    val full = get("/cube/lineitem/facts?page=0&pagesize=3")._2
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val (p, f) = (mapper.readTree(proj), mapper.readTree(full))
    assert(p.size() == 3)
    (0 until 3).foreach { i =>
      assert(p.get(i).size() == 2, s"row $i not projected: ${p.get(i)}")
      // page order identical to the unprojected listing
      assert(p.get(i).get("l_orderkey") == f.get(i).get("l_orderkey"))
      assert(p.get(i).get("l_linenumber") == f.get(i).get("l_linenumber"))
    }
    assert(get("/cube/lineitem/facts?fields=nope&page=0&pagesize=3")._1 == 400)
  }

  test("facts format=csv: header + rows over the same stable order") {
    val req = HttpRequest.newBuilder(URI.create(
      s"http://localhost:${server.boundPort}/cube/lineitem/facts?format=csv&page=0&pagesize=3"))
      .GET().build()
    val res = client.send(req, HttpResponse.BodyHandlers.ofString())
    assert(res.statusCode() == 200)
    assert(res.headers().firstValue("Content-Type").get.startsWith("text/csv"))
    val lines = res.body().split("\r\n")
    assert(lines.length == 4) // header + 3 rows
    assert(lines.head.split(",").contains("l_orderkey"))
    // same first row as the JSON listing
    val json = get("/cube/lineitem/facts?page=0&pagesize=1")._2
    val firstKey = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(json).get(0).get("l_orderkey").asLong()
    assert(lines(1).split(",")(lines.head.split(",").indexOf("l_orderkey")).toLong == firstKey)
  }

  test("aggregate format=csv: cells as CSV matching the JSON response; summary row without drilldown") {
    val req = HttpRequest.newBuilder(URI.create(
      s"http://localhost:${server.boundPort}/cube/lineitem/aggregate?drilldown=l_returnflag&format=csv"))
      .GET().build()
    val res = client.send(req, HttpResponse.BodyHandlers.ofString())
    assert(res.statusCode() == 200)
    assert(res.headers().firstValue("Content-Type").get.startsWith("text/csv"))
    val lines = res.body().split("\r\n")
    val header = lines.head.split(",")
    assert(header.contains("l_returnflag") && header.contains("price_sum"))
    // same cells (count and first drilldown key) as the JSON rendering
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(get("/cube/lineitem/aggregate?drilldown=l_returnflag")._2)
    assert(lines.length - 1 == json.get("cells").size())
    assert(lines(1).split(",")(header.indexOf("l_returnflag")) ==
      json.get("cells").get(0).get("l_returnflag").asText())
    // no drilldown: the one summary row
    val s = get("/cube/lineitem/aggregate?format=csv")._2.split("\r\n")
    assert(s.length == 2 && s.head.split(",").contains("price_sum"))
    // share= renders the share column in CSV too
    val sh = get("/cube/lineitem/aggregate?drilldown=l_returnflag&share=price_sum&format=csv")._2
      .split("\r\n")
    assert(sh.head.split(",").contains("price_sum_pct"))
    assert(sh.length == lines.length)
  }

  test("facts honours the 500-row record limit when unpaginated") {
    val body = get("/cube/lineitem/facts")._2
    val n = body.sliding("\"l_orderkey\"".length).count(_ == "\"l_orderkey\"")
    assert(n == 500) // sf0.001 lineitem has >500 rows; truncated at limit
  }

  test("keyset facts (after=): pages concatenate to the offset listing") {
    // orders has a UNIQUE single-column factKey — keyset pages are
    // row-exact there and must reproduce offset pagination page-for-page
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def rows(path: String): Seq[String] = {
      val (code, body) = get(path)
      assert(code == 200, s"$path -> $code: $body")
      val t = mapper.readTree(body)
      (0 until t.size()).map(t.get(_).toString)
    }
    val offset = rows("/cube/orders/facts?page=0&pagesize=150") ++
      rows("/cube/orders/facts?page=1&pagesize=150")
    // keyset: first page from below the smallest key (0), then continue
    val p0 = rows("/cube/orders/facts?after=-1&pagesize=150")
    val lastKey = mapper.readTree(p0.last).get("o_orderkey").asLong()
    val p1 = rows(s"/cube/orders/facts?after=$lastKey&pagesize=150")
    assert(p0 ++ p1 == offset, "keyset pages != offset pages")
    // a past-the-end token yields an empty page, not an error
    assert(rows("/cube/orders/facts?after=99999999&pagesize=10").isEmpty)
    // a malformed token for the typed key is an empty page (≡ past-the-end)
    assert(rows("/cube/orders/facts?after=notakey&pagesize=10").isEmpty)
    // mixing keyset and offset pagination is a client error
    assert(get("/cube/orders/facts?after=5&page=0&pagesize=10")._1 == 400)
  }

  test("keyset aggregate cells (after=): continuation token pages the drilldown-key order") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def cells(path: String) = {
      val (code, body) = get(path)
      assert(code == 200, s"$path -> $code: $body")
      val t = mapper.readTree(body)
      (0 until t.get("cells").size()).map(t.get("cells").get(_))
    }
    val all = cells("/cube/lineitem/aggregate?drilldown=l_suppkey&page=0&pagesize=500")
    assert(all.size == 10) // sf0.001 supplier cardinality
    val p0 = cells("/cube/lineitem/aggregate?drilldown=l_suppkey&after=-1&pagesize=4")
    val tok = p0.last.get("l_suppkey").asLong()
    val p1 = cells(s"/cube/lineitem/aggregate?drilldown=l_suppkey&after=$tok&pagesize=4")
    assert((p0 ++ p1).map(_.toString) == all.take(8).map(_.toString),
      "keyset cell pages != offset cell listing")
    // summary and the unpaged total stay GLOBAL on a keyset page
    val paged = mapper.readTree(
      get(s"/cube/lineitem/aggregate?drilldown=l_suppkey&after=$tok&pagesize=4")._2)
    assert(paged.get("total_cell_count").asInt() == all.size)
    assert(paged.get("summary").get("n_items").asLong() == 6000L)
  }

  test("keyset aggregate cells with order= (A24): token pages the (aggValue, key) order") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def cells(path: String) = {
      val (code, body) = get(path)
      assert(code == 200, s"$path -> $code: $body")
      val t = mapper.readTree(body)
      (0 until t.get("cells").size()).map(t.get("cells").get(_))
    }
    val all = cells("/cube/lineitem/aggregate?drilldown=l_suppkey" +
      "&order=n_items:desc&page=0&pagesize=500")
    val p0 = cells("/cube/lineitem/aggregate?drilldown=l_suppkey" +
      "&order=n_items:desc&after=999999999,-1&pagesize=4")
    val tok = s"${p0.last.get("n_items").asLong()},${p0.last.get("l_suppkey").asLong()}"
    val p1 = cells("/cube/lineitem/aggregate?drilldown=l_suppkey" +
      s"&order=n_items:desc&after=$tok&pagesize=4")
    assert((p0 ++ p1).map(_.toString) == all.take(8).map(_.toString),
      "agg-ordered keyset pages != offset listing")
    // a dim order key with after= is a 400, not silent offset semantics
    assert(get("/cube/lineitem/aggregate?drilldown=l_suppkey" +
      "&order=l_suppkey:asc&after=1,1")._1 == 400)
  }

  test("keyset members (after=): pages concatenate to the full sorted member list") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def vals(path: String): Seq[Long] = {
      val t = mapper.readTree(get(path)._2).get("values")
      (0 until t.size()).map(t.get(_).get("l_suppkey").asLong())
    }
    val all = vals("/cube/lineitem/members/l_suppkey")
    val p0 = vals("/cube/lineitem/members/l_suppkey?after=-1&pagesize=4")
    val p1 = vals(s"/cube/lineitem/members/l_suppkey?after=${p0.last}&pagesize=4")
    val p2 = vals(s"/cube/lineitem/members/l_suppkey?after=${p1.last}&pagesize=4")
    assert(p0 ++ p1 ++ p2 == all, "keyset member pages != full listing")
    assert(vals("/cube/lineitem/members/l_suppkey?after=99999&pagesize=4").isEmpty)
  }

  test("GET members: sorted distinct dimension values") {
    val (code, body) = get("/cube/lineitem/members/l_returnflag")
    assert(code == 200)
    val direct = TestCubes.lineitem(spark, sf()).members("l_returnflag")
      .toJSON.collect().mkString(",")
    assert(body == s"""{"dimension":"l_returnflag","values":[$direct]}""")
  }

  test("concurrent requests: parallel aggregate/facts/members all correct") {
    // the server executor handles 4 requests at once over one shared
    // SparkSession; interleaved requests must not corrupt each other
    // (no shared mutable per-request state, CacheScope never involved)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val paths = Seq(
      "/cube/lineitem/aggregate?drilldown=l_returnflag",
      "/cube/lineitem/facts?page=0&pagesize=5",
      "/cube/lineitem/members/l_linestatus",
      "/cube/orders/aggregate?drilldown=o_orderpriority")
    val baselines = paths.map(p => get(p)._2)
    val rounds = Future.traverse(1 to 4) { _ =>
      Future.traverse(paths)(p => Future(get(p)))
    }
    val all = Await.result(rounds, 2.minutes)
    all.foreach(_.zip(baselines).foreach { case ((code, body), expected) =>
      assert(code == 200)
      assert(body == expected, "concurrent response diverged from sequential")
    })
  }

  test("share= endpoint: per-cell share-of-total, correct under concurrency (per-request cache scope)") {
    // the share path uses a CacheScope-TRACKED operator
    // (Browser.aggregateWithShare persists its rollup); the server drains
    // per request. Per-thread draining means concurrent requests cannot
    // unpersist each other's frames — responses must match the sequential
    // baseline, shares must sum to 100, and no tracked frame may leak
    // after the storm settles.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // other suites in this JVM may hold tracked frames on their own
    // threads; the invariant here is that the STORM adds none
    val trackedBefore = graft.engine.CacheScope.trackedCount
    val path = "/cube/lineitem/aggregate?drilldown=l_returnflag&share=price_sum"
    val (code, baseline) = get(path)
    assert(code == 200)
    assert(baseline.contains("\"price_sum_pct\":"))
    val pcts = """"price_sum_pct":([0-9.]+)""".r
      .findAllMatchIn(baseline).map(_.group(1).toDouble).toSeq
    assert(pcts.size == 3 && math.abs(pcts.sum - 100.0) < 1e-6,
      s"shares $pcts do not sum to 100")
    val other = "/cube/orders/aggregate?drilldown=o_orderpriority&share=total_sum"
    val otherBaseline = get(other)._2
    val storm = Future.traverse(1 to 8) { i =>
      Future(get(if (i % 2 == 0) path else other))
    }
    val all = Await.result(storm, 2.minutes)
    all.zipWithIndex.foreach { case ((c, body), idx) =>
      assert(c == 200)
      val expected = if ((idx + 1) % 2 == 0) baseline else otherBaseline
      assert(body == expected, "concurrent share response diverged")
    }
    // the per-request drains released every tracked rollup: the storm
    // leaves no additional persisted frame behind
    assert(graft.engine.CacheScope.trackedCount == trackedBefore,
      s"${graft.engine.CacheScope.trackedCount - trackedBefore} tracked frames leaked")
    // share without a drilldown is a client error, not a 500
    assert(get("/cube/lineitem/aggregate?share=price_sum")._1 == 400)
    assert(get("/cube/lineitem/aggregate?drilldown=l_returnflag&share=nope")._1 == 400)
  }

  test("unknown cube → 404; malformed query → 400") {
    assert(get("/cube/nope/facts")._1 == 404)
    assert(get("/cube/lineitem/aggregate?page=1")._1 == 400) // missing pagesize
    assert(get("/cube/lineitem/members/not_a_dim")._1 == 400)
  }

  test("response cache: repeat URL replays byte-identically; reload invalidates") {
    val path = "/cube/lineitem/aggregate?drilldown=l_returnflag"
    val first = get(path)
    assert(first._1 == 200)
    // second hit serves from the response cache — must be byte-identical
    assert(get(path) == first)
    // a re-register (the reload cycle) bumps the registry generation; a
    // stale cached response must NOT survive it — re-registering the cube
    // over a filtered frame must change what the same URL returns
    try {
      server.registry.register(TestCubes.lineitemModel,
        TestCubes.lineitemDf(spark, sf()).filter("l_returnflag = 'R'"))
      val afterReload = get(path)
      assert(afterReload._1 == 200)
      assert(afterReload._2 != first._2,
        "cached response served across a registry reload")
    } finally {
      // restore the full cube for any test ordered after this one
      server.registry.register(TestCubes.lineitemModel,
        TestCubes.lineitemDf(spark, sf()))
    }
    assert(get(path) == first) // restored cube → original response again
    // nocache=1 bypasses the cache but still serves the same content
    assert(get(path + "&nocache=1")._2 == first._2)
  }

  test("no per-response TCP stall: keep-alive round trips take < 10 ms at the median") {
    // headers and body leave as two small segments; with Nagle on, the
    // body waits for the client's delayed ACK of the headers, which sets
    // a floor of ~40 ms on EVERY response, replays and errors alike
    def medianMs(path: String, n: Int, expectCode: Int): Double = {
      val ms = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        // sequential HttpURLConnections to one host share one keep-alive
        // socket once each body is read to the end
        val c = URI.create(s"http://localhost:${server.boundPort}$path").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = c.getResponseCode
        val in = if (code >= 400) c.getErrorStream else c.getInputStream
        in.readAllBytes()
        in.close()
        assert(code == expectCode, s"$path -> $code")
        (System.nanoTime() - t0) / 1e6
      }.sorted
      ms(ms.size / 2)
    }
    val cachedPath = "/cube/lineitem/aggregate?drilldown=l_linestatus"
    assert(get(cachedPath)._1 == 200) // prime the response cache
    val replay = medianMs(cachedPath, 50, 200)
    val notFound = medianMs("/no/such/endpoint", 10, 404)
    info(f"replay p50 $replay%.2f ms, 404 p50 $notFound%.2f ms")
    assert(replay < 10.0, f"cached replay p50 $replay%.1f ms")
    assert(notFound < 10.0, f"404 p50 $notFound%.1f ms")
  }

  test("stop() shuts down the request pool; its threads are non-daemon while serving") {
    import scala.jdk.CollectionConverters._
    def poolThreads: Set[Thread] = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("graft-http-")).toSet
    val before = poolThreads
    val s = new GraftServer(registry)
    s.start()
    val threads = try {
      // a fixed pool starts one thread per task until it is full
      (1 to 4).foreach { _ =>
        val req = HttpRequest.newBuilder(
          URI.create(s"http://localhost:${s.boundPort}/cubes")).GET().build()
        assert(client.send(req, HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
      }
      poolThreads -- before
    } finally s.stop()
    assert(threads.size == 4, threads.map(_.getName))
    // one server's pool: graft-http-<server id>-<n>
    assert(threads.map(_.getName.split('-')(2)).size == 1, threads.map(_.getName))
    // a served-only JVM (OpenApcMain.main) lives on these threads
    assert(threads.forall(!_.isDaemon))
    // stop() awaited the pool's termination; a worker may still be
    // returning from its run loop, so give it a moment to end
    threads.foreach(_.join(2000))
    assert(threads.forall(!_.isAlive), threads.filter(_.isAlive).map(_.getName))
  }
}
