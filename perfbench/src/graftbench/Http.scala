package graftbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** What the benchmark checks on one response (besides the 200 status). */
sealed trait Check
object Check {
  /** Body parses as JSON. */
  case object Json extends Check
  /** Body parses as RFC-4180 CSV with a constant field count. */
  case object Csv extends Check
  /** Unpaginated drilldown: summary `agg` equals the sum of the cells' `agg`. */
  final case class SumOfCells(agg: String) extends Check
  /** Step `step` of page walk `walk` over aggregate cells keyed by `dims`:
    * no cell may repeat across the walk's pages.
    */
  final case class CellWalk(walk: Int, step: Int, dims: Seq[String]) extends Check
  /** Step `step` of facts page walk `walk`: no row may repeat across pages. */
  final case class FactWalk(walk: Int, step: Int) extends Check
  /** `doi_lookup` point cut: exactly the generated row. */
  final case class DoiRow(row: Corpus.ApcRow, fullName: String, ror: String) extends Check
  /** `openapc/fact/<doi>`: the generated row's fields. */
  final case class FactRow(row: Corpus.ApcRow) extends Check
  /** `openapc` summary during rebuilds: a count from a live generation. */
  case object OpenApcTotal extends Check
}

final case class Req(path: String, check: Check)

final case class Resp(status: Int, body: String, nanos: Long)

/** Blocking keep-alive HTTP/1.1 GET over loopback (one instance per client
  * thread; `HttpURLConnection` pools the socket per host).
  */
final class Client(port: Int) {
  def get(path: String): Resp = {
    val t0 = System.nanoTime()
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    val status = c.getResponseCode
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    val body = if (in == null) "" else
      try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    Resp(status, body, System.nanoTime() - t0)
  }
}

/** Failure ledger: counts per class plus the first examples of each. */
final class Failures {
  private val counts = new ConcurrentHashMap[String, AtomicLong]()
  private val examples = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def add(cls: String, detail: String): Unit = {
    val n = counts.computeIfAbsent(cls, _ => new AtomicLong()).incrementAndGet()
    if (n <= 3) examples.add(s"$cls: ${detail.take(300)}")
  }
  def total: Long = counts.values.asScala.map(_.get).sum
  def byClass: Map[String, Long] = counts.asScala.map { case (k, v) => k -> v.get }.toMap
  def firstExamples: Seq[String] = examples.asScala.toSeq
}

/** Response checks. Stateful per client: page walks remember what they
  * have seen since their step 0, within one registry `generation` (a
  * reload during or between pages starts the walk afresh: the data
  * changed).
  */
final class Checker(failures: Failures, generation: () => Long = () => 0L) {
  private val mapper = new ObjectMapper()
  private var walkSeen = Set.empty[String]
  private var walkGen = 0L
  private var genBefore = 0L

  /** Call before issuing each request: a walk page counts only when the
    * registry generation did not change while it was served.
    */
  def begin(): Unit = genBefore = generation()

  /** `allowedTotals`: live generation counts for [[Check.OpenApcTotal]]. */
  def check(req: Req, r: Resp, allowedTotals: => Set[Long] = Set.empty): Boolean = {
    def fail(cls: String, msg: String): Boolean = {
      failures.add(cls, s"${req.path} -> $msg"); false
    }
    if (r.status != 200) return fail(s"status_${r.status}", r.body)
    req.check match {
      case Check.Csv =>
        csvFieldCounts(r.body) match {
          case Some(ns) if ns.nonEmpty && ns.forall(_ == ns.head) => true
          case _ => fail("parse_csv", r.body)
        }
      case c =>
        val js = try mapper.readTree(r.body) catch { case _: Exception => null }
        if (js == null) return fail("parse_json", r.body)
        c match {
          case Check.SumOfCells(agg) =>
            val total = js.path("summary").path(agg).asLong(-1L)
            val cells = js.path("cells").elements().asScala.map(_.path(agg).asLong(0L)).sum
            if (total == cells) true else fail("invariant_sum", s"summary $total != cells $cells")
          case Check.CellWalk(_, step, dims) =>
            walkStep(step, js.path("cells").elements().asScala
              .map(n => dims.map(d => n.path(d).asText()).mkString("\u0001")).toSeq, fail)
          case Check.FactWalk(_, step) =>
            walkStep(step, js.elements().asScala.map(_.toString).toSeq, fail)
          case Check.DoiRow(row, fullName, ror) =>
            val rows = js.elements().asScala.toSeq
            val want = Map("doi" -> row.doi, "institution" -> row.institution,
              "period" -> row.period, "euro" -> row.euro,
              "institution_full_name" -> fullName, "institution_ror" -> ror,
              "url" -> s"https://olap.openapc.net/cube/openapc/facts?cut=doi:${row.doi}")
            if (rows.size == 1 && want.forall { case (k, v) => rows.head.path(k).asText() == v }) true
            else fail("invariant_doi_lookup", r.body)
          case Check.FactRow(row) =>
            if (js.path("doi").asText() == row.doi &&
                js.path("institution").asText() == row.institution &&
                js.path("period").asText() == row.period &&
                js.path("euro").asDouble() == row.euro.toDouble) true
            else fail("invariant_fact", r.body)
          case Check.OpenApcTotal =>
            val n = js.path("summary").path("apc_num_items").asLong(-1L)
            if (allowedTotals.contains(n)) true
            else fail("rebuild_total", s"$n not in ${allowedTotals.toSeq.sorted}")
          case _ => true
        }
    }
  }

  private def walkStep(step: Int, keys: Seq[String],
      fail: (String, String) => Boolean): Boolean = {
    val g = generation()
    val settled = g == genBefore
    if (step == 0 || !settled || g != walkGen) {
      walkSeen = Set.empty
      walkGen = if (settled) g else -1L
    }
    val dup = keys.filter(walkSeen.contains) ++ keys.diff(keys.distinct)
    walkSeen ++= keys
    if (dup.isEmpty) true else fail("invariant_walk", s"repeated ${dup.take(3)}")
  }

  /** Field count of every record, honouring quotes; None when malformed. */
  private def csvFieldCounts(s: String): Option[Seq[Int]] = {
    val counts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var fields = 1
    var inQ = false
    var fieldStart = true
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (inQ) {
        if (ch == '"') {
          if (i + 1 < s.length && s.charAt(i + 1) == '"') i += 1 else inQ = false
        }
        fieldStart = false
      } else if (ch == '"') {
        if (!fieldStart) return None
        inQ = true; fieldStart = false
      } else if (ch == ',') {
        fields += 1; fieldStart = true
      } else if (ch == '\n' || ch == '\r') {
        if (ch == '\r' && i + 1 < s.length && s.charAt(i + 1) == '\n') i += 1
        counts += fields; fields = 1; fieldStart = true
      } else fieldStart = false
      i += 1
    }
    if (inQ) None else { if (s.nonEmpty) counts += fields; Some(counts.toSeq) }
  }
}

object JsonOut {
  def str(s: String): String = graft.util.Json.str(s)

  /** A number with all its digits (no rounding), JSON-safe. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}
