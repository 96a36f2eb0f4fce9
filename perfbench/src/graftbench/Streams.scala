package graftbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

/** Seeded request streams over a served [[Corpus]] instance. */
object Streams {

  private def enc(s: String): String = URLEncoder.encode(s, StandardCharsets.UTF_8)

  private def q(params: (String, String)*): String =
    if (params.isEmpty) "" else params.map { case (k, v) => s"$k=${enc(v)}" }.mkString("?", "&", "")

  /** Institutions the dashboard serves: the 6 most popular with
    * institutional cubes, most popular first. Each owns one drilldown
    * frame, so the whole dashboard fits the server's 16-frame cache.
    */
  def dashboardInstitutions(c: Corpus): IndexedSeq[Corpus.Institution] =
    c.institutions.filter(_.cubesName != "NA").take(6)

  val DashboardDrill = Seq("period", "publisher")
  val DashboardOrders = Seq("apc_amount_sum:desc", "apc_num_items:desc")

  /** One treemap session per call: cube list, institution model and
    * summary, the period/publisher drilldown unpaginated, a page walk over
    * the same drilldown, and member pages. Institutions are Zipf-popular.
    * 61 distinct URLs exist, well inside the 512-entry response cache.
    */
  def dashboardSession(c: Corpus, rng: java.util.SplittableRandom,
      zipf: Corpus.Zipf, walkId: Int): Seq[Req] = {
    val inst = dashboardInstitutions(c)(zipf.sample(rng))
    val cube = s"/cube/${inst.cubesName}"
    val drill = DashboardDrill.mkString("|")
    val order = DashboardOrders(rng.nextInt(DashboardOrders.size))
    val pages = 1 + rng.nextInt(MaxPages)
    Seq(Req("/cubes", Check.Json), Req(s"$cube/model", Check.Json),
      Req(s"$cube/aggregate", Check.Json),
      Req(s"$cube/aggregate" + q("drilldown" -> drill), Check.SumOfCells("apc_num_items"))) ++
      (0 until pages).map(p => Req(s"$cube/aggregate" + q("drilldown" -> drill,
        "order" -> order, "page" -> p.toString, "pagesize" -> "20"),
        Check.CellWalk(walkId, p, DashboardDrill))) ++
      MemberPages.take(1 + rng.nextInt(MemberPages.size)).map { case (dim, p) =>
        Req(s"$cube/members/$dim" + q("page" -> p.toString, "pagesize" -> "25"), Check.Json) }
  }

  val MaxPages = 2
  val MemberPages = Seq("publisher" -> 0, "publisher" -> 1, "journal_full_title" -> 0)

  /** `n` dashboard requests for client `client`. */
  def dashboard(c: Corpus, seed: Long, client: Int, n: Int): IndexedSeq[Req] = {
    val rng = new java.util.SplittableRandom(seed * 1000003L + client)
    val zipf = new Corpus.Zipf(dashboardInstitutions(c).size, 1.1)
    val out = ArrayBuffer.empty[Req]
    var walk = 0
    while (out.size < n) { out ++= dashboardSession(c, rng, zipf, walk); walk += 1 }
    out.toIndexedSeq
  }

  /** Every distinct dashboard URL, for warming. */
  def dashboardUniverse(c: Corpus): Seq[Req] = {
    val all = dashboardInstitutions(c).flatMap { inst =>
      val cube = s"/cube/${inst.cubesName}"
      val drill = DashboardDrill.mkString("|")
      Seq(Req(s"$cube/model", Check.Json), Req(s"$cube/aggregate", Check.Json),
        Req(s"$cube/aggregate" + q("drilldown" -> drill), Check.SumOfCells("apc_num_items"))) ++
        (for (o <- DashboardOrders; p <- 0 until MaxPages) yield Req(s"$cube/aggregate" +
          q("drilldown" -> drill, "order" -> o, "page" -> p.toString, "pagesize" -> "20"),
          Check.Json)) ++
        MemberPages.map { case (d, p) =>
          Req(s"$cube/members/$d" + q("page" -> p.toString, "pagesize" -> "25"), Check.Json) }
    }
    Req("/cubes", Check.Json) +: all
  }

  // ---- adhoc --------------------------------------------------------------

  /** A static cube's dims usable for cuts/drilldowns and its count and
    * sum aggregates (None where the model has none).
    */
  final case class CubeShape(name: String, dims: Seq[String],
      count: Option[String], sum: Option[String])

  private val apcDims = Seq("period", "publisher", "is_hybrid", "country", "institution")
  val staticShapes: Seq[CubeShape] = Seq(
    CubeShape("openapc", apcDims, Some("apc_num_items"), Some("apc_amount_sum")),
    CubeShape("combined", apcDims, Some("apc_num_items"), Some("apc_amount_sum")),
    CubeShape("deal", apcDims :+ "opt_out", Some("apc_num_items"), Some("apc_amount_sum")),
    CubeShape("openapc_ac", apcDims :+ "cost_type", Some("cost_data_num_items"),
      Some("apc_amount_sum")),
    CubeShape("transformative_agreements", apcDims :+ "agreement", Some("num_items"), None),
    CubeShape("bpc", Seq("period", "publisher", "doab", "backlist_oa", "country",
      "institution"), Some("bpc_num_items"), Some("bpc_amount_sum")),
    CubeShape("doi_lookup", Seq("period", "institution"), Some("num_items"), None),
    CubeShape("springer_compact_coverage", Seq("period", "is_hybrid"), None,
      Some("springer_compact_articles")))

  /** Institutional `apc` views share the openapc shape minus `institution`. */
  def institutionalShape(cube: String): CubeShape =
    CubeShape(cube, apcDims.filterNot(_ == "institution"), Some("apc_num_items"),
      Some("apc_amount_sum"))

  /** Distinct ad-hoc requests: seeded random cuts (point, set, range,
    * negated), 1–2-dimension drilldowns, orders, share=, format=csv, facts
    * page walks, keyset members and DOI point lookups, over all static
    * cubes and institutional views. Every client's stream comes from one
    * instance, which never repeats a URL.
    */
  final class Adhoc(c: Corpus, seed: Long) {
    private val seen = scala.collection.mutable.HashSet.empty[String]
    private val institutional = c.institutions.filter(_.cubesName != "NA")
    private val lookups = {
      val rows = c.apcLookup.toIndexedSeq
      val r = new java.util.Random(seed)
      val idx = Array.range(0, rows.size)
      for (i <- idx.indices.reverse) {
        val j = r.nextInt(i + 1); val t = idx(i); idx(i) = idx(j); idx(j) = t
      }
      idx.iterator.map(rows)
    }
    private val byId = c.institutions.map(i => i.id -> i).toMap

    private def value(dim: String, rng: java.util.SplittableRandom): String = dim match {
      case "period" => (2005 + rng.nextInt(20)).toString
      case "publisher" => c.publishers(math.min(rng.nextInt(12), c.publishers.size - 1))
      case "is_hybrid" | "doab" | "backlist_oa" | "opt_out" =>
        if (rng.nextBoolean()) "TRUE" else "FALSE"
      case "country" => Seq("DEU", "AUT", "CHE")(rng.nextInt(3))
      case "institution" => c.institutions(rng.nextInt(c.institutions.size)).id
      case "cost_type" => Seq("apc", "colour charges", "page charges")(rng.nextInt(3))
      case "agreement" => Seq("Springer Compact", "DEAL Wiley Germany",
        "DEAL Springer Nature Germany", "Agreement 03")(rng.nextInt(4))
      case _ => "NA"
    }

    private def cut(shape: CubeShape, rng: java.util.SplittableRandom): String = {
      val dim = shape.dims(rng.nextInt(shape.dims.size))
      val neg = if (rng.nextInt(5) == 0) "!" else ""
      rng.nextInt(3) match {
        case 0 if dim == "period" =>
          val lo = 2005 + rng.nextInt(18)
          s"${neg}period:$lo~${lo + 1 + rng.nextInt(6)}"
        case 1 => s"$neg$dim:" + Seq.fill(2 + rng.nextInt(2))(value(dim, rng)).distinct.mkString(";")
        case _ => s"$neg$dim:${value(dim, rng)}"
      }
    }

    private def cuts(shape: CubeShape, rng: java.util.SplittableRandom): Option[String] =
      rng.nextInt(3) match {
        case 0 => None
        case n => Some(Seq.fill(n)(cut(shape, rng)).distinctBy(_.takeWhile(_ != ':'))
          .mkString("|"))
      }

    private def shape(rng: java.util.SplittableRandom): CubeShape =
      if (rng.nextInt(4) == 0)
        institutionalShape(institutional(rng.nextInt(institutional.size)).cubesName)
      else staticShapes(rng.nextInt(staticShapes.size))

    private def drill(s: CubeShape, rng: java.util.SplittableRandom): Seq[String] = {
      val d1 = s.dims(rng.nextInt(s.dims.size))
      val rest = s.dims.filterNot(_ == d1)
      if (rng.nextBoolean() && rest.nonEmpty) Seq(d1, rest(rng.nextInt(rest.size))) else Seq(d1)
    }

    /** One request group (a facts walk is several requests). */
    def next(rng: java.util.SplittableRandom, walkId: Int): Seq[Req] = {
      val s = shape(rng)
      val base = s"/cube/${s.name}"
      val cutP = cuts(s, rng).map("cut" -> _).toSeq
      rng.nextInt(20) match {
        case 0 | 1 | 2 | 3 => // unpaginated drilldown, checked as a partition
          val d = drill(s, rng)
          Seq(Req(s"$base/aggregate" + q(cutP ++ Seq("drilldown" -> d.mkString("|")): _*),
            s.count.map(Check.SumOfCells).getOrElse(Check.Json)))
        case 4 | 5 | 6 => // ordered page of a drilldown
          val d = drill(s, rng)
          val ord = (s.sum.orElse(s.count).toSeq :+ d.head)(rng.nextInt(2)) +
            (if (rng.nextBoolean()) ":desc" else "")
          Seq(Req(s"$base/aggregate" + q(cutP ++ Seq("drilldown" -> d.mkString("|"),
            "order" -> ord, "page" -> rng.nextInt(3).toString,
            "pagesize" -> (5 + rng.nextInt(30)).toString): _*), Check.Json))
        case 7 | 8 => // summary only
          Seq(Req(s"$base/aggregate" + q(cutP: _*), Check.Json))
        case 9 => // share of total
          val agg = s.sum.orElse(s.count).get
          Seq(Req(s"$base/aggregate" + q(cutP ++ Seq("drilldown" -> drill(s, rng).head,
            "share" -> agg): _*), Check.Json))
        case 10 | 11 => // CSV rendering of a drilldown
          Seq(Req(s"$base/aggregate" + q(cutP ++ Seq("drilldown" -> drill(s, rng).mkString("|"),
            "format" -> "csv"): _*), Check.Csv))
        case 12 | 13 => // facts page walk
          val ps = (10 + rng.nextInt(20)).toString
          (0 until 3).map(p => Req(s"$base/facts" + q(cutP ++ Seq("page" -> p.toString,
            "pagesize" -> ps): _*), Check.FactWalk(walkId, p)))
        case 14 => // facts as CSV
          Seq(Req(s"$base/facts" + q(cutP ++ Seq("page" -> rng.nextInt(5).toString,
            "pagesize" -> "20", "format" -> "csv"): _*), Check.Csv))
        case 15 | 16 => // keyset members page, on a dimension the cube has
          val modelDims = graft.etl.OpenApcModels.staticModels.find(_.name == s.name)
            .getOrElse(graft.etl.OpenApcModels.openapc).dimensions.map(_.name)
          val own = Seq("publisher", "journal_full_title", "institution").filter(modelDims.contains)
          val (cube, dims) = if (own.nonEmpty) (s.name, own)
            else ("openapc", Seq("publisher", "journal_full_title", "institution"))
          val dim = dims(rng.nextInt(dims.size))
          val after = dim match {
            case "journal_full_title" => c.journals(rng.nextInt(c.journals.size))._1
              .replace(":", "")
            case d => value(d, rng)
          }
          Seq(Req(s"/cube/$cube/members/$dim" + q(cutP.filter(_ => cube == s.name) ++
            Seq("after" -> after, "pagesize" -> (10 + rng.nextInt(30)).toString): _*),
            Check.Json))
        case 17 | 18 => // doi_lookup point cut
          val r = lookups.next()
          val inst = byId(r.institution)
          Seq(Req("/cube/doi_lookup/facts" + q("cut" -> s"doi:${r.doi}"),
            Check.DoiRow(r, inst.fullName, inst.ror.stripPrefix("https://ror.org/"))))
        case _ => // fact by id
          val r = lookups.next()
          Seq(Req(s"/cube/openapc/fact/${r.doi}", Check.FactRow(r)))
      }
    }

    /** `n` requests for one client, none repeating a URL seen anywhere. */
    def stream(client: Int, n: Int): IndexedSeq[Req] = {
      val rng = new java.util.SplittableRandom(seed * 7919L + client)
      val out = ArrayBuffer.empty[Req]
      var walk = 0
      while (out.size < n) {
        val group = next(rng, walk)
        if (group.forall(r => !seen.contains(r.path))) {
          group.foreach(r => seen += r.path)
          out ++= group
          walk += 1
        }
      }
      out.toIndexedSeq
    }
  }
}
