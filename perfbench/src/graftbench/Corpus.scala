package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.Locale

import scala.collection.mutable.ArrayBuffer

/** Seeded generator of an OpenAPC-shaped input directory: every file
  * `CubeBuilder.readInputs` reads plus `info.json`.
  *
  * Skew (all draws come from one `java.util.SplittableRandom(seed)`, so the
  * same seed gives byte-identical files):
  *  - institutions, publishers and journals are Zipf-popular (s = 1.1);
  *  - periods 2005–2024, weighted towards recent years;
  *  - about 40 % of APC rows are hybrid;
  *  - APC euro is lognormal (median ≈ 1,650 €), two decimals;
  *  - about 85 % of transformative-agreement rows carry `NA` euro;
  *  - about 2 % of APC rows have no DOI and use the URL fallback;
  *  - about 3 % of APC DOIs carry additional costs;
  *  - Wiley and Springer DEAL opt-out files, Springer coverage JSON caches.
  *
  * Every institution appears in `institutions.csv`, so the ETL's strict
  * mode passes. `appendDelta` appends the rows a rebuild cycle adds: new
  * APC rows in a new period, again only for known institutions.
  *
  * Run standalone: `graftbench.Corpus --seed <n> --out <dir>`.
  */
final class Corpus private (val seed: Long, val dir: Path) {
  import Corpus._

  private val rng = new java.util.SplittableRandom(seed)

  // ---- vocabulary ---------------------------------------------------------

  val institutions: IndexedSeq[Institution] = (0 until NumInstitutions).map { i =>
    val country = if (i % 11 == 7) "AUT" else if (i % 13 == 5) "CHE" else "DEU"
    // every ninth institution has no institutional cubes (cubes name NA)
    Institution(f"Inst$i%03d", f"Institute of Research $i%03d",
      if (i % 9 == 8) "NA" else f"inst$i%03d", country,
      f"https://ror.org/0b$i%05dx")
  }

  val publishers: IndexedSeq[String] =
    Vector("Elsevier BV", "Springer Nature", "Wiley-Blackwell", "MDPI AG",
      "Frontiers Media SA", "EMBO", "Oxford University Press (OUP)",
      "Zhejiang University Press", "American Geophysical Union (AGU)",
      "Public Library of Science (PLoS)") ++
      (10 until NumPublishers).map(i => f"Academic Press $i%03d")

  /** (title, publisher index, issn) — titles carry a colon now and then so
    * the ETL's colon scrub has work to do.
    */
  val journals: IndexedSeq[(String, Int, String)] = {
    val pz = new Zipf(NumPublishers, 1.1)
    (0 until NumJournals).map { j =>
      val title = if (j % 7 == 3) f"Journal of Topic $j%04d: Letters"
        else f"Journal of Topic $j%04d"
      (title, pz.sample(rng), f"${1000 + j}%04d-${(j * 7919) % 10000}%04d")
    }
  }

  private val instZipf = new Zipf(NumInstitutions, 1.1)
  private val journalZipf = new Zipf(NumJournals, 1.1)
  private val periodWeights = (2005 to 2024).map(y => math.pow(y - 2004, 1.5))
  private val periodCdf = periodWeights.scanLeft(0.0)(_ + _).tail.map(_ / periodWeights.sum)

  private def period(): Int = {
    val u = rng.nextDouble()
    2005 + periodCdf.indexWhere(_ >= u).max(0)
  }
  private def euro(): String =
    "%.2f".formatLocal(Locale.ROOT, math.exp(7.41 + 0.45 * gaussian()))
  private def gaussian(): Double = { // Box–Muller, one value per call
    val u1 = 1.0 - rng.nextDouble(); val u2 = rng.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  // ---- generated facts (kept for the benchmark's output checks) -----------

  /** One generated APC row as it lands in `doi_lookup` (doi ≠ NA only). */
  val apcLookup = ArrayBuffer.empty[ApcRow]
  /** APC row count per generation: base, then one entry per applied delta. */
  val apcCounts = ArrayBuffer.empty[Long]

  private def apcLine(inst: Institution, p: Int, doi: String, url: String,
      e: String): String = {
    val (title, pub, issn) = journals(journalZipf.sample(rng))
    val hybrid = rng.nextDouble() < 0.4
    Seq(inst.id, p.toString, e, doi, if (hybrid) "TRUE" else "FALSE",
      publishers(pub), title, issn, "NA", "NA", issn, "CC BY", "TRUE",
      "NA", "NA", "NA", url, if (hybrid) "FALSE" else "TRUE").mkString(",")
  }

  private def apcRow(i: Int, p: Int): String = {
    val inst = institutions(instZipf.sample(rng))
    val e = euro()
    if (rng.nextDouble() < 0.02)
      apcLine(inst, p, "NA", s"https://repository.example.org/$seed/$i", e)
    else {
      val doi = s"10.${5000 + i % 97}/apc.$seed.$i"
      apcLookup += ApcRow(doi, inst.id, p.toString, e)
      apcLine(inst, p, doi, "NA", e)
    }
  }

  private def write(name: String, lines: Iterator[String]): Unit = {
    val w = Files.newBufferedWriter(dir.resolve(name), StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  private def generate(): Unit = {
    Files.createDirectories(dir)
    write("institutions.csv", Iterator(InstitutionsHeader) ++ institutions.iterator.map(i =>
      Seq(i.id, i.fullName, i.cubesName, "Europe", i.country, "NA", i.ror).mkString(",")))
    write("apc_de.csv", Iterator(ApcHeader) ++
      (0 until ApcRows).iterator.map(i => apcRow(i, period())))
    apcCounts += ApcRows.toLong

    // additional costs (wide): a few percent of the APC DOIs, two cost
    // columns, some cells NA or empty (skipped by the ETL)
    val withCosts = apcLookup.iterator.filter(_ => rng.nextDouble() < 0.03).toVector
    write("apc_de_additional_costs.csv", Iterator("doi,colour charges,page charges") ++
      withCosts.iterator.map { r =>
        val colour = if (rng.nextDouble() < 0.7) euro() else "NA"
        val page = if (rng.nextDouble() < 0.5) "%.2f".formatLocal(Locale.ROOT,
          100 + 400 * rng.nextDouble()) else ""
        s"${r.doi},$colour,$page"
      })

    // transformative agreements: mostly NA euro; Springer rows feed the
    // coverage cube, Wiley/Springer DEAL rows feed the deal cube
    val springerTa = ArrayBuffer.empty[(String, String, Int)] // (doi, issn, period)
    write("transformative_agreements.csv", Iterator(TaHeader) ++
      (0 until ApcRows * 2 / 5).iterator.map { i =>
        val inst = institutions(instZipf.sample(rng))
        val (title, pub, issn) = journals(journalZipf.sample(rng))
        val p = 2015 + rng.nextInt(10)
        val publisher = publishers(pub)
        val agreement = publisher match {
          case "Springer Nature" =>
            if (p >= 2020 && rng.nextBoolean()) "DEAL Springer Nature Germany"
            else "Springer Compact"
          case "Wiley-Blackwell" | "EMBO" => "DEAL Wiley Germany"
          case _ => f"Agreement ${pub % 12}%02d"
        }
        val doi = s"10.${6000 + i % 89}/ta.$seed.$i"
        if (publisher == "Springer Nature") springerTa += ((doi, issn, p))
        val e = if (rng.nextDouble() < 0.85) "NA" else euro()
        taLine(inst.id, p, e, doi, publisher, title, issn, agreement)
      })

    // DEAL opt-outs (TA-shaped; opt_out is injected by the ETL)
    def optOut(name: String, tag: String, publisher: String, agreement: String,
        rows: Int, firstYear: Int): Unit =
      write(name, Iterator(TaHeader) ++ (0 until rows).iterator.map { i =>
        val inst = institutions(instZipf.sample(rng))
        val (title, _, issn) = journals(journalZipf.sample(rng))
        taLine(inst.id, firstYear + rng.nextInt(2025 - firstYear), euro(),
          s"10.7000/optout.$tag.$seed.$i", publisher, title, issn, agreement)
      })
    optOut("deal_wiley_germany_opt_out.csv", "wiley", "Wiley-Blackwell",
      "DEAL Wiley Germany", ApcRows / 100, 2019)
    optOut("deal_springer_nature_germany_opt_out.csv", "springer", "Springer Nature",
      "DEAL Springer Nature Germany", ApcRows / 150, 2020)

    write("bpc.csv", Iterator(BpcHeader) ++ (0 until ApcRows / 25).iterator.map { i =>
      val inst = institutions(instZipf.sample(rng))
      val pub = publishers(journals(journalZipf.sample(rng))._2)
      Seq(inst.id, period().toString,
        "%.2f".formatLocal(Locale.ROOT, math.exp(8.7 + 0.4 * gaussian())),
        s"10.978/book.$seed.$i", if (rng.nextDouble() < 0.3) "TRUE" else "FALSE",
        pub, s"Book Title $i", f"978-3-${i % 100000}%05d", "NA", "NA", "CC BY",
        "TRUE", if (rng.nextBoolean()) "TRUE" else "FALSE").mkString(",")
    })

    // Springer coverage caches: one journal id per Springer journal; the
    // issn→id cache covers them all, pub-dates cover a fifth of the TA DOIs
    val springerJournals = journals.filter(j => publishers(j._2) == "Springer Nature")
    val jid = springerJournals.zipWithIndex.map { case (j, k) => j._3 -> f"${20000 + k}%05d" }.toMap
    Files.writeString(dir.resolve("coverage_stats.json"), springerJournals.map { j =>
      val years = (2015 to 2024).map { y =>
        val total = 50 + rng.nextInt(400)
        s""""$y": {"num_journal_total_articles": $total, """ +
          s""""num_journal_oa_articles": ${rng.nextInt(total / 2 + 1)}}"""
      }.mkString(", ")
      s""""${jid(j._3)}": {"title": "${j._1.replace(":", "")}", "years": {$years}}"""
    }.mkString("{", ",\n", "}\n"), StandardCharsets.UTF_8)
    Files.writeString(dir.resolve("journal_ids.json"),
      jid.toSeq.sorted.map { case (issn, id) => s""""$issn": "$id"""" }
        .mkString("{", ",\n", "}\n"), StandardCharsets.UTF_8)
    val pubDates = springerTa.filter(_ => rng.nextDouble() < 0.2)
      .groupBy(t => jid(t._2)).toSeq.sortBy(_._1)
    Files.writeString(dir.resolve("article_pubdates.json"), pubDates.map {
      case (id, rows) => s""""$id": {${rows.map { case (doi, _, p) =>
        s""""$doi": "${p - rng.nextInt(2)}"""" }.mkString(", ")}}"""
    }.mkString("{", ",\n", "}\n"), StandardCharsets.UTF_8)

    Files.writeString(dir.resolve("info.json"),
      s"""{"name": "bench.olap.example", "label": "OpenAPC benchmark corpus",
         |  "description": "seeded OpenAPC-shaped corpus, seed $seed, $ApcRows APC rows",
         |  "license": "Open Database License", "keywords": ["APC", "benchmark"]}
         |""".stripMargin, StandardCharsets.UTF_8)
  }

  private def taLine(inst: String, p: Int, e: String, doi: String,
      publisher: String, title: String, issn: String, agreement: String) =
    Seq(inst, p.toString, e, doi, "TRUE", publisher, title, issn, "NA", "NA",
      issn, "CC BY", "TRUE", "NA", "NA", "NA", "NA", "FALSE", agreement)
      .mkString(",")

  /** Append delta `k` (1-based) to `apc_de.csv`: `rows` new APC rows, all
    * in the new period 2024 + k. Returns the new APC row count.
    */
  def appendDelta(k: Int, rows: Int): Long = {
    val base = apcCounts.last.toInt
    val lines = (0 until rows).map(i => apcRow(base + i, 2024 + k))
    Files.writeString(dir.resolve("apc_de.csv"), lines.mkString("", "\n", "\n"),
      StandardCharsets.UTF_8, StandardOpenOption.APPEND)
    apcCounts += (base + rows).toLong
    apcCounts.last
  }
}

object Corpus {
  /** APC rows of a fresh corpus; every workload serves a corpus this size. */
  val ApcRows = 20000
  val NumInstitutions = 60
  val NumPublishers = 48
  val NumJournals = 900

  final case class Institution(id: String, fullName: String, cubesName: String,
      country: String, ror: String)
  final case class ApcRow(doi: String, institution: String, period: String, euro: String)

  val InstitutionsHeader =
    "institution,institution_full_name,institution_cubes_name,continent,country,state,ror_id"
  val ApcHeader = "institution,period,euro,doi,is_hybrid,publisher," +
    "journal_full_title,issn,issn_print,issn_electronic,issn_l,license_ref," +
    "indexed_in_crossref,pmid,pmcid,ut,url,doaj"
  val TaHeader = "institution,period,euro,doi,is_hybrid,publisher," +
    "journal_full_title,issn,issn_print,issn_electronic,issn_l,license_ref," +
    "indexed_in_crossref,pmid,pmcid,ut,url,doaj,agreement"
  val BpcHeader = "institution,period,euro,doi,backlist_oa,publisher,book_title," +
    "isbn,isbn_print,isbn_electronic,license_ref,indexed_in_crossref,doab"

  /** Zipf(n, s) over 0 until n by inverse-CDF lookup. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def sample(rng: java.util.SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Write a fresh corpus for `seed` into `dir` (which must not exist yet). */
  def write(seed: Long, dir: Path): Corpus = {
    require(!Files.exists(dir), s"corpus dir $dir already exists")
    val c = new Corpus(seed, dir)
    c.generate()
    c
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val seed = opts.getOrElse("--seed", sys.error("--seed <n> is required")).toLong
    val out = Paths.get(opts.getOrElse("--out", sys.error("--out <dir> is required")))
    val c = write(seed, out)
    println(s"wrote ${c.apcCounts.last} APC rows for seed $seed to $out")
  }
}
