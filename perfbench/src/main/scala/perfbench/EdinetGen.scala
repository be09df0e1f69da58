package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.{Charset, StandardCharsets}
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.util.Random

import graft.ingest.EdinetClient.DocMeta

/** Faults injected into one generated input, each at an exact count. Each
  * count must reappear in the per-layer metric named next to it. */
final case class Faults(
    corruptZip: Int,     // archive is an error page, not a ZIP      -> extract.skipped
    truncatedXbrl: Int,  // winning XBRL cut mid-document            -> parse_xbrl.skipped_files
    bomlessCsv: Int,     // winning CSV in UTF-16LE without a BOM    -> parse_csv.skipped_files
    badValue: Int,       // one series value is not an integer       -> transform.bad_value
    unknownContext: Int, // one series context id is not decodable   -> transform.unknown_context
    offConvention: Int,  // landed leftover whose name breaks E{code}_{ymd}_{type}.{ext} -> bestfile.off_convention
    gaveUp: Int)         // fetch fails on every attempt             -> ingest.gave_up

/** Sizes of one generated EDINET input. */
final case class Shape(
    companies: Int,         // listed, consolidated filers
    filingsPerCompany: Int, // annual reports (120) per company
    correctedShare: Double, // share of companies that also file corrections (130)
    strayShare: Double,     // share of companies with a quarterly report (140)
    unlisted: Int,          // unlisted filers, dropped by the master filter
    fillerRows: Int,        // facts per filing besides the fiscal row and the series
    days: Int,              // doc-list range: one list call per day
    faults: Faults)

/** One filing as the EDINET document list describes it. */
final case class Filing(meta: DocMeta, ymd: String, ext: String)

/** Everything a benchmark run serves and lands, generated from a seed.
  * Modelled on the writers of the test fixtures (cp932 master, BOM'd
  * UTF-16 TSV, namespaced XBRL, ZIP archives), at scale and with faults. */
final class EdinetGen(val shape: Shape, seed: Long) {
  import EdinetGen._

  private val rng = new Random(seed)
  val start: LocalDate = LocalDate.of(2020, 4, 1)
  val end: LocalDate = start.plusDays(shape.days - 1L)

  private def code(i: Int): String = f"E$i%05d"
  private val listedCodes = (0 until shape.companies).map(i => code(10001 + i))
  private val listedSet = listedCodes.toSet
  private val unlistedCodes = (0 until shape.unlisted).map(i => code(60001 + i))

  // ---- company master (cp932) --------------------------------------
  private def alphaName(i: Int): String =
    s"${Words(rng.nextInt(Words.length))} ${Words(rng.nextInt(Words.length))} $i ${Suffixes(rng.nextInt(Suffixes.length))}"
  private def industry(): String = Industries(rng.nextInt(Industries.length))
  private def masterRow(c: String, listed: Boolean, consolidated: Boolean,
      name: String, ind: String): String =
    Seq(c, "内国法人・組合", if (listed) "Listed company" else "Unlisted company",
      if (consolidated) "Consolidated" else "NonConsolidated",
      (1000 + rng.nextInt(90000)).toString, "3.31",
      s"株式会社${JpNames(rng.nextInt(JpNames.length))}", name,
      s"カブシキガイシャ${JpNames(rng.nextInt(JpNames.length))}",
      Provinces(rng.nextInt(Provinces.length)), ind,
      (1300 + rng.nextInt(8000)).toString, (1000000000000L + rng.nextInt(1000000000)).toString
    ).mkString(",")

  /** The master CSV bytes: listed + consolidated filers (kept), unlisted
    * filers, non-consolidated and nameless rows (dropped), and a second
    * row for some codes (the first row wins). */
  val masterCsv: Array[Byte] = {
    val kept = listedCodes.zipWithIndex.map { case (c, i) =>
      masterRow(c, listed = true, consolidated = true, alphaName(i), industry())
    }
    val dropped = unlistedCodes.map(c => masterRow(c, false, true, alphaName(0), industry())) ++
      (0 until shape.companies / 20 + 1).map(i =>
        masterRow(code(70001 + i), true, false, alphaName(i), industry())) ++
      (0 until shape.companies / 20 + 1).map(i =>
        masterRow(code(80001 + i), true, true, "", industry()))
    val body = rng.shuffle(kept ++ dropped)
    val dups = rng.shuffle(listedCodes).take(shape.companies / 50 + 1).map(c =>
      masterRow(c, true, true, s"Duplicate Row $c", industry()))
    (MasterHeader +: (body ++ dups)).mkString("\n").getBytes(Cp932)
  }

  // ---- document list ------------------------------------------------
  private var docSeq = 0
  private def filing(c: String, docType: String, day: Int): Filing = {
    docSeq += 1
    val csv = rng.nextBoolean()
    val d = start.plusDays(day.toLong)
    val meta = DocMeta(f"S1$docSeq%06d", c, docType, if (csv) "1" else "0", "1",
      s"$d 09:${10 + rng.nextInt(50)}")
    Filing(meta, d.format(Ymd), if (csv) "csv" else "xbrl")
  }
  private def days(n: Int): Seq[Int] =
    rng.shuffle((0 until shape.days).toVector).take(n)

  val filings: Seq[Filing] = {
    val corrected = rng.shuffle(listedCodes).take(math.round(shape.companies * shape.correctedShare).toInt).toSet
    val strays = rng.shuffle(listedCodes).take(math.round(shape.companies * shape.strayShare).toInt).toSet
    val listed = listedCodes.flatMap { c =>
      val nCorr = if (corrected(c)) 1 + rng.nextInt(2) else 0
      val nStray = if (strays(c)) 1 else 0
      val ds = days(shape.filingsPerCompany + nCorr + nStray)
      ds.take(shape.filingsPerCompany).map(filing(c, "120", _)) ++
        ds.slice(shape.filingsPerCompany, shape.filingsPerCompany + nCorr).map(filing(c, "130", _)) ++
        ds.drop(shape.filingsPerCompany + nCorr).map(filing(c, "140", _))
    }
    listed ++ unlistedCodes.flatMap(c => days(1).map(filing(c, "120", _)))
  }

  /** The document list per day, in a shuffled order within the day. */
  val listByDay: Map[LocalDate, Seq[DocMeta]] =
    filings.groupBy(f => LocalDate.parse(f.ymd, Ymd))
      .map { case (d, fs) => d -> rng.shuffle(fs).map(_.meta) }

  // ---- faults at the fetch level -----------------------------------
  /** Docs the ingest step will fetch: listed filers, target types. */
  private val wanted = filings.filter(f =>
    listedSet(f.meta.edinetCode) && TargetTypes(f.meta.docTypeCode))
  private val fetchFaulted = rng.shuffle(wanted).take(shape.faults.gaveUp + shape.faults.corruptZip)
  val gaveUpDocs: Set[String] = fetchFaulted.take(shape.faults.gaveUp).map(_.meta.docID).toSet
  val corruptDocs: Set[String] = fetchFaulted.drop(shape.faults.gaveUp).map(_.meta.docID).toSet

  /** Requests whose first attempt fails with a server error: 3% of all
    * list and fetch requests plus a seeded 0-2 more, so the retry count
    * varies a little between seeds and never with the program. */
  val transientFailures: Set[String] = {
    val keys = (0 until shape.days).map(d => s"list/${start.plusDays(d.toLong)}") ++
      wanted.map(_.meta.docID).filterNot(gaveUpDocs).map(id => s"doc/$id")
    rng.shuffle(keys).take(math.round(keys.size * 0.03).toInt + rng.nextInt(3)).toSet
  }

  /** Filings whose file lands, and the file that wins per company under
    * the reference's rule (last correction, else first annual report). */
  private val landed = wanted.filterNot(f => gaveUpDocs(f.meta.docID) || corruptDocs(f.meta.docID))
  private val winners: Seq[Filing] = landed.groupBy(_.meta.edinetCode).values.map { fs =>
    def seq(f: Filing) = f.ymd.toLong * 2 + (if (f.ext == "xbrl") 1 else 0)
    val corr = fs.filter(_.meta.docTypeCode == "130")
    if (corr.nonEmpty) corr.maxBy(seq) else fs.minBy(seq)
  }.toSeq.sortBy(_.meta.docID)

  // ---- faults at the file level (winners only, so each is parsed) ----
  private val (truncated, bomless, badValued, unknownCtx) = {
    val f = shape.faults
    val xs = rng.shuffle(winners.filter(_.ext == "xbrl"))
    val cs = rng.shuffle(winners.filter(_.ext == "csv"))
    val t = xs.take(f.truncatedXbrl)
    val b = cs.take(f.bomlessCsv)
    val rest = rng.shuffle(xs.drop(f.truncatedXbrl) ++ cs.drop(f.bomlessCsv))
    require(t.size == f.truncatedXbrl && b.size == f.bomlessCsv &&
      rest.size >= f.badValue + f.unknownContext, "shape too small for its faults")
    (t.map(_.meta.docID).toSet, b.map(_.meta.docID).toSet,
      rest.take(f.badValue).map(_.meta.docID).toSet,
      rest.slice(f.badValue, f.badValue + f.unknownContext).map(_.meta.docID).toSet)
  }

  // ---- statement content -------------------------------------------
  private def series(f: Filing): Seq[(String, String)] = {
    val ctxs = Contexts.toArray
    if (unknownCtx(f.meta.docID)) ctxs(1 + rng.nextInt(4)) = UnknownContexts(rng.nextInt(UnknownContexts.length))
    val vals = Array.fill(5)((100000000L + (rng.nextDouble() * 9e11).toLong).toString)
    if (badValued(f.meta.docID)) vals(rng.nextInt(5)) = BadValues(rng.nextInt(BadValues.length))
    ctxs.toSeq.zip(vals)
  }
  private def fyEnd(f: Filing): String = {
    val d = LocalDate.parse(f.ymd, Ymd)
    val y = if (d.getMonthValue >= 6) d.getYear else d.getYear - 1
    s"$y-03-31"
  }
  private def filler(n: Int, revenueLocal: String): Seq[(String, String, String)] =
    (0 until n).map { _ =>
      val e = Fillers(rng.nextInt(Fillers.length))
      (e, if (rng.nextBoolean()) Contexts(rng.nextInt(5)) else "CurrentYearInstant",
        rng.nextInt(1000000000).toString)
    }.filterNot(_._1 == revenueLocal)

  private def csvDoc(f: Filing, rows: Int): Array[Byte] = {
    val rev = Revenue(rng.nextInt(Revenue.length))
    val lines = Seq(CsvHeader, s"$FiscalElement\tFilingDateInstant\t\t${fyEnd(f)}") ++
      series(f).map { case (c, v) => s"jpcrp_cor:$rev\t$c\tJPY\t$v" } ++
      filler(rows, rev).map { case (e, c, v) => s"jpcrp_cor:$e\t$c\tJPY\t$v" }
    val text = lines.mkString("\r\n") + "\r\n"
    if (bomless(f.meta.docID)) text.getBytes(StandardCharsets.UTF_16LE)
    else Bom ++ text.getBytes(StandardCharsets.UTF_16LE)
  }

  private def xbrlDoc(f: Filing, rows: Int): Array[Byte] = {
    val rev = Revenue(rng.nextInt(Revenue.length))
    def fact(e: String, c: String, unit: Option[String], v: String) =
      s"""  <jpcrp_cor:$e contextRef="$c"${unit.fold("")(u => s""" unitRef="$u"""")} decimals="-6">$v</jpcrp_cor:$e>"""
    val fill = filler(rows, rev).map { case (e, c, v) => fact(e, c, Some("JPY"), v) }
    val (before, after) = fill.splitAt(fill.size / 2)
    val noUnit = rng.nextInt(5)
    val revenue = series(f).zipWithIndex.map { case ((c, v), i) =>
      fact(rev, c, if (i == noUnit) None else Some("JPY"), v)
    }
    val doc = (Seq(
      """<?xml version="1.0" encoding="UTF-8"?>""",
      """<xbrli:xbrl xmlns:xbrli="http://www.xbrl.org/2003/instance" xmlns:jpdei_cor="http://disclosure.edinet-fsa.go.jp/taxonomy/jpdei/2013-08-31/jpdei_cor" xmlns:jpcrp_cor="http://disclosure.edinet-fsa.go.jp/taxonomy/jpcrp/2023-12-01/jpcrp_cor">""",
      s"""  <xbrli:context id="FilingDateInstant"><xbrli:entity><xbrli:identifier scheme="http://disclosure.edinet-fsa.go.jp">${f.meta.edinetCode}-000</xbrli:identifier></xbrli:entity></xbrli:context>""") ++
      before ++ Seq(
        s"""  <jpdei_cor:EDINETCodeDEI contextRef="FilingDateInstant">${f.meta.edinetCode}</jpdei_cor:EDINETCodeDEI>""",
        s"""  <jpdei_cor:CurrentPeriodEndDateDEI contextRef="FilingDateInstant">${fyEnd(f)}</jpdei_cor:CurrentPeriodEndDateDEI>""",
        """  <jpdei_cor:NumberOfSubmissionDEI contextRef="FilingDateInstant">1</jpdei_cor:NumberOfSubmissionDEI>""") ++
      revenue ++ after ++ Seq("</xbrli:xbrl>")).mkString("\n")
    val bytes = doc.getBytes(StandardCharsets.UTF_8)
    if (truncated(f.meta.docID)) bytes.take(bytes.length * 3 / 5) else bytes
  }

  /** What a fetch of each document returns: a ZIP holding the statement
    * (largest member of its extension), a smaller decoy of the same
    * extension and members of other types; or an error page. */
  val archives: Map[String, Array[Byte]] = wanted.map { f =>
    val id = f.meta.docID
    val bytes =
      if (corruptDocs(id)) ErrorPage.getBytes(StandardCharsets.UTF_8)
      else {
        val stem = s"jpcrp030000-asr-001_${f.meta.edinetCode}-000_${fyEnd(f)}_01_${f.ymd}"
        val (main, decoy) =
          if (f.ext == "csv") (csvDoc(f, shape.fillerRows), csvDoc(f, 0).take(200))
          else (xbrlDoc(f, shape.fillerRows), xbrlDoc(f, 0).take(200))
        zip(Seq(
          s"XBRL_TO_CSV/jpaud-aar-cn-001_$stem.${f.ext}" -> decoy,
          s"XBRL/PublicDoc/$stem.${f.ext}" -> main,
          s"XBRL/PublicDoc/0101010_honbun_$stem.htm" -> HtmlStub,
          "XBRL/PublicDoc/manifest_PublicDoc.xml" -> ManifestStub))
      }
    id -> bytes
  }.toMap

  /** Files left in the landing directory by earlier runs whose names do
    * not follow the convention; their content is a real statement. */
  val offConventionFiles: Seq[(String, Array[Byte])] = {
    val src = winners.take(math.max(1, shape.faults.offConvention))
    (0 until shape.faults.offConvention).map { i =>
      val f = src(i % src.size)
      val name = i % 4 match {
        case 0 => s"${f.meta.edinetCode}_${f.ymd}_${f.meta.docTypeCode} (1).${f.ext}"
        case 1 => s"${f.meta.edinetCode}-${f.ymd}-${f.meta.docTypeCode}.${f.ext}"
        case 2 => s"${f.meta.edinetCode}_${f.ymd}_${f.meta.docTypeCode}.${f.ext.toUpperCase}"
        case _ => s"download_${f.meta.docID}_$i.zip.part"
      }
      name -> csvDoc(f, shape.fillerRows)
    }
  }
}

object EdinetGen {
  val Cp932: Charset = Charset.forName("windows-31j")
  val Ymd: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyyMMdd")
  val TargetTypes: Set[String] = graft.edinet.Model.targetDocTypes.toSet
  private val Bom = Array(0xFF.toByte, 0xFE.toByte)

  val MasterHeader: String =
    "EDINET Code,Type of Submitter,Listed company / Unlisted company," +
      "Consolidated / NonConsolidated,Capital stock,account closing date," +
      "Submitter Name,Submitter Name（alphabetic）,Submitter Name（phonetic）," +
      "Province,Submitter's industry,Securities Identification Code," +
      "Submitter's Japan Corporate Number"
  val CsvHeader = "要素ID\tコンテキストID\tユニットID\t値"
  val FiscalElement = "jpdei_cor:CurrentFiscalYearEndDateDEI"
  val Contexts: Seq[String] = Seq("CurrentYearDuration", "Prior1YearDuration",
    "Prior2YearDuration", "Prior3YearDuration", "Prior4YearDuration")
  private val UnknownContexts = Seq("Prior5YearDuration", "CurrentYearInstant_NonConsolidatedMember")
  private val BadValues = Seq("N/A", "－", "1.2e9")
  private val Revenue = Seq("NetSalesSummaryOfBusinessResults",
    "RevenueIFRSSummaryOfBusinessResults", "OperatingRevenue1SummaryOfBusinessResults",
    "NetSalesIFRSSummaryOfBusinessResults")
  private val Fillers = Seq("OrdinaryIncomeLossSummaryOfBusinessResults",
    "ProfitLossAttributableToOwnersOfParentSummaryOfBusinessResults",
    "NetAssetsSummaryOfBusinessResults", "TotalAssetsSummaryOfBusinessResults",
    "EquityToAssetRatioSummaryOfBusinessResults", "NumberOfEmployees",
    "CashAndCashEquivalents", "CapitalStock", "RetainedEarnings", "Goodwill")
  private val Words = Seq("Kanto", "Hoku", "Nippon", "Sakura", "Fuji", "Asahi",
    "Tokai", "Chuo", "Daiichi", "Taiyo", "Kita", "Minami", "Shin", "Yamato")
  private val Suffixes = Seq("Corp", "Holdings", "KK", "Inc", "Industries", "Group")
  private val Industries = Seq("Transportation equipment", "Construction", "Banks",
    "Retail trade", "Chemicals", "Information and communication", "Machinery",
    "Electric appliances", "Foods", "Services")
  private val JpNames = Seq("トヨタ", "日立", "三菱", "住友", "東芝", "野村", "大和", "山田")
  private val Provinces = Seq("Tokyo", "Osaka", "Kyoto", "Aichi", "Fukuoka", "Hokkaido")
  private val ErrorPage = "<html><head><title>503 Service Unavailable</title></head>" +
    "<body>The server is temporarily unable to service your request.</body></html>"
  private val HtmlStub = "<html><body>有価証券報告書</body></html>".getBytes(StandardCharsets.UTF_8)
  private val ManifestStub = "<manifest><list/></manifest>".getBytes(StandardCharsets.UTF_8)

  def zip(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    members.foreach { case (name, bytes) =>
      zos.putNextEntry(new ZipEntry(name)); zos.write(bytes); zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }
}
