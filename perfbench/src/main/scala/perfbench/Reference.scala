package perfbench

import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.edinet.Model
import graft.ingest.EdinetClient.DocMeta

/** The expected pipeline output, computed without Spark and spelled like
  * the reference's per-file loop: pick the best file per company, parse
  * it, take the 5-year series, decode and enrich. The benchmark compares
  * the program's written CSV with it row for row. */
object Reference {

  final case class OutRow(year: Int, company: String, industry: String,
      geo: String, revenue: Long, unit: String)

  private final case class Fact(element: String, context: String, unit: String, value: String)

  private val FileName = "E(\\d+)_(\\d+)_(\\d+)\\.(csv|xbrl)".r

  /** Rows for what the ingest fetched: unzip each archive (largest
    * member of the wanted extension), add the leftovers already in the
    * landing directory, then run the per-file loop. */
  def expected(masterCsv: Array[Byte], fetched: Seq[(DocMeta, String, Array[Byte])],
      leftovers: Seq[(String, Array[Byte])]): Seq[OutRow] = {
    val master = readMaster(masterCsv)
    val landed = fetched.flatMap { case (m, ext, zip) =>
      largestMember(zip, ext).map(bytes =>
        s"${m.edinetCode}_${m.submitDateTime.take(10).replace("-", "")}_${m.docTypeCode}.$ext" -> bytes)
    }.toMap ++ leftovers
    // the reference's dict: the first file seen stays, a correction overwrites
    val best = mutable.LinkedHashMap.empty[String, String]
    for (name <- landed.keys.toSeq.sorted) name match {
      case FileName(code, _, docType, _) if Model.targetDocTypes.contains(docType) =>
        if (!best.contains("E" + code) || docType == Model.correctionDocType) best("E" + code) = name
      case _ => ()
    }
    best.toSeq.flatMap { case (code, name) =>
      val facts = if (name.endsWith(".csv")) parseCsv(landed(name)) else parseXbrl(landed(name))
      facts.toSeq.flatMap(fs => revenueRows(code, fs, master))
    }
  }

  private def largestMember(zip: Array[Byte], ext: String): Option[Array[Byte]] = Try {
    val in = new ZipInputStream(new ByteArrayInputStream(zip))
    var best: Option[Array[Byte]] = None
    var e = in.getNextEntry
    while (e != null) {
      if (!e.isDirectory && e.getName.toLowerCase.endsWith("." + ext)) {
        val bytes = in.readAllBytes()
        if (best.forall(_.length < bytes.length)) best = Some(bytes)
      }
      e = in.getNextEntry
    }
    best
  }.toOption.flatten

  private def revenueRows(code: String, facts: Seq[Fact],
      master: Map[String, (String, String)]): Seq[OutRow] =
    if (facts.size < 2) Nil
    else {
      val revenueElement = facts(1).element
      val fiscalYear = facts.find(_.element == Model.fiscalYearEndElement)
        .flatMap(f => Try(LocalDate.parse(f.value).getYear).toOption)
      for {
        f <- facts.filter(_.element == revenueElement).take(5)
        offset <- Model.contextYearOffsets.get(f.context).toSeq
        revenue <- Try(f.value.toLong).toOption.toSeq
        year <- fiscalYear.toSeq
        (name, industry) <- master.get(code).toSeq
      } yield OutRow(year + offset, name, industry, "Japan", revenue, f.unit)
    }

  /** UTF-16 (BOM-honouring) tab-separated statement; None when the header
    * lacks a needed column. */
  private def parseCsv(bytes: Array[Byte]): Option[Seq[Fact]] = {
    val lines = new String(bytes, StandardCharsets.UTF_16).split("\r\n|\r|\n").filter(_.nonEmpty)
    if (lines.isEmpty) return None
    val header = lines.head.split("\t", -1).map(_.trim)
    val cols = Seq(Model.StmtCols.ElementId, Model.StmtCols.ContextId,
      Model.StmtCols.UnitId, Model.StmtCols.Value).map(header.indexOf(_))
    if (cols.exists(_ < 0)) None
    else Some(lines.toSeq.tail.map { line =>
      val f = line.split("\t", -1)
      val Seq(e, c, u, v) = cols.map(j => if (j < f.length) f(j) else null)
      Fact(e, c, u, v)
    })
  }

  /** XBRL instance: the fiscal-period-end facts, and the 5 elements that
    * follow the first NumberOfSubmissionDEI in pre-order; None when the
    * document does not parse. */
  private def parseXbrl(bytes: Array[Byte]): Option[Seq[Fact]] = Try {
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(true)
    dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    val builder = dbf.newDocumentBuilder()
    builder.setErrorHandler(null) // a broken document is skipped, not reported
    val doc = builder.parse(new ByteArrayInputStream(bytes))
    val nodes = doc.getElementsByTagName("*")
    val elems = (0 until nodes.getLength).map(i => nodes.item(i).asInstanceOf[org.w3c.dom.Element])
    // ElementTree's .text: the text before the first child element
    def text(e: org.w3c.dom.Element): String = {
      val sb = new StringBuilder
      var n = e.getFirstChild
      while (n != null && n.getNodeType != org.w3c.dom.Node.ELEMENT_NODE) {
        if (n.getNodeType == org.w3c.dom.Node.TEXT_NODE) sb.append(n.getNodeValue)
        n = n.getNextSibling
      }
      sb.toString
    }
    def attr(e: org.w3c.dom.Element, a: String) = if (e.hasAttribute(a)) e.getAttribute(a) else null
    val marker = elems.indexWhere(e => !e.getLocalName.endsWith("CurrentPeriodEndDateDEI") &&
      e.getLocalName.contains("NumberOfSubmissionDEI"))
    val window = if (marker < 0) Set.empty[Int] else (marker + 1 to marker + 5).toSet
    var revenueElement: String = null
    elems.zipWithIndex.flatMap { case (e, i) =>
      if (e.getLocalName.endsWith("CurrentPeriodEndDateDEI")) {
        val t = text(e).trim
        if (t.nonEmpty) Some(Fact(Model.fiscalYearEndElement, attr(e, "contextRef"), attr(e, "unitRef"), t))
        else None
      } else if (window(i) && attr(e, "contextRef") != null && text(e).nonEmpty) {
        if (revenueElement == null) revenueElement = e.getLocalName
        Some(Fact(revenueElement, attr(e, "contextRef"),
          Option(attr(e, "unitRef")).getOrElse("JPY"), text(e)))
      } else None
    }
  }.toOption

  /** Listed, consolidated companies with an alphabetic name; the first
    * row per code wins. */
  private def readMaster(csv: Array[Byte]): Map[String, (String, String)] = {
    val lines = new String(csv, EdinetGen.Cp932).split("\n").toSeq.tail
    val out = mutable.LinkedHashMap.empty[String, (String, String)]
    for (l <- lines) {
      val f = l.split(",", -1)
      if (f(2) == "Listed company" && f(3) == "Consolidated" && f(7).nonEmpty && !out.contains(f(0)))
        out(f(0)) = (f(7), f(10))
    }
    out.toMap
  }

  /** Rows of the CSV the sink wrote (every part file, header skipped). */
  def readOutput(dir: Path): Seq[OutRow] =
    if (!Files.isDirectory(dir)) Nil
    else Etl.listDir(dir)
      .filter(p => p.getFileName.toString.startsWith("part-") && p.toString.endsWith(".csv"))
      .flatMap { p =>
        Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq.tail.filter(_.nonEmpty).map { l =>
          val f = l.split(",", -1)
          OutRow(f(0).toInt, f(1), f(2), f(3), f(4).toLong, f(5))
        }
      }

  /** Filings (one winner per company) compared, and those whose rows differ. */
  final case class Check(attempted: Int, failed: Int, firstDiff: Option[String])

  def compare(expected: Seq[OutRow], actual: Seq[OutRow]): Check = {
    val e = expected.groupBy(_.company)
    val a = actual.groupBy(_.company)
    val companies = (e.keySet ++ a.keySet).toSeq.sorted
    val bad = companies.filter { c =>
      e.getOrElse(c, Nil).sortBy(_.toString) != a.getOrElse(c, Nil).sortBy(_.toString)
    }
    Check(companies.size, bad.size, bad.headOption.map(c =>
      s"$c: expected ${e.getOrElse(c, Nil).sortBy(_.toString)} got ${a.getOrElse(c, Nil).sortBy(_.toString)}"))
  }
}
