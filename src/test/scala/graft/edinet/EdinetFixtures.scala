package graft.edinet

import java.nio.charset.Charset
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runtime-generated fixtures reproducing the reference's real input
  * formats (FIXTURES.md §A): cp932 company master, UTF-16 tab-separated
  * statement CSVs, namespaced XBRL, ZIP archives. Generated, not
  * checked in, so the encodings are exercised end-to-end every run.
  */
object EdinetFixtures {

  val Cp932: Charset = Charset.forName("windows-31j")
  val Utf16: Charset = Charset.forName("UTF-16") // writes a BOM

  private val masterHeader =
    "EDINET Code,Type of Submitter,Listed company / Unlisted company," +
      "Consolidated / NonConsolidated,Capital stock,account closing date," +
      "Submitter Name,Submitter Name（alphabetic）,Submitter Name（phonetic）," +
      "Province,Submitter's industry,Securities Identification Code," +
      "Submitter's Japan Corporate Number"

  /** ~10 rows covering kept/dropped paths (FIXTURES.md §A1): listed +
    * consolidated kept; unlisted, non-consolidated, null-name dropped;
    * one duplicated code (first wins); Japanese text in cp932. */
  def writeMasterCsv(dir: Path): Path = {
    val rows = Seq(
      "E00001,内国法人・組合,Listed company,Consolidated,1000,3.31,トヨタ,Alpha Corp,アルファ,Tokyo,Transportation equipment,7203,1234567890123",
      "E00002,内国法人・組合,Listed company,Consolidated,2000,3.31,ベータ,Beta KK,ベータ,Osaka,Construction,1801,2234567890123",
      "E00003,内国法人・組合,Unlisted company,Consolidated,300,3.31,ガンマ,Gamma Inc,ガンマ,Kyoto,Banks,8301,3234567890123",
      "E00004,内国法人・組合,Listed company,NonConsolidated,400,12.31,デルタ,Delta Ltd,デルタ,Nagoya,Retail trade,9983,4234567890123",
      "E00005,内国法人・組合,Listed company,Consolidated,500,3.31,イプシロン,,イプシロン,Fukuoka,Chemicals,4901,5234567890123",
      "E00006,内国法人・組合,Listed company,Consolidated,600,3.31,ゼータ,Zeta Holdings,ゼータ,Sapporo,Information and communication,9432,6234567890123",
      "E00001,内国法人・組合,Listed company,Consolidated,1000,3.31,トヨタ2,Alpha Dup,アルファ,Tokyo,Machinery,7204,7234567890123")
    val p = dir.resolve("EdinetcodeDlInfo.csv")
    Files.write(p, (masterHeader + "\n" + rows.mkString("\n")).getBytes(Cp932))
    p
  }

  private val stmtHeader = "要素ID\tコンテキストID\tユニットID\t値"

  /** A normal 5-year statement CSV: row 0 is the fiscal-year-end row,
    * row 1 carries the revenue element whose id selects the series. */
  def statementCsvContent(
      fyEnd: String = "2024-03-31",
      revenueElement: String = "jpcrp_cor:RevenueIFRSSummaryOfBusinessResults",
      series: Seq[(String, String, String)] = Seq(
        ("CurrentYearDuration", "JPY", "5000"),
        ("Prior1YearDuration", "JPY", "4000"),
        ("Prior2YearDuration", "JPY", "3000"),
        ("Prior3YearDuration", "JPY", "2000"),
        ("Prior4YearDuration", "JPY", "1000")),
      extraRows: Seq[String] = Nil): String = {
    val fy = s"jpdei_cor:CurrentFiscalYearEndDateDEI\tFilingDateInstant\t\t$fyEnd"
    val serieRows = series.map { case (ctx, unit, v) => s"$revenueElement\t$ctx\t$unit\t$v" }
    (Seq(stmtHeader, fy) ++ serieRows ++ extraRows).mkString("\n")
  }

  def writeStatementCsv(dir: Path, name: String, content: String): Path = {
    val p = dir.resolve(name)
    Files.write(p, content.getBytes(Utf16))
    p
  }

  /** A namespaced XBRL instance (FIXTURES.md §A4): fiscal-year-end
    * element + NumberOfSubmissionDEI marker + ≤5 revenue elements in
    * document order, one with the unitRef attribute missing. */
  def xbrlContent(
      periodEnd: String = "2024-03-31",
      values: Seq[(String, Option[String], String)] = Seq(
        ("CurrentYearDuration", Some("JPY"), "50000"),
        ("Prior1YearDuration", Some("JPY"), "40000"),
        ("Prior2YearDuration", None, "30000"),
        ("Prior3YearDuration", Some("JPY"), "20000"),
        ("Prior4YearDuration", Some("JPY"), "10000"))): String = {
    val revenue = values.map { case (ctx, unit, v) =>
      val u = unit.map(x => s""" unitRef="$x"""").getOrElse("")
      s"""  <jpcrp:NetSalesSummaryOfBusinessResults contextRef="$ctx"$u decimals="0">$v</jpcrp:NetSalesSummaryOfBusinessResults>"""
    }.mkString("\n")
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<xbrli:xbrl xmlns:xbrli="http://www.xbrl.org/2003/instance"
       |            xmlns:jpdei="http://disclosure.edinet-fsa.go.jp/taxonomy/jpdei/2013-08-31/jpdei_cor"
       |            xmlns:jpcrp="http://disclosure.edinet-fsa.go.jp/taxonomy/jpcrp/2023-12-01/jpcrp_cor">
       |  <xbrli:context id="FilingDateInstant"><xbrli:entity><xbrli:identifier scheme="http://disclosure.edinet-fsa.go.jp">E00000</xbrli:identifier></xbrli:entity></xbrli:context>
       |  <jpdei:EDINETCodeDEI contextRef="FilingDateInstant">E00000</jpdei:EDINETCodeDEI>
       |  <jpdei:CurrentPeriodEndDateDEI contextRef="FilingDateInstant">$periodEnd</jpdei:CurrentPeriodEndDateDEI>
       |  <jpdei:NumberOfSubmissionDEI contextRef="FilingDateInstant">1</jpdei:NumberOfSubmissionDEI>
       |$revenue
       |</xbrli:xbrl>""".stripMargin
  }

  def writeXbrl(dir: Path, name: String, content: String): Path = {
    val p = dir.resolve(name)
    Files.write(p, content.getBytes("UTF-8"))
    p
  }

  /** A ZIP holding the given (memberName, bytes) entries. */
  def zipBytes(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    members.foreach { case (name, bytes) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(bytes)
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  def tempDir(): Path = Files.createTempDirectory("edinet-fixture")

  private def binaryFiles(spark: SparkSession, pathGlob: String): DataFrame =
    spark.read.format("binaryFile").load(pathGlob).select("path", "content")

  /** Statement rows of the UTF-16 TSV files matching `pathGlob`. */
  def readCsv(spark: SparkSession, pathGlob: String): DataFrame =
    StatementSources.parseCsvBytes(spark, binaryFiles(spark, pathGlob))

  /** Statement rows of the XBRL files matching `pathGlob`. */
  def readXbrl(spark: SparkSession, pathGlob: String): DataFrame =
    StatementSources.parseXbrlBytes(spark, binaryFiles(spark, pathGlob))
}
