package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.edinet._
import graft.ingest.EdinetClient
import graft.ingest.EdinetClient.{Config, DocMeta, RateLimiter}

/** The EDINET pipeline of the paper, driven through the program's public
  * functions: list -> master filter -> fetch -> extract -> land ->
  * best file -> parse -> transform -> CSV sink. */
final class Etl(spark: SparkSession, gen: EdinetGen, work: Path) {
  import Etl._

  /** Where spans go; a traced run swaps in an enabled trace per phase. */
  var trace: Trace = Trace.off
  /** Set in traced runs: Spark input bytes of the last composed pipeline. */
  var counters: Option[SparkCounters] = None
  var lastPipelineInputBytes = 0L

  val masterCsv: Path = Files.write(work.resolve("EdinetcodeDlInfo.csv"), gen.masterCsv)
  private val cfg = Config(requestsPerSecond = 10.0, maxRetries = 3, retryDelayMs = 1000)

  /** List every day, keep listed companies' annual reports and
    * corrections, fetch them. Paced by the client's own limiter and
    * backoff on a virtual clock. */
  def ingest(): Ingest = {
    val clock = new VirtualClock
    val transport = new FakeEdinet(gen)
    val client = cfg.copy(sleeper = clock.backoffSleep)
    val limiter = new RateLimiter(cfg.requestsPerSecond, clock.limiterSleep, () => clock.now())
    val docs = trace.span("ingest") {
      EdinetClient.documentsByDateRange(transport, client, gen.start, gen.end, limiter)
    }
    val codes = trace.span("master") {
      CompanyMaster.load(spark, masterCsv.toString)
        .select(col(Model.MasterCols.EdinetCode)).collect().map(_.getString(0)).toSet
    }
    val wanted = docs.filter(d => codes(d.edinetCode) && Model.targetDocTypes.contains(d.docTypeCode))
    val fetched = trace.span("ingest") {
      EdinetClient.downloadDocuments(transport, client, wanted, None, limiter)
    }
    Ingest(wanted.size, fetched, transport, clock)
  }

  /** Fetched archives -> extracted members, as the program extracts them. */
  private def extract(in: Ingest): Array[Row] = trace.span("extract") {
    val rows = in.fetched.map { case (m, ext, bytes) =>
      Row(bytes, m.edinetCode, m.submitDateTime.take(10).replace("-", ""), m.docTypeCode, ext)
    }
    ArchiveExtract.extractBest(spark, spark.createDataFrame(rows.asJava, ArchiveSchema)).collect()
  }

  /** Writes the extracted members, plus the leftovers of earlier runs,
    * into a fresh landing directory. */
  private def land(members: Array[Row], dir: Path): Long = trace.span("land") {
    Files.createDirectories(dir)
    var bytes = 0L
    for (r <- members) {
      val content = r.getAs[Array[Byte]]("content")
      Files.write(dir.resolve(r.getAs[String]("path")), content)
      bytes += content.length
    }
    for ((name, content) <- gen.offConventionFiles) {
      Files.write(dir.resolve(name), content)
      bytes += content.length
    }
    bytes
  }

  /** One pass from fetched archives to the written CSV; its wall seconds. */
  def composed(in: Ingest, iter: Path): Double = {
    val t0 = System.nanoTime()
    trace.span("etl") {
      land(extract(in), iter.resolve("files"))
      val before = counters.map(_.snapshot())
      trace.span("pipeline") {
        Pipeline.run(spark, masterCsv.toString, iter.resolve("files").toString,
          iter.resolve("out").toString)
      }
      for (c <- counters; b <- before) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        lastPipelineInputBytes = (c.snapshot() - b).inputBytes
      }
    }
    (System.nanoTime() - t0) / 1e9
  }

  def output(iter: Path): Seq[Reference.OutRow] =
    Reference.readOutput(iter.resolve("out").resolve(OutName))

  /** The same pipeline run one layer at a time, each layer's result
    * materialized, so every layer gets its own span and counts. Mirrors
    * the steps `Pipeline.transform` composes. Returns per-layer metrics. */
  def split(in: Ingest, iter: Path): Map[String, Double] = {
    val files = iter.resolve("files")
    val members = extract(in)
    val landedBytes = land(members, files)
    val filesIn = listDir(files).size
    val bytesIn = in.fetched.map(_._3.length.toLong).sum

    val (companies, masterRows) = trace.span("master") {
      val c = CompanyMaster.load(spark, masterCsv.toString).cache(); (c, c.count())
    }
    val bin = spark.read.format("binaryFile").load(s"$files/*").select(col("path"), col("content"))
    val (parsedNames, best) = trace.span("bestfile") {
      val manifest = BestFile.parseManifest(bin.select(col("path"))).cache()
      val parsed = manifest.count()
      val best = BestFile.bestPerCompany(manifest
        .withColumn("seq", col("submit_ymd").cast("long") * 2 + (col("fmt") === "xbrl").cast("long"))
        .filter(col("doc_type").isin(Model.targetDocTypes: _*))).cache()
      best.count()
      (parsed, best)
    }
    val winnerRows = best.select("path", "fmt").collect()
    val winnerBytes = winnerRows.map(r => Files.size(files.resolve(r.getString(0).split('/').last))).sum
    val winners = bin.join(broadcast(best.select(col("path"), col("fmt"), col("edinet_code"))), Seq("path"))
    def parse(fmt: String, parser: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      trace.span(s"parse_$fmt") {
        val rows = parser(winners.filter(col("fmt") === fmt).select("path", "content")).cache()
        val n = rows.count()
        val parsedFiles = rows.select("file").distinct().count()
        (rows, n, parsedFiles, winnerRows.count(_.getString(1) == fmt).toLong)
      }
    val csv = parse("csv", StatementSources.parseCsvBytes(spark, _))
    val xbrl = parse("xbrl", StatementSources.parseXbrlBytes(spark, _))

    val obs = Observation("normalize")
    val (result, rowsOut) = trace.span("transform") {
      val stmts = csv._1.unionByName(xbrl._1)
        .join(broadcast(best.select(col("path").as("file"), col("edinet_code"))), Seq("file"))
      val r = RevenueTransform.enrich(
        RevenueTransform.normalize(RevenueTransform.revenueSeries(
          RevenueTransform.withFiscalYear(RevenueTransform.withRevenueElement(stmts))), Some(obs)),
        companies).cache()
      (r, r.count())
    }
    val out = iter.resolve("out")
    trace.span("sink") { Sink.writeCsv(result, out.toString, OutName) }
    val observed = obs.get
    spark.catalog.clearCache()

    Map(
      "extract.archives" -> in.fetched.size, "extract.members_out" -> members.length,
      "extract.skipped" -> (in.fetched.size - members.length), "extract.bytes_in" -> bytesIn,
      "extract.bytes_out" -> members.map(_.getAs[Array[Byte]]("content").length.toLong).sum,
      "land.files" -> filesIn, "land.bytes" -> landedBytes,
      "master.rows_kept" -> masterRows,
      "bestfile.files_in" -> filesIn, "bestfile.off_convention" -> (filesIn - parsedNames),
      "bestfile.winners" -> winnerRows.length,
      "bestfile.winner_ratio" -> winnerRows.length.toDouble / filesIn,
      "parse_csv.files" -> csv._3, "parse_csv.rows" -> csv._2, "parse_csv.skipped_files" -> (csv._4 - csv._3),
      "parse_xbrl.files" -> xbrl._3, "parse_xbrl.rows" -> xbrl._2, "parse_xbrl.skipped_files" -> (xbrl._4 - xbrl._3),
      "transform.rows_in" -> (csv._2 + xbrl._2), "transform.rows_out" -> rowsOut,
      "transform.unknown_context" -> observed("n_unknown_context").asInstanceOf[Long],
      "transform.bad_value" -> observed("n_bad_value").asInstanceOf[Long],
      "sink.rows" -> rowsOut, "sink.bytes_written" -> dirBytes(out.resolve(OutName)),
      "pipeline.winner_bytes" -> winnerBytes,
    ).map { case (k, v) => k -> v.toString.toDouble }
  }
}

object Etl {
  /** What the ingest step fetched, with its counts. */
  final case class Ingest(wanted: Int, fetched: Seq[(DocMeta, String, Array[Byte])],
      transport: FakeEdinet, clock: VirtualClock) {
    def requests: Long = transport.listCalls + transport.fetchCalls
  }

  val OutName = "japan_company_data"

  private val ArchiveSchema = StructType(Seq(
    StructField("zip", BinaryType), StructField("edinetCode", StringType),
    StructField("submitYmd", StringType), StructField("docTypeCode", StringType),
    StructField("ext", StringType)))

  def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toVector finally s.close()
  }

  def dirBytes(dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else listDir(dir).filter(Files.isRegularFile(_)).map(Files.size(_)).sum
}
