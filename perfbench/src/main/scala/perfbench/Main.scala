package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up, measure for the given seconds, check every
  * output, and write the result as JSON.
  *
  * Every workload runs the same cycle, so every end-to-end metric exists
  * on each: ingest over a fake EDINET API, the ETL from fetched archives
  * to the written CSV, and one fixed sample of the query registry. The
  * workloads differ in the shape of the EDINET input only; the query
  * sample is the same on both, so the query figures are the no-change
  * control for an ETL change and the ETL figures are the control for an
  * operator change.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <query data dir> <result file>
  */
object Main {

  /** An EDINET input shape, and the half of the query registry's groups
    * (with one pinned driver-loop operator) that runs beside it. Each
    * operator query runs on one workload only, so the other workload is
    * its no-change control. */
  final case class Workload(shape: Shape, queryGroups: Seq[String], driverLoop: String)

  private val faults = Faults(corruptZip = 5, truncatedXbrl = 3, bomlessCsv = 3, badValue = 4,
    unknownContext = 4, offConvention = 6, gaveUp = 2)

  val Workloads: Map[String, Workload] = Map(
    // multi-year backfill: ~8 annual reports per company plus corrections
    // and quarterly strays; small filings, most landed files lose best-file
    "etl_dedup_heavy" -> Workload(
      Shape(companies = 50, filingsPerCompany = 8, correctedShare = 0.13,
        strayShare = 0.14, unlisted = 12, fillerRows = 8, days = 731, faults),
      Seq("Core", "Text", "Dedup", "Similarity", "Advanced", "Corpus", "Pipeline"),
      "q48_neardup_components"),
    // one year of annual reports: one filing of hundreds of facts per
    // company, half CSV and half XBRL; every landed file wins
    "etl_parse_heavy" -> Workload(
      Shape(companies = 200, filingsPerCompany = 1, correctedShare = 0.0,
        strayShare = 0.0, unlisted = 40, fillerRows = 300, days = 366, faults),
      Seq("Curation", "Mining", "Profiling", "Star", "Warehouse", "Stats"),
      "q162_copurchase_bfs"))

  /** Repetitions per 24 measured seconds. Counts follow --seconds, not
    * the program's speed, so a faster program gets no extra repetitions
    * (which would lower its minimum by chance). ETL and query passes
    * alternate, so a slow spell on the host does not hit all repetitions
    * of one part. */
  val EtlPassesPer24s = 4
  val EtlWarmPasses = 2
  val QueryPassesPer24s = 2

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, workArg, dataArg, outArg) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val work = Files.createDirectories(Paths.get(workArg).toAbsolutePath)
    val wl = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val shape = wl.shape
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      System.err.println(f"[perfbench] $name%-20s ${(now - mark) / 1e9}%8.3f s")
      mark = now
    }
    System.err.println(f"[perfbench] session              ${(System.currentTimeMillis() - jvmStart) / 1e3}%8.3f s")
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted, failed = 0L
    def note(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; if (errors.size < 20) errors += what }
    }

    // ---- set-up: inputs, ingest, untimed passes of each part ----------
    val gen = new EdinetGen(shape, seed)
    val etl = new Etl(spark, gen, work)
    val ingest = etl.ingest()
    phase("inputs + ingest")
    val suite = new QuerySuite(spark, Paths.get(dataArg).toAbsolutePath.toString, wl.queryGroups, wl.driverLoop)
    val order = suite.ordered(seed)
    val reference = suite.reference(order, work.resolve("qout"))
    reference.values.foreach(_.left.foreach(e => note(ok = false, s"untimed pass: $e")))
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => reference.contains(k) }
    Files.write(work.resolve("qout").resolve("oracle_sql.json"),
      Json.obj(oracles.map { case (k, v) => k -> Json.str(v) }).getBytes(StandardCharsets.UTF_8))
    phase("query warm-up")
    val expected = Reference.expected(gen.masterCsv, ingest.fetched, gen.offConventionFiles)
    def checkEtl(iter: Path): Unit = {
      val c = Reference.compare(expected, etl.output(iter))
      attempted += c.attempted
      failed += c.failed
      c.firstDiff.foreach(d => if (errors.size < 20) errors += s"etl output differs: $d")
    }
    // untimed ETL passes: the JIT keeps speeding the ETL up after the first
    for (w <- 1 to EtlWarmPasses) {
      val warm = work.resolve(s"warm-$w")
      etl.composed(ingest, warm)
      checkEtl(warm)
      delete(warm)
    }
    phase("etl warm-up")
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    // ---- measured: ETL and query passes, alternating -----------------
    val etlWalls = mutable.ArrayBuffer.empty[Double]
    val suiteWalls = mutable.ArrayBuffer.empty[Double]
    val byQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def checkPass(runs: Seq[QuerySuite.Run]): Unit = runs.foreach { r =>
      val ok = r.result.isRight && reference.get(r.name).contains(r.result)
      note(ok, r.result.fold(e => s"timed pass: $e", h => s"${r.name}: timed hash $h != untimed ${reference.get(r.name)}"))
      if (ok) byQuery.getOrElseUpdate(r.name, mutable.ArrayBuffer.empty) += r.seconds
      System.err.println(f"[perfbench]   ${r.name}%-32s ${r.seconds}%8.3f s")
    }
    val (etlPasses, queryPasses) = (passes(EtlPassesPer24s, seconds), passes(QueryPassesPer24s, seconds))
    for (i <- 1 to math.max(etlPasses, queryPasses)) {
      if (i <= etlPasses) {
        val iter = work.resolve(s"iter-$i")
        etlWalls += etl.composed(ingest, iter)
        checkEtl(iter)
        delete(iter)
      }
      if (i <= queryPasses) {
        val runs = suite.pass(order, Trace.off, None)
        checkPass(runs)
        suiteWalls += runs.map(_.seconds).sum
      }
    }
    System.err.println(s"[perfbench] etl passes ${etlWalls.mkString(" ")}")
    phase("measured passes")
    // host noise only ever adds time, so the fastest repetition is the estimate
    val perQuery = byQuery.values.map(_.min).toSeq
    val etlWall = etlWalls.min
    val suiteS = perQuery.sum
    val metrics = mutable.LinkedHashMap.empty[String, Double]

    if (!traced) {
      metrics ++= Seq(
        "setup_s" -> setupS,
        "etl_wall_s" -> etlWall,
        "ingest_requests" -> ingest.requests.toDouble,
        "ingest_paced_s" -> ingest.clock.seconds,
        "query_p50_s" -> QuerySuite.quantile(perQuery, 0.5),
        "query_p90_s" -> QuerySuite.quantile(perQuery, 0.9),
        "suite_s" -> suiteS,
        "peak_rss_mb" -> peakRssMb())
    } else {
      metrics ++= tracedMetrics(spark, etl, ingest, suite, order, work, shape.faults,
        etlWall, QuerySuite.median(etlWalls.toSeq) + QuerySuite.median(suiteWalls.toSeq),
        checkEtl, checkPass, (ok, what) => note(ok, what))
      metrics("failed_frac") = failed.toDouble / attempted
    }

    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, v) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unitOf(k))))
      }),
      "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
      "ingest_identity" -> Json.str(s"requests=${ingest.requests} paced_ns=${(ingest.clock.seconds * 1e9).round}")))
    Files.write(Paths.get(outArg), (result + "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** The traced cycle: the same ETL pass and query pass with spans and the
    * Spark listener on, then the ETL one layer at a time, the ingest once
    * more under a span, and the stage-floor calibration. */
  private def tracedMetrics(spark: SparkSession, etl: Etl, ingest: Etl.Ingest,
      suite: QuerySuite, order: Seq[(String, graft.queries.Q)], work: Path, faults: Faults,
      etlWall: Double, untracedCycle: Double, checkEtl: Path => Unit,
      checkPass: Seq[QuerySuite.Run] => Unit, note: (Boolean, String) => Unit): Seq[(String, Double)] = {
    val runId = s"${ProcessHandle.current().pid()}-${System.currentTimeMillis()}"
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val start = counters.snapshot()

    val cycle = new Trace(enabled = true, runId)
    etl.trace = cycle
    etl.counters = Some(counters)
    val iter = work.resolve("iter-traced")
    val tracedEtl = etl.composed(ingest, iter)
    checkEtl(iter)
    delete(iter)
    val runs = suite.pass(order, cycle, Some(counters))
    checkPass(runs)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val w = counters.snapshot() - start
    val overhead = (tracedEtl + runs.map(_.seconds).sum) - untracedCycle

    val layers = new Trace(enabled = true, runId)
    etl.trace = layers
    val splitIter = work.resolve("iter-split")
    val m = layers.span("split") { etl.split(ingest, splitIter) }
    checkEtl(splitIter)
    delete(splitIter)
    val ingestTrace = new Trace(enabled = true, runId)
    etl.trace = ingestTrace
    val again = etl.ingest()
    etl.trace = Trace.off
    spark.sparkContext.removeSparkListener(counters)

    val layerNames = Seq("extract", "land", "master", "bestfile", "parse_csv", "parse_xbrl", "transform", "sink")
    val self = layerNames.map(n => n -> layers.selfSeconds(n)).toMap
    val t = ingest.transport
    val gaveUp = ingest.wanted - ingest.fetched.size
    val contentRead = (etl.lastPipelineInputBytes - Files.size(etl.masterCsv)).toDouble
    val out = mutable.LinkedHashMap.empty[String, Double]
    out ++= Seq(
      "ingest.list_calls" -> t.listCalls, "ingest.fetch_calls" -> t.fetchCalls,
      "ingest.retries" -> (t.failures - gaveUp), "ingest.gave_up" -> gaveUp,
      "ingest.limiter_wait_s" -> ingest.clock.limiterWaitMs / 1e3,
      "ingest.backoff_wait_s" -> ingest.clock.backoffWaitMs / 1e3,
      "ingest.fetched_bytes" -> t.fetchedBytes,
      "ingest.useful_fetch_ratio" -> m("bestfile.winners") / ingest.fetched.size,
      "ingest.wall_s" -> ingestTrace.wallSeconds("ingest"),
      "master.wall_s" -> self("master"), "master.rows_kept" -> m("master.rows_kept"),
      "extract.wall_s" -> self("extract")).map { case (k, v) => k -> v.toString.toDouble }
    out ++= Seq("archives", "members_out", "bytes_in", "bytes_out", "skipped").map(k => s"extract.$k" -> m(s"extract.$k"))
    out ++= Seq("land.wall_s" -> self("land"), "land.files" -> m("land.files"), "land.bytes" -> m("land.bytes"))
    out ++= Seq("bestfile.wall_s" -> self("bestfile")) ++
      Seq("files_in", "winners", "winner_ratio", "off_convention").map(k => s"bestfile.$k" -> m(s"bestfile.$k"))
    out ++= Seq(
      "pipeline.content_bytes_read" -> contentRead,
      "pipeline.useful_read_ratio" -> m("pipeline.winner_bytes") / contentRead,
      "pipeline.unattributed_s" -> (etlWall - self.values.sum))
    for (p <- Seq("parse_csv", "parse_xbrl"))
      out ++= Seq(s"$p.wall_s" -> self(p)) ++ Seq("files", "rows", "skipped_files").map(k => s"$p.$k" -> m(s"$p.$k"))
    out ++= Seq("transform.wall_s" -> self("transform")) ++
      Seq("rows_in", "rows_out", "unknown_context", "bad_value").map(k => s"transform.$k" -> m(s"transform.$k"))
    out ++= Seq("sink.wall_s" -> self("sink"), "sink.rows" -> m("sink.rows"), "sink.bytes_written" -> m("sink.bytes_written"))
    out ++= Seq(
      "spark.jobs" -> w.jobs.toDouble, "spark.stages" -> w.stages.toDouble, "spark.tasks" -> w.tasks.toDouble,
      "spark.shuffle_write_bytes" -> w.shuffleWriteBytes.toDouble, "spark.spill_bytes" -> w.spillBytes.toDouble,
      "spark.input_bytes" -> w.inputBytes.toDouble, "spark.task_run_s" -> w.taskRunNanos / 1e9,
      "spark.task_overhead_s" -> w.taskOverheadNanos / 1e9, "spark.stage_floor_s" -> suite.stageFloor())
    for ((g, _) <- QuerySuite.Groups) {
      val rs = runs.filter(_.group == g)
      out ++= Seq(s"queries.$g.wall_s" -> cycle.wallSeconds(s"queries.$g"),
        s"queries.$g.jobs" -> rs.flatMap(_.work).map(_.jobs).sum.toDouble,
        s"queries.$g.stages" -> rs.flatMap(_.work).map(_.stages).sum.toDouble)
    }
    out("trace.overhead_s") = overhead

    // every injected fault must be counted exactly once where it is handled
    val expectedCounts = Seq(
      "extract.skipped" -> faults.corruptZip, "parse_xbrl.skipped_files" -> faults.truncatedXbrl,
      "parse_csv.skipped_files" -> faults.bomlessCsv, "transform.bad_value" -> faults.badValue,
      "transform.unknown_context" -> faults.unknownContext,
      "bestfile.off_convention" -> faults.offConvention, "ingest.gave_up" -> faults.gaveUp)
    for ((k, n) <- expectedCounts) note(out(k) == n, s"$k = ${out(k)}, injected $n")
    note(again.requests == ingest.requests && again.clock.seconds == ingest.clock.seconds,
      s"ingest not repeatable: ${again.requests} requests, ${again.clock.seconds} s")

    cycle.writeTo(work.resolve("spans-cycle.jsonl"))
    layers.writeTo(work.resolve("spans-layers.jsonl"))
    ingestTrace.writeTo(work.resolve("spans-ingest.jsonl"))
    out.toSeq
  }

  private def passes(per24s: Int, seconds: Double): Int =
    math.max(1, math.round(per24s * seconds / 24).toInt)

  def unitOf(metric: String): String =
    if (metric.endsWith("_mb")) "MB"
    else if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("ratio") || metric.endsWith("frac")) "ratio"
    else if (metric.contains("bytes")) "bytes"
    else "count"

  /** Peak resident memory of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_)) finally s.close()
  }
}

/** Just enough JSON writing for the result line. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
