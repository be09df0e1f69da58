package graft.edinet

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart}

import graft.SparkSpec

/** The parity pipeline at file fan-out: 200 companies' filings in one
  * run — proves the one-plan design scales with file count (files are
  * packed into tasks; no per-file driver loop, no per-file job). */
class PipelineFanoutSpec extends SparkSpec {
  import EdinetFixtures._

  private val nFiles = 200

  /** A fresh (master csv, landing directory) with one filing per company. */
  private def land(): (String, String) = {
    val dir = tempDir()
    // a master that covers E10000..E10199, all listed+consolidated
    val header = java.nio.file.Files.readAllBytes(writeMasterCsv(dir))
    val rows = (0 until nFiles).map { i =>
      f"E${10000 + i}%05d,法人,Listed company,Consolidated,100,3.31,会社$i%d,Company $i%03d,カナ,Tokyo,Industry${i % 7}%d,$i%04d,$i%013d"
    }
    val masterPath = dir.resolve("master200.csv")
    java.nio.file.Files.write(masterPath,
      (new String(header, Cp932).linesIterator.toSeq.head + "\n" + rows.mkString("\n"))
        .getBytes(Cp932))

    val files = dir.resolve("files")
    java.nio.file.Files.createDirectories(files)
    (0 until nFiles).foreach { i =>
      val code = f"E${10000 + i}%05d"
      if (i % 2 == 0)
        writeStatementCsv(files, s"${code}_20240401_120.csv",
          statementCsvContent(revenueElement = s"jpcrp_cor:Rev$i"))
      else
        writeXbrl(files, s"${code}_20240401_120.xbrl", xbrlContent())
    }
    (masterPath.toString, files.toString)
  }

  test("200 filings -> 1000 revenue rows in one declarative plan") {
    val (masterPath, files) = land()
    val out = Pipeline.transform(spark, masterPath, files)
    assert(out.count() == 200L * 5)
    val perCompany = out.groupBy("companyname").count()
    assert(perCompany.count() == 200)
    assert(perCompany.filter(org.apache.spark.sql.functions.col("count") =!= 5).isEmpty)
  }

  test("transform + count submit fewer tasks than there are landed files") {
    val (masterPath, files) = land()
    val sc = spark.sparkContext
    val tasks = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onTaskStart(t: SparkListenerTaskStart): Unit = { tasks.incrementAndGet(); () }
    }
    ListenerBusDrain(sc) // earlier tests' late events must not count here
    sc.addSparkListener(listener)
    try {
      assert(Pipeline.transform(spark, masterPath, files).count() == nFiles * 5L)
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    // a listing job of one task per landed file alone would submit nFiles
    assert(tasks.get > 0 && tasks.get < nFiles,
      s"${tasks.get} tasks for $nFiles landed files")
  }
}
