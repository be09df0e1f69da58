package perfbench

import java.nio.file.Path

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection

import graft.queries._

/** A fixed sample of the query registry, run over the bundled tables:
  * one query drawn from each of the given groups by a constant seed, plus
  * one pinned driver-loop operator query. */
final class QuerySuite(spark: SparkSession, dataDir: String, groups: Seq[String], pinned: String) {
  import QuerySuite._

  val sample: Seq[(String, Q)] = {
    val rng = new Random(SampleSeed)
    Groups.filter { case (g, _) => groups.contains(g) }.flatMap { case (g, qs) =>
      (qs.filter(_.name == pinned) ++ rng.shuffle(qs.filterNot(_.name == pinned)).take(1)).map(g -> _)
    }
  }
  require(sample.exists(_._2.name == pinned), s"$pinned is not in groups $groups")

  /** The sample in a seed-dependent order. */
  def ordered(seed: Long): Seq[(String, Q)] = new Random(seed).shuffle(sample)

  /** An order-insensitive hash over every column of every row: the
    * action that makes a query compute its whole result. It adds no
    * stage: each task hashes the binary form of its rows and the driver
    * sums the per-task (count, hash sum) pairs. */
  private def rowHash(df: DataFrame): String = {
    val schema = df.schema
    val (n, h) = df.queryExecution.toRdd.mapPartitions { it =>
      val toUnsafe = UnsafeProjection.create(schema)
      var n, h = 0L
      it.foreach { r => n += 1; h += toUnsafe(r).hashCode() & 0xffffffffL }
      Iterator.single((n, h))
    }.fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }
    s"$n:$h"
  }

  /** The untimed pass: write each result for the oracle check and keep
    * its hash. Failures are recorded by name. */
  def reference(order: Seq[(String, Q)], outDir: Path): Map[String, Either[String, String]] =
    order.map { case (_, q) =>
      val r = try {
        val df = q.run(spark, dataDir).persist()
        try {
          df.coalesce(1).write.mode("overwrite").parquet(outDir.resolve(q.name).toString)
          Right(rowHash(df))
        } finally df.unpersist()
      } catch { case e: Throwable => Left(s"${q.name}: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      spark.catalog.clearCache()
      q.name -> r
    }.toMap

  /** One timed pass. With counters, each query's Spark jobs and stages. */
  def pass(order: Seq[(String, Q)], trace: Trace, counters: Option[SparkCounters]): Seq[Run] =
    order.map { case (group, q) =>
      val before = counters.map(_.snapshot())
      val t0 = System.nanoTime()
      val r = try trace.span(s"queries.$group") { Right(rowHash(q.run(spark, dataDir))) }
      catch { case e: Throwable => Left(s"${q.name}: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      val dt = (System.nanoTime() - t0) / 1e9
      val work = for (c <- counters; b <- before) yield {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        c.snapshot() - b
      }
      spark.catalog.clearCache()
      Run(group, q.name, dt, r, work)
    }

  /** Median wall of a trivial 2-stage job minus that of a trivial 1-stage
    * job: the fixed cost one more stage adds in this session. */
  def stageFloor(): Double = {
    val sc = spark.sparkContext
    val n = sc.defaultParallelism
    def oneStage(): Unit = sc.parallelize(1 to n, n).count()
    def twoStage(): Unit = sc.parallelize(1 to n, n).map(i => (i % 2, i)).reduceByKey(_ + _, n).count()
    def time(f: () => Unit): Double = { val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9 }
    (1 to 5).foreach { _ => oneStage(); twoStage() }
    val (one, two) = (1 to 25).map(_ => (time(() => oneStage()), time(() => twoStage()))).unzip
    median(two) - median(one)
  }
}

object QuerySuite {
  final case class Run(group: String, name: String, seconds: Double,
      result: Either[String, String], work: Option[SparkWork])

  /** The registry's 13 groups, by the names their objects carry. */
  val Groups: Seq[(String, Seq[Q])] = Seq(
    "Core" -> CoreQueries.all, "Text" -> TextQueries.all, "Dedup" -> DedupQueries.all,
    "Similarity" -> SimilarityQueries.all, "Advanced" -> AdvancedQueries.all,
    "Corpus" -> CorpusQueries.all, "Pipeline" -> PipelineQueries.all,
    "Curation" -> CurationQueries.all, "Mining" -> MiningQueries.all,
    "Profiling" -> ProfilingQueries.all, "Star" -> StarQueries.all,
    "Warehouse" -> WarehouseQueries.all, "Stats" -> StatsQueries.all)

  /** Draws one query per group; constant, so every run times the same sample. */
  val SampleSeed = 18L

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The q-th quantile by linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}
