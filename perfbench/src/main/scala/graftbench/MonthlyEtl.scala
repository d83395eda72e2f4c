package graftbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import org.apache.spark.sql.SparkSession

import graft.EtlPipeline
import graft.operators.{SalesEtl, SalesSink}
import graft.sources.SquareOrders

/** `monthly-etl`: one month window of generated Square-style orders
  * through `EtlPipeline.runPipeline` into a fresh `SalesSink` table,
  * then a one-slice backfill with `SalesSink.overwriteMonth` whose rows
  * come from `SalesEtl` over regenerated orders. Inputs and their
  * ledgers are written by `inputs.py` before the JVM starts. */
final class MonthlyEtl(spark: SparkSession, cfg: Config) extends Workload {
  private val orders = cfg.dir("etl/orders")
  private val (month, backfillLocation, lo, hi) = MonthlyEtl.params(cfg.dir("etl"))
  private val loads, backfills = Seq.newBuilder[Double]

  private def locations = EtlPipeline.builtinLocations(spark)

  private def load(dir: String, lo: java.sql.Timestamp, hi: java.sql.Timestamp,
      sink: String): EtlPipeline.EtlStats =
    EtlPipeline.runPipeline(SquareOrders.fromJsonFile(spark, s"$dir/orders"), locations,
      lo, hi, sink)

  private def backfill(dir: String, sink: String, location: Int, month: String): Unit =
    SalesSink.overwriteMonth(spark, sink, location, month,
      Some(SalesEtl.run(SquareOrders.fromJsonFile(spark, s"$dir/replacement"), locations)))

  /** Load and backfill passes over the warm-up's own generated orders
    * (other seed, 2020 months): the same record shapes as the timed input
    * reach the JSON parser and the transform before any timing. */
  def warmUp(): Unit = {
    Warm.basics(spark, cfg.dir("tmp"))
    val warm = cfg.dir("etl/warm")
    val (wMonth, wLocation, wlo, whi) = MonthlyEtl.params(warm)
    for (i <- 0 until 3) {
      val sink = cfg.dir(s"tmp/warm_sink_$i")
      load(warm, wlo, whi, sink)
      backfill(warm, sink, wLocation, wMonth)
    }
  }

  def prepare(): Unit = Dirs.clear(Paths.get(cfg.dir("etl/sinks")))

  def timed(r: Report, tracer: Option[Tracer]): Unit = {
    val before = tracer.map(_.snap())
    val statsOut, ops = Seq.newBuilder[String]
    val n = Clock.rounds(cfg.rounds) { i =>
      val sink = cfg.dir(s"etl/sinks/round_$i")
      val (stats, loadS) = Clock.time(load(cfg.dir("etl"), lo, hi, sink))
      if (i == 0) Dirs.copy(Paths.get(sink), Paths.get(cfg.dir("etl/sinks/loaded")))
      val (_, backfillS) = Clock.time(backfill(cfg.dir("etl"), sink, backfillLocation, month))
      loads += loadS
      backfills += backfillS
      ops += Report.obj(Seq("name" -> Report.s(s"load_$i"), "seconds" -> Report.n(loadS), "ok" -> "true"))
      ops += Report.obj(Seq("name" -> Report.s(s"backfill_$i"), "seconds" -> Report.n(backfillS), "ok" -> "true"))
      statsOut += Report.obj(Seq(
        "sink" -> Report.s(sink),
        "orders" -> stats.orders.toString,
        "rejected_orders" -> stats.rejectedOrders.toString,
        "unknown_location_rows" -> stats.unknownLocationRows.toString,
        "quarantined_rows" -> stats.quarantinedRows.toString,
        "rows_written" -> stats.rowsWritten.toString))
    }
    r.raw("ops", Report.arr(ops.result()))
    r.raw("rounds", Report.arr(statsOut.result()))
    for (t <- tracer; a <- before) {
      val wall = loads.result().sum + backfills.result().sum
      r.layer(MonthlyEtl.perRound(
        t.layer(a, t.snap(), wall, spark.sparkContext.defaultParallelism), n))
    }
  }

  def isolate(r: Report, t: Tracer): Unit = {
    def noop(df: => org.apache.spark.sql.DataFrame): Double =
      // the second of two calls: the timed rounds it is compared with ran warm
      (0 until 2).map(_ => Clock.time(df.write.format("noop").mode("overwrite").save())._2).last
    val scanS = noop(SquareOrders.fromJsonFile(spark, orders))
    val transformS = noop(SalesEtl.toSalesRows(SquareOrders.fromJsonFile(spark, orders)))
    val loadS = Clock.median(loads.result())
    val (bytes, files) = Dirs.usage(Paths.get(cfg.dir("etl/sinks/loaded")))
    val (finalBytes, _) = Dirs.usage(Paths.get(cfg.dir("etl/sinks/round_0")))
    val written = spark.read.parquet(cfg.dir("etl/sinks/loaded")).count()
    r.layer(Map(
      "sources.scan_s" -> scanS,
      "sources.orders" -> SquareOrders.fromJsonFile(spark, orders).count().toDouble,
      "SalesEtl.transform_s" -> math.max(0.0, transformS - scanS),
      "SalesEtl.rows" ->
        SalesEtl.toSalesRows(SquareOrders.fromJsonFile(spark, orders)).count().toDouble,
      "SalesSink.write_s" -> math.max(0.0, loadS - transformS),
      "SalesSink.files" -> files.toDouble,
      "SalesSink.bytes_per_row" -> (if (written > 0) bytes.toDouble / written else 0.0),
      "SalesSink.backfill_s" -> Clock.median(backfills.result()),
      "SalesSink.table_mb" -> finalBytes / (1024.0 * 1024.0)))
  }
}

object MonthlyEtl {
  /** (month, backfill location, window start, window end) of an input
    * directory written by `inputs.make_orders`. */
  def params(dir: String): (String, Int, java.sql.Timestamp, java.sql.Timestamp) = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(dir, "inputs.properties"))
    try p.load(in) finally in.close()
    val month = p.getProperty("month")
    val first = LocalDate.parse(month + "-01")
    val (lo, hi) = EtlPipeline.utcWindow(first, first.plusMonths(1).minusDays(1))
    (month, p.getProperty("backfill_location").toInt, lo, hi)
  }

  /** Divides the additive layer figures of `rounds` rounds by their
    * number; ratios are unchanged by the division and kept as they are. */
  def perRound(m: Map[String, Double], rounds: Int): Map[String, Double] =
    m.map { case (k, v) =>
      if (k == "spark.tasks_per_stage" || k == "spark.core_busy_ratio") k -> v
      else k -> v / rounds
    }
}
