package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: session start, warm-up on synthetic
  * data, the workload's timed rounds, then (traced runs only) the
  * per-layer isolation calls. Writes a JSON report that `run.py`
  * checks and turns into the printed result.
  *
  * Args: --workload <name> --seed <n> --rounds <n> --trace <0|1>
  *       --data <dir> --work <dir> --report <file> --t0-ms <epoch ms>
  *       [--gates <n>]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cfg = Config(o("workload"), o("seed").toLong, o("rounds").toInt,
      o("trace") == "1", Paths.get(o("data")).toAbsolutePath.toString,
      Paths.get(o("work")).toAbsolutePath, o("t0-ms").toLong,
      o.get("gates").map(_.toInt).getOrElse(0))
    val spark = graft.GraftSession.getOrCreate("graft-perfbench")
    val report = new Report
    try {
      val workload: Workload = cfg.workload match {
        case "gate-sweep" => new GateSweep(spark, cfg)
        case "monthly-etl" => new MonthlyEtl(spark, cfg)
        case "curate-10x" => new CurateCorpus(spark, cfg)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      Main.log("session")
      workload.warmUp()
      Main.log("warm-up")
      workload.prepare()
      val tracer = if (cfg.trace) Some(new Tracer(spark)) else None
      tracer.foreach(_.attach())
      report.num("setup_s", (System.currentTimeMillis() - cfg.t0Ms) / 1e3)
      workload.timed(report, tracer)
      Main.log("timed")
      tracer.foreach { t =>
        workload.isolate(report, t)
        t.detach()
        Main.log("isolation")
      }
      workload.afterTimed(report)
      Main.log("after")
    } finally spark.stop()
    Main.log("stop")
    report.num("peak_rss_mb", Main.vmHwmMb())
    Files.writeString(Paths.get(o("report")), report.json)
  }

  private var last = System.nanoTime()

  /** Logs how long the phase that just ended took. */
  def log(phase: String): Unit = {
    val now = System.nanoTime()
    System.err.println(f"[perfbench] $phase ${(now - last) / 1e9}%.1f s")
    last = now
  }

  /** Resident high-water mark of this process, from /proc/self/status. */
  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

final case class Config(workload: String, seed: Long, rounds: Int,
    trace: Boolean, data: String, work: Path, t0Ms: Long, gates: Int) {
  def dir(name: String): String = work.resolve(name).toString
}

/** A workload: warm-up and input preparation (both in set-up time), the
  * timed rounds, and the traced-only isolation calls. */
trait Workload {
  def warmUp(): Unit
  def prepare(): Unit
  def timed(r: Report, tracer: Option[Tracer]): Unit
  def isolate(r: Report, t: Tracer): Unit
  def afterTimed(r: Report): Unit = ()
}

object Clock {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `n` whole rounds. */
  def rounds(n: Int)(round: Int => Unit): Int = {
    (0 until n).foreach(round)
    n
  }

  def median(v: Seq[Double]): Double = {
    val s = v.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON report: numbers, strings, and raw JSON fragments. */
final class Report {
  private val fields = scala.collection.mutable.LinkedHashMap.empty[String, String]
  def num(k: String, v: Double): Unit = fields(k) = Report.n(v)
  def raw(k: String, json: String): Unit = fields(k) = json
  def layer(m: Map[String, Double]): Unit = m.foreach { case (k, v) => num(k, v) }
  def json: String = fields.map { case (k, v) => s"${Report.s(k)}:$v" }.mkString("{", ",", "}")
}

object Report {
  def n(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString
  def s(v: String): String = "\"" + v.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(m: Seq[(String, String)]): String =
    m.map { case (k, v) => s"${s(k)}:$v" }.mkString("{", ",", "}")
  def arr(v: Seq[String]): String = v.mkString("[", ",", "]")
}

/** Deletes a directory tree if it exists. */
object Dirs {
  def clear(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }

  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { x =>
      val dst = to.resolve(from.relativize(x).toString)
      if (Files.isDirectory(x)) Files.createDirectories(dst) else Files.copy(x, dst)
    } finally s.close()
  }

  /** Total bytes and number of data files (not checksums or markers). */
  def usage(p: Path): (Long, Int) = {
    val s = Files.walk(p)
    try {
      val files = s.filter(x => Files.isRegularFile(x)).toArray.map(_.asInstanceOf[Path])
        .filterNot { x => val n = x.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
      (files.map(Files.size).sum, files.length)
    } finally s.close()
  }
}

/** Synthetic warm-up shared by the workloads: JIT, codegen and scan
  * set-up paid outside the timings, on data no workload times. */
object Warm {
  def basics(spark: SparkSession, scratch: String): Unit = {
    spark.range(100000).selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").sum("v").collect()
    val p = s"$scratch/warm_parquet"
    spark.range(20000).selectExpr("id", "CAST(id % 13 AS INT) AS g",
      "concat('w', id % 101) AS s", "CAST(id AS DOUBLE) / 7 AS d")
      .write.mode("overwrite").parquet(p)
    val t = spark.read.parquet(p)
    t.join(t.groupBy("g").count(), "g").orderBy("id").limit(10).collect()
    t.selectExpr("g", "row_number() OVER (PARTITION BY g ORDER BY d) AS r")
      .filter("r < 3").collect()
  }

  /** A small synthetic corpus: 30 tokens a doc from a 50-word vocabulary. */
  def corpus(spark: SparkSession, docs: Int): org.apache.spark.sql.DataFrame =
    spark.range(docs).selectExpr("id AS doc_id",
      "concat_ws(' ', transform(sequence(0, 29), " +
        "i -> concat('w', pmod(id * 31 + i * 7, 50)))) AS text")
}
