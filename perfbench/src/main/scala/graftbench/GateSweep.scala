package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** `gate-sweep`: a seeded, family-proportional sample of the
  * `SparkEntry.queries` gates, each built and fully collected once. */
final class GateSweep(spark: SparkSession, cfg: Config) extends Workload {
  private val results = cfg.dir("results")
  private var sample: Seq[String] = Nil
  private val rows = scala.collection.mutable.Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]

  def warmUp(): Unit = {
    Warm.basics(spark, cfg.dir("tmp"))
    import graft.operators._
    val warm = Warm.corpus(spark, 100)
    Dedup.ngramJaccardPairsPrefix(warm, "doc_id", "text", 3, 0.5, 2000).collect()
    Dedup.minHashLshPairs(warm, "doc_id", "text",
      n = 3, numHashes = 64, bands = 32, threshold = 0.5).collect()
    val we = spark.range(1200).selectExpr(
      "pmod(id * 13, 200) AS src", "pmod(id * 7 + 1, 200) AS dst").filter("src <> dst")
    ConnectedComponents.components(
      we.union(we.selectExpr("dst AS src", "src AS dst")).distinct(), "src", "dst").collect()
    GateSweep.hygiene(spark)
  }

  def prepare(): Unit = {
    sample = GateSweep.sample(SparkEntry.queries.keys.toSeq, cfg.gates, cfg.seed)
    Dirs.clear(Paths.get(results))
  }

  def timed(r: Report, tracer: Option[Tracer]): Unit = {
    val cores = spark.sparkContext.defaultParallelism
    val profile = Seq.newBuilder[(String, Map[String, Double])]
    val ops = sample.map { name =>
      val a = tracer.map(_.snap())
      val t0 = System.nanoTime()
      val out = try {
        val df = SparkEntry.queries(name)(spark, cfg.data)
        val t1 = System.nanoTime()
        val t1Ms = System.currentTimeMillis()
        rows(name) = (df.collect(), df.schema)
        Right((t1, t1Ms))
      } catch { case e: Throwable => Left(e) }
      val total = (System.nanoTime() - t0) / 1e9
      val op = out match {
        case Right((t1, t1Ms)) =>
          for (t <- tracer; sa <- a) {
            val sb = t.snap()
            profile += name -> (t.layer(sa, sb, total, cores) ++ Map(
              "queries.build_s" -> (t1 - t0) / 1e9,
              "queries.build_jobs" -> t.jobsStartedBy(sa, sb, t1Ms).toDouble,
              "gate_s" -> total))
          }
          Report.obj(Seq("name" -> Report.s(name), "seconds" -> Report.n(total),
            "build_s" -> Report.n((t1 - t0) / 1e9), "ok" -> "true"))
        case Left(e) =>
          System.err.println(s"[perfbench] gate $name failed: $e")
          Report.obj(Seq("name" -> Report.s(name), "seconds" -> Report.n(total),
            "ok" -> "false"))
      }
      GateSweep.hygiene(spark)
      op
    }
    r.raw("ops", Report.arr(ops))
    if (tracer.isDefined) {
      val prof = profile.result()
      r.raw("gate_profile", Report.arr(prof.map { case (g, m) =>
        Report.obj(("gate" -> Report.s(g)) +:
          m.toSeq.sortBy(_._1).map { case (k, v) => k -> Report.n(v) })
      }))
      r.layer(GateSweep.total(prof.map(_._2), cores))
    }
  }

  def isolate(r: Report, t: Tracer): Unit = ()

  /** Writes each collected result and the oracle SQL that `checks.py`
    * compares it against; outside the timings. */
  override def afterTimed(r: Report): Unit = {
    // four writers at a time: these are small one-task jobs
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try rows.toSeq.map { case (name, (got, schema)) =>
      pool.submit(new Runnable {
        def run(): Unit = spark.createDataFrame(java.util.Arrays.asList(got: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$results/$name")
      })
    }.foreach(_.get())
    finally pool.shutdown()
    val auxDir = s"$results.aux"
    val sql = sample.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
    val auxNames = sql.flatMap { case (_, q) =>
      "\\{OUT\\}/aux/([A-Za-z0-9_]+)".r.findAllMatchIn(q).map(_.group(1)) }.distinct
    for (a <- auxNames)
      SparkEntry.auxOutputs(a)(spark, cfg.data).coalesce(1).write.mode("overwrite")
        .parquet(s"$auxDir/$a")
    val resAbs = Paths.get(results).toAbsolutePath.toString
    val auxAbs = Paths.get(auxDir).toAbsolutePath.toString
    Files.writeString(Paths.get(s"$results/oracle_sql.json"), Report.obj(sql.map {
      case (k, q) => k -> Report.s(q.replace("{OUT}/aux", auxAbs).replace("{OUT}", resAbs))
    }))
    r.raw("sample", Report.arr(sample.map(Report.s)))
  }
}

object GateSweep {
  /** Gates that write to fixed paths outside the working directory
    * (`/tmp/graft_*`); the benchmark reads and writes only inside its
    * checkout, so these are outside the population. */
  val writesOutside: Set[String] = Set("a04_bucketed_join",
    "src04_schema_evolution", "src06_orc_source", "src07_manifest_stream",
    "s16_ivf_append") ++ (16 to 33).map(i => f"p$i%02d")

  def family(gate: String): String = gate.takeWhile(_.isLetter)

  def eligible(all: Seq[String]): Seq[String] =
    all.filterNot(g => writesOutside.exists(x => g == x || g.startsWith(x + "_"))).sorted

  /** A sample of `n` gates: each family gets its share of `n` in
    * proportion to its size (largest remainder), and the seed draws the
    * members within each family. Returned in name order. */
  def sample(all: Seq[String], n: Int, seed: Long): Seq[String] = {
    val pop = eligible(all)
    val fams = pop.groupBy(family).toSeq.sortBy(_._1)
    val quota = fams.map { case (f, gs) => f -> n.toDouble * gs.size / pop.size }
    val base = quota.map { case (f, q) => f -> q.toInt }.toMap
    val extra = quota.sortBy { case (f, q) => (-(q - q.toInt), f) }
      .take(n - base.values.sum).map(_._1).toSet
    val rng = new scala.util.Random(seed)
    fams.flatMap { case (f, gs) =>
      rng.shuffle(gs).take(base(f) + (if (extra(f)) 1 else 0)) }.sorted
  }

  /** Sweep-level layer figures from the per-gate windows: sums, with
    * the ratios recomputed from the summed parts and executions given
    * per gate. */
  def total(prof: Seq[Map[String, Double]], cores: Int): Map[String, Double] = {
    def sum(k: String) = prof.map(_.getOrElse(k, 0.0)).sum
    val keys = prof.flatMap(_.keys).distinct.filterNot(_ == "gate_s")
    val sums = keys.map(k => k -> sum(k)).toMap
    sums ++ Map(
      "spark.tasks_per_stage" ->
        (if (sum("spark.stages") > 0) sum("spark.tasks") / sum("spark.stages") else 0.0),
      "spark.core_busy_ratio" -> (if (sum("spark.job_wall_s") > 0)
        sum("spark.task_run_s") / (sum("spark.job_wall_s") * cores) else 0.0),
      "queries.executions" ->
        (if (prof.nonEmpty) sum("queries.executions") / prof.size else 0.0))
  }

  /** Storage hygiene between gates, as `graft.Bench` does it. */
  def hygiene(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
  }
}
