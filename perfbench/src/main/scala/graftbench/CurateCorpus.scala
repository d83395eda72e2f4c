package graftbench

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CorpusCurate
import graft.functions.{TextFunctions => T}
import graft.operators.{ConnectedComponents, Dedup}

/** `curate-10x`: `CorpusCurate.curate` with the options its CLI
  * defaults to, over the 10x disjoint-copy corpus that `inputs.py`
  * writes; the curated parquet is written and its stats read. */
final class CurateCorpus(spark: SparkSession, cfg: Config) extends Workload {
  private val corpus = cfg.dir("curate/corpus.parquet")
  private val roundSeconds = Seq.newBuilder[Double]

  // CorpusCurate.main's defaults
  private val minQuality = 0.25
  private val jaccard = 0.8

  /** One CLI-equivalent curation: count, curate, write, stats. */
  private def curateInto(docs: DataFrame, write: DataFrame => Unit): CorpusCurate.Stats = {
    val n = docs.count()
    val (curated, stats) = CorpusCurate.curate(docs, minQuality, Nil, jaccard,
      maxBucket = Dedup.autoMaxBucket(n))
    write(curated)
    stats()
  }

  def warmUp(): Unit = {
    Warm.basics(spark, cfg.dir("tmp"))
    val warm = Warm.corpus(spark, 400)
      .union(Warm.corpus(spark, 100).selectExpr("doc_id + 400 AS doc_id", "text"))
    curateInto(warm, _.write.mode("overwrite").parquet(cfg.dir("tmp/warm_curated")))
  }

  def prepare(): Unit = Dirs.clear(Paths.get(cfg.dir("curate/out")))

  def timed(r: Report, tracer: Option[Tracer]): Unit = {
    val before = tracer.map(_.snap())
    val ops, rounds = Seq.newBuilder[String]
    val n = Clock.rounds(cfg.rounds) { i =>
      val out = cfg.dir(s"curate/out/round_$i")
      val (s, secs) = Clock.time {
        curateInto(spark.read.parquet(corpus), _.write.mode("overwrite").parquet(out))
      }
      roundSeconds += secs
      ops += Report.obj(Seq("name" -> Report.s(s"curate_$i"), "seconds" -> Report.n(secs), "ok" -> "true"))
      rounds += Report.obj(Seq("out" -> Report.s(out),
        "input" -> s.input.toString, "after_quality" -> s.afterQuality.toString,
        "after_lang" -> s.afterLang.toString, "after_exact" -> s.afterExact.toString,
        "after_near" -> s.afterNear.toString, "after_semantic" -> s.afterSemantic.toString,
        "after_decon" -> s.afterDecon.toString, "after_quota" -> s.afterQuota.toString,
        "dropped_band_buckets" -> s.droppedBandBuckets.toString))
    }
    r.raw("ops", Report.arr(ops.result()))
    r.raw("rounds", Report.arr(rounds.result()))
    for (t <- tracer; a <- before)
      r.layer(MonthlyEtl.perRound(t.layer(a, t.snap(), roundSeconds.result().sum,
        spark.sparkContext.defaultParallelism), n))
  }

  /** The exact-dedup survivors, rebuilt from the same public text
    * functions `curate` applies before its near-dedup stage. */
  private def exactSurvivors(docs: DataFrame): DataFrame = {
    val kept = docs.select(col("doc_id"), col("text"),
        T.qualityScore(col("text")).as("quality"),
        T.repetitionRatio(col("text")).as("repetition"),
        T.fingerprint(col("text")).as("fp"))
      .filter(col("quality") >= minQuality && col("repetition") <= 1.0)
    kept.join(kept.groupBy("fp").agg(min(col("doc_id")).as("doc_id")),
      Seq("fp", "doc_id"), "left_semi").select("doc_id", "text")
  }

  /** Each layer alone, into a noop sink; a timing covers building the
    * frame (the operators run eager jobs there) and writing it. Annotation
    * is timed as a difference from the scan beneath it; the pair search
    * and the components run on materialized inputs, so their times are
    * their own. */
  def isolate(r: Report, t: Tracer): Unit = {
    def noop(df: => DataFrame): Double =
      // the second of two calls: the timed rounds it is compared with ran warm
      (0 until 2).map(_ => Clock.time(df.write.format("noop").mode("overwrite").save())._2).last
    val docs = spark.read.parquet(corpus)
    val n = docs.count()
    val scanS = noop(docs)
    val annotS = noop(docs.select(col("doc_id"), col("text"),
      T.tokenCount(col("text")).as("n_tokens"), T.qualityScore(col("text")).as("quality"),
      T.repetitionRatio(col("text")).as("repetition"), T.langId(col("text")).as("lang_pred"),
      T.fingerprint(col("text")).as("fp")))
    val exact = exactSurvivors(docs).localCheckpoint()
    def pairs = Dedup.minHashLshPairs(exact, "doc_id", "text", n = 3, numHashes = 64,
      bands = 32, threshold = jaccard, maxBucket = Dedup.autoMaxBucket(n))
    val pairsS = noop(pairs)
    val pairsLocal = pairs.localCheckpoint()
    val a = t.snap()
    val ccS = noop(ConnectedComponents.nonRepresentatives(pairsLocal, "doc_a", "doc_b"))
    val ccJobs = (t.snap().jobs - a.jobs) / 2.0
    val noopCurateS = Clock.time(curateInto(docs, _.write.format("noop").mode("overwrite").save()))._2
    r.layer(Map(
      "TextFunctions.annotate_s" -> math.max(0.0, annotS - scanS),
      "Dedup.lsh_pairs_s" -> pairsS,
      "Dedup.pairs" -> pairsLocal.count().toDouble,
      "ConnectedComponents.cc_s" -> ccS,
      "ConnectedComponents.jobs" -> ccJobs,
      "CorpusCurate.write_s" ->
        math.max(0.0, Clock.median(roundSeconds.result()) - noopCurateS)))
  }

  override def afterTimed(r: Report): Unit =
    exactSurvivors(spark.read.parquet(corpus)).select("doc_id")
      .write.mode("overwrite").parquet(cfg.dir("curate/exact_ids"))
}
