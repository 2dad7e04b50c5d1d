package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.curate.Curate
import graft.dedup.Dedup
import graft.derive.{BenchmarkBuilders, Derive, RlBuilder, UgBuilders}
import graft.io.Manifest
import graft.rules.Heuristics

/** Everything a workload needs from the run: the session, a private work
  * directory, the seed and the core count.
  */
final case class Ctx(spark: SparkSession, work: String, seed: Long, cores: Int,
                     recorder: PlanRecorder) {
  def path(name: String): String = new File(work, name).getAbsolutePath
}

/** One workload. The run calls `materialize` several times (set-up is timed
  * as the median), then `action` for every pass, timing only `action`;
  * `outputs` returns the digests the pass produced for the output check.
  */
abstract class Workload(val ctx: Ctx) {
  def name: String
  def docs: Long
  /** Why the benchmark runs this workload. */
  def why: String
  /** Writes this run's inputs, derived from the seed alone, under `dir`. */
  def materialize(dir: String): Unit
  /** The timed work of pass `k`, reading the input at `input`. */
  def action(input: String, k: Int): Unit
  /** Digests of what pass `k` produced, and errors found while producing it. */
  def outputs(k: Int): (Seq[(String, Digest)], Seq[String])
  /** Whether the scoring functions must all appear in the executed plan. */
  def scores: Boolean = true
  /** Checks made once per run against the reference pass 0; also returns
    * the workload profile.
    */
  def checkOnce(input: String, ref: Seq[(String, Digest)]): (Seq[String], Seq[(String, String)])
  /** Materializes each layer's input, then returns one closure per span. */
  def prepareTrace(input: String, counters: mutable.LinkedHashMap[String, Double],
                   ref: Seq[(String, Digest)], errors: mutable.Buffer[String]): Seq[(String, () => Long)]

  protected def spark: SparkSession = ctx.spark
  protected def read(dir: String): DataFrame = spark.read.parquet(dir)
  protected def checkpoint(df: DataFrame): DataFrame = df.localCheckpoint()

  protected def langMix(df: DataFrame): String =
    df.groupBy("lang").count().collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(",")

  def inputBytesOf(dir: String): Long =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum

  /** Near-duplicate pairs (MinHash, Jaccard >= 0.8) among the input's
    * extracted pages, for the workload profile.
    */
  def nearDupPairs(input: String): Long =
    Dedup.minhashPairs(Layers.extract(read(input)), "url", "text", threshold = 0.8).count()
}

object Workload {
  val Names: Seq[String] = Seq("score", "curate", "derive")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "score" => new ScoreWorkload(ctx)
    case "curate" => new CurateWorkload(ctx)
    case "derive" => new DeriveWorkload(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (${Names.mkString(" | ")})")
  }

  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}

/** Raw pages → `Pipeline.score` → every output column written through
  * `Manifest.runBucketed` into a fresh directory per pass.
  */
final class ScoreWorkload(ctx: Ctx) extends Workload(ctx) {
  val name = "score"
  val why = "the narrow, shuffle-free filter most users run: extract, lang, rules, " +
    "score, scrub and io do the work; dedup and derive stay idle"
  val docs = 1500L
  /** No program in the repo calls `runBucketed`, so no caller sets the
    * bucket count; its tests use 2, 4 and 8. The buckets are processed one
    * after the other, each as one job over one staged file, and every
    * bucket adds a fixed cost: at 1,200 pages on a 4-core VM a pass took
    * 4.1 s with 2 buckets and 6.5-7.5 s with 8 (traced `io.sink`: 2.3 s
    * against 4.7 s). 2 is the fewest that still stages, fingerprints and
    * commits more than one bucket, and it leaves per-page work, not
    * per-bucket cost, the larger part of a pass.
    */
  val buckets = 2

  private def outDir(k: Int) = ctx.path(s"score_out_$k")
  private val processed = mutable.Map.empty[Int, Int]

  def materialize(dir: String): Unit =
    Layers.rawDocs(spark, ctx.seed, docs, ctx.cores).write.parquet(dir)

  def action(input: String, k: Int): Unit =
    processed(k) = Manifest.runBucketed(spark, read(input), outDir(k), "url", buckets)(
      Pipeline.score(_, spark))

  def outputs(k: Int): (Seq[(String, Digest)], Seq[String]) = {
    val errs = if (processed(k) == buckets) Nil
      else Seq(s"pass $k processed ${processed(k)} of $buckets buckets")
    val d = Checks.digest(Manifest.readCommitted(spark, outDir(k)))
    if (k != 0) Workload.delete(new File(outDir(k)))
    (Seq("scored" -> d), errs)
  }

  def checkOnce(input: String, ref: Seq[(String, Digest)]): (Seq[String], Seq[(String, String)]) = {
    val scored = Manifest.readCommitted(spark, outDir(0))
    val errs = Checks.oracleErrors(spark, read(input), scored)
    val keep = scored.agg(avg(col("keep").cast("double"))).head().getDouble(0)
    val profile = Seq("lang_mix" -> langMix(scored), "keep_rate" -> f"$keep%.4f")
    (errs, profile)
  }

  def prepareTrace(input: String, counters: mutable.LinkedHashMap[String, Double],
                   ref: Seq[(String, Digest)], errors: mutable.Buffer[String]): Seq[(String, () => Long)] = {
    val raw = read(input)
    val rawCp = checkpoint(raw)
    val ext = checkpoint(Layers.extract(rawCp))
    val lng = checkpoint(Layers.lang(ext))
    val sts = checkpoint(Layers.stats(lng))
    val scd = checkpoint(Layers.score(sts))
    val scr = checkpoint(Layers.scrub(scd))
    counters("score.ppl_rows") = scd.filter(col("stage1_pass")).count().toDouble
    if (Checks.digest(scr) != ref.head._2)
      errors += "layer-by-layer composition differs from Pipeline.score output"
    var sink = 0
    Seq(
      "io.scan" -> (() => Checks.digest(raw).rows),
      "extract" -> (() => Checks.digest(Layers.extract(rawCp)).rows),
      "lang" -> (() => Checks.digest(Layers.lang(ext)).rows),
      "rules.stats" -> (() => Checks.digest(Layers.stats(lng)).rows),
      "score" -> (() => Checks.digest(Layers.score(sts)).rows),
      "scrub" -> (() => Checks.digest(Layers.scrub(scd)).rows),
      "io.sink" -> { () =>
        sink += 1
        val dir = ctx.path(s"trace_sink_$sink")
        val n = Manifest.runBucketed(spark, scr, dir, "url", buckets)(identity)
        if (n != buckets) errors += s"io.sink processed $n of $buckets buckets"
        val rows = read(Manifest.manifestPath(dir)).agg(sum("n_rows")).head().getLong(0)
        Workload.delete(new File(dir))
        rows
      })
  }
}

/** Raw pages → `Curate.full` (MinHash near-dup strategy, materialized
  * chain) with every output column consumed by the digest.
  */
final class CurateWorkload(ctx: Ctx) extends Workload(ctx) {
  val name = "curate"
  val why = "shuffles and the chain's checkpoints dominate: rules.gopher and dedup do " +
    "much of the work, and only survivors are scored and scrubbed"
  val docs = 1020L

  private val digests = mutable.Map.empty[Int, Digest]

  def materialize(dir: String): Unit =
    Layers.rawDocs(spark, ctx.seed, docs, ctx.cores).write.parquet(dir)

  def action(input: String, k: Int): Unit =
    digests(k) = Checks.digest(
      Curate.full(read(input), spark, strategy = "minhash", materialize = true))

  def outputs(k: Int): (Seq[(String, Digest)], Seq[String]) = (Seq("curated" -> digests(k)), Nil)

  private def log(ext: DataFrame): DataFrame =
    Curate.curationLog(ext, "url", "text", materialize = true, strategy = "minhash")

  private def stageCounts(logDf: DataFrame): Map[String, Long] =
    logDf.groupBy("stage").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Stage counts of the decision log must cover every input document and
    * keep exactly the documents the curated output holds.
    */
  private def stageErrors(counts: Map[String, Long], ref: Seq[(String, Digest)]): Seq[String] = {
    val kept = counts.getOrElse(Curate.StageKept, 0L)
    Seq(
      (counts.values.sum != docs) -> s"curation log covers ${counts.values.sum} of $docs docs",
      (kept != ref.head._2.rows) -> s"curation log keeps $kept docs, curated output ${ref.head._2.rows}"
    ).collect { case (true, m) => m }
  }

  def checkOnce(input: String, ref: Seq[(String, Digest)]): (Seq[String], Seq[(String, String)]) = {
    val ext = Layers.extract(read(input))
    val counts = stageCounts(log(ext))
    val profile = Seq(
      "lang_mix" -> langMix(Layers.lang(ext)),
      "keep_rate" -> f"${counts.getOrElse(Curate.StageKept, 0L).toDouble / docs}%.4f",
      "stages" -> counts.toSeq.sorted.map { case (s, n) => s"$s=$n" }.mkString(","))
    (stageErrors(counts, ref), profile)
  }

  def prepareTrace(input: String, counters: mutable.LinkedHashMap[String, Double],
                   ref: Seq[(String, Digest)], errors: mutable.Buffer[String]): Seq[(String, () => Long)] = {
    val raw = read(input)
    val rawCp = checkpoint(raw)
    val ext = checkpoint(Layers.extract(rawCp))
    def gopher(df: DataFrame) = df.select(col("url"), col("text"),
      Heuristics.gopherStats(col("text")).as("g"))
    val gopherKept = checkpoint(gopher(ext)
      .filter(coalesce(col("g.gopher_keep"), lit(false))).select("url", "text"))
    val exact = checkpoint(Dedup.exactSurvivors(gopherKept, "url", "text"))
    def pairsOf(df: DataFrame, t: Double) =
      Dedup.minhashPairs(df, "url", "text", threshold = t, materialize = true)
    val pairs = checkpoint(pairsOf(exact, 0.8))
    val logDf = checkpoint(log(ext))
    val counts = stageCounts(logDf)
    val survivors = checkpoint(ext.join(
      logDf.filter(col("stage") === Curate.StageKept).select("url"), Seq("url"), "left_semi"))
    val lng = checkpoint(Layers.lang(survivors))
    val sts = checkpoint(Layers.stats(lng))
    val scd = checkpoint(Layers.score(sts))
    if (Checks.digest(Layers.scrub(scd)) != ref.head._2)
      errors += "layer-by-layer composition differs from Curate.full output"

    counters("dedup.candidate_pairs") = pairsOf(exact, 0.0).count().toDouble
    counters("dedup.verified_pairs") = pairs.count().toDouble
    counters("curate.dropped_gopher") = counts.getOrElse(Curate.StageGopher, 0L).toDouble
    counters("curate.dropped_exact") = counts.getOrElse(Curate.StageExactDup, 0L).toDouble
    counters("curate.dropped_near") = counts.getOrElse(Curate.StageNearDup, 0L).toDouble
    counters("curate.kept") = counts.getOrElse(Curate.StageKept, 0L).toDouble
    counters("score.ppl_rows") = scd.filter(col("stage1_pass")).count().toDouble
    Seq(
      "io.scan" -> (() => Checks.digest(raw).rows),
      "extract" -> (() => Checks.digest(Layers.extract(rawCp)).rows),
      "rules.gopher" -> (() => Checks.digest(gopher(ext)).rows),
      "dedup.exact" -> (() => Checks.digest(Dedup.exactSurvivors(gopherKept, "url", "text")).rows),
      "dedup.minhash" -> { () =>
        ctx.recorder.forgetObserved()
        val rows = Checks.digest(pairsOf(exact, 0.8)).rows
        ctx.recorder.observedRow("minhash_bucket_cap") match {
          case Some(r) =>
            counters("dedup.capped_buckets") = r.getLong(0).toDouble
            counters("dedup.dropped_ids") = r.getLong(1).toDouble
          case None => errors += "minhash_bucket_cap metric not observed"
        }
        rows
      },
      "dedup.components" -> (() => Checks.digest(
        Dedup.connectedComponents(pairs, "id_a", "id_b")).rows),
      "curate.chain" -> (() => Checks.digest(log(ext)).rows),
      "lang" -> (() => Checks.digest(Layers.lang(survivors)).rows),
      "rules.stats" -> (() => Checks.digest(Layers.stats(lng)).rows),
      "score" -> (() => Checks.digest(Layers.score(sts)).rows),
      "scrub" -> (() => Checks.digest(Layers.scrub(scd)).rows))
  }
}

/** Pages scored once during set-up, then the eight derived-dataset
  * builders, each consumed by a digest over all of its output columns.
  * Builder inputs carry the subject, title and abstract columns the
  * declared queries give them.
  */
final class DeriveWorkload(ctx: Ctx) extends Workload(ctx) {
  val name = "derive"
  val why = "the eight derived-dataset builders, the largest module and per document " +
    "the most expensive; nothing else measures them"
  val docs = 300L
  override def scores: Boolean = false

  private val Title = "3 Pages. A Study of Planted Physics Fragments"
  private def mixedSubject(url: org.apache.spark.sql.Column) = element_at(
    array(lit("Classical Mechanics"), lit("Quantum Physics"), lit("Thermodynamics"),
      lit("Relativity and Gravity"), lit("High Energy Physics")),
    (pmod(xxhash64(url), lit(5L)) + 1).cast("int"))
  private val ScoredCols = Seq("url", "text", "sophistication", "avg_stage2",
    "recommendation", "overall_score", "keep", "issues")

  /** (span name, builder over the pre-scored input). */
  val builders: Seq[(String, DataFrame => DataFrame)] = {
    def corpus(s: DataFrame) = s.select("url", "text")
      .withColumn("subject", lit("Physics")).withColumn("title", lit(Title))
    def abstr(df: DataFrame) = df.withColumn("abstract", substring(col("text"), 1, 1200))
    Seq(
      "derive.training" -> (s => Derive.trainingExamples(corpus(s), "url", "text", "subject")),
      "derive.bench_v1" -> (s => Derive.benchmarkItems(abstr(corpus(s)), "url", "text",
        "subject", "title", "abstract")),
      "derive.bench_v2" -> (s => BenchmarkBuilders.benchmarkItemsV2(
        s.withColumn("subject", mixedSubject(col("url"))), "url", "text", "subject")),
      "derive.bench_v3" -> (s => BenchmarkBuilders.benchmarkItemsV3(
        s.withColumn("subject", mixedSubject(col("url"))), "url", "text", "subject")),
      "derive.rl_v2" -> (s => RlBuilder.rlTrainingExamples(corpus(s), "url", "text",
        "subject", "title")),
      "derive.rl_v3" -> (s => RlBuilder.rlTrainingExamplesV3(corpus(s), "url", "text",
        "subject", "title")),
      "derive.ug_bench" -> (s => UgBuilders.ugBenchmarkItems(abstr(s
        .withColumn("subject", lit("Quantum Physics")).withColumn("title", lit(Title))),
        "url", "text", "subject", "title", "abstract")),
      "derive.ug_train" -> (s => UgBuilders.ugTrainingExamples(corpus(s), "url", "text",
        "subject", "title")))
  }

  private val digests = mutable.Map.empty[Int, Seq[(String, Digest)]]

  /** Scores the raw pages and keeps the builders' input columns plus
    * `lang` for the workload profile.
    */
  def materialize(dir: String): Unit =
    Pipeline.score(Layers.rawDocs(spark, ctx.seed, docs, ctx.cores), spark)
      .select((ScoredCols :+ "lang").map(col): _*).write.parquet(dir)

  private def scored(input: String) = read(input).select(ScoredCols.map(col): _*)

  override def nearDupPairs(input: String): Long =
    Dedup.minhashPairs(scored(input), "url", "text", threshold = 0.8).count()

  def action(input: String, k: Int): Unit = {
    val s = scored(input)
    digests(k) = builders.map { case (n, b) => n -> Checks.digest(b(s)) }
  }

  def outputs(k: Int): (Seq[(String, Digest)], Seq[String]) = (digests(k), Nil)

  def checkOnce(input: String, ref: Seq[(String, Digest)]): (Seq[String], Seq[(String, String)]) = {
    val s = read(input)
    val keep = s.agg(avg(col("keep").cast("double"))).head().getDouble(0)
    val empty = ref.collect { case (n, d) if d.rows == 0 => s"$n produced no rows" }
    (empty, Seq("lang_mix" -> langMix(s), "keep_rate" -> f"$keep%.4f",
      "rows" -> ref.map { case (n, d) => s"$n=${d.rows}" }.mkString(",")))
  }

  def prepareTrace(input: String, counters: mutable.LinkedHashMap[String, Double],
                   ref: Seq[(String, Digest)], errors: mutable.Buffer[String]): Seq[(String, () => Long)] = {
    val s = checkpoint(scored(input))
    ("io.scan" -> (() => Checks.digest(scored(input)).rows)) +:
      builders.map { case (n, b) =>
        n -> { () =>
          val d = Checks.digest(b(s))
          if (!ref.contains(n -> d)) errors += s"$n traced output $d differs from the fused pass"
          d.rows
        }
      }
  }
}
