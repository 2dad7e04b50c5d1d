package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.fixtures.SynthCorpus
import graft.lang.LangId
import graft.rules.Heuristics
import graft.score.{Perplexity, Score, Stages}

/** The scoring pipeline cut at its layer boundaries: each function is one
  * layer's public calls, composed exactly as `Pipeline.score` composes them
  * with the default config. The traced run checks two things against the
  * fused pipeline: the composed layers yield the same digest, and their
  * plans run the same library functions (`Checks.driftErrors`: the
  * `graft_*` expressions, `pii_scrub` and the language-id UDF). A pipeline
  * that swaps one of those for another with the same output fails the
  * second check. A change confined to what the library builds from Spark
  * built-ins (the `Stages` and `Score` column expressions) with identical
  * output passes both, and these layers would go on timing the old form.
  */
object Layers {

  /** Lower bounds of the body-length bins of the synthetic corpus and the
    * share (in twelfths) of its documents that fall in each: the corpus
    * draws one of twelve target lengths per document, and bodies overshoot
    * their target by less than one sentence.
    */
  private val LengthBins: Seq[(Int, Int)] =
    Seq(0 -> 1, 1 -> 1, 250 -> 3, 450 -> 1, 700 -> 3, 1300 -> 1, 3000 -> 1, 10000 -> 1)

  def lengthBin(bodyLength: Int): Int = LengthBins.lastIndexWhere(bodyLength >= _._1)

  /** Whether a body is English prose rather than the corpus's junk-syllable
    * text: vowels make 30-45 % of the letters of its English bodies and
    * 5-25 % of the others, which are a fifth of the non-empty bodies.
    */
  def isEnglish(body: String): Boolean = {
    val letters = body.filter(_.isLetter)
    letters.nonEmpty && letters.count("aeiou".indexOf(_) >= 0) >= 0.25 * letters.length
  }

  /** Length bin and language of a body, as `2 * bin + (1 if English)`. */
  def stratum(body: String): Int = 2 * lengthBin(body.length) + (if (isEnglish(body)) 1 else 0)

  /** Pages per stratum in a draw of `n`: each bin's share of `n`, split
    * four to one between English and other bodies (empty bodies, bin 0,
    * are all "other").
    */
  private def quotas(n: Long): Seq[Long] = LengthBins.zipWithIndex.flatMap {
    case ((_, twelfths), 0) => Seq(twelfths * n / 12, 0L)
    case ((_, twelfths), _) => Seq(twelfths * n / 60, twelfths * n * 4 / 60)
  }

  /** Raw pages `(url, warc_ts, html)` drawn from index window
    * `[seed * 2^32, seed * 2^32 + 4n)` of the synthetic corpus: the first
    * pages of each stratum (length bin and language), up to its share of
    * `n`. A plain window of n pages would let the number of long English
    * pages, and with it the work of a run, swing from seed to seed at the
    * sizes the benchmark runs: by a quarter for the 20,000-character pages
    * alone. This stratified draw fixes the length and language mix and
    * leaves every other property of a page to the seed.
    */
  def rawDocs(spark: SparkSession, seed: Long, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    require(seed >= 0 && seed < (1L << 31), s"seed $seed outside [0, 2^31)")
    require(n % 60 == 0, s"doc count $n is not a multiple of 60")
    val base = seed << 32
    val quota = typedLit(quotas(n).toArray)
    val strata = spark.range(base, base + 4 * n, 1, parts)
      .map(i => (i, stratum(SynthCorpus.bodyFor(i)))).toDF("i", "stratum")
    strata.withColumn("rank", row_number().over(Window.partitionBy("stratum").orderBy("i")))
      .filter(col("rank") <= element_at(quota, col("stratum") + 1))
      .select("i").repartitionByRange(parts, col("i")).as[Long]
      .map(i => SynthCorpus.docFor(i)).toDF()
      .select("url", "warc_ts", "html")
  }

  def extract(raw: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(raw.sparkSession)
    raw.withColumn("text", call_function("graft_extract_clean", col("html"))).drop("html")
  }

  def lang(df: DataFrame): DataFrame =
    LangId.withLangNgram(df, "text", "lang", df.sparkSession)

  def stats(df: DataFrame): DataFrame =
    df.withColumn("__ts", call_function("graft_token_stats", col("text")))
      .withColumn("__pc", call_function("graft_pattern_counts", col("text")))
      .withColumn("stats", Heuristics.textStatsFused(col("text"), col("__ts"), col("__pc")))
      .drop("__ts", "__pc")
      .withColumn("eligible", Pipeline.eligible(col("text"), col("url"), Pipeline.Config().minTextLength))

  def score(df: DataFrame): DataFrame = {
    val dims = df
      .withColumn("sophistication", Stages.sophistication(col("stats.physics_density"),
        col("stats.equation_count"), col("stats.reference_count"), col("stats.word_count")))
      .withColumn("stage1_pass", col("eligible") && Stages.stage1Pass(col("sophistication")))
      .withColumn("ppl", when(col("stage1_pass"), call_function("graft_perplexity", col("text")))
        .otherwise(lit(Perplexity.MaxPpl)))
      .withColumn("dim_math_errors",
        Stages.dimMathErrors(col("stats.math_expressions"), col("stats.word_count")))
      .withColumn("dim_physics_assumptions", Stages.dimPhysicsAssumptions(col("text")))
      .withColumn("dim_logical_consistency", Stages.dimLogicalConsistency(col("ppl"), col("text")))
      .withColumn("dim_literature_integration",
        Stages.dimLiteratureIntegration(col("stats.reference_count"), col("text")))
      .withColumn("avg_stage2", Stages.avgStage2(col("dim_math_errors"),
        col("dim_physics_assumptions"), col("dim_logical_consistency"),
        col("dim_literature_integration")))
      .withColumn("issues", Stages.subtleIssues(col("dim_math_errors"),
        col("dim_physics_assumptions"), col("dim_logical_consistency"),
        col("dim_literature_integration")))
    dims
      .withColumn("recommendation",
        Stages.recommendation(col("stage1_pass"), col("sophistication"), col("avg_stage2")))
      .withColumn("overall_score", Score.overall(col("stage1_pass"), col("sophistication"),
        col("avg_stage2"), col("recommendation")))
      .withColumn("keep", col("overall_score") >= Pipeline.Config().keepThreshold)
  }

  def scrub(df: DataFrame): DataFrame =
    df.withColumn("scrubbed_text", call_function("pii_scrub", col("text")))
}
