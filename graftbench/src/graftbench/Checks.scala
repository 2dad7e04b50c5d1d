package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.oracle.RefOracle

/** Row count plus an order-independent hash over every column of every
  * row. Computing it forces every output column, so it serves as the sink
  * of a timed action as well as its output check.
  */
final case class Digest(rows: Long, hash: BigDecimal) {
  override def toString: String = s"$rows/$hash"
}

object Checks {

  def digest(df: DataFrame): Digest = {
    val all = df.columns.toSeq.map(c => col(s"`$c`"))
    val r = df.agg(count(lit(1)), sum(xxhash64(all: _*).cast("decimal(38,0)"))).head()
    Digest(r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  /** The functions whose absence from an executed plan means a scoring
    * layer was pruned away: extraction, language id, the model and scrub.
    */
  val ScoringFunctions: Seq[String] =
    Seq("graft_extract_clean", PlanRecorder.LangIdUdf, "graft_perplexity", "pii_scrub")

  /** Error messages for every required function missing from `seen`. */
  def planErrors(seen: Set[String]): Seq[String] =
    ScoringFunctions.filterNot(seen).map(f => s"executed plan lacks $f (layer pruned)")

  /** Error messages when the traced spans ran other library functions than
    * the fused pass (both as [[PlanRecorder.graftNames]] reports them). The spans
    * re-create the pipeline's composition; once the pipeline runs a
    * different function with the same output, the digests still agree and
    * only this shows that the spans time code the pipeline no longer runs.
    */
  def driftErrors(fused: Set[String], spans: Set[String]): Seq[String] = {
    def list(s: Set[String]) = s.toSeq.sorted.mkString(", ")
    Seq(
      fused.isEmpty -> "no library function recorded in the fused pass",
      (spans -- fused).nonEmpty ->
        s"spans run library functions the fused pass does not: ${list(spans -- fused)}",
      (fused -- spans).nonEmpty ->
        s"the fused pass runs library functions no span runs: ${list(fused -- spans)}"
    ).collect { case (true, msg) => msg }
  }

  /** Compares scored output with the row-at-a-time reference oracle on the
    * same raw pages: keep/drop F1 must reach 0.99 and extracted and
    * scrubbed text must match byte for byte.
    */
  def oracleErrors(spark: SparkSession, raw: DataFrame, scored: DataFrame): Seq[String] = {
    import spark.implicits._
    val ref = raw.select("url", "html").as[(String, Array[Byte])]
      .map { case (u, h) => RefOracle.assess(u, h) }.toDF()
    def n(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    val r = ref.join(scored.select("url", "text", "scrubbed_text", "keep"), Seq("url"), "full_outer")
      .agg(
        n(col("keep") && col("ref_keep")),
        n(col("keep") && !col("ref_keep")),
        n(!col("keep") && col("ref_keep")),
        n(col("keep").isNull || col("ref_keep").isNull),
        n(!(col("text") <=> col("ref_text"))),
        n(!(col("scrubbed_text") <=> col("ref_scrubbed"))))
      .head()
    val Seq(tp, fp, fn, unmatched, textDiff, scrubDiff) = (0 until 6).map(r.getLong)
    val f1 = if (tp + fp + fn == 0) 1.0 else 2.0 * tp / (2 * tp + fp + fn)
    Seq(
      (unmatched > 0) -> s"$unmatched docs present on only one side of the oracle join",
      (tp == 0) -> "oracle check is vacuous: no document kept",
      (f1 < 0.99) -> f"keep/drop F1 $f1%.4f < 0.99 (tp=$tp fp=$fp fn=$fn)",
      (textDiff > 0) -> s"$textDiff extracted texts differ from the oracle",
      (scrubDiff > 0) -> s"$scrubDiff scrubbed texts differ from the oracle"
    ).collect { case (true, msg) => msg }
  }
}
