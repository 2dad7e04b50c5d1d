package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pipeline

/** The benchmark's own tests: each check must pass on the real output and
  * fail on a pruned plan or a changed output. Run with
  * `python3 graftbench/run.py --selftest`; exits non-zero if any case fails.
  */
object SelfTest {

  def main(argv: Array[String]): Unit = {
    val work = argv.sliding(2).collectFirst { case Array("--work", w) => w }
      .getOrElse(throw new IllegalArgumentException("missing --work"))
    val spark = Main.session(work, Runtime.getRuntime.availableProcessors())
    val recorder = new PlanRecorder(spark.sparkContext)
    spark.listenerManager.register(recorder)
    val ctx = Ctx(spark, work, seed = 7, cores = 2, recorder)

    def planSeen(action: => Unit): Set[String] = {
      recorder.reset()
      action
      recorder.seen
    }

    val raw = Layers.rawDocs(spark, ctx.seed, 300, 2).localCheckpoint()
    val scored = Pipeline.score(raw, spark).localCheckpoint()
    // the score workload's spans: each layer on its predecessor's checkpoint
    def layerNames(scrub: DataFrame => DataFrame) = planSeen(
      Seq[DataFrame => DataFrame](Layers.extract, Layers.lang, Layers.stats, Layers.score, scrub)
        .foldLeft(raw) { (in, layer) =>
          val out = layer(in)
          Checks.digest(out)
          out.localCheckpoint()
        })
    lazy val fusedNames = planSeen(Checks.digest(Pipeline.score(raw, spark)))
    def alter(df: DataFrame, c: String, to: org.apache.spark.sql.Column) =
      df.withColumn(c, when(col("url") === df.select(min("url")).head().getString(0), to)
        .otherwise(col(c)))

    val cases: Seq[(String, () => Boolean)] = Seq(
      "plan check passes on an all-column digest" -> (() =>
        Checks.planErrors(planSeen(Checks.digest(Pipeline.score(raw, spark)))).isEmpty),
      "plan check fails on a pruned count()" -> (() =>
        Checks.planErrors(planSeen(Pipeline.score(raw, spark).count())).nonEmpty),
      "plan check fails on count + sum(keep)" -> (() =>
        Checks.planErrors(planSeen(Pipeline.score(raw, spark)
          .agg(count(lit(1)), sum(when(col("keep"), 1L).otherwise(0L))).head())).nonEmpty),
      "drift check passes when the layers compose Pipeline.score" -> (() =>
        Checks.driftErrors(fusedNames, layerNames(Layers.scrub)).isEmpty),
      "drift check fails when a layer runs another function" -> (() =>
        Checks.driftErrors(fusedNames, layerNames(
          _.withColumn("scrubbed_text", call_function("graft_basic_clean", col("text"))))).nonEmpty),
      "oracle check passes on the pipeline output" -> (() =>
        Checks.oracleErrors(spark, raw, scored).isEmpty),
      "oracle check fails when one scrubbed text changes" -> (() =>
        Checks.oracleErrors(spark, raw,
          alter(scored, "scrubbed_text", lit("x"))).nonEmpty),
      "oracle check fails when one extracted text changes" -> (() =>
        Checks.oracleErrors(spark, raw, alter(scored, "text", lit("x"))).nonEmpty),
      "oracle check fails when keep labels flip" -> (() =>
        Checks.oracleErrors(spark, raw, scored.withColumn("keep", !col("keep"))).nonEmpty),
      "digest ignores row order and partitioning" -> (() =>
        Checks.digest(scored) == Checks.digest(scored.repartition(3).orderBy(col("url").desc))),
      "digest changes when one value changes" -> (() =>
        Checks.digest(scored) != Checks.digest(alter(scored, "ppl", lit(1.0)))),
      "digest changes when a row is lost" -> (() =>
        Checks.digest(scored) != Checks.digest(scored.limit(299))),
      "bucket check fails on a resumed score pass" -> { () =>
        val w = new ScoreWorkload(ctx)
        val input = ctx.path("selftest_input")
        raw.write.parquet(input)
        w.action(input, 0)
        val fresh = w.outputs(0)._2.isEmpty
        w.action(input, 0) // same directory: every bucket is already committed
        fresh && w.outputs(0)._2.nonEmpty
      })

    val failed = cases.filterNot { case (name, test) =>
      val ok = try test() catch { case e: Exception => println(s"  $name threw $e"); false }
      println(s"${if (ok) "PASS" else "FAIL"} $name")
      ok
    }
    spark.stop()
    println(s"${cases.size - failed.size}/${cases.size} self-test cases passed")
    if (failed.nonEmpty) sys.exit(1)
  }
}
