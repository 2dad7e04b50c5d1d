package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.fixtures.SynthCorpus
import graft.io.Manifest

/** Checkpoint/resume semantics (north_rule; BASELINE.md "resume cost:
  * re-run after kill recomputes 0 committed partitions").
  */
class ManifestSpec extends SparkTestBase {

  private def scoreFn(df: org.apache.spark.sql.DataFrame) =
    Pipeline.score(df, spark)
      .select("url", "lang", "overall_score", "keep")

  /** Every manifest row's n_rows / n_kept equal a read-back of the bucket
    * output it commits (`keep` counts on the score sink, every row on a
    * sink without one).
    */
  private def assertStatsMatchOutput(dir: String): Unit = {
    val m = spark.read.parquet(Manifest.manifestPath(dir))
      .select("bucket", "n_rows", "n_kept").collect()
    assert(m.nonEmpty)
    m.foreach { r =>
      val out = spark.read.parquet(Manifest.bucketPath(dir, r.getLong(0)))
      val kept = if (out.columns.contains("keep")) out.filter(col("keep")) else out
      assert((r.getLong(1), r.getLong(2)) == ((out.count(), kept.count())),
        s"bucket ${r.getLong(0)}: manifest (n_rows, n_kept) differs from its output")
    }
  }

  test("bucketed run commits all buckets; full re-run recomputes zero") {
    val dir = Files.createTempDirectory("graft_manifest").toString
    val input = SynthCorpus.docsRaw(spark, 200, 4).toDF()
    val first = Manifest.runBucketed(spark, input, dir, "url", 8)(scoreFn)
    assert(first == 8)
    val out = Manifest.readCommitted(spark, dir)
    assert(out.count() == 200)
    // idempotent re-run: nothing recomputed
    val second = Manifest.runBucketed(spark, input, dir, "url", 8)(scoreFn)
    assert(second == 0, "committed buckets were recomputed")
  }

  test("kill mid-run: resume completes only the missing buckets, output identical") {
    val dir = Files.createTempDirectory("graft_manifest_kill").toString
    val input = SynthCorpus.docsRaw(spark, 200, 4).toDF()

    // simulate a kill after 3 committed buckets
    var processed = 0
    intercept[RuntimeException] {
      Manifest.runBucketed(spark, input, dir, "url", 8) { df =>
        processed += 1
        if (processed > 3) throw new RuntimeException("simulated kill")
        scoreFn(df)
      }
    }
    val committed = Manifest.committedBuckets(spark, dir)
    assert(committed.size == 3, s"expected 3 committed, got $committed")

    // resume: only the remaining 5 run
    val resumed = Manifest.runBucketed(spark, input, dir, "url", 8)(scoreFn)
    assert(resumed == 5)

    // final output equals a clean one-shot run
    val out = Manifest.readCommitted(spark, dir)
      .select("url", "overall_score").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val clean = scoreFn(input).select("url", "overall_score").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == clean)
  }

  test("input is staged exactly once; resume reuses the staging layout") {
    val dir = Files.createTempDirectory("graft_manifest_stage").toString
    val input = SynthCorpus.docsRaw(spark, 100, 4).toDF()

    // kill after 1 bucket: staging must already be complete
    var processed = 0
    intercept[RuntimeException] {
      Manifest.runBucketed(spark, input, dir, "url", 4) { df =>
        processed += 1
        if (processed > 1) throw new RuntimeException("simulated kill")
        scoreFn(df)
      }
    }
    val marker = new java.io.File(s"${Manifest.stagingPath(dir)}/_SUCCESS")
    assert(marker.exists(), "staging layout missing after first run")
    val stagedAt = marker.lastModified()

    // resume: the staged layout is REUSED (single full-input pass total),
    // and each staged bucket directory holds exactly that bucket's rows
    assert(Manifest.runBucketed(spark, input, dir, "url", 4)(scoreFn) == 3)
    assert(marker.lastModified() == stagedAt, "resume re-staged the input")
    val totalStaged = spark.read.parquet(Manifest.stagingPath(dir)).count()
    assert(totalStaged == 100)
    assert(Manifest.readCommitted(spark, dir).count() == 100)
    (0 until 4).foreach { b =>
      val bDir = s"${Manifest.stagingPath(dir)}/__bucket=$b"
      val rows = spark.read.parquet(bDir)
      assert(rows.filter(pmod(xxhash64(col("url")), lit(4L)) =!= b).count() == 0,
        s"staged bucket $b holds another bucket's rows")
      assert(rows.count() == input.filter(pmod(xxhash64(col("url")), lit(4L)) === b).count())
    }
  }

  test("each bucket is staged as one file per core and processed on all cores") {
    val dir = Files.createTempDirectory("graft_manifest_cores").toString
    val cores = spark.sparkContext.defaultParallelism
    val input = SynthCorpus.docsRaw(spark, 200, 1).toDF()
    val partitions = scala.collection.mutable.Buffer.empty[Int]
    val n = Manifest.runBucketed(spark, input, dir, "url", 2) { df =>
      partitions += df.rdd.getNumPartitions
      scoreFn(df)
    }
    assert(n == 2)
    // ~100 rows a bucket: every core's shuffle partition holds rows of both
    // buckets, so each bucket directory has one file per core
    (0 until 2).foreach { b =>
      val files = new java.io.File(s"${Manifest.stagingPath(dir)}/__bucket=$b")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files == cores, s"bucket $b staged as $files files, not $cores")
    }
    assert(partitions == Seq(cores, cores),
      s"bucket process inputs had $partitions partitions, not $cores each")
  }

  test("resume with a different bucket count fails; the staged count completes the run") {
    val dir = Files.createTempDirectory("graft_manifest_count").toString
    val input = SynthCorpus.docsRaw(spark, 200, 4).toDF()
    var processed = 0
    intercept[RuntimeException] {
      Manifest.runBucketed(spark, input, dir, "url", 8) { df =>
        processed += 1
        if (processed > 3) throw new RuntimeException("simulated kill")
        scoreFn(df)
      }
    }
    assert(Manifest.committedBuckets(spark, dir) == Set(0L, 1L, 2L))

    // 4 buckets would re-map urls: buckets 0-2 are committed under the
    // 8-bucket layout, and bucket 3 alone would not hold the rest
    val e = intercept[IllegalArgumentException] {
      Manifest.runBucketed(spark, input, dir, "url", 4)(scoreFn)
    }
    assert(e.getMessage.contains("staged with 8 buckets"), e.getMessage)
    assert(Manifest.committedBuckets(spark, dir) == Set(0L, 1L, 2L))

    assert(Manifest.runBucketed(spark, input, dir, "url", 8)(scoreFn) == 5)
    assert(Manifest.readCommitted(spark, dir).count() == 200)

    // committed buckets beyond the requested count are refused as well
    val beyond = intercept[IllegalArgumentException] {
      Manifest.runBucketed(spark, input, dir, "url", 4)(scoreFn)
    }
    assert(beyond.getMessage.contains("beyond numBuckets = 4"), beyond.getMessage)
  }

  test("empty corpus commits every bucket with zero rows") {
    val dir = Files.createTempDirectory("graft_manifest_empty").toString
    val input = SynthCorpus.docsRaw(spark, 0, 4).toDF()
    assert(Manifest.runBucketed(spark, input, dir, "url", 4)(scoreFn) == 4)
    val m = spark.read.parquet(Manifest.manifestPath(dir))
    assert(m.count() == 4)
    assert(m.filter(col("n_rows") =!= 0L || col("n_kept") =!= 0L).count() == 0)
    val out = Manifest.readCommitted(spark, dir)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("url", "lang", "overall_score", "keep"))
    assert(Manifest.runBucketed(spark, input, dir, "url", 4)(scoreFn) == 0)
  }

  test("kill mid-run on a derive sink: resume recomputes zero committed buckets") {
    // the round-3 verdict's done-bar: runBucketed is generic, but only the
    // score path was kill-tested — drive the training-example DERIVE sink
    // (no `keep` column, exploded row counts) through the same protocol
    val dir = Files.createTempDirectory("graft_manifest_derive").toString
    val corpus = spark.read.parquet(
        graft.fixtures.SynthCorpus.materializedCorpus(spark))
      .withColumn("subject", lit("Physics"))
    def deriveFn(df: org.apache.spark.sql.DataFrame) =
      graft.derive.Derive.trainingExamples(df, "url", "text", "subject")
        .select("id", "url", "example_type", "problem_statement",
          "step_count", "quality_score")

    var processed = 0
    intercept[RuntimeException] {
      Manifest.runBucketed(spark, corpus, dir, "url", 4) { df =>
        processed += 1
        if (processed > 2) throw new RuntimeException("simulated kill")
        deriveFn(df)
      }
    }
    assert(Manifest.committedBuckets(spark, dir).size == 2)

    // resume: exactly the 2 missing buckets run — 0 recomputed
    var resumedCalls = 0
    val resumed = Manifest.runBucketed(spark, corpus, dir, "url", 4) { df =>
      resumedCalls += 1; deriveFn(df)
    }
    assert(resumed == 2 && resumedCalls == 2,
      s"resume recomputed committed buckets ($resumed, $resumedCalls)")

    // the union of bucket outputs equals a clean one-shot derive
    val out = Manifest.readCommitted(spark, dir)
      .select("id", "example_type", "problem_statement").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted
    val clean = deriveFn(corpus)
      .select("id", "example_type", "problem_statement").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted
    assert(out.length > 0 && out.sameElements(clean))

    // manifest metrics reflect the derive sink: n_rows = exploded examples
    val m = spark.read.parquet(Manifest.manifestPath(dir))
    assert(m.agg(sum("n_rows")).head().getLong(0) == clean.length)
    assertStatsMatchOutput(dir)
  }

  test("pendingRows anti-join filters committed buckets") {
    val dir = Files.createTempDirectory("graft_manifest_anti").toString
    val input = SynthCorpus.docsRaw(spark, 100, 4).toDF()
      .withColumn("bucket", pmod(xxhash64(col("url")), lit(4L)))
    // commit bucket 0 manually
    Manifest.commit(spark, dir, Manifest.BucketMeta(0L, 0L, 0L, 0L, 0L,
      new java.sql.Timestamp(0L)))
    val pending = Manifest.pendingRows(input, spark, dir, "bucket")
    assert(pending.filter(col("bucket") === 0L).count() == 0)
    assert(pending.count() == input.filter(col("bucket") =!= 0L).count())
  }

  test("manifest rows carry lineage and metrics") {
    val dir = Files.createTempDirectory("graft_manifest_meta").toString
    val input = SynthCorpus.docsRaw(spark, 50, 2).toDF()
    Manifest.runBucketed(spark, input, dir, "url", 2)(scoreFn)
    val m = spark.read.parquet(Manifest.manifestPath(dir))
    assert(m.count() == 2)
    val total = m.agg(sum("n_rows")).head().getLong(0)
    assert(total == 50)
    assert(m.filter(col("input_fingerprint") === 0L).count() == 0)
    assert(m.filter(col("duration_ms") < 0L).count() == 0)
    assertStatsMatchOutput(dir)
  }
}
