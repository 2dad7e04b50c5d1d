package graft.io

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Checkpoint/resume with per-partition lineage + metrics (north_rule:
  * "checkpoints per-partition progress and lineage/metrics to a manifest
  * table so a killed spark-submit run resumes without recomputing finished
  * partitions"; SURVEY.md §2.9, §1.4).
  *
  * Sandbox note (SURVEY.md §7.4): no Iceberg runtime jar exists offline, so
  * the manifest is a plain append-only Parquet table whose semantics emulate
  * Iceberg's snapshot/manifest protocol: a bucket's output becomes visible
  * if and only if its manifest row exists (write output first, commit
  * manifest row second — a crash between the two leaves an orphan data dir
  * that is simply overwritten on retry). The API is directory-shaped so a
  * real Iceberg catalog slots in unchanged.
  *
  * The reference's only resume mechanism is the idempotent download skip
  * (scrapers/arxiv_scraper.py:178-181) — this module is its at-scale
  * generalization.
  */
object Manifest {

  final case class BucketMeta(
      bucket: Long,
      input_fingerprint: Long,
      n_rows: Long,
      n_kept: Long,
      duration_ms: Long,
      committed_at: Timestamp)

  def manifestPath(outDir: String): String = s"$outDir/_manifest"
  def bucketPath(outDir: String, bucket: Long): String = s"$outDir/bucket=$bucket"

  /** Buckets already committed (empty DataFrame if no manifest yet). */
  def committedBuckets(spark: SparkSession, outDir: String): Set[Long] = {
    val p = new java.io.File(manifestPath(outDir))
    if (!p.exists()) Set.empty
    else spark.read.parquet(manifestPath(outDir))
      .select("bucket").distinct().collect().map(_.getLong(0)).toSet
  }

  /** Resume anti-join form (SURVEY.md §2.8): rows whose bucket is not yet
    * committed. Used when the input is consumed as one Dataset; the
    * bucket-loop runner below is the spark-submit-shaped variant.
    */
  def pendingRows(input: DataFrame, spark: SparkSession, outDir: String,
                  bucketCol: String): DataFrame = {
    val p = new java.io.File(manifestPath(outDir))
    if (!p.exists()) input
    else {
      val committed = spark.read.parquet(manifestPath(outDir))
        .select(col("bucket").as(bucketCol)).distinct()
      input.join(broadcast(committed), Seq(bucketCol), "left_anti")
    }
  }

  /** Commit one bucket: write its manifest row (append — file-level atomic
    * on a local FS; an Iceberg manifest append in the real deployment).
    */
  def commit(spark: SparkSession, outDir: String, meta: BucketMeta): Unit = {
    import spark.implicits._
    Seq(meta).toDS().toDF()
      .write.mode(SaveMode.Append).parquet(manifestPath(outDir))
  }

  def stagingPath(outDir: String): String = s"$outDir/_staged"

  /** Resumable bucketed run: partition `input` by pmod(xxhash64(urlCol), n),
    * process each pending bucket with `process`, write its parquet dir, then
    * commit the manifest row (output-then-manifest ordering). Returns the
    * number of buckets actually processed (0 on a fully-resumed run).
    *
    * Scan discipline: the input is read exactly ONCE, hash-bucketed, and
    * staged as a parquet layout `partitionBy("__bucket")` after one
    * shuffle on `urlCol` into `defaultParallelism` partitions, so every
    * bucket directory holds one file per core (cores × numBuckets staged
    * files in all) and each bucket's job runs one task per core. All bucket
    * fingerprints come from ONE column-pruned pass over the staged urls.
    * Each per-bucket process job reads only its own bucket directory — the
    * total processing read is one logical pass over the data, independent
    * of numBuckets. The staged layout is read with the input's schema, so
    * an empty input (no staged data files) commits numBuckets empty
    * buckets instead of failing schema inference.
    *
    * Staging is itself resumable: a completed staging records its bucket
    * count in `_buckets` (written after parquet's `_SUCCESS`) and is reused
    * on resume, so a killed run re-stages only if the kill hit the staging.
    * A resume must use the staged bucket count — a different count would
    * re-map urls to buckets and silently drop or repeat rows — and is
    * rejected otherwise.
    *
    * Each bucket is one Spark job — a crash between buckets loses at most
    * one uncommitted bucket's work. Its `n_rows`/`n_kept` come from an
    * `Observation` on that same write, so no job reads the output back.
    */
  def runBucketed(spark: SparkSession, input: DataFrame, outDir: String,
                  urlCol: String, numBuckets: Int)
                 (process: DataFrame => DataFrame): Int = {
    val done = committedBuckets(spark, outDir)
    val beyond = done.filter(_ >= numBuckets).toSeq.sorted
    require(beyond.isEmpty, s"$outDir has committed buckets " +
      s"${beyond.mkString(",")} beyond numBuckets = $numBuckets")
    val todo = (0L until numBuckets.toLong).filterNot(done)
    if (todo.isEmpty) return 0

    // ---- pass 1 (the ONLY full-input scan): hash-bucket + stage ----
    val staged = stagingPath(outDir)
    val bucketsFile = Paths.get(staged, "_buckets")
    if (!Files.exists(bucketsFile)) {
      input
        .withColumn("__bucket", pmod(xxhash64(col(urlCol)), lit(numBuckets.toLong)))
        .repartition(spark.sparkContext.defaultParallelism, col(urlCol))
        .write.mode(SaveMode.Overwrite).partitionBy("__bucket").parquet(staged)
      Files.writeString(bucketsFile, numBuckets.toString)
    }
    val stagedBuckets = Files.readString(bucketsFile).toInt
    require(stagedBuckets == numBuckets,
      s"$staged was staged with $stagedBuckets buckets; resume with " +
        s"numBuckets = $stagedBuckets, not $numBuckets")
    // ---- pass 2 (url column only, all buckets in one job): fingerprints.
    // decimal accumulation: a plain sum of 64-bit hashes overflows under
    // ANSI mode; decimal(38) sum then mod keeps it exact and stable
    val fps = spark.read.schema(input.schema.add("__bucket", LongType)).parquet(staged)
      .groupBy(col("__bucket").as("b"))
      .agg(coalesce(
        pmod(sum(xxhash64(col(urlCol)).cast("decimal(38,0)")),
          lit(Long.MaxValue).cast("decimal(38,0)")).cast("long"),
        lit(0L)).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    var processed = 0
    todo.foreach { b =>
      val t0 = System.nanoTime()
      // read ONLY this bucket's directory (leaf-path read: no listing of the
      // other buckets, and exactly the input schema, no partition column)
      val bDir = s"$staged/__bucket=$b"
      val part =
        if (Files.exists(Paths.get(bDir))) spark.read.schema(input.schema).parquet(bDir)
        else spark.createDataFrame(java.util.List.of[Row](), input.schema)
      val out = process(part)
      // `keep` is the score sink's label; derived sinks (training examples,
      // benchmark items) have no such column — every written row counts
      val kept = if (out.columns.contains("keep")) when(col("keep"), 1) else lit(1)
      val stats = Observation()
      out.observe(stats, count(lit(1)).as("n"), count(kept).as("kept"))
        .write.mode(SaveMode.Overwrite).parquet(bucketPath(outDir, b))
      val n = stats.get
      commit(spark, outDir, BucketMeta(
        bucket = b,
        input_fingerprint = fps.getOrElse(b, 0L),
        n_rows = n("n").asInstanceOf[Long],
        n_kept = n("kept").asInstanceOf[Long],
        duration_ms = (System.nanoTime() - t0) / 1000000L,
        committed_at = new Timestamp(System.currentTimeMillis())))
      processed += 1
    }
    processed
  }

  /** Read the union of all committed bucket outputs. */
  def readCommitted(spark: SparkSession, outDir: String): DataFrame = {
    val done = committedBuckets(spark, outDir).toSeq.sorted
    require(done.nonEmpty, s"no committed buckets under $outDir")
    spark.read.parquet(done.map(bucketPath(outDir, _)): _*)
  }
}
