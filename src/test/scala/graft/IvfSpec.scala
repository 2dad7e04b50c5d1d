package graft

import org.apache.spark.sql.functions._
import graft.similarity.{Ann, Ivf}

class IvfSpec extends SparkTestBase {
  import spark.implicits._

  // deterministic pseudo-random vectors, pure function of (id, d) —
  // same generator as AnnSpec
  private def vec(id: Int, dim: Int): Array[Float] =
    Array.tabulate(dim) { d =>
      var x = (id.toLong * 6364136223846793005L + d * 1442695040888963407L + 7L) | 1L
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      (x.toDouble / Long.MaxValue.toDouble).toFloat
    }

  // clustered corpus: 4 anchor directions, 50 points each = anchor + small
  // deterministic jitter — the regime IVF is built for
  private def clustered(id: Int, dim: Int = 16): Array[Float] = {
    val anchor = vec(1000 + (id % 4), dim)
    val jitter = vec(id, dim)
    anchor.zip(jitter).map { case (a, j) => a + 0.15f * j }
  }

  private lazy val corpus = (0 until 200)
    .map(i => (i.toLong, clustered(i))).toDF("vec_id", "embedding")

  test("k-means centroids are deterministic across runs") {
    val c1 = Ivf.kmeansCentroids(corpus, "vec_id", "embedding", k = 4, iters = 3)
    val c2 = Ivf.kmeansCentroids(corpus, "vec_id", "embedding", k = 4, iters = 3)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    assert(c1.length == 4 && c1.forall(_.length == 16))
  }

  test("full probe (nProbe = nList) equals brute-force exactly") {
    val queries = corpus.filter(col("vec_id") < 10)
    val brute = Ann.bruteForceTopK(corpus, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val ivf = Ivf.ivfTopK(corpus, queries, "vec_id", "embedding", k = 3,
      nList = 4, nProbe = 4, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(ivf == brute,
      s"full-probe IVF must equal exact search\nonly ivf: ${ivf -- brute}\nonly brute: ${brute -- ivf}")
  }

  test("partial probe recalls well on clustered data and bounds candidates") {
    val k = 5
    val queries = corpus.filter(col("vec_id") < 20)
    val brute = Ann.bruteForceTopK(corpus, queries, "vec_id", "embedding", k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ivf.ivfTopK(corpus, queries, "vec_id", "embedding", k,
      nList = 8, nProbe = 2, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    info(f"IVF recall@$k = $recall%.3f (nList=8, nProbe=2)")
    assert(recall >= 0.5, f"recall $recall%.3f too low for clustered data")
  }

  test("k-means centroids are partition-invariant (N vs 4N parallelism)") {
    // FP summation order differs across partition counts; the 1e-9
    // centroid rounding must absorb it or the same job at N and 4N
    // executors would disagree (the north-rule two-cluster-size run)
    val c2 = Ivf.kmeansCentroids(corpus.repartition(2), "vec_id", "embedding",
      k = 4, iters = 3)
    val c8 = Ivf.kmeansCentroids(corpus.repartition(8), "vec_id", "embedding",
      k = 4, iters = 3)
    assert(c2.map(_.toSeq).toSeq == c8.map(_.toSeq).toSeq)
  }

  test("auto sampling bounds the Lloyd training input by default") {
    // the modulus math: sample stays <= ~maxTrainSample in expectation
    assert(Ivf.trainingSampleMod(100L, 256 * 1024L) == 1)
    assert(Ivf.trainingSampleMod(256 * 1024L, 256 * 1024L) == 1)
    assert(Ivf.trainingSampleMod(256 * 1024L + 1, 256 * 1024L) == 2)
    assert(Ivf.trainingSampleMod(100L * 1000 * 1000 * 1000, 256 * 1024L) == 381470)
    // the auto path (sampleMod = 0) derives exactly that modulus: on this
    // 200-row corpus with a 64-vector ceiling it must equal an explicit
    // sampleMod = 4 run (ceil(200/64)), not the full-corpus run
    val auto = Ivf.kmeansCentroids(corpus, "vec_id", "embedding", k = 4,
      iters = 2, sampleMod = 0, maxTrainSample = 64L)
    val explicit = Ivf.kmeansCentroids(corpus, "vec_id", "embedding", k = 4,
      iters = 2, sampleMod = 4)
    assert(auto.map(_.toSeq).toSeq == explicit.map(_.toSeq).toSeq)
    val full = Ivf.kmeansCentroids(corpus, "vec_id", "embedding", k = 4,
      iters = 2, sampleMod = 1)
    assert(auto.map(_.toSeq).toSeq != full.map(_.toSeq).toSeq,
      "auto sampling should not have trained on the full corpus")
  }

  test("hash-sampled training still yields k cells and sane search") {
    val queries = corpus.filter(col("vec_id") < 5)
    val out = Ivf.ivfTopK(corpus, queries, "vec_id", "embedding", k = 3,
      nList = 4, nProbe = 4, iters = 2, sampleMod = 3)
      .collect()
    assert(out.length == 15) // 5 queries × top-3 (full probe → always k hits)
    assert(out.forall(_.getAs[Double]("cos") <= 1.000001))
  }
}
