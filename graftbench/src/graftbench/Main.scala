package graftbench

import java.io.File

import scala.collection.mutable
import scala.io.Source
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. The last line of standard output is the
  * result object; the lines before it describe the host and the workload.
  */
object Main {

  /** Input materializations per run; set-up reports their median. */
  val SetupReps = 3
  val MinPasses = 2
  /** A run stops starting passes after this long, whatever `--seconds` says. */
  val MaxRunS = 140.0

  val Spans: Seq[String] = Seq("io.scan", "io.sink", "extract", "lang", "rules.stats",
    "score", "scrub", "rules.gopher", "dedup.exact", "dedup.minhash",
    "dedup.components", "curate.chain") ++ Builders
  lazy val Builders: Seq[String] = Seq("training", "bench_v1", "bench_v2", "bench_v3",
    "rl_v2", "rl_v3", "ug_bench", "ug_train").map("derive." + _)
  val ShuffleSpans: Set[String] =
    Set("io.sink", "dedup.exact", "dedup.minhash", "dedup.components", "curate.chain")
  val Counters: Seq[String] = Seq("score.ppl_rows", "dedup.candidate_pairs",
    "dedup.verified_pairs", "dedup.capped_buckets", "dedup.dropped_ids",
    "curate.dropped_gopher", "curate.dropped_exact", "curate.dropped_near", "curate.kept")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = get("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
    }
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toInt, trace, get("work"))
    require(Workload.Names.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  final case class PassResult(wallS: Double, cpuS: Double, jitS: Double, heapMb: Double,
                              outputs: Seq[(String, Digest)], errors: Seq[String])

  private lazy val heap = new HeapWatch

  /** Runs pass `k`. A full collection before it leaves the previous pass's
    * garbage out of both its time and its heap peak.
    */
  def runPass(w: Workload, input: String, k: Int): PassResult =
    try {
      System.gc()
      heap.reset()
      val c0 = Tracer.processCpuS()
      val j0 = Tracer.jitS()
      val t0 = System.nanoTime()
      w.action(input, k)
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = Tracer.processCpuS() - c0
      val jit = Tracer.jitS() - j0
      val heapMb = heap.peakMb
      val (outs, errs) = w.outputs(k)
      PassResult(wall, cpu, jit, heapMb, outs, errs)
    } catch {
      case NonFatal(e) =>
        PassResult(Double.NaN, Double.NaN, Double.NaN, Double.NaN, Nil, Seq(s"pass $k threw: $e"))
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parseArgs(argv)
    val host0 = Host.snapshot()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(a.work, cores)
    val recorder = new PlanRecorder(spark.sparkContext)
    spark.listenerManager.register(recorder)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, a.work, a.seed, cores, recorder)
    val w = Workload(a.workload, ctx)
    def elapsed = (System.nanoTime() - t0) / 1e9
    def phase(name: String): Unit = System.err.println(f"[graftbench] $name done at $elapsed%.1f s")

    val inputs = (0 until SetupReps).map(r => ctx.path(s"input_$r"))
    val materializeS = inputs.map(d => timeS(w.materialize(d)))
    inputs.tail.foreach(d => Workload.delete(new File(d)))
    val input = inputs.head
    phase("input materialization")

    // pass 0 warms the plans and hot paths up and is the reference every
    // measured pass must reproduce
    recorder.reset()
    val first = runPass(w, input, 0)
    val setupS = sessionS + median(materializeS) + first.wallS
    phase("warm-up")
    val ref = first.outputs
    val errors = mutable.Buffer.empty[String]
    errors ++= first.errors
    if (w.scores) errors ++= Checks.planErrors(recorder.seen)
    val fusedNames = recorder.seen
    if (ref.isEmpty) errors += "reference pass produced no output"
    val inputRows = spark.read.parquet(input).count()
    if (inputRows != w.docs) errors += s"input holds $inputRows docs, not ${w.docs}"

    val (attempted, failed, metrics): (Int, Int, Seq[(String, Double, String)]) =
      if (!a.trace) {
        val passes = mutable.Buffer.empty[PassResult]
        val deadline = elapsed + a.seconds
        var k = 1
        while (passes.size < MinPasses || (elapsed < deadline && elapsed < MaxRunS)) {
          passes += runPass(w, input, k)
          k += 1
        }
        val bad = passes.zipWithIndex.collect {
          case (p, i) if p.errors.nonEmpty || p.outputs != ref =>
            s"pass ${i + 1}: " + (p.errors ++
              (if (p.errors.isEmpty) Seq(s"output ${p.outputs} != reference $ref") else Nil))
              .mkString("; ")
        }
        errors ++= bad
        val ok = passes.size - bad.size
        val walls = passes.map(_.wallS).toSeq
        System.err.println(f"[graftbench] ${passes.size} passes, wall s: " +
          walls.map(x => f"$x%.3f").mkString(" "))
        println(s"""{"passes": ${passes.size}, "pass_wall_s": ${Json.arr(walls)}, """ +
          s""""pass_cpu_s": ${Json.arr(passes.map(_.cpuS).toSeq)}, """ +
          s""""pass_jit_s": ${Json.arr(passes.map(_.jitS).toSeq)}, """ +
          s""""pass_heap_mb": ${Json.arr(passes.map(_.heapMb).toSeq)}, "setup_parts_s": """ +
          s"""{"session": $sessionS, "materialize": ${Json.arr(materializeS)}, "warmup": ${first.wallS}}}""")
        (passes.size, bad.size, Seq(
          ("setup_s", setupS, "s"),
          ("docs_per_s", w.docs / median(walls), "docs/s"),
          ("cpu_ms_per_doc", median(passes.map(_.cpuS).toSeq) * 1000 / w.docs, "ms"),
          ("peak_heap_mb", median(passes.map(_.heapMb).toSeq), "MB"),
          ("ok_frac", ok.toDouble / passes.size, "ratio")))
      } else trace(w, input, ref, fusedNames, errors, a.seconds, elapsed)
    phase(if (a.trace) "tracing" else "measurement")

    val (checkErrs, profile) =
      try {
        val (errs, prof) = w.checkOnce(input, ref)
        (errs, if (a.trace) prof :+ ("near_dup_pairs" -> w.nearDupPairs(input).toString) else prof)
      } catch { case NonFatal(e) => (Seq(s"output check threw: $e"), Nil) }
    errors ++= checkErrs
    phase("output checks")

    val host = Host.snapshot()
    println(Json.obj(Seq(
      "workload" -> Json.str(w.name), "seed" -> a.seed.toString,
      "docs" -> w.docs.toString, "input_bytes" -> w.inputBytesOf(input).toString,
      "why" -> Json.str(w.why)) ++
      profile.map { case (k, v) => k -> Json.str(v) }))
    println(Json.obj(Seq("host" -> Json.obj(Seq(
      "cores" -> cores.toString,
      "steal_frac" -> Host.stealFrac(host0, host).toString,
      "load_avg" -> Json.str(Host.loadAvg()))))))
    errors.foreach(e => System.err.println(s"[graftbench] CHECK FAILED: $e"))
    spark.stop()
    println(Json.obj(Seq(
      "correct" -> errors.isEmpty.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
  }

  /** The traced run: every layer span of the workload, then one fused
    * pass under its own job group, repeated until `seconds` have passed
    * since tracing began (at least once). The first round's spans must run
    * the same library functions as the fused pass 0 (`fusedNames`).
    */
  def trace(w: Workload, input: String, ref: Seq[(String, Digest)], fusedNames: Set[String],
            errors: mutable.Buffer[String], seconds: Int,
            elapsed: => Double): (Int, Int, Seq[(String, Double, String)]) = {
    val tracer = new Tracer(w.ctx.spark)
    val deadline = elapsed + seconds
    val counters = mutable.LinkedHashMap.empty[String, Double]
    val spans =
      try w.prepareTrace(input, counters, ref, errors)
      catch { case NonFatal(e) => errors += s"trace preparation threw: $e"; Nil }
    var calls, bad, k = 0
    def call(name: String)(body: => Unit): Unit = {
      calls += 1
      try body
      catch { case NonFatal(e) => bad += 1; errors += s"span $name threw: $e" }
    }
    val recorder = w.ctx.recorder
    do {
      if (k == 0) recorder.reset()
      spans.foreach { case (n, f) => call(n)(tracer.span(n)(f())) }
      if (k == 0) errors ++= Checks.driftErrors(fusedNames, recorder.seen)
      k += 1
      call("fused") {
        tracer.span("fused") { w.action(input, k); w.docs }
        val (outs, errs) = w.outputs(k)
        errors ++= errs
        if (outs != ref) errors += s"fused pass $k output $outs != reference $ref"
      }
    } while (spans.nonEmpty && elapsed < deadline && elapsed < MaxRunS)

    def med(n: String, f: SpanSample => Double) =
      median(tracer.samples.getOrElse(n, Vector.empty).map(f))
    val perSpan = Spans.flatMap { n =>
      val base = Seq(
        (s"$n.wall_s", med(n, _.wallS), "s"),
        (s"$n.cpu_s", med(n, _.cpuS), "s"),
        (s"$n.gc_s", med(n, _.gcS), "s"),
        (s"$n.rows_out", tracer.samples.get(n).map(_.last.rowsOut.toDouble).getOrElse(0.0), "count"))
      val shuffle = if (ShuffleSpans(n)) Seq(
        (s"$n.shuffle_mb", med(n, _.shuffleMb), "MB"),
        (s"$n.spill_mb", med(n, _.spillMb), "MB")) else Nil
      base ++ shuffle
    }
    val tasks = Builders.map(b => (s"$b.tasks", med(b, _.tasks.toDouble), "count"))
    // curate.chain re-runs the dedup spans as one call; the other spans
    // partition the fused pass between them
    val spanCpu = Spans.filterNot(_ == "curate.chain").map(med(_, _.cpuS)).sum
    val fusedCpu = med("fused", _.cpuS)
    val reps = tracer.samples.get("fused").map(_.size).getOrElse(0)
    System.err.println(s"[graftbench] traced $reps repetitions of ${spans.size} spans")
    val overall = Seq(
      ("trace.span_cpu_s", spanCpu, "s"),
      ("trace.fused_cpu_s", fusedCpu, "s"),
      ("trace.fused_wall_s", med("fused", _.wallS), "s"),
      ("trace.overhead_frac", if (fusedCpu > 0) spanCpu / fusedCpu - 1 else 0.0, "ratio"))
    (calls, bad, perSpan ++ Counters.map(c => (c, counters.getOrElse(c, 0.0), "count")) ++
      tasks ++ overall)
  }
}

/** Host noise read from procfs: CPU steal share and load average. */
object Host {
  final case class Snap(steal: Long, total: Long)

  private def lines(path: String): Seq[String] =
    try { val s = Source.fromFile(path); try s.getLines().toList finally s.close() }
    catch { case NonFatal(_) => Nil }

  def snapshot(): Snap = lines("/proc/stat").headOption match {
    case Some(l) if l.startsWith("cpu ") =>
      val f = l.split("\\s+").drop(1).map(_.toLong)
      Snap(if (f.length > 7) f(7) else 0L, f.take(8).sum)
    case _ => Snap(0, 0)
  }

  def stealFrac(a: Snap, b: Snap): Double =
    if (b.total > a.total) (b.steal - a.steal).toDouble / (b.total - a.total) else 0.0

  def loadAvg(): String = lines("/proc/loadavg").headOption
    .map(_.split(" ").take(3).mkString(" ")).getOrElse("")
}

/** Just enough JSON for the result lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ", ", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
