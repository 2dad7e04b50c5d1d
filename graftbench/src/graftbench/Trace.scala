package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftBenchBridge, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side totals of the tasks that ran under one job group. */
final case class TaskTotals(tasks: Long = 0, cpuNs: Long = 0,
                            shuffleBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: TaskTotals): TaskTotals = TaskTotals(tasks + o.tasks,
    cpuNs + o.cpuNs, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
}

/** Sums task metrics per job group. A task counts toward a group only if
  * its stage belongs to a job started under that group, so the work of any
  * other job in the session is never attributed to a span.
  */
final class GroupTaskListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, TaskTotals]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val t = TaskTotals(1, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
      totals.merge(g, t, (a, b) => a + b)
    }
  }

  def of(group: String): TaskTotals = totals.getOrDefault(group, TaskTotals())
}

/** Records, for every action of the session, the library functions in its
  * executed plan and the metrics its `observe` nodes reported. The names
  * back the pruning assertion (an action that dropped a layer's function
  * from its plan did not do that layer's work) and the drift check (spans
  * that run other library functions than the fused pass time code the
  * pipeline does not run). Events arrive through the listener bus, so every
  * method first waits until the bus has delivered those of the actions
  * already run.
  */
final class PlanRecorder(sc: SparkContext) extends QueryExecutionListener {
  private val names = ConcurrentHashMap.newKeySet[String]()
  private val observed = new ConcurrentHashMap[String, Row]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    names.addAll(PlanRecorder.graftNames(qe.executedPlan).asJava)
    qe.observedMetrics.foreach { case (k, v) => observed.put(k, v) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def drained[A](a: => A): A = { GraftBenchBridge.drainListeners(sc); a }

  def reset(): Unit = drained { names.clear(); observed.clear() }
  def forgetObserved(): Unit = drained(observed.clear())
  def seen: Set[String] = drained(names.asScala.toSet)
  def observedRow(name: String): Option[Row] = drained(Option(observed.get(name)))
}

object PlanRecorder extends AdaptiveSparkPlanHelper {
  /** Name under which `graftNames` reports the language-id UDF: the object
    * its closure is defined in.
    */
  val LangIdUdf = "graft.lang.LangId$"

  /** The library's own functions in the plan, through adaptive query stages
    * and subqueries: expressions defined under `graft.` by pretty name, and
    * Scala UDFs whose closure is defined there by UDF name, else by the
    * closure's enclosing class. Functions the library composes from Spark
    * built-ins do not show.
    */
  def graftNames(plan: SparkPlan): Seq[String] =
    collectWithSubqueries(plan) { case p => p }.flatMap(_.expressions).flatMap(_.collect {
      case u: ScalaUDF if isGraft(u.function.getClass) =>
        u.udfName.getOrElse(u.function.getClass.getName.split("\\$\\$Lambda").head)
      case e if isGraft(e.getClass) => e.prettyName
    })

  private def isGraft(c: Class[_]): Boolean = c.getName.startsWith("graft.")
}

/** One measured call: wall time, executor CPU of its job group, process
  * GC time, output rows and the group's shuffle and spill bytes.
  */
final case class SpanSample(wallS: Double, cpuS: Double, gcS: Double,
                            rowsOut: Long, tasks: Long, shuffleMb: Double,
                            spillMb: Double)

/** Runs named spans under their own job groups and keeps every sample in
  * memory until the run reports them.
  */
final class Tracer(spark: SparkSession) {
  private val listener = new GroupTaskListener
  spark.sparkContext.addSparkListener(listener)
  private var seq = 0
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, Vector[SpanSample]]

  /** Runs `body` (which returns the rows it produced) as span `name`. */
  def span(name: String)(body: => Long): SpanSample = {
    seq += 1
    val group = s"graftbench-$seq-$name"
    val sc = spark.sparkContext
    sc.setJobGroup(group, name)
    val gc0 = Tracer.gcMillis()
    val t0 = System.nanoTime()
    val rows = try body finally sc.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e9
    val gc = (Tracer.gcMillis() - gc0) / 1e3
    GraftBenchBridge.drainListeners(sc)
    val t = listener.of(group)
    val s = SpanSample(wall, t.cpuNs / 1e9, gc, rows, t.tasks,
      t.shuffleBytes / 1e6, t.spillBytes / 1e6)
    samples(name) = samples.getOrElse(name, Vector.empty) :+ s
    s
  }
}

/** The largest heap occupancy right after a collection since the last
  * `reset`, from the collectors' notifications: the memory the program
  * still holds when the collector has freed what it could, whatever size
  * the heap itself is given. `reset` starts from the occupancy at that
  * moment, so a window without a collection reads the live heap.
  */
final class HeapWatch {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var peak = 0L

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapWatch.this.synchronized { peak = math.max(peak, used) }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def reset(): Unit = synchronized {
    peak = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
  def peakMb: Double = {
    val p = synchronized { peak }
    p / 1048576.0
  }
}

object Tracer {
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Time the JIT compilers have spent compiling so far. */
  def jitS(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9
}
