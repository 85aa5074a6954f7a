package wlbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call into a layer. `unit` names the cycle, pass or request
  * the call belongs to; `parent` is the enclosing span's name. */
final case class Span(name: String, parent: String, unit: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** Per job-group counters gathered from Spark's own events. */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var planMs = 0.0
  var scanRows = 0L
  var recordsWritten = 0L
}

/** Span recorder plus the Spark listeners that attribute jobs, tasks,
  * shuffle, spill, memory, planning time, rows scanned and rows written
  * to the span that caused them. Every layer call runs under
  * `setJobGroup(<span name>)`, and the listeners key everything by that
  * group. With tracing off every method is a pass-through, so untraced
  * runs pay nothing for it. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val execPlan = new ConcurrentHashMap[Long, (Double, Long)]()
  private val groups = new ConcurrentHashMap[String, GroupStats]()

  private def stats(g: String): GroupStats =
    groups.computeIfAbsent(g, _ => new GroupStats)

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
        val s = stats(g)
        s.synchronized(s.jobs += 1)
        e.stageIds.foreach(id => stageGroup.put(id, g))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.get(e.stageId)
      val m = e.taskMetrics
      if (g != null && m != null) {
        val s = stats(g)
        s.synchronized {
          s.tasks += 1
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
          s.recordsWritten += m.outputMetrics.recordsWritten
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
      case s: SparkListenerSQLExecutionEnd =>
        // the event carries its QueryExecution for in-process listeners;
        // the accessor is Spark-internal, so it is reached reflectively
        val qe = try qeOf.invoke(s).asInstanceOf[QueryExecution]
          catch { case _: ReflectiveOperationException => null }
        if (qe != null) {
          val planMs = qe.tracker.phases.values.map(_.durationMs).sum
          val rows = try planWalk.scanRows(qe.executedPlan)
            catch { case _: Exception => 0L }
          execPlan.put(s.executionId, (planMs.toDouble, rows))
        }
      case _ =>
    }
  }

  private val qeOf = classOf[SparkListenerSQLExecutionEnd].getMethod("qe")

  private object planWalk extends AdaptiveSparkPlanHelper {
    def scanRows(p: SparkPlan): Long = collect(p) {
      case s: FileSourceScanExec =>
        s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
  }

  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Time `body` as span `name`; its Spark jobs are tagged with the
    * span name as job group. */
  def span[A](name: String, parent: String, unit: String)(body: => A): A =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      sc.setJobGroup(name, unit, interruptOnCancel = false)
      val t0 = Util.now()
      try body
      finally {
        spans.add(Span(name, parent, unit, t0, Util.now()))
        sc.clearJobGroup()
      }
    }

  /** Stops the listener; the counters gathered so far stay readable. */
  def detach(): Unit = if (enabled) {
    groupStats()
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Record an already-timed span (a root such as a cycle or request). */
  def record(s: Span): Unit = if (enabled) spans.add(s)

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Group counters with planning time and scanned rows folded in.
    * Waits briefly so the asynchronous listener buses drain. */
  private var folded: Option[Map[String, GroupStats]] = None

  def groupStats(): Map[String, GroupStats] = synchronized {
    folded.getOrElse { val g = fold(); folded = Some(g); g }
  }

  private def fold(): Map[String, GroupStats] = {
    if (enabled) Thread.sleep(1500)
    execPlan.asScala.foreach { case (id, (ms, rows)) =>
      Option(execGroup.get(id)).foreach { g =>
        val s = stats(g)
        s.synchronized { s.planMs += ms; s.scanRows += rows }
      }
    }
    execPlan.clear()
    groups.asScala.toMap
  }

  /** Self time per span name: duration minus the part covered by its
    * children (spans whose parent is that name and share its unit). */
  def selfTimes(): Map[String, Double] = {
    val all = allSpans
    val kids = all.groupBy(s => (s.parent, s.unit))
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = kids.getOrElse((s.name, s.unit), Nil)
          .filter(c => c.start >= s.start && c.end <= s.end).map(_.dur).sum
        s.dur - covered
      }.sum
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try allSpans.sortBy(_.start).foreach { s =>
      w.write(Util.json(Map("name" -> s.name, "parent" -> s.parent,
        "unit" -> s.unit, "start" -> s.start, "end" -> s.end)))
      w.newLine()
    } finally w.close()
  }
}

/** JVM-wide heap and GC figures over a measured interval. The heap
  * figure is the old generation's peak: with a fixed heap the young
  * generation fills to its size between collections whatever the
  * workload keeps, so only the old generation tracks retained data. */
final class JvmWatch {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))
  private var gc0 = 0L

  def start(): Unit = {
    oldGen.foreach(_.resetPeakUsage())
    gc0 = gcs.map(_.getCollectionTime).sum
  }
  def gcSeconds: Double = (gcs.map(_.getCollectionTime).sum - gc0) / 1000.0
  def peakHeapMb: Double =
    oldGen.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
