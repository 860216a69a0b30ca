package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval: a call into a module, or a Spark job. Times are
  * milliseconds since the tracer started; `op` is the benchmark operation
  * the span belongs to (-1 outside any operation). */
final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int, op: Int)

/** Counters one operation caused, read from Spark's public listeners and
  * the engine's public timers. */
final class OpCounters {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var codegenClasses = 0L
  var codegenNs = 0L
  var firstJobMs = Double.NaN
  var jobBusyMs = 0.0
  /** Engine stage timers (core.Attribution) recorded during the op. */
  var attribution: Map[String, (Double, Int)] = Map.empty
}

/** The traced run's instrumentation. Installs a SparkListener and a
  * QueryExecutionListener, keeps spans in memory, and attributes every
  * listener event to the operation running when it was posted: the bus is
  * drained at each operation boundary, and only one operation runs at a
  * time (closed loop, one client). */
final class Tracer(spark: SparkSession) {
  private val t0 = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current: Option[(Int, OpCounters)] = None
  private var parent = -1
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def rel(ms: Long): Double = (ms - t0).toDouble

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      current.foreach { case (_, c) =>
        c.jobs += 1
        jobStart(e.jobId) = e.time
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { s =>
        jobIntervals += ((s, e.time))
        current.foreach { case (op, _) =>
          spans += Span(spans.size, s"spark.job.${e.jobId}", rel(s), rel(e.time),
            parent, op)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        current.foreach { case (_, c) =>
          val m = e.stageInfo.taskMetrics
          c.stages += 1
          c.tasks += e.stageInfo.numTasks
          if (m != null) {
            c.runMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            c.inputBytes += m.inputMetrics.bytesRead
            c.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      current.foreach { case (_, c) =>
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
      }
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private def codegen: (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  private def drain(): Unit =
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Runs `f` as operation `op`, returning its result and counters. The
    * bus is drained on both sides, outside the operation's own timing. */
  def around[A](op: Int, kind: String)(f: => A): (A, OpCounters) = {
    drain()
    val c = new OpCounters
    synchronized { current = Some(op -> c); jobIntervals.clear() }
    graft.core.Attribution.clear()
    val (cg0, cn0) = codegen
    val start = System.currentTimeMillis()
    val id = synchronized { parent = spans.size; parent }
    spans += Span(id, s"op.$kind", rel(start), Double.NaN, -1, op)
    val out = try f finally {
      val end = System.currentTimeMillis()
      drain()
      val (cg1, cn1) = codegen
      synchronized {
        spans(id) = spans(id).copy(end = rel(end))
        c.codegenClasses = cg1 - cg0
        c.codegenNs = cn1 - cn0
        val iv = jobIntervals.toSeq.map { case (s, e) =>
          (math.max(s, start), math.min(e, end)) }.filter(i => i._2 > i._1)
        c.firstJobMs = if (iv.isEmpty) Double.NaN
          else (iv.map(_._1).min - start).toDouble
        c.jobBusyMs = union(iv)
        c.attribution = Tracer.attribution()
        current = None
        parent = -1
      }
    }
    (out, c)
  }

  /** Times a call into one module as a child span of the current op. */
  def span[A](name: String, op: Int)(f: => A): (A, Double) = {
    val s = System.nanoTime()
    val startMs = System.currentTimeMillis()
    val out = f
    val ms = (System.nanoTime() - s) / 1e6
    synchronized {
      spans += Span(spans.size, name, rel(startMs), rel(startMs) + ms, parent, op)
    }
    (out, ms)
  }

  private def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) total += ce - cs
    total.toDouble
  }

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def spansJson: Seq[Map[String, Any]] = synchronized(spans.toSeq.map(s =>
    Map("id" -> s.id, "name" -> s.name, "start_ms" -> s.start,
      "end_ms" -> s.end, "parent" -> s.parent, "op" -> s.op)))
}

object Tracer {
  private val Entry = "\"([A-Za-z0-9_]+)\":([0-9.]+)".r

  /** The engine's stage timers as (seconds, count) per stage, parsed from
    * core.Attribution's public JSON snapshot. */
  def attribution(): Map[String, (Double, Int)] = {
    val kv = Entry.findAllMatchIn(graft.core.Attribution.snapshotJson())
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    kv.collect { case (k, v) if !k.endsWith("_n") || !kv.contains(k.stripSuffix("_n")) =>
      k -> (v, kv.get(k + "_n").map(_.toInt).getOrElse(1)) }
  }
}

/** Old-generation occupancy after the harness forces a full GC. Spark's
  * ContextCleaner frees broadcast and shuffle blocks only after the GC
  * that finds their handles unreachable, so a second GC follows a short
  * pause for the cleaner; one GC alone reads whatever it had not yet freed. */
object Heap {
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  def liveMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    oldGen.map(_.getUsage.getUsed).sum / 1048576.0
  }
}
