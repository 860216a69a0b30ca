package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One timed operation: what it was, how long the call took, and whether
  * its output passed the check against the generator's ground truth. */
final case class Op(idx: Int, kind: String, ms: Double, error: Option[String],
    inRows: Long, inBytes: Long, pipeline: Boolean,
    counters: Option[OpCounters], extra: Map[String, Double])

/** The benchmark's JVM side: builds the session, runs one workload in a
  * closed loop with one client for the requested seconds, checks every
  * operation's output, and prints the run report followed by the result
  * line. Arguments: --workload --seed --seconds --trace --data --work --report. */
object Main {
  val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  val nproc: Int = Runtime.getRuntime.availableProcessors

  private val started = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1f s: $what")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val data = Paths.get(a("data")).toAbsolutePath
    val work = Paths.get(a("work")).toAbsolutePath
    val steal0 = stealTicks()
    val truth = mapper.readTree(data.resolve("truth.json").toFile)
    val wl: Workload = workload match {
      case "ingest" => new Ingest(data, work, truth)
      case "table_upsert" => new TableUpsert(data, work, truth)
      case "curate" => new Curate(data, work, truth)
    }

    // set-up, measured five times in fresh sessions; the last one stays
    var spark: SparkSession = null
    val setups = (1 to 5).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(work)
      graft.ext.GraftFunctions.register(spark)
      wl.warm(spark, work.resolve(s"warm$i"))
      (System.nanoTime() - t0) / 1e9
    }
    phase("set-up done")
    wl.prepare(spark)
    phase("prepared")
    wl.prime(spark, work.resolve("prime"))
    phase("primed")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val baseline = spark.sparkContext.getPersistentRDDs.size
    val ops = mutable.ArrayBuffer.empty[Op]
    var leakedMax = 0
    var heapPeakMb = 0.0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // closed loop: the next operation starts when the previous returned.
    // The run measures whole cycles of the workload's operation mix (one
    // operation on ingest and curate): as many as fit in --seconds at the
    // workload's nominal cycle time, so every run of a workload measures
    // the same work on a fast and on a slow host. A count that followed
    // the clock would move the median, because the first timed cycles run
    // slower than later ones. The traced run also covers its counter window
    val cycles = math.max(1, (seconds / wl.cycleSeconds).toInt)
    val cycleMs = mutable.ArrayBuffer.empty[Double]
    var cycleFrom = 0
    def more = cycleMs.size < cycles || ops.size < wl.minOps(trace) || !wl.atBoundary
    while (wl.hasNext && more) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val op0 = wl.next(spark, tracer)
      val leaked = newPersistentRdds(spark, before)
      leakedMax = math.max(leakedMax, spark.sparkContext.getPersistentRDDs.size - baseline)
      ops += (if (leaked.isEmpty || op0.error.nonEmpty) op0
        else op0.copy(error = Some(s"${leaked.size} cached RDDs left behind: " +
          leaked.mkString("; "))))
      if (wl.atBoundary) {
        cycleMs += ops.drop(cycleFrom).filter(_.pipeline).map(_.ms).sum
        cycleFrom = ops.size
        heapPeakMb = math.max(heapPeakMb, Heap.liveMb())
      }
    }
    val measured = elapsed
    val bytesWritten = wl.bytesWritten
    phase(s"measured ${ops.size} operations")
    tracer.foreach(_.close())
    val stealS = (stealTicks() - steal0) / 100.0

    // checked operations: the timed ones and those of a priming pass
    val checked = wl.primed.toSeq ++ ops
    val failed = checked.count(_.error.nonEmpty)
    val timed = ops.filter(_.pipeline)
    val e2e = Map(
      "setup_s" -> median(setups),
      "run_s_p50" -> median(cycleMs) / 1000,
      "rows_per_s" -> timed.map(_.inRows).sum / (timed.map(_.ms).sum / 1000),
      "write_amp" -> bytesWritten.toDouble / timed.map(_.inBytes).sum,
      "heap_peak_mb" -> heapPeakMb)
    val layer = tracer.map(_ => Layers.metrics(wl, ops.toSeq, leakedMax))
    val units = Map("setup_s" -> "s", "run_s_p50" -> "s", "rows_per_s" -> "rows/s",
      "write_amp" -> "ratio", "heap_peak_mb" -> "MB")

    val outDir = Paths.get(a("report")).toAbsolutePath
    Files.createDirectories(outDir)
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "fields" -> Map("steal_s" -> stealS, "nproc" -> nproc,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "seed" -> seed, "measured_s" -> measured,
        "spark" -> spark.version),
      "end_to_end" -> e2e,
      "end_to_end_samples" -> Map("setup_s" -> setups.size, "run_s_p50" -> cycleMs.size,
        "rows_per_s" -> timed.size, "write_amp" -> timed.size, "heap_peak_mb" -> cycleMs.size),
      "workload_metrics" -> wl.namedMetrics(ops.toSeq, heapPeakMb),
      "failed_frac" -> failed.toDouble / checked.size,
      "primed_ops" -> wl.primed.size,
      "setup_samples_s" -> setups,
      "cycle_s" -> cycleMs.map(_ / 1000),
      "ops" -> ops.groupBy(_.kind).map { case (k, v) =>
        k -> Map("n" -> v.size, "failed" -> v.count(_.error.nonEmpty),
          "ms_p50" -> median(v.map(_.ms)), "ms" -> v.map(_.ms)) },
      "errors" -> checked.flatMap(o => o.error.map(e => s"${o.kind}#${o.idx}: $e")).take(20))
    layer.foreach { l =>
      report("per_layer") = l
      report("per_op_type") = Layers.perOpType(ops.toSeq.take(wl.minOps(trace = true)))
      val spanFile = outDir.resolve(s"spans-$workload-$seed.json")
      mapper.writeValue(spanFile.toFile, tracer.get.spansJson)
      report("span_file") = spanFile.toString
      // overhead = traced end-to-end numbers minus the latest untraced run's
      val base = outDir.resolve(s"untraced-$workload.json")
      report("tracing_overhead") =
        if (!Files.exists(base)) "no untraced run of this workload yet"
        else {
          val u = mapper.readTree(base.toFile)
          e2e.map { case (k, v) => k -> (v - u.get(k).asDouble) } ++
            Map("untraced_seed" -> u.get("seed").asDouble)
        }
    }
    if (!trace) mapper.writeValue(outDir.resolve(s"untraced-$workload.json").toFile,
      e2e ++ Map("seed" -> seed.toDouble))
    mapper.writeValue(outDir.resolve(s"report-$workload-$seed-$trace.json").toFile, report)
    phase("reported")
    println("REPORT " + mapper.writeValueAsString(report))
    val metrics = (if (trace) layer.get else e2e).map { case (k, v) =>
      k -> Map("value" -> v, "unit" -> Layers.units.getOrElse(k, units(k))) }
    println(mapper.writeValueAsString(mutable.LinkedHashMap(
      "correct" -> (failed == 0), "attempted" -> checked.size, "failed" -> failed,
      "metrics" -> metrics)))
    spark.stop()
  }

  /** Persistent RDDs created since `before` that are still reachable:
    * the registry holds RDDs weakly, so unreachable ones are collected
    * first and only live ones count as left behind. */
  def newPersistentRdds(spark: SparkSession, before: collection.Set[Int]): Seq[String] = {
    def fresh = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
    if (fresh.isEmpty) Nil
    else {
      System.gc()
      fresh.values.toSeq.map(r => s"${r.id} ${r.getStorageLevel.description} " +
        r.toDebugString.linesIterator.take(3).map(_.trim).mkString(" / "))
    }
  }

  def session(work: Path): SparkSession = SparkSession.builder()
    .master(s"local[$nproc]")
    .config("spark.sql.shuffle.partitions", nproc.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()

  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: collection.Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else xs.sorted.apply(math.max(0, math.ceil(p * xs.size).toInt - 1))

  /** /proc/stat steal ticks (USER_HZ = 100); 0 where absent. */
  def stealTicks(): Long = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+")(8).toLong)
      .getOrElse(0L)
    finally src.close()
  }.getOrElse(0L)

  /** Bytes of all regular files under `p` (0 when absent). */
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p))(_.iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum)

  def files(p: Path): Map[Path, Long] =
    if (!Files.exists(p)) Map.empty
    else scala.util.Using.resource(Files.walk(p))(_.iterator().asScala
      .filter(Files.isRegularFile(_)).map(f => f -> Files.size(f)).toMap)
}
